package graft

import graft.queries._

/** The judge-facing query inventory: one entry per implemented operator
  * (SURVEY §2 + north-star extensions), each with a DuckDB oracle where the
  * semantics are SQL-expressible.
  *
  * Conventions (driver hash-compare safety):
  *  - every column aliased identically in Spark and SQL;
  *  - timestamps emitted as epoch-seconds BIGINT (integer round-trips
  *    engine-to-engine bit-exactly, minute-aligned timestamps may not);
  *  - double aggregates rounded (2 dp for large sums, 4–6 dp otherwise);
  *  - DuckDB `sum(BIGINT)` returns HUGEINT → always CAST sums explicitly;
  *  - Spark int-typed scalars cast to long (DuckDB scalar fns yield BIGINT);
  *  - deterministic sets only: ties broken by a unique key before any limit.
  */
object Queries {
  val all: Map[String, Q] =
    EventQueries.all ++ RelationalQueries.all ++ TextQueries.all ++
      SimilarityQueries.all ++ StreamingQueries.all ++ MultimodalQueries.all ++
      AdvancedQueries.all ++ SqlQueries.all ++ SourceQueries.all ++
      LineQueries.all ++ CorpusStatsQueries.all ++ MaintenanceQueries.all ++
      AnalyticsQueries.all ++ SetSimilarityQueries.all

  val oracles: Map[String, String] =
    EventQueries.oracles ++ RelationalQueries.oracles ++
      TextQueries.oracles ++ SimilarityQueries.oracles ++
      StreamingQueries.oracles ++ MultimodalQueries.oracles ++
      AdvancedQueries.oracles ++ SqlQueries.oracles ++ SourceQueries.oracles ++
      LineQueries.oracles ++ CorpusStatsQueries.oracles ++
      MaintenanceQueries.oracles ++ AnalyticsQueries.oracles ++
      SetSimilarityQueries.oracles

  /** The registry names a user selected, in the given order. An empty
    * selection or an unknown name fails loudly: a silent empty selection
    * makes Bench print a 0-second line and Verify an empty oracle file, and
    * both read downstream as a clean pass. `source` names the selection in
    * the error. */
  def select(names: Seq[String], source: String): Seq[String] = {
    require(names.nonEmpty, s"$source selects no queries")
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"$source names queries not in registry: ${unknown.mkString(", ")}")
    names.distinct
  }

  /** `SPARK_GRAFT_ONLY=a,b,c` restricts Bench and Verify to the named
    * queries (local iteration on a hotspot); None, the whole registry, when
    * unset. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(parseOnly)

  def parseOnly(raw: String): Seq[String] =
    select(raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq, "SPARK_GRAFT_ONLY")
}
