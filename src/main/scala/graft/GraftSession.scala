package graft

import org.apache.spark.sql.SparkSession

/** The one local session every dev main and the test base share, so an
  * audited plan, a timed plan and a tested plan come from the same config.
  *
  * `UniqueUsersApp` keeps its own builder: under `spark-submit` the cluster
  * owns master and parallelism, and `shuffle.partitions = cpus` would be
  * wrong there.
  */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS` if set, else the host's cores. */
  private val cpus: Int = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors)(_.trim.toInt)
    require(n >= 1, s"SPARK_GRAFT_CPUS must be >= 1, got $n")
    n
  }

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // zstd shuffle/spill compression: the exact-verify joins
      // (prefix_filter_jaccard at 1000× docs) retain ~2× more shuffle
      // bytes than lz4 allows on this disk; zstd-1 halves the footprint
      // for negligible CPU — the right default for spill-heavy exact ops
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
