package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/** Deployment-shape probe for the cell-bounded ANN/dedup operators.
  *
  * The GATES pin the coarse quantizer at K = 8 so the DuckDB oracle can
  * replay training — which makes candidate volume grow ∝ n²/K across
  * the synthetic scale-ups (SCALING.md documents the effect). This main
  * measures the same operators at the K ∝ √n the scale rule prescribes,
  * so the rule is evidence, not assertion:
  *
  *   runMain graft.ScaleProbe <sfDir> <K> [tau=0.95]
  *
  * trains K centroids (one Lloyd round from the first-K init, exactly the
  * gate's contract), then times `semanticDedup` and `ivfPqKnn` end-to-end
  * (index build + search) over the dir's embeddings, printing one line
  * per operator: rows and wall seconds.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <K> [tau]")
    val dir = args(0)
    val k   = args(1).toInt
    val tau = if (args.length > 2) args(2).toDouble else 0.95
    val spark = GraftSession()

    val c = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val init = c.filter(col("id") < k)
      .select(col("id").as("cent_id"), col("vec").as("cvec"))

    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      println(f"[probe] $label rows=$rows sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }

    timed(s"semantic_dedup K=$k tau=$tau") {
      VectorOps.semanticDedup(c, VectorOps.kmeans(c, init, 1), tau).count()
    }
    timed(s"ivfpq_knn K=$k") {
      val cents = VectorOps.kmeans(c, init, 1)
      val books = VectorOps.pqTrain(c, 8, 8, 16, 1)
      VectorOps.ivfPqKnn(c, cents, books, col("id") % 50 === 0, 5, 2, 8, 8).count()
    }
    spark.stop()
  }
}
