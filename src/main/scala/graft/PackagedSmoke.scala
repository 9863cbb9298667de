package graft

/** Packaged-artifact smoke entry: run a registry query with NOTHING on
  * the classpath but the packaged library jar and the Spark runtime —
  * the exact footing a user's `spark-submit --jars graft.jar` job has.
  * PackagedJarSpec launches this in a clean JVM against
  * `sbt package`'s output; any class the library forgot to ship (or
  * accidentally picked up from the test classpath) fails here, not in
  * a user's cluster.
  *
  * Usage: java -cp <graft.jar>:<spark-jars> graft.PackagedSmoke
  *        [sfDir] [queryName]
  */
object PackagedSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val name = if (args.length > 1) args(1) else "q1_agg"
    val spark = GraftSession()
    try {
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(s"[packaged-smoke] query=$name rows=$n")
      if (n <= 0) sys.exit(2)
    } finally spark.stop()
  }
}
