package graft

class InspectSpec extends SparkSpec {
  import spark.implicits._

  test("writePlan captures the AQE-final plan (isFinalPlan=true)") {
    // a shuffle-bearing query so AQE wraps the plan and re-plans at runtime
    val df = spark.read.parquet(s"$sf001/lineitem.parquet")
      .groupBy($"l_returnflag").count()
    val plan = Inspect.writePlan(spark)(Bench.noop(df))
    assert(plan.contains("isFinalPlan=true"),
      s"captured plan is not AQE-final:\n$plan")
    // and the naive capture — the DataFrame's own never-executed
    // QueryExecution — still shows the pre-execution estimate, i.e. the
    // bug the listener capture exists to avoid
    val naive = df.queryExecution.executedPlan.toString
    assert(naive.contains("isFinalPlan=false"),
      "naive df.queryExecution capture unexpectedly final — revisit Inspect.writePlan's doc")
  }

  test("busy time is the union of job intervals: overlapping, nested, disjoint") {
    assert(Inspect.busy(Seq((0L, 10L), (5L, 15L))) == 15)  // overlapping
    assert(Inspect.busy(Seq((0L, 10L), (2L, 5L))) == 10)   // nested
    assert(Inspect.busy(Seq((5L, 7L), (0L, 2L))) == 4)     // disjoint, unsorted
    assert(Inspect.busy(Seq((0L, 4L), (4L, 6L))) == 6)     // touching
    assert(Inspect.busy(Seq((3L, 3L), (5L, 1L))) == 0)     // empty
    assert(Inspect.busy(Nil) == 0)
  }
}
