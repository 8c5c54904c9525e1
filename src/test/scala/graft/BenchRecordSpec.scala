package graft

/** Bench's per-query record on two registry queries at sf0.001: the
  * timing loop of `Bench.main` run as a function, with its listener on. */
class BenchRecordSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("q03_join_dims", "q213_containment_reps")

  test("each query's record holds its cold rep and the min rep's jobs, stages, tasks and driver share") {
    val runs = Bench.timeQueries(spark, sf, names, reps = 2)
    assert(runs.map(_.name) == names)
    runs.foreach { r =>
      assert(!r.timing.failed, r.name)
      assert(r.timing.coldSecs >= r.timing.minSecs, r.name)
      assert(r.jobs >= 1 && r.stages.nonEmpty && r.tasks >= 1, r.name)
      assert(r.driverShare >= 0.0 && r.driverShare <= 1.0, r.name)
      assert(r.plan.isEmpty, "plans only when asked for")
    }
    // q213 shuffles (candidate joins); its bytes reach the record
    assert(runs(1).stages.map(_.shuffleWrite).sum > 0)
    assert(runs.forall(r => r.layersJson.contains("\"driver_share\":")))
  }

  test("a query that throws is counted in errors, and explain keeps the timed count's plan") {
    val bad = Bench.timeQueries(spark, "/nonexistent-sf-dir", names.take(1),
      reps = 2)
    assert(bad.filter(_.timing.failed).map(_.name) == names.take(1))
    val explained = Bench.timeQueries(spark, sf, names.take(1), reps = 1,
      explain = true)
    val plan = explained.head.plan.getOrElse(fail("no plan recorded"))
    // the count's own final plan: its aggregate over the query, post-AQE
    assert(plan.contains("AdaptiveSparkPlan") && plan.contains("isFinalPlan=true"))
    assert(plan.contains("HashAggregate"))
  }
}
