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

  test("a plan dump prints each distinct cached plan once and refers back to it") {
    import org.apache.spark.sql.functions.sum
    // an adaptive plan inside the cache: its sections print out of line
    val c = spark.range(1000).selectExpr("id % 7 as k", "id as v")
      .groupBy("k").agg(sum("v").as("v")).cache()
    try {
      c.count()
      val j = c.join(c.groupBy("k").count(), "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      val deduped = Bench.dedupCachedPlans(j.queryExecution.executedPlan)
      def count(s: String, what: String) = s.linesIterator.count(_.contains(what))
      // two scans, in the final and in the initial plan
      val scans = count(plan, "InMemoryRelation")
      assert(scans == 4 && count(deduped, "InMemoryRelation") == scans)
      assert(count(plan, "Range (0, 1000") == scans * count(deduped, "Range (0, 1000"))
      assert(count(deduped, "Range (0, 1000") > 0)
      assert(count(deduped, "[cached plan #1]") == 1)
      assert(count(deduped, "[cached plan #1, printed above]") == scans - 1)
      // everything outside the repeated copy is kept, in order
      val kept = plan.linesIterator.toSet
      assert(deduped.linesIterator.filterNot(_.contains("InMemoryRelation"))
        .forall(kept.contains))
      val uncached = spark.range(3).selectExpr("id + 1").queryExecution.executedPlan
      assert(Bench.dedupCachedPlans(uncached) == uncached.toString)
    } finally c.unpersist(blocking = true)
  }
}
