package graft.relational

import org.apache.spark.sql.functions._

/** q200's degenerate and envelope cases on its one plan: a type with
  * n < 9 emits no row, and the k-arithmetic guard rides the per-type
  * count frame (ScaleGuardSpec drives it on both sides of its bound). */
class ConformalRouteSpec extends graft.SparkSpec {

  test("n < 9 types emit no row (threshold = infinity)") {
    val sp = spark
    import sp.implicits._
    // 8 rows: k = ceil(9*9/10) = 9 > n = 8 -> dropped; a 10-row type
    // (plus one null value, which is not scored) survives alongside it
    val events = (Seq.tabulate(8)(i => ("tiny", i.toLong, Option(i.toDouble))) ++
      Seq.tabulate(10)(i => ("big", 100L + i, Option(i.toDouble))) ++
      Seq(("big", 200L, Option.empty[Double])))
      .toDF("event_type", "event_id", "value")
    val got = Conformal.thresholds(events).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("big"))
    // n = 10 non-null values: k = ((10+1)*9+9) div 10 = 10, median =
    // rank 5 of 0..9 = 4.0, threshold = the largest score |9 - 4| = 5
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)) ==
      ((10L, 10L, 4.0, 5.0)))
  }

  test("the k-arithmetic guard is in q200's plan and fails loudly past its bound") {
    val sp = spark
    import sp.implicits._
    val events = Seq(("a", 1L, 1.0)).toDF("event_type", "event_id", "value")
    val plan = Conformal.thresholds(events).queryExecution.analyzed
      .toString
    assert(plan.contains("k-arithmetic"),
      "the per-type count frame must carry the guard")
    val e = intercept[Throwable] {
      Seq(Tuple1(Conformal.KArithmeticBudget + 1)).toDF("n0")
        .select(Conformal.guardedN(col("n0"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("k-arithmetic")),
      s"expected a loud k-arithmetic failure, got: $e")
  }
}
