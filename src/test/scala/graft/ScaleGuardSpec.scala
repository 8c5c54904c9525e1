package graft

import org.apache.spark.sql.functions._

/** The round-9 envelope-hardening contract: every BIGINT magnitude
  * regime that used to be scaladoc prose is asserted in-plan through
  * [[ScaleGuards]]. Tripping a 2^63 envelope with real rows would need
  * ~10^12 of them, so this spec drives the exact production guard
  * expressions with synthetic count frames at BOTH sides of each
  * bound — the same integer arithmetic the deployed plans evaluate. */
class ScaleGuardSpec extends SparkSpec {

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  private def fires(body: => Any, needle: String): Unit = {
    val e = intercept[Exception] { body }
    assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains(needle))),
      s"expected a loud guard containing '$needle', got: $e")
  }

  test("productWithin is exact at the boundary (no double rounding)") {
    val sp = spark
    import sp.implicits._
    // a*b == bound passes, a*b == bound+1 fails — for bounds near
    // 2^63 where a double-division guard would be 1-ulp wrong
    val bound = Long.MaxValue / 1000000L // q198's constant
    val a = 3037000498L // ~sqrt(2^63/1e6) quadrant
    val bPass = bound / a
    val bFail = bPass + 1
    assert(a * bPass <= bound && a * bFail > bound, "fixture sanity")
    val passed = Seq((a, bPass)).toDF("x", "y")
      .select(ScaleGuards.productWithin("x", "y", bound).as("ok"))
      .collect()(0).getBoolean(0)
    assert(passed, "a*b == bound (floor) must pass")
    val failed = Seq((a, bFail)).toDF("x", "y")
      .select(ScaleGuards.productWithin("x", "y", bound).as("ok"))
      .collect()(0).getBoolean(0)
    assert(!failed, "a*b just past the bound must fail")
    // zero short-circuits regardless of the other side
    val zs = Seq((0L, Long.MaxValue)).toDF("x", "y")
      .select(ScaleGuards.productWithin("x", "y", bound).as("ok"))
      .collect()(0).getBoolean(0)
    assert(zs, "a zero side is always within any positive bound")
  }

  test("NULL counts pass the guard — an empty corpus emits its NULL row, never the overflow error") {
    val sp = spark
    import sp.implicits._
    // a global aggregate over zero rows yields NULL counts; without
    // the coalesce, assert_true(NULL) raised the overflow message on
    // a 0-row input where the query (and its DuckDB oracle) must emit
    // the NULL degenerate row (round-9 review finding)
    val r = Seq((Option.empty[Long], Option.empty[Long]))
      .toDF("x", "y")
      .select(ScaleGuards.guarded(
        ScaleGuards.productWithin("x", "y", 1000L),
        "must not fire on NULL", lit(1L)).as("v")).collect()
    assert(r(0).getLong(0) == 1L)
  }

  test("q198's KS guard: 3M docs/side passes, 10^7 per side fails loudly") {
    val sp = spark
    import sp.implicits._
    val bound = Long.MaxValue / 1000000L
    def probe(tr: Long, te: Long) =
      Seq((tr, te)).toDF("n_tr", "n_te")
        .select(ScaleGuards.guarded(
          ScaleGuards.productWithin("n_tr", "n_te", bound),
          "q198: n_tr*n_te exceeds the cross-multiplied micro regime",
          lit(1L)).as("v")).collect()
    assert(probe(3000000L, 3000000L)(0).getLong(0) == 1L,
      "the documented ~3M-per-side regime must pass")
    fires(probe(10000000L, 10000000L), "q198")
  }

  test("q200's k-arithmetic guard passes at its bound with k exact, fails one past it") {
    val sp = spark
    import sp.implicits._
    val bound = relational.Conformal.KArithmeticBudget
    def probe(n: Long) = Seq(Tuple1(n)).toDF("n0")
      .select(relational.Conformal.guardedN(col("n0")).as("n"))
    // at the bound the production k expression still fits BIGINT
    val k = probe(bound).select(expr("((n + 1) * 9 + 9) div 10"))
      .collect()(0).getLong(0)
    assert(BigInt(k) == ((BigInt(bound) + 1) * 9 + 9) / 10)
    fires(probe(bound + 1).collect(), "q200")
  }

  test("the deployed queries still answer in the exact regime (sf0.001)") {
    // the guards are pass-through where the regimes hold: the four
    // guarded queries stay green on the oracle fixture
    val sp = spark
    for (q <- Seq("q181_token_gini", "q182_auc_rank",
        "q198_ks_split_drift", "q200_conformal_threshold")) {
      val rows = SparkEntry.queries(q)(sp, "/root/testdata/sf0.001").count()
      assert(rows > 0, s"$q must still produce rows under its guard")
    }
  }
}
