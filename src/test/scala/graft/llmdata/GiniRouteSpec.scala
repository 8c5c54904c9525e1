package graft.llmdata

import graft.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Gates for q181's single DECIMAL(38,0) Gini fold: exact against
  * big-integer arithmetic far past where a BIGINT numerator overflows,
  * the registry answer unchanged, no DECIMAL in the contract, and the
  * in-plan guard loud at its own envelope. */
class GiniRouteSpec extends graft.SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  /** The rank formula in big integers over (w, x), ascending (x, w). */
  private def exact(cnt: Seq[(String, Long)]): Row = {
    val xs = cnt.sortBy(c => (c._2, c._1)).map(c => BigInt(c._2))
    val n = BigInt(xs.size)
    val total = xs.sum
    val six = xs.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    Row(n.toLong, total.toLong,
      ((2 * six - (n + 1) * total) * 1000000 / (n * total)).toLong)
  }

  test("the output schema has no DECIMAL column") {
    val s = Gini.gini(Tables.documents(spark, sf)).schema
    assert(s.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq("n" -> LongType, "total" -> LongType, "gini_micro" -> LongType),
      "the registry float policy bans DECIMAL output columns")
  }

  test("sf0.01 answer unchanged: n 31, total 27165, gini_micro 49033") {
    assert(Gini.gini(Tables.documents(spark, sf)).collect().toSeq ==
      Seq(Row(31L, 27165L, 49033L)))
  }

  test("count tables past the old BIGINT bounds equal big-integer arithmetic") {
    val sp = spark
    import sp.implicits._
    // n·Σx ≈ 3·10^13 (past the old 4.6·10^12 micro bound) and ≈ 4·10^18
    // (past 4.6·10^15, where a 10^3-scaled BIGINT numerator overflows too)
    for (cnt <- Seq(
        Seq("a" -> 1000000000007L, "b" -> 2000000000003L,
          "c" -> 3999999999989L, "d" -> 17L),
        Seq("a" -> 250000000000000001L, "b" -> 123456789L,
          "c" -> 250000000000000003L, "d" -> 499999999999999999L))) {
      val want = exact(cnt)
      assert(want.getLong(2) % 1000L != 0L,
        "fixture must need all six micro digits")
      assert(Gini.fold(cnt.toDF("w", "x")).collect().toSeq == Seq(want))
    }
  }

  test("the guard passes n*total just under 5*10^31 and fails at it") {
    val sp = spark
    import sp.implicits._
    val n = BigInt(10).pow(13)
    // Σi·x = n·Σx, the most a count table allows: the numerator ·10^6 is
    // then ~5·10^37, still exact in DECIMAL(38,0)
    def run(total: BigInt) = Seq((n.toLong, total.toLong, (n * total).toString))
      .toDF("n", "total", "six").withColumn("six", col("six").cast("decimal(38,0)"))
      .transform(Gini.quotient).collect().toSeq
    val inside = Gini.Envelope / n - 1
    assert(run(inside) == Seq(Row(n.toLong, inside.toLong, 999999L)))
    val e = intercept[Throwable](run(Gini.Envelope / n))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("q181: n*total exceeds")), e)
  }
}
