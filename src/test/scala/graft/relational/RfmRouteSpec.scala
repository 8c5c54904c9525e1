package graft.relational

import graft.SparkSpec

/** q171's RFM quintile grid against a driver-side recompute: each
  * customer's three ntile(5) codes follow the (value, cust)
  * tie-breaks, and the census is the per-cell count and min customer
  * of those codes. */
class RfmRouteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** (cust, recency, frequency, monetary) rows of the fixture. */
  private def triples = Rfm.triples(graft.Tables.orders(spark, sf))
    .select("cust", "recency", "frequency", "monetary").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .toSeq

  /** ntile(5) over customers already in rank order: the first n mod 5
    * buckets hold ⌊n/5⌋ + 1 rows, the rest ⌊n/5⌋. */
  private def ntile5(ranked: Seq[Long]): Map[Long, Int] = {
    val (q, rem) = (ranked.length / 5, ranked.length % 5)
    ranked.zipWithIndex.map { case (c, i) =>
      val b = if (i < rem * (q + 1)) i / (q + 1)
              else rem + (i - rem * (q + 1)) / q
      c -> (b + 1)
    }.toMap
  }

  /** Driver-side (cust → (r, f, m)) codes. */
  private def expectedCodes(t: Seq[(Long, Long, Long, Double)])
      : Map[Long, (Int, Int, Int)] = {
    val r = ntile5(t.sortBy(x => (-x._2, x._1)).map(_._1))
    val f = ntile5(t.sortBy(x => (x._3, x._1)).map(_._1))
    val m = ntile5(t.sortBy(x => (x._4, x._1)).map(_._1))
    t.map(x => x._1 -> ((r(x._1), f(x._1), m(x._1)))).toMap
  }

  test("ntile codes ≡ a driver-side (value, cust) ranking per customer, boundary ties included") {
    val t = triples
    assert(t.length >= 5, "fixture must fill every quintile")
    val want = expectedCodes(t)
    val got = Rfm.codesWindow(Rfm.triples(graft.Tables.orders(spark, sf)))
      .select("cust", "r", "f", "m").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got == want,
      "codes must follow the (value, cust) tie-break on every dimension")
    // the fixture must exercise tie-breaks at a boundary, else the
    // comparison proves nothing about them: some recency or frequency
    // value must straddle a quintile boundary
    def straddles(value: ((Long, Long, Long, Double)) => Long,
        code: ((Int, Int, Int)) => Int): Boolean =
      t.groupBy(value).values.exists(g => g.map(x => code(want(x._1)))
        .distinct.size > 1)
    assert(straddles(_._2, _._1) || straddles(_._3, _._2),
      "fixture has no tie group straddling a boundary")
  }

  test("segment census ≡ the driver-side codes' per-cell count and min customer") {
    val t = triples
    val want = expectedCodes(t).toSeq
      .groupBy(_._2)
      .map { case ((r, f, m), g) =>
        (r.toLong, f.toLong, m.toLong, g.size.toLong, g.map(_._1).min) }
      .toSeq.sorted
    val got = Rfm.segments(graft.Tables.orders(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want, "census rows, in (r, f, m) order")
    assert(got.map(_._4).sum == t.length, "census partitions the customers")
  }
}
