package graft.relational

import org.apache.spark.sql.functions._

/** Gates for q166's basket-length route switch ([[Apriori]], round 14
  * — the q181/q182 discipline applied to the last documentation-only
  * route): the per-basket C(b,3) generation route and the three-legged
  * candidate⋈items join must COUNT IDENTICALLY on both corpus shapes,
  * and the measured max basket length must pick the generate arm at
  * TPC-H-ish basket lengths and the candidate arm past the bound —
  * where per-basket generation would materialize C(b,3) rows per
  * basket. */
class AprioriRouteSpec extends graft.SparkSpec {
  import org.apache.spark.sql.DataFrame

  /** (bid, item) DISTINCT basket table from explicit baskets. */
  private def itemsOf(baskets: Seq[Seq[String]]): DataFrame = {
    import spark.implicits._
    baskets.zipWithIndex
      .flatMap { case (b, i) => b.distinct.map(it => (i.toLong, it)) }
      .toDF("bid", "item")
  }

  /** Short-basket corpus (b ≤ 5): a planted frequent triple
    * {a, b, c} in most baskets plus rotating noise items. */
  private def shortBaskets: Seq[Seq[String]] =
    (0 until 30).map { i =>
      if (i % 5 == 4) Seq(s"n${i % 7}", s"n${(i + 1) % 7}", s"n${(i + 2) % 7}")
      else Seq("a", "b", "c", s"n${i % 7}")
    }

  /** Long-basket corpus (b = 50): every basket carries the planted
    * triple plus 47 basket-specific fillers — C(50,3) = 19,600
    * generated triples per basket on the generate route, exactly the
    * regime the candidate route exists for. Fillers repeat across
    * PAIRS of baskets so some pairs (not only the planted ones) pass
    * the support floor and the candidate set is non-trivial. */
  private def longBaskets: Seq[Seq[String]] =
    (0 until 10).map { i =>
      Seq("a", "b", "c") ++ (0 until 47).map(j => s"f${(i / 2) * 100 + j}")
    }

  /** Max basket lengths that pick each counting plan. */
  private val generate = 0L
  private val candidate = Apriori.LongBasketAt + 1L

  private def counted(items: DataFrame, thr: Long,
      maxBasket: Long): Seq[(String, String, String, Long)] =
    Apriori.triples(items, thr, maxBasket)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .toSeq.sorted

  /** True when the counting plan for `maxBasket` explodes per-basket
    * triples (the generate plan), false for the candidate join. */
  private def generates(maxBasket: Long): Boolean =
    Apriori.triples(itemsOf(shortBaskets), 3, maxBasket)
      .queryExecution.optimizedPlan.toString.contains("Generate")

  test("an empty basket table returns empty on every route — the auto profile's null max is not an NPE") {
    val items = itemsOf(Seq.empty)
    assert(Apriori.profile(items) == ((0L, 0L)),
      "max over zero baskets is NULL and must read as 0")
    assert(Apriori.triples(items, 1, generate).collect().isEmpty)
    assert(Apriori.triples(items, 1, candidate).collect().isEmpty)
  }

  test("route picker: generate at TPC-H-ish basket lengths, candidate past the bound, boundary inclusive") {
    assert(generates(4))
    assert(generates(Apriori.LongBasketAt),
      "the bound itself stays on the measured-right generate arm")
    assert(!generates(Apriori.LongBasketAt + 1))
    assert(!generates(50))
  }

  test("both routes count identically on a short-basket corpus") {
    val items = graft.Caches.persist(itemsOf(shortBaskets))
    val gen = counted(items, thr = 3, generate)
    val cand = counted(items, thr = 3, candidate)
    assert(gen.nonEmpty, "the planted triple must pass the floor")
    assert(gen.exists(t => (t._1, t._2, t._3) == ("a", "b", "c")))
    assert(gen == cand,
      s"routes diverged on short baskets: generate=$gen candidate=$cand")
  }

  test("both routes count identically on a long-basket corpus, and the auto-pick takes the candidate arm") {
    val items = graft.Caches.persist(itemsOf(longBaskets))
    val gen = counted(items, thr = 2, generate)
    val cand = counted(items, thr = 2, candidate)
    assert(gen.nonEmpty)
    assert(gen == cand,
      s"routes diverged on long baskets: generate=$gen candidate=$cand")
    // the measured profile: max basket 50 > LongBasketAt ⇒ candidate
    val (baskets, maxBasket) = Apriori.profile(items)
    assert(baskets == 10L && maxBasket == 50L)
    assert(!generates(maxBasket))
    assert(counted(items, thr = 2, maxBasket) == cand)
  }

  test("the shuffle candidate-join arm counts identically to the broadcast arm on both routes") {
    // the CandBroadcastAt guard's fallback (round 15: a dense corpus
    // admitted 41M candidates and the unconditional broadcast killed
    // an 8 GB driver) — plan-different, count-identical
    val items = graft.Caches.persist(itemsOf(longBaskets))
    val thr = 2L
    val cand = graft.Caches.persist(
      Apriori.candidates(Apriori.frequentPairs(items, thr)))
    assert(cand.count() > 0, "the fallback must be exercised on a " +
      "non-trivial candidate set")
    def sup(longBaskets: Boolean, bcast: Boolean) =
      Apriori.countTriples(items, cand, longBaskets, broadcastCand = bcast)
        .filter(col("sup") >= thr).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq.sorted
    for (longBaskets <- Seq(false, true)) {
      val b = sup(longBaskets, bcast = true)
      val s = sup(longBaskets, bcast = false)
      assert(b.nonEmpty)
      assert(b == s, "broadcast and shuffle arms diverged with " +
        s"longBaskets=$longBaskets: $b vs $s")
    }
  }
}
