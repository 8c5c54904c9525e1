package graft

import org.apache.spark.sql.functions._

/** Times BOTH Apriori support-counting routes on a LONG-BASKET corpus
  * — the measurement the round-14 route switch shipped without
  * (round-15 verdict item 3): every bench corpus has b ≈ 4, so the
  * `generate` arm always wins there and the claim that
  * [[graft.relational.Apriori.LongBasketAt]] = 32 sits left of the
  * per-basket C(b,3) explosion was argued from arithmetic, not
  * measured. This main builds a deterministic synthetic basket table
  * with max basket length ≥ 64 (no testdata table has that shape),
  * runs [[graft.relational.Apriori.triples]] under BOTH counting plans
  * on the SAME persisted input, and prints one JSON line with both
  * walls — the SCALE.md datapoint that turns the crossover reasoning
  * into a number.
  *
  * Corpus: `SPARK_GRAFT_APRIORI_BASKETS` baskets (default 2,000) ×
  * `SPARK_GRAFT_APRIORI_SLOTS` item draws (default 96) from a
  * `SPARK_GRAFT_APRIORI_CATALOG`-item catalog (default 2,000) with
  * quadratic skew (item = ⌊u²·catalog⌋, u = xxhash64-uniform), so hot
  * items make the frequent-pair level genuinely dense — distinct
  * (bid, item) rows land ≈ 0.7 × slots per basket, max ≥ 64.
  * Deterministic by construction (hash of (bid, slot), no RNG), so
  * both routes see bit-identical input and their row counts are
  * asserted equal. Threshold = baskets / `SPARK_GRAFT_APRIORI_DENOM`
  * (default 100 = 1% support, floor 1) — NOT q166's baskets/300:
  * at 0.3% support this corpus's density admits **41M** candidate
  * triples (measured round 15 — the run that exposed the
  * unconditional candidate broadcast and motivated
  * [[graft.relational.Apriori.CandBroadcastAt]]), which makes the
  * timing candidate-explosion-bound on BOTH routes instead of
  * measuring the C(b,3)-vs-candidate-fanout crossover the record is
  * for. At 1% the same corpus admits ~780k candidates — inside the
  * broadcast bound, route-bound timing.
  *
  * Timing discipline: [[Bench.preGate]] + min-of-`SPARK_GRAFT_REPS`
  * (default 2 — each rep is a full route execution over the persisted
  * input) + post-sample, the house protocol. Stdout-only — this is a
  * one-off measurement harness, never the round record. */
object AprioriRouteBench {
  def main(args: Array[String]): Unit = {
    val nBaskets = sys.env.getOrElse("SPARK_GRAFT_APRIORI_BASKETS",
      "2000").toLong
    val slots = sys.env.getOrElse("SPARK_GRAFT_APRIORI_SLOTS",
      "96").toInt
    val catalog = sys.env.getOrElse("SPARK_GRAFT_APRIORI_CATALOG",
      "2000").toInt
    val reps = Bench.reps(sys.env, default = 2)
    val gate = Bench.preGate("aprioriroutebench")
    val spark = GraftSession.local()

    // deterministic skewed draws; repartition because range(n) at
    // local scale under-splits and the explode would run near-serial
    val items = graft.Caches.persist(
      spark.range(nBaskets)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("bid"),
          explode(sequence(lit(0), lit(slots - 1))).as("slot"))
        .withColumn("u",
          pmod(xxhash64(col("bid"), col("slot")), lit(1000000L))
            .cast("double") / 1000000.0)
        .select(col("bid"),
          floor(col("u") * col("u") * catalog).cast("long").as("item"))
        .distinct())
    val (baskets, maxB) = graft.relational.Apriori.profile(items)
    require(maxB > graft.relational.Apriori.LongBasketAt,
      s"long-basket corpus must exceed the switch bound, got max $maxB")
    val denom = sys.env.getOrElse("SPARK_GRAFT_APRIORI_DENOM",
      "100").toLong
    val thr = math.max(1L, baskets / denom)
    // candidate-level profile for the record (the routes re-derive it
    // inside triples; one extra pass on a harness is fine) — the
    // candidate count states which regime the timing measured and
    // which broadcast arm the guard took
    val nPairs = graft.relational.Apriori
      .frequentPairs(items, thr).count()
    val nCand = graft.relational.Apriori
      .candidates(graft.relational.Apriori.frequentPairs(items, thr))
      .count()

    // the max basket length passed to triples picks the plan: 0 forces
    // generate, the measured max (past the bound) forces candidate
    def time(plan: String, maxBasket: Long): (Double, Long) = {
      var rows = -1L
      val Bench.Timing(sec, _, failed, _) = Bench.minTimeCounting(reps, () => {
        rows = graft.relational.Apriori
          .triples(items, thr, maxBasket).count()
      }, e => e.printStackTrace())
      require(!failed, s"route $plan failed")
      (sec, rows)
    }
    val (genSec, genRows) = time("generate", 0L)
    val (candSec, candRows) = time("candidate", maxB)
    require(genRows == candRows,
      s"route mismatch: generate=$genRows candidate=$candRows")

    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    println(
      s"""{"metric":"apriori_route_secs","unit":"sec",""" +
        s""""baskets":$baskets,"item_rows":${items.count()},""" +
        s""""max_basket":$maxB,"catalog":$catalog,"thr":$thr,""" +
        s""""freq_pairs":$nPairs,"candidates":$nCand,""" +
        s""""triples":$genRows,""" +
        s""""generate_sec":${math.round(genSec * 1000) / 1000.0},""" +
        s""""candidate_sec":${math.round(candSec * 1000) / 1000.0},""" +
        s""""reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}")
    spark.stop()
  }
}
