package graft.llmdata

import graft.{Caches, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `[EXT]` Deduplication operators for a large-scale training-data
  * pipeline (project north star, BASELINE.json): exact content-hash
  * dedup, word-set Jaccard similarity join, MinHash+LSH banding with
  * verification, SimHash bit-vote fingerprints, and canonical/rolling
  * document fingerprints. All oracle-checked against DuckDB.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash-shuffle on md5(text) with map-side
  *    partial aggregation — the canonical "group by content hash";
  *  - the Jaccard join generates candidates by PPJoin-style prefix
  *    filtering (rarest-token prefixes under a shared total order) — an
  *    inverted index over PREFIX tokens only, sub-quadratic and exact;
  *    q29's MinHash+LSH path is the open-vocabulary twin: its shuffle
  *    key is the *band hash*, whose cardinality grows with corpus size,
  *    so bucket sizes stay bounded and the verify touches candidates only;
  *  - SimHash reduces each doc to one 16-bit integer — near-dup search
  *    becomes an equi-join on simhash (or a small Hamming-ball probe),
  *    no pairwise scan;
  *  - nothing below collects to the driver; every stage is a
  *    groupBy/join that Catalyst plans with partial aggregation + AQE.
  */
object Dedup {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** One-pass foundation shared by the set-similarity joins (q28
    * word-set Jaccard, q75 containment, q29 MinHash+LSH): a SINGLE
    * corpus scan+tokenize feeds every per-doc input those joins need —
    * the exact token-set bitmap, the set size, the (df, token) prefix
    * order (when `withPrefix`), the minhash signatures (when
    * `nMinhash > 0`), and the row-local token-set fingerprint that
    * drives the adaptive exact-dup collapse. The previous shape
    * re-tokenized the corpus three times per query (collapse probe,
    * vocab build, set aggregation); at 100 TB the corpus scan IS the
    * cost, so every derived column now rides one pass over the
    * persisted token set (two cached re-reads: the vocab distinct and
    * the per-doc aggregate).
    *
    * Why bitmaps: set similarity on this corpus is degenerate for
    * inverted-index joins — the vocabulary is tiny (~31 words), so
    * every token bucket holds most of the corpus and the token-token
    * join is quadratic (measured 50 s at sf0.1). A dictionary-indexed
    * bitmap makes the pair *verify* O(V/64) longs of AND+popcount —
    * exact, not sketched. The dictionary is one small distinct-scan
    * (real pipelines precompute it); generic over vocab size via one
    * long per 64 ids. When the measured vocabulary exceeds
    * [[VocabBitmapBudget]] the verify AUTO-SWITCHES to q58's
    * count-join shape ([[SetSim.verified]]) — same exact results, no
    * driver-held dictionary, no |V|-wide per-doc mask; q29's
    * MinHash+LSH banding remains the candidate-generation scale route.
    *
    * The collapse decision happens AFTER the aggregation: `sets` is
    * built for all docs (the scan admits no choice), and when the
    * measured dup ratio pays ([[shouldCollapse]]) the pairwise
    * machinery runs over [[SetSim.work]]'s representatives and pairs
    * expand back afterwards. Aggregating masks for duplicates the
    * collapse then discards costs one aggregation visit per dup row —
    * strictly cheaper than the second corpus scan the pre-aggregation
    * probe used to pay. */
  private final case class SetSim(
      sets: DataFrame, members: DataFrame, collapse: Boolean,
      tokens: DataFrame, bitmap: Boolean, nBuckets: Int) {
    /** The frame the pairwise machinery runs over: every doc, or one
      * representative per distinct (blocking key, token set). */
    def work: DataFrame =
      if (collapse)
        sets.join(members.filter(col("doc_id") === col("gid"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
      else sets

    /** Exact verify for (a_id, b_id) candidate pairs → (a_id, b_id,
      * ni, nw_a, nw_b) with ni = |A∩B|. Two regimes, same values:
      *  - bitmap (vocab fit the budget): AND+popcount over the per-doc
      *    masks. Candidate rows may repeat (a pair surfacing through
      *    several shared prefix tokens / bands) — each repeat re-runs
      *    the cheap popcount and callers dedup AFTER their threshold
      *    filter, when survivors ≪ candidates;
      *  - count-join (vocab over budget — the auto-fallback): distinct
      *    the candidates FIRST (each shared token contributes one row
      *    to the count, so a duplicated candidate row would double-
      *    count), then join the persisted per-doc token rows on both
      *    sides and count matches — q58's open-vocabulary verify
      *    shape. Exact like the bitmap; no dictionary, no driver
      *    state, no per-doc mask whose width grows with |V|. */
    def verified(cand: DataFrame): DataFrame =
      if (bitmap)
        cand
          .join(sets.select(col("doc_id").as("a_id"),
            col("mask").as("mask_a"), col("nw").as("nw_a")), "a_id")
          .join(sets.select(col("doc_id").as("b_id"),
            col("mask").as("mask_b"), col("nw").as("nw_b")), "b_id")
          .withColumn("ni", maskIntersect(col("mask_a"), col("mask_b")))
          .select("a_id", "b_id", "ni", "nw_a", "nw_b")
      else {
        val w = tokens.select(col("doc_id"), col("w"))
        cand.distinct()
          .join(w.toDF("a_id", "w"), "a_id")
          .join(w.toDF("b_id", "w"), Seq("b_id", "w"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("ni"))
          .join(sets.select(col("doc_id").as("a_id"),
            col("nw").as("nw_a")), "a_id")
          .join(sets.select(col("doc_id").as("b_id"),
            col("nw").as("nw_b")), "b_id")
          .select("a_id", "b_id", "ni", "nw_a", "nw_b")
      }
  }

  /** Vocabulary ceiling for the dictionary-bitmap verify: past this,
    * [[setSim]] auto-switches to the count-join verify. Both hazards
    * grow linearly in |V|: the driver-built broadcast dictionary AND
    * the per-doc mask (|V|/8 bytes riding every candidate-join row) —
    * at 2^16 words the mask is already 8 KB/doc, and the count-join
    * wins well before the broadcast itself would OOM the driver. The
    * spec forces the fallback with budget 0 and pins output equality. */
  private[llmdata] val VocabBitmapBudget: Long = 1L << 16

  /** The dictionary-bitmap vocabulary of `tokens` (a `w` column), shared
    * by [[setSim]] and [[IncrementalLsh]]'s verify. A bounded probe (a
    * `limit(budget + 1)` collect) brings at most `min(budget,
    * VocabBitmapBudget) + 1` distinct words to the driver: the measured
    * scalar that picks the verify regime, and when the vocabulary fits,
    * the dictionary itself — sorted ids in a LocalRelation, so the
    * downstream plans are canonically stable across invocations
    * (exchange reuse, codegen caching and same-plan cache sharing; the
    * zipWithIndex RDD it replaced cost two more jobs and broke all
    * three). Only injectivity of word → bit matters. Returns `tokens`
    * joined to its word ids with `bucket` (wid / 64) and `bit`
    * (1 << wid % 64), and the bucket count; None past the budget. */
  private[llmdata] def vocabBits(tokens: DataFrame,
      budget: Long = VocabBitmapBudget): Option[(DataFrame, Int)] = {
    val probeLim = (math.min(budget, VocabBitmapBudget) + 1).toInt
    val words = tokens.select("w").distinct()
      .limit(probeLim).collect().map(_.getString(0))
    if (words.length >= probeLim) None
    else {
      import tokens.sparkSession.implicits._
      val vocab = words.sorted.zipWithIndex.toSeq.toDF("w", "wid")
      Some((tokens.join(broadcast(vocab), "w")
        .withColumn("bucket", (col("wid") / 64).cast("int"))
        .withColumn("bit",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(wid % 64 AS INT))")),
        math.max(1, (words.length + 63) / 64)))
    }
  }

  /** One `bit_or` per bucket over [[vocabBits]]' rows: bucket b's mask
    * word of the group's words. */
  private[llmdata] def bucketMasks(nBuckets: Int): Seq[Column] =
    (0 until nBuckets).map(b => expr(
      s"bit_or(CASE WHEN bucket = $b THEN bit ELSE CAST(0 AS BIGINT) END)"))

  private def setSim(s: SparkSession, d: String,
      fpKey: Seq[String], withPrefix: Boolean, nMinhash: Int,
      vocabBudget: Long = VocabBitmapBudget): SetSim = {
    // (doc_id, lang, fp, w): fp is ROW-LOCAL (md5 of the sorted
    // distinct tokens) so the collapse key costs no extra pass, and the
    // distinct-per-doc token rows behind it are persisted — the vocab
    // scan and the per-doc aggregate below both read this cache, never
    // the raw corpus again. Per-doc token dedup is ROW-LOCAL too
    // (round 15, guide §2.4): the old explode-then-`.distinct()` paid
    // a full-token-table exchange to dedup a key set that never
    // crosses rows — doc_id is unique per document, so distinct
    // (doc, lang, fp, w) ≡ array_distinct before the explode, zero
    // shuffle. fp and the deduped array are materialized in their own
    // projection BEFORE the explode so both evaluate once per DOC, not
    // once per token row (ExtractGenerator keeps them below the
    // Generate; inlining next to the explode re-ran the sort+md5 per
    // token — measured ~50× more fp work for nothing), and the scan
    // rides the spread floor so the tokenize+fp stage parallelizes
    // even off one file.
    val ts = Caches.persist(Tables.documentsSpread(s, d)
      .withColumn("dw", array_distinct(split(col("text"), " ")))
      .withColumn("fp", md5(concat_ws(" ", array_sort(col("dw")))))
      .select(col("doc_id"), col("lang"), col("fp"),
        explode(col("dw")).as("w")))
    // the bounded vocabulary probe picks the verify regime
    val vocab = vocabBits(ts, vocabBudget)
    val bitmap = vocab.isDefined
    val nBuckets = vocab.fold(1)(_._2)
    val base = vocab.fold(ts)(_._1)
    // df (the PPJoin rarest-first prefix order) comes from a
    // pre-aggregated (lang, w) count joined back onto the token rows
    // (round 15, guide §2.3 aggregate-before-shuffle): the window
    // rendering exchanged the FULL token table by (lang, w) and
    // sorted it just to stamp a per-key count; the groupBy's partial
    // aggregation collapses that exchange to |vocab|·|langs| rows and
    // AQE broadcasts the count table back (at open-vocab scale it
    // degrades to the same (lang, w) shuffle the window paid, minus
    // the sort). Values are identical: base is 1:1 with ts (the vocab
    // join is injective on w), so count-per-(lang, w) is the same
    // integer either way.
    val bits = if (withPrefix)
      base.join(ts.groupBy("lang", "w").agg(count(lit(1)).as("df")),
        Seq("lang", "w"))
    else base
    val maskAggs = if (bitmap)
      bucketMasks(nBuckets).zipWithIndex.map { case (m, b) => m.as(s"m$b") }
    else Nil
    // bitmap + prefix: each token's (bucket, bit) rides the toks
    // struct AFTER (df, w) — sort order is decided by (df, w) alone
    // (w is distinct within a doc, so no tie ever reads the extra
    // fields) — giving prefix consumers the wid-bit of every prefix
    // token for free (q160's canonical-row dedup needs it)
    val prefixAggs = if (withPrefix && bitmap)
      Seq(array_sort(collect_list(struct(col("df"), col("w"),
        col("bucket"), col("bit")))).as("toks"))
    else if (withPrefix)
      Seq(array_sort(collect_list(struct(col("df"), col("w")))).as("toks"))
    else Nil
    val mhAggs = (0 until nMinhash).map(i =>
      min(md5(concat(col("w"), lit("#" + i)))).as(s"s$i"))
    val aggs = (maskAggs :+ count(lit(1)).as("nw")) ++ prefixAggs ++ mhAggs
    // one row per doc; consumed by candidate generation AND both
    // verify sides — persisted (tracked, so library callers release
    // via Caches.release()).
    val agged = bits
      .groupBy("doc_id", "lang", "fp")
      .agg(aggs.head, aggs.tail: _*)
    val sets = Caches.persist(
      if (bitmap) agged
        .withColumn("mask", array((0 until nBuckets).map(b => col(s"m$b")): _*))
        .drop((0 until nBuckets).map(b => s"m$b"): _*)
      else agged)
    // (doc_id, gid) over the persisted per-doc rows, PERSISTED itself
    // (round 15): the old min-over-(fpKey) window re-ran its exchange
    // + single-task sort on EVERY action that touched members — the
    // collapse decision, the work semi-join, and both expansion joins
    // each repaid it (4 recomputes visible in the q213 stage profile).
    // The aggregate-then-join shape (guide §2.3) shuffles only the
    // partial-aggregated group minima (AQE broadcasts them back), and
    // the persist makes every later consumer a cache scan.
    // project to the key columns BEFORE the join (guide §2.3): the
    // per-doc rows carry the toks/mask payload, and joining the full
    // width would push ~10× the bytes through the join's exchange for
    // columns members never emits
    val slim = sets.select((fpKey :+ "doc_id").map(col): _*)
    val members = Caches.persist(slim
      .join(slim.groupBy(fpKey.map(col): _*)
        .agg(min("doc_id").as("gid")), fpKey)
      .select("doc_id", "gid"))
    SetSim(sets, members, shouldCollapse(members), ts, bitmap, nBuckets)
  }

  /** popcount of the AND of two bitmap arrays = |intersection| —
    * native codegen'd kernel; the HOF rendering (aggregate over
    * zip_with) is CodegenFallback and was the dominant per-candidate
    * cost of the verify (see [[graft.functions.MaskIntersect]]).
    * `private[llmdata]`: [[IncrementalLsh]]'s per-ingest bitmap verify
    * shares the kernel. */
  private[llmdata] def maskIntersect(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(graft.functions.MaskIntersect(expression(a), expression(b)))
  }

  /** All unordered same-`key` pairs via a salted self-join: the left
    * side keeps its salt, the right is replicated to every salt, so a
    * low-cardinality blocking key (5 langs / 2 LSH bands here) spreads
    * over `key × nSalts` shuffle buckets instead of hot-spotting a
    * handful of tasks (the skew hazard of blocked similarity joins). */
  private def saltedPairs(sets: DataFrame, key: String, nSalts: Int)
      : DataFrame = {
    val a = sets.toDF(sets.columns.toIndexedSeq.map(_ + "_a"): _*)
      .withColumn("salt_a", pmod(col("doc_id_a"), lit(nSalts)))
    val b = sets.toDF(sets.columns.toIndexedSeq.map(_ + "_b"): _*)
      .withColumn("salt_b", explode(sequence(lit(0), lit(nSalts - 1))))
    a.join(b,
      col(s"${key}_a") === col(s"${key}_b") &&
        col("salt_a") === col("salt_b") &&
        col("doc_id_a") < col("doc_id_b"))
      .drop("salt_a", "salt_b")
  }

  /** Exact-duplicate collapse for set-similarity joins: documents with
    * identical token SETS (same [[Text.setFp]], plus the blocking cols)
    * behave identically under Jaccard, MinHash and PPJoin — so the
    * pairwise machinery runs over one REPRESENTATIVE per distinct set
    * and results expand back to document pairs afterwards. On a
    * dup-dense corpus (any web crawl; 30–50% exact dups is typical)
    * this makes candidate generation and verification sublinear in the
    * duplication factor: a cluster of k identical docs costs 1 unit of
    * similarity-join work instead of k (candidates) + k² (verify).
    *
    * `members`: (doc_id, gid) from [[setSim]] — gid is the group's
    * min doc_id, so representatives satisfy `doc_id === gid` and the
    * verified rep pairs (a_id, b_id, jaccard) expand with two
    * long-keyed joins, no string keys. Expansion emits
    *  - intra-group pairs (identical sets ⇒ jaccard exactly 1.0), and
    *  - cross-group pairs, every member×member combination of the two
    *    groups, carrying the representative pair's jaccard (identical
    *    operands ⇒ identical IEEE value).
    * Every shuffle keys on gid — open cardinality, no hot buckets
    * beyond the (inherently quadratic) intra-cluster output itself. */
  private def expandPairs(members: DataFrame, repPairs: DataFrame)
      : DataFrame = {
    val intra = members.select(col("doc_id").as("doc_id_a"), col("gid"))
      .join(members.select(col("doc_id").as("doc_id_b"), col("gid")), "gid")
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"),
        lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(members.select(col("doc_id").as("da"), col("gid").as("a_id")), "a_id")
      .join(members.select(col("doc_id").as("db"), col("gid").as("b_id")), "b_id")
      .select(
        least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"),
        col("jaccard"))
    intra.unionByName(cross)
  }

  /** Ordered-pair twin of [[expandPairs]] for the asymmetric
    * containment join (q75): intra-group expansion emits BOTH
    * directions of every member pair (identical sets contain each
    * other exactly, containment 1.0), and cross-group rep pairs expand
    * direction-preserving — C(a→b) depends only on the token sets, so
    * every (member of A) → (member of B) pair carries the rep pair's
    * value verbatim. */
  private def expandOrderedPairs(members: DataFrame, repPairs: DataFrame)
      : DataFrame = {
    val intra = members.select(col("doc_id").as("a_id"), col("gid"))
      .join(members.select(col("doc_id").as("b_id"), col("gid")), "gid")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("containment"))
    val cross = repPairs
      .join(members.select(col("doc_id").as("da"), col("gid").as("a_id")), "a_id")
      .join(members.select(col("doc_id").as("db"), col("gid").as("b_id")), "b_id")
      .select(col("da").as("a_id"), col("db").as("b_id"), col("containment"))
    intra.unionByName(cross)
  }

  /** Adaptive collapse decision: run the pairwise machinery over
    * representatives only when the collapse actually shrinks the input
    * (≥ 20% fewer groups than docs — below that the rep indirection's
    * two expansion joins cost more than they save). `members` derives
    * from the persisted per-doc `sets`, so the decision costs one
    * doc-count-sized action on cached data — never a corpus scan. The
    * same AQE-style measure-then-plan pattern Catalyst applies to join
    * strategy, applied to dedup topology. */
  private def shouldCollapse(members: DataFrame): Boolean = {
    // one action, not two: both counts ride a single aggregate over
    // the (persisted) members base (round 15 — each extra action was
    // a full job submission inside the timed section)
    val r = members.agg(count(lit(1)).as("docs"),
      count(when(col("doc_id") === col("gid"), 1)).as("groups")).head()
    r.getLong(1) * 5 <= r.getLong(0) * 4
  }

  /** Shared DuckDB CTE: per-doc 16-bit SimHash (`sh(doc_id, simhash)`),
    * consumed by q30 (fingerprints) and q53 (Hamming-ball pairs). */
  private val SimhashCte: String =
    s"""toks AS (${Text.SqlTokens}),
      |wh AS (SELECT doc_id, w, count(*) AS c,
      |         CAST(('0x'||substr(md5(w),1,4)) AS BIGINT) AS h
      |       FROM toks GROUP BY doc_id, w),
      |bits AS (SELECT doc_id, bit,
      |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN c ELSE -c END) AS vote
      |  FROM wh, (SELECT unnest(range(16)) AS bit) b GROUP BY doc_id, bit),
      |sh AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id)""".stripMargin

  /** The Spark side of [[SimhashCte]]: (doc_id, simhash BIGINT).
    * The 16 per-bit votes are 16 conditional sums in ONE groupBy pass —
    * the oracle's explode-by-bit rendering would multiply every
    * (doc, token) row 16× through an extra shuffle for identical
    * integer math (same sums, associative/commutative, order-free). */
  private def simhashPlan(s: SparkSession, d: String): DataFrame = {
    val wh = Text.tokens(s, d)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long"))
    val voteAggs = (0 until 16).map(i =>
      sum(when(expr(s"(shiftright(h, $i) & 1) = 1"), col("c"))
        .otherwise(-col("c"))).as(s"v$i"))
    wh.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** The SimHash collapse: every pairwise step downstream of the
    * fingerprint depends on the doc only THROUGH its 16-bit simhash, so
    * candidate generation runs over DISTINCT fingerprint values — a set
    * bounded by 2^16 regardless of corpus size (5000 docs → 2173 values
    * at sf0.1; at 100 TB the value graph saturates while the doc count
    * keeps growing, so the collapse factor grows with scale; a 64-bit
    * production fingerprint keeps the same shape with a corpus-growing
    * but still sublinear value set).
    *
    * Returns (sh, vp): `sh` = per-doc fingerprints (persisted — callers
    * re-join it to expand value-level results to docs), `vp` = the
    * DISTINCT-value near-dup pairs (va < vb, Hamming 1–2) found by
    * chunk-pigeonhole (Manku et al., WWW'07): a ≤2-bit-distant pair
    * agrees exactly on ≥1 of 3 disjoint chunks, so candidates come from
    * a salted equi-join on (chunk idx, value) over values only.
    * Hamming-0 pairs are docs SHARING a value — no join needed. */
  private def simhashValues(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val sh = Caches.persist(simhashPlan(s, d))
    val chunks = Seq((0, 6), (6, 5), (11, 5)) // 16 bits, d+1 = 3 chunks
    // saltedPairs keys its salt on `doc_id`; the node id here IS the
    // fingerprint value, so it rides in that column
    val keyed = sh.select(col("simhash").as("doc_id")).distinct()
      .select(col("doc_id"),
        explode(array(chunks.zipWithIndex.map { case ((off, len), i) =>
          struct(lit(i).as("ci"),
            expr(s"shiftright(doc_id, $off) & ${(1 << len) - 1}").as("cv"))
        }: _*)).as("ck"))
    val vp = saltedPairs(keyed, "ck", 8)
      .select(col("doc_id_a").as("va"), col("doc_id_b").as("vb"),
        bit_count(col("doc_id_a").bitwiseXOR(col("doc_id_b"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 2)
      // dedup AFTER the popcount filter (q29's lesson): a pair may
      // share several chunks, but survivors ≪ candidates, so the
      // distinct shuffles far fewer rows
      .dropDuplicates("va", "vb")
    (sh, vp)
  }

  /** q28 body, parameterized so the spec can force the count-join
    * fallback (tiny `vocabBudget`) and pin output equality.
    *
    * PPJoin-style prefix-filtered exact similarity join (Bayardo et
    * al. "Scaling Up All Pairs", Xiao et al. PPJoin — public
    * literature): under ANY total token order shared by both sides,
    * two sets with J ≥ t MUST share a token among the first
    * |x| − ⌈t·|x|⌉ + 1 tokens of each side — so candidate pairs come
    * from an equi-join on *prefix* tokens only, never from
    * enumerating n²/2 pairs per lang block. The order used is
    * (doc-frequency asc, token), rarest-first, which makes prefix
    * buckets the SMALLEST buckets of the inverted index — the
    * anti-skew choice. Survivors are verified exactly via
    * [[SetSim.verified]] (bitmap popcount, or the count-join when the
    * vocab outgrows the budget), so results are identical to the
    * oracle's token-join rendering in both regimes.
    *
    * The whole join runs over one REPRESENTATIVE per distinct
    * (lang, token-set) when that shrinks the input — exact dups
    * collapse first, pairs expand after (expandPairs / setSim
    * scaladoc): sublinear in the dup factor. Everything (bitmap,
    * set size, prefix order, collapse fp) comes from ONE corpus
    * scan (setSim). */
  private[llmdata] def jaccardPairs(s: SparkSession, d: String,
      vocabBudget: Long = VocabBitmapBudget): DataFrame = {
    val f = setSim(s, d, Seq("lang", "fp"), withPrefix = true,
      nMinhash = 0, vocabBudget = vocabBudget)
    val sets = f.work
      // integer-exact ⌈0.95·nw⌉ = (19·nw + 19) div 20
      .withColumn("plen",
        (col("nw") - expr("(19 * nw + 19) div 20") + lit(1)).cast("int"))
      .withColumn("pre", expr("transform(slice(toks, 1, plen), t -> t.w)"))
      .select("doc_id", "lang", "nw", "pre")
    val pre = sets.select(col("doc_id"), col("lang"), col("nw"),
      posexplode(col("pre")).as(Seq("pi", "pw")))
    val a = pre.toDF("doc_id_a", "lang_a", "nw_a", "pi_a", "pw")
    val b = pre.toDF("doc_id_b", "lang_b", "nw_b", "pi_b", "pw_b")
    // J ≥ 0.95 also forces 20·min(|a|,|b|) ≥ 19·max(|a|,|b|): prune
    // size-incompatible pairs inside the join (output-preserving).
    // NO distinct here: a pair surfacing through several shared
    // prefix tokens rides the cheap popcount verify more than once
    // and dedups AFTER the jaccard filter — survivors ≪ candidates,
    // so the dedup shuffle moves orders of magnitude fewer rows than
    // a candidate-level distinct would. (The count-join regime
    // dedups candidates itself — SetSim.verified scaladoc.)
    // POSITIONAL upper bound (round 16, PPJoin positional filter —
    // output-preserving): J ≥ 0.95 needs ni ≥ ⌈19·(nw_a+nw_b)/39⌉,
    // and at a pair's FIRST shared token (within both prefixes for
    // any qualifying pair — the size filter makes the required
    // overlap exceed nw − plen on both sides) the overlap is at most
    // 1 + min(remaining_a, remaining_b). Emissions that cannot reach
    // the threshold never enter the verify; the first-match emission
    // of every qualifying pair always passes.
    val cand = a.join(b,
      col("pw") === col("pw_b") && col("lang_a") === col("lang_b") &&
        col("doc_id_a") < col("doc_id_b") &&
        least(col("nw_a"), col("nw_b")) * 20 >=
          greatest(col("nw_a"), col("nw_b")) * 19 &&
        lit(1) + least(col("nw_a") - col("pi_a") - 1,
          col("nw_b") - col("pi_b") - 1) >=
          expr("(19 * (nw_a + nw_b) + 38) div 39"))
      .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"))
    // exact verify on candidates only; no broadcast hints — AQE picks
    // broadcast while sets is small, shuffle join past that
    val repPairs = f.verified(cand)
      .withColumn("jaccard",
        col("ni").cast("double") / (col("nw_a") + col("nw_b") - col("ni")))
      .filter(col("jaccard") >= 0.95)
      .select("a_id", "b_id", "jaccard")
      .dropDuplicates("a_id", "b_id")
    (if (f.collapse) expandPairs(f.members, repPairs) else repPairs)
      .orderBy("a_id", "b_id")
  }

  /** q75 body, parameterized like [[jaccardPairs]]. One corpus scan
    * for bitmap/size/prefix/fp (setSim scaladoc); verify via
    * [[SetSim.verified]] — bitmap popcount or count-join fallback. */
  private[llmdata] def containmentPairs(s: SparkSession, d: String,
      vocabBudget: Long = VocabBitmapBudget): DataFrame = {
    val f = setSim(s, d, Seq("lang", "fp"), withPrefix = true,
      nMinhash = 0, vocabBudget = vocabBudget)
    val repPairs = containmentDirected(f.work, f)
    (if (f.collapse) expandOrderedPairs(f.members, repPairs) else repPairs)
      .orderBy("a_id", "b_id")
  }

  /** All directed containment pairs (≥ 0.95) among `work`'s documents —
    * the shared core of q75 (expanded doc pairs) and q213 (rep-mode):
    * PPJoin prefix probe of the full inverted index, bitmap/count-join
    * verify, both passing directions emitted. */
  private def containmentDirected(work: DataFrame, f: SetSim)
      : DataFrame = {
    val sets = work
      // integer-exact ⌈0.95·nw⌉ = (19·nw + 19) div 20
      .withColumn("plen",
        (col("nw") - expr("(19 * nw + 19) div 20") + lit(1)).cast("int"))
      .withColumn("pre", expr("transform(slice(toks, 1, plen), t -> t.w)"))
      .select("doc_id", "lang", "nw", "pre", "toks")
    // positions ride both explodes (round 16, PPJoin's positional
    // filter — Xiao et al., public literature): pi/pj are each token's
    // 0-based rank in its doc's (df, w)-sorted list, i.e. ranks under
    // the SAME total order on both sides
    val pre = sets.select(col("doc_id").as("doc_id_a"),
      col("lang").as("lang_a"), col("nw").as("pnw_a"),
      posexplode(col("pre")).as(Seq("pi", "pw")))
    // the container side re-explodes the cached per-doc token list —
    // no second pass over the raw corpus, no doc-count join
    val full = sets.select(col("doc_id").as("doc_id_b"),
      col("lang").as("lang_b"), col("nw").as("pnw_b"),
      posexplode(expr("transform(toks, t -> t.w)")).as(Seq("pj", "w")))
    // probe = smaller set (ties broken by id); verify decides the
    // passing direction(s). The candidate distinct stays here
    // (unlike q28): the container side explodes FULL token lists, so
    // the token join's output is both large and skewed (every bucket
    // holds most of the corpus on this vocab) — the distinct's
    // exchange is what lets AQE rebalance before the verify joins;
    // without it the verify fuses into the skewed join's stage and
    // stragglers own the whole pipeline (measured 4–5× slower).
    //
    // POSITIONAL upper bound (output-preserving, guide §2.3 — shuffle
    // fewer bytes): every surviving pair needs ni ≥ ⌈0.95·nw_a⌉
    // (nw_a ≤ nw_b, so either passing direction implies it), and at
    // the pair's FIRST shared token under the global order — which is
    // in A's prefix by the prefix-filter theorem, with zero common
    // tokens before it on either side by minimality — the overlap is
    // at most 1 + min(remaining in A, remaining in B). Emissions
    // whose (pi, pj) cannot reach the threshold are dropped BEFORE
    // the candidate exchange; the first-match emission of every
    // qualifying pair always passes, so the post-distinct pair set is
    // unchanged (later-match emissions of a kept pair were duplicates
    // the distinct ate anyway).
    val cand = pre.join(full,
      col("pw") === col("w") && col("lang_a") === col("lang_b") &&
        (col("pnw_a") < col("pnw_b") ||
          (col("pnw_a") === col("pnw_b") &&
            col("doc_id_a") < col("doc_id_b"))) &&
        lit(1) + least(col("pnw_a") - col("pi") - 1,
          col("pnw_b") - col("pj") - 1) >=
          expr("(19 * pnw_a + 19) div 20"))
      .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"))
      .distinct()
    val verified = f.verified(cand)
      // gate BEFORE the persist, with the SAME double comparisons the
      // per-direction filters (and the oracle) apply: the cache holds
      // survivors only, not every verified candidate
      .filter(col("ni").cast("double") / col("nw_a") >= 0.95 ||
        col("ni").cast("double") / col("nw_b") >= 0.95)
      .transform(Caches.persist)
    def dir(x: String, y: String) = verified
      .withColumn("containment",
        col("ni").cast("double") / col(s"nw_$x"))
      .filter(col("containment") >= 0.95)
      .select(col(s"${x}_id").as("a_id"), col(s"${y}_id").as("b_id"),
        col("containment"))
    dir("a", "b").unionByName(dir("b", "a"))
  }

  /** q213 body — the REP-MODE containment output (round-11, the
    * production lever SCALE.md's round-10 profile named): q75's sf3
    * cost is its own OUTPUT — the expanded pair table rides three
    * pair-sized shuffles (two expansion joins + the contract's global
    * ORDER BY), ~35M rows at sf3, and no plan change can shrink an
    * output the contract materializes. This entry changes the
    * CONTRACT instead: one row per passing directed REP pair plus one
    * intra row per dup group (n ≥ 2), each carrying the group sizes
    * and the exact count of expanded ordered doc pairs it encodes
    * (`n_pairs` — cross: n_a·n_b; intra: n·(n−1)), so the full q75
    * pair set is derivable row-for-row (`expandOrderedPairs` is the
    * deterministic decoder, and Σ n_pairs ≡ |q75| — the spec pins
    * both) while the materialized table is REP-pair-bounded: every
    * shuffle downstream of the verify is rep-sized, never
    * member²-sized. At 100 TB this is the shippable artifact — a
    * consumer expands only the clusters it touches. */
  private[llmdata] def containmentReps(s: SparkSession, d: String)
      : DataFrame = {
    val f = setSim(s, d, Seq("lang", "fp"), withPrefix = true,
      nMinhash = 0)
    // ALWAYS rep-scoped (unlike q75's adaptive f.work): the rep-mode
    // contract is cluster-level regardless of whether the dup ratio
    // would have paid for a collapse-expand round trip
    val reps = f.sets.join(
      f.members.filter(col("doc_id") === col("gid")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val repPairs = containmentDirected(reps, f)
    val sizes = Caches.persist(
      f.members.groupBy("gid").agg(count(lit(1)).as("n")))
    val cross = repPairs
      .join(sizes.select(col("gid").as("a_id"), col("n").as("n_a")), "a_id")
      .join(sizes.select(col("gid").as("b_id"), col("n").as("n_b")), "b_id")
      .select(col("a_id").as("a_gid"), col("b_id").as("b_gid"),
        col("containment"), col("n_a"), col("n_b"),
        (col("n_a") * col("n_b")).as("n_pairs"))
    val intra = sizes.filter(col("n") >= 2)
      .select(col("gid").as("a_gid"), col("gid").as("b_gid"),
        lit(1.0).as("containment"), col("n").as("n_a"),
        col("n").as("n_b"), (col("n") * (col("n") - 1)).as("n_pairs"))
    cross.unionByName(intra).orderBy("a_gid", "b_gid")
  }

  /** q29 body, parameterized like [[jaccardPairs]]. One tokenize + one
    * shuffle: the per-doc groupBy computes the 8 minhash signatures,
    * the exact token bitmap (when the vocab fits the budget), and the
    * set size in a single aggregation pass (setSim).
    *
    * Identical token sets have identical signatures, bands and verify
    * outcomes — so when the collapse shrinks the input (shouldCollapse)
    * the whole LSH pipeline runs over one representative per distinct
    * set and pairs expand afterwards (expandPairs scaladoc). Banding
    * equivalence is exact: a rep pair shares a band iff every member
    * pair does. */
  private[llmdata] def minhashLsh(s: SparkSession, d: String,
      vocabBudget: Long = VocabBitmapBudget): DataFrame = {
    val f = setSim(s, d, Seq("fp"), withPrefix = false,
      nMinhash = 8, vocabBudget = vocabBudget)
    val sets = f.work
    val bands = sets.select(col("doc_id"), col("nw"),
      explode(array(
        md5(concat(lit("0"), col("s0"), col("s1"), col("s2"), col("s3"))),
        md5(concat(lit("1"), col("s4"), col("s5"), col("s6"), col("s7")))))
        .as("band"))
    // salted band self-join (dense band buckets on this corpus would
    // otherwise hot-spot) with the exact size-compatibility bound
    // applied IN the join: J ≥ 0.9 forces min(|r|,|s|)/max(|r|,|s|)
    // ≥ 0.9, i.e. 10·min ≥ 9·max in integers — pairs that fail can
    // never survive the verify, so pruning here is output-preserving.
    // Then exact verify (SetSim.verified) — same values as the
    // oracle's token-join rendering in both regimes. Candidates are
    // deduped AFTER the cheap popcount filter (survivor set ≪
    // candidate set) in the bitmap regime; the count-join regime
    // dedups first by construction. The verify joins carry NO
    // broadcast hint: the per-doc table is corpus-sized, so a forced
    // broadcast would OOM the driver at scale — AQE picks broadcast
    // while it is small and degrades to a shuffle join past the
    // threshold.
    val cand = saltedPairs(bands, "band", 16)
      .filter(least(col("nw_a"), col("nw_b")) * 10 >=
        greatest(col("nw_a"), col("nw_b")) * 9)
      .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"))
    val repPairs = f.verified(cand)
      .withColumn("jaccard",
        col("ni").cast("double") / (col("nw_a") + col("nw_b") - col("ni")))
      .filter(col("jaccard") >= 0.9)
      .select("a_id", "b_id", "jaccard")
      .dropDuplicates("a_id", "b_id")
    (if (f.collapse) expandPairs(f.members, repPairs) else repPairs)
      .orderBy("a_id", "b_id")
  }

  /** Union-find over packed value-pair edges (`va << 16 | vb`, both
    * 16-bit fingerprint values), with path halving and min-root union:
    * returns every value's root, which is the minimum value of its
    * component (a value in no edge is its own root). The value graph
    * is bounded by the fingerprint domain, so this is all driver work:
    * 2^16 nodes and at most 2^16·(16 + 120)/2 = 4,456,448 Hamming-≤2
    * edges (~36 MB packed). */
  private[llmdata] def componentRoots(edges: Array[Long]): Array[Int] = {
    val parent = Array.tabulate(1 << 16)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    edges.foreach { e =>
      val (ra, rb) = (find((e >>> 16).toInt), find((e & 0xFFFF).toInt))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.indices.foreach(v => parent(v) = find(v))
    parent
  }

  /** q55 body: connected components over the near-dup VALUE graph;
    * cluster id = min doc_id of the component; docs attach to their
    * value's component at the end (Hamming-0 dups collapse there
    * without ever being graph nodes). The value-pair edges collect in
    * one job and [[componentRoots]] labels them on the driver; the
    * per-value min doc is bounded by the same domain (≤ 2^16 rows), so
    * one more collect yields the (simhash → cluster_id) table and the
    * only distributed step left is a broadcast join onto the cached
    * per-doc fingerprints. Rounds of shuffle latency collapse into
    * milliseconds of driver CPU — the same justified driver-side
    * bound as IVF's sampled k-means centroids. */
  private[llmdata] def dupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (sh, vp) = simhashValues(s, d)
    val root = componentRoots(
      vp.select(shiftleft(col("va"), 16).bitwiseOR(col("vb"))).as[Long]
        .collect())
    val vmin = sh.groupBy("simhash").agg(min("doc_id").as("vmin")).collect()
    val cmin = Array.fill(1 << 16)(Long.MaxValue)
    vmin.foreach { r =>
      val c = root(r.getLong(0).toInt)
      cmin(c) = math.min(cmin(c), r.getLong(1))
    }
    val vmap = vmin.toSeq
      .map(r => (r.getLong(0), cmin(root(r.getLong(0).toInt))))
      .toDF("simhash", "cluster_id")
    sh.join(broadcast(vmap), "simhash")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val qs: Seq[Q] = Seq(
    // ---- q27: exact dedup — keep the first doc of each content-hash
    //      group (hash-groupBy; dropDuplicates semantics made explicit) ----
    Q(
      "q27_dedup_exact",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies", "fp")
        .orderBy("keep_id")
    },

    // ---- q28: word-set Jaccard similarity join (n-gram Jaccard with
    //      n=1 token shingles), blocked by lang, threshold 0.95.
    //      Inverted-index join: shuffle key = token. ----
    Q(
      "q28_jaccard_pairs",
      s"""WITH words AS (${Text.SqlTokenSet}),
        |wc AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM words a JOIN words b
        |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  CAST(ni AS DOUBLE)/(ca.nw + cb.nw - ni) AS jaccard
        |FROM inter JOIN wc ca ON ca.doc_id = a_id
        |           JOIN wc cb ON cb.doc_id = b_id
        |WHERE CAST(ni AS DOUBLE)/(ca.nw + cb.nw - ni) >= 0.95
        |ORDER BY a_id, b_id""".stripMargin,
    ) { (s, d) => jaccardPairs(s, d) },

    // ---- q75: token-set CONTAINMENT join — ordered pairs (a, b) with
    //      |A∩B|/|A| ≥ 0.95: a's content is (near-)inside b. The
    //      asymmetric dup case Jaccard misses entirely — a quote page
    //      inside a long article scores J = |A|/|B| ≈ 0 but C(a→b) = 1
    //      (SSJoin containment semantics; Chaudhuri et al., public
    //      literature). Candidates: the contained side's PPJoin prefix
    //      (rarest (1−t)·|A|+1 tokens) probes the FULL inverted index —
    //      containment puts no size bound on the container, so only the
    //      probe side prunes, and rarest-first ordering keeps the
    //      probed buckets the smallest ones. The probe side is always
    //      the SMALLER set: if ANY direction passes then ni ≥ t·min(nw)
    //      and the smaller→larger direction passes too, so
    //      prefix(smaller) ⋈ index(larger) finds every qualifying pair
    //      at half the unrestricted join's output. One bitmap verify
    //      per candidate emits whichever directions pass. Runs over
    //      exact-dup representatives when the collapse pays
    //      (shouldCollapse), like q28/q29. ----
    Q(
      "q75_containment",
      s"""WITH words AS (${Text.SqlTokenSet}),
        |wc AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM words a JOIN words b
        |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dirs AS (
        |  SELECT a_id, b_id, ni, ca.nw AS nw_a
        |  FROM inter JOIN wc ca ON ca.doc_id = a_id
        |  UNION ALL
        |  SELECT b_id AS a_id, a_id AS b_id, ni, cb.nw AS nw_a
        |  FROM inter JOIN wc cb ON cb.doc_id = b_id)
        |SELECT a_id, b_id, CAST(ni AS DOUBLE)/nw_a AS containment
        |FROM dirs WHERE CAST(ni AS DOUBLE)/nw_a >= 0.95
        |ORDER BY a_id, b_id""".stripMargin,
    ) { (s, d) => containmentPairs(s, d) },

    // ---- q213: REP-MODE containment — the round-10 sf3 profile's
    //      named production lever, implemented (round 11). q75's cost
    //      ceiling is its own output (35M expanded pairs at sf3 riding
    //      3 pair-sized shuffles — stage-profiled, SCALE.md); this
    //      entry emits the same information REP-pair-bounded: one row
    //      per passing directed rep pair (+ one intra row per dup
    //      group), with group sizes and the exact expanded-pair count
    //      each row encodes. Σ n_pairs ≡ |q75 output| and the
    //      expansion is deterministic (expandOrderedPairs), so a
    //      consumer reconstructs any cluster's pairs on demand without
    //      the engine ever materializing the quadratic table. ----
    Q(
      "q213_containment_reps",
      s"""WITH words AS (${Text.SqlTokenSet}),
        |sets AS (SELECT doc_id, lang, list_sort(list(w)) AS ts
        |  FROM words GROUP BY doc_id, lang),
        |grp AS (SELECT lang, ts, CAST(min(doc_id) AS BIGINT) AS gid,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM sets GROUP BY lang, ts),
        |wc AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM words a JOIN words b
        |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT gid FROM grp)
        |    AND b.doc_id IN (SELECT gid FROM grp)
        |  GROUP BY 1, 2),
        |dirs AS (
        |  SELECT a_id, b_id, ni, ca.nw AS nw_a
        |  FROM inter JOIN wc ca ON ca.doc_id = a_id
        |  UNION ALL
        |  SELECT b_id AS a_id, a_id AS b_id, ni, cb.nw AS nw_a
        |  FROM inter JOIN wc cb ON cb.doc_id = b_id),
        |crossp AS (
        |  SELECT d.a_id AS a_gid, d.b_id AS b_gid,
        |    CAST(ni AS DOUBLE)/nw_a AS containment,
        |    ga.n AS n_a, gb.n AS n_b,
        |    CAST(ga.n * gb.n AS BIGINT) AS n_pairs
        |  FROM dirs d JOIN grp ga ON ga.gid = d.a_id
        |    JOIN grp gb ON gb.gid = d.b_id
        |  WHERE CAST(ni AS DOUBLE)/nw_a >= 0.95),
        |intra AS (
        |  SELECT gid AS a_gid, gid AS b_gid, CAST(1.0 AS DOUBLE)
        |      AS containment,
        |    n AS n_a, n AS n_b, CAST(n * (n - 1) AS BIGINT) AS n_pairs
        |  FROM grp WHERE n >= 2)
        |SELECT * FROM (SELECT * FROM crossp UNION ALL
        |  SELECT * FROM intra)
        |ORDER BY a_gid, b_gid""".stripMargin,
    ) { (s, d) => containmentReps(s, d) },

    // ---- q58: n-gram (3-token shingle) Jaccard similarity join —
    //      the n-gram twin of q28's word-set join, threshold 0.8,
    //      blocked by lang. Same PPJoin prefix filtering (rarest
    //      shingles under the shared (df, g) total order), but the
    //      verify is a candidates-only shingle-equi-join count: the
    //      shingle vocabulary grows with the corpus (unlike the word
    //      vocab), so a per-doc bitmap would not stay fixed-width —
    //      the count-join shape is the open-vocabulary verify. ----
    Q(
      "q58_ngram_jaccard",
      s"""WITH sh AS (${Text.SqlShingleSet}),
        |sc AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM sh a JOIN sh b
        |    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  CAST(ni AS DOUBLE)/(ca.ns + cb.ns - ni) AS jaccard
        |FROM inter JOIN sc ca ON ca.doc_id = a_id
        |           JOIN sc cb ON cb.doc_id = b_id
        |WHERE CAST(ni AS DOUBLE)/(ca.ns + cb.ns - ni) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    ) { (s, d) =>
      // consumed by the df count, the prefix build, and both verify
      // sides — persist once, released via Caches
      val sh = Text.shingleSet(s, d).transform(Caches.persist)
      val dfc = sh.groupBy("lang", "g").agg(count(lit(1)).as("df"))
      val sets = sh.join(dfc, Seq("lang", "g"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("ns"),
          array_sort(collect_list(struct(col("df"), col("g")))).as("gs"))
        // integer-exact ⌈0.8·ns⌉ = (4·ns + 4) div 5
        .withColumn("plen",
          (col("ns") - expr("(4 * ns + 4) div 5") + lit(1)).cast("int"))
        .withColumn("pre", expr("transform(slice(gs, 1, plen), t -> t.g)"))
        .select("doc_id", "lang", "ns", "pre")
        .transform(Caches.persist)
      val pre = sets.select(col("doc_id"), col("lang"), col("ns"),
        explode(col("pre")).as("pg"))
      val a = pre.toDF("a_id", "lang_a", "ns_a", "pg")
      val b = pre.toDF("b_id", "lang_b", "ns_b", "pg_b")
      // J ≥ 0.8 forces 5·min(|a|,|b|) ≥ 4·max(|a|,|b|): prune inside
      // the join (output-preserving)
      val cand = a.join(b,
          col("pg") === col("pg_b") && col("lang_a") === col("lang_b") &&
            col("a_id") < col("b_id") &&
            least(col("ns_a"), col("ns_b")) * 5 >=
              greatest(col("ns_a"), col("ns_b")) * 4)
        .select("a_id", "b_id").distinct()
      val ni = cand
        .join(sh.select(col("doc_id").as("a_id"), col("lang"), col("g")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("lang"), col("g")),
          Seq("b_id", "lang", "g"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("ni"))
      val sizes = sets.select(col("doc_id"), col("ns"))
      ni.join(sizes.toDF("a_id", "ns_a"), "a_id")
        .join(sizes.toDF("b_id", "ns_b"), "b_id")
        .withColumn("jaccard",
          col("ni").cast("double") / (col("ns_a") + col("ns_b") - col("ni")))
        .filter(col("jaccard") >= 0.8)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    },

    // ---- q29: MinHash + LSH — 8 md5-based permutations, 2 bands of 4,
    //      candidate pairs from band-bucket equality, then exact
    //      Jaccard-verify ≥ 0.9 on candidates only. The open-vocabulary
    //      scale path: the shuffle key is the band hash (cardinality
    //      grows with the corpus), and only candidates are verified. ----
    Q(
      "q29_minhash_lsh",
      s"""WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |sigs AS (SELECT doc_id,
        |  min(md5(w||'#0')) AS s0, min(md5(w||'#1')) AS s1,
        |  min(md5(w||'#2')) AS s2, min(md5(w||'#3')) AS s3,
        |  min(md5(w||'#4')) AS s4, min(md5(w||'#5')) AS s5,
        |  min(md5(w||'#6')) AS s6, min(md5(w||'#7')) AS s7
        |  FROM words GROUP BY doc_id),
        |bands AS (SELECT doc_id, unnest([
        |  md5('0'||s0||s1||s2||s3), md5('1'||s4||s5||s6||s7)]) AS band FROM sigs),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |wc AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |inter AS (SELECT c.a_id, c.b_id, count(*) AS ni FROM cand c
        |  JOIN words wa ON wa.doc_id = c.a_id
        |  JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
        |  GROUP BY 1, 2)
        |SELECT i.a_id, i.b_id,
        |  CAST(ni AS DOUBLE)/(ca.nw + cb.nw - ni) AS jaccard
        |FROM inter i JOIN wc ca ON ca.doc_id = i.a_id
        |             JOIN wc cb ON cb.doc_id = i.b_id
        |WHERE CAST(ni AS DOUBLE)/(ca.nw + cb.nw - ni) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    ) { (s, d) => minhashLsh(s, d) },

    // ---- q30: SimHash — 16-bit fingerprint by per-bit weighted vote of
    //      token hashes (weight = term frequency). One integer per doc. ----
    Q(
      "q30_simhash",
      s"""WITH $SimhashCte
        |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    ) { (s, d) => simhashPlan(s, d).orderBy("doc_id") },

    // ---- q53: SimHash Hamming-ball near-dup pairs — the join q30's
    //      fingerprint exists FOR: all pairs within Hamming distance 2.
    //      Candidates by chunk pigeonhole (Manku et al., WWW'07 —
    //      public literature): split the f-bit fingerprint into d+1
    //      disjoint chunks; any pair with ≤ d differing bits agrees
    //      EXACTLY on ≥ 1 chunk, so candidates come from an equi-join
    //      on (chunk idx, chunk value) — never all pairs. The chunk
    //      count/width scales with fingerprint bits (64-bit prod
    //      fingerprints → 16-bit chunks → 65k buckets); the self-join
    //      is salted against dense-bucket skew, and the verify is one
    //      xor+popcount per candidate. ----
    Q(
      "q53_simhash_neardup",
      s"""WITH $SimhashCte
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY a_id, b_id""".stripMargin,
    ) { (s, d) =>
      // value-level candidates (simhashValues scaladoc), doc-level
      // output: Hamming-0 pairs are a self-join on the fingerprint
      // itself; 1–2-bit pairs expand the distinct-value pair list with
      // two long-keyed joins, carrying the value pair's popcount.
      val (sh, vp) = simhashValues(s, d)
      val intra = sh.select(col("doc_id").as("a_id"), col("simhash"))
        .join(sh.select(col("doc_id").as("b_id"), col("simhash")), "simhash")
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), lit(0).cast("int").as("hamming"))
      val cross = vp
        .join(sh.select(col("doc_id").as("da"), col("simhash").as("va")), "va")
        .join(sh.select(col("doc_id").as("db"), col("simhash").as("vb")), "vb")
        .select(least(col("da"), col("db")).as("a_id"),
          greatest(col("da"), col("db")).as("b_id"), col("hamming"))
      intra.unionByName(cross).orderBy("a_id", "b_id")
    },

    // ---- q55: duplicate-cluster assignment — connected components over
    //      the q53 near-dup pair graph, cluster id = min doc_id in the
    //      component, `keep` marks the one survivor per cluster (the
    //      "collapse near-dup groups" step after any pairwise dedup).
    //      The graph's nodes are distinct 16-bit fingerprint values, so
    //      it is bounded by the domain (≤ 4.5M edges) at any corpus
    //      size: one edge collect and a driver union-find label it
    //      ([[dupClusters]]). Exact integer min ⇒ deterministic,
    //      oracle = recursive-CTE transitive closure. ----
    Q(
      "q55_dup_clusters",
      s"""WITH RECURSIVE $SimhashCte,
        |pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
        |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |labels AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
        |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT doc_id, cluster_id, CAST(doc_id = cluster_id AS INT) AS keep
        |FROM labels ORDER BY doc_id""".stripMargin,
    ) { (s, d) => dupClusters(s, d) },



    // ---- q36: document fingerprints — canonical word-set hash (groups
    //      docs with identical vocabularies) + rolling 3-gram shingle
    //      min-hash (winnowing-style content fingerprint). ----
    Q(
      "q36_fingerprint",
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp_set,
        |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_min(list_transform(range(1, len(string_split(text,' ')) - 1),
        |        i -> md5(string_split(text,' ')[i] || ' ' ||
        |                 string_split(text,' ')[i+1] || ' ' ||
        |                 string_split(text,' ')[i+2])))
        |    ELSE NULL END AS fp_shingle
        |  FROM documents)
        |SELECT doc_id, fp_set, fp_shingle,
        |  count(*) OVER (PARTITION BY fp_set) AS n_same_set
        |FROM f ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      // token array materialized once per row (an inline split(...)
      // inside the lambda would re-tokenize per shingle)
      val t = col("t")
      val f = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(
          col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(t)))).as("fp_set"),
          when(size(t) >= 3,
            array_min(transform(sequence(lit(1), size(t) - 2),
              i => md5(concat_ws(" ",
                element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))))
            .otherwise(lit(null)).as("fp_shingle"))
      f.withColumn("n_same_set", count(lit(1)).over(Window.partitionBy("fp_set")))
        .orderBy("doc_id")
    },

    // ---- q61: Rabin–Karp rolling-hash fingerprint — the native
    //      `rolling_fp` expression (functions/RollingFp): min over all
    //      3-token windows of the polynomial hash, each token hashed
    //      ONCE and the window slid in O(1). q36's HOF rendering
    //      re-digests every window (O(n·k) md5 calls, CodegenFallback);
    //      this one is whole-stage-codegen with O(n) digests — the
    //      fingerprint pass you can afford over a 100 TB corpus. The
    //      oracle recomputes each window's polynomial directly (same
    //      md5-prefix token codes, same B/M) — value-identical since
    //      both reduce mod the same prime. ----
    Q(
      "q61_rolling_fp",
      """WITH tl AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tc AS (SELECT doc_id, len(w) AS n,
        |    list_transform(w, x ->
        |      CAST(('0x'||substr(md5(x),1,5)) AS BIGINT)) AS t
        |  FROM tl),
        |f AS (SELECT doc_id,
        |    CASE WHEN n >= 3 THEN
        |      list_min(list_transform(range(1, n - 1), i ->
        |        (((t[i]*1048576 + t[i+1]) % 1000000007) * 1048576
        |          + t[i+2]) % 1000000007))
        |    ELSE NULL END AS fp
        |  FROM tc)
        |SELECT doc_id, fp,
        |  CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same
        |FROM f ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("rolling_fp(split(text, ' '), 3)").as("fp"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy("fp")))
        .orderBy("doc_id")
    },

    // ---- q160: dedup yield curve — near-dup pair counts at Jaccard
    //      0.7 / 0.8 / 0.9 from ONE candidate pass: the what-if audit
    //      run BEFORE committing to a dedup threshold (every
    //      curation review asks "how much does 0.8 vs 0.9 actually
    //      remove"). The prefix filter is sized for the LOOSEST
    //      threshold (plen = nw − ⌈0.7·nw⌉ + 1, size prune
    //      10·min ≥ 7·max) so it is lossless for every reported
    //      threshold simultaneously; candidates verify ONCE, the
    //      three bucket counts ride one conditional aggregate over
    //      the survivors. The oracle brute-forces the same counts
    //      (candidate generation is an optimization, never a
    //      semantics change — same contract as q28).
    //
    //      CANONICAL-ROW dedup (bitmap regime): the 0.7 prefix admits
    //      ~10× more candidate rows than q28's 0.95 one, and at sf1
    //      ~13M pairs QUALIFY — so q28's dedup-the-survivors
    //      dropDuplicates becomes the dominant shuffle (measured: the
    //      survivor dedup cost ~3× the candidate join itself). A pair
    //      surfaces once per common PREFIX token; carrying each
    //      side's prefix BITMASK (same |V|/64-long layout as the
    //      verify mask) plus the matched token's own (bucket, bit)
    //      through the join makes "is this the pair's minimum-wid
    //      common prefix token" a ROW-LOCAL predicate — a pure
    //      function of the pair that exactly one surfaced row
    //      satisfies. Counting only canonical rows replaces the
    //      dropDuplicates shuffle with a map-side filter. With the
    //      canonical test and the verify popcount as native codegen'd
    //      kernels (NoCommonBitBelow / MaskIntersect — the HOF
    //      renderings were CodegenFallback and their boxed per-long
    //      lambda calls initially ATE the win at sf0.1), measured
    //      under the chunked fresh-JVM min-of-3 protocol: sf1 24.1 s
    //      → 3.4 s, sf0.1 2.8 s → 2.1 s. Row-dependent
    //      candidate pruning (e.g. PPJoin's positional filter) is
    //      intentionally ABSENT: it may drop the canonical row while
    //      a non-canonical one survives, silently losing the pair —
    //      and measured slower here anyway (the tiny closed vocab
    //      makes the positional bound vacuous for same-size docs).
    //      The open-vocabulary regime (bitmap off) keeps the
    //      verified + dropDuplicates shape. Lang-blocked
    //      like the whole q28 family. The thresholds LEFT JOIN the
    //      pair set (not a comma cross join) so a corpus with zero
    //      qualifying pairs still yields three zero-count rows —
    //      matching the Spark plan, which always emits one row per
    //      threshold from the single-row aggregate + explode. ----
    Q(
      "q160_dedup_yield_curve",
      """WITH words AS (SELECT DISTINCT doc_id, lang,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |wc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw
        |  FROM words GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    count(*) AS ni
        |  FROM words a JOIN words b
        |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT i.a_id, i.b_id,
        |    CAST(ni AS DOUBLE) / (ca.nw + cb.nw - ni) AS jac
        |  FROM inter i JOIN wc ca ON ca.doc_id = i.a_id
        |  JOIN wc cb ON cb.doc_id = i.b_id)
        |SELECT CAST(t.thr AS BIGINT) AS thr,
        |  CAST(count(CASE WHEN j.jac >= t.thr / 100.0 THEN 1 END)
        |    AS BIGINT) AS dup_pairs
        |FROM (VALUES (70), (80), (90)) AS t(thr) LEFT JOIN j ON TRUE
        |GROUP BY t.thr ORDER BY thr""".stripMargin,
    ) { (s, d) =>
      val f = setSim(s, d, Seq("lang", "fp"), withPrefix = true,
        nMinhash = 0)
      // prefix sized for the loosest curve point: ⌈0.7·nw⌉ = (7·nw+9) div 10
      val sized = f.work
        .withColumn("plen",
          (col("nw") - expr("(7 * nw + 9) div 10") + lit(1)).cast("int"))
        .withColumn("pres", expr("slice(toks, 1, plen)"))
      // mask-width seam for the fast path (the q117/VocabBitmapBudget
      // discipline): the canonical-row shape ships BOTH masks (2 ×
      // nBuckets longs) on every exploded prefix row through the
      // candidate shuffle, so its payload grows with vocabulary while
      // the dropDuplicates shape's stays slim ids. 64 buckets (vocab
      // ≤ 4096, ≤1 KB of masks per row) keeps the payload comparable
      // to the text row it replaced; past it, the pre-change
      // verified + dropDuplicates shape below handles the bitmap
      // regime too (SetSim.verified dispatches per regime).
      val fastPathMaskBudget = 64
      val repPairs = if (f.bitmap && f.nBuckets <= fastPathMaskBudget) {
        // fast path (decision log above): masks + prefix masks ride
        // the join rows; verify AND pair-dedup are row-local
        val sets = sized
          .withColumn("pmask", expr(
            s"""aggregate(pres, array_repeat(0L, ${f.nBuckets}),
               |  (acc, t) -> transform(acc,
               |    (x, i) -> IF(i = t.bucket, x | t.bit, x)))""".stripMargin))
          .select(col("doc_id"), col("lang"), col("nw"), col("mask"),
            col("pmask"), explode(col("pres")).as("pt"))
          .select(col("doc_id"), col("lang"), col("nw"), col("mask"),
            col("pmask"), col("pt.w").as("pw"),
            col("pt.bucket").as("pb"), col("pt.bit").as("pbit"))
        val a = sets.toDF(
          "doc_id_a", "lang_a", "nw_a", "mask_a", "pmask_a",
          "pw", "pb_a", "pbit_a")
        val b = sets.toDF(
          "doc_id_b", "lang_b", "nw_b", "mask_b", "pmask_b",
          "pw_b", "pb_b", "pbit_b")
        a.join(b,
          col("pw") === col("pw_b") && col("lang_a") === col("lang_b") &&
            col("doc_id_a") < col("doc_id_b") &&
            least(col("nw_a"), col("nw_b")) * 10 >=
              greatest(col("nw_a"), col("nw_b")) * 7)
          // canonical ⟺ the pair's common-prefix bitmap (pmask_a AND
          // pmask_b) has no bit strictly below this row's own (pb,
          // pbit): all lower buckets empty AND no lower bit in this
          // bucket ((pbit−1) is the lower mask even for the sign
          // bit). pw ∈ both prefixes, so its own bit is always set.
          // Native early-exit kernel — the HOF rendering (zip_with +
          // exists + element_at) was CodegenFallback and cost ~3
          // boxed calls per long per CANDIDATE row, which at sf0.1
          // outweighed the dedup shuffle it replaced (11.4 s vs the
          // old path's 2.9 s); see [[graft.functions.NoCommonBitBelow]].
          .filter({
            import org.apache.spark.sql.GraftSqlBridge.{column, expression}
            column(graft.functions.NoCommonBitBelow(
              expression(col("pmask_a")), expression(col("pmask_b")),
              expression(col("pb_a")), expression(col("pbit_a"))))
          })
          .withColumn("ni", maskIntersect(col("mask_a"), col("mask_b")))
          .withColumn("jaccard",
            col("ni").cast("double") /
              (col("nw_a") + col("nw_b") - col("ni")))
          .filter(col("jaccard") >= 0.7)
          .select(col("doc_id_a").as("a_id"),
            col("doc_id_b").as("b_id"), col("jaccard"))
      } else {
        // open-vocabulary regime: q28's verified + survivor-dedup shape
        val pre = sized.select(col("doc_id"), col("lang"), col("nw"),
          explode(expr("transform(pres, t -> t.w)")).as("pw"))
        val a = pre.toDF("doc_id_a", "lang_a", "nw_a", "pw")
        val b = pre.toDF("doc_id_b", "lang_b", "nw_b", "pw_b")
        val cand = a.join(b,
          col("pw") === col("pw_b") && col("lang_a") === col("lang_b") &&
            col("doc_id_a") < col("doc_id_b") &&
            least(col("nw_a"), col("nw_b")) * 10 >=
              greatest(col("nw_a"), col("nw_b")) * 7)
          .select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"))
        f.verified(cand)
          .withColumn("jaccard",
            col("ni").cast("double") /
              (col("nw_a") + col("nw_b") - col("ni")))
          .filter(col("jaccard") >= 0.7)
          .select("a_id", "b_id", "jaccard")
          .dropDuplicates("a_id", "b_id")
      }
      val pairs =
        if (f.collapse) expandPairs(f.members, repPairs) else repPairs
      val counts = pairs.agg(
        count(when(col("jaccard") >= 0.7, 1)).as("c70"),
        count(when(col("jaccard") >= 0.8, 1)).as("c80"),
        count(when(col("jaccard") >= 0.9, 1)).as("c90"))
      counts.select(explode(array(
          struct(lit(70L).as("thr"), col("c70").as("dup_pairs")),
          struct(lit(80L).as("thr"), col("c80").as("dup_pairs")),
          struct(lit(90L).as("thr"), col("c90").as("dup_pairs"))))
          .as("r"))
        .select(col("r.thr").as("thr"), col("r.dup_pairs").as("dup_pairs"))
        .orderBy("thr")
    },
  )
}
