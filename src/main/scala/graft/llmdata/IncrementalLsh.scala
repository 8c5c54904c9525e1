package graft.llmdata

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `[EXT]` Incremental MinHash-LSH index maintenance — the production
  * shape of near-dup detection at 100 TB. A crawl-scale corpus is never
  * deduplicated in one shot: batches arrive continuously, and
  * recomputing q29's whole-corpus LSH per ingest would re-scan the
  * entire corpus for every batch. The lakehouse protocol instead
  * PERSISTS the per-document band index — `(doc_id, nw, band)`, two
  * rows per doc — and each ingest:
  *
  *   1. computes band rows for the NEW batch only (one tokenize pass
  *      over the batch — the corpus is never re-read);
  *   2. joins the batch's bands against the persisted index
  *      (new × indexed candidates) and against itself (new × new);
  *   3. exact-verifies candidates only, re-tokenizing exactly the
  *      candidate documents (a semi-join pushdown on the doc store —
  *      verify cost scales with candidates, not corpus); the verify
  *      regime is measured per ingest (the q28/q75/q29 auto-switch):
  *      bitmap AND+popcount while the candidate docs' vocabulary fits
  *      [[Dedup.VocabBitmapBudget]] (the dictionary is per-ingest
  *      scratch, never persisted — the index stays self-contained),
  *      q58's count-join past it;
  *   4. appends the batch's band rows to the index.
  *
  * Because MinHash signatures are row-local (min over the doc's own
  * tokens of md5(w||'#'||i) — no global vocabulary, no trained state),
  * banding is ingest-order independent: the union of pair emissions
  * over ANY batch partitioning equals the single-shot batch join. q109
  * runs the protocol end-to-end over a two-batch split and is
  * hash-checked against q29's full-corpus oracle; IncrementalLshSpec
  * additionally pins the parquet-round-trip of the index (the persisted
  * table is self-contained — no session state survives between
  * ingests) and three-batch associativity.
  *
  * Signature definitions are IDENTICAL to q29's (`Dedup.minhashLsh`)
  * by construction — 8 permutations min(md5(w||'#i')) over distinct
  * tokens, 2 bands of 4 hashed with a band-index prefix — so a batch
  * system can mix one-shot and incremental runs over the same index.
  *
  * Scale notes: the band join salts the INDEX side by doc_id and
  * replicates the (much smaller) batch side across salts, so a dense
  * band bucket — the skew hazard of a dup-heavy crawl — spreads over
  * 16 shuffle buckets instead of hot-spotting one task. Nothing
  * collects to the driver; the index is append-only (compaction is
  * `streaming/Maintenance`'s job, like any other table).
  */
object IncrementalLsh {
  private val NumSalts = 16

  /** Byte ceiling for broadcasting the per-doc verify masks (round 16):
    * the exact footprint `nCandDocs × (16 + 8·nBuckets)` is measured on
    * the driver before planning, so the broadcast can never be chosen
    * blind. 128 MB sits far under the executor/driver budgets yet
    * covers any local-scale ingest; past it the verify keeps the
    * shuffle-join shape. The spec forces the fallback by exercising
    * the over-budget branch indirectly through vocabulary size. */
  private[llmdata] val MaskBroadcastBytes: Long = 128L << 20

  /** Band-row schema the persisted index stores: 2 rows per doc. */
  private val IndexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("nw",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.StringType)))

  /** The committed index as a DataFrame — empty (same schema) for a
    * fresh `indexDir`. Layout + concurrency contract:
    * [[graft.sources.AppendLog]] (manifest-committed batch dirs,
    * serialized ingests enforced by `.ingest-lock` — round-6 VERDICT
    * item 3's treatment, extracted round 7 so IncrementalIndexing
    * shares it). */
  def readIndex(s: SparkSession, indexDir: String): DataFrame =
    graft.sources.AppendLog.read(s, indexDir, IndexSchema)

  /** Segment compaction (the `Maintenance` delegation the round-6
    * VERDICT noted): fold all committed batch dirs into one, band rows
    * sorted by band hash so the candidate equi-join's index side scans
    * clustered buckets. Serialized against ingests by the shared
    * AppendLog lock. */
  def compact(s: SparkSession, indexDir: String): Unit =
    graft.sources.AppendLog.compact(s, indexDir,
      _.sortWithinPartitions("band"))

  /** One SERIALIZED ingest against the persisted index at `indexDir`:
    * claims the lock, emits `batchDocs`'s near-dup pairs against the
    * committed index (plus within-batch), appends the batch's band rows
    * as a new `batch-<k>` dir, and commits it via a fresh
    * `manifest-<k>`. Returns the pair emission (reads only immutable
    * committed dirs, so it stays valid after the lock releases).
    * Refuses loudly when another ingest holds the lock — two concurrent
    * ingests would each join the index as of its own start and silently
    * miss each other's batch×batch pairs, an under-emission no later
    * run repairs (each batch is in the other's index afterwards, but
    * the emission already happened). See [[graft.sources.AppendLog]]
    * for the crash-recovery instruction. */
  def ingest(s: SparkSession, indexDir: String, batchDocs: DataFrame,
      docs: DataFrame): DataFrame =
    graft.sources.AppendLog.append(s, indexDir) { (_, committed, batchName) =>
      val index =
        if (committed.isEmpty) readIndex(s, indexDir)
        else s.read.parquet(committed.map(b => s"$indexDir/$b"): _*)
      bandIndex(batchDocs).write.parquet(s"$indexDir/$batchName")
      val batchIdx = s.read.parquet(s"$indexDir/$batchName")
      ingestPairs(index, batchIdx, docs)
    }

  /** Per-document band rows for a corpus slice: `(doc_id, nw, band)`,
    * 2 rows per doc — the unit the index table persists. One tokenize
    * pass; `nw` (distinct-token count) rides the same aggregation so
    * the verify's size terms need no second scan. */
  def bandIndex(docs: DataFrame): DataFrame = {
    // per-doc token dedup is row-local (round 15, the setSim change):
    // doc_id never crosses rows, so array_distinct before the explode
    // replaces the full-token-table distinct exchange with zero shuffle
    val sigs = Tables.spread(docs)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"),
        (0 until 8).map(i =>
          min(md5(concat(col("w"), lit("#" + i)))).as(s"s$i")): _*)
    sigs.select(col("doc_id"), col("nw"),
      explode(array(
        md5(concat(lit("0"), col("s0"), col("s1"), col("s2"), col("s3"))),
        md5(concat(lit("1"), col("s4"), col("s5"), col("s6"), col("s7")))))
        .as("band"))
  }

  /** One ingest: near-dup pairs `(a_id, b_id, jaccard)` (J ≥ 0.9,
    * a_id < b_id) contributed by `newIdx`'s batch — new × indexed plus
    * new × new. `docs` is the document store the verify re-tokenizes
    * candidates from (semi-join pushdown; only candidate docs are
    * read). Emissions over successive ingests partition q29's
    * full-corpus pair set exactly. */
  def ingestPairs(index: DataFrame, newIdx: DataFrame, docs: DataFrame)
      : DataFrame = {
    // candidate generation: equi-join on the band hash. The index side
    // keeps a pmod salt, the batch side replicates to every salt —
    // each (indexed, new) pair meets exactly once, at the indexed
    // row's salt. Size-compatibility (10·min ≥ 9·max ⇔ the J ≥ 0.9
    // bound on |A|/|B|) prunes in the join output, before the verify.
    val idx = index.select(col("doc_id").as("a_id"), col("nw").as("nw_a"),
        col("band"), pmod(col("doc_id"), lit(NumSalts)).as("salt"))
    val batchRep = newIdx.select(col("doc_id").as("b_id"),
        col("nw").as("nw_b"), col("band"))
      .withColumn("salt", explode(sequence(lit(0), lit(NumSalts - 1))))
    val cross = idx.join(batchRep, Seq("band", "salt"))
    // within-batch: the same salted self-join shape, a_id < b_id
    val wa = newIdx.select(col("doc_id").as("a_id"), col("nw").as("nw_a"),
      col("band"), pmod(col("doc_id"), lit(NumSalts)).as("salt"))
    val within = wa.join(batchRep, Seq("band", "salt"))
      .filter(col("a_id") < col("b_id"))
    val sized = cross.unionByName(within)
      .filter(least(col("nw_a"), col("nw_b")) * 10 >=
        greatest(col("nw_a"), col("nw_b")) * 9)
    // canonical unordered pair ids; distinct BEFORE the verify (a pair
    // sharing both bands must verify once) — and PERSISTED: the verify
    // consumes candidates on several joins, and re-running the salted
    // band join per consumer was the round-6 probe's top recomputation
    val cand = graft.Caches.persist(sized.select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct())
    // exact verify on candidates only: re-tokenize exactly the docs
    // that appear in a candidate pair (left_semi pushes the id set
    // into the doc-store scan — verify cost scales with candidates,
    // not corpus). Persisted: both verify sides read it.
    val candDocs = cand.select(col("a_id").as("doc_id"))
      .unionByName(cand.select(col("b_id").as("doc_id"))).distinct()
    // explicit round-robin repartition sized to the SESSION's
    // parallelism (round 16, guide §2.5/§2.2): AQE sizes the
    // semi-join's post-shuffle stage from its INPUT bytes — a few
    // hundred KB of compressed doc rows — and coalesced it to ONE
    // task, which then ran the whole tokenize + explode + mask
    // aggregation serially (the stage's OUTPUT work is invisible to
    // coalescing: the round-12 expansion-stage blind spot, and the
    // one unstable 32-core stage left in the bench — 0.6–1.1 s serial
    // per ingest in the stage profile). Round-robin REPARTITION_BY_NUM
    // is exempt from AQE coalescing by design AND cannot be absorbed
    // by EnsureRequirements (a doc_id hash repartition here was
    // measured to be folded into the join's own coalescible
    // ENSURE_REQUIREMENTS exchange — same 1-task stage). Pre-explode
    // the frame is one row per doc, so each doc's token rows stay
    // task-local and the mask partial aggregation still produces one
    // row per doc before any further shuffle. Scale-adaptive, not a
    // constant: `par` follows the session's core count locally and
    // the cluster's default parallelism in production; at production
    // split counts the exchange moves only the candidate docs.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = graft.Caches.persist(
      docs.join(candDocs, Seq("doc_id"), "left_semi")
        .repartition(par)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w")))
    // persisted (round 16): the a-side and b-side joins each
    // materialize their own broadcast of this table, and without the
    // cache each build re-ran the union + distinct over the band
    // caches — the same double-build the masks table showed
    val nw = graft.Caches.persist(index.select("doc_id", "nw")
      .unionByName(newIdx.select("doc_id", "nw")).distinct())
    // Verify regime is MEASURED per ingest (the q28/q75/q29 auto-switch,
    // scoped to the candidate docs' vocabulary): when it fits the bitmap
    // budget, the intersection is an AND+popcount over per-doc masks —
    // one row per doc through the joins instead of one row per shared
    // token, which on a band-dense corpus (4.8M candidates at sf0.1)
    // is the difference between a ~2 s and a ~20 s verify. The
    // dictionary is per-ingest SCRATCH (never persisted), so the index
    // stays self-contained and the protocol keeps its no-global-state
    // property; past the budget the q58 count-join shape runs instead —
    // same exact values. The probe is Dedup.vocabBits'.
    val ni3 = Dedup.vocabBits(toks) match {
      case Some((bits, nBuckets)) =>
        // measured broadcast guard for the verify joins (round 16,
        // guide §3.1): without it the planner could not size the masks
        // aggregate (then built over an RDD-backed vocab), so AQE
        // broadcast the CANDIDATE side
        // — 866 K (a_id, b_id) pairs at sf0.1 — and then shuffled +
        // sorted the pair-sized join-1 output by b_id (13 MB exchange,
        // the warm path's dominant stage). Masks is the per-DOC side
        // (one row per candidate doc, |rows| ≪ |pairs| by
        // construction), and its exact broadcast footprint is known on
        // the driver before planning: rows × (key + nBuckets longs).
        // Under the budget both verify joins broadcast masks and the
        // candidate cache streams through with ZERO exchanges; past it
        // (a 100 TB ingest with tens of millions of candidate docs)
        // the shuffle join keeps its safe shape.
        val nCandDocs = candDocs.count()
        val maskBytes = nCandDocs * (16L + 8L * nBuckets)
        // persisted: the two verify sides each materialize their own
        // build of this subtree (measured — the canonically-equal
        // broadcast stages did NOT reuse across the self-join's
        // deduplicated aliases), so without the cache the aggregate
        // runs twice per ingest; with it the second build is a cache
        // scan
        val masks = graft.Caches.persist(bits.groupBy("doc_id")
          .agg(array(Dedup.bucketMasks(nBuckets): _*).as("mask")))
        val mB = if (maskBytes <= MaskBroadcastBytes) broadcast(masks)
          else masks
        cand
          .join(mB.as("ma"), col("a_id") === col("ma.doc_id"))
          .join(mB.as("mb"), col("b_id") === col("mb.doc_id"))
          .withColumn("ni",
            Dedup.maskIntersect(col("ma.mask"), col("mb.mask")))
          .select("a_id", "b_id", "ni")
      case None =>
        cand
          .join(toks.toDF("a_id", "w"), "a_id")
          .join(toks.toDF("b_id", "w"), Seq("b_id", "w"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("ni"))
    }
    ni3
      .join(nw.toDF("a_id", "nw_a"), "a_id")
      .join(nw.toDF("b_id", "nw_b"), "b_id")
      .withColumn("jaccard",
        col("ni").cast("double") / (col("nw_a") + col("nw_b") - col("ni")))
      .filter(col("jaccard") >= 0.9)
      .select("a_id", "b_id", "jaccard")
  }

  /** q109 body, parameterized so the spec can vary the batch count:
    * split the corpus into `nBatches` by doc_id range, run the ingest
    * protocol batch by batch (each batch joins the index accumulated
    * from the previous ones), and union the emissions. Must equal q29's
    * single-shot output for ANY split. */
  private[llmdata] def incrementalPairs(s: SparkSession, d: String,
      nBatches: Int = 2): DataFrame = {
    val docs = Tables.documents(s, d)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val step = maxId / nBatches + 1
    val batches = (0 until nBatches).map { i =>
      graft.Caches.persist(bandIndex(
        docs.filter(col("doc_id") >= i * step &&
          col("doc_id") < (i + 1) * step)))
    }
    val emissions = (0 until nBatches).map { i =>
      val index =
        if (i == 0) batches.head.limit(0)
        else batches.take(i).reduce(_ unionByName _)
      ingestPairs(index, batches(i), docs)
    }
    emissions.reduce(_ unionByName _).orderBy("a_id", "b_id")
  }

  val qs: Seq[Q] = Seq(
    // ---- q109: incremental LSH ingest — the batch-maintenance twin of
    //      q29 (and the batch twin of streaming/StreamingDedup): the
    //      corpus arrives as doc_id-range batches, each ingest joins
    //      only its batch's bands against the accumulated index, and
    //      the union of emissions must reproduce q29's single-shot
    //      pair set exactly — hash-checked by the same full-corpus
    //      DuckDB oracle. ----
    Q(
      "q109_incremental_minhash",
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
    ) { (s, d) => incrementalPairs(s, d) },
  )
}
