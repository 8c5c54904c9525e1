package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (streaming) near-duplicate candidate detection.
  *
  * The batch dedup operators (q27–q29, q53, q55) answer "which docs in
  * this corpus are near-dups of each other". A training-data INGEST
  * pipeline needs the incremental question instead: "is this newly
  * arrived doc a near-dup of anything seen before?" — answered per
  * micro-batch, without re-scanning the corpus. This module is the
  * streaming rendering of q29's MinHash+LSH:
  *
  *  1. [[bands]] — per-row minhash signatures + LSH band keys. Pure
  *     projections (no shuffle, no state), so the SAME expressions run
  *     under `readStream` or batch. The signature definition matches
  *     batch q29 exactly (min over `md5(token#i)`, 8 permutations,
  *     2 bands of 4), so a streaming candidate set can be verified
  *     offline against the batch operator.
  *  2. [[candidates]] — `groupByKey(band).flatMapGroupsWithState`: the
  *     state per band bucket is the (bounded) list of prior docs whose
  *     signatures hashed there; each arriving doc emits one candidate
  *     pair per retained prior doc whose estimated Jaccard (matching
  *     signature components / 8) clears `minEst`, then joins the
  *     bucket. Near-dups are detected ACROSS micro-batches — the
  *     arrival-order contract an ingest dedup needs.
  *
  * Contract notes:
  *  - Candidates, not verdicts: LSH banding has false positives by
  *    construction, and the exact token sets are deliberately NOT
  *    carried in state (they would make state corpus-sized). The
  *    emitted `est` is the unbiased minhash estimate; exact
  *    verification of accepted candidates is a downstream batch join
  *    against the archived docs (the q29 verify shape).
  *  - A pair sharing BOTH bands is emitted once per band (state is
  *    partitioned by band; buckets cannot see each other) — dedup on
  *    (a_id, b_id) downstream if exactly-once pairs matter.
  *  - At-least-once replays of a doc the bucket has already processed
  *    are ignored, so sink output stays stable across micro-batch
  *    retries. This covers OVERFLOW docs too: a doc turned away by
  *    `maxPerBucket` is remembered by id (8 bytes, no signature), so
  *    its replay does not re-emit candidate pairs or re-count the
  *    overflow. The id memory is BOUNDED ([[overflowMemoryFactor]] ×
  *    maxPerBucket, newest kept): a replay of an id old enough to have
  *    been evicted re-emits its pairs — duplicate output under
  *    at-least-once, never wrong pairs — so replay stability is exact
  *    for the retained window and best-effort beyond it.
  *
  * Scale (100 TB corpus, 1000 executors):
  *  - The shuffle key is the band hash — open cardinality, grows with
  *    the corpus, so buckets stay small and spread; state is keyed the
  *    same way, so each executor holds only its key range (use the
  *    RocksDB state store provider for corpus-scale state).
  *  - `maxPerBucket` hard-bounds the per-key state; a bucket past the
  *    bound stops ADMITTING new members but keeps matching against the
  *    retained ones, and remembers turned-away ids (`overflowIds`).
  *    A persistently hot bucket is the classic stop-band (boilerplate
  *    text); raise bands×rows-per-band, or pre-filter boilerplate —
  *    both corpus decisions, not engine ones.
  *  - Production state hygiene: wire a TTL (a `GroupStateTimeout`)
  *    matched to the dedup horizon; the default here is NoTimeout
  *    because the reference pipeline's horizon is "ever seen".
  */
object StreamingDedup {

  /** One row per (doc, band): the doc's full 8-component minhash
    * signature plus the band bucket key it hashes to. */
  final case class DocBand(doc_id: Long, band: String, sig: Seq[String])

  /** A retained prior doc in a band bucket. */
  final case class BandDoc(doc_id: Long, sig: Seq[String])

  /** Per-bucket state: retained docs (newest first) + the ids of
    * arrivals the `maxPerBucket` bound turned away (ids only — kept so
    * an at-least-once REPLAY of an overflow doc is recognized and does
    * not re-emit its pairs). The replay memory is itself bounded
    * ([[overflowMemoryFactor]] × maxPerBucket, newest-first): without a
    * cap it would grow one id per turned-away arrival and a hot bucket
    * would blow up the state row — the exact failure `maxPerBucket`
    * exists to prevent. Evicting an old id only weakens REPLAY
    * suppression for that id (a replay re-emits its pairs — duplicate
    * output under at-least-once, never wrong pairs); `overflowCount` is
    * the running total and survives eviction.
    *
    * CHECKPOINT COMPATIBILITY: this case class IS the fMGWS state
    * encoder schema. Adding `overflowIds`/`overflowCount` (round 5)
    * broke compatibility with checkpoints written by earlier builds —
    * a restored query fails or misreads state. Restart such queries
    * from a fresh checkpoint (replay the source; at-least-once output
    * makes that safe). Any future field change carries the same cost:
    * evolve by adding a NEW versioned case class + mapper function
    * rather than editing this one silently. The trailing `ver` field
    * enforces that policy at restore time (see [[StateVersion]]):
    * bump [[BandStateVer]] on any semantic change. */
  final case class BandState(docs: List[BandDoc], overflowIds: List[Long],
      overflowCount: Long, ver: Int = StreamingDedup.BandStateVer)

  /** Current BandState schema version (v2 = v1 + overflow replay
    * memory + this version field). */
  final val BandStateVer = 2

  /** Replay-memory bound, as a multiple of `maxPerBucket`. */
  val overflowMemoryFactor = 8

  /** An emitted candidate pair (a_id < b_id), with the minhash
    * Jaccard estimate that cleared `minEst`. */
  final case class Candidate(a_id: Long, b_id: Long, band: String, est: Double)

  private val NPerm = 8

  /** Minhash signatures + band keys for a (doc_id, text) frame —
    * batch or streaming; stateless, shuffle-free projections only.
    *
    * Since round 10 the signature rides the native codegen'd
    * [[graft.functions.MinhashBands]] kernel: the previous per-token
    * md5 inside a higher-order `transform` was CodegenFallback (one
    * boxed lambda call per token × permutation) and StreamStateBench
    * measured it as 88% of the twin's per-row cost. Signature and
    * band definitions are BIT-IDENTICAL to q29's (MinhashBandsSpec
    * pins kernel ≡ HOF element-for-element), so the batch/stream and
    * candidates-parity contracts are unchanged. */
  def bands(docs: DataFrame): Dataset[DocBand] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val sb = column(graft.functions.MinhashBands(
      expression(array_distinct(split(col("text"), " ")))))
    docs
      // null text carries no shingles and can near-dup nothing: dropped
      // EXPLICITLY here (and in bandsReference — agreement by
      // construction, round-10 advice) rather than implicitly via the
      // kernel's null-in/null-out + explode(null); the HOF rendering
      // would otherwise emit null-band rows that pool every null-text
      // doc into one garbage candidate bucket
      .filter(col("text").isNotNull)
      .select(col("doc_id"), sb.as("sb"))
      .select(col("doc_id"),
        slice(col("sb"), 1, NPerm).as("sig"),
        explode(slice(col("sb"), NPerm + 1, 2)).as("band"))
      .as[DocBand]
  }

  /** The pre-kernel HOF rendering, kept as the parity REFERENCE the
    * spec checks the kernel against (one definition of "correct" that
    * is independent of the kernel's code). Not used on any hot path. */
  private[graft] def bandsReference(docs: DataFrame): Dataset[DocBand] = {
    import docs.sparkSession.implicits._
    val sigs = (0 until NPerm).map(i =>
      array_min(transform(col("ts"), w => md5(concat(w, lit("#" + i)))))
        .as(s"s$i"))
    docs
      .filter(col("text").isNotNull) // same null-text drop as bands()
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))
      .select(col("doc_id") +: sigs: _*)
      .select(col("doc_id"),
        array((0 until NPerm).map(i => col(s"s$i")): _*).as("sig"),
        explode(array(
          md5(concat(lit("0"), col("s0"), col("s1"), col("s2"), col("s3"))),
          md5(concat(lit("1"), col("s4"), col("s5"), col("s6"), col("s7")))))
          .as("band"))
      .as[DocBand]
  }

  /** The stateful candidate stage. Works under a streaming query
    * (cross-batch state) and in batch mode (each bucket processed
    * once) — the spec pins that both see the same pairs. */
  def candidates(db: Dataset[DocBand], maxPerBucket: Int = 256,
      minEst: Double = 0.5): Dataset[Candidate] = {
    import db.sparkSession.implicits._
    val overflowCap = overflowMemoryFactor * maxPerBucket
    def fn(band: String, rows: Iterator[DocBand],
        st: GroupState[BandState]): Iterator[Candidate] = {
      val prev = st.getOption.getOrElse(BandState(Nil, Nil, 0L))
      StateVersion.check(prev.ver, BandStateVer, "StreamingDedup.candidates")
      var kept = prev.docs
      var over = prev.overflowIds
      var overCount = prev.overflowCount
      // probe the replay memory as a Set: O(1) per arrival instead of
      // an O(|overflowIds|) list scan on every row of a hot bucket
      var overSet = over.toSet
      val out = List.newBuilder[Candidate]
      // deterministic within-batch order: ids, not partition order
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (!kept.exists(_.doc_id == r.doc_id) && !overSet.contains(r.doc_id)) {
          kept.foreach { p =>
            val est = p.sig.zip(r.sig).count { case (a, b) => a == b }
              .toDouble / NPerm
            if (est >= minEst)
              out += Candidate(math.min(p.doc_id, r.doc_id),
                math.max(p.doc_id, r.doc_id), band, est)
          }
          if (kept.size < maxPerBucket) kept = BandDoc(r.doc_id, r.sig) :: kept
          else { over = r.doc_id :: over; overSet += r.doc_id; overCount += 1 }
        }
      }
      // cap the replay memory (newest-first list: take keeps newest)
      if (over.length > overflowCap) over = over.take(overflowCap)
      st.update(BandState(kept, over, overCount))
      out.result().iterator
    }
    db.groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Convenience: docs(doc_id, text) → candidate pairs. */
  def candidatesForDocs(docs: DataFrame, maxPerBucket: Int = 256,
      minEst: Double = 0.5): Dataset[Candidate] =
    candidates(bands(docs), maxPerBucket, minEst)
}
