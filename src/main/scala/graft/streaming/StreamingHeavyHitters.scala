package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (streaming) heavy-hitters — the ingest-time twin of the
  * batch Misra–Gries profile (q81, `functions/MisraGries`): maintain a
  * per-group frequent-items sketch ACROSS micro-batches, so a live
  * intake can watch for boilerplate tokens / hot keys while the corpus
  * streams in, with O(k) state per group at any stream length.
  *
  * The fold is literally [[graft.functions.MisraGries]]'s `reduce` —
  * one definition of the sketch, two execution surfaces (a batch
  * Aggregator under partial aggregation, a cross-batch stream fold
  * here), so the n/(k+1) underestimate bound and the
  * heavy-hitter-survival guarantee carry over verbatim. The stream
  * shape is a strict sequential fold (no merge step at all): the
  * classic single-pass Misra–Gries regime.
  *
  * Ordering contract: cross-batch order is arrival order (a sketch
  * can't reorder what hasn't arrived); within a micro-batch the fold
  * order is (doc_id, pos) — document order, then token position — so
  * partition order never leaks into the sketch and a replayed batch
  * folds identically.
  *
  * Emission contract: every batch that touches a group emits that
  * group's FULL current sketch, versioned by `n_seen` (the group's
  * total folded-token count) — snapshot rows, so a sink keyed by
  * (lang, n_seen) always holds a consistent sketch per version and
  * the latest version is `max(n_seen)`.
  *
  * Scale (100 TB intake): state is the k-bounded counter map per
  * group key (lang here; any profile key in production), shuffle is
  * the same lang-keyed exchange the batch aggregator uses; RocksDB
  * state store for high-cardinality group keys.
  */
object StreamingHeavyHitters extends Serializable {

  /** One token occurrence with its deterministic fold position. */
  final case class Tok(lang: String, doc_id: Long, pos: Int, w: String)

  /** Per-group state: the Misra–Gries buffer + total items folded.
    * `ver` is the state-schema version, checked on restore inside
    * [[foldBatch]] (see [[StateVersion]]). */
  final case class HHState(counts: Map[String, Long], n_seen: Long,
      ver: Int = HHStateVer)

  final val HHStateVer = 1

  /** One sketch snapshot row (versioned by n_seen). */
  final case class Estimate(lang: String, n_seen: Long, term: String,
      est: Long)

  /** (lang, doc_id, pos, w) token projection of a (doc_id, lang, text)
    * frame — stateless, batch or streaming. */
  def tokens(docs: DataFrame): Dataset[Tok] = {
    import docs.sparkSession.implicits._
    docs.select(col("lang"), col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("lang"), col("doc_id"), col("pos").cast("int").as("pos"),
        col("w"))
      .as[Tok]
  }

  /** One micro-batch's per-group fold: Misra–Gries `reduce` over the
    * batch in (doc_id, pos) order, then the full sketch snapshot. */
  private def foldBatch(lang: String, prev: HHState, rows: Iterator[Tok],
      k: Int): (HHState, Iterator[Estimate]) = {
    StateVersion.check(prev.ver, HHStateVer, "StreamingHeavyHitters.sketch")
    val mg = new graft.functions.MisraGries(k)
    val batch = rows.toSeq.sortBy(t => (t.doc_id, t.pos))
    val counts = batch.foldLeft(prev.counts)((b, t) => mg.reduce(b, t.w))
    val nSeen = prev.n_seen + batch.size
    val next = HHState(counts, nSeen)
    (next, counts.iterator.map { case (term, est) =>
      Estimate(lang, nSeen, term, est)
    })
  }

  /** The stateful sketch stage; works under a streaming query
    * (cross-batch fold) and in batch mode (one fold per group). */
  def sketch(in: Dataset[Tok], k: Int): Dataset[Estimate] = {
    import in.sparkSession.implicits._
    def fn(lang: String, rows: Iterator[Tok],
        st: GroupState[HHState]): Iterator[Estimate] = {
      val prev = st.getOption.getOrElse(HHState(Map.empty, 0L))
      val (next, out) = foldBatch(lang, prev, rows, k)
      st.update(next)
      out
    }
    in.groupByKey(_.lang)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Convenience: docs(doc_id, lang, text) → sketch snapshots. */
  def sketchDocs(docs: DataFrame, k: Int): Dataset[Estimate] =
    sketch(tokens(docs), k)
}
