package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (streaming) quantile tracking — the cross-batch twin of
  * the compactor-stack quantile aggregator (q86,
  * `functions/QuantileSketch`), the way [[StreamingHeavyHitters]] twins
  * the Misra–Gries aggregator: maintain per-group rank sketches ACROSS
  * micro-batches (ingest-time latency/length percentiles), bounded
  * memory per group at any stream length.
  *
  * The fold is literally `QuantileSketch.insert` — one definition of
  * the sketch, two execution surfaces — so the compactor guarantees
  * (weight conservation, levels·n/c rank bound, n ≤ capacity exact
  * regime) carry over verbatim, and a stream that stays under capacity
  * reproduces the batch aggregator's output exactly (spec-pinned).
  *
  * Ordering contract: within a micro-batch the fold order is
  * (doc_id, seq) — deterministic, partition-order-proof; across
  * batches it is arrival order. In the exact regime order is
  * irrelevant (the state is the multiset); in the lossy regime the
  * rank BOUND is order-free even though the concrete estimate is not.
  *
  * Emission: every batch that touches a group emits that group's
  * current quantile snapshot versioned by `n_seen` (same contract as
  * [[StreamingHeavyHitters]]).
  *
  * Scale: state is O(capacity · log(n/capacity)) doubles per group
  * key; shuffle is the group-keyed exchange the batch aggregator
  * uses. RocksDB state store for high-cardinality keys.
  */
object StreamingQuantiles extends Serializable {
  import graft.functions.QuantileSketch
  import graft.functions.QuantileSketch.QState

  /** One observation with its deterministic fold position. */
  final case class Obs(key: String, doc_id: Long, seq: Int, x: Double)

  /** Versioned state envelope: `QState` is the SHARED batch-aggregator
    * buffer (editing it would change the q86 agg schema too), so the
    * streaming state wraps it rather than growing a field. `ver` is
    * checked on restore ([[StateVersion]]). */
  final case class VQState(sk: QState, ver: Int = VQStateVer)

  final val VQStateVer = 1

  /** One snapshot row (versioned by n_seen). */
  final case class Snapshot(key: String, n_seen: Long, qs: Seq[Double])

  /** One micro-batch's per-group fold: insert the batch in (doc_id, seq)
    * order and snapshot the quantiles. */
  private def foldBatch(key: String, prev: QState, rows: Iterator[Obs],
      capacity: Int, quantiles: Seq[Double]): (QState, Snapshot) = {
    val batch = rows.toSeq.sortBy(o => (o.doc_id, o.seq))
    val next = batch.foldLeft(prev)((s, o) =>
      QuantileSketch.insert(s, o.x, capacity))
    (next, Snapshot(key, QuantileSketch.count(next),
      QuantileSketch.quantiles(next, quantiles)))
  }

  /** The stateful sketch stage; batch or streaming. */
  def track(in: Dataset[Obs], capacity: Int, quantiles: Seq[Double])
      : Dataset[Snapshot] = {
    import in.sparkSession.implicits._
    def fn(key: String, rows: Iterator[Obs],
        st: GroupState[VQState]): Iterator[Snapshot] = {
      val prev = st.getOption.getOrElse(VQState(QuantileSketch.empty))
      StateVersion.check(prev.ver, VQStateVer, "StreamingQuantiles.track")
      val (next, snap) = foldBatch(key, prev.sk, rows, capacity, quantiles)
      st.update(VQState(next))
      Iterator.single(snap)
    }
    in.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Convenience: per-lang doc-length percentiles over a
    * (doc_id, lang, text) frame. */
  def docLengths(docs: DataFrame, capacity: Int = 1 << 16,
      quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): Dataset[Snapshot] = {
    import docs.sparkSession.implicits._
    track(
      docs.select(col("lang").as("key"), col("doc_id"), lit(0).as("seq"),
        length(col("text")).cast("double").as("x")).as[Obs],
      capacity, quantiles)
  }
}
