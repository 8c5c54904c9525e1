package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (streaming) distinct counting — the cross-batch twin of
  * the HyperLogLog aggregator (q110, `functions/HllAgg`), completing
  * the sketch-streaming matrix next to [[StreamingHeavyHitters]]
  * (Misra–Gries) and [[StreamingQuantiles]] (compactor stack): per-key
  * distinct cardinality maintained ACROSS micro-batches (live unique
  * devices/users/tokens per stream key), O(sparseMax + 2^p) state at
  * any stream length.
  *
  * The fold is literally `HllAgg.reduce` — one definition, two
  * execution surfaces — so the sparse-exact regime and the dense merge
  * identity carry over verbatim. Stronger than the other two twins: no
  * ordering contract is even NEEDED, because sparse∪sparse is a set
  * union and dense merge is register-wise max — ANY arrival order,
  * slicing, or partition layout yields the IDENTICAL buffer
  * (spec-pinned), so snapshots are deterministic without a fold-order
  * rule.
  *
  * Emission: every batch that touches a key emits that key's current
  * snapshot — `n_seen` (rows folded, the version stamp), the distinct
  * estimate, and whether the buffer is still in its EXACT regime (a
  * consumer alerting on unique-device counts can trust `exact=true`
  * snapshots value-for-value; q110's gate on the batch surface). */
object StreamingDistinct extends Serializable {
  import graft.functions.{HllAgg, HllBuf}

  final case class Obs(key: String, x: Long)

  /** `nSeen` versions snapshots (total rows folded, not distincts).
    * `ver` is the state-schema version, checked on restore inside
    * [[foldBatch]] (see [[StateVersion]]). */
  final case class DState(buf: HllBuf, nSeen: Long, ver: Int = DStateVer)

  final val DStateVer = 1

  final case class Snapshot(key: String, n_seen: Long,
      distinct_est: Long, exact: Boolean)

  /** One micro-batch's per-key fold: `HllAgg.reduce` over the batch,
    * then the snapshot. */
  private def foldBatch(key: String, agg: HllAgg, prev: Option[DState],
      rows: Iterator[Obs]): (DState, Snapshot) = {
    val st0 = prev.getOrElse(DState(agg.zero, 0L))
    StateVersion.check(st0.ver, DStateVer, "StreamingDistinct.track")
    var buf = st0.buf
    var n = st0.nSeen
    rows.foreach { o => buf = agg.reduce(buf, o.x); n += 1 }
    (DState(buf, n),
      Snapshot(key, n, agg.finish(buf), buf.dense.isEmpty))
  }

  /** The stateful distinct stage on `flatMapGroupsWithState`. */
  def track(in: Dataset[Obs], p: Int = 12, sparseMax: Int = 4096)
      : Dataset[Snapshot] = {
    import in.sparkSession.implicits._
    val agg = new HllAgg(p, sparseMax)
    def fn(key: String, rows: Iterator[Obs],
        st: GroupState[DState]): Iterator[Snapshot] = {
      val (next, snap) = foldBatch(key, agg, st.getOption, rows)
      st.update(next)
      Iterator.single(snap)
    }
    in.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }
}
