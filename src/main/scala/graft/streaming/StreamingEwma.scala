package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming EWMA — the unbounded execution surface of q112's dyadic
  * exponentially-weighted moving average (the EWMA control chart, the
  * classic telemetry smoother/anomaly baseline — the reference's own
  * domain). Each event's score is the weighted mean of the 16 PRIOR
  * events of its key in EVENT-TIME order, weights 2^15..2^0 (α = 1/2
  * truncated — q112's exact-decimal construction replayed here with
  * the same arithmetic, so stream and batch agree bit-for-bit).
  *
  * Why this is not a windowed aggregate: the score depends on the 16
  * events BEFORE each row under event-time order — a sliding count
  * window, which Structured Streaming's time-window aggregates cannot
  * express. The state is a bounded ring instead: the key's 16 most
  * recent scored observations.
  *
  * Emission is WATERMARK-delayed (the [[StreamingAsOfJoin]] /
  * [[StreamingResample]] discipline): an event is scored only once
  * the watermark passes its timestamp, when its history is complete
  * under the lateness contract — so the emitted score is exact for
  * ANY arrival interleaving within lateness, and history order equals
  * event-time order (arrival order never decides a score). Events
  * with no later key activity flush via the event-time timer; rows
  * arriving at-or-before the watermark are late and drop (T3), which
  * is what keeps already-emitted scores final.
  *
  * State per key is O(Lags + lateness window): the 16-observation
  * history plus the pending buffer the watermark has not released.
  * `retireAfterMs` bounds the idle-key history memory (the
  * round-5 resample ADVICE class): a key idle past the horizon drops
  * its state and restarts cold — a returning event scores like a new
  * key. The `flatMapGroupsWithState` stage [[scored]] drives the fold
  * [[advance]] on input and on timer alike.
  */
object StreamingEwma extends Serializable {

  /** Truncation depth: weights 2^(Lags-1)..2^0 over the prior events,
    * newest first — q112's exact-integer weight ladder. */
  val Lags = 16

  final case class Ev(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double)

  /** One scored-or-pending observation. */
  final case class Obs(tsMs: Long, eid: Long, value: Double)

  /** `hist` is newest-first, already scored, length ≤ [[Lags]];
    * `pending` holds rows the watermark has not released. */
  final case class EwmaState(hist: List[Obs], pending: List[Obs],
      ver: Int = EwmaStateVer)

  /** State-schema version, checked on every restore inside [[advance]]
    * (see [[StateVersion]]). */
  final val EwmaStateVer = 2

  /** `ewma` is None for a key's first event (no history — q112's NULL
    * row); `is_spike` mirrors q112's `value > 2·ewma`, 0 when there is
    * no history. */
  final case class EwmaOut(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, ewma: Option[Double], is_spike: Int)

  /** The events schema as fold input. Stateless; batch or streaming. */
  def forEvents(events: DataFrame): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"),
      col("value").cast("double").as("value")).as[Ev]
  }

  /** q112's decimal arithmetic replayed exactly: each value rounds to
    * DECIMAL(…,2) (HALF_UP — Spark's double→decimal cast rule), scales
    * by the integer weight, sums EXACTLY in BigDecimal, and the only
    * IEEE step is the final division — so a stream score equals the
    * batch window's bit-for-bit. */
  private[streaming] def ewmaOf(hist: List[Obs]): Option[Double] = {
    val h = hist.take(Lags)
    if (h.isEmpty) None
    else {
      var num = JBigDecimal.ZERO
      var den = 0L
      h.zipWithIndex.foreach { case (o, i) =>
        val w = 1L << (Lags - 1 - i)
        num = num.add(JBigDecimal.valueOf(o.value)
          .setScale(2, RoundingMode.HALF_UP)
          .multiply(JBigDecimal.valueOf(w)))
        den += w
      }
      Some(num.doubleValue() / den.toDouble)
    }
  }

  /** The stage's fold: buffer arrivals, score and emit
    * every pending event the watermark has passed (in event-time
    * order, updating the ring as each emits), keep the rest. Returns
    * (new state — None ⟺ nothing left to hold, emitted rows, timer to
    * arm — None ⟺ nothing pending). */
  private[streaming] def advance(key: Long, st0: Option[EwmaState],
      rows: Seq[Ev], wmMs: Long)
      : (Option[EwmaState], Seq[EwmaOut], Option[Long]) = {
    st0.foreach(s =>
      StateVersion.check(s.ver, EwmaStateVer, "StreamingEwma.advance"))
    var pending = st0.map(_.pending).getOrElse(Nil)
    rows.foreach { r =>
      if (r.ts.getTime > wmMs)
        pending ::= Obs(r.ts.getTime, r.event_id, r.value)
      // else: late row — finalized region, dropped (T3)
    }
    val (emitNow, keep) = pending.partition(_.tsMs <= wmMs)
    var hist = st0.map(_.hist).getOrElse(Nil)
    val out = emitNow.sortBy(o => (o.tsMs, o.eid)).map { o =>
      val e = ewmaOf(hist)
      hist = (o :: hist).take(Lags)
      EwmaOut(key, o.eid, new Timestamp(o.tsMs), o.value, e,
        if (e.exists(x => o.value > 2 * x)) 1 else 0)
    }
    val timer = keep.map(_.tsMs).minOption
    val st1 = if (hist.isEmpty && keep.isEmpty) None
      else Some(EwmaState(hist, keep))
    (st1, out, timer)
  }

  /** The stage on `flatMapGroupsWithState`. `evs` must carry
    * event-time `ts`; the watermark is applied here. */
  def scored(evs: Dataset[Ev], lateness: String = "0 seconds",
      retireAfterMs: Option[Long] = None): Dataset[EwmaOut] = {
    import evs.sparkSession.implicits._
    def fn(key: Long, rows: Iterator[Ev], st: GroupState[EwmaState])
        : Iterator[EwmaOut] = {
      val wm = st.getCurrentWatermarkMs()
      val rs = rows.toSeq
      val (st1, out, timer) = advance(key, st.getOption, rs, wm)
      // timer fired with no input, nothing emitted, nothing pending ⟺
      // the RETIREMENT timer (the flush timer always has a row to
      // emit): drop the history memory
      if (st.hasTimedOut && rs.isEmpty && out.isEmpty
          && st1.forall(_.pending.isEmpty) && retireAfterMs.isDefined) {
        if (st.exists) st.remove()
        return Iterator.empty
      }
      st1 match {
        case Some(s) => st.update(s)
        case None => if (st.exists) st.remove()
      }
      // arm ts−1: event-time timeouts fire only when the watermark
      // STRICTLY exceeds the armed instant, while emission includes
      // wm == event ts (the StreamingResample boundary rule)
      timer match {
        case Some(t) => st.setTimeoutTimestamp(t - 1)
        case None => retireAfterMs.foreach(r =>
          if (st1.isDefined) st.setTimeoutTimestamp(wm + r))
      }
      out.iterator
    }
    evs.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
