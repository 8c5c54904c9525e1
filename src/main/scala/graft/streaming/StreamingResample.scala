package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (streaming) gap-fill + LOCF resampling — the cross-batch
  * twin of q107 (`relational/EventOps`): per user, one row per hour from
  * first to last activity, empty hours flagged and carrying the
  * last-observation value forward.
  *
  * This is the library's first TIMER-driven stage. Every other stateful
  * op emits only when input arrives; a gap-filler's whole point is to
  * emit WHEN NOTHING ARRIVES, so finalization is driven by the
  * event-time watermark passing an hour boundary — `flatMapGroupsWithState`
  * arms its `EventTimeTimeout`, and input and timer drive the same fold
  * ([[advance]]).
  *
  * Contract (batch-q107 parity, spec-pinned):
  *  - an hour finalizes once the watermark passes its end AND the state
  *    still holds activity at or after it — so trailing hours stay open
  *    (the batch grid ends at the last event; a stream cannot know the
  *    last event has happened, it can only refuse to emit past the
  *    latest one seen);
  *  - the in-hour representative is the max-(ts, event_id) event's value
  *    (exactly q107's `max_by`); gap hours carry the previous hour's
  *    LOCF value;
  *  - events at hours the cursor has already finalized (stragglers past
  *    the configured lateness) are dropped — the standard watermark
  *    contract (T3); before anything has been emitted the grid still
  *    extends DOWNWARD to earlier in-lateness arrivals, matching the
  *    batch grid's true min hour.
  *
  * Scale: state per user is the LOCF cursor plus one entry per
  * not-yet-finalized hour — bounded by the lateness window, not the
  * stream length; the shuffle is the user-keyed exchange the batch
  * rendering uses.
  */
object StreamingResample extends Serializable {
  private val HourMs = 3600000L
  private def floorHour(tsMs: Long): Long = Math.floorDiv(tsMs, HourMs) * HourMs

  final case class Ev(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  final case class HourRow(user_id: Long, hr: Timestamp, n_events: Long,
      is_gap: Int, v: Double)

  /** LOCF cursor: next hour to finalize, the carried value, and whether
    * any hour has been emitted yet. */
  final case class Cursor(hourMs: Long, locf: Double, hasEmitted: Boolean,
      ver: Int = CursorVer)

  /** State-schema version: the cursor rides inside [[FillState]], so
    * checking it inside [[advance]] covers the whole state (see
    * [[StateVersion]]). */
  final val CursorVer = 2

  /** Per-open-hour aggregate: count plus the max-(ts, event_id) value —
    * the same deterministic in-hour pick as batch q107's `max_by`. */
  final case class HourAgg(n: Long, tsMs: Long, eid: Long, v: Double)

  /** The stage's single-value state: cursor plus open hours. */
  final case class FillState(cursor: Cursor, pending: Map[Long, HourAgg])

  /** The stage's fold: apply `rows`, then finalize every
    * hour the watermark has passed while later-or-equal activity remains
    * pending. Returns the new cursor (None ⟺ still no data), the
    * surviving pending hours, the rows to emit (hour order), and the
    * event-time timer to arm (None when nothing is pending). */
  private[streaming] def advance(key: Long, cursor0: Option[Cursor],
      pending0: Map[Long, HourAgg], rows: Seq[Ev], watermarkMs: Long)
      : (Option[Cursor], Map[Long, HourAgg], Seq[HourRow], Option[Long]) = {
    cursor0.foreach(c =>
      StateVersion.check(c.ver, CursorVer, "StreamingResample.advance"))
    val sorted = rows.sortBy(e => (e.ts.getTime, e.event_id))
    if (cursor0.isEmpty && sorted.isEmpty)
      return (None, pending0, Nil, None)
    var cur = cursor0.getOrElse(
      Cursor(floorHour(sorted.head.ts.getTime), 0.0, hasEmitted = false))
    var pending = pending0
    sorted.foreach { e =>
      val h = floorHour(e.ts.getTime)
      // before the first emission the grid still extends downward; after
      // it, h < cursor means the hour is finalized — drop (T3)
      if (h < cur.hourMs && !cur.hasEmitted) cur = cur.copy(hourMs = h)
      if (h >= cur.hourMs) {
        val tMs = e.ts.getTime
        val nxt = pending.get(h) match {
          case Some(a) =>
            val newer = tMs > a.tsMs || (tMs == a.tsMs && e.event_id > a.eid)
            HourAgg(a.n + 1,
              if (newer) tMs else a.tsMs,
              if (newer) e.event_id else a.eid,
              if (newer) e.value else a.v)
          case None => HourAgg(1L, tMs, e.event_id, e.value)
        }
        pending += h -> nxt
      }
    }
    val out = Seq.newBuilder[HourRow]
    // pending keys are always >= cursor, so nonEmpty ⟺ "later-or-equal
    // activity brackets this hour" — the batch-grid trailing bound
    while (cur.hourMs + HourMs <= watermarkMs && pending.nonEmpty) {
      val agg = pending.get(cur.hourMs)
      val locf = agg.map(_.v).getOrElse(cur.locf)
      out += HourRow(key, new Timestamp(cur.hourMs),
        agg.map(_.n).getOrElse(0L), if (agg.isEmpty) 1 else 0, locf)
      pending -= cur.hourMs
      cur = Cursor(cur.hourMs + HourMs, locf, hasEmitted = true)
    }
    val timer = if (pending.nonEmpty) Some(cur.hourMs + HourMs) else None
    (Some(cur), pending, out.result(), timer)
  }

  /** The gap-fill stage on `flatMapGroupsWithState` (event-time timeout
    * as the timer). `ds` must carry event-time `ts`; the watermark is
    * applied here.
    *
    * `retireAfterMs`: optional cursor-retirement horizon. Without it
    * the per-user LOCF cursor lives FOREVER, so state grows with total
    * distinct-user cardinality over the query lifetime even for users
    * idle for months (round-5 ADVICE) — the same unbounded-state class
    * `maxPerBucket` exists to prevent in the dedup/ANN stages. With it,
    * a user whose hours are all finalized and who stays idle while the
    * watermark advances `retireAfterMs` past their last finalized
    * activity has their state DROPPED. Trade-off (LOCF memory): a user
    * who returns after retirement starts a fresh grid at their next
    * event's hour — the idle gap is NOT emitted as gap rows and the old
    * LOCF value is forgotten, exactly as if they were a new user. Hours
    * already emitted are never re-emitted: a returning event is ≥
    * watermark − lateness, which is past the retired grid's end
    * whenever `retireAfterMs` ≥ the lateness window (keep it so). An
    * event-time horizon (not wall-clock) so replays retire
    * deterministically. */
  def fill(ds: Dataset[Ev], lateness: String = "0 seconds",
      retireAfterMs: Option[Long] = None): Dataset[HourRow] = {
    import ds.sparkSession.implicits._
    def fn(key: Long, rows: Iterator[Ev], st: GroupState[FillState])
        : Iterator[HourRow] = {
      val wm = st.getCurrentWatermarkMs()
      val prev = st.getOption
      val rs = rows.toSeq
      val (cur, pending, out, timer) = advance(key,
        prev.map(_.cursor), prev.map(_.pending).getOrElse(Map.empty),
        rs, wm)
      // a timer fired with no input, nothing to finalize, and nothing
      // pending ⟺ the RETIREMENT timer (the finalize timer always has
      // a pending hour to emit): drop the cursor — LOCF memory ends
      if (st.hasTimedOut && rs.isEmpty && out.isEmpty && pending.isEmpty
          && retireAfterMs.isDefined) {
        if (st.exists) st.remove()
        return Iterator.empty
      }
      cur.foreach(c => st.update(FillState(c, pending)))
      // arm 1 ms BEFORE the semantic boundary: event-time timeouts fire
      // only when the watermark STRICTLY exceeds the armed timestamp, so
      // arming the boundary itself would never fire for a watermark that
      // lands exactly on an hour end and then stops — while the fold's
      // finalize rule (and batch q107) includes that hour. Watermarks
      // are ms-granular, so end−1 fires exactly when wm ≥ end.
      timer match {
        case Some(t) => st.setTimeoutTimestamp(t - 1)
        case None => // all finalized: arm retirement from the current wm
          retireAfterMs.foreach(r =>
            if (cur.isDefined) st.setTimeoutTimestamp(wm + r))
      }
      out.iterator
    }
    ds.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
