package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of join — the unbounded execution surface of the as-of
  * contract (q54 union-and-window, q102 forward twin, q57 native
  * Catalyst operator): each left-side probe takes the LATEST right-side
  * row of the same key at-or-before its event time (ties at equal ts →
  * max event_id), exactly q54's correlated-subquery semantics.
  *
  * Why this cannot be a `join(...)` like [[StreamingIntervalJoin]]:
  * Spark's stream-stream join needs time bounds in BOTH directions to
  * prove state finite, and "latest at-or-before" has no lower bound —
  * the matching right row may be arbitrarily old (the dominant quote
  * for a sleepy symbol). The operator here gets finiteness from the
  * as-of DOMINANCE order instead: once the watermark passes a right
  * row that is superseded by a newer right row also past the
  * watermark, the older one can never again be anyone's "latest ≤ t"
  * (every still-unemitted probe has ts > watermark ≥ the newer row's
  * ts). So state per key is ONE dominant right row plus the rows
  * inside the lateness window — bounded by lateness × arrival rate,
  * not stream length.
  *
  * Emission is WATERMARK-delayed, not arrival-time: a probe emits only
  * once the watermark passes its event time, when the right buffer is
  * complete at-or-before it under the lateness contract. That makes
  * the emitted answer exact for ANY arrival interleaving within
  * lateness (spec-pinned: adversarial slicings, rights arriving after
  * their probes). Probes with no key activity afterwards flush via the
  * event-time `EventTimeTimeout`, which drives the same fold
  * ([[advance]]) as input does — the [[StreamingResample]] discipline.
  *
  * Watermark contract (T3): rows on EITHER side arriving with ts ≤
  * watermark are dropped — the engine's own late-data filter on
  * stateful operators removes them before the fold runs (spec-pinned),
  * so the right buffer is complete at-or-before the watermark and
  * emitted probes are final. The fold itself still absorbs any right
  * row it is handed (it either becomes the new dominant row or
  * compacts away), so a surface without the engine filter degrades
  * safely rather than wrongly.
  *
  * `retireAfterMs`: the dominant right row is LOCF-like memory and
  * would otherwise live forever per key (the round-5 resample ADVICE
  * class); with a horizon set, a key idle past it — nothing pending,
  * watermark advanced `retireAfterMs` beyond its last activity — has
  * its state dropped, and a probe arriving after retirement sees no
  * match, as if the key were new. Event-time, so replays retire
  * deterministically.
  */
object StreamingAsOfJoin extends Serializable {

  /** Tagged union row: side 0 = right (the quoted/viewed side), side 1
    * = left (the probing side). `value` rides only right rows; a right
    * row with a NULL value must surface that NULL on its matches (the
    * q54 struct rule), which `Option` carries faithfully. */
  final case class Tagged(user_id: Long, event_id: Long, ts: Timestamp,
      side: Int, value: Option[Double])

  final case class RightRow(tsMs: Long, eid: Long, value: Option[Double])
  final case class ProbeRow(tsMs: Long, eid: Long)

  /** Whole-value state: both buffers are lateness-bounded (scaladoc
    * above), so the whole state is one value per key. */
  final case class JoinState(rights: List[RightRow], probes: List[ProbeRow],
      ver: Int = JoinStateVer)

  /** State-schema version, checked on every restore inside [[advance]]
    * (see [[StateVersion]]); bump on any semantic change. */
  final val JoinStateVer = 2

  /** One emitted probe. `last_view_id`/`last_view_value` are None when
    * no right row precedes the probe; a matched right row with a NULL
    * value yields (Some(id), None) — q54's single-struct semantics. */
  final case class AsOfMatch(user_id: Long, event_id: Long, ts: Timestamp,
      last_view_id: Option[Long], last_view_value: Option[Double])

  /** q54's input shape from the events schema: views are the right
    * side, purchases probe. Stateless; batch or streaming. */
  def taggedForEvents(events: DataFrame): Dataset[Tagged] = {
    import events.sparkSession.implicits._
    events.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"),
        when(col("event_type") === "view", col("value"))
          .otherwise(lit(null)).cast("double").as("value"))
      .as[Tagged]
  }

  /** The join's fold: absorb `rows`, emit every probe
    * the watermark has passed, compact the right buffer to its
    * dominance frontier. Returns (new state — None ⟺ nothing left to
    * hold, emitted rows, timer to arm — None ⟺ nothing pending).
    * Pure event-time logic: arrival order inside `rows` never decides
    * an answer. */
  private[streaming] def advance(key: Long, st0: Option[JoinState],
      rows: Seq[Tagged], wmMs: Long)
      : (Option[JoinState], Seq[AsOfMatch], Option[Long]) = {
    st0.foreach(s =>
      StateVersion.check(s.ver, JoinStateVer, "StreamingAsOfJoin.advance"))
    var rights = st0.map(_.rights).getOrElse(Nil)
    var probes = st0.map(_.probes).getOrElse(Nil)
    rows.foreach { r =>
      if (r.side == 0) rights ::= RightRow(r.ts.getTime, r.event_id, r.value)
      else if (r.ts.getTime > wmMs) probes ::= ProbeRow(r.ts.getTime, r.event_id)
      // else: late probe — finalized region, dropped (T3)
    }
    val rs = rights.sortBy(r => (r.tsMs, r.eid))
    val (emit, keep) = probes.partition(_.tsMs <= wmMs)
    val out = emit.sortBy(p => (p.tsMs, p.eid)).map { p =>
      // latest right ≤ probe ts; rs ascending ⇒ the last qualifying row
      // already resolves equal-ts ties to the max event_id
      val m = rs.foldLeft(Option.empty[RightRow]) { (acc, r) =>
        if (r.tsMs <= p.tsMs) Some(r) else acc
      }
      AsOfMatch(key, p.eid, new Timestamp(p.tsMs), m.map(_.eid),
        m.flatMap(_.value))
    }
    // dominance frontier: the max right ≤ watermark, plus everything
    // still inside the lateness window
    val dom = rs.foldLeft(Option.empty[RightRow]) { (acc, r) =>
      if (r.tsMs <= wmMs) Some(r) else acc
    }
    val rights2 = dom.toList ::: rs.filter(_.tsMs > wmMs)
    val timer = keep.map(_.tsMs).minOption
    val st1 = if (rights2.isEmpty && keep.isEmpty) None
      else Some(JoinState(rights2, keep))
    (st1, out, timer)
  }

  /** The join on `flatMapGroupsWithState`. `tagged` must carry
    * event-time `ts`; the watermark is applied here. */
  def joined(tagged: Dataset[Tagged], lateness: String = "0 seconds",
      retireAfterMs: Option[Long] = None): Dataset[AsOfMatch] = {
    import tagged.sparkSession.implicits._
    def fn(key: Long, rows: Iterator[Tagged], st: GroupState[JoinState])
        : Iterator[AsOfMatch] = {
      val wm = st.getCurrentWatermarkMs()
      val rs = rows.toSeq
      val (st1, out, timer) = advance(key, st.getOption, rs, wm)
      // timer fired with no input, nothing emitted, nothing pending ⟺
      // the RETIREMENT timer (the flush timer always has a probe to
      // emit): drop the dominant-right memory
      if (st.hasTimedOut && rs.isEmpty && out.isEmpty
          && st1.forall(_.probes.isEmpty) && retireAfterMs.isDefined) {
        if (st.exists) st.remove()
        return Iterator.empty
      }
      st1 match {
        case Some(s) => st.update(s)
        case None => if (st.exists) st.remove()
      }
      // arm ts−1: event-time timeouts fire only when the watermark
      // STRICTLY exceeds the armed instant, while emission includes
      // wm == probe ts (the StreamingResample boundary rule)
      timer match {
        case Some(t) => st.setTimeoutTimestamp(t - 1)
        case None => retireAfterMs.foreach(r =>
          if (st1.isDefined) st.setTimeoutTimestamp(wm + r))
      }
      out.iterator
    }
    tagged.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
