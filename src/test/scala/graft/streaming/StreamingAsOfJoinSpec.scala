package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming as-of semantics: watermark-delayed emission makes the
  * answer exact under ANY arrival interleaving within lateness,
  * probes with no later key activity flush via the event-time timer,
  * the right buffer compacts to its dominance frontier, and the
  * sliced-timer answers hold on the RocksDB state store too. */
class StreamingAsOfJoinSpec extends SparkSpec {
  import StreamingAsOfJoin.{advance, AsOfMatch, JoinState, ProbeRow, RightRow, Tagged}

  private val M = 60000L
  private def ts(m: Long): Timestamp = new Timestamp(m * M)

  /** Run batches through `stage`; assert no probe ever emits twice
    * (input path + timer path double-firing must not hide in set
    * semantics), then return the emitted set. */
  private def run(name: String,
      stage: Dataset[Tagged] => Dataset[AsOfMatch],
      batches: Seq[Seq[Tagged]]): Set[(Long, Long, Option[Long], Option[Double])] = {
    val sp = spark
    import sp.implicits._
    val input = MemoryStream[Tagged](sp)
    val q = stage(input.toDS()).writeStream
      .format("memory").queryName(name).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val rows = sp.table(name).as[AsOfMatch].collect()
        .map(r => (r.user_id, r.event_id, r.last_view_id, r.last_view_value)).toSeq
      assert(rows.size == rows.distinct.size,
        s"a probe emitted more than once: ${rows.diff(rows.distinct)}")
      rows.toSet
    } finally q.stop()
  }

  private def view(u: Long, e: Long, m: Long, v: Option[Double]) =
    Tagged(u, e, ts(m), 0, v)
  private def buy(u: Long, e: Long, m: Long) = Tagged(u, e, ts(m), 1, None)

  // u1: ties at equal ts (views 11/12 both at min 10 → max eid wins), a
  // probe AT a view's instant (inclusive), a NULL-valued latest view
  // (id matches, value stays None — the q54 struct rule), and a probe
  // before any view (no match). u9 is the watermark mule.
  private val u1Rows = Seq(
    buy(1L, 100L, 5),                       // before any view → (None, None)
    view(1L, 11L, 10, Some(1.0)), view(1L, 12L, 10, Some(2.0)),
    buy(1L, 101L, 10),                      // at-instant tie → view 12
    view(1L, 13L, 20, None),                // NULL-valued view
    buy(1L, 102L, 25),                      // → (Some(13), None)
    buy(1L, 103L, 40))                      // view 13 still dominant
  // two watermark-mule batches (the StreamingResampleSpec discipline):
  // the first advances the watermark, the second runs with it advanced
  // so armed timers fire without relying on no-data micro-batches
  private val mules = Seq(
    Seq(view(9L, 90L, 120, Some(0.0))),
    Seq(view(9L, 91L, 130, Some(0.0))))

  private val expected1 = Set[(Long, Long, Option[Long], Option[Double])](
    (1L, 100L, None, None),
    (1L, 101L, Some(12L), Some(2.0)),
    (1L, 102L, Some(13L), None),
    (1L, 103L, Some(13L), None))

  test("ordered replay: ties, at-instant inclusivity, NULL view value, no-match") {
    val got = run("asof_ord", StreamingAsOfJoin.joined(_),
      u1Rows +: mules)
    assert(got.filter(_._1 == 1L) === expected1)
  }

  test("adversarial slicing within lateness: rights arrive after their probes") {
    // probes first, their matching views one and two batches later —
    // all inside the 60 min lateness; the watermark-delayed emission
    // must still produce exactly the ordered-replay answers
    val sliced = Seq(
      Seq(buy(1L, 101L, 10), buy(1L, 100L, 5), buy(1L, 102L, 25)),
      Seq(view(1L, 12L, 10, Some(2.0)), buy(1L, 103L, 40)),
      Seq(view(1L, 11L, 10, Some(1.0)), view(1L, 13L, 20, None))) ++ mules
    val got = run("asof_sliced",
      StreamingAsOfJoin.joined(_, lateness = "60 minutes"), sliced)
    assert(got.filter(_._1 == 1L) === expected1)
  }

  test("timer flushes probes for a key absent from later batches") {
    // u1's probe at min 40 can only emit via the event-time timer: the
    // watermark passes 40 in a batch containing ONLY u9 rows
    val got = run("asof_timer", StreamingAsOfJoin.joined(_),
      Seq(view(1L, 13L, 20, Some(3.0)), buy(1L, 103L, 40)) +: mules)
    assert(got.filter(_._1 == 1L) ===
      Set((1L, 103L, Some(13L), Some(3.0))))
  }

  test("late rows drop at the watermark on both sides (engine filter, T3)") {
    val got = run("asof_late", StreamingAsOfJoin.joined(_), Seq(
      Seq(view(1L, 11L, 10, Some(1.0)), view(9L, 90L, 60, Some(0.0))),
      // wm is now 60: the probe at 30 AND the view at 50 are late —
      // the engine's stateful late-data filter removes both before
      // the fold; the dominant right row (view 11) answers later
      // probes, pinning that emitted results stay final
      Seq(buy(1L, 200L, 30), view(1L, 14L, 50, Some(5.0))),
      Seq(buy(1L, 201L, 70)),
      Seq(view(9L, 91L, 200, Some(0.0))),
      Seq(view(9L, 92L, 210, Some(0.0)))))
    assert(got.filter(_._1 == 1L) ===
      Set((1L, 201L, Some(11L), Some(1.0))))
  }

  test("sliced timers emit the same rows under the RocksDB state store") {
    withRocksDBStateStore {
      val sliced = Seq(
        Seq(buy(1L, 101L, 10), buy(1L, 100L, 5), buy(1L, 102L, 25)),
        Seq(view(1L, 12L, 10, Some(2.0)), buy(1L, 103L, 40)),
        Seq(view(1L, 11L, 10, Some(1.0)), view(1L, 13L, 20, None))) ++ mules
      val got = run("asof_rocks",
        StreamingAsOfJoin.joined(_, lateness = "60 minutes"), sliced)
      assert(got.filter(_._1 == 1L) === expected1)
    }
  }

  test("retirement drops the dominant-right memory after the horizon") {
    val got = run("asof_retire",
      StreamingAsOfJoin.joined(_, retireAfterMs = Some(10 * M)), Seq(
        Seq(view(1L, 11L, 10, Some(1.0)), buy(1L, 100L, 20)),
        Seq(view(9L, 90L, 100, Some(0.0))),  // wm 100 ≫ 20+10: u1 retires
        Seq(view(9L, 91L, 110, Some(0.0))),  // timer fires, state dropped
        Seq(buy(1L, 101L, 150)),             // returning probe: fresh key
        Seq(view(9L, 92L, 300, Some(0.0)))))
    assert(got.filter(_._1 == 1L) === Set(
      (1L, 100L, Some(11L), Some(1.0)),
      (1L, 101L, None, None)))               // the old view was forgotten
  }

  test("fold compacts rights to the dominance frontier and is arrival-order-free") {
    val rows = Seq(view(1L, 11L, 10, Some(1.0)), view(1L, 12L, 10, Some(2.0)),
      view(1L, 13L, 20, None), view(1L, 14L, 95, Some(4.0)))
    // wm 90: views 11/12/13 are all ≤ wm — only 13 (the dominant) may
    // survive; 14 is inside the lateness window and must survive
    for (perm <- rows.permutations.take(8)) {
      val (st, out, timer) = advance(1L, None, perm, 90 * M)
      assert(out.isEmpty && timer.isEmpty)
      assert(st.get.rights.map(_.eid).toSet === Set(13L, 14L))
    }
    // pending probe keeps its timer armed at ts−1
    val (st2, out2, timer2) = advance(1L,
      Some(JoinState(List(RightRow(20 * M, 13L, None)), Nil)),
      Seq(buy(1L, 103L, 40)), 30 * M)
    assert(out2.isEmpty && timer2 === Some(40 * M))
    assert(st2.get.probes === List(ProbeRow(40 * M, 103L)))
  }
}
