package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Timer-driven gap-fill semantics: hours finalize when the WATERMARK
  * passes them (not when the next event happens to arrive), gap rows
  * carry the LOCF value, trailing hours stay open, in-lateness early
  * arrivals extend the grid downward, and the timers and retirement
  * behave the same on the RocksDB state store. */
class StreamingResampleSpec extends SparkSpec {
  import StreamingResample.{Ev, HourRow}

  private val H = 3600000L
  private def ts(h: Long, m: Long = 0): Timestamp = new Timestamp(h * H + m * 60000L)

  /** Feed batches through `stage` and collect (user, hourMs, n, gap, v).
    * Asserts no hour row is ever emitted twice BEFORE collapsing to a
    * set — duplicate emission (input path + timer path double-firing,
    * the characteristic bug of a dual-path stateful op) must not hide
    * inside set semantics. */
  private def run(name: String,
      stage: Dataset[Ev] => Dataset[HourRow],
      batches: Seq[Seq[(Long, Long, Timestamp, Double)]])
      : Set[(Long, Long, Long, Int, Double)] = {
    val sp = spark
    import sp.implicits._
    val input = MemoryStream[(Long, Long, Timestamp, Double)](sp)
    val q = stage(input.toDF.toDF("user_id", "event_id", "ts", "value").as[Ev])
      .writeStream.format("memory").queryName(name).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val rows = sp.table(name).as[HourRow].collect()
        .map(r => (r.user_id, r.hr.getTime, r.n_events, r.is_gap, r.v)).toSeq
      assert(rows.size == rows.distinct.size,
        s"an hour row was emitted more than once: ${rows.diff(rows.distinct)}")
      rows.toSet
    } finally q.stop()
  }

  // u7: two events in hour 1, one in hour 4; u99 only advances the
  // watermark. Hours 1-3 finalize at arrival of the first dummy batch
  // (watermark passed them); hour 4 can only finalize via the TIMER —
  // u7 never appears in the input again.
  private val scenario = Seq(
    Seq((7L, 1L, ts(1, 10), 1.0), (7L, 2L, ts(1, 40), 2.0)),
    Seq((7L, 3L, ts(4, 5), 3.0)),
    Seq((99L, 4L, ts(8, 0), 0.0)),
    Seq((99L, 5L, ts(8, 30), 0.0)))

  private val expected7 = Set(
    (7L, 1 * H, 2L, 0, 2.0),
    (7L, 2 * H, 0L, 1, 2.0),
    (7L, 3 * H, 0L, 1, 2.0),
    (7L, 4 * H, 1L, 0, 3.0))

  test("gap hours emit on watermark advance; the trailing hour needs the timer") {
    val got = run("rs_fmgws", StreamingResample.fill(_), scenario)
    assert(got.filter(_._1 == 7L) === expected7)
    // u99's hours are trailing (nothing pending after them) — still open
    assert(got.forall(_._1 == 7L), "trailing hours must not emit")
  }

  test("the trailing hour's timer fires under the RocksDB state store") {
    withRocksDBStateStore {
      val got = run("rs_rocks", StreamingResample.fill(_), scenario)
      assert(got.filter(_._1 == 7L) === expected7)
      assert(got.forall(_._1 == 7L))
    }
  }

  test("in-lateness early arrival extends the grid downward before first emission") {
    // lateness 2 h: the 04:10 event arrives AFTER the 05:30 one but is
    // within lateness — the grid must start at hour 4, as batch q107's
    // min-hour span would
    val got = run("rs_down",
      StreamingResample.fill(_, lateness = "2 hours"),
      Seq(
        Seq((5L, 1L, ts(5, 30), 9.0)),
        Seq((5L, 2L, ts(4, 10), 7.0)),
        Seq((99L, 3L, ts(9, 0), 0.0)),
        Seq((99L, 4L, ts(9, 30), 0.0))))
    assert(got.filter(_._1 == 5L) ===
      Set((5L, 4 * H, 1L, 0, 7.0), (5L, 5 * H, 1L, 0, 9.0)))
  }

  test("a watermark landing EXACTLY on an hour end still finalizes that hour") {
    // event-time timeouts fire only when the watermark strictly exceeds
    // the armed timestamp; the stage arms end−1 so a watermark that
    // stops exactly at the boundary (common with on-the-hour events)
    // still emits — without that, this trailing hour would hang forever
    val got = withRocksDBStateStore {
      run("rs_edge_f", StreamingResample.fill(_), Seq(
        Seq((11L, 1L, ts(4, 10), 5.0)),
        Seq((99L, 2L, ts(5), 0.0)), // watermark becomes exactly 05:00:00.000
        Seq((99L, 3L, ts(5), 0.0))))
    }
    assert(got.filter(_._1 == 11L) === Set((11L, 4 * H, 1L, 0, 5.0)),
      "the stage must finalize the hour at an exact-boundary watermark")
  }

  test("one-shot replay of the whole stream matches the multi-batch rows") {
    val got = run("rs_oneshot", StreamingResample.fill(_),
      Seq(scenario.flatten, Seq((99L, 6L, ts(8, 45), 0.0))))
    assert(got.filter(_._1 == 7L) === expected7)
  }

  // u7: one event in hour 1, then idle past the 1 h retirement horizon,
  // then one in hour 6. With retirement the cursor is dropped during the
  // idle span, so the return starts a FRESH grid — no gap rows for hours
  // 2..5 and the old LOCF value forgotten. Without retirement the same
  // stream emits those gap rows (the control keeps the two behaviors
  // honest against each other).
  private val retireScenario = Seq(
    Seq((7L, 1L, ts(1, 10), 1.0)),
    Seq((99L, 2L, ts(3, 0), 0.0)),
    Seq((99L, 3L, ts(3, 30), 0.0)), // wm 3h: hour 1 finalizes, retire armed 4h
    Seq((99L, 4L, ts(5, 0), 0.0)),
    Seq((99L, 5L, ts(5, 30), 0.0)), // wm 5h: retirement fires, cursor dropped
    Seq((7L, 6L, ts(6, 30), 9.0)),  // returns — fresh grid at hour 6
    Seq((99L, 7L, ts(8, 0), 0.0)),
    Seq((99L, 8L, ts(8, 30), 0.0))) // wm 8h: hour 6 finalizes

  test("cursor retirement drops idle users' state; a return starts a fresh grid (both surfaces)") {
    val retired = Set((7L, 1 * H, 1L, 0, 1.0), (7L, 6 * H, 1L, 0, 9.0))
    val got = withRocksDBStateStore {
      run("rs_ret_f", StreamingResample.fill(_, retireAfterMs = Some(H)),
        retireScenario)
    }
    assert(got.filter(_._1 == 7L) === retired,
      "idle-span gap rows must NOT appear after retirement")
    // control: without retirement the idle span IS gap-filled with LOCF
    val kept = run("rs_ret_ctl", StreamingResample.fill(_), retireScenario)
    assert(got2Gaps(kept) === Set(2L * H, 3L * H, 4L * H, 5L * H))
  }

  private def got2Gaps(rows: Set[(Long, Long, Long, Int, Double)]): Set[Long] =
    rows.collect { case (7L, hr, 0L, 1, 1.0) => hr }
}
