package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming EWMA semantics: watermark-delayed scoring reproduces the
  * batch q112 window BIT-FOR-BIT under any arrival interleaving within
  * lateness, history survives micro-batch boundaries, late rows drop
  * and never perturb already-final scores, the ring state is bounded
  * at Lags observations, and out-of-order slices score the same on the
  * RocksDB state store. */
class StreamingEwmaSpec extends SparkSpec {
  import StreamingEwma.{advance, Ev, EwmaOut, EwmaState, Obs}

  private val M = 60000L
  private def ts(m: Long): Timestamp = new Timestamp(m * M)
  private def ev(u: Long, e: Long, m: Long, v: Double) = Ev(u, e, ts(m), v)

  private def run(name: String,
      stage: Dataset[Ev] => Dataset[EwmaOut],
      batches: Seq[Seq[Ev]]): Set[(Long, Long, Option[Double], Int)] = {
    val sp = spark
    import sp.implicits._
    val input = MemoryStream[Ev](sp)
    val q = stage(input.toDS()).writeStream
      .format("memory").queryName(name).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val rows = sp.table(name).as[EwmaOut].collect()
        .map(r => (r.user_id, r.event_id, r.ewma, r.is_spike)).toSeq
      assert(rows.size == rows.distinct.size,
        s"an event scored more than once: ${rows.diff(rows.distinct)}")
      rows.toSet
    } finally q.stop()
  }

  /** The batch q112 rendering (EventOps), verbatim, over the same
    * rows — the reference the stream must match bit-for-bit,
    * including Spark's double→decimal(20,2) rounding. */
  private def batchExpected(rows: Seq[Ev]): Set[(Long, Long, Option[Double], Int)] = {
    val sp = spark
    import sp.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val num = (1 to 16).map(k =>
      coalesce(lag("value", k).over(w).cast("decimal(20,2)"),
        lit(0).cast("decimal(20,2)")) * lit(1L << (16 - k)))
      .reduce(_ + _)
    val den = (1 to 16).map(k =>
      when(lag("value", k).over(w).isNull, 0L)
        .otherwise(1L << (16 - k)))
      .reduce(_ + _)
    rows.toDF()
      .withColumn("ewma",
        num.cast("double") / nullif(den.cast("double"), lit(0.0)))
      .select(col("user_id"), col("event_id"), col("ewma"),
        (col("ewma").isNotNull && col("value") > lit(2) * col("ewma"))
          .cast("int").as("is_spike"))
      .as[(Long, Long, Option[Double], Int)].collect().toSet
  }

  // 20 u1 events (> Lags, so truncation engages) with values off the
  // 2-decimal grid — the HALF_UP rounding must agree between Spark's
  // decimal cast and the fold's BigDecimal replay
  private val u1Rows = (1 to 20).map(i =>
    ev(1L, 100L + i, 10L * i, ((i * 31) % 97) / 8.0 + (if (i == 15) 50.0 else 0.0)))
  // watermark mules (the StreamingResampleSpec discipline): first
  // advances the watermark past every u1 row, second fires the timers
  private val mules = Seq(
    Seq(ev(9L, 90L, 500, 0.0)),
    Seq(ev(9L, 91L, 510, 0.0)))

  private def u1(got: Set[(Long, Long, Option[Double], Int)]) =
    got.filter(_._1 == 1L)

  test("ordered replay matches the batch q112 window bit-for-bit") {
    val got = run("ewma_ord", StreamingEwma.scored(_), u1Rows +: mules)
    assert(u1(got) === batchExpected(u1Rows))
    // the constructed spike (event 115 jumps +50 over a ≤12 mean) fired
    assert(got.exists(r => r._2 == 115L && r._4 == 1))
  }

  test("adversarial slicing within lateness still matches batch") {
    val sliced = Seq(
      u1Rows.drop(12),                        // newest first
      u1Rows.slice(4, 12).reverse,
      u1Rows.take(4)) ++ mules
    val got = run("ewma_sliced",
      StreamingEwma.scored(_, lateness = "300 minutes"), sliced)
    assert(u1(got) === batchExpected(u1Rows))
  }

  test("history crosses micro-batch boundaries") {
    // one event per batch: every score's history lives in earlier batches
    val perBatch = u1Rows.take(6).map(Seq(_)) ++ mules
    val got = run("ewma_xbatch", StreamingEwma.scored(_), perBatch)
    assert(u1(got) === batchExpected(u1Rows.take(6)))
  }

  test("late rows drop and never perturb final scores (T3)") {
    val got = run("ewma_late", StreamingEwma.scored(_), Seq(
      Seq(ev(1L, 101L, 10, 4.0), ev(9L, 90L, 60, 0.0)),
      // wm is 60: the event at min 30 is late — dropped, so it must
      // NOT enter event 102's history
      Seq(ev(1L, 999L, 30, 1000.0)),
      Seq(ev(1L, 102L, 70, 8.0)),
      Seq(ev(9L, 91L, 500, 0.0)),
      Seq(ev(9L, 92L, 510, 0.0))))
    assert(u1(got) === batchExpected(
      Seq(ev(1L, 101L, 10, 4.0), ev(1L, 102L, 70, 8.0))))
  }

  test("out-of-order slices match batch under the RocksDB state store") {
    withRocksDBStateStore {
      val sliced = Seq(u1Rows.drop(10).reverse, u1Rows.take(10)) ++ mules
      val got = run("ewma_rocks",
        StreamingEwma.scored(_, lateness = "300 minutes"), sliced)
      assert(u1(got) === batchExpected(u1Rows))
    }
  }

  test("ring state is bounded at Lags and retirement restarts cold") {
    // fold-level bound: 40 events buffer below the watermark, then all
    // score as it passes — only the 16 newest survive in the ring
    val many = (1 to 40).map(i => ev(1L, 100L + i, i, i.toDouble))
    val (stA, outA, _) = advance(1L, None, many, -1L)
    assert(outA.isEmpty && stA.get.pending.size == 40)
    val (st, out, _) = advance(1L, stA, Nil, 1000 * M)
    assert(out.size == 40)
    assert(st.get.hist.size == StreamingEwma.Lags)
    assert(st.get.hist.head.eid == 140L) // newest-first
    // retirement: u1 idle past the horizon forgets its history — the
    // returning event scores as a first event (no history → None)
    val got = run("ewma_retire",
      StreamingEwma.scored(_, retireAfterMs = Some(10 * M)), Seq(
        Seq(ev(1L, 101L, 10, 4.0), ev(1L, 102L, 20, 8.0)),
        Seq(ev(9L, 90L, 100, 0.0)),   // wm 100 ≫ 20+10: u1 retires
        Seq(ev(9L, 91L, 110, 0.0)),   // timer fires, state dropped
        Seq(ev(1L, 103L, 150, 6.0)),  // returning event: fresh key
        Seq(ev(9L, 92L, 300, 0.0)),
        Seq(ev(9L, 93L, 310, 0.0))))
    val got103 = u1(got).find(_._2 == 103L).get
    assert(got103._3.isEmpty && got103._4 == 0)
  }
}
