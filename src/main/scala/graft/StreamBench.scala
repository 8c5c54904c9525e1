package graft

import graft.streaming.CuratedPipeline
import org.apache.spark.sql.functions._

/** Streaming-path throughput: events/second through the envelope →
  * enrich → stateful spike-and-dip pipeline (the reference's entire
  * ASA job). Prints one JSON line.
  *
  * The reference's operating envelope is ~50 rows/s sustained
  * (500-row push batch per 10 s tick, BASELINE.md); this measures the
  * same logical pipeline as a Spark job. Batch mode exercises the
  * identical operators the streaming query runs per micro-batch, so
  * rows/s here ≈ sustainable micro-batch throughput.
  *
  * Min-of-reps (round 9): the round-8 record's apparent −23%
  * (70,932 → 54,743 rows/s) was a warm-box single-run artifact, not a
  * pipeline cost — re-measured idle after the round-8 changes the same
  * pipeline does 83k+ rows/s. Same discipline as [[Bench]]: n≥2 timed
  * executions, report the MIN, stamp `load_before`/`contended` so a
  * hot record is self-incriminating.
  */
object StreamBench {
  /** Synthetic RAW envelope lines (the pre-parse feed `toPipeEvents`
    * expects) over an id column: `devices` keys, 1 event/device/second,
    * ~0.1% battery spikes hash-spread so no device sees spikes as its
    * norm. Shared with `StreamStateBench` mode=anomaly (the 1M-device
    * state-fan-out twin) so both benches price the identical wire
    * format. */
  private[graft] def syntheticEnvelope(
      id: org.apache.spark.sql.Column,
      devices: Long): org.apache.spark.sql.Column =
    syntheticEnvelopeAt(id, id % devices,
      (id.cast("long") / devices).cast("long"))

  /** [[syntheticEnvelope]] with the device id and per-device step
    * (event-time seconds) supplied by the caller — the seam the
    * hot-set anomaly workload uses to mix a small spiking device set
    * into a huge cold keyspace (round-14 verdict item 3) while keeping
    * the WIRE FORMAT byte-identical to the uniform workload. Battery
    * spikes stay hash-spread on the raw id, so the spike rate is a
    * property of the event stream, not of the device mapping. */
  private[graft] def syntheticEnvelopeAt(
      id: org.apache.spark.sql.Column,
      device: org.apache.spark.sql.Column,
      stepSeconds: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = format_string(
    """{"applicationId":"app","component":"sensors","enqueuedTime":"%s",""" +
      """"messageSource":"telemetry","device":{"id":"dev%d","templateId":"tpl"},""" +
      """"telemetry":[{"name":"battery","value":%d},""" +
      """{"name":"barometer","value":%.1f},""" +
      """{"name":"accelerometer","value":{"x":0.1,"y":0.2,"z":0.3}},""" +
      """{"name":"geolocation","value":{"lat":1.0,"lon":2.0,"alt":3.0}}]}""",
    date_format(
      timestamp_micros(lit(1700000000000000L) +
        stepSeconds.cast("long") * 1000000L),
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
    device.cast("long"),
    (lit(100) + (id % 7) +
      when(pmod(hash(id), lit(997)) === 0, 5000).otherwise(0)).cast("long"),
    lit(1013.0) + (id % 5).cast("double"))

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "2000000").toInt
    val devices = 1000
    // the shared refuse-when-warm gate (round 14: busy_frac + loadavg,
    // bounded wait, post-run re-sample — Bench.preGate's scaladoc)
    val gate = Bench.preGate("streambench")
    val reps = Bench.reps(sys.env)
    val spark = GraftSession.local()
    import spark.implicits._

    // synthetic RAW envelope lines — see syntheticEnvelope's scaladoc
    val raw = spark.range(n.toLong)
      .select(syntheticEnvelope(col("id"), devices).as("value"))

    val events = CuratedPipeline.toPipeEvents(raw)
    // rep 0 doubles as JIT/codegen warm-up; MIN over all reps is the
    // reported number (deterministic workload — see scaladoc)
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val out = CuratedPipeline.anomalyStage(events)
      val ra = out.agg(
        count(lit(1)), sum(col("anomaly"))).as[(Long, Long)].head()
      (ra, (System.nanoTime() - t0) / 1e9)
    }
    val (rows, anomalies) = runs.head._1
    require(runs.forall(_._1 == runs.head._1),
      s"non-deterministic pipeline output across reps: ${runs.map(_._1)}")
    val sec = runs.map(_._2).min
    val (loadAfter, busyAfter, contended) = Bench.postSample(gate)
    val json =
      s"""{"metric":"stream_rows_per_sec","value":${(rows / sec).toLong},""" +
        s""""unit":"rows/sec","rows":$rows,"anomalies":$anomalies,""" +
        s""""seconds":${math.round(sec * 1000) / 1000.0},"devices":$devices,""" +
        s""""reps":$reps,""" +
        Bench.gateJson(gate, loadAfter, busyAfter, contended) + "}"
    println(json)
    // persist like Bench does BENCH_LAST.json: the streaming envelope
    // (reference: ≥50 rows/s, BASELINE.md) gets a per-round record that
    // survives stdout truncation
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("/root/repo/STREAMBENCH_LAST.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // stdout line already emitted
    spark.stop()
  }
}
