package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The enrichment projection of the stream-processing stage (reference:
  * `stream-analytics/iot-stream-analytics-query.sql:8-46` CTE
  * `TelemetryWithAnoms`, minus the anomaly scores which are
  * `graft.anomaly.SpikeAndDip`), plus the Telemetry output projection
  * (:64-83; the Devices projection, :53-61, is
  * `graft.streaming.CuratedPipeline.mergeDevices`).
  *
  * Pure column expressions — whole-stage-codegen end to end, identical in
  * batch and streaming. Nulls propagate (a null axis → null magnitude);
  * coalescing to 0.0 happens only at the serving edge
  * (`graft.serve.PowerBiSync`), exactly where the reference does it
  * (PushTelemetryFunction.cs:336-400).
  */
object Enrich {
  /** Euclidean magnitude of an x/y/z struct (E1:
    * iot-stream-analytics-query.sql:20-30). */
  def magnitude(s: Column): Column =
    sqrt(s.getField("x") * s.getField("x") +
      s.getField("y") * s.getField("y") +
      s.getField("z") * s.getField("z"))

  /** Envelope → enriched telemetry (pre-anomaly columns of the ASA CTE).
    * `enqueuedTime` string (ns precision) → µs TimestampType is the
    * documented E2 truncation; an unparseable time reads as null, as
    * in `CuratedPipeline.toPipeEvents`. */
  def telemetry(env: DataFrame): DataFrame =
    env.select(
      col("deviceId"),
      try_to_timestamp(col("enqueuedTime")).as("enqueuedTime"),
      col("telemetry.battery").as("battery"),
      col("telemetry.barometer").as("barometer"),
      col("telemetry.geolocation.lat").as("latitude"),
      col("telemetry.geolocation.lon").as("longitude"),
      col("telemetry.geolocation.alt").as("altitude"),
      magnitude(col("telemetry.accelerometer")).as("AccelMagnitude"),
      magnitude(col("telemetry.gyroscope")).as("GyroMagnitude"),
      magnitude(col("telemetry.magnetometer")).as("MagMagnitude"),
    ).filter(col("deviceId").isNotNull)

  /** OR of the three per-signal anomaly flags into the 0/1 `Anomaly`
    * column (E4: iot-stream-analytics-query.sql:75-80). Null-safe: a null
    * flag (insufficient history) counts as not-anomalous, like the
    * reference's CASE. */
  def anomalyFlag(batteryAnom: Column, barometerAnom: Column,
      accelAnom: Column): Column =
    when(batteryAnom.getField("isAnomaly") === 1, 1)
      .when(barometerAnom.getField("isAnomaly") === 1, 1)
      .when(accelAnom.getField("isAnomaly") === 1, 1)
      .otherwise(0)
}
