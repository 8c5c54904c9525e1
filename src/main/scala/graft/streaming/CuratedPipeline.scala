package graft.streaming

import graft.anomaly.SpikeAndDip
import graft.enrich.Enrich
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The reference's single stream job re-expressed as one Structured
  * Streaming query with a three-sink `foreachBatch` fan-out
  * (reference: `stream-analytics/iot-stream-analytics-query.sql` — one
  * input CTE, three outputs: raw→bronze archive :49-50, device
  * metadata→Devices :53-61, enriched+anomaly-flagged→Telemetry :64-83).
  *
  * Topology: envelope stream → enrich (pure projection) → stateful
  * spike-and-dip (`flatMapGroupsWithState`) → `foreachBatch { persist;
  * telemetry append; then bronze append ∥ devices dedup-merge ∥
  * quarantine append }`. One scan per micro-batch feeds every sink
  * (ASA's multi-output atomicity, which separate streaming queries
  * would not give). Telemetry, the serving table a dashboard reads,
  * goes first: its write computes the batch into the cache, and it
  * depends on none of the other sinks, so waiting behind them only
  * delays it. The other sinks then read the cached batch at the same
  * time.
  *
  * Threads: the concurrent sinks run on threads created inside the
  * batch ([[writeConcurrently]]). A new thread inherits the stream
  * thread's Spark local properties, so their jobs carry the query's
  * `runId` as job group and `StreamingQuery.stop()` cancels them as it
  * cancels the stream thread's own. The batch returns only after every
  * sink has finished; the batch is unpersisted after that.
  *
  * Failure window: each sink is written once per batch and nothing is
  * committed before all have finished, so a failed batch is replayed
  * whole on restart (at-least-once). A failed batch may already have
  * appended to any subset of the sinks — Telemetry alone, or Telemetry
  * and any of the others — not, as with one sink after another, to a
  * prefix of a fixed order.
  *
  * Scale design (100 TB/day stream):
  *  - state is partitioned by device key by default (`perDevice=true`)
  *    — the reference's no-PARTITION-BY global model (SURVEY §7.4) is
  *    available as `perDevice=false` for parity but funnels all state
  *    through one task; per-device is the deliberate, documented
  *    deviation that scales with the key space;
  *  - per-key state is a bounded ring (window duration × history cap ≤
  *    85 entries/signal), so state size is O(devices), not O(events);
  *  - event-time watermark bounds both state retention and late data
  *    (reference ASA: 60 s late-arrival tolerance, T2/T3);
  *  - the bronze write is the untouched input batch — an append-only
  *    columnar archive partitionable by ingest date at scale.
  */
object CuratedPipeline {

  /** One enriched event entering the stateful anomaly stage. `raw`
    * carries the original envelope JSON for the bronze sink; device
    * metadata rides along for the Devices sink. */
  final case class PipeEvent(
      raw: String,
      deviceId: String,
      applicationId: String,
      templateId: String,
      component: String,
      module: String,
      enqueuedTime: java.sql.Timestamp,
      battery: Option[Long],
      barometer: Option[Double],
      latitude: Option[Double],
      longitude: Option[Double],
      altitude: Option[Double],
      accelMagnitude: Option[Double],
      gyroMagnitude: Option[Double],
      magMagnitude: Option[Double])

  /** PipeEvent + the 0/1 anomaly flag (E4). */
  final case class PipeOut(
      raw: String,
      deviceId: String,
      applicationId: String,
      templateId: String,
      component: String,
      module: String,
      enqueuedTime: java.sql.Timestamp,
      battery: Option[Long],
      barometer: Option[Double],
      latitude: Option[Double],
      longitude: Option[Double],
      altitude: Option[Double],
      accelMagnitude: Option[Double],
      gyroMagnitude: Option[Double],
      magMagnitude: Option[Double],
      anomaly: Int)

  /** Per-signal history ring: event-time µs + value, ascending ts.
    * Window semantics mirror the batch frame `rangeBetween(-window, -1)`
    * exactly: history = bt ∈ [t - window, t - 1], i.e. the lower bound
    * is CLOSED and the current instant excluded. */
  final case class SignalBuf(ts: Vector[Long], v: Vector[Double]) {
    def add(t: Long, x: Double, windowMicros: Long, cap: Int): SignalBuf = {
      val keepFrom = t - windowMicros
      val i = ts.indexWhere(_ >= keepFrom) match { case -1 => ts.length; case k => k }
      val (nt, nv) = (ts.drop(i) :+ t, v.drop(i) :+ x)
      // ring cap: the scorer only ever reads the most recent `cap`
      // entries, so state stays O(historySize) regardless of rate.
      if (nt.length > cap) SignalBuf(nt.takeRight(cap), nv.takeRight(cap))
      else SignalBuf(nt, nv)
    }
    /** history in [t-window, t), newest `cap` (matches the batch frame). */
    def history(t: Long, windowMicros: Long, cap: Int): Array[Double] = {
      val lo = t - windowMicros
      val picked = ts.zip(v).filter { case (bt, _) => bt >= lo && bt < t }
      (if (picked.length > cap) picked.takeRight(cap) else picked)
        .map(_._2).toArray
    }
  }
  object SignalBuf { val empty: SignalBuf = SignalBuf(Vector.empty, Vector.empty) }

  /** Per-device anomaly state. `ver` pins the state schema version —
    * checked on every restore by [[anomalyStage]]; bump
    * [[DevState.Ver]] on any semantic change (see [[StateVersion]]). */
  final case class DevState(
      battery: SignalBuf, barometer: SignalBuf, accel: SignalBuf,
      maxTsMicros: Long, ver: Int = DevState.Ver)
  object DevState {
    final val Ver = 2
    val empty: DevState =
      DevState(SignalBuf.empty, SignalBuf.empty, SignalBuf.empty, Long.MinValue)
  }

  /** Raw JSON line DataFrame (batch or stream) → PipeEvent dataset.
    * The VERBATIM line rides along as `raw` for the bronze archive, and
    * NO rows are dropped here — malformed/null-device lines carry null
    * envelope fields so the archive stays complete; the curated sinks
    * apply the reference's `deviceId IS NOT NULL` filter themselves. */
  def toPipeEvents(raw: DataFrame, jsonCol: String = "value"): Dataset[PipeEvent] = {
    import raw.sparkSession.implicits._
    // coalesce: a null line (e.g. a log-compaction tombstone) must not
    // break the bronze text sink or the in-batch tiebreak sort
    val parsed = raw.select(coalesce(col(jsonCol), lit("")).as("rawLine"),
      try_parse_json(col(jsonCol)).as("v"))
    graft.ingest.EnvelopeTransform.fromVariant(parsed, keep = Seq("rawLine"))
      .select(
        col("rawLine").as("raw"),
        col("deviceId"),
        col("applicationId"), col("templateId"), col("component"), col("module"),
        try_to_timestamp(col("enqueuedTime")).as("enqueuedTime"),
        col("telemetry.battery").as("battery"),
        col("telemetry.barometer").as("barometer"),
        col("telemetry.geolocation.lat").as("latitude"),
        col("telemetry.geolocation.lon").as("longitude"),
        col("telemetry.geolocation.alt").as("altitude"),
        Enrich.magnitude(col("telemetry.accelerometer")).as("accelMagnitude"),
        Enrich.magnitude(col("telemetry.gyroscope")).as("gyroMagnitude"),
        Enrich.magnitude(col("telemetry.magnetometer")).as("magMagnitude"),
      ).as[PipeEvent]
  }

  /** One micro-batch's per-key fold, run by [[anomalyStage]] for each
    * device group (and called directly by the specs).
    *
    * ASA's compat-1.2 reorder buffer delivers the window in event-time
    * order; we sort each micro-batch the same way before folding. Full
    * µs precision (Timestamp.getTime is ms-truncated; the batch path's
    * unix_micros sees µs, so equivalence needs them). Null event times
    * (unparseable lines riding to bronze) sort first and are never
    * scored or folded into state. */
  private[streaming] def foldSorted(it: Iterator[PipeEvent], st0: DevState,
      params: SpikeAndDip.Params, adjustMicros: Option[Long])
      : (Vector[PipeOut], DevState) = {
    val windowMicros = params.windowMillis * 1000L
    val cap = params.historySize
    def scoreOne(buf: SignalBuf, t: Long, v: Option[Double]): Int = v match {
      case Some(x) =>
        SpikeAndDip.score(buf.history(t, windowMicros, cap), x, params)._1
      case None => 0
    }
    var st = st0
    def micros(ts: java.sql.Timestamp): Long =
      if (ts == null) Long.MinValue
      else Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    val out = it.toVector.sortBy(e => (micros(e.enqueuedTime), e.raw)).map { e =>
          val rawT = micros(e.enqueuedTime)
          // ASA "Adjust" (T2): an event older than the key's event-time
          // high watermark minus the tolerance has its timestamp clamped
          // forward to that bound (reference job config: 30 s,
          // terraform/main-example.tf:134-135). Unset → no clamping.
          val t = adjustMicros match {
            case Some(adj) if rawT != Long.MinValue &&
              st.maxTsMicros != Long.MinValue &&
              rawT < st.maxTsMicros - adj => st.maxTsMicros - adj
            case _ => rawT
          }
          val outTs = if (t == rawT) e.enqueuedTime
            else {
              val adj = new java.sql.Timestamp(Math.floorDiv(t, 1000000L) * 1000L)
              adj.setNanos((Math.floorMod(t, 1000000L) * 1000L).toInt)
              adj
            }
          val scorable = t != Long.MinValue
          val bat = e.battery.map(_.toDouble)
          val flags = if (!scorable) Seq(0) else Seq(
            scoreOne(st.battery, t, bat),
            scoreOne(st.barometer, t, e.barometer),
            scoreOne(st.accel, t, e.accelMagnitude))
          if (scorable) st = DevState(
            bat.fold(st.battery)(x => st.battery.add(t, x, windowMicros, cap)),
            e.barometer.fold(st.barometer)(x => st.barometer.add(t, x, windowMicros, cap)),
            e.accelMagnitude.fold(st.accel)(x => st.accel.add(t, x, windowMicros, cap)),
            math.max(st.maxTsMicros, t))
          PipeOut(e.raw, e.deviceId, e.applicationId, e.templateId, e.component,
            e.module, outTs, e.battery, e.barometer, e.latitude,
            e.longitude, e.altitude, e.accelMagnitude, e.gyroMagnitude,
            e.magMagnitude, if (flags.exists(_ == 1)) 1 else 0)
        }
    (out, st)
  }

  /** Sentinel key: null-device rows (bronze-only) must not share state
    * with a device whose id is literally "" — the NUL prefix cannot
    * appear in a real JSON-sourced device id. */
  private def stateKey(perDevice: Boolean)(e: PipeEvent): String =
    if (!perDevice) ""
    else Option(e.deviceId).getOrElse("\u0000no-device")

  /** The stateful spike-and-dip stage (`flatMapGroupsWithState`).
    * Works identically on batch Datasets (state lives for the single
    * batch) and streams (state checkpointed across micro-batches) —
    * the test suite pins batch-path equivalence against
    * `SpikeAndDip.batch`. */
  def anomalyStage(events: Dataset[PipeEvent],
      params: SpikeAndDip.Params = SpikeAndDip.Params(),
      perDevice: Boolean = true,
      adjustMillis: Option[Long] = None): Dataset[PipeOut] = {
    import events.sparkSession.implicits._
    val adjustMicros = adjustMillis.map(_ * 1000L)
    val fn: (String, Iterator[PipeEvent], GroupState[DevState]) => Iterator[PipeOut] =
      (_, it, state) => {
        val prev = state.getOption.getOrElse(DevState.empty)
        StateVersion.check(prev.ver, DevState.Ver, "CuratedPipeline.anomalyStage")
        val (out, st) = foldSorted(it, prev, params, adjustMicros)
        state.update(st)
        out.iterator
      }
    events
      .groupByKey(stateKey(perDevice))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Curated Telemetry projection (DDL column names, README.MD:167-175;
    * the reference's `WHERE deviceId IS NOT NULL`, :83). */
  def telemetryColumns(out: Dataset[PipeOut]): DataFrame =
    out.filter(col("deviceId").isNotNull).select(
      col("deviceId"), col("enqueuedTime"), col("battery"), col("barometer"),
      col("latitude"), col("longitude"), col("altitude"),
      col("accelMagnitude").as("AccelMagnitude"),
      col("gyroMagnitude").as("GyroMagnitude"),
      col("magMagnitude").as("MagMagnitude"),
      col("anomaly").as("Anomaly"))

  /** The devices dimension's schema (reference DDL, README.MD:159-165:
    * five NVARCHAR columns, deviceId PK). [[devicesOrEmpty]] derives
    * its absent-table fallback frame from THIS constant, so adding a
    * non-string column later cannot silently diverge the empty-frame
    * schema from the real table's (round-5 ADVICE). */
  private[streaming] val DevicesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      Seq("deviceId", "applicationId", "templateId", "component", "module")
        .map(n => org.apache.spark.sql.types.StructField(
          n, org.apache.spark.sql.types.StringType)))

  /** Read the devices table's given columns, or None when the table
    * does not exist yet. The read declares [[DevicesSchema]]: inferring
    * it would cost a Spark job (parquet footer merge) on every batch,
    * and an empty directory reads as an empty table instead of failing
    * inference. Only a genuinely ABSENT table gives None: any
    * other read failure (corrupt file, transient FS error) PROPAGATES —
    * both consumers ([[mergeDevices]]'s anti-join and
    * [[enrichWithDevices]]'s left join) would otherwise silently treat
    * the whole dimension as empty, re-inserting duplicate PKs resp.
    * null-enriching every fact row. One definition so the guarded
    * error set cannot drift between the two paths. */
  private def readDevices(spark: org.apache.spark.sql.SparkSession,
      devicesDir: String, cols: Seq[String]): Option[DataFrame] =
    try Some(spark.read.schema(devicesSchema(cols)).parquet(devicesDir))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
    }

  /** [[DevicesSchema]] restricted to `cols`, in their order. */
  private def devicesSchema(cols: Seq[String]) =
    org.apache.spark.sql.types.StructType(cols.map(n => DevicesSchema(n)))

  /** [[readDevices]], or an empty typed frame when the table is absent. */
  private def devicesOrEmpty(spark: org.apache.spark.sql.SparkSession,
      devicesDir: String, cols: Seq[String]): DataFrame =
    readDevices(spark, devicesDir, cols).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        devicesSchema(cols)))

  /** Devices-sink dedup-merge: at-most-one-row-per-device with
    * first-seen-wins (the PK semantics the reference gets from
    * constraint violations, S3 / README.MD:159-165).
    *
    * Durability: the merged table replaces the old one via
    * [[Maintenance.atomicSwap]]'s two-rename protocol — a crash
    * mid-merge can never leave a truncated or half-written Devices
    * table (the old round-5 append could not lose rows either, but a
    * future rewriting caller would have; the swap also turns a second
    * CONCURRENT writer into a loud tmp-guard/rename failure instead of
    * silently duplicated PKs). Readers in the swap window: a reader
    * that catches the table ABSENT between the two renames falls back
    * to the empty frame ([[devicesOrEmpty]]) — for
    * [[enrichWithDevices]] that means one batch of null metadata, not
    * lost fact rows, and the next batch re-reads the swapped table.
    *
    * Cost: the batch's devices are anti-joined against a broadcast of
    * the existing ids (the same fleet-sized side [[enrichWithDevices]]
    * broadcasts). When the table exists and no id is new — every batch
    * of a settled fleet — nothing is written. Only a batch that brings
    * a new device pays the full rewrite, which stays bounded because
    * the dimension is fleet-sized, orders of magnitude under the fact
    * stream. */
  def mergeDevices(batch: DataFrame, devicesDir: String): Unit = {
    val spark = batch.sparkSession
    val cols = DevicesSchema.fieldNames.toSeq
    val batchDevs = batch
      .select(cols.map(col): _*)
      .filter(col("deviceId").isNotNull)
      .dropDuplicates("deviceId")
    val merged = readDevices(spark, devicesDir, cols) match {
      case None => Some(batchDevs)
      case Some(existing) =>
        // existing wins (first-seen): only genuinely new PKs join the table
        val fresh = batchDevs.join(broadcast(existing.select("deviceId")),
          Seq("deviceId"), "left_anti")
        if (fresh.isEmpty) None else Some(existing.unionByName(fresh))
    }
    merged.foreach { m =>
      Maintenance.atomicSwap(spark, devicesDir, "devices-merge") { tmp =>
        // the read of the existing table evaluates HERE, before any
        // rename — the old table is still in place while the new copy
        // materializes
        m.write.mode("overwrite").parquet(tmp)
      }
    }
  }

  /** The reference's implied Devices FK join (§2.3: the DDL declares
    * `Telemetry.deviceId → Devices.deviceId` and README.MD:56 motivates
    * the curated store with "business intelligence joins", but no query
    * ships): enrich telemetry with device metadata by a broadcast left
    * join on deviceId.
    *
    * Per-BATCH function, meant for `foreachBatch`: the dimension is
    * re-read on every call, so rows merged by [[mergeDevices]] between
    * triggers enrich the next batch. That re-read is deliberate — a
    * stream-static join over a plain parquet path would pin the file
    * listing captured at query start (`InMemoryFileIndex` lives in the
    * analyzed plan) and silently never see new devices; fresh
    * driver-side reads inside foreachBatch are the plain-directory way
    * to get slowly-changing-dimension pickup. LEFT join: a fact row
    * with an unknown device survives with null metadata — the stream
    * must not lose rows to a lagging dimension. Broadcast: the device
    * dimension is bounded by the fleet size, the canonical broadcast
    * side at any telemetry scale. */
  def enrichWithDevices(batch: DataFrame, devicesDir: String): DataFrame = {
    val devices = devicesOrEmpty(batch.sparkSession, devicesDir,
      Seq("deviceId", "applicationId", "templateId", "component", "module"))
    batch.join(broadcast(devices), Seq("deviceId"), "left")
  }

  /** Dead-letter sink: the rows the curated sinks reject (null
    * deviceId), archived with a machine-usable failure reason. Bronze
    * already keeps EVERY verbatim line; quarantine is the triage view —
    * (raw, reason) — so a reprocessing job can select one failure class
    * without re-classifying the whole archive. Reasons partition well
    * (3 values) and the write is append-only, same scale shape as
    * bronze. */
  def quarantineRejects(batch: DataFrame, quarantineDir: String): Unit = {
    val parsed = try_parse_json(col("raw"))
    batch.filter(col("deviceId").isNull)
      .select(col("raw"),
        when(length(trim(col("raw"))) === 0, "empty_line")
          .when(parsed.isNull, "malformed_json")
          .otherwise("missing_device_id").as("reason"))
      .write.mode("append").parquet(quarantineDir)
  }

  /** Start the full three-sink pipeline on a RAW JSON line stream (the
    * pre-parse feed, so bronze archives the verbatim input). An optional
    * fourth sink quarantines curated-reject rows with a parse-failure
    * reason. */
  def start(raw: DataFrame, bronzeDir: String, devicesDir: String,
      telemetryDir: String, checkpointDir: String,
      jsonCol: String = "value",
      params: SpikeAndDip.Params = SpikeAndDip.Params(),
      perDevice: Boolean = true,
      lateness: String = "60 seconds",
      adjustMillis: Option[Long] = Some(30000L), // ASA Adjust default (T2)
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"), // T7 cadence
      quarantineDir: Option[String] = None
  ): StreamingQuery = {
    val events = toPipeEvents(raw, jsonCol)
      .withWatermark("enqueuedTime", lateness)
      .as[PipeEvent](org.apache.spark.sql.Encoders.product[PipeEvent])
    val out = anomalyStage(events, params, perDevice, adjustMillis)
    out.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[PipeOut], _: Long) =>
        batch.persist()
        try {
          // S4 telemetry: enriched + flagged fact rows. First: it
          // computes the batch into the cache the other sinks read.
          telemetryColumns(batch).write.mode("append").parquet(telemetryDir)
          writeConcurrently(Seq(
            // S2 bronze: the VERBATIM input lines, append-only —
            // including malformed and null-device rows the curated
            // sinks reject.
            "bronze" -> (() => batch.select("raw").write.mode("append").text(bronzeDir)),
            // S3 devices: dedup-merge.
            "devices" -> (() => mergeDevices(batch.toDF(), devicesDir))) ++
            // dead-letter: curated rejects with a failure reason.
            quarantineDir.map(d =>
              "quarantine" -> (() => quarantineRejects(batch.toDF(), d))))
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  /** Run each named sink write on its own new thread and return when
    * all have finished. New threads inherit the caller's Spark local
    * properties (job group, description, SQL execution id), so in a
    * `foreachBatch` the writes stay in the query's job group. The first
    * failure is rethrown with the others attached as suppressed. If the
    * caller is interrupted (`StreamingQuery.stop()`), the writers are
    * interrupted and awaited before the interrupt propagates, so no
    * writer outlives the batch. */
  private def writeConcurrently(sinks: Seq[(String, () => Unit)]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = sinks.map { case (name, write) =>
      val t = new Thread(() =>
        try write() catch { case e: Throwable => failures.add(e) },
        s"curated-sink-$name")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach { t =>
          while (t.isAlive) try t.join() catch { case _: InterruptedException => () }
        }
        throw e
    }
    val it = failures.iterator()
    if (it.hasNext) {
      val first = it.next()
      it.forEachRemaining(e => first.addSuppressed(e))
      throw first
    }
  }
}
