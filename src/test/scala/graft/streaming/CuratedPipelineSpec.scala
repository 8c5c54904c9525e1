package graft.streaming

import graft.SparkSpec
import graft.anomaly.SpikeAndDip
import graft.ingest.EnvelopeTransform
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class CuratedPipelineSpec extends SparkSpec {

  /** Envelope JSON in the post-transform shape (what the stream carries). */
  private def rawJson(dev: String, ts: String, battery: Long,
      barometer: Double, ax: Double = 0.1, ay: Double = 0.2, az: Double = 0.3) =
    s"""{"applicationId":"app","component":"sensors","enqueuedTime":"$ts",
       |"messageSource":"telemetry","device":{"id":"$dev","templateId":"tpl"},
       |"telemetry":[{"name":"battery","value":$battery},
       |{"name":"barometer","value":$barometer},
       |{"name":"accelerometer","value":{"x":$ax,"y":$ay,"z":$az}},
       |{"name":"geolocation","value":{"lat":1.5,"lon":2.5,"alt":3.5}}]}"""
      .stripMargin.replace("\n", "")

  private def envelopes(jsons: Seq[String]) = {
    import spark.implicits._
    EnvelopeTransform.fromJson(jsons.toDF("value"), "value")
  }

  test("stateful stage (batch mode) matches the window-function batch path") {
    import spark.implicits._
    // 2 devices × 40 events, deliberately shuffled (out of order): the
    // stage sorts by event time per key before folding state.
    val events = scala.util.Random.shuffle((0 until 80).toList).map { k =>
      val dev = s"dev${k % 2}"; val i = k / 2
      val v = if (i == 30) 9999L else 100L + (i % 4)
      rawJson(dev, f"2024-01-01T00:00:${i * 0.7}%06.3fZ".replace(",", "."), v, 1013.0 + (i % 3))
    }
    val env = envelopes(events)
    val streamed = CuratedPipeline
      .anomalyStage(CuratedPipeline.toPipeEvents(events.toDF("value")),
        perDevice = true)
      .select(col("deviceId"), col("enqueuedTime"), col("anomaly"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getInt(2))
      .toMap
    val batch = SpikeAndDip.telemetryAnomalies(
      graft.enrich.Enrich.telemetry(env), partitionCols = Seq("deviceId"))
      .select(col("deviceId"), col("enqueuedTime"), col("Anomaly"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getInt(2))
      .toMap
    assert(streamed.size == 80 && batch.size == 80)
    assert(streamed == batch)
    assert(streamed.values.sum >= 2) // the injected spikes were flagged
  }

  test("three-sink fan-out: bronze append, devices dedup-merge, telemetry append") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("curated").toString
    val input = MemoryStream[String](spark)
    val q = CuratedPipeline.start(
      input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    val garbage = "NOT JSON }{"
    try {
      input.addData(
        rawJson("devA", "2024-01-01T00:00:01Z", 90, 1010.0),
        rawJson("devA", "2024-01-01T00:00:02Z", 91, 1011.0),
        rawJson("devB", "2024-01-01T00:00:03Z", 80, 1000.0))
      q.processAllAvailable()
      // second micro-batch repeats devA (dedup-merge must not re-add it)
      // and includes a malformed line (bronze-only)
      input.addData(
        rawJson("devA", "2024-01-01T00:00:04Z", 92, 1012.0),
        rawJson("devC", "2024-01-01T00:00:05Z", 70, 990.0),
        garbage)
      q.processAllAvailable()
    } finally q.stop()
    // bronze = VERBATIM archive: all 6 input lines incl. the garbage one
    val bronze = spark.read.text(s"$dir/bronze").as[String].collect()
    assert(bronze.length == 6)
    assert(bronze.contains(garbage)) // byte-for-byte, not re-serialized
    val devs = spark.read.parquet(s"$dir/devices")
    assert(devs.count() == 3) // at-most-one-row-per-device (PK semantics)
    assert(devs.select("deviceId").as[String].collect().sorted.toSeq ==
      Seq("devA", "devB", "devC"))
    val tel = spark.read.parquet(s"$dir/telemetry")
    assert(tel.count() == 5)
    assert(tel.columns.toSeq == Seq("deviceId", "enqueuedTime", "battery",
      "barometer", "latitude", "longitude", "altitude", "AccelMagnitude",
      "GyroMagnitude", "MagMagnitude", "Anomaly"))
    // enrichment reached the sink: magnitude of (0.1, 0.2, 0.3)
    val m = tel.select("AccelMagnitude").as[Double].head()
    assert(math.abs(m - math.sqrt(0.01 + 0.04 + 0.09)) < 1e-12)
  }

  test("quarantine sink: curated rejects archived with a failure reason") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("quarantine").toString
    val input = MemoryStream[String](spark)
    val q = CuratedPipeline.start(
      input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0),
      quarantineDir = Some(s"$dir/deadletter"))
    val noDevice = // valid JSON, device block absent
      """{"applicationId":"app","enqueuedTime":"2024-01-01T00:00:09Z","telemetry":[]}"""
    try {
      input.addData(
        rawJson("devA", "2024-01-01T00:00:01Z", 90, 1010.0),
        "NOT JSON }{",
        noDevice,
        "")
      q.processAllAvailable()
    } finally q.stop()
    val dl = spark.read.parquet(s"$dir/deadletter")
      .select("reason", "raw").as[(String, String)].collect().toMap
    assert(dl.keySet == Set("malformed_json", "missing_device_id", "empty_line"))
    assert(dl("malformed_json") == "NOT JSON }{")
    assert(dl("missing_device_id") == noDevice)
    // the good row went to telemetry, not quarantine
    assert(spark.read.parquet(s"$dir/telemetry").count() == 1)
    // bronze still archives ALL 4 verbatim lines (quarantine is a view,
    // not a diversion)
    assert(spark.read.text(s"$dir/bronze").count() == 4)
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark (q27 twin)") {
    import spark.implicits._
    // duplicate event ids arriving across micro-batches inside the
    // watermark window are emitted once — the streaming rendering of
    // exact dedup (state bounded by the watermark, unlike an unbounded
    // dropDuplicates)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val deduped = input.toDF().toDF("event_id", "ts", "payload")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("dedupckpt").toString)
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData((1L, t("2024-01-01 00:00:00"), "a"),
        (2L, t("2024-01-01 00:00:01"), "b"),
        (1L, t("2024-01-01 00:00:02"), "a-dup-same-batch"))
      q.processAllAvailable()
      input.addData((1L, t("2024-01-01 00:00:03"), "a-dup-next-batch"),
        (3L, t("2024-01-01 00:00:04"), "c"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("streaming session_window aggregate sessionizes with a watermark (q39 twin)") {
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val sessions = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 seconds"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
    val q = sessions.writeStream
      .outputMode("append")
      .format("memory").queryName("sess")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sessckpt").toString)
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // u1: two bursts 31s apart → 2 sessions; u2: one burst
      input.addData(
        ("u1", t("2024-01-01 00:00:00"), 1.0),
        ("u1", t("2024-01-01 00:00:20"), 2.0),
        ("u1", t("2024-01-01 00:00:51.001"), 4.0),
        ("u2", t("2024-01-01 00:00:05"), 8.0))
      q.processAllAvailable()
      // advance the watermark past every session's close so append
      // mode emits them all
      input.addData(("u3", t("2024-01-01 01:00:00"), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess")
      .select("user_id", "n_events", "total")
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("u1", 2L, 3.0), ("u1", 1L, 4.0), ("u2", 1L, 8.0)))
  }

  test("devices merge: a failed read of the existing table aborts, never duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("devmerge").toString
    val batch = CuratedPipeline
      .toPipeEvents(Seq(rawJson("devA", "2024-01-01T00:00:01Z", 90, 1010.0))
        .toDF("value")).toDF()
    // empty dir = no table yet → treated as absent, merge proceeds
    CuratedPipeline.mergeDevices(batch, s"$dir/devices")
    assert(spark.read.parquet(s"$dir/devices").count() == 1)
    // corrupt the table: a read failure must PROPAGATE (a swallowed
    // error would make the anti-join re-insert devA — duplicate PK)
    val corrupt = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/devices")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.write(java.nio.file.Paths.get(corrupt),
      "not a parquet file".getBytes)
    intercept[Exception] {
      CuratedPipeline.mergeDevices(batch, s"$dir/devices")
      // force evaluation if the failure is lazy
      spark.read.parquet(s"$dir/devices").count()
    }
    // the corrupt-read failure left no second devA row behind
    val files = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/devices")).toArray.map(_.toString)
      .count(_.endsWith(".parquet"))
    assert(files == 1, "no new part file may be appended after a failed read")
  }

  test("devices merge: atomic swap — crash leftovers refuse loudly, write failure leaves the table intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("devswap").toString + "/devices"
    def batchFor(dev: String) = CuratedPipeline.toPipeEvents(
      Seq(rawJson(dev, "2024-01-01T00:00:01Z", 90, 1010.0)).toDF("value")).toDF()
    CuratedPipeline.mergeDevices(batchFor("devA"), dir)
    assert(spark.read.parquet(dir).count() == 1)
    // first-seen wins + idempotence: re-merging devA adds nothing
    CuratedPipeline.mergeDevices(batchFor("devA"), dir)
    CuratedPipeline.mergeDevices(batchFor("devB"), dir)
    assert(spark.read.parquet(dir).select("deviceId").as[String]
      .collect().sorted.toSeq == Seq("devA", "devB"))
    // simulated crash BETWEEN the two renames: trash present → the next
    // merge must refuse with the recovery pointer, never rebuild from
    // empty (the silent-data-loss failure the swap protocol exists for)
    val trash = java.nio.file.Paths.get(dir + ".devices-merge-trash")
    java.nio.file.Files.createDirectory(trash)
    val e = intercept[IllegalArgumentException] {
      CuratedPipeline.mergeDevices(batchFor("devC"), dir)
    }
    assert(e.getMessage.contains("intact"))
    assert(spark.read.parquet(dir).count() == 2) // old table untouched
    java.nio.file.Files.delete(trash)
    // a failing WRITE cleans its tmp (pre-rename, so it is garbage) and
    // leaves the table untouched — the next merge proceeds normally
    intercept[RuntimeException] {
      Maintenance.atomicSwap(spark, dir, "devices-merge") { _ =>
        throw new RuntimeException("boom")
      }
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + ".devices-merge-tmp")))
    assert(spark.read.parquet(dir).count() == 2)
    CuratedPipeline.mergeDevices(batchFor("devC"), dir)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("devices merge: a batch of only known devices leaves the table's files untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("devnoop").toString + "/devices"
    def batchOf(devs: String*) = CuratedPipeline.toPipeEvents(devs.map(d =>
      rawJson(d, "2024-01-01T00:00:01Z", 90, 1010.0)).toDF("value")).toDF()
    def files(): Map[String, Long] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path]).map(p =>
        p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally ls.close()
    }
    CuratedPipeline.mergeDevices(batchOf("devA", "devB"), dir)
    val before = files()
    assert(before.keys.exists(_.endsWith(".parquet")))
    Thread.sleep(20) // a rewrite inside the same millisecond could match mtimes
    // known ids only, null ids alongside: no new device, so no rewrite
    CuratedPipeline.mergeDevices(
      batchOf("devB", "devA").unionByName(batchOf("devA")
        .withColumn("deviceId", lit(null).cast("string"))), dir)
    assert(files() == before)
    assert(spark.read.parquet(dir).select("deviceId").as[String]
      .collect().sorted.toSeq == Seq("devA", "devB"))
  }

  test("device enrichment: broadcast left join, unknown devices survive, merges show up next call") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("devjoin").toString + "/devices"
    val fact = Seq(("devA", 90L), ("devB", 85L), ("devC", 80L))
      .toDF("deviceId", "battery")
    // no devices table yet: every row survives, metadata all null
    val cold = CuratedPipeline.enrichWithDevices(fact, dir)
    assert(cold.count() == 3 &&
      cold.filter(col("templateId").isNotNull).count() == 0)
    // merge two devices, then enrich: known rows carry metadata, the
    // unknown one keeps null (a lagging dim must not drop fact rows)
    CuratedPipeline.mergeDevices(
      CuratedPipeline.toPipeEvents(Seq(
        rawJson("devA", "2024-01-01T00:00:01Z", 90, 1010.0),
        rawJson("devB", "2024-01-01T00:00:02Z", 85, 1009.0))
        .toDF("value")).toDF(), dir)
    val warm = CuratedPipeline.enrichWithDevices(fact, dir)
    assert(warm.filter(col("templateId").isNotNull)
      .select("deviceId").as[String].collect().sorted.toSeq == Seq("devA", "devB"))
    assert(warm.filter(col("deviceId") === "devC").count() == 1)
    // the join must broadcast the dimension, never shuffle the facts
    assert(warm.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // a device merged BETWEEN calls is visible to the next call — the
    // SCD pickup a stream-static parquet join would silently miss
    CuratedPipeline.mergeDevices(
      CuratedPipeline.toPipeEvents(Seq(
        rawJson("devC", "2024-01-01T00:00:03Z", 80, 1008.0))
        .toDF("value")).toDF(), dir)
    val next = CuratedPipeline.enrichWithDevices(fact, dir)
    assert(next.filter(col("templateId").isNotNull).count() == 3)
  }

  test("checkpoint recovery: anomaly state survives a query restart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("recov").toString
    def newQuery(input: MemoryStream[String]) = CuratedPipeline.start(
      input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    val input1 = MemoryStream[String](spark)
    val q1 = newQuery(input1)
    try {
      input1.addData((0 until 30).map(i =>
        rawJson("dev", f"2024-01-01T00:00:$i%02d.000Z", 100 + (i % 3), 1013.0)): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // a NEW query over the same checkpoint: offsets and flatMapGroups-
    // WithState state must restore, so the spike is still detectable
    val input2 = MemoryStream[String](spark)
    input2.addData((0 until 30).map(i => // re-offer batch 1 (already committed)
      rawJson("dev", f"2024-01-01T00:00:$i%02d.000Z", 100 + (i % 3), 1013.0)): _*)
    input2.addData(rawJson("dev", "2024-01-01T00:00:31.000Z", 99999, 1013.0))
    val q2 = newQuery(input2)
    try q2.processAllAvailable() finally q2.stop()
    val tel = spark.read.parquet(s"$dir/telemetry")
    // no duplicates from the restart (the committed batch is not
    // re-emitted thanks to the checkpoint's offset log + file-sink log)
    assert(tel.count() == 31)
    assert(tel.filter(col("battery") === 99999)
      .select("Anomaly").as[Int].head() == 1) // pre-restart history used
  }

  test("ASA 'Adjust' clamp: late event's timestamp is pulled to high-watermark minus tolerance") {
    // The clamp acts at arrival (micro-batch) boundaries — within one
    // batch the reorder buffer sorts, so lateness only exists across
    // batches. Watermark is loosened so the late row reaches the clamp
    // instead of being watermark-dropped (T3 vs T2 interplay).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("adjust").toString
    val input = MemoryStream[String](spark)
    val q = CuratedPipeline.start(
      input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      lateness = "2 hours", adjustMillis = Some(30000L),
      trigger = Trigger.ProcessingTime(0))
    try {
      input.addData(
        rawJson("dev", "2024-01-01T10:00:00Z", 100, 1013.0),
        rawJson("dev", "2024-01-01T10:01:00Z", 101, 1013.0))
      q.processAllAvailable()
      // arrives a batch later, 1 h behind the key's 10:01 high watermark
      input.addData(rawJson("dev", "2024-01-01T09:00:00Z", 102, 1013.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/telemetry")
      .select("battery", "enqueuedTime").as[(Long, java.sql.Timestamp)]
      .collect().map { case (b, t) => b -> t.toString }.toMap
    assert(out(100L) == "2024-01-01 10:00:00.0") // in order: untouched
    assert(out(101L) == "2024-01-01 10:01:00.0")
    assert(out(102L) == "2024-01-01 10:00:30.0") // clamped to wm - 30 s
  }

  test("state persists across micro-batches (anomaly only detectable with carried history)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("curated2").toString
    val input = MemoryStream[String](spark)
    val q = CuratedPipeline.start(
      input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: 30 calm events — builds history, no anomaly
      input.addData((0 until 30).map(i =>
        rawJson("dev", f"2024-01-01T00:00:$i%02d.000Z", 100 + (i % 3), 1013.0)): _*)
      q.processAllAvailable()
      // batch 2: one wild spike — only flaggable if batch-1 state survived
      input.addData(rawJson("dev", "2024-01-01T00:00:31.000Z", 99999, 1013.0))
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.read.parquet(s"$dir/telemetry")
      .filter(col("battery") === 99999).select("Anomaly").as[Int].head()
    assert(flagged == 1)
  }
}
