package perfbench

import graft.anomaly.SpikeAndDip
import graft.streaming.CuratedPipeline
import graft.streaming.CuratedPipeline.{PipeEvent, PipeOut}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** The pipeline's directories under one run's work dir. */
final class Dirs(root: Path) {
  val in: Path = root.resolve("in")
  val staging: Path = root.resolve("staging")
  val bronze: String = root.resolve("bronze").toString
  val devices: String = root.resolve("devices").toString
  val telemetry: String = root.resolve("telemetry").toString
  val quarantine: String = root.resolve("quarantine").toString
  val checkpoint: String = root.resolve("checkpoint").toString
  val watermark: String = root.resolve("push-watermark.txt").toString
  Files.createDirectories(in)
  Files.createDirectories(staging)
}

/** The curated pipeline over a directory of raw envelope files (the
  * `live` workload and the backlog drain), and the output checks they
  * share. */
object Stream {
  private val Params = SpikeAndDip.Params()
  private val Lateness = "60 seconds"
  private val AdjustMillis = Some(30000L)

  /** Start the pipeline on `d.in`. Untraced runs call
    * `CuratedPipeline.start` itself; traced runs assemble the same query
    * from its public stages (same watermark, state parameters and sink
    * order as `start`'s defaults) so each sink can sit in its own span. */
  def start(spark: SparkSession, d: Dirs, trigger: Trigger,
      maxFilesPerTrigger: Option[Int], tr: Trace): StreamingQuery = {
    val reader = spark.readStream.format("text")
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .load(d.in.toString)
    if (!tr.enabled)
      CuratedPipeline.start(raw, d.bronze, d.devices, d.telemetry,
        d.checkpoint, params = Params, lateness = Lateness,
        adjustMillis = AdjustMillis, trigger = trigger,
        quarantineDir = Some(d.quarantine))
    else {
      val sc = spark.sparkContext
      val events = CuratedPipeline.toPipeEvents(raw)
        .withWatermark("enqueuedTime", Lateness)
        .as[PipeEvent](org.apache.spark.sql.Encoders.product[PipeEvent])
      val out = CuratedPipeline.anomalyStage(events, Params, perDevice = true,
        AdjustMillis)
      out.writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", d.checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: Dataset[PipeOut], id: Long) =>
          val g = s"batch-$id"
          tr.span("batch", g, sc) {
            batch.persist()
            try {
              // forces the parse and the state fold once, so the sink
              // spans below time only their own writes
              tr.span("ingest_anomaly", g, sc)(batch.count())
              tr.span("sink.bronze", g, sc)(
                batch.select("raw").write.mode("append").text(d.bronze))
              tr.span("sink.devices", g, sc)(
                CuratedPipeline.mergeDevices(batch.toDF(), d.devices))
              tr.span("sink.telemetry", g, sc)(
                CuratedPipeline.telemetryColumns(batch).write.mode("append")
                  .parquet(d.telemetry))
              tr.span("sink.quarantine", g, sc)(
                CuratedPipeline.quarantineRejects(batch.toDF(), d.quarantine))
            } finally batch.unpersist()
          }
          ()
        }
        .start()
    }
  }

  /** One output check: `failed` counts the operations it found wrong. */
  final case class Check(name: String, expected: Long, got: Long) {
    def failed: Long = if (expected == got) 0L else math.max(1L, math.abs(expected - got))
  }

  /** Row counts of every sink against what the generator produced, plus
    * the no-duplicate rule for Telemetry. */
  def checkSinks(spark: SparkSession, d: Dirs, gen: Gen): Seq[Check] = {
    val tel = spark.read.parquet(d.telemetry)
    val q = spark.read.parquet(d.quarantine).groupBy("reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dev = spark.read.parquet(d.devices)
      .agg(count(lit(1)), countDistinct(col("deviceId"))).head()
    val dups = tel.groupBy("deviceId", "enqueuedTime").count()
      .filter(col("count") > 1).agg(coalesce(sum(col("count") - 1), lit(0L)))
      .head().getLong(0)
    Seq(
      Check("bronze_rows", gen.total, spark.read.text(d.bronze).count()),
      Check("telemetry_rows", gen.valid, tel.count()),
      Check("devices_rows", gen.seen.cardinality.toLong, dev.getLong(0)),
      Check("devices_distinct", gen.seen.cardinality.toLong, dev.getLong(1)),
      Check("quarantine_malformed", gen.malformed, q.getOrElse("malformed_json", 0L)),
      Check("quarantine_missing_device", gen.missingDevice,
        q.getOrElse("missing_device_id", 0L)),
      Check("quarantine_other", 0L, (q - "malformed_json" - "missing_device_id").values.sum),
      Check("telemetry_duplicate_pairs", 0L, dups))
  }

  /** For each Telemetry row that `keep` selects: seconds from `from`
    * (epoch millis) to the modification time of the committed file that
    * holds the row. */
  def visibleLatencies(spark: SparkSession, d: Dirs, from: org.apache.spark.sql.Column,
      keep: org.apache.spark.sql.Column): Array[Double] =
    spark.read.parquet(d.telemetry)
      .select(col("enqueuedTime"), col("_metadata.file_modification_time").as("mtime"))
      .filter(keep)
      .select(((unix_millis(col("mtime")) - from) / 1000.0).as("s"))
      .collect().map(_.getDouble(0))

  /** Data files in the four sinks. */
  def sinkFiles(d: Dirs): Long =
    Seq(d.bronze, d.devices, d.telemetry, d.quarantine).map { p =>
      val dir = java.nio.file.Paths.get(p)
      if (!Files.isDirectory(dir)) 0L
      else {
        val s = Files.list(dir)
        try s.iterator.asScala.count(_.getFileName.toString.startsWith("part-")).toLong
        finally s.close()
      }
    }.sum

  /** Per-layer figures from the trigger progress and the stage listener. */
  def streamLayers(q: StreamingQuery, tr: Trace, inputRows: Long,
      backlogMax: Long, checks: Seq[Check], flagged: Long,
      d: Dirs, devicesRows: Long): Map[String, Double] = {
    val ps = q.recentProgress.toSeq
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    val st = ps.flatMap(_.stateOperators.headOption)
    val stages = tr.allStages
    def busy(tag: String, p: StageRec => Boolean): Double =
      stages.filter(s => s.span == tag && p(s)).map(_.runS).sum
    // inside the materialising count: the map-side stage reads the files
    // and parses (ingest); the shuffle-read stage runs the state fold
    val ingest = busy("ingest_anomaly", s => s.shuffleWrite > 0 && s.shuffleRead == 0)
    val anomaly = busy("ingest_anomaly", _.shuffleRead > 0)
    val spans = tr.allSpans
    def spanSum(n: String): Double = spans.filter(_.name == n).map(_.seconds).sum
    val c = checks.map(x => x.name -> x.got).toMap
    Map(
      "source.backlog_rows_max" -> backlogMax.toDouble,
      "trigger.latest_offset_ms" -> dur("latestOffset"),
      "trigger.planning_ms" -> dur("queryPlanning"),
      "trigger.add_batch_ms" -> dur("addBatch"),
      "trigger.wal_commit_ms" -> dur("walCommit"),
      "trigger.commit_offsets_ms" -> dur("commitOffsets"),
      "trigger.batches" -> ps.count(_.numInputRows > 0).toDouble,
      "ingest.busy_s" -> ingest,
      "ingest.us_per_row" -> (if (inputRows > 0) ingest * 1e6 / inputRows else 0.0),
      "ingest.rejects_malformed" -> c.getOrElse("quarantine_malformed", 0L).toDouble,
      "ingest.rejects_missing_device" -> c.getOrElse("quarantine_missing_device", 0L).toDouble,
      "anomaly.busy_s" -> anomaly,
      "anomaly.flagged" -> flagged.toDouble,
      "state.rows_total" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> (if (st.isEmpty) 0.0 else st.map(_.memoryUsedBytes).max.toDouble),
      "state.commit_ms" -> st.map(_.commitTimeMs).sum.toDouble,
      "sink.bronze_s" -> spanSum("sink.bronze"),
      "sink.devices_s" -> spanSum("sink.devices"),
      "sink.telemetry_s" -> spanSum("sink.telemetry"),
      "sink.quarantine_s" -> spanSum("sink.quarantine"),
      "sink.files_written" -> sinkFiles(d).toDouble,
      "devices.rows_rewritten" ->
        stages.filter(_.span == "sink.devices").map(_.recordsWritten).sum.toDouble,
      "devices.rows_new" -> devicesRows.toDouble)
  }

  /** Trigger spans rebuilt from the progress events, so each batch span
    * has the trigger that ran it as its parent. */
  def withTriggers(q: StreamingQuery, tr: Trace): Seq[Span] =
    if (!tr.enabled) Nil
    else {
      val trig = q.recentProgress.toSeq.map { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val g = s"batch-${p.batchId}"
        g -> tr.add("trigger", g, 0, tr.epochMsToNs(startMs),
          tr.epochMsToNs(startMs + triggerMs(p)))
      }.toMap
      tr.allSpans.map(s =>
        if (s.parent == 0 && s.name == "batch") s.copy(parent = trig.getOrElse(s.group, 0))
        else s)
    }

  /** A trigger's whole duration, from its progress event. */
  def triggerMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  /** Flagged (deviceId, enqueuedTime) pairs in `df`. */
  def flaggedPairs(df: DataFrame, flag: String): Set[(String, Long)] =
    df.filter(col("deviceId").isNotNull && col(flag) === 1)
      .select(col("deviceId"), unix_micros(col("enqueuedTime")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  /** Local HTTP receiver standing in for the dashboard's push endpoint.
    * Records, per pushed row, when the first POST carrying it arrived. */
  final class Receiver {
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val firstSeen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val posts = new java.util.concurrent.atomic.AtomicLong()
    val rows = new java.util.concurrent.atomic.AtomicLong()
    server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    server.createContext("/push", (ex: com.sun.net.httpserver.HttpExchange) => {
      val now = System.currentTimeMillis()
      val body = try ex.getRequestBody.readAllBytes() finally ex.getRequestBody.close()
      posts.incrementAndGet()
      mapper.readTree(body).elements().asScala.foreach { n =>
        rows.incrementAndGet()
        val ts = java.time.Instant.parse(n.get("enqueuedTime").asText()).toEpochMilli
        firstSeen.putIfAbsent(n.get("deviceId").asText() + "|" + ts, now)
      }
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/push"
    def stop(): Unit = {
      server.stop(0)
      server.getExecutor match {
        case e: java.util.concurrent.ExecutorService =>
          e.shutdown(); e.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
        case _ => ()
      }
    }
  }
}
