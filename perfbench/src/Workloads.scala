package perfbench

import graft.serve.PowerBiSync
import graft.streaming.CuratedPipeline
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one workload measured. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer figures (filled in traced runs), `detail`
  * anything else worth keeping in the run record. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    checks: Seq[Stream.Check], attempted: Long, detail: Map[String, Any],
    spans: Seq[Span], windowNs: (Long, Long))

object Workloads {
  import Stream.{Check, percentile}

  // live: 500 events/s from 1,000 devices, one file per 100 ms tick
  val LiveDevices = 1000
  val LiveTickMs = 100L
  val LivePerTick = 50
  val LiveTrigger = "2 seconds"
  val LivePushMs = 2000L
  /** Before the generator starts, the stream runs this many batches of
    * 1,000 earlier-stamped events, one at a time, so JIT warm-up and the
    * first trigger's planning do not leave a backlog for the window. */
  val LivePrewarmBatches = 2
  /** Events created before the window are processed and checked but not
    * timed. */
  val LiveWarmupMs = 2000L

  // backlog: 18,000 events, 180 devices, 0.5 s apart per device in event
  // time, so each device's 100 events fill the 85-entry histories.
  // 12 files drained 4 per trigger = 3 micro-batches of 6,000 rows, large
  // enough that per-row work outweighs the per-trigger cost
  val BackfillDevices = 180
  val BackfillEvents = 18000
  val BackfillFiles = 12
  val BackfillFilesPerTrigger = 4
  val BackfillStepMs = 500L
  val BackfillEpochMs = 1767225600000L // 2026-01-01T00:00:00Z

  def live(spark: SparkSession, work: Path, seed: Long, seconds: Int,
      tr: Trace): Outcome = {
    val d = new Dirs(work.resolve("live"))
    val gen = new Gen(seed, LiveDevices)
    val sc = spark.sparkContext
    val rx = new Stream.Receiver
    val sink = new PowerBiSync.JdkHttpSink(rx.url)
    val store = new PowerBiSync.FileWatermarkStore(d.watermark, new java.sql.Timestamp(0L))
    val q = Stream.start(spark, d, Trigger.ProcessingTime(LiveTrigger), None, tr)
    // (publish time, lines published so far), for the backlog figure
    val publishLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val prewarm = LivePrewarmBatches * LiveDevices
    val before = System.currentTimeMillis()
    for (b <- 0 until LivePrewarmBatches) {
      // 2 s apart and all before the generator's first event
      val ts = before - (LivePrewarmBatches - b) * 2000L
      Gen.publish(d.in, d.staging, f"prewarm-$b%02d.json",
        (0 until LiveDevices).map(j => gen.line(b * LiveDevices + j, ts)))
      publishLog.add((System.currentTimeMillis(), (b + 1L) * LiveDevices))
      q.processAllAvailable()
    }

    val t0 = (System.currentTimeMillis() / LiveTickMs + 1) * LiveTickMs
    val winStart = t0 + LiveWarmupMs
    val winEnd = winStart + seconds * 1000L
    var lateMax = 0L
    val generator = new Thread(() => {
      var i = 0L
      var published = prewarm.toLong
      while (t0 + i * LiveTickMs < winEnd) {
        val due = t0 + i * LiveTickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        // every event is stamped with the time it was due, so a late
        // generator shows in the latency rather than hiding it
        val lines = (0 until LivePerTick).map(j =>
          gen.line(prewarm + i * LivePerTick + j, due))
        Gen.publish(d.in, d.staging, f"ev-$i%08d.json", lines)
        published += LivePerTick
        val now = System.currentTimeMillis()
        publishLog.add((now, published))
        lateMax = math.max(lateMax, now - due)
        i += 1
      }
    }, "perfbench-generator")

    val stopPush = new AtomicBoolean(false)
    val syncs = ArrayBuffer[(Double, Long, Int)]() // seconds, rows, files
    val syncErrors = new AtomicLong()
    def syncTick(i: Int): Long = {
      val df = spark.read.parquet(d.telemetry)
      val t = System.nanoTime()
      val n = tr.span("serve.sync", s"sync-$i", sc)(PowerBiSync.syncOnce(df, store, sink))
      syncs.synchronized(syncs += (((System.nanoTime() - t) / 1e9, n, df.inputFiles.length)))
      n
    }
    val pusher = new Thread(() => {
      val start = System.currentTimeMillis()
      var i = 0
      while (!stopPush.get()) {
        val wait = start + i * LivePushMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopPush.get() && hasParquet(d.telemetry))
          try syncTick(i)
          catch { case scala.util.control.NonFatal(_) => syncErrors.incrementAndGet() }
        i += 1
      }
    }, "perfbench-push")

    val measureNs = System.nanoTime()
    generator.start()
    pusher.start()
    generator.join()
    q.processAllAvailable()
    stopPush.set(true)
    pusher.join()
    q.stop()
    q.exception.foreach(e => throw e)
    // the final ticks after the drain push whatever the loop had not
    var tail = 0
    while (tail < 5 && syncTick(10000 + tail) > 0) tail += 1
    val measuredNs = (measureNs, System.nanoTime())
    rx.stop()

    val winCol = col("enqueuedTime") >= lit(new java.sql.Timestamp(winStart)) &&
      col("enqueuedTime") < lit(new java.sql.Timestamp(winEnd))
    val curated = Stream.visibleLatencies(spark, d, unix_millis(col("enqueuedTime")), winCol)
    val push = rx.firstSeen.asScala.iterator.flatMap { case (k, recv) =>
      val ts = k.substring(k.lastIndexOf('|') + 1).toLong
      if (ts >= winStart && ts < winEnd) Some((recv - ts) / 1000.0) else None
    }.toArray
    val progress = q.recentProgress.toSeq
    val inWindow = progress.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= winStart && p.numInputRows > 0)
    // capacity: input rows per second of trigger time, median over the
    // window's batches, so one slow batch does not swing it
    val rate = percentile(inWindow.map(p =>
      p.numInputRows * 1000.0 / math.max(1L, Stream.triggerMs(p))).toArray, 0.50)

    val checks = Stream.checkSinks(spark, d, gen) ++ Seq(
      Check("push_rows_received", gen.valid, rx.firstSeen.size.toLong),
      Check("push_sync_errors", 0L, syncErrors.get()))

    val flagged = spark.read.parquet(d.telemetry).agg(sum("Anomaly")).head().getLong(0)
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        // generated-but-uncommitted rows at the start of each trigger
        val pub = publishLog.asScala.toSeq
        var committed = 0L
        val backlog = progress.map { p =>
          val at = java.time.Instant.parse(p.timestamp).toEpochMilli
          val gen = pub.takeWhile(_._1 <= at).lastOption.map(_._2).getOrElse(0L)
          val b = gen - committed
          committed += p.numInputRows
          b
        }
        val s = syncs.toSeq
        Stream.streamLayers(q, tr, gen.total, if (backlog.isEmpty) 0L else backlog.max,
          checks, flagged, d, spark.read.parquet(d.devices).count()) ++ Map(
          "serve.sync_s" -> s.map(_._1).sum,
          "serve.rows_per_tick" -> (if (s.isEmpty) 0.0 else s.map(_._2).sum.toDouble / s.size),
          "serve.posts" -> rx.posts.get().toDouble,
          "serve.files_scanned" -> s.map(_._3.toLong).sum.toDouble,
          "serve.push_latency_p50_s" -> percentile(push, 0.50),
          "serve.push_latency_p99_s" -> percentile(push, 0.99),
          "gen.late_ms_max" -> lateMax.toDouble)
      }
    Outcome(
      Map("latency_p50_s" -> percentile(curated, 0.50),
        "latency_tail_s" -> percentile(curated, 0.99),
        "throughput_per_s" -> rate),
      layers, checks, gen.total,
      Map("latency_samples" -> curated.length, "push_samples" -> push.length,
        "push_latency_p50_s" -> percentile(push, 0.50),
        "push_latency_p99_s" -> percentile(push, 0.99),
        "gen_late_ms_max" -> lateMax, "batches_in_window" -> inWindow.size,
        "sync_ticks" -> syncs.size, "anomalies" -> flagged,
        "batches" -> progress.map(p => Map(
          "start_s" -> (java.time.Instant.parse(p.timestamp).toEpochMilli - t0) / 1000.0,
          "rows" -> p.numInputRows,
          "ms" -> Stream.triggerMs(p)))),
      Stream.withTriggers(q, tr), measuredNs)
  }

  private def hasParquet(dir: String): Boolean = {
    val p = Paths.get(dir)
    Files.isDirectory(p) && {
      val s = Files.list(p)
      try s.iterator.asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  /** Write the backlog before any timing: files in event-time order, with
    * strictly increasing modification times so the file source takes
    * them in that order. */
  def writeBacklog(d: Dirs, gen: Gen): Unit = {
    val perFile = BackfillEvents / BackfillFiles
    val now = System.currentTimeMillis()
    for (f <- 0 until BackfillFiles) {
      val lines = (0 until perFile).map { j =>
        val k = f.toLong * perFile + j
        gen.line(k, BackfillEpochMs + (k / BackfillDevices) * BackfillStepMs)
      }
      val p = Gen.publish(d.in, d.staging, f"backlog-$f%04d.json", lines)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(now - (BackfillFiles - f) * 1000L))
    }
  }

  /** A closed-loop backlog drain, the traced `live` run's single-threaded
    * baseline: writes the backlog, drains it untraced with
    * `Trigger.AvailableNow`, and checks every sink plus the flagged set
    * against `anomalyStage` over the same backlog as one static batch (the
    * backlog is in event-time order, so the watermark and the Adjust clamp
    * drop or move nothing). Returns input rows per second of drain time
    * and the checks. */
  def backfill(spark: SparkSession, work: Path, seed: Long): (Double, Seq[Check]) = {
    val d = new Dirs(work)
    val gen = new Gen(seed, BackfillDevices)
    writeBacklog(d, gen)
    val t = System.nanoTime()
    val q = Stream.start(spark, d, Trigger.AvailableNow, Some(BackfillFilesPerTrigger),
      new Trace(false))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val rate = gen.total * 1e9 / (System.nanoTime() - t)

    val static = CuratedPipeline.anomalyStage(
      CuratedPipeline.toPipeEvents(spark.read.text(d.in.toString)))
    val want = Stream.flaggedPairs(static.toDF(), "anomaly")
    val got = Stream.flaggedPairs(spark.read.parquet(d.telemetry), "Anomaly")
    (rate, Stream.checkSinks(spark, d, gen) ++ Seq(
      Check("anomalies_vs_static", want.size.toLong, got.size.toLong),
      Check("anomaly_pairs_not_in_both", 0L, (want diff got).size + (got diff want).size)))
  }
}
