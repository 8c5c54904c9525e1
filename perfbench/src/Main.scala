package perfbench

import graft.GraftSession
import graft.streaming.CuratedPipeline
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. `run.py` builds it and starts it with
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <record.json>
  *     [<data dir> <query list> <warm-up query list>]
  * }}}
  *
  * It writes one JSON run record; `run.py` adds the DuckDB checks and
  * prints the result line. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Lines in the set-up probe (one static pass through the pipeline). */
  val ProbeLines = 2000

  // exit explicitly: a failure must not leave the JVM waiting on a
  // non-daemon thread (the receiver, the generator) until run.py kills it
  def main(args: Array[String]): Unit = {
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, outS) = args.take(6)
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val tr = new Trace(traceS == "1")
    val work = Paths.get(workS)
    // Spark gets half the cores: the JIT, the GC, the load threads and
    // other tenants of a shared host then run beside its tasks instead of
    // preempting them, which would time the scheduler rather than the code
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.max(1, nproc / 2)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: session build plus one probe through the pipeline; the
    // first is timed from JVM start, the later ones from the previous
    // session's stop
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      val t0 = if (i == 1) jvmStartMs else {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        System.currentTimeMillis()
      }
      spark = session(cores, work)
      val built = System.currentTimeMillis()
      probe(spark, seed)
      val done = System.currentTimeMillis()
      ((built - t0) / 1000.0, (done - built) / 1000.0)
    }
    tr.listen(spark.sparkContext)
    val runT0 = System.nanoTime()
    val cpu0 = Cpu.snap()
    val outcome = workload match {
      case "live" => Workloads.live(spark, work, seed, seconds, tr)
      case "registry" =>
        def names(i: Int) = Files.readAllLines(Paths.get(args(i)), UTF_8).toArray(Array[String]())
          .toSeq.map(_.trim).filter(_.nonEmpty)
        Registry.run(spark, args(6), names(8), names(7), tr)
      case other => sys.error(s"unknown workload $other")
    }
    val cpu1 = Cpu.snap()
    val runS = (System.nanoTime() - runT0) / 1e9

    val spans = outcome.spans
    var layers = outcome.layers
    var extraChecks = Seq.empty[Stream.Check]
    var extraAttempted = 0L
    if (tr.enabled) {
      tr.write(work.resolve("spans.jsonl"), spans, runT0)
      val self = Trace.selfTimes(spans)
      // the measured section: generator start to drain end (live), first
      // query to last (registry)
      val (w0, w1) = outcome.windowNs
      val topLevel = spans.filter(_.parent == 0).map(s =>
        (math.max(s.startNs, w0), math.min(s.endNs, w1))).filter(iv => iv._2 > iv._1)
      layers ++= self.map { case (n, v) => s"self.$n" -> v }
      layers ++= Map(
        "trace.spans" -> spans.size.toDouble,
        "trace.wall_s" -> (w1 - w0) / 1e9,
        "trace.unaccounted_s" -> (w1 - w0 - Trace.covered(topLevel)) / 1e9,
        "session.build_s" -> setups.head._1,
        "session.first_query_s" -> setups.head._2,
        "run.external_cpu_share" -> Cpu.externalShare(cpu0, cpu1))
      if (workload == "live") {
        // the single-threaded baseline: a backlog drained untraced, with
        // its output checks, at the run's core count and then on a fresh local[1]
        // context, both after the live run has warmed the JIT up
        val (rateN, checksN) = Workloads.backfill(spark, work.resolve("backlog"), seed)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val one = session(1, work)
        val (rate1, checks1) = Workloads.backfill(one, work.resolve("backlog-local1"), seed)
        one.stop()
        extraChecks = checksN.map(c => c.copy(name = s"backlog.${c.name}")) ++
          checks1.map(c => c.copy(name = s"backlog_local1.${c.name}"))
        extraAttempted = 2L * Workloads.BackfillEvents
        layers += "scaling.warm_rows_per_s" -> rateN
        layers += "scaling.local1_rows_per_s" -> rate1
        layers += "scaling.speedup_vs_local1" -> rateN / rate1
      }
    }
    val setupS = setups.map(s => s._1 + s._2).sorted.apply(Setups / 2)
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> tr.enabled, "cores" -> cores, "nproc" -> nproc,
      "setup_s" -> setupS,
      "setup_samples_s" -> setups.map(s => s._1 + s._2),
      "e2e" -> (outcome.e2e + ("setup_s" -> setupS)),
      "layers" -> layers,
      "attempted" -> (outcome.attempted + extraAttempted),
      "checks" -> (outcome.checks ++ extraChecks).map(c =>
        Map("name" -> c.name, "expected" -> c.expected, "got" -> c.got,
          "failed" -> c.failed)),
      "external_cpu_share" -> Cpu.externalShare(cpu0, cpu1),
      "run_s" -> runS,
      "detail" -> outcome.detail)
    Files.write(Paths.get(outS), record.getBytes(UTF_8))
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    // temporary files stay in the run's work dir (run.py also points
    // SPARK_LOCAL_DIRS there)
    val s = GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
  }

  /** One static pass through the pipeline's stages over fresh lines. */
  private def probe(spark: SparkSession, seed: Long): Unit = {
    import spark.implicits._
    val gen = new Gen(seed, 100)
    val lines = (0 until ProbeLines).map(k => gen.line(k, Workloads.BackfillEpochMs + k * 1000L))
    val out = CuratedPipeline.anomalyStage(CuratedPipeline.toPipeEvents(lines.toDF("value")))
    CuratedPipeline.telemetryColumns(out).agg(count(lit(1))).head()
  }
}

/** CPU ticks of the whole box and of this JVM, from /proc. */
object Cpu {
  final case class Snap(total: Long, idle: Long, self: Long)

  def snap(): Snap =
    try {
      val all = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val st = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
      // the command name may hold spaces: fields start after the last ')'
      val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
      Snap(all.take(8).sum, all(3) + all(4), f(11).toLong + f(12).toLong)
    } catch { case scala.util.control.NonFatal(_) => Snap(-1, -1, -1) }

  /** Share of all CPU time between the snapshots that other processes
    * used: busy ticks minus this JVM's own, over all ticks; -1 if /proc
    * was unreadable. */
  def externalShare(a: Snap, b: Snap): Double =
    if (a.total < 0 || b.total <= a.total) -1.0
    else {
      val total = (b.total - a.total).toDouble
      val busy = total - (b.idle - a.idle)
      math.max(0.0, (busy - (b.self - a.self)) / total)
    }
}
