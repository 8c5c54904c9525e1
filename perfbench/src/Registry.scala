package perfbench

import graft.{Caches, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The `registry` workload: each named query once, cold, with `count()`,
  * in a fresh session, caches released between queries. */
object Registry {
  final case class Run(name: String, seconds: Double, rows: Long,
      error: Option[String], startNs: Long, endNs: Long)

  /** Runs the `warmup` queries untimed, then times each of `names` in the
    * given order. Every timed query is the first run of that query in
    * this JVM (cold: its code generated and its data read afresh), but the
    * engine's own code has been compiled by then, so JIT warm-up does not
    * land on whichever queries come first. */
  def run(spark: SparkSession, dataDir: String, warmup: Seq[String],
      names: Seq[String], tr: Trace): Outcome = {
    val queries = SparkEntry.queries
    def once(n: String, traced: Boolean): Run = {
      val s = spark.newSession()
      val t0 = System.nanoTime()
      val (rows, err) =
        try {
          val body = () => queries(n)(s, dataDir).count()
          (if (traced) tr.span("query", n, spark.sparkContext)(body()) else body(), None)
        } catch { case scala.util.control.NonFatal(e) => (-1L, Some(e.toString.take(300))) }
      val t1 = System.nanoTime()
      Caches.release(blocking = true)
      spark.catalog.clearCache()
      Run(n, (t1 - t0) / 1e9, rows, err, t0, t1)
    }
    val warm = warmup.map(once(_, traced = false))
    val runs = names.map(once(_, traced = true))
    val times = runs.map(_.seconds).toArray
    val total = times.sum
    val checks = (warm ++ runs).map(r =>
      Stream.Check(s"query_ran:${r.name}", 0L, if (r.error.isDefined) 1L else 0L))
    val (layers, perQuery) =
      if (!tr.enabled) (Map.empty[String, Double], runs.map(_ => Map.empty[String, Any]))
      else queryLayers(runs, tr)
    Outcome(
      Map("latency_p50_s" -> Stream.percentile(times, 0.50),
        "latency_tail_s" -> tail(times),
        "throughput_per_s" -> runs.size / total),
      layers, checks, (warm ++ runs).size.toLong,
      Map("registry_total_s" -> total,
        "warmup_s" -> warm.map(_.seconds).sum,
        "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
        "queries" -> runs.zip(perQuery).map { case (r, layer) =>
          Map("name" -> r.name, "seconds" -> r.seconds, "rows" -> r.rows,
            "error" -> r.error) ++ layer
        }),
      tr.allSpans, (runs.head.startNs, runs.last.endNs))
  }

  /** The registry's tail: the highest percentile with at least ten
    * queries beyond it, i.e. the eleventh-slowest time (p74 of 39). */
  def tail(times: Array[Double]): Double = {
    val s = times.sorted
    s(math.max(0, s.length - 11))
  }

  /** Per-query listener figures, summed. A stage belongs to the query
    * whose span it started in (queries run one at a time). */
  private def queryLayers(runs: Seq[Run], tr: Trace)
      : (Map[String, Double], Seq[Map[String, Any]]) = {
    // stage completions arrive on the listener thread; give it a moment
    Thread.sleep(500)
    val stages = tr.allStages
    val jobs = tr.jobStarts
    val per = runs.map { r =>
      val in = stages.filter(s => s.submitNs >= r.startNs && s.submitNs <= r.endNs)
      val covered = Trace.covered(in.map(s =>
        (s.submitNs, math.min(s.endNs, r.endNs)))) / 1e9
      (jobs.count(j => j >= r.startNs && j <= r.endNs), in, covered)
    }
    val wall = runs.map(_.seconds).sum
    val stageTime = per.map(_._3).sum
    val all = per.flatMap(_._2)
    val perQuery = runs.zip(per).map { case (r, (jobs, in, covered)) =>
      Map("jobs" -> jobs, "stages" -> in.size, "tasks" -> in.map(_.tasks).sum,
        "shuffle_read_bytes" -> in.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> in.map(_.shuffleWrite).sum,
        "spill_bytes" -> in.map(_.spill).sum, "stage_time_s" -> covered,
        "driver_share" -> (1.0 - covered / r.seconds))
    }
    (Map(
      "query.jobs" -> per.map(_._1).sum.toDouble,
      "query.stages" -> all.size.toDouble,
      "query.tasks" -> all.map(_.tasks.toLong).sum.toDouble,
      "query.shuffle_read_bytes" -> all.map(_.shuffleRead).sum.toDouble,
      "query.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "query.spill_bytes" -> all.map(_.spill).sum.toDouble,
      "query.stage_time_s" -> stageTime,
      "query.driver_share" -> (if (wall > 0) 1.0 - stageTime / wall else 0.0)),
      perQuery)
  }
}
