package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One recorded interval. Spans of one micro-batch, sync tick or registry
  * query share `group`; `parent` names the span that caused this one. */
final case class Span(id: Int, name: String, group: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Stage-level counters from Spark's public listener, tagged with the
  * span that was open on the submitting thread (`Trace.SpanProperty`). */
final case class StageRec(stageId: Int, span: String, submitNs: Long,
    endNs: Long, tasks: Int, runS: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, recordsWritten: Long)

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out; with `enabled = false` every call is a plain pass-through,
  * so the untimed and traced runs execute the same code. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  // stage submit times come from the listener thread; the span clock is
  // System.nanoTime, so keep one offset to map listener millis onto it
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def epochMsToNs(ms: Long): Long = nanoAtEpoch + ms * 1000000L

  /** Run `body` inside a span named `name` in `group`; nested calls on
    * the same thread become children. */
  def span[T](name: String, group: String, sc: SparkContext = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val prevProp = if (sc != null) sc.getLocalProperty(Trace.SpanProperty) else null
      if (sc != null) sc.setLocalProperty(Trace.SpanProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, group, parent, t0, System.nanoTime()))
        if (sc != null) sc.setLocalProperty(Trace.SpanProperty, prevProp)
        open.set(stack)
      }
    }

  /** Record a span measured elsewhere (e.g. a trigger from its progress
    * event); returns its id so children can point at it. */
  def add(name: String, group: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, group, parent, startNs, endNs))
      id
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def allStages: Seq[StageRec] = stages.asScala.toSeq.sortBy(_.submitNs)
  /** Start times of every job, on the span clock. */
  def jobStarts: Seq[Long] = jobs.asScala.toSeq.map(_.longValue)

  /** Attach the stage listener (traced runs only). */
  def listen(sc: SparkContext): Unit = if (enabled) {
    val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(epochMsToNs(j.time))
        val tag = Option(j.properties).flatMap(p =>
          Option(p.getProperty(Trace.SpanProperty))).getOrElse("")
        j.stageIds.foreach(stageSpan.put(_, tag))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val submit = si.submissionTime.getOrElse(0L)
        val done = si.completionTime.getOrElse(submit)
        stages.add(StageRec(si.stageId, stageSpan.getOrDefault(si.stageId, ""),
          epochMsToNs(submit), epochMsToNs(done), si.numTasks,
          if (m == null) 0.0 else m.executorRunTime / 1000.0,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
          if (m == null) 0L else m.outputMetrics.recordsWritten))
      }
    })
  }

  /** Write `spans` as JSON lines to `path`, times relative to `t0Ns`. */
  def write(path: java.nio.file.Path, spans: Seq[Span], t0Ns: Long): Unit = {
    val lines = spans.map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "group" -> s.group,
        "parent" -> s.parent, "start_s" -> (s.startNs - t0Ns) / 1e9,
        "end_s" -> (s.endNs - t0Ns) / 1e9))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace {
  /** Local property carrying the open span's name into Spark jobs. */
  val SpanProperty = "perfbench.span"

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name: each span's duration minus the part of it
    * its children cover, summed by name, in seconds. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val inner = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(iv => iv._2 > iv._1)
        (s.endNs - s.startNs - covered(inner)) / 1e9
      }.sum
    }
  }
}
