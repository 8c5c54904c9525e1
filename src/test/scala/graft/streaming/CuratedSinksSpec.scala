package graft.streaming

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import scala.jdk.CollectionConverters._

/** The pipeline's per-batch sink fan-out (Telemetry first, then the
  * other sinks on their own threads) and the Devices read under it. */
class CuratedSinksSpec extends SparkSpec {

  private def rawJson(dev: String, ts: String, battery: Long) =
    s"""{"applicationId":"app","component":"sensors","enqueuedTime":"$ts",""" +
      s""""device":{"id":"$dev","templateId":"tpl"},""" +
      s""""telemetry":[{"name":"battery","value":$battery}]}"""

  private def tree(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(root)
    try s.iterator.asScala.toList finally s.close()
  }

  private def sinkThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("curated-sink-")).toSet

  test("a failing sink fails the batch uncommitted; every other sink finishes first") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fanoutfail")
    // a plain file where the quarantine directory should be
    java.nio.file.Files.write(dir.resolve("deadletter"), "taken".getBytes)
    val input = MemoryStream[String](spark)
    val q = CuratedPipeline.start(input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0),
      quarantineDir = Some(s"$dir/deadletter"))
    val e = try {
      input.addData(rawJson("devA", "2024-01-01T00:00:01Z", 90), "NOT JSON")
      intercept[StreamingQueryException](q.processAllAvailable())
    } finally q.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("deadletter")),
      causes.map(_.toString).mkString("\n"))
    assert(!java.nio.file.Files.exists(dir.resolve("ckpt/commits/0")))
    // the other sinks ran to completion: committed, no temporary output
    assert(spark.read.parquet(s"$dir/telemetry").count() == 1)
    assert(spark.read.text(s"$dir/bronze").count() == 2)
    assert(spark.read.parquet(s"$dir/devices").count() == 1)
    assert(!tree(dir).exists(_.getFileName.toString == "_temporary"),
      tree(dir).mkString("\n"))
    assert(sinkThreads().isEmpty, sinkThreads())
  }

  test("mistyped values in valid JSON read as null: the batch commits with every line in bronze") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mistyped")
    def line(dev: String, rest: String) =
      s"""{"device":{"id":"$dev"},"enqueuedTime":"2024-01-01T00:00:01Z",$rest}"""
    val lines = Seq(line("devT", """"telemetry":{"battery":5}"""),
      line("devV", """"telemetry":[{"name":"battery","value":"abc"},""" +
        """{"name":"barometer","value":"abc"}]"""),
      line("devM", """"messageProperties":[1,2]"""),
      rawJson("devE", "not a time", 90),
      rawJson("devA", "2024-01-01T00:00:02Z", 90), "NOT JSON")
    val input = MemoryStream[String](spark)
    val q = CuratedPipeline.start(input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try { input.addData(lines: _*); q.processAllAvailable() } finally q.stop()
    assert(java.nio.file.Files.exists(dir.resolve("ckpt/commits/0")))
    assert(spark.read.text(s"$dir/bronze").as[String].collect().sorted.toSeq ==
      lines.sorted)
    // every line with a deviceId; a mistyped field is null like a missing one
    val tel = spark.read.parquet(s"$dir/telemetry")
      .select("deviceId", "battery", "enqueuedTime").collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.isNullAt(2))).sortBy(_._1).toSeq
    assert(tel == Seq(("devA", Some(90L), false), ("devE", Some(90L), true),
      ("devM", None, false), ("devT", None, false), ("devV", None, false)))
  }

  test("every job a batch starts, on any sink thread, runs in the query's job group") {
    import spark.implicits._
    // every job started while the query runs: the test starts none
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val dir = java.nio.file.Files.createTempDirectory("fanoutgroup").toString
    val input = MemoryStream[String](spark)
    org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val q = CuratedPipeline.start(input.toDF(),
      s"$dir/bronze", s"$dir/devices", s"$dir/telemetry", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0),
      quarantineDir = Some(s"$dir/deadletter"))
    try {
      input.addData(rawJson("devA", "2024-01-01T00:00:01Z", 90), "NOT JSON")
      q.processAllAvailable()
      input.addData(rawJson("devB", "2024-01-01T00:00:02Z", 91))
      q.processAllAvailable()
    } finally {
      q.stop()
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    // two batches: at least telemetry, bronze and quarantine write jobs each
    assert(seen.size >= 6, seen)
    assert(seen.forall(_ == q.runId.toString), seen)
    assert(sinkThreads().isEmpty, sinkThreads())
  }

  test("an empty Devices directory reads as an empty table: merge and enrich give the absent table's rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("devempty")
    val absent = root.resolve("absent").toString
    val empty = java.nio.file.Files.createDirectory(root.resolve("empty")).toString
    val fact = Seq(("devA", 90L), ("devZ", 10L)).toDF("deviceId", "battery")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val enrichEmpty = sorted(CuratedPipeline.enrichWithDevices(fact, empty))
    assert(enrichEmpty == sorted(CuratedPipeline.enrichWithDevices(fact, absent)))
    assert(enrichEmpty.size == 2 && enrichEmpty.forall(_.drop(2).forall(_ == null)))
    val batch = CuratedPipeline.toPipeEvents(Seq(
      rawJson("devA", "2024-01-01T00:00:01Z", 90),
      rawJson("devB", "2024-01-01T00:00:02Z", 91)).toDF("value")).toDF()
    CuratedPipeline.mergeDevices(batch, empty)
    CuratedPipeline.mergeDevices(batch, absent)
    val merged = sorted(spark.read.parquet(empty))
    assert(merged == sorted(spark.read.parquet(absent)))
    assert(merged.map(_.head) == Seq("devA", "devB"))
  }
}
