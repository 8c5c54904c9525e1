package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingQuantilesSpec extends SparkSpec {
  import StreamingQuantiles.{Obs, Snapshot}

  private def latest(rows: Seq[Snapshot]): Map[String, (Long, Seq[Double])] =
    rows.groupBy(_.key).map { case (k, rs) =>
      val top = rs.maxBy(_.n_seen)
      k -> (top.n_seen, top.qs)
    }

  test("exact regime: under-capacity stream equals the batch sketch (and quantile_disc) cross-batch") {
    val sp = spark
    import sp.implicits._
    val input = MemoryStream[(String, Long, Int, Double)](sp)
    val q = StreamingQuantiles.track(
        input.toDF.toDF("key", "doc_id", "seq", "x").as[Obs],
        capacity = 1 << 10, quantiles = Seq(0.1, 0.5, 0.9))
      .writeStream.format("memory").queryName("sq_exact").start()
    try {
      val xs1 = (1 to 60).map(_.toDouble)
      val xs2 = (61 to 100).map(_.toDouble)
      input.addData(xs1.zipWithIndex.map { case (x, i) => ("en", i.toLong, 0, x) }: _*)
      q.processAllAvailable()
      input.addData(xs2.zipWithIndex.map { case (x, i) => ("en", 100L + i, 0, x) }: _*)
      q.processAllAvailable()
      val (n, qs) = latest(sp.table("sq_exact").as[Snapshot].collect().toSeq)("en")
      assert(n === 100L)
      // rank-lower rule on 1..100: ⌈q·n⌉-th element
      assert(qs === Seq(10.0, 50.0, 90.0))
    } finally q.stop()
  }

  test("two-batch snapshots are the same on the RocksDB and in-memory state stores") {
    val sp = spark
    import sp.implicits._
    val b1 = (1 to 40).map(i => ("en", i.toLong, 0, i.toDouble))
    val b2 = (41 to 70).map(i => ("en", i.toLong, 0, i.toDouble))
    def run(name: String): Set[(String, Long, Seq[Double])] = {
      val input = MemoryStream[(String, Long, Int, Double)](sp)
      val q = StreamingQuantiles.track(
          input.toDF.toDF("key", "doc_id", "seq", "x").as[Obs],
          1 << 10, Seq(0.5, 0.9))
        .writeStream.format("memory").queryName(name).start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        sp.table(name).as[Snapshot].collect()
          .map(s => (s.key, s.n_seen, s.qs)).toSet
      } finally q.stop()
    }
    val inMemory = run("sq_mem")
    val rocks = withRocksDBStateStore(run("sq_rocks"))
    assert(rocks === inMemory)
    assert(rocks.nonEmpty)
  }

  test("lossy regime: rank bound holds across batches; state stays bounded") {
    val sp = spark
    import sp.implicits._
    val cap = 64
    val n = 4000
    val xs = (0 until n).map(i => ((i * 104729) % 9973).toDouble)
    val input = MemoryStream[(String, Long, Int, Double)](sp)
    val q = StreamingQuantiles.track(
        input.toDF.toDF("key", "doc_id", "seq", "x").as[Obs],
        capacity = cap, quantiles = Seq(0.1, 0.5, 0.9))
      .writeStream.format("memory").queryName("sq_lossy").start()
    try {
      xs.grouped(500).zipWithIndex.foreach { case (chunk, ci) =>
        input.addData(chunk.zipWithIndex.map { case (x, i) =>
          ("en", ci * 1000L + i, 0, x) }: _*)
        q.processAllAvailable()
      }
      val (seen, qs) = latest(sp.table("sq_lossy").as[Snapshot].collect().toSeq)("en")
      assert(seen === n.toLong)
      // generous bound: levels ≤ log2(n/cap)+2 ⇒ levels·n/cap
      val bound = (math.ceil(math.log(n.toDouble / cap) / math.log(2)) + 2)
        .toLong * n / cap
      Seq(0.1, 0.5, 0.9).zip(qs).foreach { case (p, est) =>
        val target = math.ceil(p * n).toLong
        val rank = xs.count(_ <= est).toLong
        assert(math.abs(rank - target) <= bound,
          s"q=$p rank error ${math.abs(rank - target)} > $bound")
      }
    } finally q.stop()
  }
}
