package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingHeavyHittersSpec extends SparkSpec {
  import StreamingHeavyHitters.{Estimate, Tok}

  private def doc(id: Long, lang: String, words: String*): (Long, String, String) =
    (id, lang, words.mkString(" "))

  /** Latest snapshot per lang from an accumulated memory sink. */
  private def latest(rows: Seq[Estimate]): Map[String, Map[String, Long]] =
    rows.groupBy(_.lang).map { case (lang, rs) =>
      val top = rs.map(_.n_seen).max
      lang -> rs.filter(_.n_seen == top).map(e => e.term -> e.est).toMap
    }

  test("exact regime: k ≥ distinct tokens ⇒ cross-batch sketch equals true counts") {
    val sp = spark
    import sp.implicits._
    val input = MemoryStream[(Long, String, String)](sp)
    val q = StreamingHeavyHitters.sketchDocs(
        input.toDF.toDF("doc_id", "lang", "text"), k = 16)
      .writeStream.format("memory").queryName("hh_exact").start()
    try {
      input.addData(doc(1, "en", "a", "b", "a"), doc(2, "en", "c", "a"))
      q.processAllAvailable()
      input.addData(doc(3, "en", "b", "b", "d"), doc(4, "fr", "x", "x", "y"))
      q.processAllAvailable()
      val snap = latest(sp.table("hh_exact").as[Estimate].collect().toSeq)
      assert(snap("en") === Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "d" -> 1L))
      assert(snap("fr") === Map("x" -> 2L, "y" -> 1L))
    } finally q.stop()
  }

  test("stream fold ≡ batch fold in (doc_id, pos) order; snapshots versioned by n_seen") {
    val sp = spark
    import sp.implicits._
    val mg = new graft.functions.MisraGries(2)
    val b1 = Seq(doc(2, "en", "a", "b"), doc(1, "en", "c", "a", "a"))
    val b2 = Seq(doc(3, "en", "b", "d", "b"))
    // reference: sequential MG fold over batch-1-then-batch-2, each
    // batch in (doc_id, pos) order — doc 1 before doc 2 despite the
    // addData order above
    def orderOf(b: Seq[(Long, String, String)]): Seq[String] =
      b.sortBy(_._1).flatMap(_._3.split(" "))
    val expected = (orderOf(b1) ++ orderOf(b2)).foldLeft(mg.zero)(mg.reduce)

    val input = MemoryStream[(Long, String, String)](sp)
    val q = StreamingHeavyHitters.sketchDocs(
        input.toDF.toDF("doc_id", "lang", "text"), k = 2)
      .writeStream.format("memory").queryName("hh_order").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val all = sp.table("hh_order").as[Estimate].collect().toSeq
      // two snapshot versions: after 5 and after 8 tokens
      assert(all.map(_.n_seen).distinct.sorted === Seq(5L, 8L))
      assert(latest(all)("en") === expected)
    } finally q.stop()
  }

  test("sketch state survives under the RocksDB state store (the corpus-scale provider)") {
    val sp = spark
    import sp.implicits._
    withRocksDBStateStore {
      val input = MemoryStream[(Long, String, String)](sp)
      val q = StreamingHeavyHitters.sketchDocs(
          input.toDF.toDF("doc_id", "lang", "text"), k = 8)
        .writeStream.format("memory").queryName("hh_rocks").start()
      try {
        input.addData(doc(1, "en", "a", "a"))
        q.processAllAvailable()
        input.addData(doc(2, "en", "a", "b"))
        q.processAllAvailable()
        val snap = latest(sp.table("hh_rocks").as[Estimate].collect().toSeq)
        assert(snap("en") === Map("a" -> 3L, "b" -> 1L),
          "cross-batch counts must survive in RocksDB state")
      } finally q.stop()
    }
  }

  test("lossy regime across batches: underestimate ≤ n/(k+1), heavy hitters survive") {
    val sp = spark
    import sp.implicits._
    val k = 3
    // 40×hot, 10×warm, 30 singletons, spread over 3 batches
    val words1 = Seq.fill(20)("hot") ++ (1 to 10).map(i => s"s$i")
    val words2 = Seq.fill(10)("hot") ++ Seq.fill(10)("warm") ++
      (11 to 20).map(i => s"s$i")
    val words3 = Seq.fill(10)("hot") ++ (21 to 30).map(i => s"s$i")
    val input = MemoryStream[(Long, String, String)](sp)
    val q = StreamingHeavyHitters.sketchDocs(
        input.toDF.toDF("doc_id", "lang", "text"), k = k)
      .writeStream.format("memory").queryName("hh_lossy").start()
    try {
      Seq(words1, words2, words3).zipWithIndex.foreach { case (ws, i) =>
        input.addData((i.toLong, "en", ws.mkString(" ")))
        q.processAllAvailable()
      }
      val snap = latest(sp.table("hh_lossy").as[Estimate].collect().toSeq)("en")
      val n = (words1 ++ words2 ++ words3).size.toLong
      val truth = (words1 ++ words2 ++ words3)
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val bound = n / (k + 1)
      snap.foreach { case (t, est) =>
        assert(est <= truth(t), s"$t overestimated")
        assert(truth(t) - est <= bound, s"$t under by more than n/(k+1)")
      }
      // hot: 40 > 80/4 = 20 ⇒ must be present
      assert(snap.contains("hot"), "true heavy hitter evicted")
      assert(snap.size <= k, "state exceeded the k bound")
    } finally q.stop()
  }
}
