package graft.relational

import graft.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.LongType

/** Gates for q182's single DECIMAL(38,0) AUC fold: exact against
  * big-integer arithmetic far past where a BIGINT numerator overflows,
  * the registry answer unchanged, no DECIMAL in the contract, NULL (not
  * a divide-by-zero) on a single-class corpus, and the in-plan guard
  * loud at the report columns' own BIGINT bound. */
class AucRouteSpec extends graft.SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  /** The fold in big integers over (v, np, nn) histogram rows. */
  private def exact(h: Seq[(Long, Long, Long)]): Row = {
    var cum, conc, tied = BigInt(0)
    for ((_, np, nn) <- h.sortBy(_._1)) {
      conc += BigInt(np) * cum
      tied += BigInt(np) * nn
      cum += nn
    }
    val (p, n) = (BigInt(h.map(_._2).sum), BigInt(h.map(_._3).sum))
    Row(p.toLong, n.toLong, conc.toLong, tied.toLong,
      ((2 * conc + tied) * 500000 / (p * n)).toLong)
  }

  private def fold(h: Seq[(Long, Long, Long)]): Seq[Row] = {
    val sp = spark
    import sp.implicits._
    Auc.fold(h.toDF("v", "np", "nn")).collect().toSeq
  }

  test("the output schema has no DECIMAL column") {
    val s = Auc.auc(Tables.documents(spark, sf)).schema
    assert(s.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq("n_pos", "n_neg", "conc", "tied", "auc_micro").map(_ -> LongType),
      "the registry float policy bans DECIMAL output columns")
  }

  test("sf0.01 answer unchanged: 218, 282, 30085, 117, 490329") {
    assert(Auc.auc(Tables.documents(spark, sf)).collect().toSeq ==
      Seq(Row(218L, 282L, 30085L, 117L, 490329L)))
  }

  test("a histogram past the old BIGINT bound equals big-integer arithmetic") {
    // n_pos·n_neg ≈ 6.3·10^13, past the old 6.1·10^12 micro bound
    val h = Seq((10L, 3000000L, 1000000L), (20L, 1000000L, 4000007L),
      (30L, 5000003L, 2000000L), (40L, 7L, 11L))
    assert(fold(h) == Seq(exact(h)))
  }

  test("single-class corpus emits NULL auc_micro, never a divide-by-zero") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "en", 10L), (2L, "en", 20L))
      .toDF("doc_id", "lang", "n_chars")
    assert(Auc.auc(docs).collect().toSeq == Seq(Row(2L, 0L, 0L, 0L, null)))
  }

  test("the guard passes n_pos*n_neg = 2^63-1 and fails one past it") {
    // 2^63−1 = 153092023 · 60247241209; every positive above every
    // negative makes conc the product itself, the largest BIGINT
    val (np, nn) = (153092023L, 60247241209L)
    assert(BigInt(np) * nn == BigInt(Long.MaxValue))
    val edge = Seq((1L, 0L, nn), (2L, np, 0L))
    assert(fold(edge) == Seq(Row(np, nn, Long.MaxValue, 0L, 1000000L)))
    val e = intercept[Throwable](fold(Seq((1L, 0L, nn + 1), (2L, np, 0L))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("q182: n_pos*n_neg exceeds")), e)
  }
}
