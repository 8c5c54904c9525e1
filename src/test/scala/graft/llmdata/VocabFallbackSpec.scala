package graft.llmdata

import graft.SparkSpec

/** The set-similarity verify regimes must be interchangeable: the
  * dictionary-bitmap route (vocab fits [[Dedup.VocabBitmapBudget]])
  * and the count-join fallback (vocab over budget) are both EXACT, so
  * forcing the fallback with a zero budget must reproduce the default
  * route's output bit for bit. This is the round-5 VERDICT's top item:
  * without the auto-switch, the first open-vocabulary corpus turns the
  * broadcast dictionary into a driver OOM. q55's driver union-find has
  * no fallback: its case runs it on the largest graph its 16-bit
  * domain allows.
  */
class VocabFallbackSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("q28 jaccard: count-join fallback ≡ bitmap route") {
    assert(rows(Dedup.jaccardPairs(spark, sf, vocabBudget = 0)) ==
      rows(Dedup.jaccardPairs(spark, sf)))
  }

  test("q75 containment: count-join fallback ≡ bitmap route") {
    assert(rows(Dedup.containmentPairs(spark, sf, vocabBudget = 0)) ==
      rows(Dedup.containmentPairs(spark, sf)))
  }

  test("q29 minhash+lsh: count-join fallback ≡ bitmap route") {
    assert(rows(Dedup.minhashLsh(spark, sf, vocabBudget = 0)) ==
      rows(Dedup.minhashLsh(spark, sf)))
  }

  test("q55 union-find at the 16-bit domain bound: every Hamming-≤2 pair joins one component rooted at 0") {
    // a tiny graph first: roots are component minima, isolated values
    // are their own roots
    val small = Dedup.componentRoots(
      Array((5L << 16) | 9L, (9L << 16) | 3L, (7L << 16) | 8L))
    assert(Seq(3, 5, 9).map(small(_)) == Seq(3, 3, 3))
    assert(small(7) == 7 && small(8) == 7 && small(100) == 100)
    // every value pair at Hamming distance 1 or 2: the densest value
    // graph a 16-bit fingerprint can produce, packed va << 16 | vb
    val masks = (0 until 16).map(1 << _) ++
      (for (i <- 0 until 16; j <- i + 1 until 16) yield (1 << i) | (1 << j))
    val edges = Array.newBuilder[Long]
    for (v <- 0 until (1 << 16); m <- masks if v < (v ^ m))
      edges += (v.toLong << 16) | (v ^ m)
    val packed = edges.result()
    assert(packed.length == 4456448)
    val roots = Dedup.componentRoots(packed)
    assert(roots.length == (1 << 16) && roots.forall(_ == 0))
  }

  test("fallback plan carries no broadcast of a vocab dictionary") {
    // the zero-budget plan must not contain the dictionary equi-join's
    // wid column — the whole point is that no vocab table exists
    val plan = Dedup.jaccardPairs(spark, sf, vocabBudget = 0)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("wid"), "fallback still builds the dictionary")
  }
}
