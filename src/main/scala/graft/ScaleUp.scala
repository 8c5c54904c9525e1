package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal generator: derives an sf1-shaped dataset (10× sf0.1)
  * under `/root/repo/data/sf1` so `Bench` can run the full registry one
  * decade above the driver's largest scale factor (round-6 VERDICT item 7).
  *
  * Method: replicate each sf0.1 table `Factor` times with per-replica key
  * shifts that preserve FK integrity (replica r of `orders` references
  * replica r of `customer`, etc.). Content is perturbed so per-replica
  * workload STRUCTURE matches sf0.1 and cross-replica structure is inert:
  *
  *   - `documents.text`: every token gets a replica-specific suffix for
  *     r>0, so vocabularies are disjoint across replicas. Near-dup pair
  *     counts (MinHash/SimHash/Jaccard/containment) then scale LINEARLY —
  *     the behavior of a corpus 10× bigger at the same dup rate — instead
  *     of quadratically as naive replication would (10 exact copies of
  *     every doc ⇒ 45 spurious pairs each). Vocabulary grows ~10×, which
  *     deliberately pushes the bitmap-verify paths past
  *     `Dedup.VocabBitmapBudget` and exercises the count-join fallback at
  *     scale — exactly the regime switch the 100 TB design claims.
  *   - `embeddings.embedding`: cyclically rotated by r positions. Norms
  *     and within-replica geometry are exactly preserved (ANN/centroid
  *     structure repeats per replica); cross-replica similarity decorrelates.
  *   - `events.user_id`: shifted per replica ⇒ 10× users, same per-user
  *     session shape; timestamps untouched so windowed/watermark densities
  *     grow 10× per window — the stress a 10× ingest rate would apply.
  *   - facts/dims: key shifts only; measures, dates, and categorical
  *     columns repeat, so selectivities and group cardinalities of the
  *     relational queries match TPC-H-style scaling (dims and facts both
  *     ×10, `region`/`nation` fixed).
  *
  * Deterministic (no RNG), derived only from the driver's own sf0.1 data.
  * NOT an oracle input — correctness stays on `/root/testdata`; this data
  * exists to measure plan-shape scaling and catch nonlinear cliffs.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val in = sys.env.getOrElse("SPARK_GRAFT_SCALE_IN", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/data/sf1")
    // replication factor: 10 → sf1, 100 → sf10 (the two-decade probe)
    val Factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = GraftSession.local()
    import spark.implicits._

    def t(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")
    // replica column r = 0..Factor-1, crossed with every source row
    val reps = spark.range(Factor).select(col("id").cast("int").as("r"))
    def replicate(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))
    // shift = r * 10^ceil(log10(max+1)): keys stay unique AND the original
    // replica keeps its exact ids (r=0 shift is 0), so sf1 ⊇ sf0.1 rows.
    def shifted(df: DataFrame, keys: Map[String, Long]): DataFrame =
      keys.foldLeft(df) { case (d, (k, span)) =>
        d.withColumn(k, col(k) + col("r") * span)
      }
    def span(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.drop("r").repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    // fixed dims: copy as-is (TPC-H does not scale region/nation either)
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    val cust = t("customer"); val custSpan = span(cust, "c_custkey")
    write(shifted(replicate(cust), Map("c_custkey" -> custSpan)), "customer", 4)
    val supp = t("supplier"); val suppSpan = span(supp, "s_suppkey")
    write(shifted(replicate(supp), Map("s_suppkey" -> suppSpan)), "supplier", 1)
    val part = t("part"); val partSpan = span(part, "p_partkey")
    write(shifted(replicate(part), Map("p_partkey" -> partSpan)), "part", 4)

    val ord = t("orders"); val ordSpan = span(ord, "o_orderkey")
    write(shifted(replicate(ord),
      Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan)), "orders", 8)
    write(shifted(replicate(t("lineitem")),
      Map("l_orderkey" -> ordSpan, "l_partkey" -> partSpan,
          "l_suppkey" -> suppSpan)), "lineitem", 16)

    val ev = t("events")
    val evSpan = span(ev, "event_id"); val userSpan = span(ev, "user_id")
    write(shifted(replicate(ev),
      Map("event_id" -> evSpan, "user_id" -> userSpan)), "events", 8)

    val docs = t("documents"); val docSpan = span(docs, "doc_id")
    write(
      shifted(replicate(docs), Map("doc_id" -> docSpan))
        .withColumn("text", when(col("r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\w+)"),
            concat(lit("$1q"), col("r").cast("string")))))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 8)

    val emb = t("embeddings"); val vecSpan = span(emb, "vec_id")
    // per-replica isometry from the dihedral group (rotation by r, plus
    // reversal when r exceeds the dimension): 2·dim distinct transforms,
    // so even Factor=100 replicas of 64-dim vectors never repeat a
    // transform — a plain rotation would alias replica r with r+dim and
    // plant spurious cross-replica exact-duplicate vectors
    write(
      shifted(replicate(emb), Map("vec_id" -> vecSpan))
        .withColumn("embedding", expr(
          """CASE WHEN (r div size(embedding)) % 2 = 1 THEN
               transform(embedding,
                 (x, i) -> element_at(embedding,
                   CAST((size(embedding) - 1 - i + r) % size(embedding)
                     AS INT) + 1))
             ELSE
               transform(embedding,
                 (x, i) -> element_at(embedding,
                   CAST((i + r) % size(embedding) AS INT) + 1))
             END""")),
      "embeddings", 4)

    spark.stop()
  }
}
