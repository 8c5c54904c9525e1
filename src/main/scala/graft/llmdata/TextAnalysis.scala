package graft.llmdata

import graft.{Caches, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `[EXT]` Text-analysis operators for training-data curation:
  * stopword-profile language ID, quality scoring (length / type-token /
  * stopword ratios), and token counting (whitespace + regex lexer).
  *
  * Scale design (100 TB): all three are single-pass
  * tokenize→groupBy(doc_id) pipelines — one shuffle keyed on doc_id,
  * partial aggregation map-side, no UDFs. The language-ID profile table
  * is a broadcast (5 langs × 5 stopwords); real profile tables (ngram →
  * lang weights, ~1e5 rows) broadcast the same way.
  *
  * All ratio outputs are int/int IEEE divisions — bit-identical across
  * engines (see Q.scala float policy).
  */
object TextAnalysis {

  /** (lang, stopword) profiles — deterministic fixture; on the synthetic
    * corpus only 'the'/'a' occur, which is fine: the operator contract
    * (argmax of profile hits with lexicographic tie-break) is what the
    * oracle pins, not real-world accuracy. */
  val profiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "fr" -> "le", "fr" -> "la", "fr" -> "les", "fr" -> "et", "fr" -> "des",
    "es" -> "el", "es" -> "los", "es" -> "las", "es" -> "y", "es" -> "una",
    "zh" -> "de_", "zh" -> "shi", "zh" -> "le_", "zh" -> "zai", "zh" -> "you",
  )

  private def sqlProfileValues: String =
    profiles.map { case (l, w) => s"('$l','$w')" }.mkString(", ")

  val qs: Seq[Q] = Seq(
    // ---- q33: language ID — argmax of stopword-profile hits per doc,
    //      ties broken lexicographically (deterministic contract). ----
    Q(
      "q33_lang_id",
      s"""WITH prof(plang, w) AS (VALUES $sqlProfileValues),
        |toks AS (${Text.SqlTokens}),
        |hits AS (SELECT doc_id, plang, count(*) AS h
        |         FROM toks JOIN prof USING (w) GROUP BY 1, 2),
        |allc AS (SELECT d.doc_id, p.plang
        |         FROM (SELECT DISTINCT doc_id FROM documents) d
        |         CROSS JOIN (SELECT DISTINCT plang FROM prof) p),
        |sc AS (SELECT a.doc_id, a.plang, coalesce(h.h, 0) AS hits
        |       FROM allc a LEFT JOIN hits h
        |         ON h.doc_id = a.doc_id AND h.plang = a.plang)
        |SELECT doc_id, plang AS pred_lang, hits FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) = 1
        |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      // round 15 (the q60 collapse): per-language hit counts are
      // row-local functions of the doc's own token array, so the
      // profile join, per-(doc, lang) aggregate, dense cross join and
      // per-doc argmax window fold into one narrow projection — zero
      // shuffles before the contract's orderBy. The argmax fold picks
      // the lexicographically-first language among the max-hit ones,
      // exactly the window's (hits DESC, plang) row_number = 1.
      val byL = profiles.groupBy(_._1).view.mapValues(_.map(_._2))
        .toSeq.sortBy(_._1)
      val arr = col("toks")
      val hitCols = byL.map { case (l, ws) =>
        size(filter(arr, x => x.isInCollection(ws))).cast("long")
          .as(s"h_$l")
      }
      Tables.documentsSpread(s, d)
        // a null text keeps its doc with zero hits (the oracle's dense
        // doc × lang frame does): null split → empty token array
        .withColumn("toks",
          coalesce(split(col("text"), " "), array().cast("array<string>")))
        .select(col("doc_id") +: hitCols: _*)
        .withColumn("hits",
          greatest(byL.map { case (l, _) => col(s"h_$l") }: _*))
        .withColumn("pred_lang",
          byL.init.foldRight(lit(byL.last._1)) { case ((l, _), e) =>
            when(col(s"h_$l") === col("hits"), l).otherwise(e)
          })
        .select(col("doc_id"), col("pred_lang"), col("hits"))
        .orderBy("doc_id")
    },

    // ---- q34: quality scoring — token counts, type-token ratio, mean
    //      word length, stopword ratio, bucketed verdict. ----
    Q(
      "q34_quality_score",
      s"""WITH toks AS (${Text.SqlTokens}),
        |ag AS (SELECT doc_id, count(*) AS n_tokens,
        |         count(DISTINCT w) AS n_distinct,
        |         sum(length(w)) AS sum_len,
        |         sum(CASE WHEN w IN ('the','a') THEN 1 ELSE 0 END) AS stop
        |       FROM toks GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(n_distinct AS DOUBLE)/n_tokens AS ttr,
        |  CAST(sum_len AS DOUBLE)/n_tokens AS avg_word_len,
        |  CAST(stop AS DOUBLE)/n_tokens AS stopword_ratio,
        |  CASE WHEN CAST(stop AS DOUBLE)/n_tokens > 0.12 THEN 'low'
        |       WHEN CAST(n_distinct AS DOUBLE)/n_tokens < 0.45 THEN 'mid'
        |       ELSE 'high' END AS quality_bucket
        |FROM ag ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      // round 15 (the q60 collapse): all four per-doc stats are
      // row-local. sum_len is EXACT arithmetic, not a fold: split on
      // one space loses exactly n_tokens − 1 separator chars, so
      // Σ length(w) = length(text) − (n_tokens − 1) for every text
      // (empty tokens from repeated spaces contribute 0 on both
      // sides; an empty text is one empty token, 0 = 0 − 0).
      val arr = col("toks")
      val ag = Tables.documentsSpread(s, d)
        // a null text contributed no token rows to the old aggregate,
        // so its doc was absent — keep that contract
        .filter(col("text").isNotNull)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          size(arr).cast("long").as("n_tokens"),
          size(array_distinct(arr)).cast("long").as("n_distinct"),
          (length(col("text")).cast("long") -
            (size(arr).cast("long") - 1)).as("sum_len"),
          size(filter(arr, x => x.isInCollection(Seq("the", "a"))))
            .cast("long").as("stop"))
      val ttr = col("n_distinct").cast("double") / col("n_tokens")
      val stopRatio = col("stop").cast("double") / col("n_tokens")
      ag.select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        ttr.as("ttr"),
        (col("sum_len").cast("double") / col("n_tokens")).as("avg_word_len"),
        stopRatio.as("stopword_ratio"),
        when(stopRatio > 0.12, "low")
          .when(ttr < 0.45, "mid")
          .otherwise("high").as("quality_bucket"))
        .orderBy("doc_id")
    },

    // ---- q43: vocabulary / n-gram frequency table — term frequency,
    //      document frequency, and bigram counts (the corpus-statistics
    //      pass every tokenizer/dedup pipeline starts from). One
    //      tokenize, two grouped counts; df/tf ratio is int/int IEEE. ----
    Q(
      "q43_vocab_ngrams",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |uni AS (SELECT w AS gram, 1 AS n_order, count(*) AS tf,
        |          count(DISTINCT doc_id) AS df
        |        FROM toks GROUP BY w),
        |big AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1])) AS gram, doc_id
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 2),
        |bi AS (SELECT gram, 2 AS n_order, count(*) AS tf,
        |         count(DISTINCT doc_id) AS df
        |       FROM big GROUP BY gram)
        |SELECT gram, n_order, tf, df,
        |  CAST(tf AS DOUBLE)/df AS tf_per_doc
        |FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |WHERE tf >= 5
        |ORDER BY n_order, gram""".stripMargin,
    ) { (s, d) =>
      val toks = Text.tokens(s, d)
      val uni = toks.groupBy(col("w").as("gram"))
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .withColumn("n_order", lit(1))
      // materialize the token array once per row — referencing
      // split(...) inside the lambda would re-tokenize per element
      val big = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ",
              element_at(col("t"), i), element_at(col("t"), i + 1))))
            .as("gram"))
      val bi = big.groupBy("gram")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .withColumn("n_order", lit(2))
      uni.unionByName(bi)
        .filter(col("tf") >= 5)
        .select(col("gram"), col("n_order"), col("tf"), col("df"),
          (col("tf").cast("double") / col("df")).as("tf_per_doc"))
        .orderBy("n_order", "gram")
    },

    // ---- q49: Levenshtein fuzzy-dup pairs — edit distance on a fixed
    //      64-char prefix, blocked by lang, small id window (the fuzzy
    //      complement of q28's set-based Jaccard; O(m²) per pair, so at
    //      scale it runs only on LSH candidates, never all pairs). ----
    Q(
      "q49_levenshtein",
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  levenshtein(substring(a.text, 1, 64), substring(b.text, 1, 64)) AS dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 60 AND b.doc_id < 60
        |  AND levenshtein(substring(a.text, 1, 64), substring(b.text, 1, 64)) <= 40
        |ORDER BY a_id, b_id""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 64).as("p"))
      docs.as("a")
        .join(broadcast(docs.as("b")),
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          levenshtein(col("a.p"), col("b.p")).as("dist"))
        .filter(col("dist") <= 40)
        .orderBy("a_id", "b_id")
    },

    // ---- q50: deterministic train/val/test split — md5-keyed bucket
    //      assignment (stable across runs/engines/cluster sizes, the
    //      correct way to split training data; never rand()). ----
    Q(
      "q50_train_val_split",
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS BIGINT) % 10 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 8 THEN 'train'
        |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n, min(doc_id) AS first_id
        |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket",
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 10)
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_id"))
        .orderBy("split", "lang")
    },

    // ---- q56: stratified balanced subsample — the per-stratum quota
    //      pass of training-data curation (cap every language at N docs
    //      so no stratum dominates the mix). Rank INSIDE each stratum by
    //      an md5 of the id: deterministic across runs/engines/cluster
    //      sizes (q50's principle), uniform within the stratum, and the
    //      window is PARTITIONED by lang — state per task is one
    //      stratum, never a global sort. ----
    Q(
      "q56_stratified_sample",
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 40 ORDER BY lang, rk""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 40)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    },

    // ---- q35: token counting — whitespace split vs regex lexer vs
    //      stored metadata consistency check. ----
    Q(
      "q35_token_count",
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+')) AS alpha_tokens,
        |  length(text) AS n_chars_computed,
        |  CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END AS meta_consistent
        |FROM documents ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long")
            .as("alpha_tokens"),
          length(col("text")).cast("long").as("n_chars_computed"),
          when(length(col("text")) === col("n_chars"), 1).otherwise(0)
            .as("meta_consistent"))
        .orderBy("doc_id")
    },

    // ---- q81: heavy hitters per language — the Misra–Gries sketch
    //      aggregator (functions/MisraGries: the custom-AGGREGATE
    //      extensibility point, O(k) state per group at any stream
    //      length) run in its EXACTNESS regime: k=64 ≥ the 31-word
    //      vocabulary, so no decrement/truncation ever fires and the
    //      sketch must equal a plain GROUP BY count — the oracle
    //      checks the approximate operator the q59 way. The lossy
    //      regime (k < distinct) is spec-pinned instead: the n/(k+1)
    //      error bound and merge-tree invariance. Plan: the sketch IS
    //      the partial aggregate — map-side buffers are k-bounded
    //      maps, so the lang-keyed shuffle carries O(k) per task, not
    //      the vocabulary. ----
    Q(
      "q81_heavy_hitters",
      """WITH t AS (SELECT lang, unnest(string_split(text,' ')) AS w
        |  FROM documents)
        |SELECT lang, w AS term, CAST(count(*) AS BIGINT) AS est
        |FROM t GROUP BY 1, 2 ORDER BY lang, term""".stripMargin,
    ) { (s, d) =>
      val mg = udaf(new graft.functions.MisraGries(64),
        org.apache.spark.sql.Encoders.STRING)
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang")
        .agg(mg(col("w")).as("hh"))
        .select(col("lang"), explode(col("hh")))
        .select(col("lang"), col("key").as("term"),
          col("value").as("est"))
        .orderBy("lang", "term")
    },

    // ---- q86: sketch quantiles per language — the compactor-stack
    //      quantile aggregator (functions/QuantileSketch: MRL/KLL
    //      family, bounded memory, mergeable) run in its EXACTNESS
    //      regime: capacity 2^16 ≥ any per-lang doc count at test
    //      scale, so no compaction ever fires, merge is concatenation,
    //      and the estimate rule (smallest x with rank ≥ ⌈q·n⌉) must
    //      equal DuckDB's quantile_disc value-for-value — the q59/q81
    //      gate pattern for an approximate operator. The lossy regime
    //      (capacity ≪ n: levels·n/c rank bound, merge-tree
    //      robustness, determinism) is QuantileSketchSpec's. Values
    //      are integer char counts in doubles — exact cross-engine. ----
    Q(
      "q86_sketch_quantiles",
      """SELECT lang,
        |  CAST(quantile_disc(n_chars, 0.1) AS DOUBLE) AS qd10,
        |  CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS qd50,
        |  CAST(quantile_disc(n_chars, 0.9) AS DOUBLE) AS qd90,
        |  CAST(quantile_disc(n_chars, 0.99) AS DOUBLE) AS qd99,
        |  count(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      val sk = udaf(
        new graft.functions.QuantileSketchAgg(1 << 16,
          Seq(0.1, 0.5, 0.9, 0.99)),
        org.apache.spark.sql.Encoders.scalaDouble)
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(sk(col("n_chars").cast("double")).as("qd"),
          count(lit(1)).as("n"))
        .select(col("lang"),
          element_at(col("qd"), 1).as("qd10"),
          element_at(col("qd"), 2).as("qd50"),
          element_at(col("qd"), 3).as("qd90"),
          element_at(col("qd"), 4).as("qd99"),
          col("n"))
        .orderBy("lang")
    },

    // ---- q87: one-pass corpus profile — the recurring 100 TB sweep
    //      (per-shard intake stats dashboards) demonstrating aggregator
    //      COMPOSITION: token count, doc count, modal term, and token-
    //      length quantiles per (lang, source) all ride ONE shuffle.
    //      The modal term comes from the Misra–Gries buffer, the length
    //      quantiles from the compactor sketch — both in their exact
    //      regimes here (k=64 ≥ 31-word vocab; capacity 2^16 ≥ per-group
    //      token count at test scale), so the whole row is DuckDB-
    //      checkable. Doc count is a pos=0 marker count (posexplode),
    //      NOT a count-distinct — no Expand, the aggregation stays one
    //      partial+final pass. Modal tie-break (count desc, term asc)
    //      via an array_sort comparator over the sketch map — no
    //      explode, no second aggregation. ----
    Q(
      "q87_corpus_profile",
      """WITH t AS (SELECT lang, source, doc_id,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |base AS (SELECT lang, source,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(quantile_disc(length(w), 0.5) AS DOUBLE) AS qd50_toklen,
        |    CAST(quantile_disc(length(w), 0.9) AS DOUBLE) AS qd90_toklen
        |  FROM t GROUP BY 1, 2),
        |m AS (SELECT lang, source, w AS modal_term,
        |    CAST(count(*) AS BIGINT) AS modal_count,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY count(*) DESC, w) AS rn
        |  FROM t GROUP BY 1, 2, 3)
        |SELECT b.lang, b.source, b.n_tokens, b.n_docs,
        |  m.modal_term, m.modal_count, b.qd50_toklen, b.qd90_toklen
        |FROM base b JOIN m ON m.lang = b.lang AND m.source = b.source
        |  AND m.rn = 1
        |ORDER BY 1, 2""".stripMargin,
    ) { (s, d) =>
      val mg = udaf(new graft.functions.MisraGries(64),
        org.apache.spark.sql.Encoders.STRING)
      val sk = udaf(
        new graft.functions.QuantileSketchAgg(1 << 16, Seq(0.5, 0.9)),
        org.apache.spark.sql.Encoders.scalaDouble)
      Tables.documents(s, d)
        .select(col("lang"), col("source"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("pos") === 0, 1)).as("n_docs"),
          mg(col("w")).as("hh"),
          sk(length(col("w")).cast("double")).as("qd"))
        .withColumn("top", expr(
          """array_sort(map_entries(hh), (l, r) ->
            |  CASE WHEN l.value > r.value THEN -1
            |       WHEN l.value < r.value THEN 1
            |       WHEN l.key < r.key THEN -1
            |       WHEN l.key > r.key THEN 1 ELSE 0 END)[0]""".stripMargin))
        .select(col("lang"), col("source"), col("n_tokens"), col("n_docs"),
          col("top.key").as("modal_term"), col("top.value").as("modal_count"),
          element_at(col("qd"), 1).as("qd50_toklen"),
          element_at(col("qd"), 2).as("qd90_toklen"))
        .orderBy("lang", "source")
    },

    // ---- q98: sketch-boundary bucketing — the 100 TB curriculum
    //      pass q96's scale caveat points at: instead of an exact
    //      per-key ntile (one sort task per key), cut decile
    //      BOUNDARIES with the quantile sketch (one partial-aggregated
    //      pass), broadcast the 9 doubles per lang, and assign buckets
    //      map-side by comparison — no per-key sort anywhere, so the
    //      pass scales with executors, not key cardinality. Bucket
    //      semantics are boundary-based (bucket = 1 + #boundaries
    //      strictly below x): at test scale the sketch is in its exact
    //      regime, boundaries ARE quantile_disc values, and DuckDB
    //      replays the whole assignment value-for-value. ----
    Q(
      "q98_sketch_bucketing",
      """WITH b AS (SELECT lang,
        |    quantile_disc(n_chars,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CAST(1 + len(list_filter(b.bs, v -> d.n_chars > v)) AS INT)
        |    AS bucket
        |FROM documents d JOIN b ON b.lang = d.lang
        |ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val sk = udaf(
        new graft.functions.QuantileSketchAgg(1 << 16,
          (1 to 9).map(_ / 10.0)),
        org.apache.spark.sql.Encoders.scalaDouble)
      val bounds = Tables.documents(s, d)
        .groupBy("lang")
        .agg(sk(col("n_chars").cast("double")).as("bs"))
      Tables.documents(s, d)
        .join(broadcast(bounds), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (lit(1) + size(filter(col("bs"),
            b => col("n_chars").cast("double") > b))).cast("int").as("bucket"))
        .orderBy("doc_id")
    },

    // ---- q99: cross-source vocabulary overlap matrix — for every
    //      ordered source pair, |V_a ∩ V_b| / |V_a ∪ V_b| (the corpus
    //      composition audit: which feeds are near-mirrors, which add
    //      novel vocabulary; run before mixing weights are chosen).
    //      Plan: distinct (source, token) pairs once (persisted), then
    //      the intersection counts ride ONE token-keyed self-join —
    //      each token fans out to at most C(#sources, 2) pair rows, a
    //      bound independent of corpus size, so the join output is
    //      O(vocab · sources²), never O(corpus²). Union sizes derive
    //      from the per-source vocab counts. Everything is exact
    //      integers + one int/int division. ----
    Q(
      "q99_source_overlap",
      """WITH ts AS (SELECT DISTINCT source,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |sz AS (SELECT source, count(*) AS nv FROM ts GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS ni
        |  FROM ts a JOIN ts b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, ni,
        |  CAST(sa.nv + sb.nv - ni AS BIGINT) AS nu,
        |  CAST(ni AS DOUBLE) / (sa.nv + sb.nv - ni) AS jaccard
        |FROM inter JOIN sz sa ON sa.source = src_a
        |           JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    ) { (s, d) =>
      // distinct (source, token) pairs, then the pair counts ride ONE
      // token-keyed self-join — at 16 sources each token contributes
      // ≤ C(16,2) pair rows, bounded fan-out independent of corpus size
      val ts = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .distinct()
        .transform(Caches.persist)
      val sz = ts.groupBy("source").agg(count(lit(1)).as("nv"))
      val inter = ts.toDF("src_a", "w")
        .join(ts.toDF("src_b", "w_b"),
          col("w") === col("w_b") && col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("ni"))
      inter
        .join(sz.toDF("src_a", "nv_a"), "src_a")
        .join(sz.toDF("src_b", "nv_b"), "src_b")
        .select(col("src_a"), col("src_b"), col("ni"),
          (col("nv_a") + col("nv_b") - col("ni")).as("nu"),
          (col("ni").cast("double") /
            (col("nv_a") + col("nv_b") - col("ni"))).as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    // ---- q90: vocabulary novelty per intake batch — corpus-drift
    //      monitoring: docs arrive in id-ordered shards of 100; per
    //      shard, how many distinct tokens are active and how many are
    //      NEW (never seen in an earlier shard). A collapsing novelty
    //      curve says the crawl is saturating; a spike says the source
    //      mix changed (intake-QA practice; public literature). Plan:
    //      distinct (token, batch) pairs, first-batch as a window min
    //      riding the token-keyed shuffle (never a first-seen join),
    //      then one batch-keyed aggregate. Novelty is one exact-int
    //      division. ----
    Q(
      "q90_vocab_novelty",
      """WITH t AS (SELECT DISTINCT unnest(string_split(text,' ')) AS w,
        |    doc_id // 100 AS batch FROM documents),
        |f AS (SELECT w, batch,
        |    min(batch) OVER (PARTITION BY w) AS fb FROM t)
        |SELECT batch, CAST(count(*) AS BIGINT) AS active_terms,
        |  CAST(count(CASE WHEN fb = batch THEN 1 END) AS BIGINT)
        |    AS new_terms,
        |  CAST(count(CASE WHEN fb = batch THEN 1 END) AS DOUBLE)
        |    / count(*) AS novelty
        |FROM f GROUP BY batch ORDER BY batch""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"),
          expr("doc_id div 100").as("batch"))
        .distinct()
        .withColumn("fb", min("batch").over(Window.partitionBy("w")))
        .groupBy("batch")
        .agg(count(lit(1)).as("active_terms"),
          count(when(col("fb") === col("batch"), 1)).as("new_terms"))
        .select(col("batch"), col("active_terms"), col("new_terms"),
          (col("new_terms").cast("double") / col("active_terms"))
            .as("novelty"))
        .orderBy("batch")
    },

    // ---- q115: Count-Min point-frequency lookup — the counter-query
    //      sketch (functions/CountMin) in its EXACTNESS regime: per
    //      language, estimated occurrence counts for a FIXED probe
    //      list, including terms absent from the corpus (estimate
    //      exactly 0 — the path q81's survivors-only output cannot
    //      exercise). Below sparseMax distinct terms the buffer is
    //      the exact count map, so every estimate must equal the
    //      plain conditional count, value-for-value (the
    //      q59/q81/q86/q110 gate pattern); the dense regime's
    //      no-underestimate and merge-tree-identity guarantees are
    //      CountMinSpec's. Plan: the sketch IS the partial aggregate
    //      — the lang-keyed shuffle carries the O(sparseMax) buffer,
    //      never the vocabulary; probes ride the plan as metadata. ----
    Q(
      "q115_countmin_probes",
      """WITH t AS (SELECT lang, unnest(string_split(text,' ')) AS w
        |  FROM documents),
        |c AS (SELECT lang, w, count(*) AS n FROM t GROUP BY 1, 2),
        |p AS (SELECT unnest(['table','spark','quantum','scan',
        |                     'zzz_absent','value']) AS term),
        |l AS (SELECT DISTINCT lang FROM documents)
        |SELECT l.lang, p.term, CAST(coalesce(c.n, 0) AS BIGINT) AS est
        |FROM l CROSS JOIN p
        |LEFT JOIN c ON c.lang = l.lang AND c.w = p.term
        |ORDER BY l.lang, p.term""".stripMargin,
    ) { (s, d) =>
      val probes = Seq("table", "spark", "quantum", "scan",
        "zzz_absent", "value")
      val cm = udaf(new graft.functions.CountMin(probes, sparseMax = 4096),
        org.apache.spark.sql.Encoders.STRING)
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang")
        .agg(cm(col("w")).as("ests"))
        .select(col("lang"), posexplode(col("ests")).as(Seq("i", "est")))
        .select(col("lang"),
          element_at(array(probes.map(lit): _*), col("i") + 1).as("term"),
          col("est"))
        .orderBy("lang", "term")
    },

    // ---- q116: sketch-composed source-overlap matrix — q99's answer
    //      from KMV sketches (functions/KmvAgg) instead of the
    //      token-keyed self-join. ONE corpus-scan aggregate builds a
    //      per-source sketch (the shuffle carries O(sparseMax + k)
    //      buffers, never the vocabulary), then the pairwise combine
    //      runs over the SOURCES×SOURCES sketch rows — independent of
    //      corpus size, where q99's join emits O(vocab·sources²)
    //      rows. In the EXACTNESS regime (per-source vocab ≤
    //      sparseMax) the sketch is the sorted distinct token array,
    //      so array_intersect/array_union set algebra is exact and
    //      the full matrix (zero-overlap pairs included — a row shape
    //      q99's inner join cannot emit) is checked value-for-value;
    //      the dense regime's estimator and merge identity are
    //      KmvSpec's. ----
    Q(
      "q116_kmv_overlap",
      """WITH ts AS (SELECT DISTINCT source,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |sz AS (SELECT source, count(*) AS nv FROM ts GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS ni
        |  FROM ts a JOIN ts b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2),
        |pairs AS (SELECT sa.source AS src_a, sb.source AS src_b,
        |    sa.nv AS na, sb.nv AS nb
        |  FROM sz sa JOIN sz sb ON sa.source < sb.source)
        |SELECT p.src_a, p.src_b,
        |  CAST(coalesce(i.ni, 0) AS BIGINT) AS ni,
        |  CAST(p.na + p.nb - coalesce(i.ni, 0) AS BIGINT) AS nu,
        |  CAST(coalesce(i.ni, 0) AS DOUBLE)
        |    / (p.na + p.nb - coalesce(i.ni, 0)) AS jaccard
        |FROM pairs p LEFT JOIN inter i
        |  ON i.src_a = p.src_a AND i.src_b = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin,
    ) { (s, d) =>
      val kmv = udaf(new graft.functions.KmvAgg(),
        org.apache.spark.sql.Encoders.STRING)
      // persisted: both sides of the pair combine read the sketch
      // table — without it the corpus aggregate would run twice
      // exact-regime assertion (round-6 ADVICE): this query's algebra
      // is the SPARSE buffer's (vocab = the sorted distinct tokens).
      // If any source's vocabulary ever exceeds KmvAgg's sparseMax the
      // buffer densifies, `exact` empties, and every overlap would
      // silently read as zero — so a densified sketch raises here
      // instead; the scale route is to raise sparseMax explicitly or
      // move to the k-min-hash intersection estimate.
      val vocab = when(
        assert_true(size(col("sk.hashes")) === 0, lit(
          "q116 requires the KMV sparse regime: a source vocabulary " +
          "exceeded sparseMax and the sketch densified - raise " +
          "sparseMax or switch to the k-min-hash estimate")).isNull,
        col("sk.exact"))
      val sk = graft.Caches.persist(Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source")
        .agg(kmv(col("w")).as("sk"))
        .select(col("source"), vocab.as("vocab")))
      sk.toDF("src_a", "va")
        .join(broadcast(sk.toDF("src_b", "vb")),
          col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          size(array_intersect(col("va"), col("vb"))).cast("long").as("ni"),
          size(array_union(col("va"), col("vb"))).cast("long").as("nu"))
        .withColumn("jaccard", col("ni").cast("double") / col("nu"))
        .orderBy("src_a", "src_b")
    },

    // ---- q130: BPE merge candidates — the top-20 adjacent character
    //      pairs over all token OCCURRENCES (frequency-weighted, as the
    //      byte-pair-encoding tokenizer-training step counts them:
    //      Sennrich et al., public literature). One corpus pass: each
    //      token emits its len-1 overlapping char bigrams via a
    //      codegen'd transform+explode (no UDF), counts partial-
    //      aggregate map-side on the (tiny: ≤ alphabet²) pair domain,
    //      and the top-20 rides TakeOrdered — no global sort, no
    //      second shuffle. Tie-break (count desc, pair asc) makes the
    //      merge table reproducible — the property a tokenizer build
    //      farm actually needs. Pure integer output. ----
    Q(
      "q130_bpe_pairs",
      s"""WITH toks AS (${Text.SqlTokens}),
        |pairs AS (SELECT substr(w, i, 2) AS pair
        |  FROM toks, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT)
        |    AS rk, pair, cnt
        |FROM c ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    ) { (s, d) =>
      val w = Window.orderBy(col("cnt").desc, col("pair"))
      Text.tokens(s, d)
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
        .withColumn("rk", row_number().over(w).cast("int"))
        .select(col("rk"), col("pair"), col("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
    },

    // ---- q131: tokenizer fertility audit — chars-per-token by (lang,
    //      source) and each cell's ratio to the corpus-wide mean (the
    //      fairness metric multilingual tokenizer reports publish:
    //      high relative fertility ⇒ that language pays more tokens
    //      per character of content; public literature). Token and
    //      char masses are EXACT integer sums computed WITHOUT
    //      exploding (size(split) and a token-bearing char count
    //      length(text)-n_tok+1 per row, both codegen'd, partial-
    //      aggregated map-side); the corpus mean rides a broadcast
    //      one-row aggregate. fertility and the corpus mean are each
    //      ONE int/int IEEE division; rel_fertility divides those two
    //      bit-identical doubles — deterministic across engines.
    //      Output cardinality = |lang × source|. ----
    Q(
      "q131_fertility",
      """WITH m AS (SELECT lang, source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tok,
        |    CAST(sum(length(text) - len(string_split(text,' ')) + 1)
        |      AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t_tok,
        |    CAST(sum(n_chars) AS BIGINT) AS t_chars FROM m)
        |SELECT m.lang, m.source, m.n_docs, m.n_tok, m.n_chars,
        |  CAST(m.n_chars AS DOUBLE) / m.n_tok AS fertility,
        |  (CAST(m.n_chars AS DOUBLE) / m.n_tok) /
        |    (CAST(tot.t_chars AS DOUBLE) / tot.t_tok) AS rel_fertility
        |FROM m, tot ORDER BY lang, source""".stripMargin,
    ) { (s, d) =>
      // |lang × source| rows — persisted so the corpus-mean scalar
      // reuses the aggregation instead of re-scanning the corpus
      val m = graft.Caches.persist(Tables.documents(s, d)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"),
          (length(col("text")) - size(split(col("text"), " ")) + 1)
            .cast("long").as("chars"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tok"),
          sum("chars").as("n_chars")))
      val tot = m.agg(sum("n_tok").as("t_tok"),
        sum("n_chars").as("t_chars"))
      m.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tok"),
          col("n_chars"),
          (col("n_chars").cast("double") / col("n_tok")).as("fertility"),
          ((col("n_chars").cast("double") / col("n_tok")) /
            (col("t_chars").cast("double") / col("t_tok")))
            .as("rel_fertility"))
        .orderBy("lang", "source")
    },

    // ---- q134: vocabulary growth curve (Heaps' law audit) — distinct
    //      vocabulary accumulated at ~10 equal corpus-prefix
    //      checkpoints, next to the token mass at each: "how much NEW
    //      vocabulary does the next 10% of corpus buy" — the
    //      saturation curve behind crawl-budget and tokenizer-vocab
    //      decisions (Heaps' law; public literature), and the curve
    //      form of q90's per-shard novelty. Scale discipline: the
    //      checkpoint WIDTH derives from max(doc_id) (a broadcast
    //      one-row scalar, q15 pattern) so the bucket domain is ≤ 11
    //      at ANY corpus size — never a fixed width whose bucket count
    //      grows with the data. A token's first-seen bucket is a MIN
    //      riding the one token-keyed shuffle (partial-aggregated,
    //      q90's no-join rule); token mass per bucket is size(split)
    //      with NO explode (q131's rule); the only unpartitioned
    //      window is the cumulative sum over ≤ 11 bucket rows. ----
    Q(
      "q134_vocab_growth",
      """WITH b AS (SELECT max(doc_id) // 10 + 1 AS w FROM documents),
        |tokc AS (SELECT doc_id // (SELECT w FROM b) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |firsts AS (SELECT tok, min(doc_id // (SELECT w FROM b)) AS fb
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |        FROM documents) GROUP BY 1),
        |per AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT)
        |    AS new_types FROM firsts GROUP BY 1)
        |SELECT t.bucket, t.n_docs, t.n_tok,
        |  CAST(sum(t.n_tok) OVER (ORDER BY t.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
        |  CAST(COALESCE(p.new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(COALESCE(p.new_types, 0)) OVER (ORDER BY t.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        |FROM tokc t LEFT JOIN per p ON t.bucket = p.bucket
        |ORDER BY t.bucket""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documentsSpread(s, d)
      val width = docs.agg((expr("max(doc_id) div 10") + 1).as("w"))
      val bucketed = docs.crossJoin(broadcast(width))
        .withColumn("bucket", expr("doc_id div w"))
      val tokc = bucketed
        .select(col("bucket"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tok"))
      val per = bucketed
        .select(col("bucket"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(min("bucket").as("fb"))
        .groupBy(col("fb").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val cum = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokc.join(per, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"), col("n_tok"),
          sum("n_tok").over(cum).as("cum_tok"),
          coalesce(col("new_types"), lit(0L)).as("new_types"),
          sum(coalesce(col("new_types"), lit(0L))).over(cum)
            .as("cum_types"))
        .orderBy("bucket")
    },

    // ---- q138: cross-lingual pair mining — candidate parallel /
    //      comparable document pairs anchored on RARE shared 5-gram
    //      shingles (the classic pre-embedding document-alignment
    //      heuristic: rare anchors, then pair docs sharing ≥ 2 of
    //      them, across DIFFERENT languages; public literature on
    //      parallel-corpus mining). The df cap is the whole scale
    //      story: only shingles with df ∈ [2, 3] become anchors, so
    //      per-anchor pair fan-out is ≤ C(3,2) = 3 BY CONSTRUCTION —
    //      the anchor join cannot skew, cannot go quadratic, and
    //      needs no salting (contrast q28's prefix filter, which
    //      bounds candidates probabilistically; here the bound is the
    //      predicate itself). ONE persisted shingle pass feeds the df
    //      count and both sides of the anchor join (q127's
    //      discipline); lang inequality prunes same-language near-dups
    //      (q29's territory) from the output. ----
    Q(
      "q138_crosslingual_pairs",
      """WITH sh AS (SELECT DISTINCT doc_id, lang,
        |    string_split(text,' ')[i] || ' ' ||
        |    string_split(text,' ')[i+1] || ' ' ||
        |    string_split(text,' ')[i+2] || ' ' ||
        |    string_split(text,' ')[i+3] || ' ' ||
        |    string_split(text,' ')[i+4] AS g
        |  FROM documents,
        |    unnest(range(1, len(string_split(text,' ')) - 3)) AS t(i)
        |  WHERE len(string_split(text,' ')) >= 5),
        |dfw AS (SELECT g FROM sh GROUP BY g
        |  HAVING count(*) BETWEEN 2 AND 3),
        |posts AS (SELECT sh.g, sh.doc_id, sh.lang
        |  FROM sh JOIN dfw ON sh.g = dfw.g)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.lang AS lang_a, b.lang AS lang_b,
        |  CAST(count(*) AS BIGINT) AS n_anchors
        |FROM posts a JOIN posts b
        |  ON a.g = b.g AND a.doc_id < b.doc_id AND a.lang <> b.lang
        |GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    ) { (s, d) =>
      val sh = graft.Caches.persist(Tables.documentsSpread(s, d)
        .select(col("doc_id"), col("lang"),
          split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(expr(
            "transform(sequence(0, size(w) - 5), i -> concat(" +
              "w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', " +
              "w[i+4]))"))).as("g")))
      val anchors = sh.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 3)).select("g")
      val posts = graft.Caches.persist(sh.join(anchors, Seq("g")))
      val a = posts.select(col("g"), col("doc_id").as("doc_a"),
        col("lang").as("lang_a"))
      val b = posts.select(col("g"), col("doc_id").as("doc_b"),
        col("lang").as("lang_b"))
      a.join(b, Seq("g"))
        .filter(col("doc_a") < col("doc_b") &&
          col("lang_a") =!= col("lang_b"))
        .groupBy("doc_a", "doc_b", "lang_a", "lang_b")
        .agg(count(lit(1)).as("n_anchors"))
        .filter(col("n_anchors") >= 2)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q181: token-frequency Gini — vocabulary concentration in
    //      one number (the data-mix audit next to q87's profile and
    //      q117's skew report: a corpus whose token mass concentrates
    //      in few types trains a tokenizer badly; Zipf makes SOME
    //      concentration normal, the audit tracks drift). Exact
    //      integer rank formula over the ASCENDING frequency order:
    //      gini = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) — numerator and
    //      denominator are exact integers, one integer-division to
    //      micro-units (tie order within equal x cannot change
    //      Σ i·x_i: a tie block contributes x·Σi regardless of
    //      permutation, so the (x, w) tie-break is determinism-only).
    //      One token-keyed shuffle builds the count table; the rank
    //      window runs over the VOCABULARY domain, never the corpus
    //      (q153's low-cardinality exact route — the open-vocabulary
    //      scale path replaces the global window with q86/q98 sketch
    //      boundaries). Magnitude regime: Σi·x and the 10^6-scaled
    //      numerator and denominator ride DECIMAL(38,0) ([[Gini]]);
    //      |2·Σi·x − (n+1)·Σx| ≤ 2·n·Σx keeps the numerator below
    //      10^38 while n·Σx < 5·10^31, ASSERTED IN-PLAN (q145
    //      pattern), and the quotient (≤ 10^6) returns to BIGINT. ----
    Q(
      "q181_token_gini",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS x
        |  FROM tok GROUP BY 1),
        |rk AS (SELECT x, row_number() OVER (ORDER BY x, w) AS i
        |  FROM cnt),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS total,
        |    CAST(sum(i * x) AS BIGINT) AS six FROM rk)
        |SELECT n, total,
        |  CAST((2 * six - (n + 1) * total) * 1000000 // (n * total)
        |    AS BIGINT) AS gini_micro
        |FROM agg""".stripMargin,
    ) { (s, d) => Gini.gini(Tables.documents(s, d)) },

    // ---- q193: vocabulary coverage curve — the tokenizer-size
    //      knob-chooser: for each candidate vocab size K, what share of
    //      the corpus unit MASS do the top-K types cover, and how much
    //      lands out-of-vocabulary? The unit is the token TRIGRAM —
    //      this corpus's word vocabulary is closed (31 types, coverage
    //      trivially 1.0), while the trigram domain is open-vocabulary,
    //      the regime the curve exists for (q58's shingle discipline).
    //      One trigram-keyed count, ONE vocabulary-domain rank window
    //      (q181/q153's exact route), then each K reads the cumulative
    //      mass at rank K. The K grid joins only the rank-≤-maxK HEAD
    //      of the vocabulary (≤16k rows against a 5-row broadcast —
    //      bounded regardless of corpus or vocabulary size, so the
    //      nested-loop theta join is a constant). coverage_micro
    //      floors once per K (q146 discipline). ----
    Q(
      "q193_vocab_coverage_curve",
      """WITH tri AS (
        |  SELECT unnest(list_transform(range(1, len(t) - 1),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS w
        |  FROM (SELECT string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS tf
        |  FROM tri GROUP BY w),
        |m AS (SELECT CAST(sum(tf) AS BIGINT) AS mass FROM tf),
        |r AS (SELECT w, tf,
        |    CAST(row_number() OVER (ORDER BY tf DESC, w) AS BIGINT)
        |      AS rnk,
        |    CAST(sum(tf) OVER (ORDER BY tf DESC, w
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM tf),
        |g AS (SELECT CAST(k AS BIGINT) AS k_vocab
        |  FROM (VALUES (1000),(2000),(4000),(8000),(16000)) AS v(k))
        |SELECT g.k_vocab,
        |  CAST(count(*) AS BIGINT) AS n_types_used,
        |  CAST(max(r.cum) * 1000000 // m.mass AS BIGINT)
        |    AS coverage_micro,
        |  CAST(m.mass - max(r.cum) AS BIGINT) AS oov_mass
        |FROM g, r, m
        |WHERE r.rnk <= g.k_vocab
        |GROUP BY g.k_vocab, m.mass ORDER BY k_vocab""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val maxK = 16000L
      val tri = Tables.documentsSpread(s, d)
        .select(split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
          .as("w"))
      val tf = tri.groupBy("w").agg(count(lit(1)).as("tf"))
      val m = tf.agg(sum("tf").as("mass"))
      val w = Window.orderBy(col("tf").desc, col("w"))
      // vocabulary-domain rank window (exact route), then keep only the
      // head the K grid can reference
      val r = tf
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum", sum("tf").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("rnk") <= maxK)
      val grid = Seq(1000L, 2000L, 4000L, 8000L, 16000L).toDF("k_vocab")
      r.join(broadcast(grid), col("rnk") <= col("k_vocab"))
        .crossJoin(broadcast(m))
        .groupBy("k_vocab", "mass")
        .agg(count(lit(1)).as("n_types_used"),
          max("cum").as("maxcum"))
        .select(col("k_vocab"), col("n_types_used"),
          expr("maxcum * 1000000 div mass").cast("long")
            .as("coverage_micro"),
          (col("mass") - col("maxcum")).cast("long").as("oov_mass"))
        .orderBy("k_vocab")
    },

    // ---- q205: classification report for the lang-ID — the standard
    //      per-class eval table (precision / recall / F1 + overall
    //      accuracy) of q33's profile-hit argmax against the labeled
    //      `lang` column: the audit that tells a curation run WHICH
    //      language the heuristic confuses before it routes 100 TB by
    //      its output. One token scan re-derives the prediction
    //      (q60's fusion discipline); the confusion table is ONE
    //      (truth, pred) grouped pass — ≤ |classes|² rows — and every
    //      downstream marginal (n_true, n_pred, tp, accuracy) is
    //      arithmetic on that tiny table, never a second corpus pass.
    //      All integer micro: F1 = 2·tp/(n_true+n_pred) directly, so
    //      no nested ratio-of-ratios rounding; classes with n_pred=0
    //      emit NULL precision in both engines (non-ANSI div-zero).
    //      Report rows are the TRUE-class domain. ----
    Q(
      "q205_langid_report",
      s"""WITH prof(plang, w) AS (VALUES $sqlProfileValues),
        |toks AS (${Text.SqlTokens}),
        |hits AS (SELECT doc_id, plang, count(*) AS h
        |         FROM toks JOIN prof USING (w) GROUP BY 1, 2),
        |allc AS (SELECT d.doc_id, p.plang
        |         FROM (SELECT DISTINCT doc_id FROM documents) d
        |         CROSS JOIN (SELECT DISTINCT plang FROM prof) p),
        |sc AS (SELECT a.doc_id, a.plang, coalesce(h.h, 0) AS hits
        |       FROM allc a LEFT JOIN hits h
        |         ON h.doc_id = a.doc_id AND h.plang = a.plang),
        |pred AS (SELECT doc_id, plang AS pred FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY hits DESC, plang) = 1),
        |j AS (SELECT d.lang AS truth, p.pred
        |  FROM documents d JOIN pred p ON d.doc_id = p.doc_id),
        |pc AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |tt AS (SELECT truth AS c, CAST(sum(n) AS BIGINT) AS n_true
        |  FROM pc GROUP BY 1),
        |pt AS (SELECT pred AS c, CAST(sum(n) AS BIGINT) AS n_pred
        |  FROM pc GROUP BY 1),
        |di AS (SELECT truth AS c, n AS tp FROM pc WHERE truth = pred),
        |m AS (SELECT tt.c, tt.n_true,
        |    CAST(coalesce(pt.n_pred, 0) AS BIGINT) AS n_pred,
        |    CAST(coalesce(di.tp, 0) AS BIGINT) AS tp
        |  FROM tt LEFT JOIN pt ON tt.c = pt.c
        |    LEFT JOIN di ON tt.c = di.c),
        |acc AS (SELECT CAST(coalesce(
        |      sum(CASE WHEN truth = pred THEN n END), 0) * 1000000
        |    // sum(n) AS BIGINT) AS accuracy_micro FROM pc)
        |SELECT m.c AS lang, m.n_true, m.n_pred, m.tp,
        |  CAST(m.tp * 1000000 // nullif(m.n_pred, 0) AS BIGINT)
        |    AS precision_micro,
        |  CAST(m.tp * 1000000 // m.n_true AS BIGINT) AS recall_micro,
        |  CAST(2 * m.tp * 1000000 // (m.n_true + m.n_pred) AS BIGINT)
        |    AS f1_micro,
        |  acc.accuracy_micro
        |FROM m, acc ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      import s.implicits._
      val prof = profiles.toDF("plang", "w")
      val hits = Text.tokens(s, d)
        .join(broadcast(prof), "w")
        .groupBy("doc_id", "plang").agg(count(lit(1)).as("h"))
      val allc = Tables.documents(s, d).select("doc_id")
        .crossJoin(broadcast(prof.select("plang").distinct()))
      val sc = allc.join(hits, Seq("doc_id", "plang"), "left")
        .select(col("doc_id"), col("plang"),
          coalesce(col("h"), lit(0L)).as("hits"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("hits").desc, col("plang"))
      val pred = sc.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("plang").as("pred"))
      val j = Tables.documents(s, d).select("doc_id", "lang")
        .join(pred, "doc_id")
        .select(col("lang").as("truth"), col("pred"))
      // persisted: the ≤|classes|² confusion table feeds every marginal
      val pc = graft.Caches.persist(
        j.groupBy("truth", "pred").agg(count(lit(1)).as("n")))
      val tt = pc.groupBy(col("truth").as("c"))
        .agg(sum("n").cast("long").as("n_true"))
      val pt = pc.groupBy(col("pred").as("c"))
        .agg(sum("n").cast("long").as("n_pred"))
      val di = pc.filter(col("truth") === col("pred"))
        .select(col("truth").as("c"), col("n").as("tp"))
      val m = tt.join(pt, Seq("c"), "left").join(di, Seq("c"), "left")
        .select(col("c"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).cast("long").as("n_pred"),
          coalesce(col("tp"), lit(0L)).cast("long").as("tp"))
      val acc = pc.agg(expr(
        "coalesce(sum(CASE WHEN truth = pred THEN n END), 0) * 1000000" +
          " div sum(n)").cast("long").as("accuracy_micro"))
      m.crossJoin(broadcast(acc))
        .select(col("c").as("lang"), col("n_true"), col("n_pred"),
          col("tp"),
          expr("tp * 1000000 div nullif(n_pred, 0)").cast("long")
            .as("precision_micro"),
          expr("tp * 1000000 div n_true").cast("long")
            .as("recall_micro"),
          expr("2 * tp * 1000000 div (n_true + n_pred)").cast("long")
            .as("f1_micro"),
          col("accuracy_micro"))
        .orderBy("lang")
    },

    // ---- q206: quality-threshold yield curve — price the TTR floor
    //      before applying it (the q160/q194 knob-pricing discipline
    //      on the quality axis): per type-token-ratio decile, docs and
    //      token mass, plus the cumulative kept docs / tokens / mass
    //      share if the floor were set at that decile. One token scan
    //      folds to per-doc (n_tok, n_distinct); the decile bucket is
    //      pure integer (ttr micro div 100000, capped at 9); the
    //      cumulative windows run DESC on the 10-row bucket domain.
    //      The emitted curve is what a curation run consults to pick
    //      the threshold that keeps its token budget. ----
    Q(
      "q206_quality_yield_curve",
      s"""WITH toks AS (${Text.SqlTokens}),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(count(DISTINCT w) AS BIGINT) AS n_dis
        |  FROM toks GROUP BY 1),
        |sc AS (SELECT CASE WHEN n_dis * 1000000 // n_tok // 100000 > 9
        |      THEN 9 ELSE n_dis * 1000000 // n_tok // 100000 END AS b,
        |    n_tok FROM ag),
        |g AS (SELECT b, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM sc GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g)
        |SELECT CAST(g.b AS BIGINT) AS ttr_decile, g.n_docs, g.n_tokens,
        |  CAST(sum(g.n_docs) OVER (ORDER BY g.b DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
        |  CAST(sum(g.n_tokens) OVER (ORDER BY g.b DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(sum(g.n_tokens) OVER (ORDER BY g.b DESC
        |      ROWS UNBOUNDED PRECEDING) * 1000000 // t.total AS BIGINT)
        |    AS kept_mass_micro
        |FROM g, t ORDER BY ttr_decile""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ag = Text.tokens(s, d).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          countDistinct("w").as("n_dis"))
      val sc = ag.select(
        least(lit(9L), expr("n_dis * 1000000 div n_tok div 100000"))
          .as("b"), col("n_tok"))
      val g = graft.Caches.persist(sc.groupBy("b")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens")))
      val t = g.agg(sum("n_tokens").cast("long").as("total"))
      // 10-row bucket domain: the unpartitioned windows are metadata-sized
      val wd = Window.orderBy(col("b").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.crossJoin(broadcast(t))
        .select(col("b").cast("long").as("ttr_decile"),
          col("n_docs"), col("n_tokens").cast("long").as("n_tokens"),
          sum("n_docs").over(wd).cast("long").as("cum_docs"),
          sum("n_tokens").over(wd).cast("long").as("cum_tokens"),
          (sum("n_tokens").over(wd) * lit(1000000L)).cast("long")
            .as("__km"), col("total"))
        .select(col("ttr_decile"), col("n_docs"), col("n_tokens"),
          col("cum_docs"), col("cum_tokens"),
          expr("__km div total").cast("long").as("kept_mass_micro"))
        .orderBy("ttr_decile")
    },
  )
}

/** Token-frequency Gini as one exact fold: token counts →
  * vocabulary-domain rank window → the integer rank formula
  * `gini = (2·Σi·x − (n+1)·Σx) / (n·Σx)`, scaled to micro-units before
  * the single integer division.
  *
  * Σi·x and the scaled numerator and denominator are DECIMAL(38,0)
  * (the q136 discipline). `|2·Σi·x − (n+1)·Σx| ≤ 2·n·Σx`, so the
  * numerator ·10⁶ stays below 10³⁸ while `n·Σx < 5·10³¹`: that is the
  * in-plan guard, loud past it (the upgrade there is q86/q98 sketch
  * boundaries, not a silent approximation). The quotient is at most
  * 10⁶ and returns to BIGINT: the float policy bans DECIMAL output
  * columns. */
object Gini {
  import org.apache.spark.sql.DataFrame

  /** Exclusive bound on n·Σx: the numerator's DECIMAL(38,0) envelope. */
  private[llmdata] val Envelope: BigInt = BigInt(5) * BigInt(10).pow(31)

  /** The fold over a (w, x) token count table: ascending-frequency rank
    * window over the VOCABULARY domain (never the corpus — q153's
    * exact route), then [[quotient]]. */
  private[llmdata] def fold(cnt: DataFrame): DataFrame =
    quotient(cnt
      .withColumn("i", row_number().over(
        Window.orderBy(col("x"), col("w"))).cast("long"))
      .agg(count(lit(1)).as("n"), sum("x").as("total"),
        sum(col("i").cast("decimal(38,0)") * col("x"))
          .cast("decimal(38,0)").as("six")))

  /** (n, total, six) → (n, total, gini_micro), guarded at [[Envelope]]. */
  private[llmdata] def quotient(sums: DataFrame): DataFrame =
    sums.select(col("n"), col("total"),
      graft.ScaleGuards.guarded(
        // NULL counts (an empty corpus) pass, as in ScaleGuards.productWithin
        expr(s"coalesce(CAST(n AS DECIMAL(38,0)) * total < ${Envelope}BD, true)"),
        "q181: n*total exceeds 5*10^31 - the Gini numerator *10^6 would " +
          "overflow DECIMAL(38,0); drop to q86/q98 sketch boundaries",
        expr("CAST((2 * six - (CAST(n AS DECIMAL(38,0)) + 1) * total) " +
          "* 1000000 div (CAST(n AS DECIMAL(38,0)) * total) AS BIGINT)"))
        .as("gini_micro"))

  /** q181's entry point. */
  def gini(docs: DataFrame): DataFrame =
    fold(docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("x")))
}
