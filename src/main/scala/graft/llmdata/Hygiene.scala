package graft.llmdata

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `[EXT]` Corpus-hygiene operators for a large-scale training-data
  * pipeline: benchmark decontamination (n-gram overlap against a held-out
  * test split), per-document repetition quality signals, and exact
  * duplicated-substring span coverage. All public-literature techniques
  * (GPT-3 appendix C decontamination; Rae et al. "Scaling Language
  * Models" (Gopher) repetition filters; Lee et al. "Deduplicating
  * Training Data Makes Language Models Better"), re-expressed as
  * declarative Spark plans with exact DuckDB oracles.
  *
  * Scale design (100 TB):
  *  - decontamination keys its one wide shuffle on the n-gram (open
  *    cardinality, grows with the corpus — no hot buckets), and the test
  *    membership probe is a window flag over that same shuffle, not a
  *    second join;
  *  - repetition signals are a PURE MAP pass — every statistic, including
  *    the modal-bigram count, folds per row with higher-order functions,
  *    so a 100 TB quality sweep reads and writes each doc exactly once
  *    with zero shuffle;
  *  - duplicated-span detection shuffles positional n-grams once (window
  *    min/max per gram replaces a flag-table join) and only flagged
  *    positions fan out to covered-token rows.
  */
object Hygiene {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** q50's deterministic split bucket: md5(doc_id) is stable across
    * runs/engines/cluster sizes — never rand(). */
  private[llmdata] def bucket: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 10

  private val SqlBucket =
    "CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS BIGINT) % 10"

  val qs: Seq[Q] = Seq(
    // ---- q62: benchmark decontamination — for every train-split doc,
    //      the fraction of its distinct 5-gram shingles that also occur
    //      in any test-split doc (GPT-3-style n-gram overlap). One
    //      g-keyed shuffle: train and test gram rows are unioned and the
    //      test-membership probe is a window max over the gram — the
    //      membership "join" rides the same exchange. At production
    //      shape the benchmark side is tiny (a benchmark suite vs a
    //      100 TB corpus), so the degenerate-but-common alternative —
    //      broadcast the distinct benchmark grams and left-join — is a
    //      one-line swap; the window form is the engine-safe default
    //      when the held-out side is NOT small (here: 10% of corpus).
    //      Contamination flag compares integers (2·hits ≥ grams), never
    //      a float threshold. ----
    Q(
      "q62_decontaminate",
      s"""WITH b AS (SELECT doc_id, text, $SqlBucket AS bucket FROM documents),
        |g5 AS (SELECT doc_id, bucket,
        |    unnest(list_distinct(list_transform(
        |      range(1, len(string_split(text,' ')) - 3),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2] || ' ' ||
        |           string_split(text,' ')[i+3] || ' ' ||
        |           string_split(text,' ')[i+4]))) AS g
        |  FROM b WHERE len(string_split(text,' ')) >= 5),
        |t AS (SELECT DISTINCT g FROM g5 WHERE bucket = 9)
        |SELECT g5.doc_id, count(*) AS n_grams, count(t.g) AS n_hit,
        |  CAST(count(t.g) AS DOUBLE)/count(*) AS contamination,
        |  CAST(CASE WHEN 2*count(t.g) >= count(*) THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM g5 LEFT JOIN t ON g5.g = t.g
        |WHERE g5.bucket < 8
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val w = col("w")
      val grams = Tables.documents(s, d)
        .withColumn("bucket", bucket)
        // val split (bucket 8) takes no part: not scanned past this filter
        .filter(col("bucket") < 8 || col("bucket") === 9)
        .select(col("doc_id"), col("bucket"), split(col("text"), " ").as("w"))
        .filter(size(w) >= 5)
        .select(col("doc_id"), col("bucket"),
          explode(array_distinct(transform(sequence(lit(0), size(w) - 5),
            i => concat_ws(" ", w(i), w(i + 1), w(i + 2), w(i + 3), w(i + 4)))))
            .as("g"))
      grams
        .withColumn("hit",
          max(when(col("bucket") === 9, 1).otherwise(0))
            .over(Window.partitionBy("g")))
        .filter(col("bucket") < 8)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum("hit").as("n_hit"))
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_grams")).as("contamination"),
          (lit(2) * col("n_hit") >= col("n_grams")).cast("int")
            .as("contaminated"))
        .orderBy("doc_id")
    },

    // ---- q63: repetition quality signals (Gopher-family filters) —
    //      duplicate-token fraction, duplicate-trigram fraction, and the
    //      modal bigram's share of all bigrams. Everything is a per-row
    //      fold: the modal-bigram count sorts the doc's bigram array and
    //      folds the longest equal run with `aggregate`, so the whole
    //      quality pass is map-only — no shuffle at any corpus size. The
    //      oracle recomputes the modal count the dumb way (unnest +
    //      GROUP BY); both reduce the same exact integers. ----
    Q(
      "q63_repetition",
      """WITH tl AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |base AS (SELECT doc_id, len(w) AS n_tok,
        |    len(list_distinct(w)) AS n_utok,
        |    CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE NULL END AS n_tri,
        |    CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(
        |      range(1, len(w) - 1),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]))) ELSE NULL END AS n_utri
        |  FROM tl),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i]||' '||w[i+1])) AS b
        |  FROM tl WHERE len(w) >= 2),
        |top AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_bi
        |  FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT base.doc_id, n_tok,
        |  CAST(n_tok - n_utok AS DOUBLE)/n_tok AS dup_token_frac,
        |  CAST(n_tri - n_utri AS DOUBLE)/n_tri AS dup_trigram_frac,
        |  CAST(top_c AS DOUBLE)/n_bi AS top_bigram_frac
        |FROM base LEFT JOIN top ON base.doc_id = top.doc_id
        |ORDER BY 1""".stripMargin,
    ) { (s, d) =>
      val w = col("w")
      // longest equal run of the SORTED bigram array = modal bigram count
      val modalCount = aggregate(
        array_sort(transform(sequence(lit(0), size(w) - 2),
          i => concat_ws(" ", w(i), w(i + 1)))),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, x) => {
          val run = when(x === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(st.getField("best"), run).as("best"))
        },
        st => st.getField("best"))
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          size(w).cast("long").as("n_tok"),
          size(array_distinct(w)).cast("long").as("n_utok"),
          when(size(w) >= 3, size(w).cast("long") - 2L).as("n_tri"),
          when(size(w) >= 3,
            size(array_distinct(transform(sequence(lit(0), size(w) - 3),
              i => concat_ws(" ", w(i), w(i + 1), w(i + 2))))).cast("long"))
            .as("n_utri"),
          when(size(w) >= 2, modalCount).as("top_c"),
          when(size(w) >= 2, size(w).cast("long") - 1L).as("n_bi"))
        .select(col("doc_id"), col("n_tok"),
          ((col("n_tok") - col("n_utok")).cast("double") / col("n_tok"))
            .as("dup_token_frac"),
          ((col("n_tri") - col("n_utri")).cast("double") / col("n_tri"))
            .as("dup_trigram_frac"),
          (col("top_c").cast("double") / col("n_bi")).as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // ---- q64: duplicated-substring span coverage — for every doc, the
    //      fraction of token positions lying inside an 8-token window
    //      that occurs verbatim in ANOTHER doc. This is the marking pass
    //      of exact substring dedup (Lee et al. 2022): any cross-doc
    //      duplicated substring of length ≥ 8 is exactly the union of
    //      its duplicated 8-gram windows, so n-gram seeds recover the
    //      same covered set a suffix array would for spans ≥ 8. Plan:
    //      positional 8-grams shuffle ONCE on the gram (min/max doc_id
    //      per gram as window aggs replace a dup-flag join); only
    //      flagged seeds explode to covered positions. ----
    Q(
      "q64_dup_spans",
      """WITH tl AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(w) - 6)) AS i,
        |    len(w) AS n_tok FROM tl WHERE len(w) >= 8),
        |pg AS (SELECT p.doc_id, p.i,
        |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
        |    w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7] AS g
        |  FROM pos p JOIN tl ON p.doc_id = tl.doc_id),
        |dup AS (SELECT g FROM pg GROUP BY g
        |  HAVING min(doc_id) <> max(doc_id)),
        |cov AS (SELECT DISTINCT pg.doc_id, unnest(range(i, i + 8)) AS p
        |  FROM pg JOIN dup ON pg.g = dup.g),
        |cc AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY 1)
        |SELECT d.doc_id, len(string_split(d.text,' ')) AS n_tok,
        |  coalesce(cc.n_covered, 0) AS n_covered,
        |  CAST(coalesce(cc.n_covered, 0) AS DOUBLE)
        |    / len(string_split(d.text,' ')) AS covered_frac
        |FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
        |ORDER BY 1""".stripMargin,
    ) { (s, d) =>
      val w = col("w")
      val pg = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(w) >= 8)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(w) - 8),
            i => concat_ws(" ", (0 until 8).map(k => w(i + k)): _*))))
        .toDF("doc_id", "i", "g")
      val gw = Window.partitionBy("g")
      val covered = pg
        .withColumn("dup",
          min("doc_id").over(gw) =!= max("doc_id").over(gw))
        .filter(col("dup"))
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + 7)).as("p"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          (coalesce(col("n_covered"), lit(0L)).cast("double") / col("n_tok"))
            .as("covered_frac"))
        .orderBy("doc_id")
    },

    // ---- q82: duplicated-span REMOVAL — the rewrite pass that
    //      completes q64's marking (Lee et al. 2022 REMOVE the
    //      duplicated substrings, not just measure them): every token
    //      position inside a cross-doc duplicated 8-token window is
    //      dropped and the survivors reassemble, in order, into the
    //      cleaned document. Same one-gram-shuffle plan as q64 for the
    //      covered set; the rebuild is a doc-keyed anti-join plus one
    //      ordered fold (sort the kept (position, token) structs
    //      inside the aggregated array — partition-order-proof, no
    //      collect_list order assumption). Docs shorter than the
    //      window pass through verbatim; fully-duplicated docs come
    //      out empty (n_kept = 0), which is the deletion signal the
    //      downstream filter consumes. ----
    Q(
      "q82_dedup_rewrite",
      """WITH tl AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(w) - 6)) AS i
        |  FROM tl WHERE len(w) >= 8),
        |pg AS (SELECT p.doc_id, p.i,
        |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
        |    w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7] AS g
        |  FROM pos p JOIN tl ON p.doc_id = tl.doc_id),
        |dup AS (SELECT g FROM pg GROUP BY g
        |  HAVING min(doc_id) <> max(doc_id)),
        |cov AS (SELECT DISTINCT pg.doc_id, unnest(range(i, i + 8)) AS p
        |  FROM pg JOIN dup ON pg.g = dup.g),
        |allpos AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p FROM tl),
        |keptpos AS (SELECT a.doc_id, a.p FROM allpos a
        |  LEFT JOIN cov ON cov.doc_id = a.doc_id AND cov.p = a.p
        |  WHERE cov.p IS NULL),
        |kept AS (SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w[p], ' ' ORDER BY p) AS cleaned
        |  FROM keptpos k JOIN tl ON k.doc_id = tl.doc_id
        |  GROUP BY k.doc_id)
        |SELECT d.doc_id, len(string_split(d.text,' ')) AS n_tok,
        |  coalesce(kept.n_kept, 0) AS n_kept,
        |  coalesce(kept.cleaned, '') AS cleaned_text
        |FROM documents d LEFT JOIN kept ON d.doc_id = kept.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    ) { (s, d) =>
      val w = col("w")
      val pg = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(w) >= 8)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(w) - 8),
            i => concat_ws(" ", (0 until 8).map(k => w(i + k)): _*))))
        .toDF("doc_id", "i", "g")
      val gw = Window.partitionBy("g")
      val covered = pg
        .withColumn("dup",
          min("doc_id").over(gw) =!= max("doc_id").over(gw))
        .filter(col("dup"))
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + 7)).as("p"))
        .distinct()
      val allpos = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "p", "tok")
      val kept = allpos
        .join(covered, Seq("doc_id", "p"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("p"), col("tok")))),
              x => x.getField("tok")), " ").as("cleaned"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("cleaned"), lit("")).as("cleaned_text"))
        .orderBy("doc_id")
    },

    // ---- q79: split-drift audit — per token, the document-frequency
    //      RATE in the train split vs the test split (q50's md5
    //      buckets), as one add-one-smoothed ratio. The data-audit
    //      pass that catches a skewed split or a shifted refresh
    //      before it skews evaluation (covariate-shift checks; public
    //      literature). Exactness: the ratio is ONE division of two
    //      exact integer products — (df_train·n_test) /
    //      ((df_test+1)·n_train) — so no float accumulates anywhere.
    //      Plan: one (doc, w)-distinct pass, conditional sums per
    //      token ride a single token-keyed shuffle, split sizes are a
    //      broadcast 1-row aggregate. ----
    Q(
      "q79_split_drift",
      s"""WITH b AS (SELECT doc_id, text, $SqlBucket AS bucket FROM documents),
        |tw AS (SELECT DISTINCT doc_id, bucket,
        |    unnest(string_split(text,' ')) AS w FROM b),
        |n AS (SELECT CAST(count(CASE WHEN bucket < 8 THEN 1 END) AS BIGINT)
        |      AS n_train,
        |    CAST(count(CASE WHEN bucket = 9 THEN 1 END) AS BIGINT) AS n_test
        |  FROM b),
        |d AS (SELECT w,
        |    CAST(count(CASE WHEN bucket < 8 THEN 1 END) AS BIGINT) AS df_train,
        |    CAST(count(CASE WHEN bucket = 9 THEN 1 END) AS BIGINT) AS df_test
        |  FROM tw GROUP BY 1)
        |SELECT w AS term, df_train, df_test,
        |  CAST(df_train * n_test AS DOUBLE) / ((df_test + 1) * n_train)
        |    AS drift_ratio
        |FROM d CROSS JOIN n ORDER BY term""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("bucket", bucket)
      val tw = docs
        .select(col("doc_id"), col("bucket"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
      val n = docs.agg(
        count(when(col("bucket") < 8, 1)).as("n_train"),
        count(when(col("bucket") === 9, 1)).as("n_test"))
      tw.groupBy("w")
        .agg(count(when(col("bucket") < 8, 1)).as("df_train"),
          count(when(col("bucket") === 9, 1)).as("df_test"))
        .join(broadcast(n))
        .select(col("w").as("term"), col("df_train"), col("df_test"),
          ((col("df_train") * col("n_test")).cast("double") /
            ((col("df_test") + 1) * col("n_train"))).as("drift_ratio"))
        .orderBy("term")
    },

    // ---- q77: weakest-link bigram plausibility — per document, the
    //      MINIMUM corpus-conditional bigram probability p(w2|w1) =
    //      c(w1 w2)/c(w1·) over the doc's distinct bigrams. The
    //      no-transcendental analog of a bigram-LM surprisal filter
    //      (KenLM-style perplexity gates; public literature): one
    //      implausible transition tanks the score, flagging spliced or
    //      shuffled text that token-level stats miss. Determinism: each
    //      probability is ONE division of two exact corpus counts and
    //      `min` is order-free, so no float-summation-order hazard
    //      exists at any parallelism. Plan: bigram occurrences reduce
    //      map-side into the two count tables (bigram-keyed and
    //      prefix-keyed); the doc's distinct bigrams join both on keys
    //      they already carry and fold min per doc. ----
    Q(
      "q77_bigram_minprob",
      """WITH tl AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(w))) AS i FROM tl
        |  WHERE len(w) >= 2),
        |bg AS (SELECT p.doc_id, w[i] AS w1, w[i]||' '||w[i+1] AS b
        |  FROM pos p JOIN tl ON p.doc_id = tl.doc_id),
        |c2 AS (SELECT b, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        |db AS (SELECT DISTINCT doc_id, w1, b FROM bg)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |  min(CAST(c2 AS DOUBLE)/c1) AS min_bigram_p
        |FROM db JOIN c2 USING (b) JOIN c1 USING (w1)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      // round 15: (1) the prefix count c1(w1) = Σ_b c2(w1, b), so it
      // re-aggregates the (tiny) bigram-count table instead of paying
      // a second full-occurrence shuffle; (2) the per-doc distinct is
      // ROW-LOCAL (doc_id never crosses rows) — array_distinct before
      // the explode, no distinct exchange; (3) two corpus explodes
      // (occurrences + per-doc distinct) instead of three.
      // bigrams ride as plain STRINGS (w1 re-derives as the prefix of
      // b via substring_index — exact, since split-on-space tokens
      // contain no space): array_distinct on an atomic type keeps its
      // hash-set fast path, where the struct rendering fell back to
      // the O(n²) complex-type comparison loop (measured slower than
      // the exchange it replaced).
      val w = col("w")
      def bigrams(c: org.apache.spark.sql.Column) =
        transform(sequence(lit(0), size(c) - 2),
          i => concat_ws(" ", c(i), c(i + 1)))
      val tl = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(w) >= 2)
      val c2 = tl.select(explode(bigrams(w)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c2"))
      val c1 = c2
        .groupBy(substring_index(col("b"), " ", 1).as("w1"))
        .agg(sum("c2").as("c1"))
      tl.select(col("doc_id"), explode(array_distinct(bigrams(w))).as("b"))
        .withColumn("w1", substring_index(col("b"), " ", 1))
        .join(c2, "b").join(c1, "w1")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct_bigrams"),
          min(col("c2").cast("double") / col("c1")).as("min_bigram_p"))
        .orderBy("doc_id")
    },

    // ---- q66: PII pattern scrub — regex redaction with per-record
    //      match accounting, the pre-training privacy pass (C4 /
    //      RefinedWeb-style rule-based PII removal; public literature).
    //      Run over the raw event payloads (`events.props`, the
    //      free-text-bearing column of this testdata): numeric literals
    //      redact to `<NUM>` (live path — every row matches), the email
    //      pattern proves the zero-match pass-through. The patterns are
    //      RE2/Java-regex common subset, so both engines see the same
    //      language. Pure map pass: at 100 TB the scrub reads and
    //      writes each record exactly once with zero shuffle (the
    //      ORDER BY is the verification harness's, not the op's). ----
    Q(
      "q66_pii_scrub",
      """SELECT event_id,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums,
        |  CAST(len(regexp_extract_all(props,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  regexp_replace(
        |    regexp_replace(props,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM events ORDER BY event_id""".stripMargin,
    ) { (s, d) =>
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      Tables.events(s, d)
        .select(col("event_id"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_nums"),
          size(regexp_extract_all(col("props"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          regexp_replace(
            regexp_replace(col("props"), email, "<EMAIL>"),
            "[0-9]+", "<NUM>").as("scrubbed"))
        .orderBy("event_id")
    },

    // ---- q85: Bloom-gated cross-split exact dedup — flag every train
    //      doc whose token-SET fingerprint also occurs in the held-out
    //      test split (the train/test leak a split-by-doc-id cannot
    //      prevent when the corpus carries exact near-copies; BFF-style
    //      bloom gating, Dolma/DataComp pipelines — public literature).
    //      Scale shape: the 100 TB train side is ONE map-only pass — a
    //      bloom bitset built from the (small) test split by the
    //      functions/BloomAgg aggregator arrives as a broadcast scalar,
    //      and the k-probe membership test is a codegen'd boolean; only
    //      bloom-POSITIVE rows (true dups + a vanishing fp-rate slice)
    //      enter the verify join, and bloom negatives are DEFINITE
    //      misses (no-false-negative invariant, BloomSpec), so the
    //      output is exactly the oracle's join semantics — the sketch
    //      gates work, it never decides answers. ----
    Q(
      "q85_bloom_crossdup",
      s"""WITH b AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(text,' '))), ' ')) AS fp,
        |    $SqlBucket AS bucket
        |  FROM documents),
        |t AS (SELECT DISTINCT fp FROM b WHERE bucket = 9)
        |SELECT b.doc_id,
        |  CAST(CASE WHEN t.fp IS NOT NULL THEN 1 ELSE 0 END AS INT)
        |    AS dup_in_test
        |FROM b LEFT JOIN t ON b.fp = t.fp
        |WHERE b.bucket < 8 ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      import graft.functions.{Bloom, BloomAgg}
      val mBits = 1 << 17
      val k = 3
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), Text.setFp.as("fp"), bucket.as("bucket"))
      val test = docs.filter(col("bucket") === 9).select("fp").distinct()
      val bloomUdaf = udaf(new BloomAgg(mBits),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]())
      val bits = test.select(Bloom.positions(col("fp"), mBits, k).as("pos"))
        .agg(bloomUdaf(col("pos")).as("bits"))
      // persisted: the misses and hits branches both consume `probed`,
      // and without the persist each union arm would re-scan and
      // re-probe the full train side (the dominant cost this op
      // exists to pay exactly once)
      val probed = docs.filter(col("bucket") < 8)
        .crossJoin(broadcast(bits))
        .withColumn("hit", Bloom.mightContain(col("bits"), col("fp"), mBits, k))
        .select("doc_id", "fp", "hit")
        .transform(graft.Caches.persist)
      val misses = probed.filter(!col("hit"))
        .select(col("doc_id"), lit(0).as("dup_in_test"))
      val hits = probed.filter(col("hit"))
        .join(test.withColumn("m", lit(1)), Seq("fp"), "left")
        .select(col("doc_id"),
          when(col("m").isNotNull, 1).otherwise(0).as("dup_in_test"))
      misses.unionByName(hits).orderBy("doc_id")
    },

    // ---- q100: training-data readiness report — the capstone audit a
    //      corpus ships with: per (lang, split), document and token
    //      counts, exact-dup copies (token-set fp with a lower-id twin
    //      anywhere in the corpus), test-split leaks (fp also present
    //      in the held-out split), and the aggregate type-token ratio.
    //      Plan: every per-doc stat is a MAP-side array fold (no
    //      tokenize explode); the dup and leak flags are window
    //      min/max riding ONE fp-keyed shuffle (q62's membership
    //      pattern); then one (lang, split) aggregate — two shuffles
    //      end to end at any corpus size. The aggregate TTR is
    //      sum(int)/sum(int) — ONE IEEE division per output row, never
    //      a float sum (the q91 policy). ----
    Q(
      "q100_readiness_report",
      s"""WITH b AS (SELECT doc_id, lang,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(text,' '))), ' ')) AS fp,
        |    len(string_split(text,' ')) AS nt,
        |    len(list_distinct(string_split(text,' '))) AS nd,
        |    $SqlBucket AS bucket
        |  FROM documents),
        |f AS (SELECT *,
        |    CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
        |         ELSE 'test' END AS split,
        |    min(doc_id) OVER (PARTITION BY fp) AS keep_id,
        |    max(CASE WHEN bucket = 9 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY fp) AS in_test
        |  FROM b)
        |SELECT lang, split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(count(CASE WHEN doc_id <> keep_id THEN 1 END) AS BIGINT)
        |    AS n_dup_copies,
        |  CAST(count(CASE WHEN bucket <> 9 AND in_test = 1 THEN 1 END)
        |    AS BIGINT) AS n_test_leaks,
        |  CAST(sum(nd) AS DOUBLE) / sum(nt) AS ttr_agg
        |FROM f GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    ) { (s, d) =>
      val w = split(col("text"), " ")
      val fpW = Window.partitionBy("fp")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), Text.setFp.as("fp"),
          size(w).cast("long").as("nt"),
          size(array_distinct(w)).cast("long").as("nd"),
          bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test"))
        .withColumn("keep_id", min("doc_id").over(fpW))
        .withColumn("in_test",
          max(when(col("bucket") === 9, 1).otherwise(0)).over(fpW))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("nt").as("n_tokens"),
          count(when(col("doc_id") =!= col("keep_id"), 1)).as("n_dup_copies"),
          count(when(col("bucket") =!= 9 && col("in_test") === 1, 1))
            .as("n_test_leaks"),
          (sum("nd").cast("double") / sum("nt")).as("ttr_agg"))
        .orderBy("lang", "split")
    },

    // ---- q118: order-free table checksum — the data-parity primitive
    //      behind every migration, replication, and engine-swap audit
    //      (including the gate this registry itself runs against
    //      DuckDB): per group, XOR of 60-bit row digests plus the row
    //      count. XOR is commutative/associative, so the checksum is
    //      ONE partial-aggregated pass with NO sort at any table size
    //      — comparing two 100 TB copies costs two scans and a
    //      two-row diff, where a sort-based compare pays a global
    //      shuffle on each side. Any single-row difference flips the
    //      checksum surely; k-row differences escape with probability
    //      2^-60 (non-adversarial corruption — bit rot, lost appends,
    //      truncated copies — not forgery). Row canonicalization is
    //      concat_ws on an unprintable separator (chr(31)), the same
    //      expression DuckDB replays byte-for-byte. ----
    Q(
      "q118_table_checksum",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(bit_xor(CAST(('0x' || substr(md5(
        |      concat_ws(chr(31), doc_id, text, source, n_chars)), 1, 15))
        |    AS BIGINT)) AS BIGINT) AS checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(CAST(conv(substring(md5(concat_ws(chr(31), " +
            "doc_id, text, source, n_chars)), 1, 15), 16, 10) AS BIGINT))")
            .as("checksum"))
        .orderBy("lang")
    },

    // ---- q198: Kolmogorov–Smirnov two-sample test between the q50
    //      md5 train/test splits over the doc-LENGTH distribution —
    //      the continuous complement to q79 (term-level df drift) and
    //      q162 (categorical χ²): did the split preserve the length
    //      distribution, or did hashing luck hand the test split the
    //      long tail? Exact in cross-multiplied integer units: the KS
    //      statistic is max_v |c_tr(v)·n_te − c_te(v)·n_tr| / (n_tr·
    //      n_te), so the argmax and the max are computed entirely in
    //      BIGINT — no float ECDFs whose rounding could flip the
    //      argmax between engines. The corpus folds to the length
    //      domain first (one grouped count, bounded by the longest
    //      doc); the cumulative window and everything after run on
    //      that collapsed domain — the q153 discipline. Exactness
    //      envelope — ASSERTED IN-PLAN (q145 pattern): cross-
    //      multiplied units need n_tr·n_te < 2⁶³ (~3·10⁹ docs per
    //      side) for d_num/argmax, and the tighter n_tr·n_te <
    //      2⁶³/10⁶ for the normalized ks_micro (its numerator is
    //      already < its denominator, so the q199 two-step split
    //      cannot widen it); the guard tests the tighter bound on the
    //      exact side counts (overflow-free via integer division) and
    //      fails loudly past it. A KS test is statistically saturated
    //      long before either bound, so the 100 TB route is a bounded
    //      per-split sample feeding this same plan — SWITCHED since
    //      round 10 (see [[KsDrift]]): the exact fold inside the
    //      regime, the deterministic stride sample past it. Argmax
    //      tie-break: smallest length achieving the max. ----
    Q(
      "q198_ks_split_drift",
      s"""WITH b AS (SELECT n_chars AS v, $SqlBucket AS bucket
        |  FROM documents),
        |f AS (SELECT v,
        |    CAST(count(CASE WHEN bucket < 8 THEN 1 END) AS BIGINT)
        |      AS f_tr,
        |    CAST(count(CASE WHEN bucket = 9 THEN 1 END) AS BIGINT)
        |      AS f_te
        |  FROM b WHERE bucket < 8 OR bucket = 9 GROUP BY 1),
        |n AS (SELECT CAST(coalesce(sum(f_tr), 0) AS BIGINT) AS n_tr,
        |    CAST(coalesce(sum(f_te), 0) AS BIGINT) AS n_te FROM f),
        |c AS (SELECT v,
        |    CAST(sum(f_tr) OVER (ORDER BY v) AS BIGINT) AS c_tr,
        |    CAST(sum(f_te) OVER (ORDER BY v) AS BIGINT) AS c_te
        |  FROM f),
        |d AS (SELECT c.v,
        |    abs(c.c_tr * n.n_te - c.c_te * n.n_tr) AS dnum FROM c, n),
        |m AS (SELECT CAST(max(dnum) AS BIGINT) AS d_num FROM d),
        |am AS (SELECT CAST(min(d.v) AS BIGINT) AS at_value
        |  FROM d, m WHERE d.dnum = m.d_num)
        |SELECT CAST(m.d_num * 1000000 // nullif(n.n_tr * n.n_te, 0)
        |    AS BIGINT) AS ks_micro,
        |  m.d_num, am.at_value, n.n_tr AS n_train, n.n_te AS n_test
        |FROM m, n, am""".stripMargin,
    ) { (s, d) => KsDrift.drift(Tables.documents(s, d)) },

    // ---- q202: per-decile quantile drift between the q50 train/test
    //      splits — q198's KS answers IF the split moved the length
    //      distribution; this answers WHERE: the nine decile order
    //      statistics of each side, paired, with their integer
    //      differences (n_chars is integral, so the whole query is
    //      exact integers end to end — no float quantile
    //      interpolation, which engines disagree on; rank convention
    //      k_d = (n−1)·d div 10 + 1 with a (value, doc_id) tie-broken
    //      total order, stated rather than inherited from any
    //      engine's percentile default). One side-keyed window rank;
    //      the 18-row (side, decile, k) probe table is pure arithmetic
    //      on the 2-row side counts and equi-joins the ranks — no
    //      re-shuffle of the corpus for the probes. An empty side
    //      emits no rows, identically in both engines. ----
    Q(
      "q202_quantile_drift",
      s"""WITH b AS (SELECT n_chars AS v, doc_id,
        |    $SqlBucket AS bucket FROM documents),
        |s AS (SELECT CASE WHEN bucket < 8 THEN 'train' ELSE 'test' END
        |      AS side, v, doc_id
        |  FROM b WHERE bucket < 8 OR bucket = 9),
        |r AS (SELECT side, v, row_number()
        |    OVER (PARTITION BY side ORDER BY v, doc_id) AS rn FROM s),
        |n AS (SELECT side, CAST(count(*) AS BIGINT) AS n
        |  FROM s GROUP BY 1),
        |g AS (SELECT CAST(d AS BIGINT) AS decile FROM (VALUES
        |    (1),(2),(3),(4),(5),(6),(7),(8),(9)) t(d)),
        |k AS (SELECT n.side, g.decile,
        |    (n.n - 1) * g.decile // 10 + 1 AS k FROM n, g),
        |q AS (SELECT k.side, k.decile, r.v
        |  FROM k JOIN r ON r.side = k.side AND r.rn = k.k)
        |SELECT tr.decile, CAST(tr.v AS BIGINT) AS q_train,
        |  CAST(te.v AS BIGINT) AS q_test,
        |  CAST(te.v - tr.v AS BIGINT) AS drift
        |FROM (SELECT decile, v FROM q WHERE side = 'train') tr
        |JOIN (SELECT decile, v FROM q WHERE side = 'test') te
        |  USING (decile)
        |ORDER BY decile""".stripMargin,
    ) { (spk, d) =>
      import org.apache.spark.sql.expressions.Window
      import spk.implicits._
      val s = graft.Caches.persist(Tables.documents(spk, d)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < 8 || col("bucket") === 9)
        .select(when(col("bucket") < 8, "train").otherwise("test")
          .as("side"), col("n_chars").as("v"), col("doc_id")))
      val r = s.withColumn("rn", row_number().over(
        Window.partitionBy("side").orderBy(col("v"), col("doc_id"))))
      val n = s.groupBy("side").agg(count(lit(1)).as("n"))
      val g = (1L to 9L).toDF("decile")
      val k = n.crossJoin(broadcast(g))
        .select(col("side").as("kside"), col("decile"),
          expr("(n - 1) * decile div 10 + 1").as("k"))
      val q = r.join(broadcast(k),
        col("side") === col("kside") && col("rn") === col("k"))
        .select(col("kside").as("qside"), col("decile"), col("v"))
      q.filter(col("qside") === "train")
        .select(col("decile"), col("v").as("q_train"))
        .join(q.filter(col("qside") === "test")
          .select(col("decile"), col("v").as("q_test")), "decile")
        .select(col("decile"), col("q_train"), col("q_test"),
          (col("q_test") - col("q_train")).cast("long").as("drift"))
        .orderBy("decile")
    },
  )
}

/** KS split-drift with a scale-aware route switch — the round-10
  * closure of the round-9 verdict item "implement, don't just guard,
  * the q198 envelope": past the cross-multiplied micro regime
  * (n_tr·n_te > 2⁶³/10⁶, ~3·10⁶ docs per side) the query now SWITCHES
  * to the documented bounded per-split sample instead of stopping at
  * the loud guard (which stays, for the exact route's own protection).
  *
  * Two routes through ONE fold ([[ksFold]] — grouped length-domain
  * counts → cumulative window on the collapsed domain → integer
  * cross-multiplied argmax):
  *
  *  - '''exact''': every split row. Identical to the round-9 plan.
  *  - '''sample''': a DETERMINISTIC per-split stride sample
  *    (`pmod(doc_id, stride) = 0`, stride = ⌈n_side/budget⌉ — never
  *    `rand()`, so runs/engines/retries agree) of ≤ ~[[SampleBudget]]
  *    rows per side feeds the same fold. With the default 2²⁰ budget
  *    the sampled product is ~2⁴⁰ ≪ 2⁶³/10⁶, so the guard passes by
  *    construction. The output's n_train/n_test report the SAMPLE
  *    sizes — the record says what was measured, never pretends the
  *    sample was the corpus. Statistical price (public literature,
  *    DKW inequality): a 2²⁰-row-per-side two-sample KS resolves
  *    distribution distance to ~±0.002 at 99% confidence — drift
  *    detection, which is the query's purpose, saturates far below
  *    the switch point.
  *
  * Equality contract (KsRouteSpec): with budget ≥ both side counts the
  * stride degenerates to 1 and the sample route IS the exact route —
  * pinned row-identical; the sub-budget sample is pinned deterministic
  * and direction-correct on a synthetic shifted split.
  *
  * Switch: [[drift]] counts the two sides (one aggregate over the
  * persisted split rows — a 1-row driver scalar) and takes the exact
  * route while n_tr·n_te fits the micro regime (overflow-free integer
  * test), the sample route past it. */
object KsDrift {
  import org.apache.spark.sql.DataFrame

  /** Per-split row budget of the sample route. */
  val SampleBudget: Long = 1L << 20

  /** The cross-multiplied micro regime both the guard and the
    * switch test: n_tr·n_te ≤ 2⁶³/10⁶. */
  val MicroBound: Long = Long.MaxValue / 1000000L

  /** Split rows: (doc_id, v = n_chars, is_tr) for the train (buckets
    * 0–7) and test (bucket 9) splits — q50's md5 bucketing. */
  def splitRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars").as("v"),
        Hygiene.bucket.as("bucket"))
      .filter(col("bucket") < 8 || col("bucket") === 9)
      .select(col("doc_id"), col("v"), (col("bucket") < 8).as("is_tr"))

  /** The KS fold both routes share: length-domain grouped counts, the
    * cumulative window on the collapsed domain (the q153 discipline —
    * bounded by the longest doc, never the corpus), and the integer
    * cross-multiplied statistic with its in-plan regime guard. */
  def ksFold(rows: DataFrame): DataFrame = {
    val f = graft.Caches.persist(rows.groupBy("v")
      .agg(count(when(col("is_tr"), 1)).as("f_tr"),
        count(when(!col("is_tr"), 1)).as("f_te")))
    val n = f.agg(
      coalesce(sum("f_tr"), lit(0L)).cast("long").as("n_tr"),
      coalesce(sum("f_te"), lit(0L)).cast("long").as("n_te"))
    val c = f.select(col("v"),
      sum("f_tr").over(Window.orderBy("v")).cast("long").as("c_tr"),
      sum("f_te").over(Window.orderBy("v")).cast("long").as("c_te"))
    val dd = graft.Caches.persist(c.crossJoin(broadcast(n))
      .select(col("v"),
        abs(col("c_tr") * col("n_te") - col("c_te") * col("n_tr"))
          .as("dnum")))
    val m = dd.agg(max("dnum").cast("long").as("d_num"))
    val am = dd.join(broadcast(m), col("dnum") === col("d_num"))
      .agg(min("v").cast("long").as("at_value"))
    m.crossJoin(broadcast(n)).crossJoin(broadcast(am))
      .select(
        graft.ScaleGuards.guarded(
          graft.ScaleGuards.productWithin("n_tr", "n_te", MicroBound),
          "q198: n_tr*n_te exceeds the cross-multiplied micro " +
            "regime - d_num*10^6 would overflow 2^63; KsDrift.drift " +
            "switches to a bounded per-split sample through this " +
            "same plan",
          expr("d_num * 1000000 div nullif(n_tr * n_te, 0)")
            .cast("long")).as("ks_micro"),
        col("d_num"), col("at_value"),
        col("n_tr").as("n_train"), col("n_te").as("n_test"))
  }

  /** Deterministic per-split stride sample: ≤ ~`budget` rows per side,
    * stride = ⌈n_side/budget⌉ over doc_id (id-stride — the
    * trainCentroids sampling discipline; doc ids carry no length
    * information, so the stride is unbiased for the v distribution).
    * A budget at or above both side counts degenerates to stride 1 =
    * the identity (the route-equality regime). */
  def sampled(rows: DataFrame, budget: Long = SampleBudget): DataFrame = {
    require(budget > 0, "sample budget must be positive")
    val cnt = rows.groupBy("is_tr").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    def strideOf(n: Long): Long = math.max(1L, (n + budget - 1L) / budget)
    val (sTr, sTe) =
      (strideOf(cnt.getOrElse(true, 0L)), strideOf(cnt.getOrElse(false, 0L)))
    rows.filter(
      (col("is_tr") && pmod(col("doc_id"), lit(sTr)) === 0) ||
        (!col("is_tr") && pmod(col("doc_id"), lit(sTe)) === 0))
  }

  /** q198's entry point: the exact fold while n_tr·n_te fits
    * [[MicroBound]], the stride sample through the same fold past
    * it. */
  def drift(docs: DataFrame): DataFrame = {
    val rows = graft.Caches.persist(splitRows(docs))
    val r = rows.agg(
      coalesce(sum(when(col("is_tr"), 1L)), lit(0L)).as("n_tr"),
      coalesce(sum(when(!col("is_tr"), 1L)), lit(0L)).as("n_te"))
      .head()
    val (nTr, nTe) = (r.getLong(0), r.getLong(1))
    // overflow-free a·b ≤ bound (the ScaleGuards.productWithin
    // identity, driver-side)
    val within = nTr == 0L || nTe == 0L || nTe <= MicroBound / nTr
    ksFold(if (within) rows else sampled(rows))
  }
}
