package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Optimizer-statistics operators — the sketches and histograms a
  * cost-based planner (or a 100 TB capacity review) derives from the
  * data to predict plan costs BEFORE running them: frequency moments
  * for join-size estimation, equi-width histograms for range-predicate
  * selectivity. Both are one-pass, mergeable, bounded-state
  * aggregations — the ANALYZE TABLE job shape — and both are audited
  * here against the exact answer in the same plan, because an
  * estimator you never validate is how 100 TB plans go 100× over
  * budget.
  */
object Stats {

  val qs: Seq[Q] = Seq(
    // ---- q145: frequency moments F0/F1/F2 over the lineitem→supplier
    //      FK — THE optimizer join statistic (Alon–Matias–Szegedy's
    //      moment problem): F2 = Σ f(k)² IS the self-equi-join
    //      cardinality on the key, the quantity a planner needs to
    //      cost any join through `l_suppkey`, and F2/F0 its skew
    //      signal. Computed from ONE Misra–Gries pass (k = 2^16) in
    //      its EXACTNESS regime — k exceeds the supplier count through
    //      sf1 (10^4), so no decrement ever fires and the sketch IS
    //      the exact frequency table (the q59/q81/q86 gate pattern).
    //      The regime is asserted loudly in-plan: Σ map-values must
    //      equal the row count (any MG decrement breaks that
    //      invariant), so a scale-up past the knob raises instead of
    //      silently under-counting (round-6 ADVICE discipline). The
    //      moment fold is a codegen'd HOF over the one-row map —
    //      never a second scan. ----
    Q(
      "q145_frequency_moments",
      """WITH c AS (SELECT l_suppkey, count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS selfjoin_pairs
        |FROM c""".stripMargin,
    ) { (s, d) =>
      val mg = udaf(new graft.functions.MisraGries(1 << 16),
        org.apache.spark.sql.Encoders.STRING)
      val guarded = when(
        assert_true(
          expr("aggregate(map_values(m), CAST(0 AS BIGINT), " +
            "(acc, v) -> acc + v)") === col("n_rows"),
          lit("q145 requires the Misra-Gries exactness regime: key " +
            "cardinality exceeded k=65536 and counts decremented - " +
            "raise k or switch to the CountMin estimate")).isNull,
        col("m"))
      Tables.lineitem(s, d)
        .select(col("l_suppkey").cast("string").as("k"))
        .agg(mg(col("k")).as("m"), count(lit(1)).as("n_rows"))
        .select(col("n_rows"), guarded.as("m"))
        .select(col("n_rows"),
          expr("CAST(cardinality(m) AS BIGINT)").as("n_keys"),
          expr("aggregate(map_values(m), CAST(0 AS BIGINT), " +
            "(acc, v) -> acc + v * v)").as("selfjoin_pairs"))
    },

    // ---- q146: histogram selectivity audit — build a 20-bucket
    //      equi-width histogram over o_totalprice (min/max from the
    //      data, the ANALYZE pass), then predict the row count of a
    //      range predicate by uniform-within-bucket interpolation and
    //      compare against the exact count IN THE SAME PLAN. Bucket
    //      assignment and the per-bucket fractional overlap are the
    //      same IEEE double ops in both engines (2-decimal inputs);
    //      each bucket's contribution is floored to integer
    //      MILLI-rows BEFORE the sum, so the final add is associative
    //      integer math — a double sum's partition-order
    //      nondeterminism can never move the estimate (the q119
    //      exactness discipline applied to an estimator). Three
    //      aggregations total (min/max scalar, bucket counts, exact
    //      count), each one shuffle of at most bucket cardinality;
    //      the min/max scalar rides a broadcast cross join (q15's
    //      pattern). ----
    Q(
      "q146_histogram_selectivity",
      """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |  FROM orders),
        |h AS (SELECT least(19, CAST(floor((o_totalprice - mm.mn)
        |      / ((mm.mx - mm.mn) / 20)) AS BIGINT)) AS b,
        |    count(*) AS cnt
        |  FROM orders, mm GROUP BY 1),
        |est AS (SELECT CAST(coalesce(sum(CAST(floor(1000 * cnt
        |      * (least(300000.0, mm.mn + (b + 1) * ((mm.mx - mm.mn) / 20))
        |        - greatest(150000.0, mm.mn + b * ((mm.mx - mm.mn) / 20)))
        |      / ((mm.mx - mm.mn) / 20)) AS BIGINT)), 0) // 1000
        |    AS BIGINT) AS est_rows
        |  FROM h, mm
        |  WHERE mm.mn + (b + 1) * ((mm.mx - mm.mn) / 20) > 150000.0
        |    AND mm.mn + b * ((mm.mx - mm.mn) / 20) < 300000.0),
        |act AS (SELECT count(*) AS actual_rows FROM orders
        |  WHERE o_totalprice >= 150000.0 AND o_totalprice < 300000.0)
        |SELECT est.est_rows, act.actual_rows,
        |  abs(est.est_rows - act.actual_rows) AS abs_err
        |FROM est, act""".stripMargin,
    ) { (s, d) =>
      val orders = Tables.orders(s, d)
      val mm = orders.agg(min("o_totalprice").as("mn"),
        max("o_totalprice").as("mx"))
      val lo = lit(150000.0)
      val hi = lit(300000.0)
      val w = (col("mx") - col("mn")) / 20
      val h = orders.crossJoin(broadcast(mm))
        .select(least(lit(19L),
          floor((col("o_totalprice") - col("mn")) / w).cast("long"))
          .as("b"))
        .groupBy("b").agg(count(lit(1)).as("cnt"))
      val est = h.crossJoin(broadcast(mm))
        .filter(col("mn") + (col("b") + 1) * w > lo &&
          col("mn") + col("b") * w < hi)
        .withColumn("milli", floor(lit(1000) * col("cnt") *
          (least(hi, col("mn") + (col("b") + 1) * w) -
            greatest(lo, col("mn") + col("b") * w)) / w).cast("long"))
        // coalesce(·, 0): a predicate overlapping NO histogram bucket
        // must estimate 0 rows, not NULL, in both engines (the q160
        // degenerate-input rule)
        .agg(expr("CAST(coalesce(sum(milli), 0) div 1000 AS BIGINT)")
          .as("est_rows"))
      val act = orders
        .filter(col("o_totalprice") >= lo && col("o_totalprice") < hi)
        .agg(count(lit(1)).as("actual_rows"))
      est.crossJoin(broadcast(act))
        .select(col("est_rows"), col("actual_rows"),
          abs(col("est_rows") - col("actual_rows")).as("abs_err"))
    },

    // ---- q153: equi-depth histogram — exact decile boundaries over
    //      l_quantity via the COLLAPSED value histogram: group by
    //      value first (the only corpus-sized shuffle, bounded by the
    //      value domain), then one cumulative window over the ≤
    //      |domain| distinct rows and a boundary probe per decile
    //      (smallest value whose cumulative count reaches ⌈i·n/10⌉ —
    //      q86's rank rule). This is the LOW-CARDINALITY exact route:
    //      the global window touches 50 rows here and |domain| rows
    //      ever, never the corpus; q86's compactor sketch is the
    //      open-domain route. The equi-depth complement of q146's
    //      equi-width build — depth adapts bucket width to density,
    //      which is why optimizers prefer it for skewed columns. ----
    Q(
      "q153_equidepth_histogram",
      """WITH vh AS (SELECT l_quantity AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT v, c,
        |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cc
        |  FROM vh),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vh),
        |t AS (SELECT i, CAST((i * n.n + 9) // 10 AS BIGINT) AS target
        |  FROM unnest(range(1, 11)) AS u(i), n)
        |SELECT CAST(t.i AS BIGINT) AS decile, min(cum.v) AS boundary,
        |  min(cum.cc) AS cum_rows
        |FROM t JOIN cum ON cum.cc >= t.target
        |GROUP BY t.i ORDER BY decile""".stripMargin,
    ) { (s, d) =>
      import s.implicits._
      val vh = graft.Caches.persist(Tables.lineitem(s, d)
        .groupBy(col("l_quantity").as("v"))
        .agg(count(lit(1)).as("c")))
      // global window over the COLLAPSED domain (|distinct values|
      // rows), not the corpus — the single-partition stage is bounded
      // by the value domain by construction
      val cum = vh.withColumn("cc",
        sum("c").over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = vh.agg(sum("c").as("n"))
      val t = (1 to 10).toDF("i").crossJoin(broadcast(n))
        .select(col("i"), expr("(i * n + 9) div 10").as("target"))
      broadcast(t).join(cum, col("cc") >= col("target"))
        .groupBy(col("i").cast("long").as("decile"))
        .agg(min("v").as("boundary"), min("cc").as("cum_rows"))
        .orderBy("decile")
    },

    // ---- q154: Neyman sample allocation — the survey-sampling
    //      design step (Neyman 1934): split a 1000-row sample budget
    //      across order-priority strata ∝ N_h·S_h, so high-variance
    //      strata get proportionally more of the budget than
    //      proportional allocation would give. Per-stratum variance
    //      is EXACT-decimal (q119's discipline: 2-decimal inputs cast
    //      to DECIMAL, n·Σx² − (Σx)² computed in exact integer-scaled
    //      arithmetic, ONE double conversion at the end — the oracle
    //      routes that cast through VARCHAR because the numerator
    //      exceeds 2^53); sqrt is IEEE-correctly-rounded in both
    //      engines, the stratum weight is floored to integer
    //      micro-units (q146's rule) and the final allocation is pure
    //      integer division. One grouped aggregation + one ≤|strata|-
    //      row broadcast total. ----
    Q(
      "q154_neyman_allocation",
      """WITH s AS (SELECT o_orderpriority AS stratum,
        |    CAST(count(*) AS BIGINT) AS nh,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |        AS DECIMAL(38,4)) * CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS sx2,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sx
        |  FROM orders GROUP BY 1),
        |v AS (SELECT stratum, nh,
        |    CAST(floor(1000000.0 * nh * sqrt(
        |      CAST(CAST((nh * sx2 - sx * sx) AS VARCHAR) AS DOUBLE)
        |        / (CAST(nh AS DOUBLE) * nh))) AS BIGINT) AS w
        |  FROM s),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM v)
        |SELECT stratum, nh, CAST(1000 * v.w // tw.tw AS BIGINT) AS alloc
        |FROM v, tw ORDER BY stratum""".stripMargin,
    ) { (s, d) =>
      val x = col("o_totalprice").cast("decimal(18,2)")
      val st = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("stratum"))
        .agg(count(lit(1)).as("nh"),
          sum(x.cast("decimal(38,4)") * x).as("sx2"),
          sum(x).as("sx"))
      val num = (col("nh") * col("sx2") - col("sx") * col("sx"))
      val v = graft.Caches.persist(st.select(col("stratum"), col("nh"),
        floor(lit(1000000.0) * col("nh") *
          sqrt(num.cast("double") /
            (col("nh").cast("double") * col("nh")))).cast("long").as("w")))
      val tw = v.agg(sum("w").as("tw"))
      v.crossJoin(broadcast(tw))
        .select(col("stratum"), col("nh"),
          expr("(1000 * w) div tw").as("alloc"))
        .orderBy("stratum")
    },

    // ---- q157: Benford first-digit audit — the classic synthetic /
    //      manipulated-data screen (Benford 1938; fraud-detection
    //      practice): compare the leading-digit distribution of
    //      o_totalprice against Benford's log law and report the
    //      per-digit deviation. Expected shares are INTEGER
    //      mille-rate literals (the law's constants — no runtime
    //      transcendentals), observed shares integer floor-division
    //      against a broadcast total, so the whole audit row is
    //      exact. First digit via bigint→string substr, never log10.
    //      One digit-keyed aggregation on a 9-value domain; the
    //      digits table is a 9-row literal join. (The flagged
    //      deviation here is real: uniform synthetic prices are NOT
    //      Benford — exactly what the audit exists to say.) ----
    Q(
      "q157_benford_audit",
      """WITH dg AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed
        |  FROM dg GROUP BY 1),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c),
        |b AS (SELECT * FROM (VALUES (1,301),(2,176),(3,125),(4,97),
        |    (5,79),(6,67),(7,58),(8,51),(9,46))
        |  AS t(digit, benford_milli))
        |SELECT b.digit, coalesce(c.observed, 0) AS observed,
        |  CAST(1000 * coalesce(c.observed, 0) // n.n AS BIGINT)
        |    AS obs_milli,
        |  CAST(b.benford_milli AS BIGINT) AS benford_milli,
        |  CAST(abs(1000 * coalesce(c.observed, 0) // n.n
        |    - b.benford_milli) AS BIGINT) AS dev_milli
        |FROM b LEFT JOIN c ON b.digit = c.digit, n
        |ORDER BY b.digit""".stripMargin,
    ) { (s, d) =>
      import s.implicits._
      val c = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
        .transform(graft.Caches.persist)
      val n = c.agg(sum("observed").as("n"))
      val b = Seq((1L, 301L), (2L, 176L), (3L, 125L), (4L, 97L),
        (5L, 79L), (6L, 67L), (7L, 58L), (8L, 51L), (9L, 46L))
        .toDF("digit", "benford_milli")
      b.join(c, Seq("digit"), "left").crossJoin(broadcast(n))
        .select(col("digit"), coalesce(col("observed"), lit(0L))
          .as("observed"),
          expr("(1000 * coalesce(observed, 0)) div n").as("obs_milli"),
          col("benford_milli"),
          abs(expr("(1000 * coalesce(observed, 0)) div n")
            - col("benford_milli")).as("dev_milli"))
        .orderBy("digit")
    },

    // ---- q159: Horvitz–Thompson estimation audit — reconstruct
    //      full-population row counts from a stratified md5-bucketed
    //      sample (per-stratum rates 20%/10%/10%/5%/5%) by inverse-
    //      probability weighting (est = n_sampled · 100/rate), and
    //      report the per-mille error against the exact census IN THE
    //      SAME PLAN — the "can we answer from the 5% sample" question
    //      every 100 TB telemetry pipeline asks before it pays for the
    //      full scan. Sampling is q50's engine-stable md5 bucketing
    //      (never rand(), so the oracle draws the identical sample);
    //      estimates and errors are pure integer floor arithmetic; the
    //      rate table is a ≤|strata|-row literal broadcast. ----
    Q(
      "q159_horvitz_thompson",
      """WITH pop AS (SELECT o_orderpriority AS stratum,
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))
        |      AS BIGINT) % 100 AS b
        |  FROM orders),
        |rates AS (SELECT * FROM (VALUES ('1-URGENT', 20), ('2-HIGH', 10),
        |    ('3-MEDIUM', 10), ('4-NOT SPECIFIED', 5), ('5-LOW', 5))
        |  AS t(stratum, pct)),
        |est AS (SELECT p.stratum,
        |    CAST(count(*) AS BIGINT) AS n_sampled,
        |    CAST(count(*) * 100 // min(r.pct) AS BIGINT) AS est_rows
        |  FROM pop p JOIN rates r ON p.stratum = r.stratum
        |  WHERE p.b < r.pct GROUP BY 1),
        |act AS (SELECT o_orderpriority AS stratum,
        |    CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM orders GROUP BY 1)
        |SELECT a.stratum, e.n_sampled, e.est_rows, a.actual_rows,
        |  CAST(abs(e.est_rows - a.actual_rows) * 1000 // a.actual_rows
        |    AS BIGINT) AS row_err_milli
        |FROM act a JOIN est e ON a.stratum = e.stratum
        |ORDER BY a.stratum""".stripMargin,
    ) { (s, d) =>
      import s.implicits._
      val rates = Seq(("1-URGENT", 20L), ("2-HIGH", 10L),
        ("3-MEDIUM", 10L), ("4-NOT SPECIFIED", 5L), ("5-LOW", 5L))
        .toDF("stratum", "pct")
      val pop = Tables.orders(s, d)
        .select(col("o_orderpriority").as("stratum"),
          (conv(substring(md5(col("o_orderkey").cast("string")), 1, 4),
            16, 10).cast("long") % 100).as("b"))
      val est = pop.join(broadcast(rates), "stratum")
        .filter(col("b") < col("pct"))
        .groupBy("stratum")
        .agg(count(lit(1)).as("n_sampled"),
          expr("count(1) * 100 div min(pct)").as("est_rows"))
      val act = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("stratum"))
        .agg(count(lit(1)).as("actual_rows"))
      act.join(est, "stratum")
        .select(col("stratum"), col("n_sampled"), col("est_rows"),
          col("actual_rows"),
          expr("abs(est_rows - actual_rows) * 1000 div actual_rows")
            .as("row_err_milli"))
        .orderBy("stratum")
    },

    // ---- q165: referential-integrity audit — orphan counts for all
    //      four star-schema FKs in one report (the constraint pass
    //      Spark cannot enforce declaratively, so the pipeline must
    //      PROVE it; q94 is the doc/vector twin). Each FK is one
    //      LEFT anti-style probe (left join + null count — keeps the
    //      child row count in the same pass) against the parent key
    //      projection: dims broadcast, the two lineitem probes share
    //      one scan via the persisted key projection. A deterministic
    //      "deletion" (every 97th customer, every 89th order) makes
    //      orphans OBSERVABLE — an audit that can only ever print
    //      zero tests nothing; the supplier FK stays intact as the
    //      clean-case control. ----
    Q(
      "q165_fk_audit",
      """WITH live_cust AS (SELECT c_custkey FROM customer
        |  WHERE c_custkey % 97 <> 3),
        |live_ord AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 89 <> 7),
        |li AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem),
        |fk1 AS (SELECT 'orders->customer' AS fk,
        |    CAST(count(*) AS BIGINT) AS child_rows,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS orphans
        |  FROM orders o LEFT JOIN live_cust c ON o.o_custkey = c.c_custkey),
        |fk2 AS (SELECT 'lineitem->orders',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN oo.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM li LEFT JOIN live_ord oo ON li.l_orderkey = oo.o_orderkey),
        |fk3 AS (SELECT 'lineitem->part',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM li LEFT JOIN part p ON li.l_partkey = p.p_partkey),
        |fk4 AS (SELECT 'lineitem->supplier',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN sp.s_suppkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM li LEFT JOIN supplier sp ON li.l_suppkey = sp.s_suppkey)
        |SELECT * FROM fk1 UNION ALL SELECT * FROM fk2
        |UNION ALL SELECT * FROM fk3 UNION ALL SELECT * FROM fk4
        |ORDER BY fk""".stripMargin,
    ) { (s, d) =>
      val li = graft.Caches.persist(Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey"))
      def audit(name: String, child: org.apache.spark.sql.DataFrame,
          childKey: String, parent: org.apache.spark.sql.DataFrame,
          parentKey: String) =
        child.join(broadcast(parent), col(childKey) === col(parentKey),
            "left")
          .agg(count(lit(1)).as("child_rows"),
            sum(when(col(parentKey).isNull, 1).otherwise(0))
              .as("orphans"))
          .select(lit(name).as("fk"), col("child_rows"), col("orphans"))
      audit("orders->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d)
            .filter(col("c_custkey") % 97 =!= 3).select("c_custkey"),
          "c_custkey")
        .unionAll(audit("lineitem->orders", li, "l_orderkey",
          Tables.orders(s, d).filter(col("o_orderkey") % 89 =!= 7)
            .select("o_orderkey"), "o_orderkey"))
        .unionAll(audit("lineitem->part", li, "l_partkey",
          Tables.part(s, d).select("p_partkey"), "p_partkey"))
        .unionAll(audit("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d).select("s_suppkey"), "s_suppkey"))
        .orderBy("fk")
    },

    // ---- q173: Wilson lower-bound ranking — rank groups by the
    //      LOWER confidence bound of their success rate, not the
    //      point estimate (Wilson 1927; the standard fix for "a 1/1
    //      group outranks a 950/1000 group" in rate leaderboards —
    //      data-selection pipelines rank sources by quality-pass
    //      rate with exactly this correction). One grouped count
    //      pass; the bound is a mirrored IEEE tree over (k, n) —
    //      int/int divisions, literal z = 1.96 kept as the written
    //      product 1.96·1.96 in BOTH engines (a pre-multiplied
    //      3.8416 literal would be a different double), sqrt
    //      correctly rounded per IEEE in both. ----
    Q(
      "q173_wilson_ranking",
      """WITH s AS (SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM orders GROUP BY 1)
        |SELECT grp, n, k, CAST(k AS DOUBLE) / n AS rate,
        |  (CAST(k AS DOUBLE) / n + (1.96 * 1.96) / (2 * n)
        |    - 1.96 * sqrt((CAST(k AS DOUBLE) / n
        |        * (1 - CAST(k AS DOUBLE) / n)
        |      + (1.96 * 1.96) / (4 * n)) / n))
        |    / (1 + (1.96 * 1.96) / n) AS wlb
        |FROM s ORDER BY wlb DESC, grp""".stripMargin,
    ) { (s, d) =>
      val st = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("k"))
      val p = col("k").cast("double") / col("n")
      val z2 = lit(1.96) * lit(1.96)
      val wlb = (p + z2 / (lit(2) * col("n")) -
        lit(1.96) * sqrt((p * (lit(1) - p) + z2 / (lit(4) * col("n")))
          / col("n"))) / (lit(1) + z2 / col("n"))
      st.select(col("grp"), col("n"), col("k"), p.as("rate"),
          wlb.as("wlb"))
        .orderBy(col("wlb").desc, col("grp"))
    },

    // ---- q175: Kendall rank correlation — agreement between two
    //      rankings of the same entities (here: sources by doc count
    //      vs by token mass — "do my two size metrics tell the same
    //      story"), the eval metric for comparing rankers without
    //      assuming score scales. Rankings are strict permutations
    //      (deterministic (metric desc, source) tie-breaks), tau-a =
    //      (C − D)/(n(n−1)/2) reduces to INTEGER concordant/
    //      discordant pair counts over the entity-pair join —
    //      entity-cardinality², never corpus-sized; emitted in
    //      mille-units by integer division. ----
    Q(
      "q175_rank_correlation",
      """WITH m AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source,
        |    row_number() OVER (ORDER BY n_docs DESC, source) AS r1,
        |    row_number() OVER (ORDER BY n_tok DESC, source) AS r2
        |  FROM m),
        |p AS (SELECT CAST(sum(CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(sum(CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        |    CAST(count(*) AS BIGINT) AS np
        |  FROM r a JOIN r b ON a.source < b.source)
        |SELECT conc, disc, np,
        |  CAST((1000 * (conc - disc)) // np AS BIGINT) AS tau_milli
        |FROM p""".stripMargin,
    ) { (s, d) =>
      val m = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tok"))
      // global windows over the SOURCE domain (entity cardinality)
      val r = graft.Caches.persist(m
        .withColumn("r1", row_number().over(
          Window.orderBy(col("n_docs").desc, col("source"))).cast("long"))
        .withColumn("r2", row_number().over(
          Window.orderBy(col("n_tok").desc, col("source"))).cast("long"))
        .select("source", "r1", "r2"))
      val sign = (col("ar1") - col("br1")) * (col("ar2") - col("br2"))
      r.toDF("sa", "ar1", "ar2")
        .join(r.toDF("sb", "br1", "br2"), col("sa") < col("sb"))
        .agg(sum(when(sign > 0, 1L).otherwise(0L)).as("conc"),
          sum(when(sign < 0, 1L).otherwise(0L)).as("disc"),
          count(lit(1)).as("np"))
        .select(col("conc"), col("disc"), col("np"),
          expr("(1000 * (conc - disc)) div np").as("tau_milli"))
    },

    // ---- q180: rank-biased overlap (Webber et al. TOIS'10, public
    //      literature) — q175's TOP-WEIGHTED complement: Kendall
    //      weighs every pair equally, RBO discounts agreement
    //      geometrically with depth, which is what search evaluation
    //      actually wants ("do the two rankings agree where users
    //      look"). Compared rankings: the two length proxies over
    //      documents (char count vs whitespace token count) — same
    //      entities, correlated but not identical, so every depth
    //      exercises the arithmetic. p = 1/2 makes each term
    //      A_d/(d·2^(d-1)) EXACTLY representable in integer
    //      pico-units with one floor per depth before the cumulative
    //      sum (the q146 per-cell-floor discipline) — no float ever
    //      enters. A_d (prefix-intersection size at depth d) comes
    //      from the entry-depth trick: a common doc enters both
    //      prefixes at max(ra, rb), so one ≤k² join + a 20-row
    //      band-join replaces 20 prefix intersections. Both rank
    //      legs are TakeOrdered(k) over one corpus scan each; rank
    //      windows and everything downstream touch k-row data. ----
    Q(
      "q180_rbo_agreement",
      """WITH la AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS ra
        |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20),
        |lb AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY nt DESC, doc_id) AS rb
        |  FROM (SELECT doc_id,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |    FROM documents)
        |  ORDER BY nt DESC, doc_id LIMIT 20),
        |common AS (SELECT greatest(a.ra, b.rb) AS entry_d
        |  FROM la a JOIN lb b ON a.doc_id = b.doc_id),
        |depths AS (SELECT unnest(range(1, 21)) AS d),
        |ov AS (SELECT d.d, CAST(count(c.entry_d) AS BIGINT) AS overlap
        |  FROM depths d LEFT JOIN common c ON c.entry_d <= d.d
        |  GROUP BY 1)
        |SELECT CAST(d AS INT) AS d, overlap,
        |  CAST(500000000000 * overlap // (d * (1 << (d - 1)))
        |    AS BIGINT) AS term_pico,
        |  CAST(sum(500000000000 * overlap // (d * (1 << (d - 1))))
        |    OVER (ORDER BY d) AS BIGINT) AS rbo_pico_cum
        |FROM ov ORDER BY d""".stripMargin,
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      val laTop = docs.select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
      val la = laTop.withColumn("ra", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("ra"))
      val lbTop = docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .orderBy(col("nt").desc, col("doc_id")).limit(20)
      val lb = lbTop.withColumn("rb", row_number().over(
          Window.orderBy(col("nt").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("b_doc_id"), col("rb"))
      val common = la.join(lb, col("doc_id") === col("b_doc_id"))
        .select(greatest(col("ra"), col("rb")).as("entry_d"))
      val depths = s.range(1, 21).select(col("id").as("d"))
      depths.join(broadcast(common), col("entry_d") <= col("d"), "left")
        .groupBy("d").agg(count(col("entry_d")).as("overlap"))
        .select(col("d").cast("int").as("d"), col("overlap"),
          expr("CAST(500000000000 * overlap div " +
            "(d * shiftleft(1, CAST(d - 1 AS INT))) AS BIGINT)")
            .as("term_pico"))
        .withColumn("rbo_pico_cum",
          sum("term_pico").over(Window.orderBy("d")).cast("long"))
        .orderBy("d")
    },

    // ---- q182: ROC-AUC by the rank statistic — the threshold-free
    //      power of a scalar signal to separate a binary class
    //      (Mann–Whitney U ≡ area under the ROC curve; Hanley &
    //      McNeil 1982): does document LENGTH separate English from
    //      the rest — the eval primitive for any data-selection
    //      classifier. Integer-exact: collapse to the per-VALUE
    //      (pos, neg) histogram (the corpus-sized shuffle; output is
    //      the value DOMAIN — q153's exact route), concordant pairs
    //      Σ pos_v · (negatives strictly below v) ride ONE cumulative
    //      window over that domain, ties take the standard half
    //      credit (2·conc + tied, halved inside the micro division).
    //      Magnitude regime: the pair sums and the scaled numerator
    //      ride DECIMAL(38,0) ([[Auc]], the q136 discipline), so the
    //      arithmetic is exact until n_pos·n_neg ≈ 6.6·10^31; the
    //      in-plan guard (q145 pattern) sits at the conc/tied OUTPUT
    //      columns' own BIGINT bound, n_pos·n_neg ≤ 2^63−1 (~3·10^9
    //      docs per class). ----
    Q(
      "q182_auc_rank",
      """WITH s AS (SELECT n_chars AS v,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nn
        |  FROM documents GROUP BY 1),
        |c AS (SELECT v, np, nn,
        |    CAST(coalesce(sum(nn) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_neg
        |  FROM s)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * cum_neg) AS BIGINT) AS conc,
        |  CAST(sum(np * nn) AS BIGINT) AS tied,
        |  CAST((2 * sum(np * cum_neg) + sum(np * nn)) * 500000
        |    // nullif(sum(np) * sum(nn), 0) AS BIGINT) AS auc_micro
        |FROM c""".stripMargin,
    ) { (s, d) => Auc.auc(Tables.documents(s, d)) },

    // ---- q183: gate agreement — Cohen's kappa + McNemar for two
    //      quality gates over the same corpus (Cohen 1960; McNemar
    //      1947): when a pipeline swaps gate A (char length) for gate
    //      B (token count), kappa says how interchangeable they are
    //      beyond chance and McNemar whether their DISAGREEMENTS are
    //      symmetric (b ≈ c) or one gate is systematically stricter.
    //      ONE map-only pass folds to the 2×2 table; kappa = exact
    //      integer numerator/denominator with ONE IEEE division
    //      (inputs < 2^53 — the registry float policy), McNemar's
    //      χ² = (b−c)²/(b+c) in integer micro-units (nonnegative, so
    //      `div` and `//` agree). ----
    Q(
      "q183_gate_agreement",
      """WITH g AS (SELECT
        |    CASE WHEN n_chars >= 306 THEN 1 ELSE 0 END AS ga,
        |    CASE WHEN len(string_split(text, ' ')) >= 56 THEN 1
        |      ELSE 0 END AS gb
        |  FROM documents),
        |t AS (SELECT CAST(sum(ga * gb) AS BIGINT) AS a,
        |    CAST(sum(ga * (1 - gb)) AS BIGINT) AS b,
        |    CAST(sum((1 - ga) * gb) AS BIGINT) AS c,
        |    CAST(sum((1 - ga) * (1 - gb)) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM g)
        |SELECT a, b, c, d, n,
        |  CAST(n * (a + d) - ((a+b) * (a+c) + (c+d) * (b+d))
        |      AS DOUBLE)
        |    / (n * n - ((a+b) * (a+c) + (c+d) * (b+d))) AS kappa,
        |  CAST((1000000 * (b - c) * (b - c)) // (b + c) AS BIGINT)
        |    AS mcnemar_micro
        |FROM t""".stripMargin,
    ) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(
          when(col("n_chars") >= 306, 1L).otherwise(0L).as("ga"),
          when(size(split(col("text"), " ")) >= 56, 1L).otherwise(0L)
            .as("gb"))
        .agg(sum(col("ga") * col("gb")).as("a"),
          sum(col("ga") * (lit(1) - col("gb"))).as("b"),
          sum((lit(1) - col("ga")) * col("gb")).as("c"),
          sum((lit(1) - col("ga")) * (lit(1) - col("gb"))).as("d"),
          count(lit(1)).as("n"))
      val e = (col("a") + col("b")) * (col("a") + col("c")) +
        (col("c") + col("d")) * (col("b") + col("d"))
      t.select(col("a"), col("b"), col("c"), col("d"), col("n"),
        ((col("n") * (col("a") + col("d")) - e).cast("double") /
          (col("n") * col("n") - e)).as("kappa"),
        expr("(1000000 * (b - c) * (b - c)) div (b + c)")
          .cast("long").as("mcnemar_micro"))
    },

    // ---- q184: discrete hazard curve — Kaplan–Meier's life table
    //      over user lifetimes (first→last active day): at-risk(d) =
    //      users surviving ≥ d days, deaths(d) = lifetimes ending AT
    //      d, hazard(d) = deaths/at-risk — the churn-analysis
    //      primitive (q89's cohort triangle shows WHO returns; this
    //      shows WHEN engagement ends). The corpus-sized work is one
    //      user-keyed groupBy; lifetimes collapse to a day-domain
    //      histogram and at-risk is ONE cumulative-from-above window
    //      on that domain (≤ observation-span rows). Survival
    //      S(d) = Π(1−h) is deliberately NOT emitted: a cumulative
    //      float product is order-dependent — the hazard table is
    //      the exact primitive, hazard_milli one integer division
    //      per row. ----
    Q(
      "q184_hazard_curve",
      """WITH u AS (SELECT user_id,
        |    date_diff('day', CAST(min(ts) AS DATE),
        |      CAST(max(ts) AS DATE)) AS life
        |  FROM events GROUP BY 1),
        |h AS (SELECT life, CAST(count(*) AS BIGINT) AS deaths
        |  FROM u GROUP BY 1),
        |c AS (SELECT life, deaths,
        |    CAST(sum(deaths) OVER (ORDER BY life DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS at_risk
        |  FROM h)
        |SELECT CAST(life AS BIGINT) AS life_days, deaths, at_risk,
        |  CAST((1000 * deaths) // at_risk AS BIGINT) AS hazard_milli
        |FROM c ORDER BY life_days""".stripMargin,
    ) { (s, d) =>
      val hist = Tables.events(s, d)
        .groupBy("user_id")
        .agg(datediff(max(col("ts")).cast("date"),
          min(col("ts")).cast("date")).as("life"))
        .groupBy("life").agg(count(lit(1)).as("deaths"))
      val w = Window.orderBy(col("life").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("at_risk", sum("deaths").over(w))
        .select(col("life").cast("long").as("life_days"),
          col("deaths"), col("at_risk"),
          expr("(1000 * deaths) div at_risk").cast("long")
            .as("hazard_milli"))
        .orderBy("life_days")
    },

    // ---- q185: variance explained by a binary segmentation — eta²
    //      for purchase-vs-rest on event value (the feature-usefulness
    //      screen: does splitting on this flag explain any of the
    //      value variance?). Two groups give eta² a closed integer
    //      form: eta² = Δ² / (n1·n0·(N·S2 − S1²)) with
    //      Δ = s1·n0 − s0·n1 over CENTI-quantized values (quantize
    //      FIRST — q48/q91's discipline — so every moment is an exact
    //      integer; a raw double Σx² is partition-order-dependent).
    //      Both sides of the single IEEE division are exact
    //      DECIMAL(38,0) (Δ² overflows BIGINT), cast to double once —
    //      correctly rounded in both engines, the q136 route
    //      (oracle casts through VARCHAR past 2^53). One grouped
    //      aggregate; everything after runs on 2 rows. ----
    Q(
      "q185_eta_squared",
      """WITH q AS (SELECT
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |m AS (SELECT
        |    CAST(sum(g) AS BIGINT) AS n1,
        |    CAST(sum(1 - g) AS BIGINT) AS n0,
        |    CAST(sum(g * vq) AS HUGEINT) AS s1,
        |    CAST(sum((1 - g) * vq) AS HUGEINT) AS s0,
        |    CAST(sum(vq * vq) AS HUGEINT) AS s2
        |  FROM q)
        |SELECT n1, n0,
        |  CAST(CAST((s1 * n0 - s0 * n1) * (s1 * n0 - s0 * n1)
        |    AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(n1 AS HUGEINT) * n0
        |      * ((n1 + n0) * s2 - (s1 + s0) * (s1 + s0))
        |    AS VARCHAR) AS DOUBLE) AS eta_sq
        |FROM m""".stripMargin,
    ) { (s, d) =>
      val q = Tables.events(s, d).select(
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("g"),
        floor(col("value") * 100).cast("long").as("vq"))
      val m = q.agg(sum("g").as("n1"),
        sum(lit(1L) - col("g")).as("n0"),
        sum((col("g") * col("vq")).cast("decimal(38,0)")).as("s1"),
        sum(((lit(1L) - col("g")) * col("vq")).cast("decimal(38,0)"))
          .as("s0"),
        sum(col("vq").cast("decimal(38,0)") * col("vq")).as("s2"))
      val delta = col("s1") * col("n0") - col("s0") * col("n1")
      val denom = col("n1").cast("decimal(38,0)") * col("n0") *
        ((col("n1") + col("n0")) * col("s2") -
          (col("s1") + col("s0")) * (col("s1") + col("s0")))
      m.select(col("n1").cast("long").as("n1"),
        col("n0").cast("long").as("n0"),
        ((delta * delta).cast("double") / denom.cast("double"))
          .as("eta_sq"))
    },

    // ---- q186: Cramér's V — two-way independence of event type ×
    //      weekday (is the event mix a function of the day?), the
    //      association strength behind q162's one-way drift test.
    //      χ² per cell in integer micro-units (per-cell floor before
    //      the sum — q146/q162's associativity rule; expected =
    //      row·col/n, one double product/division of exact integers,
    //      the q162 precedent), V² = χ²/(n·(min(r,c)−1)) by integer
    //      division with r, c counted in-plan. The corpus folds to
    //      the (type, dow) contingency table in ONE partial-aggregated
    //      pass; everything after runs on ≤ |types|·7 rows. ----
    Q(
      "q186_cramers_v",
      """WITH c AS (SELECT event_type, extract(dow FROM ts) AS dw,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nr
        |  FROM c GROUP BY 1),
        |ct AS (SELECT dw, CAST(sum(n) AS BIGINT) AS nc
        |  FROM c GROUP BY 1),
        |all_ AS (SELECT CAST(sum(n) AS BIGINT) AS na,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS r,
        |    CAST(count(DISTINCT dw) AS BIGINT) AS cc FROM c),
        |chi AS (SELECT CAST(sum(CAST(floor(1000000
        |      * (c.n - CAST(rt.nr AS DOUBLE) * ct.nc / a.na)
        |      * (c.n - CAST(rt.nr AS DOUBLE) * ct.nc / a.na)
        |      / (CAST(rt.nr AS DOUBLE) * ct.nc / a.na)) AS BIGINT))
        |    AS BIGINT) AS chi2_micro
        |  FROM c JOIN rt USING (event_type) JOIN ct USING (dw),
        |    all_ a)
        |SELECT chi.chi2_micro, a.na AS n,
        |  CAST(chi.chi2_micro
        |    // (a.na * (CASE WHEN a.r < a.cc THEN a.r ELSE a.cc END
        |        - 1)) AS BIGINT) AS v_sq_micro
        |FROM chi, all_ a""".stripMargin,
    ) { (s, d) =>
      val c = graft.Caches.persist(Tables.events(s, d)
        .select(col("event_type"),
          (dayofweek(col("ts")) - 1).cast("long").as("dw"))
        .groupBy("event_type", "dw").agg(count(lit(1)).as("n")))
      val rt = c.groupBy("event_type").agg(sum("n").as("nr"))
      val ct = c.groupBy("dw").agg(sum("n").as("nc"))
      val a = c.agg(sum("n").as("na"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("dw")).as("cc"))
      val exp0 = col("nr").cast("double") * col("nc") / col("na")
      val chi = c.join(broadcast(rt), "event_type")
        .join(broadcast(ct), "dw").crossJoin(broadcast(a))
        .withColumn("cell_micro",
          floor(lit(1000000) * (col("n") - exp0) * (col("n") - exp0)
            / exp0).cast("long"))
        .agg(sum("cell_micro").as("chi2_micro"))
      chi.crossJoin(broadcast(a))
        .select(col("chi2_micro"), col("na").as("n"),
          expr("chi2_micro div (na * (CASE WHEN r < cc THEN r " +
            "ELSE cc END - 1))").cast("long").as("v_sq_micro"))
    },

    // ---- q190: expected calibration error — the reliability diagram
    //      (Guo et al. ICML'17's ECE; public literature) for a scalar
    //      classifier: does a score of 0.8 mean "right 80% of the
    //      time"? The classifier under audit is a deliberately rough
    //      English-ness score (q34's stopword rate, ×8 squashed into
    //      [0,1] micro-units) against the lang='en' label — the
    //      operator is the calibration MATH, the fixture classifier is
    //      what it exposes (q182 measures discrimination of a signal;
    //      this measures honesty). One tokenize pass folds to per-doc
    //      (conf, label); the corpus then collapses to a 10-bin domain
    //      (equal-width over confidence) carrying count, mean
    //      confidence, and accuracy, all integer micro-units with one
    //      floor per bin (q146 discipline); ECE = the count-weighted
    //      mean |acc − conf| gap, an integer scalar broadcast back
    //      onto the 10 rows. Scale: map-only until the 10-row bin
    //      domain — the ANALYZE-job shape. ----
    Q(
      "q190_ece_calibration",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |ag AS (SELECT doc_id, count(*) AS nt,
        |    sum(CASE WHEN w IN ('the','a') THEN 1 ELSE 0 END) AS stop
        |  FROM toks GROUP BY doc_id),
        |sc AS (SELECT a.doc_id,
        |    least(1000000, (a.stop * 8000000) // a.nt) AS conf_micro,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM ag a JOIN documents d USING (doc_id)),
        |b AS (SELECT least(9, conf_micro // 100000) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(conf_micro) AS BIGINT) AS sum_conf,
        |    CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM sc GROUP BY 1),
        |g AS (SELECT bin, n_docs,
        |    sum_conf // n_docs AS avg_conf_micro,
        |    (n_pos * 1000000) // n_docs AS acc_micro
        |  FROM b),
        |e AS (SELECT CAST(sum(n_docs * abs(avg_conf_micro - acc_micro))
        |      // sum(n_docs) AS BIGINT) AS ece_micro FROM g)
        |SELECT CAST(g.bin AS BIGINT) AS bin, g.n_docs,
        |  CAST(g.avg_conf_micro AS BIGINT) AS avg_conf_micro,
        |  CAST(g.acc_micro AS BIGINT) AS acc_micro,
        |  CAST(abs(g.avg_conf_micro - g.acc_micro) AS BIGINT) AS gap_micro,
        |  e.ece_micro
        |FROM g, e ORDER BY bin""".stripMargin,
    ) { (s, d) =>
      val ag = graft.llmdata.Text.tokens(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nt"),
          sum(when(col("w").isin("the", "a"), 1).otherwise(0)).as("stop"))
      val sc = ag.join(Tables.documents(s, d).select("doc_id", "lang"),
          "doc_id")
        .select(
          least(lit(1000000L), expr("(stop * 8000000) div nt"))
            .as("conf_micro"),
          when(col("lang") === "en", 1).otherwise(0).as("pos"))
      // persisted: the 10-row bin fold feeds the ECE aggregate AND the
      // output — without it the tokenize+join pipeline runs twice
      val g = graft.Caches.persist(sc
        .groupBy(least(lit(9L), expr("conf_micro div 100000")).as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum("conf_micro").as("sum_conf"),
          sum("pos").as("n_pos"))
        .select(col("bin").cast("long"), col("n_docs"),
          expr("sum_conf div n_docs").cast("long").as("avg_conf_micro"),
          expr("(n_pos * 1000000) div n_docs").cast("long").as("acc_micro")))
      val e = g.agg(
        expr("sum(n_docs * abs(avg_conf_micro - acc_micro)) " +
          "div sum(n_docs)").cast("long").as("ece_micro"))
      g.withColumn("gap_micro", abs(col("avg_conf_micro") - col("acc_micro")))
        .crossJoin(broadcast(e))
        .orderBy("bin")
    },

    // ---- q191: Fleiss' kappa — multi-rater agreement (Fleiss 1971;
    //      public literature), q183's generalization past two raters:
    //      do three quality gates (length ≥ 100 tokens, TTR ≥ 0.45,
    //      stopword rate ≤ 0.12 — q34's thresholds as integer cross-
    //      multiplications) agree beyond what their marginal pass
    //      rates force? One tokenize pass → per-doc pass count
    //      k ∈ {0..3}; P̄_o folds k(k−1)+(3−k)(2−k) over 3·2; P_e from
    //      the pooled pass share. All moments exact BIGINT (regime:
    //      18n²·10⁶ < 2⁶³ ⇔ n ≲ 7·10⁵ docs — past that, the q136
    //      DECIMAL(38)/VARCHAR route); kappa itself is ONE IEEE
    //      division of identical integer operands (negative-value
    //      safe — integer `div`/`//` disagree on negatives across
    //      engines, so a worse-than-chance kappa must never route
    //      through integer division). ----
    Q(
      "q191_fleiss_kappa",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |ag AS (SELECT doc_id, count(*) AS nt, count(DISTINCT w) AS nd,
        |    sum(CASE WHEN w IN ('the','a') THEN 1 ELSE 0 END) AS stop
        |  FROM toks GROUP BY doc_id),
        |r AS (SELECT doc_id,
        |    (CASE WHEN nt >= 100 THEN 1 ELSE 0 END) +
        |    (CASE WHEN nd * 100 >= 45 * nt THEN 1 ELSE 0 END) +
        |    (CASE WHEN stop * 100 <= 12 * nt THEN 1 ELSE 0 END) AS k
        |  FROM ag),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(k) AS BIGINT) AS s,
        |    CAST(sum(k * (k - 1) + (3 - k) * (2 - k)) AS BIGINT) AS po_num
        |  FROM r)
        |SELECT n AS n_docs, s AS n_pass_ratings,
        |  CAST((po_num * 1000000) // (6 * n) AS BIGINT) AS p_o_micro,
        |  CAST(((s * s + (3 * n - s) * (3 * n - s)) * 1000000)
        |    // (9 * n * n) AS BIGINT) AS p_e_micro,
        |  CAST(((po_num * 1000000) // (6 * n)) -
        |    (((s * s + (3 * n - s) * (3 * n - s)) * 1000000)
        |      // (9 * n * n)) AS DOUBLE) /
        |    (1000000 - (((s * s + (3 * n - s) * (3 * n - s)) * 1000000)
        |      // (9 * n * n))) AS kappa
        |FROM t""".stripMargin,
    ) { (s, d) =>
      val ag = graft.llmdata.Text.tokens(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nt"), countDistinct("w").as("nd"),
          sum(when(col("w").isin("the", "a"), 1).otherwise(0)).as("stop"))
      val t = ag
        .select((when(col("nt") >= 100, 1).otherwise(0) +
          when(col("nd") * 100 >= col("nt") * 45, 1).otherwise(0) +
          when(col("stop") * 100 <= col("nt") * 12, 1).otherwise(0)).as("k"))
        .agg(count(lit(1)).as("n"), sum("k").as("s"),
          sum(expr("k * (k - 1) + (3 - k) * (2 - k)")).as("po_num"))
      t.select(col("n").as("n_docs"), col("s").as("n_pass_ratings"),
          expr("(po_num * 1000000) div (6 * n)").cast("long")
            .as("p_o_micro"),
          expr("((s * s + (3 * n - s) * (3 * n - s)) * 1000000) " +
            "div (9 * n * n)").cast("long").as("p_e_micro"))
        .withColumn("kappa",
          (col("p_o_micro") - col("p_e_micro")).cast("double") /
            (lit(1000000L) - col("p_e_micro")))
    },

    // ---- q195: join-size estimation audit — q146's selectivity
    //      discipline lifted to TWO tables: estimate
    //      |events ⋈ orders ON user_id = o_custkey| (both sides
    //      multi-row per key — a genuine m:n join) from 16 equi-width
    //      key-range buckets per side under the per-bucket containment
    //      assumption est_b = n_A·n_B / max(d_A, d_B), and audit it
    //      against the EXACT size Σ_k f_A(k)·f_B(k) — computed from the
    //      two per-key count tables joined on key, never by expanding
    //      the join (the count-then-join shape that makes the exact
    //      answer as cheap as the estimate at any scale). Bucketing is
    //      pure integer ((k−mn)·16 div span — no float width), one
    //      floor per bucket (q146 rule); the estimator a planner would
    //      consult before choosing the join strategy, validated in the
    //      same plan because an unvalidated estimator is how 100 TB
    //      joins go 100× over budget. The ratio uses the q199
    //      two-step micro split (exact for any est while actual ≤
    //      2⁶³/10⁶ — est is a corpus-scale join size). ----
    Q(
      "q195_join_size_estimate",
      """WITH ek AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS f
        |  FROM events GROUP BY 1),
        |ok AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS f
        |  FROM orders GROUP BY 1),
        |mm AS (SELECT min(k) AS mn, max(k) AS mx FROM
        |  (SELECT k FROM ek UNION ALL SELECT k FROM ok)),
        |eb AS (SELECT (k - mm.mn) * 16 // (mm.mx - mm.mn + 1) AS b,
        |    CAST(sum(f) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d
        |  FROM ek, mm GROUP BY 1),
        |ob AS (SELECT (k - mm.mn) * 16 // (mm.mx - mm.mn + 1) AS b,
        |    CAST(sum(f) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d
        |  FROM ok, mm GROUP BY 1),
        |est AS (SELECT CAST(coalesce(sum(e.n * o.n //
        |      (CASE WHEN e.d > o.d THEN e.d ELSE o.d END)), 0)
        |    AS BIGINT) AS est_rows
        |  FROM eb e JOIN ob o ON e.b = o.b),
        |act AS (SELECT CAST(coalesce(sum(e.f * o.f), 0) AS BIGINT)
        |    AS actual_rows
        |  FROM ek e JOIN ok o ON e.k = o.k)
        |SELECT est.est_rows, act.actual_rows,
        |  abs(est.est_rows - act.actual_rows) AS abs_err,
        |  CAST(est.est_rows // nullif(act.actual_rows, 0) * 1000000
        |    + est.est_rows % nullif(act.actual_rows, 0) * 1000000
        |      // nullif(act.actual_rows, 0)
        |    AS BIGINT) AS est_ratio_micro
        |FROM est, act""".stripMargin,
    ) { (s, d) =>
      val ek = graft.Caches.persist(Tables.events(s, d)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("f")))
      val ok = graft.Caches.persist(Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("f")))
      val mm = ek.select("k").unionAll(ok.select("k"))
        .agg(min("k").as("mn"), max("k").as("mx"))
      def bucketed(t: org.apache.spark.sql.DataFrame) =
        t.crossJoin(broadcast(mm))
          .groupBy(expr("(k - mn) * 16 div (mx - mn + 1)").as("b"))
          .agg(sum("f").as("n"), count(lit(1)).as("d"))
      val est = bucketed(ek).as("e")
        .join(bucketed(ok).as("o"), "b")
        .agg(coalesce(sum(expr(
          "e.n * o.n div (CASE WHEN e.d > o.d THEN e.d ELSE o.d END)")),
          lit(0L)).cast("long").as("est_rows"))
      val act = ek.as("e").join(ok.as("o"), "k")
        .agg(coalesce(sum(expr("e.f * o.f")), lit(0L)).cast("long")
          .as("actual_rows"))
      est.crossJoin(broadcast(act))
        .select(col("est_rows"), col("actual_rows"),
          abs(col("est_rows") - col("actual_rows")).as("abs_err"),
          expr("est_rows div nullif(actual_rows, 0) * 1000000 + " +
            "est_rows % nullif(actual_rows, 0) * 1000000 " +
            "div nullif(actual_rows, 0)")
            .cast("long").as("est_ratio_micro"))
    },

    // ---- q196: Poisson-bootstrap confidence interval — the
    //      distributed bootstrap (each row draws an independent
    //      Poisson(1) replication weight per replica, so no replica
    //      ever needs a global resample pass — the shape production
    //      systems use because the classical bootstrap's sample-with-
    //      replacement is inherently serial). 32 replicas of the mean
    //      tokens-per-doc statistic; weights are md5-derived (q50's
    //      engine-stable discipline — never rand()) through the exact
    //      Poisson(1) inverse CDF in micro units (cumulative
    //      probabilities as integer literals, tail capped at 8). CI =
    //      the rank-1 / rank-31 replica means (floor-rank 2.5%/97.5%
    //      convention, deterministic (mean, replica) tie-break). One
    //      corpus pass × 32 map-side — partial aggregation collapses
    //      to 32 rows before any shuffle. The md5-uniform is 24 bits
    //      mod 10^6 (≈4.6% step bias at the cut — fine for replica
    //      weights, documented rather than hidden). Oracle joins the
    //      rank-1/rank-31 rows as derived TABLES, not scalar
    //      subqueries: on an empty corpus both engines then emit 0
    //      rows (a scalar subquery would emit a NULL row in DuckDB
    //      while the plan's crossJoin of an empty broadcast emits
    //      none — the q160/q146 degenerate-input rule). Replica and
    //      point means use the two-step micro split (q199): the
    //      numerators are corpus-scale token sums, so the plain
    //      product form would overflow at ~9·10¹² weighted tokens —
    //      well inside a 100 TB corpus. ----
    Q(
      "q196_bootstrap_ci",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT b.b, t.n_tok,
        |    CAST(('0x'||substr(md5(CAST(t.doc_id AS VARCHAR)||'#'||
        |      CAST(b.b AS VARCHAR)),1,6)) AS BIGINT) % 1000000 AS u
        |  FROM t, (SELECT unnest(range(0,32)) AS b) b),
        |w AS (SELECT b, n_tok,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |      WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
        |      WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
        |      ELSE 8 END AS wt
        |  FROM r),
        |m AS (SELECT b,
        |    CAST(sum(wt * n_tok) // sum(wt) * 1000000
        |      + sum(wt * n_tok) % sum(wt) * 1000000 // sum(wt)
        |      AS BIGINT) AS mean_micro
        |  FROM w GROUP BY b HAVING sum(wt) > 0),
        |o AS (SELECT mean_micro,
        |    row_number() OVER (ORDER BY mean_micro, b) AS rn FROM m),
        |pt AS (SELECT CAST(sum(n_tok) // nullif(count(*), 0) * 1000000
        |    + sum(n_tok) % nullif(count(*), 0) * 1000000
        |      // nullif(count(*), 0) AS BIGINT)
        |    AS point_micro FROM t)
        |SELECT pt.point_micro, lo.lo_micro, hi.hi_micro,
        |  CAST(32 AS BIGINT) AS n_replicas
        |FROM pt,
        |  (SELECT mean_micro AS lo_micro FROM o WHERE rn = 1) lo,
        |  (SELECT mean_micro AS hi_micro FROM o WHERE rn = 31) hi""".stripMargin,
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val r = t.select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .withColumn("u",
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit("#"), col("b").cast("string"))), 1, 6), 16, 10)
            .cast("long") % 1000000)
      val w = r.withColumn("wt",
        when(col("u") < 367879, 0L).when(col("u") < 735759, 1L)
          .when(col("u") < 919699, 2L).when(col("u") < 981012, 3L)
          .when(col("u") < 996340, 4L).when(col("u") < 999406, 5L)
          .when(col("u") < 999917, 6L).when(col("u") < 999990, 7L)
          .otherwise(8L))
      // HAVING sum(wt) > 0: on a 1-3 doc corpus a replica can draw
      // all-zero weights (P = e^-n per replica); its NULL mean would
      // rank NULLS FIRST in Spark but NULLS LAST in DuckDB — the
      // ordering divergence is excluded rather than special-cased
      val m = graft.Caches.persist(w.groupBy("b")
        .agg(expr("sum(wt * n_tok) div sum(wt) * 1000000 + " +
          "sum(wt * n_tok) % sum(wt) * 1000000 div sum(wt)").cast("long")
          .as("mean_micro"),
          sum("wt").as("swt"))
        .filter(col("swt") > 0).select("b", "mean_micro"))
      // 32-row replica domain: the unpartitioned window is metadata-sized
      val o = m.withColumn("rn",
        row_number().over(Window.orderBy(col("mean_micro"), col("b"))))
      val pt = t.agg(expr(
        "sum(n_tok) div nullif(count(*), 0) * 1000000 + " +
        "sum(n_tok) % nullif(count(*), 0) * 1000000 " +
        "div nullif(count(*), 0)").cast("long").as("point_micro"))
      pt.crossJoin(broadcast(
          o.filter(col("rn") === 1).select(col("mean_micro").as("lo_micro"))))
        .crossJoin(broadcast(
          o.filter(col("rn") === 31).select(col("mean_micro").as("hi_micro"))))
        .select(col("point_micro"), col("lo_micro"), col("hi_micro"),
          lit(32L).as("n_replicas"))
    },

    // ---- q199: leave-one-source-out influence — the data-ablation
    //      primitive: for each source, the corpus mean doc length with
    //      that source REMOVED, and its delta from the full mean. The
    //      question a curation run asks before dropping or downweighting
    //      a source ("which source is dragging the metric, and by how
    //      much"), answered without G re-aggregations: one grouped pass
    //      folds the corpus to (source, n_g, Σ_g), the LOO mean for
    //      every source is then pure arithmetic against the broadcast
    //      totals — the jackknife identity θ₋g = (S−S_g)/(N−n_g).
    //      Micro means use the overflow-safe two-step split
    //      s div n · 10⁶ + (s mod n) · 10⁶ div n — exact floor(s·10⁶/n)
    //      without the s·10⁶ product, so a 100 TB character sum cannot
    //      overflow BIGINT (the envelope is n < 2⁶³/10⁶ docs, not
    //      Σchars < 2⁶³/10⁶). Single-source degenerate: N−n_g = 0 —
    //      the divisor is nullif-guarded on BOTH sides, so each
    //      engine emits NULL explicitly (Spark 4 runs ANSI by
    //      default: an unguarded zero divisor would THROW, not
    //      null — the round-9 ANSI audit rule). ----
    Q(
      "q199_source_influence",
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(n_chars) AS BIGINT) AS s_g
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS BIGINT) AS s FROM g),
        |x AS (SELECT g.source, g.n_g,
        |    t.s // t.n * 1000000 + t.s % t.n * 1000000 // t.n
        |      AS full_mean_micro,
        |    (t.s - g.s_g) // nullif(t.n - g.n_g, 0) * 1000000
        |      + (t.s - g.s_g) % nullif(t.n - g.n_g, 0) * 1000000
        |        // nullif(t.n - g.n_g, 0)
        |      AS loo_mean_micro
        |  FROM g, t)
        |SELECT source, n_g,
        |  CAST(full_mean_micro AS BIGINT) AS full_mean_micro,
        |  CAST(loo_mean_micro AS BIGINT) AS loo_mean_micro,
        |  CAST(loo_mean_micro - full_mean_micro AS BIGINT) AS delta_micro
        |FROM x ORDER BY source""".stripMargin,
    ) { (s, d) =>
      // persisted: the source fold feeds both the totals and the final
      // per-source arithmetic — one corpus scan, not two
      val g = graft.Caches.persist(
        Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_g"),
            sum("n_chars").cast("long").as("s_g")))
      val t = g.agg(sum("n_g").cast("long").as("n"),
        sum("s_g").cast("long").as("s"))
      g.crossJoin(broadcast(t))
        .select(col("source"), col("n_g"),
          expr("s div n * 1000000 + s % n * 1000000 div n")
            .cast("long").as("full_mean_micro"),
          expr("(s - s_g) div nullif(n - n_g, 0) * 1000000 + " +
            "(s - s_g) % nullif(n - n_g, 0) * 1000000 " +
            "div nullif(n - n_g, 0)")
            .cast("long").as("loo_mean_micro"))
        .withColumn("delta_micro",
          (col("loo_mean_micro") - col("full_mean_micro")).cast("long"))
        .orderBy("source")
    },

    // ---- q200: split-conformal calibration — the distribution-free
    //      anomaly threshold (Vovk et al., "Algorithmic Learning in a
    //      Random World"; Angelopoulos & Bates tutorial — public
    //      literature): per event type, the point predictor is the
    //      lower median, nonconformity is |value − median|, and the
    //      90%-coverage threshold is the k-th smallest score with the
    //      finite-sample correction k = ⌈(n+1)·0.9⌉ — the quantity
    //      that makes "flag if score > threshold" a guaranteed
    //      ≤10%-false-alarm rule with NO distributional assumption,
    //      which is why production monitors use it over z-scores
    //      (q23's parametric analog). Float-policy-clean: both
    //      outputs are ORDER STATISTICS — selection plus one IEEE
    //      subtraction per score, no float summation anywhere; ranks
    //      use a deterministic (value, event_id) tie-break; k is pure
    //      integer (⌈(n+1)·9/10⌉ = ((n+1)·9+9) div 10). Scale: two
    //      type-keyed window ranks, exact at any n, one sort task per
    //      type; the k arithmetic's BIGINT envelope is guarded in-plan
    //      ([[Conformal]]). Degenerate: a type with k > n (n < 9)
    //      emits no row — conformal's "threshold = ∞" — identically in
    //      both engines (the rank join finds no rn = k). ----
    Q(
      "q200_conformal_threshold",
      """WITH e AS (SELECT event_type AS t, event_id, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT t, v, row_number()
        |    OVER (PARTITION BY t ORDER BY v, event_id) AS rn FROM e),
        |n AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |med AS (SELECT r.t, r.v AS med
        |  FROM r JOIN n ON r.t = n.t AND r.rn = (n.n + 1) // 2),
        |s AS (SELECT e.t, e.event_id, abs(e.v - med.med) AS sc
        |  FROM e JOIN med ON e.t = med.t),
        |sr AS (SELECT t, sc, row_number()
        |    OVER (PARTITION BY t ORDER BY sc, event_id) AS rn FROM s),
        |k AS (SELECT n.t, n.n,
        |    CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k FROM n)
        |SELECT k.t AS event_type, k.n, k.k, med.med AS median_value,
        |  sr.sc AS threshold
        |FROM k JOIN med ON k.t = med.t
        |  JOIN sr ON sr.t = k.t AND sr.rn = k.k
        |ORDER BY event_type""".stripMargin,
    ) { (s, d) => Conformal.thresholds(Tables.events(s, d)) },

    // ---- q207: functional-dependency audit — the schema-inference /
    //      data-quality primitive: for each candidate FD "k → v",
    //      count the keys whose value set is not a singleton (the FD
    //      violations), the worst key's distinct-value fan-out, and
    //      the violating share. The audit a pipeline runs before it
    //      TRUSTS a denormalization ("source determines lang, so I can
    //      join on source alone") — an unaudited FD assumption is how
    //      a 100 TB join silently drops or duplicates rows. Three
    //      audits ride ONE unioned (fd, key)-keyed shuffle (open key
    //      cardinality — no hot buckets); everything after is
    //      arithmetic on the fd-domain fold. Violation share is a
    //      ratio ≤ 1 (plain micro form; n_keys < 2⁶³/10⁶). ----
    Q(
      "q207_fd_audit",
      """WITH f1 AS (SELECT 'documents: source->lang' AS fd,
        |    source AS k, lang AS v FROM documents),
        |f2 AS (SELECT 'events: user_id->event_type' AS fd,
        |    CAST(user_id AS VARCHAR) AS k, event_type AS v FROM events),
        |f3 AS (SELECT 'orders: o_custkey->o_orderpriority' AS fd,
        |    CAST(o_custkey AS VARCHAR) AS k, o_orderpriority AS v
        |  FROM orders),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |  UNION ALL SELECT * FROM f3),
        |g AS (SELECT fd, k, CAST(count(DISTINCT v) AS BIGINT) AS nv
        |  FROM u GROUP BY 1, 2),
        |a AS (SELECT fd, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nv) AS BIGINT) AS max_fanout
        |  FROM g GROUP BY 1)
        |SELECT fd, n_keys, n_violating, max_fanout,
        |  CAST(n_violating * 1000000 // n_keys AS BIGINT)
        |    AS violation_share_micro
        |FROM a ORDER BY fd""".stripMargin,
    ) { (s, d) =>
      def leg(df: org.apache.spark.sql.DataFrame, name: String,
          k: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
        df.select(lit(name).as("fd"), k.cast("string").as("k"),
          v.as("v"))
      val u = leg(Tables.documents(s, d), "documents: source->lang",
          col("source"), col("lang"))
        .unionAll(leg(Tables.events(s, d),
          "events: user_id->event_type", col("user_id"),
          col("event_type")))
        .unionAll(leg(Tables.orders(s, d),
          "orders: o_custkey->o_orderpriority", col("o_custkey"),
          col("o_orderpriority")))
      u.groupBy("fd", "k")
        .agg(countDistinct("v").as("nv"))
        .groupBy("fd")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).cast("long")
            .as("n_violating"),
          max("nv").cast("long").as("max_fanout"))
        .select(col("fd"), col("n_keys"), col("n_violating"),
          col("max_fanout"),
          expr("n_violating * 1000000 div n_keys").cast("long")
            .as("violation_share_micro"))
        .orderBy("fd")
    },

    // ---- q208: capture–recapture population estimate (Chapman 1951's
    //      bias-corrected Lincoln–Petersen — public literature): treat
    //      two event streams as independent "captures" of the user
    //      population and estimate the users NEITHER stream saw:
    //      N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from the click-capture size,
    //      view-capture size, and their overlap. The "how many users /
    //      documents / dup-pairs exist that ALL our detectors missed"
    //      primitive — the estimator is exactly the one a coverage
    //      audit runs when ground truth is unobtainable, with its
    //      independence assumption stated, not hidden. One user-fold
    //      pass computes both capture flags as conditional maxes, so
    //      the three counts ride a single user-keyed shuffle. Exact
    //      integers; the Chapman division floors once (ratio of
    //      bounded counts; m+1 ≥ 1, never zero). ----
    Q(
      "q208_capture_recapture",
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2,
        |    CAST(sum(c1 * c2) AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS n_observed FROM u)
        |SELECT n1 AS n_capture1, n2 AS n_capture2, m AS n_both,
        |  n_observed,
        |  CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
        |    AS chapman_estimate,
        |  CAST(CASE WHEN (n1 + 1) * (n2 + 1) // (m + 1) - 1 > n_observed
        |    THEN (n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_observed
        |    ELSE 0 END AS BIGINT) AS est_unseen
        |FROM s""".stripMargin,
    ) { (s, d) =>
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("c1"),
          max(when(col("event_type") === "view", 1).otherwise(0)).as("c2"))
      u.agg(sum("c1").cast("long").as("n1"),
          sum("c2").cast("long").as("n2"),
          sum(col("c1") * col("c2")).cast("long").as("m"),
          count(lit(1)).as("n_observed"))
        .select(col("n1").as("n_capture1"), col("n2").as("n_capture2"),
          col("m").as("n_both"), col("n_observed"),
          expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").cast("long")
            .as("chapman_estimate"),
          greatest(lit(0L),
            expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1") -
              col("n_observed")).cast("long").as("est_unseen"))
    },

    // ---- q209: Good–Turing unseen-mass estimate (Good 1953 — public
    //      literature): the probability mass of vocabulary NEVER seen
    //      is estimated by the mass of things seen exactly once,
    //      P₀ ≈ N₁/N — the number that tells a corpus run whether its
    //      vocabulary has converged (pairs with q134's growth curve
    //      and q193's coverage curve: those measure what IS seen, this
    //      prices what is NOT). Over the open-vocabulary token-TRIGRAM
    //      domain (the q193 regime — the 31-type word vocab is closed,
    //      where P₀ would be degenerately 0). Two folds, both with
    //      map-side combine: trigram→count, then count→frequency-of-
    //      frequencies (bounded by the max count, tiny). Exact
    //      integers; micro shares are ratios ≤ 1 (plain form). ----
    Q(
      "q209_good_turing",
      """WITH tri AS (
        |  SELECT unnest(list_transform(range(1, len(t) - 1),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS w
        |  FROM (SELECT string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM tri GROUP BY 1),
        |ff AS (SELECT c, CAST(count(*) AS BIGINT) AS n_types
        |  FROM tf GROUP BY 1),
        |s AS (SELECT CAST(sum(c * n_types) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_types) AS BIGINT) AS n_vocab,
        |    CAST(coalesce(sum(CASE WHEN c = 1 THEN n_types END), 0)
        |      AS BIGINT) AS n1,
        |    CAST(coalesce(sum(CASE WHEN c = 2 THEN n_types END), 0)
        |      AS BIGINT) AS n2
        |  FROM ff)
        |SELECT n_tokens, n_vocab, n1 AS n_singletons, n2 AS n_doubletons,
        |  CAST(n1 * 1000000 // n_tokens AS BIGINT) AS unseen_mass_micro,
        |  CAST(n1 * 1000000 // n_vocab AS BIGINT) AS singleton_share_micro
        |FROM s""".stripMargin,
    ) { (s, d) =>
      val tri = Tables.documents(s, d)
        .select(split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
          .as("w"))
      val ff = tri.groupBy("w").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("n_types"))
      ff.agg(sum(col("c") * col("n_types")).cast("long").as("n_tokens"),
          sum("n_types").cast("long").as("n_vocab"),
          coalesce(sum(when(col("c") === 1, col("n_types"))), lit(0L))
            .cast("long").as("n1"),
          coalesce(sum(when(col("c") === 2, col("n_types"))), lit(0L))
            .cast("long").as("n2"))
        .select(col("n_tokens"), col("n_vocab"),
          col("n1").as("n_singletons"), col("n2").as("n_doubletons"),
          expr("n1 * 1000000 div n_tokens").cast("long")
            .as("unseen_mass_micro"),
          expr("n1 * 1000000 div n_vocab").cast("long")
            .as("singleton_share_micro"))
    },
  )
}

/** Split-conformal calibration (q200): two type-keyed `row_number`
  * windows over the non-null events — rank (n+1) div 2 of the values
  * is the lower median, rank ⌈(n+1)·0.9⌉ of the nonconformity scores
  * is the threshold. Exact at any n; each type's partition sorts in
  * one task. The one loud envelope is the k arithmetic: ((n+1)·9+9)
  * overflows BIGINT past n ≈ 10^18 rows/type, so [[guardedN]] asserts
  * it in-plan on the per-type count frame (q145 pattern). */
object Conformal {
  import org.apache.spark.sql.{Column, DataFrame}

  /** Largest per-type n whose ((n+1)·9+9) stays in BIGINT. */
  val KArithmeticBudget: Long = (Long.MaxValue - 9L) / 9L - 1L

  /** A per-type count `n0`, failing the query past
    * [[KArithmeticBudget]]. */
  def guardedN(n0: Column): Column =
    graft.ScaleGuards.guarded(n0 <= KArithmeticBudget,
      "q200: a type's row count exceeds the BIGINT k-arithmetic " +
        "regime ((n+1)*9+9)", n0)

  /** q200's entry point. */
  def thresholds(events: DataFrame): DataFrame = {
    val e = graft.Caches.persist(events.filter(col("value").isNotNull)
      .select(col("event_type").as("t"), col("event_id"),
        col("value").as("v")))
    val byV = Window.partitionBy("t").orderBy(col("v"), col("event_id"))
    val r = e.withColumn("rn", row_number().over(byV))
    // the guard is applied to the per-type COUNT frame that every
    // downstream leg derives from (its broadcast stage materializes
    // before either window-sort stage runs), NOT inside the final k
    // column — there it was plan-order dependent: the med leg's
    // equally sized window sort shared the broadcast subtree and could
    // run to completion before a guard attached only to k ever fired.
    val n = broadcast(e.groupBy("t").agg(count(lit(1)).as("n0"))
      .select(col("t"), guardedN(col("n0")).as("n")))
    val med = r.join(n, "t")
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("t"), col("v").as("med"))
    val sc = e.join(broadcast(med), "t")
      .select(col("t"), col("event_id"),
        abs(col("v") - col("med")).as("sc"))
    val bySc = Window.partitionBy("t").orderBy(col("sc"), col("event_id"))
    val sr = sc.withColumn("rn", row_number().over(bySc))
      .select(col("t").as("srt"), col("sc"), col("rn"))
    val k = n.select(col("t"), col("n"),
      expr("((n + 1) * 9 + 9) div 10").cast("long").as("k"))
    // k > n (n < 9): conformal's "threshold = ∞" — no rn = k, no row
    sr.join(broadcast(k.join(med, "t")),
        col("srt") === col("t") && col("rn") === col("k"))
      .select(col("t").as("event_type"), col("n"), col("k"),
        col("med").as("median_value"), col("sc").as("threshold"))
      .orderBy("event_type")
  }
}

/** ROC-AUC (rank statistic) as one exact fold: the per-value
  * (pos, neg) histogram → the cumulative-negatives window over the
  * value DOMAIN → concordant/tied pair sums → the half-credit micro
  * division.
  *
  * The pair sums (and the scaled numerator / divisor) are DECIMAL(38,0)
  * — the q136 discipline: integer-EXACT at 10³⁸ headroom, so
  * `(2·conc + tied)·5·10⁵` cannot overflow until n_pos·n_neg ≈
  * 6.6·10³¹ — and the quotient (≤ 10⁶) returns to BIGINT through
  * Spark's integral `div`. The loud envelope is the OUTPUT schema:
  * conc/tied are BIGINT columns, so `n_pos·n_neg ≤ 2⁶³−1` (≈ 3·10⁹
  * docs per class) is guarded in-plan; past it the report columns
  * themselves no longer fit and the honest upgrade is dropping
  * conc/tied from the contract, not silently rescaling them. */
object Auc {
  import org.apache.spark.sql.DataFrame

  /** The per-value class histogram the fold reads: (v, np, nn) — the
    * corpus-sized shuffle; everything after runs on the value DOMAIN
    * (q153's exact route). */
  private def hist(docs: DataFrame): DataFrame =
    docs.groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nn"))

  /** The fold over a (v, np, nn) histogram. The per-value products
    * cast BEFORE multiplying: past the envelope np·cum_neg can overflow
    * BIGINT, and the query must fail at the guard's message, not with
    * an anonymous overflow inside the sum. */
  private[relational] def fold(h: DataFrame): DataFrame =
    h.withColumn("cum_neg", coalesce(sum("nn").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum("np").cast("long").as("n_pos"),
        sum("nn").cast("long").as("n_neg"),
        sum(col("np").cast("decimal(38,0)") * col("cum_neg"))
          .cast("decimal(38,0)").as("conc_d"),
        sum(col("np").cast("decimal(38,0)") * col("nn"))
          .cast("decimal(38,0)").as("tied_d"))
      .select(col("n_pos"), col("n_neg"),
        graft.ScaleGuards.guarded(
          graft.ScaleGuards.productWithin("n_pos", "n_neg", Long.MaxValue),
          "q182: n_pos*n_neg exceeds BIGINT - the conc/tied report " +
            "columns themselves no longer fit the output schema; drop " +
            "them from the contract before going bigger",
          col("conc_d").cast("long")).as("conc"),
        col("tied_d").cast("long").as("tied"),
        // single-class corpus: n_pos*n_neg = 0 must emit NULL like the
        // oracle, not an ANSI DIVIDE_BY_ZERO
        expr("(2 * conc_d + tied_d) * 500000 " +
          "div nullif(CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0)")
          .cast("long").as("auc_micro"))

  /** q182's entry point. */
  def auc(docs: DataFrame): DataFrame = fold(hist(docs))
}
