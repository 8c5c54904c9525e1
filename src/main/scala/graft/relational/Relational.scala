package graft.relational

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `[EXT]` relational surface (SURVEY.md §2.3/§2.4/§2.5/§2.6/§2.7):
  * joins, aggregates, windows, sorts/top-k, set ops, subqueries — all
  * Catalyst built-ins, oracle-checked against DuckDB.
  *
  * Scale design notes (100 TB):
  *  - dimension joins (`nation`, `region`, scalar aggregates) are
  *    explicitly `broadcast()` — no shuffle of the fact side;
  *  - fact-fact joins (lineitem⋈orders) shuffle on the join key once and
  *    AQE handles skew;
  *  - aggregations are partial (map-side combine) by construction of
  *    `groupBy().agg` — no `collect()` anywhere;
  *  - window queries partition by a key (`o_custkey`) so state is
  *    distributed; the one global window (pagination parity op q08) is
  *    documented as driver-bound by the reference's own semantics
  *    (PushTelemetryFunction.cs:220-229 pages a global ORDER BY).
  */
object Relational {
  private val D2 = "decimal(38,2)"
  private val D4 = "decimal(38,4)"
  private val D6 = "decimal(38,6)"

  /** Exact decimal sum, emitted as DOUBLE. Output columns must never be
    * DECIMAL: the driver's hash renders one engine's decimals through
    * float (`123.40` vs `123.4` ⇒ mismatch on any trailing-zero value —
    * the exact failure signature of round 1's six red queries). A final
    * decimal→double cast of the *identical exact decimal* is bit-equal in
    * Spark and DuckDB, so doubles are the only safe numeric output type. */
  private def dsum(c: org.apache.spark.sql.Column, t: String) =
    sum(c.cast(t)).cast("double")

  val qs: Seq[Q] = Seq(
    // ---- q01: full-scan grouped aggregate (TPC-H Q1 shape; SURVEY §2.4) ----
    Q(
      "q01_agg_pricing",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)/count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)/count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE)/count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), D2).as("sum_qty"),
          dsum(col("l_extendedprice"), D2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), D4)
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), D6).as("sum_charge"),
          (dsum(col("l_quantity"), D2) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice"), D2) / count(lit(1))).as("avg_price"),
          (dsum(col("l_discount"), D4) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- q02: selective filter + scan-level pushdown (TPC-H Q6 shape) ----
    Q(
      "q02_filter_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount"), D4).as("revenue"),
          count(lit(1)).as("n"))
    },

    // ---- q03: snowflake dimension chain, both joins broadcast ----
    Q(
      "q03_join_dims",
      """SELECT r_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS total_bal,
        |  count(DISTINCT n_name) AS n_nations
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    ) { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal"), D2).as("total_bal"),
          countDistinct("n_name").as("n_nations"))
        .orderBy("r_name")
    },

    // ---- q04: fact⋈fact shuffle join (the one big shuffle; AQE-skew safe) ----
    Q(
      "q04_join_facts",
      """SELECT o_orderpriority,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .join(
          Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          countDistinct("o_orderkey").as("n_orders"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), D4)
            .as("revenue"))
        .orderBy("o_orderpriority")
    },

    // ---- q05: left-semi join (EXISTS) ----
    Q(
      "q05_semi_join",
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .join(
          Tables.lineitem(s, d).filter(col("l_quantity") > 45),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // ---- q06: left-anti join (NOT EXISTS); right side pre-filtered so the
    //      result is non-empty at every sf ----
    Q(
      "q06_anti_join",
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    ) { (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_totalprice") > 350000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // ---- q07: global top-k (TakeOrderedAndProject, no full sort) ----
    Q(
      "q07_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- q08: sorted pagination (S6/O2 parity: OFFSET/FETCH page) ----
    Q(
      "q08_pagination",
      """SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT) AS rn,
        |         o_orderkey, o_totalprice
        |  FROM orders)
        |WHERE rn > 500 AND rn <= 1000 ORDER BY rn""".stripMargin,
    ) { (s, d) =>
      // limit BEFORE the global window (round 16, guide §2.4): rn is
      // capped at 1000 by the declared page, so orderBy+limit — a
      // parallel TakeOrderedAndProject (per-partition top-k + one
      // driver-side merge of 1000 rows) — bounds the input first and
      // the unpartitioned window sorts ≤1000 rows instead of moving
      // the whole fact table to one partition. o_orderkey is the
      // table's unique key, so the top-1000 set and the row numbers
      // over it are exactly the full sort's first 1000.
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey").limit(1000)
        .select(
          row_number().over(Window.orderBy("o_orderkey")).as("rn"),
          col("o_orderkey"), col("o_totalprice"))
        .filter(col("rn") > 500 && col("rn") <= 1000)
        .orderBy("rn")
    },

    // ---- q09: partitioned window suite: row_number / running sum / lag ----
    Q(
      "q09_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
        |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  lag(o_totalprice) OVER w AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          sum(col("o_totalprice").cast(D2))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          lag("o_totalprice", 1).over(w).as("prev_price"))
        .orderBy("o_custkey", "rn")
    },

    // ---- q10: set operations union / intersect / except ----
    Q(
      "q10_setops",
      """SELECT 'e' AS op, * FROM
        |  ((SELECT DISTINCT c_nationkey AS nk FROM customer)
        |    EXCEPT (SELECT DISTINCT s_nationkey FROM supplier))
        |UNION ALL
        |SELECT 'i' AS op, * FROM
        |  ((SELECT DISTINCT c_nationkey FROM customer)
        |    INTERSECT (SELECT DISTINCT s_nationkey FROM supplier))
        |UNION ALL
        |SELECT 'u' AS op, * FROM
        |  ((SELECT c_nationkey FROM customer) UNION (SELECT s_nationkey FROM supplier))
        |ORDER BY op, nk""".stripMargin,
    ) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nk"))
      val p = Tables.supplier(s, d).select(col("s_nationkey").as("nk"))
      val e = c.distinct().except(p.distinct()).select(lit("e").as("op"), col("nk"))
      val i = c.distinct().intersect(p.distinct()).select(lit("i").as("op"), col("nk"))
      val u = c.union(p).distinct().select(lit("u").as("op"), col("nk"))
      e.union(i).union(u).orderBy("op", "nk")
    },

    // ---- q11: distinct aggregate ----
    Q(
      "q11_distinct_agg",
      """SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments, count(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    ) { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(countDistinct("c_mktsegment").as("n_segments"), count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },

    // ---- q12: ROLLUP grouping sets ----
    Q(
      "q12_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), D2).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // ---- q13: CUBE grouping sets ----
    Q(
      "q13_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    // ---- q96: rank-family window completeness — ntile deciles,
    //      percent_rank, cume_dist over doc length per lang. All three
    //      are exact-integer-derived: ntile is an int bucket,
    //      percent_rank = (rank−1)/(n−1) and cume_dist = peers≤/n are
    //      single int/int IEEE divisions — bit-identical cross-engine
    //      (the q34 ratio policy). Tie-proof total order (n_chars,
    //      doc_id). Scale caveat (unlike the open-keyed windows
    //      elsewhere): lang is LOW-cardinality, so each partition is
    //      corpus/5 and sorts in one task — exact global ranks per
    //      lang inherently serialize per key. At 100 TB a curriculum
    //      pass uses the q86 SKETCH quantiles to cut decile
    //      boundaries (one aggregate), then buckets by comparison —
    //      this query is the exact-rank contract those boundaries
    //      are validated against. ----
    Q(
      "q96_rank_family",
      """SELECT doc_id, lang,
        |  CAST(ntile(10) OVER w AS INT) AS decile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          ntile(10).over(w).cast("int").as("decile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("doc_id")
    },

    // ---- q97: explicit GROUPING SETS + grouping_id — the third
    //      grouping-set surface next to ROLLUP (q12) and CUBE (q13):
    //      an arbitrary, non-hierarchical set list ((status), (priority),
    //      ()) with grouping() flags disambiguating real NULLs from
    //      subtotal rows. ----
    Q(
      "q97_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .createOrReplaceTempView("orders_q97")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  count(*) AS n
          |FROM orders_q97
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio,
          |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    },

    // ---- q14: HAVING post-aggregate filter ----
    Q(
      "q14_having",
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), D2).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    },

    // ---- q15: scalar subquery → broadcast of a 1-row aggregate ----
    Q(
      "q15_scalar_subquery",
      """SELECT p_brand, count(*) AS n FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    ) { (s, d) =>
      val part = Tables.part(s, d)
      val avgPrice = part.agg(avg("p_retailprice").as("ap"))
      part.join(broadcast(avgPrice))
        .filter(col("p_retailprice") > col("ap"))
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .orderBy("p_brand")
    },

    // ---- q16: correlated subquery ≡ partitioned window aggregate ----
    Q(
      "q16_correlated_subquery",
      """SELECT s_suppkey, s_name FROM supplier s1
        |WHERE s_acctbal > (SELECT avg(s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = s1.s_nationkey)
        |ORDER BY s_suppkey""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("s_nationkey")
      Tables.supplier(s, d)
        .withColumn("nation_avg", avg("s_acctbal").over(w))
        .filter(col("s_acctbal") > col("nation_avg"))
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // ---- q17: CASE WHEN bucketing (E4 parity) ----
    Q(
      "q17_case_bucket",
      """SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
        |            WHEN o_totalprice >= 150000 THEN 'mid'
        |            ELSE 'low' END AS bucket,
        |  count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") >= 300000, "high")
            .when(col("o_totalprice") >= 150000, "mid")
            .otherwise("low"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), D2).as("total"))
        .orderBy("bucket")
    },

    // ---- q18: string function suite (E6/E7-adjacent scalar surface) ----
    Q(
      "q18_string_funcs",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u, lower(p_type) AS type_l,
        |  substring(p_name, 1, 8) AS name8, length(p_name) AS name_len,
        |  concat(p_brand, '|', p_type) AS brand_type,
        |  CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS is_green,
        |  replace(p_name, ' ', '_') AS name_us,
        |  regexp_extract(p_type, '(\w+)$', 1) AS type_last
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin,
    ) { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 8).as("name8"),
          length(col("p_name")).as("name_len"),
          concat(col("p_brand"), lit("|"), col("p_type")).as("brand_type"),
          when(col("p_name").like("%green%"), 1).otherwise(0).as("is_green"),
          regexp_replace(col("p_name"), " ", "_").as("name_us"),
          regexp_extract(col("p_type"), "(\\w+)$", 1).as("type_last"))
        .orderBy("p_partkey")
    },

    // ---- q42: exact percentiles with linear interpolation — verified
    //      bit-identical to DuckDB's quantile_cont (same rank formula,
    //      same IEEE interpolation). Exact percentile sorts per group —
    //      the approximate path at scale is approx_percentile (q41's
    //      sketch caveat applies: not cross-engine checkable). ----
    Q(
      "q42_percentiles",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // ---- q45: multi-correlated EXISTS / NOT EXISTS (TPC-H Q21 shape) —
    //      suppliers whose lineitems were the only late ones in a
    //      multi-supplier order. Three correlated accesses to lineitem
    //      decorrelate into two semi/anti self-joins on l_orderkey. ----
    Q(
      "q45_nested_exists",
      """SELECT s_name, count(*) AS numwait FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    ) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val l1 = li.select("l_orderkey", "l_suppkey", "l_returnflag")
      val others = li.select(col("l_orderkey").as("o2_key"),
        col("l_suppkey").as("s2_key"), col("l_returnflag").as("f2"))
      val base = Tables.supplier(s, d)
        .join(l1, col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
      base
        .join(others,
          col("o2_key") === col("l_orderkey") && col("s2_key") =!= col("l_suppkey"),
          "left_semi")
        .join(others.filter(col("f2") === "R"),
          col("o2_key") === col("l_orderkey") && col("s2_key") =!= col("l_suppkey"),
          "left_anti")
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },

    // ---- q46: decorrelated scalar aggregate + anti-join (TPC-H Q22
    //      shape) — above-average-balance customers with no high-value
    //      order, grouped by nation. The scalar subquery becomes a
    //      broadcast 1-row join; NOT EXISTS an anti-join. (Every
    //      customer has ≥1 order in this testdata, so the anti-join
    //      targets orders > 300k to stay non-vacuous.) ----
    Q(
      "q46_global_filter_anti",
      """SELECT c_nationkey AS cntry, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE)/count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY 1 ORDER BY cntry""".stripMargin,
    ) { (s, d) =>
      val cust = Tables.customer(s, d)
      // exact-decimal average (float policy): a plain double avg's
      // partition-order-dependent sum could flip boundary rows
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal"), D2) / count(lit(1))).as("ab"))
      cust
        .join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntry"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal"), D2).as("totacctbal"))
        .orderBy("cntry")
    },

    // ---- q47: unpivot/melt — wide per-part price+size columns to long
    //      (attribute, value) rows; the inverse of q44's pivot. ----
    Q(
      "q47_unpivot",
      """SELECT p_partkey, attr, val FROM (
        |  SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part)
        |WHERE p_partkey <= 200 ORDER BY p_partkey, attr""".stripMargin,
    ) { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("double").as("p_size_d"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice").as("retailprice"), col("p_size_d").as("size")),
          "attr", "val")
        .orderBy("p_partkey", "attr")
    },

    // ---- q19: date/time functions + temporal grouping (E2/E6 parity) ----
    Q(
      "q19_date_funcs",
      """SELECT CAST(extract(year FROM o_orderdate) AS INT) AS y,
        |  CAST(extract(month FROM o_orderdate) AS INT) AS m,
        |  count(*) AS n, min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    ) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(
          count(lit(1)).as("n"),
          min("o_orderdate").as("first_dt"),
          max("o_orderdate").as("last_dt"),
          dsum(col("o_totalprice"), D2).as("total"))
        .orderBy("y", "m")
    },

    // ---- q119: correlation / regression aggregates — Pearson r,
    //      OLS slope and intercept per group (the statistical-profile
    //      staple: does quantity predict price?). NOT the built-in
    //      `corr`: its running float accumulation is partition-order
    //      dependent, so two runs (or two engines) disagree in the
    //      last bits and a hash gate fails. The stable rendering is
    //      the registry float policy generalized to SECOND moments —
    //      the five sums Σx, Σy, Σx², Σy², Σxy as EXACT decimals,
    //      cast to double once, then composed through the identical
    //      expression tree in both engines (sqrt is IEEE-correctly-
    //      rounded, so even it is bit-stable). The second moments
    //      multiply DECIMAL FACTORS (cast each 2-decimal input to
    //      DECIMAL(18,2), then multiply exactly), never decimal-cast
    //      a double product — factor-first multiplication has no
    //      rounding step at all, the inputs being exact 2-decimal
    //      values. AND the oracle's final decimal→double goes through
    //      VARCHAR: a scale-4 sum past 2^53 significand units
    //      (price² sums are ~7e16 units even at sf0.001) hits
    //      DuckDB's int/10^scale DOUBLE-ROUNDING in its native
    //      decimal→double cast — a 1-ulp syy drift that moved only
    //      corr, found at sf0.001 in round 7 — while decimal→string
    //      →strtod is single-rounded on both engines (Spark's native
    //      cast goes through BigDecimal.doubleValue, already
    //      correctly rounded — verified bit-equal to python strtod).
    //      One partial-aggregated pass, no extra shuffle:
    //      the moments ride the same groupBy as any other
    //      aggregate. ----
    Q(
      "q119_correlation",
      """WITH sums AS (
        |  SELECT l_returnflag,
        |    count(*) AS n_rows,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS syy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows,
        |  (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
        |    AS corr,
        |  (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        |  (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS intercept
        |FROM sums ORDER BY l_returnflag""".stripMargin,
    ) { (s, d) =>
      val sums = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          count(lit(1)).cast("double").as("n"),
          dsum(col("l_quantity"), D2).as("sx"),
          dsum(col("l_extendedprice"), D2).as("sy"),
          sum(col("l_quantity").cast("decimal(18,2)")
            * col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sxx"),
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("syy"),
          sum(col("l_quantity").cast("decimal(18,2)")
            * col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sxy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("l_returnflag"), col("n_rows"),
          (cov / (sqrt(vx) * sqrt(vy))).as("corr"),
          (cov / vx).as("slope"),
          ((col("sy") - cov / vx * col("sx")) / col("n")).as("intercept"))
        .orderBy("l_returnflag")
    },

    // ---- q166: frequent triples via A-priori pruning — the level-3
    //      step of frequent-itemset mining (Agrawal–Srikant) that
    //      q122's pair pass feeds: candidate triples are generated
    //      ONLY from frequent pairs (joined on a shared first item,
    //      then closed by requiring the third pair — the downward-
    //      closure prune). Support counting is ROUTE-SWITCHED on the
    //      measured max basket length ([[Apriori]], round 14 — the
    //      q181/q182 discipline applied to the one remaining
    //      documentation-only route): short baskets (b ≈ 4 here)
    //      GENERATE each basket's own C(b,3) triples and semi-join
    //      the broadcast candidate set BEFORE the counting shuffle;
    //      long baskets take the three-legged candidate⋈items join,
    //      where C(b,3) would explode. Both routes count identically
    //      (AprioriRouteSpec pins equality on both corpus shapes).
    //      Integer supports, lexicographic item order; support floor
    //      scales with basket count. ----
    Q(
      "q166_apriori_triples",
      """WITH items AS (SELECT DISTINCT l.l_orderkey AS bid,
        |    p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |thr AS (SELECT greatest(1, count(DISTINCT bid) // 300) AS t
        |  FROM items),
        |pairs AS (SELECT a.item AS i1, b.item AS i2,
        |    CAST(count(*) AS BIGINT) AS sup
        |  FROM items a JOIN items b ON a.bid = b.bid AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr)),
        |cand AS (SELECT p1.i1, p1.i2, p2.i2 AS i3
        |  FROM pairs p1 JOIN pairs p2 ON p1.i1 = p2.i1 AND p1.i2 < p2.i2
        |  JOIN pairs p3 ON p3.i1 = p1.i2 AND p3.i2 = p2.i2),
        |tri AS (SELECT c.i1, c.i2, c.i3, CAST(count(*) AS BIGINT) AS sup
        |  FROM cand c JOIN items a ON a.item = c.i1
        |  JOIN items b ON b.bid = a.bid AND b.item = c.i2
        |  JOIN items e ON e.bid = a.bid AND e.item = c.i3
        |  GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT t FROM thr))
        |SELECT i1, i2, i3, sup FROM tri
        |ORDER BY sup DESC, i1, i2, i3 LIMIT 20""".stripMargin,
    ) { (s, d) =>
      val items = graft.Caches.persist(Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bid"), col("p_brand").as("item"))
        .distinct())
      // ONE profile pass over the persisted basket table feeds both
      // knobs: the support floor (0.33% of baskets — scale-parametric,
      // not magic-numbered) and the route switch's max basket length
      // (round 14: folding the profile into the count the floor
      // already paid keeps the switch free — a separate max aggregate
      // measured +0.3 s at sf0.1)
      val (baskets, maxB) = Apriori.profile(items)
      Apriori.triples(items, math.max(1L, baskets / 300), maxB)
        .orderBy(col("sup").desc, col("i1"), col("i2"), col("i3"))
        .limit(20)
    },

    // ---- q167: winsorized mean — the clip-then-average robust
    //      estimator (vs q128's flag-the-outliers MAD screen): exact
    //      P10/P90 bounds by order statistic (q128's rank rule — every
    //      bound is an actual data value, no interpolation), values
    //      clipped INTO [lo, hi], mean over the clipped column as an
    //      exact DECIMAL sum with ONE double conversion (q119 route,
    //      oracle cast through VARCHAR). Two type-keyed window sorts
    //      on the bounded event-type domain, then one grouped sum. ----
    Q(
      "q167_winsorized_mean",
      """WITH v AS (SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (SELECT event_type,
        |    min(CASE WHEN rn = (n + 9) // 10 THEN value END) AS lo,
        |    min(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS hi
        |  FROM v GROUP BY 1)
        |SELECT v.event_type, CAST(count(*) AS BIGINT) AS n, b.lo, b.hi,
        |  CAST(CAST(sum(CAST(least(greatest(v.value, b.lo), b.hi)
        |      AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*)
        |    AS wmean
        |FROM v JOIN b USING (event_type)
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin,
    ) { (s, d) =>
      val ev = Tables.events(s, d)
        .select("event_type", "event_id", "value")
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      val wp = Window.partitionBy("event_type")
      val v = ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wp))
      val b = v.groupBy("event_type")
        .agg(min(when(col("rn") === expr("(n + 9) div 10"),
          col("value"))).as("lo"),
          min(when(col("rn") === expr("(9 * n + 9) div 10"),
            col("value"))).as("hi"))
      ev.join(broadcast(b), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          sum(least(greatest(col("value"), col("lo")), col("hi"))
            .cast("decimal(18,6)")).as("wsum"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          (col("wsum").cast("double") / col("n")).as("wmean"))
        .orderBy("event_type")
    },

    // ---- q168: KWIC snippets — keyword-in-context extraction (the
    //      concordance/snippet pass a retrieval UI runs over its
    //      hits): for every doc containing the query term, the ±3-
    //      token window around the FIRST occurrence plus its token
    //      position. Pure map over the corpus (array_position +
    //      slice + join — codegen'd, no explode, no shuffle at all
    //      until the presentation sort), so at 100 TB it pipelines
    //      behind the hit filter with zero exchanges. ----
    Q(
      "q168_kwic_snippets",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |hit AS (SELECT doc_id, w,
        |    list_position(w, 'vector') AS pos FROM t)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  array_to_string(w[greatest(1, pos - 3):least(len(w), pos + 3)],
        |    ' ') AS snippet
        |FROM hit WHERE pos IS NOT NULL AND pos > 0
        |ORDER BY doc_id""".stripMargin,
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("pos", array_position(col("w"), "vector"))
        .filter(col("pos") > 0)
        .select(col("doc_id"), col("pos"),
          array_join(slice(col("w"),
            greatest(lit(1), col("pos") - 3),
            least(size(col("w")).cast("long"), col("pos") + 3)
              - greatest(lit(1), col("pos") - 3) + 1), " ")
            .as("snippet"))
        .orderBy("doc_id")
    },

    // ---- q171: RFM segmentation — the classic customer-value grid
    //      (recency / frequency / monetary quintiles): one grouped
    //      pass builds the per-customer triple (monetary as exact
    //      DECIMAL, one double conversion — q119 route), three
    //      ntile(5) windows assign quintile codes with deterministic
    //      (value, customer) tie-breaks (ntile is order-exact in both
    //      engines given a total order), and the output is the
    //      125-cell segment census — cardinality bounded by 5³, not
    //      customers. The windows are global but run on the
    //      CUSTOMER-grain frame ([[Rfm]]). ----
    Q(
      "q171_rfm_scores",
      """WITH rfm AS (SELECT o_custkey AS cust,
        |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      DATE '1999-01-01') AS BIGINT) AS recency,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS VARCHAR) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT cust, recency, frequency, monetary,
        |    ntile(5) OVER (ORDER BY recency DESC, cust) AS r,
        |    ntile(5) OVER (ORDER BY frequency, cust) AS f,
        |    ntile(5) OVER (ORDER BY monetary, cust) AS m
        |  FROM rfm)
        |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
        |  CAST(m AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  min(cust) AS sample_cust
        |FROM sc GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin,
    ) { (s, d) =>
      Rfm.segments(Tables.orders(s, d))
    },
  )
}

/** RFM quintile assignment (q171): one grouped pass builds the
  * per-customer triple, three `ntile(5)` windows with (value, cust)
  * tie-breaks code it, and the census folds the codes to 125 cells.
  * Exact at any n. Each window is a single-partition global sort over
  * the CUSTOMER-grain frame, not the orders, so it is bounded by one
  * task sorting every customer (~32 B/row). */
object Rfm {
  /** Per-customer (cust, recency, frequency, monetary) triple (q119
    * float policy: exact DECIMAL sum, one double conversion). */
  def triples(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey").as("cust"))
      .agg(datediff(lit(java.sql.Date.valueOf("1999-01-01")),
        max(col("o_orderdate")).cast("date")).cast("long").as("recency"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("msum"))
      .withColumn("monetary", col("msum").cast("double"))
      .drop("msum")

  /** Three global ntile(5) windows with (value, cust) tie-breaks. */
  def codesWindow(rfm: DataFrame): DataFrame =
    rfm
      .withColumn("r", ntile(5).over(
        Window.orderBy(col("recency").desc, col("cust"))))
      .withColumn("f", ntile(5).over(
        Window.orderBy(col("frequency"), col("cust"))))
      .withColumn("m", ntile(5).over(
        Window.orderBy(col("monetary"), col("cust"))))

  /** The 125-cell segment census over the codes. */
  def census(codes: DataFrame): DataFrame =
    codes.groupBy(col("r").cast("long").as("r"),
        col("f").cast("long").as("f"), col("m").cast("long").as("m"))
      .agg(count(lit(1)).as("n_customers"),
        min("cust").as("sample_cust"))
      .orderBy("r", "f", "m")

  /** q171's entry point. */
  def segments(orders: DataFrame): DataFrame =
    census(codesWindow(triples(orders)))
}

/** q166's A-priori triple stage with the basket-length ROUTE SWITCH
  * (round 14 — the last documentation-only route, wired): candidate
  * triples come from frequent pairs closed downward
  * (Agrawal–Srikant), and support counting picks between two plans by
  * the MEASURED max basket length:
  *
  *   - `generate` (short baskets): explode each basket's own C(b,3)
  *     triples and broadcast-semi-join the candidate set BEFORE the
  *     counting shuffle — per-basket O(b³) is tiny at b ≈ 4, and the
  *     sf1 rehearsal showed the candidate join going 100× superlinear
  *     here (every item row fans out across the candidate list);
  *   - `candidate` (long baskets): the three-legged candidate⋈items
  *     join — C(b,3) explodes (b = 100 ⇒ 161,700 generated rows per
  *     basket vs 100 item rows), so fan-out-by-candidate wins.
  *
  * The crossover bound is [[LongBasketAt]] = 32: C(32,3) ≈ 5k ≈ 150×
  * the basket's own row count — already two orders past the b ≈ 4
  * regime the generate route was measured right in, and well before
  * the per-basket-million explosion. The exact crossover is
  * data-dependent (candidate-set density moves it); the bound only
  * needs to sit LEFT of the explosion, and both routes return
  * identical counts (AprioriRouteSpec), so a conservative switch
  * costs a constant factor, never correctness. The max basket length
  * rides q166's own profile pass over the persisted basket table —
  * q87's basket-length profile reduced to the one statistic the
  * switch needs. */
object Apriori {
  /** Max basket length at which support counting switches from
    * per-basket C(b,3) generation to the candidate⋈items join. */
  val LongBasketAt = 32

  /** Candidate-set row bound above which BOTH counting routes join
    * the candidates by shuffle instead of broadcast. The candidate
    * count is DATA-dependent (frequent-pair density cubes into it),
    * not basket-length-dependent, so the route switch alone cannot
    * guard it: measured on a dense long-basket corpus (2k baskets,
    * b ≈ 91, 0.3% support), downward closure admits 41M candidate
    * triples and the unconditional broadcast kills the driver's 8 GB
    * heap building the hash relation — on a cluster it would also
    * resident that relation on every executor. 2M rows of three
    * longs is a ~100–200 MB hash relation, comfortably inside both
    * budgets; past it a candidate-keyed shuffle is the plan that
    * survives, at the price of shuffling the probe side once.
    * [[triples]] measures the count on the persisted candidate set
    * (one cheap job — the set is frequent-pair-derived, orders
    * smaller than the counting pass it gates) and picks per run. */
  val CandBroadcastAt = 2000000L

  /** One profile pass over the basket table: (basket count, max basket
    * length). Max over zero baskets is NULL (an empty or partial source
    * dir) and reads as 0, which takes the generate plan and returns
    * empty (round-14 review finding). */
  def profile(items: DataFrame): (Long, Long) = {
    val r = items.groupBy("bid").agg(count(lit(1)).as("b"))
      .agg(count(lit(1)), max("b")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Frequent-pair-closed candidate triples: (i1,i2) ⋈ (i1,i3) with
    * i2 < i3, closed by requiring (i2,i3) frequent — the downward-
    * closure prune. Bounded by the frequent-pair count, the broadcast
    * side of both counting routes. */
  def candidates(pairs: DataFrame): DataFrame =
    pairs.select(col("i1"), col("i2"))
      .join(pairs.select(col("i1"), col("i2").as("i3")), Seq("i1"))
      .filter(col("i2") < col("i3"))
      .join(pairs.select(col("i1").as("i2"), col("i2").as("i3")),
        Seq("i2", "i3"), "left_semi")

  /** Support counts of the candidate triples over (bid, item) baskets
    * — the `candidate` plan when `longBaskets`, else `generate`; both
    * return identical (i1, i2, i3, sup) rows (spec-pinned).
    * `broadcastCand` gates the candidate side's broadcast hint
    * ([[CandBroadcastAt]] — callers pass the MEASURED candidate
    * count's verdict; the shuffle arm is plan-different but
    * count-identical, spec-pinned alongside the two plans). */
  def countTriples(items: DataFrame, cand: DataFrame,
      longBaskets: Boolean, broadcastCand: Boolean = true): DataFrame = {
    val candSide = if (broadcastCand) broadcast(cand) else cand
    if (!longBaskets)
      items.groupBy("bid")
        .agg(sort_array(collect_set(col("item"))).as("arr"))
        .filter(size(col("arr")) >= 3)
        .select(explode(expr(
          "flatten(flatten(transform(sequence(0, size(arr) - 3), " +
            "i -> transform(sequence(i + 1, size(arr) - 2), " +
            "j -> transform(sequence(j + 1, size(arr) - 1), " +
            "k -> struct(arr[i] AS i1, arr[j] AS i2, arr[k] AS i3))))))"))
          .as("t"))
        .select(col("t.i1").as("i1"), col("t.i2").as("i2"),
          col("t.i3").as("i3"))
        .join(candSide, Seq("i1", "i2", "i3"), "left_semi")
        .groupBy("i1", "i2", "i3").agg(count(lit(1)).as("sup"))
    else
      // fan baskets out over the candidates by first item, then
      // close with two (bid, item) equi-joins — one row per
      // (basket ⊇ candidate), counted per candidate; the shuffles
      // are candidate-hit-sized, never C(b,3)-sized
      items.toDF("bid", "i1")
        .join(candSide, Seq("i1"))
        .join(items.toDF("bid", "i2"), Seq("bid", "i2"), "left_semi")
        .join(items.toDF("bid", "i3"), Seq("bid", "i3"), "left_semi")
        .groupBy("i1", "i2", "i3").agg(count(lit(1)).as("sup"))
  }

  /** Frequent (i1, i2) pairs at support `thr` — the candidate
    * generation's input and the first Apriori level. */
  def frequentPairs(items: DataFrame, thr: Long): DataFrame =
    items.toDF("bid", "i1")
      .join(items.toDF("bid", "i2"), "bid")
      .filter(col("i1") < col("i2"))
      .groupBy("i1", "i2").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= thr)

  /** The full stage: frequent pairs at `thr` → closed candidates →
    * support counting → threshold filter. `items` must be the DISTINCT
    * (bid, item) basket table, persisted by the caller (the pair pass,
    * the profile read, and the counting pass all reuse it).
    * `maxBasket` is the measured max basket length: past
    * [[LongBasketAt]] the counting runs the candidate plan. q166
    * measures it in the SAME profile pass that derives the support
    * floor, so the decision costs no extra job. */
  def triples(items: DataFrame, thr: Long, maxBasket: Long): DataFrame = {
    val pairs = graft.Caches.persist(frequentPairs(items, thr))
    // persist + count the candidate set: the count is the broadcast
    // guard's input ([[CandBroadcastAt]] scaladoc — candidate density
    // is data-dependent and can reach 41M rows where an unconditional
    // broadcast kills the driver), and the persist makes the counting
    // pass read the measured set instead of re-deriving the pair
    // joins. One extra job over a frequent-pair-bounded frame.
    val cand = graft.Caches.persist(candidates(pairs))
    val nCand = cand.count()
    countTriples(items, cand, maxBasket > LongBasketAt,
      nCand <= CandBroadcastAt)
      .filter(col("sup") >= thr)
  }
}
