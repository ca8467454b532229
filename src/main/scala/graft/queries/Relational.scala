package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational OLAP block (SURVEY.md §2 B): the DuckDB-SQL surface a user
  * of the reference extension has over hdfs:// files, re-expressed with
  * the declarative DataFrame API so Catalyst owns pushdown, pruning,
  * join planning and whole-stage codegen.
  *
  * Parity rules (SURVEY.md §3): identical column aliases on both sides,
  * floating aggregates rounded on both sides, deterministic ORDER BY with
  * explicit NULLS FIRST where group keys can be null.
  */
object Relational {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def ts(d: String) = lit(d).cast("timestamp")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q1: TPC-H Q1-style pricing summary: single shuffle, map-side
    // partial agg; at 100 TB this is scan-bound with full codegen.
    "q1_agg" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- q2: filter + projection — verify PushedFilters/ReadSchema reach
    // the parquet scan (only 4 of 11 columns read).
    "q2_filter_proj" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- q3: TPC-H Q3-style shipping priority. customer side reduced
    // pre-join by segment filter; AQE broadcasts it when small.
    "q3_join_agg" -> { (s, dir) =>
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01"))
      val l = T(s, dir, "lineitem").filter(col("l_shipdate") > ts("1996-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ---- q4: EXISTS → left-semi join (no row multiplication, no distinct).
    "q4_exists" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1996-04-01"))
      val l = T(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- q5: TPC-H Q5-style 6-way star join. nation/region are
    // fixed-cardinality → explicit broadcast; fact-side joins shuffle on
    // their keys, AQE handles the rest.
    "q5_star_join" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .join(T(s, dir, "orders").filter(
          col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(T(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        // integer cents BEFORE the sum (repo money rule): a raw double
        // sum rounded at 2dp loses the last cent once the aggregate
        // passes ~1e7 (seen at the sf1 stress sweep, same class as
        // a12); per-row cents make the sum order-free exact, and the
        // final /100.0 is one identical IEEE division in both engines
        .agg((sum(expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ---- q6: TPC-H Q6-style selective scan-agg; fully pushed filters.
    "q6_cond_agg" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    },

    // ---- q7: NOT EXISTS → left-anti join.
    "q7_anti" -> { (s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- q8: DISTINCT + COUNT(DISTINCT) (partial-agg then exchange).
    "q8_distinct" -> { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    },

    // ---- q9: global top-k → TakeOrderedAndProject, no full sort at scale.
    "q9_sort_limit" -> { (s, dir) =>
      T(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // ---- q10: ranking window family, deterministic tie-break.
    "q10_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
      T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"), row_number().over(w).as("rn"))
        .filter(col("rnk") <= 10)
        .orderBy(col("c_mktsegment"), col("rn"))
    },

    // ---- q11: running + sliding frames. The moving average rounds to 4
    // decimals, not 2: an avg of 2-decimal prices over n ≤ 3 rows is
    // either ≤3-decimal-exact or 3-repeating, so it can never sit on a
    // 4-decimal rounding boundary — whereas at 2 decimals a .xx5 result
    // rounds differently in Spark (decimal-string HALF_UP) vs DuckDB
    // (binary double), the round-1 hash mismatch.
    "q11_window_running" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_spend"),
          round(avg(col("o_totalprice")).over(w.rowsBetween(-2, Window.currentRow)), 4).as("moving_avg"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- q12: lag/lead offsets over event streams.
    "q12_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("user_id", "event_id")
    },

    // ---- q13: ROLLUP hierarchy (region → nation).
    "q13_rollup" -> { (s, dir) =>
      T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(round(sum(col("c_acctbal")), 2).as("total_bal"), count(lit(1)).as("n_cust"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    // ---- q14: CUBE over two independent dims.
    "q14_grouping_sets" -> { (s, dir) =>
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(round(sum(col("o_totalprice")), 2).as("total_price"), count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // ---- q15: HAVING.
    "q15_having" -> { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("spend"))
        .filter(col("n_orders") >= 5)
        .orderBy(col("o_custkey"))
    },

    // ---- q16: CASE bucketing.
    "q16_case_bucket" -> { (s, dir) =>
      T(s, dir, "orders")
        .select(when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large").as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("bucket"))
    },

    // ---- q17: TPC-H Q17-style correlated scalar subquery, decorrelated
    // into a per-key aggregate + join (what Catalyst does for EXISTS/IN;
    // here done explicitly so the plan is one shuffle on l_partkey).
    "q17_scalar_subq" -> { (s, dir) =>
      val l = T(s, dir, "lineitem")
      val p = T(s, dir, "part").filter(col("p_brand") === "Brand#13")
      val halfAvg = l.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(halfAvg, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < col("half_avg"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },

    // ---- q18: IN subquery → semi join.
    "q18_in_subq" -> { (s, dir) =>
      val bld = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      T(s, dir, "orders")
        .join(bld, col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ---- q19: UNION ALL + dedup-by-group.
    "q19_union" -> { (s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .unionAll(T(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    },

    // ---- q20: multi-CTE via SQL entry point (register only the two
    // tables the SQL touches — registerAll re-reads every schema).
    "q20_cte" -> { (s, dir) =>
      Seq("customer", "orders").foreach(n =>
        Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        WITH cust_orders AS (
          SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS spend
          FROM orders GROUP BY o_custkey)
        SELECT c_mktsegment,
               count(*) AS n_cust,
               round(avg(n), 4) AS avg_orders,
               round(avg(spend), 2) AS avg_spend
        FROM customer JOIN cust_orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")
    },

    // ---- q40: LATERAL correlated subquery join — per-customer top-3
    // most recent orders, the "for each row, run this parameterized
    // subquery" surface DuckDB users lean on. Catalyst decorrelates the
    // LIMIT-per-group into a window + filter under the hood, so the
    // physical plan is one join + one window, not N subquery executions
    // — the decorrelation IS the scale story.
    "q40_lateral" -> { (s, dir) =>
      Seq("customer", "orders").foreach(n =>
        Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_orderdate, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC
          LIMIT 3
        ) o
        WHERE c.c_custkey < 20
        ORDER BY c.c_custkey, o.o_orderdate DESC, o.o_orderkey DESC""")
    },

    // ---- q42: CORRELATED scalar subquery in WHERE (q17 is the
    // uncorrelated form) — customers above their own nation's average
    // balance. Catalyst decorrelates the per-row subquery into one
    // aggregate + one join, so it runs as two scans, not N subqueries.
    "q42_corr_subq" -> { (s, dir) =>
      Seq("customer").foreach(n =>
        Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")
    },

    // ---- q43: FULL OUTER join — per-nation customer vs supplier
    // counts where either side may be absent (suppliers filtered to a
    // deterministic subset so the outer rows actually materialize).
    // Both inputs pre-aggregate to one row per key BEFORE the join, so
    // the full-outer shuffle moves nation-count rows, not base tables.
    "q43_full_outer" -> { (s, dir) =>
      val c = T(s, dir, "customer").groupBy(col("c_nationkey").as("k"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = T(s, dir, "supplier")
        .filter(pmod(col("s_suppkey"), lit(3)) === 0)
        .groupBy(col("s_nationkey").as("k2"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("k") === col("k2"), "full_outer")
        .select(coalesce(col("k"), col("k2")).cast("bigint").as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },

    // ---- q21: pivot (null cells → 0 to match FILTER-agg semantics).
    "q21_pivot" -> { (s, dir) =>
      val pri = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val alias = Map("1-URGENT" -> "p_urgent", "2-HIGH" -> "p_high",
        "3-MEDIUM" -> "p_medium", "4-NOT SPECIFIED" -> "p_notspec", "5-LOW" -> "p_low")
      val piv = T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", pri)
        .count()
      piv.select(col("o_orderstatus") +:
          pri.map(p => coalesce(col(s"`$p`"), lit(0L)).as(alias(p))): _*)
        .orderBy(col("o_orderstatus"))
    },

    // ---- q22: deterministic systematic sample (key-mod predicate) —
    // reproducible across engines, unlike TABLESAMPLE.
    "q22_det_sample" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 3)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- q23: top-N per group (QUALIFY-style).
    "q23_topn_group" -> { (s, dir) =>
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_orderstatus"), col("rn"))
    },

    // ---- q24: string function suite.
    "q24_string_funcs" -> { (s, dir) =>
      T(s, dir, "customer")
        .filter(col("c_name").like("%1%"))
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_name"), 1, 8).as("prefix8"),
          length(col("c_name")).cast("int").as("name_len"),
          concat(col("c_mktsegment"), lit(":"), col("c_name")).as("tagged"),
          regexp_extract(col("c_name"), "[0-9]+", 0).as("digits"),
          regexp_replace(col("c_name"), "#", "-").as("dashed"))
        .orderBy("c_custkey")
    },

    // ---- q25: date function suite.
    "q25_date_funcs" -> { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(
          min(col("o_orderdate")).cast("date").as("first_day"),
          max(col("o_orderdate")).cast("date").as("last_day"),
          count(lit(1)).as("n"),
          max(year(col("o_orderdate"))).cast("int").as("yr"),
          max(quarter(col("o_orderdate"))).cast("int").as("qtr"))
        .orderBy(col("month"))
    },

    // ---- q26: HLL approx distinct (no oracle — approximate by design;
    // spec checks error bound vs exact).
    "q26_approx_distinct" -> { (s, dir) =>
      // banded oracle contract (VERDICT r5 #6): the HLL estimate itself
      // is engine-specific, but |approx − exact| / exact ≤ 2·rsd (rsd
      // defaults to 0.05) is checkable INSIDE the query — the oracle
      // answers (exact_cust, TRUE), so the hash gate fails iff Spark's
      // sketch leaves the published error band. HLL is deterministic
      // per dataset, so the boolean is stable across runs.
      T(s, dir, "orders")
        .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"),
          countDistinct(col("o_custkey")).as("exact_cust"))
        .select(col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust")) <=
            col("exact_cust") * 0.10).as("within_band"))
    },

    // ---- q27: statistical aggregates.
    "q27_stats" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qe"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qe"))
        .orderBy(col("l_returnflag"))
    },

    // ---- q28: exact linear-interpolation percentiles.
    "q28_percentile" -> { (s, dir) =>
      // percentiles over CENTS: quartile interpolation of integers at
      // binary-exact fractions (.25/.5/.75) is EXACT in double whatever
      // formula the engine uses — a raw-double percentile differed by
      // one ulp at sf0.1 and round(2) flipped on the boundary. Rounding
      // happens AT CENTS SCALE, before the /100: an interpolated
      // half-cent divided first yields a double whose shortest decimal
      // string is the 2dp midpoint, and the engines' rounding pipelines
      // split on exactly that shape (Spark rounds the string, DuckDB
      // the scaled binary). Exact halves round away-from-zero in both.
      T(s, dir, "lineitem")
        .withColumn("cents", expr("cast(round(l_extendedprice * 100) as bigint)"))
        .groupBy(col("l_linestatus"))
        .agg(
          (round(expr("percentile(cents, 0.25)")) / 100.0).as("p25"),
          (round(expr("percentile(cents, 0.5)")) / 100.0).as("p50"),
          (round(expr("percentile(cents, 0.75)")) / 100.0).as("p75"))
        .orderBy(col("l_linestatus"))
    },

    // ---- q45: approximate percentiles — the sketch twin of q28's exact
    // percentile (DuckDB users reach for approx_quantile the same way).
    // Spark's approx_percentile is a GK-sketch aggregate: O(accuracy)
    // partial summaries merge map-side, so the quantile never sorts the
    // column globally — the only shape that works when the column is
    // 100 TB. Sketch merge order varies across runs → no hash oracle;
    // the error bound vs the exact q28 percentiles is spec-asserted
    // (RelationalSpec-style bound: rank error <= 1/accuracy).
    "q45_approx_percentile" -> { (s, dir) =>
      // banded oracle contract (VERDICT r5 #6): GK at accuracy 1000
      // guarantees rank error ≤ n/1000; the returned value v satisfies
      // the p-quantile band iff count(x < v) ≤ (p+ε)n AND
      // count(x ≤ v) ≥ (p−ε)n (the two-sided form is tie-safe). Both
      // counts are exact SQL, so the boolean hashes against the
      // oracle's TRUE — plus exact n_rows as a non-constant anchor.
      val eps = 0.002 // 2× the guarantee, margin for boundary rounding
      val li = T(s, dir, "lineitem").select("l_linestatus", "l_extendedprice")
      val ap = li.groupBy(col("l_linestatus"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.25, 1000)").as("p25"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.75, 1000)").as("p75"))
      def okAt(p: Double, v: String) =
        ((sum(when(col("l_extendedprice") < col(v), 1L).otherwise(0L)) <=
            count(lit(1)) * (p + eps)) &&
          (sum(when(col("l_extendedprice") <= col(v), 1L).otherwise(0L)) >=
            count(lit(1)) * (p - eps)))
      li.join(broadcast(ap), "l_linestatus")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          okAt(0.25, "p25").as("ok_p25"),
          okAt(0.50, "p50").as("ok_p50"),
          okAt(0.75, "p75").as("ok_p75"))
        .orderBy(col("l_linestatus"))
    },

    // ---- q29: the reference's demo scalar function as a native codegen
    // Catalyst expression (graft.expressions.Quack), SQL-registered.
    "q29_quack" -> { (s, dir) =>
      T(s, dir, "customer")
        .selectExpr("c_custkey", "quack(c_name) AS quacked")
        .orderBy(col("c_custkey"))
    },

    // ---- q34: list aggregation (DuckDB's list()/list_sort surface) —
    // nested array column built by a one-shuffle groupBy. The array is
    // projected to a scalar CSV encoding for the gate: the driver's
    // pandas-based checker cannot sort/hash array-typed columns
    // (unhashable numpy.ndarray — CORRECTNESS_r02 q34), so every output
    // column must be hashable. The list op itself is unchanged.
    "q34_list_agg" -> { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("keys_arr"),
          count(lit(1)).as("n"))
        .select(col("o_custkey"), concat_ws(",", col("keys_arr")).as("order_keys"), col("n"))
        .orderBy("o_custkey")
    },

    // ---- q35: unnest roundtrip — array build then explode (DuckDB
    // UNNEST); generators run inside codegen, no shuffle added beyond
    // the q34 agg.
    "q35_unnest" -> { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ks"))
        .select(col("o_custkey"), explode(col("ks")).as("k"))
        .orderBy("o_custkey", "k")
    },

    // ---- q37: JSON column surface — parse the events props JSON with
    // get_json_object (DuckDB json_extract analogue) and aggregate the
    // extracted field. Codegen path, no UDF.
    "q37_json" -> { (s, dir) =>
      T(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))
        .orderBy("event_type")
    },

    // ---- q36: set operations INTERSECT / EXCEPT (semi/anti-join
    // under the hood, distinct semantics).
    "q36_setops" -> { (s, dir) =>
      val big = T(s, dir, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("k"))
      val bld = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      big.intersect(bld).withColumn("tag", lit("both"))
        .unionAll(bld.except(big).withColumn("tag", lit("only_building")))
        .select("tag", "k")
        .orderBy("tag", "k")
    },

    // ---- q46: correlated LATERAL join (DuckDB supports LATERAL since
    // 0.9; reference users write per-row top-k lookups this way). Spark
    // 4 de-correlates the LIMIT'd subquery into a ranked window join —
    // i.e. the optimizer turns the row-at-a-time formulation into the
    // same one-shuffle plan q23 hand-writes. Tie-break on o_orderkey so
    // the top-2 set is deterministic across engines.
    "q46_lateral" -> { (s, dir) =>
      T(s, dir, "customer").createOrReplaceTempView("customer")
      T(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey <= 300
        ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey""")
    },

    // ---- q47: UNPIVOT / melt — the inverse of q21's pivot (DuckDB
    // UNPIVOT surface). Narrow-side note for scale: unpivot is a
    // zero-shuffle projection (each row expands to k metric rows
    // in-place), so the only exchanges are the aggregate feeding it and
    // the output order. All melted metrics must share one type — the
    // rounds normalize everything to double before the expansion.
    "q47_unpivot" -> { (s, dir) =>
      val wide = T(s, dir, "lineitem").groupBy(col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"))
      wide.unpivot(Array(col("l_linestatus")),
          Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
          "metric", "value")
        .orderBy("l_linestatus", "metric")
    },

    // ---- q48: RANGE window frame — value-based framing (trailing
    // 30 DAYS per customer), the window surface q11's ROWS frame can't
    // express: the frame holds every peer within the value interval,
    // however many rows that is. Integer day numbers + cent-exact sums
    // keep both engines bit-identical (sum-of-double frames can differ
    // in the last ulp across accumulation orders). One shuffle on
    // o_custkey, in-partition sort, O(1) sliding frame state.
    "q48_range_frame" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .withColumn("daynum",
          datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01")))
            .cast("long"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("daynum"))
        .rangeBetween(-30, 0)
      o.select(col("o_custkey"), col("o_orderkey"), col("daynum"),
          sum(col("cents")).over(w).as("cents_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy("o_custkey", "daynum", "o_orderkey")
    },

    // ---- q49: DISTINCT ON — DuckDB's per-key first-row shorthand
    // (`SELECT DISTINCT ON (k) ... ORDER BY k, v DESC`), a surface the
    // reference's users lean on constantly. Spark has no DISTINCT ON;
    // the idiomatic translation is the ranked-window filter (q23's
    // top-N plan with N=1): latest order per customer, ties broken by
    // orderkey so both engines pick the identical row.
    "q49_distinct_on" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy("o_custkey")
    },

    // ---- q50: IGNORE NULLS gap filling — carry the last observed
    // value forward over a sparse column (`last_value(v IGNORE NULLS)`
    // in DuckDB; Spark's `last(col, ignoreNulls = true)` window twin).
    // The sparse column is a deterministic thinning (every third order
    // carries a value) so both engines fill the identical gaps. One
    // shuffle (the per-customer window); frame is the default
    // unbounded-preceding..current-row, identical on a unique ordering.
    "q50_gap_fill" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .withColumn("v",
          when(col("o_orderkey") % 3 === 0, round(col("o_totalprice"), 2)))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("v"),
          last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },

    // ---- q51: list-function suite — the DuckDB list_* surface beyond
    // q34/q35 (sort, slice, fold), with every OUTPUT column scalar (the
    // q34 lesson: the driver's checker cannot hash array columns). The
    // per-key list is sorted before slicing/folding so collect_list's
    // nondeterministic order cannot leak into the result, and elements
    // are rounded BEFORE the fold so both engines sum identical doubles
    // in identical order.
    "q51_list_funcs" -> { (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr("sort_array(collect_list(round(o_totalprice, 2)), false)").as("l"))
        .select(col("o_custkey"),
          size(col("l")).as("n_orders"),
          element_at(col("l"), 1).as("max_price"),
          expr("round(aggregate(slice(l, 1, 3), cast(0 as double), (a, x) -> a + x), 2)")
            .as("top3_sum"))
        .orderBy("o_custkey")
    },

    // ---- q52: FILTER-clause aggregation + GROUP BY ALL — two DuckDB
    // SQL-surface idioms Spark SQL shares verbatim (FILTER since 3.0,
    // GROUP BY ALL since 3.4): per-status conditional counts/sums
    // without CASE scaffolding (q16/q21 are the CASE-based twins, this
    // is the standard modern spelling). Same single-shuffle plan as q1.
    "q52_agg_filter" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderpriority,
               count(*) AS n,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
                 AS spend_f
        FROM orders
        GROUP BY ALL
        ORDER BY o_orderpriority""")
    },

    // ---- q54: VARIANT semi-structured roundtrip — Spark 4's VARIANT
    // type (the engine-native answer to DuckDB's JSON type, q37's
    // string-path twin): serialize a struct to JSON, parse_json into a
    // VARIANT column, extract typed fields with variant_get. The oracle
    // is the identity on the source columns — what goes in must come
    // back out through the binary VARIANT encoding, typed, not
    // re-stringified.
    "q54_variant" -> { (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"),
          to_json(struct(col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))).as("js"))
        .select(col("o_orderkey"),
          expr("parse_json(js)").as("v"))
        .select(col("o_orderkey"),
          expr("variant_get(v, '$.o_custkey', 'bigint')").as("custkey"),
          expr("variant_get(v, '$.o_orderstatus', 'string')").as("status"),
          round(expr("variant_get(v, '$.o_totalprice', 'double')"), 2).as("price"))
        .orderBy("o_orderkey")
    },

    // ---- q55: POSITIONAL JOIN — DuckDB's pair-by-row-position join
    // (rank-aligned pairing: i-th biggest order with i-th richest
    // customer — the quantile-matching shape). Spark has no physical
    // row order, so position must be MADE explicit: row_number over the
    // same total order on each side, then an equi-join on the rank.
    // That is the honest distributed translation — positional semantics
    // only exist relative to a declared ordering.
    "q55_positional_join" -> { (s, dir) =>
      // distributed top-k FIRST (orderBy+limit plans as TakeOrdered —
      // per-partition heaps, no global sort), THEN the positional rank
      // over the surviving 100 rows (the single-partition window is
      // fine when its input is k rows, not the corpus)
      val wo = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wc = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
      val a = T(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
        .withColumn("rn", row_number().over(wo))
      val b = T(s, dir, "customer")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey")).limit(100)
        .withColumn("rn", row_number().over(wc))
      // FULL outer on the rank: POSITIONAL JOIN null-pads the shorter
      // side, so an inner join would silently drop trailing ranks
      // whenever either table has under k rows (review finding)
      a.join(b, Seq("rn"), "full_outer")
        .select(col("rn"), col("o_orderkey"), col("o_totalprice"),
          col("c_custkey"), col("c_acctbal"))
        .orderBy("rn")
    },

    // ---- q56: bag-semantics set operations — INTERSECT ALL / EXCEPT
    // ALL (q36 covers the DISTINCT forms; the ALL forms preserve
    // multiplicity: per key, min(cnt_a, cnt_b) resp. cnt_a - cnt_b).
    // Spark's intersectAll/exceptAll plan as one aggregate + generate —
    // no quadratic anything. Output is per-key multiplicities so the
    // result is deterministic and bounded.
    "q56_setops_all" -> { (s, dir) =>
      val o = T(s, dir, "orders")
      val a = o.filter(col("o_totalprice") > 150000).select(col("o_custkey").as("k"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val ia = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_both"))
      val ea = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_only_a"))
      ia.join(ea, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          coalesce(col("n_only_a"), lit(0L)).as("n_only_a"))
        .orderBy("k")
    },

    // ---- q57: rank-distribution window statistics — percent_rank and
    // cume_dist (the last uncovered window-stat surface; q10 covers the
    // rank family, d35 ntile). Both are pure rank arithmetic over an
    // already-sorted partition: (rank-1)/(n-1) and rank_with_ties/n —
    // engine-exact at 6dp on a unique ordering. Per-status partitions,
    // top 20 orders each to keep output bounded.
    "q57_rank_dist" -> { (s, dir) =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          row_number().over(w).as("rn"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .filter(col("rn") <= 20)
        .orderBy("o_orderstatus", "rn")
    },

    // ---- q58: arg_max / arg_min — DuckDB's "value at another column's
    // extreme" aggregates (`arg_max(x, y)`), Spark's max_by/min_by
    // twins. One map-side-combinable aggregate — the single-shuffle
    // plan q1 gets, NOT a self-join against the max (the naive
    // translation, 2 shuffles + a join). Ties on the ordering value are
    // broken deterministically by comparing (price, orderkey) structs —
    // lexicographic struct ordering — because DuckDB's own arg_max
    // leaves ties unspecified and a hash gate needs one answer.
    "q58_arg_extremes" -> { (s, dir) =>
      val o = T(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          round(min(col("o_totalprice")), 2).as("min_price"))
        .orderBy("o_orderpriority")
    },

    // ---- q59: ordered string aggregation — DuckDB's
    // `string_agg(x, ',' ORDER BY x)`; Spark 4's listagg ... WITHIN
    // GROUP is the engine-native twin. The WITHIN GROUP ordering is
    // what makes the result deterministic and therefore gate-checkable
    // (q34's list() lesson: unordered aggregation output is only equal
    // as a multiset).
    "q59_string_agg" -> { (s, dir) =>
      Tables.load(s, dir, "nation").createOrReplaceTempView("graft_q59_nation")
      s.sql("""
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names,
               count(*) AS n
        FROM graft_q59_nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey""")
    },

    // ---- q60: lambda list functions — DuckDB's list_filter /
    // list_transform / list comprehension surface, Spark's
    // filter/transform/aggregate higher-order functions. All lambda
    // work happens INSIDE one row (no explode→reshuffle→collect round
    // trip — the plan is the q1 single-shuffle aggregate plus per-row
    // expressions), which is exactly how a 100 TB per-document pipeline
    // wants list work to run. Integer cents keep the folds exact; the
    // array-typed intermediates are projected to scalars (q34's checker
    // lesson).
    "q60_list_lambda" -> { (s, dir) =>
      T(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_custkey"))
        .agg(expr("sort_array(collect_list(cents))").as("l"))
        .select(col("o_custkey"),
          expr("size(filter(l, x -> x > 20000000))").as("n_big"),
          expr("array_join(transform(slice(l, 1, 5), x -> cast(x div 100 as string)), ',')")
            .as("first5_dollars"),
          expr("aggregate(filter(l, x -> x > 20000000), 0L, (a, x) -> a + x)")
            .as("big_cents_sum"))
        .orderBy("o_custkey")
    },

    // ---- q61: window frame EXCLUDE CURRENT ROW — DuckDB supports the
    // SQL:2016 EXCLUDE clause directly; Spark has no EXCLUDE, and the
    // honest algebraic translation is frame_agg − current_row
    // contribution (exact here because the frame sum is integer cents).
    // Note EXCLUDE CURRENT ROW removes ONLY the current row — peers at
    // the same ORDER BY value stay in the frame — which is precisely
    // what subtracting this row's own value/count yields. Same
    // one-shuffle O(1)-sliding-state plan as q48.
    "q61_frame_exclude" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .withColumn("daynum",
          datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01")))
            .cast("long"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("daynum"))
        .rangeBetween(-30, 0)
      o.select(col("o_custkey"), col("o_orderkey"), col("daynum"),
          (sum(col("cents")).over(w) - col("cents")).as("peer_cents"),
          (count(lit(1)).over(w) - lit(1L)).as("n_peers"))
        .orderBy("o_custkey", "daynum", "o_orderkey")
    },

    // ---- q62: star modifiers — DuckDB's `SELECT * EXCLUDE (...)
    // REPLACE (expr AS col)` projection shorthand. Spark 4 has the
    // EXCLUDE half natively (`* EXCEPT (...)`); REPLACE is spelled as
    // EXCEPT-then-reprojection, which is semantically identical (the
    // replaced column keeps its name, the rest of the star passes
    // through). Pure projection — no shuffle beyond the output sort,
    // and column pruning still reaches the scan.
    "q62_star_modifiers" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q62_orders")
      s.sql("""
        SELECT * EXCEPT (o_orderdate, o_orderpriority, o_totalprice),
               round(o_totalprice, 2) AS o_totalprice
        FROM graft_q62_orders
        ORDER BY o_orderkey""")
    },

    // ---- q63: SUMMARIZE — DuckDB's one-word table profiler, as a
    // programmatic per-column stats plan: count / nulls / exact
    // distinct / min / max per column, one aggregate per column
    // unioned. Each aggregate is a full-scan map-side-combinable pass
    // (Spark runs the union's branches as independent jobs over the
    // same cached scan); at 100 TB the swap is countDistinct →
    // approx_count_distinct — same plan shape, sketch merge instead of
    // exact set. Doubles are profiled as integer cents: double→string
    // casts format differently across engines, integers don't.
    "q63_summarize" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "cents")
      o.columns.toSeq.map { c =>
        o.agg(
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_v"),
          max(col(c)).cast("string").as("max_v"))
          .select(lit(c).as("col_name"), col("n"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
      }.reduce(_.unionByName(_)).orderBy("col_name")
    },

    // ---- q64: the rest of DuckDB's aggregate surface — mode,
    // bool_and/bool_or, bit_and/bit_or/bit_xor, skewness, kurtosis —
    // in one grouped pass. All are map-side-combinable single-shuffle
    // aggregates (mode's partial state is a value→count map; the
    // moment aggregates carry 4 power sums). Engine exactness:
    // mode(x, true) pins tie-breaks to the smallest value (the oracle
    // ranks (count DESC, value ASC) explicitly); Spark's skewness/
    // kurtosis are POPULATION moments while DuckDB's are
    // bias-corrected sample statistics, so the oracle derives the
    // population definitions from raw power sums instead of calling
    // DuckDB's aggregates.
    "q64_stats_ext" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .withColumn("q_int", col("l_quantity").cast("int"))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("mode(q_int, true)").as("mode_qty"),
          bool_and(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_quantity") > lit(49)).as("any_max"),
          bit_and(col("q_int")).as("band_qty"),
          bit_or(col("q_int")).as("bor_qty"),
          expr("bit_xor(q_int)").as("bxor_qty"),
          round(skewness(col("l_quantity")), 4).as("skew_qty"),
          round(kurtosis(col("l_quantity")), 4).as("kurt_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---- q65: GROUPING()/grouping_id() indicators — the rollup
    // companion q13 omits: with a NULLABLE group column, the output
    // NULL is ambiguous (real NULL data vs subtotal row) and the
    // GROUPING bit is the standard disambiguator. The derived `prio`
    // column is genuinely null for '1-URGENT' rows, so both NULL kinds
    // appear and the indicators are load-bearing. Same single Expand +
    // one-shuffle plan as q13.
    "q65_grouping_id" -> { (s, dir) =>
      T(s, dir, "orders")
        .withColumn("prio", expr("nullif(o_orderpriority, '1-URGENT')"))
        .rollup(col("o_orderstatus"), col("prio"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"),
          grouping(col("o_orderstatus")).cast("int").as("g_st"),
          grouping(col("prio")).cast("int").as("g_pr"),
          expr("grouping_id(o_orderstatus, prio)").cast("int").as("gid"))
        .select(col("o_orderstatus"), col("prio"), col("g_st"), col("g_pr"),
          col("gid"), col("n"), col("cents"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_last,
          col("prio").asc_nulls_last)
    },

    // ---- q66: named WINDOW clause — one window definition shared by
    // several functions (the SQL:2003 surface DuckDB users lean on for
    // wide window queries). All functions share the one definition, so
    // the planner computes a SINGLE Window operator over a single
    // sort — the plan-level point of the clause. Default RANGE frame;
    // o_orderkey is unique per partition, so the frame is
    // deterministic on both engines.
    "q66_window_clause" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q66_orders")
      s.sql("""
        SELECT o_custkey, o_orderkey,
               row_number() OVER w AS rn,
               sum(cents) OVER w AS run_cents,
               max(cents) OVER w AS max_cents
        FROM (SELECT o_custkey, o_orderkey,
                     cast(round(o_totalprice * 100) as bigint) AS cents
              FROM graft_q66_orders)
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        ORDER BY o_custkey, o_orderkey""")
    },

    // ---- q67: histogram profiling — DuckDB's histogram()/width_bucket
    // surface as explicit equi-width buckets (histogram()'s MAP output
    // is spelled as (bucket, stats) ROWS — the q34 lesson: the checker
    // cannot hash MAP/array columns). Bucket arithmetic is integer
    // cents with integer division (`div` here, `//` in DuckDB), so
    // bucket edges are exact on both engines. One map-combinable
    // aggregate over an 11-row bucket domain: at 100 TB this is a
    // single scan + a trivial shuffle of 11 partial rows per task.
    "q67_histogram" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .select(expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
        .select(expr("cast(least(cents div 1000000, 10) as int)").as("bucket"),
          col("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
        .orderBy("bucket")
    },

    // ---- q69: GROUPS window frame — the SQL:2016 frame mode where
    // peer rows with equal ORDER-BY values form one frame unit
    // (neither engine ships it: Spark has no GROUPS mode, DuckDB
    // 1.0's parser rejects it — verified live). Exact algebraic
    // translation, like q61's EXCLUDE: GROUPS BETWEEN 2 PRECEDING AND
    // CURRENT ROW ≡ dense_rank() the order values, then a RANGE frame
    // over that integer rank; the oracle spells the identical algebra
    // in DuckDB SQL, cross-checking the translation on both engines.
    // Both window passes share the one (custkey, orderdate)
    // partitioning — one exchange; the rank pass feeds the range pass
    // on the same sort order. Trailing sum over integer cents:
    // order-free within the frame, so engine-exact.
    "q69_groups_frame" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val wRank = Window.partitionBy("o_custkey").orderBy("o_orderdate")
      val wFrame = Window.partitionBy("o_custkey").orderBy("dr")
        .rangeBetween(-2, Window.currentRow)
      o.withColumn("dr", dense_rank().over(wRank))
        .withColumn("g3_cents", sum(col("cents")).over(wFrame))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("cents"), col("g3_cents"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },

    // ---- q70: DYNAMIC pivot — DuckDB's `PIVOT ... ON col` discovers
    // the output columns from the data; Spark's two-pass
    // `groupBy().pivot(col)` is the same contract (a bounded distinct
    // scan picks the columns, then one pivoting aggregate). q21 is the
    // static CASE-scaffolding twin; here the engine owns column
    // discovery. The distinct pass is bounded by the status-domain
    // cardinality — safe at any corpus size. Missing cells filled 0 on
    // both engines (integer cents throughout).
    "q70_dynamic_pivot" -> { (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderstatus"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .groupBy(col("o_custkey"))
        .pivot("o_orderstatus") // dynamic: values discovered by the engine
        .agg(sum(col("cents")))
        .na.fill(0L)
        .orderBy("o_custkey")
    },

    // ---- q71: MAP-typed surface — DuckDB's MAP construction/access
    // (map_from_entries, cardinality, map[key], contains) expressed
    // with Spark's map functions; every OUTPUT column scalar (the q34
    // lesson — the checker cannot hash map columns), so the oracle
    // spells the same contract as plain conditional aggregation. The
    // per-user map state is bounded by the event-type cardinality.
    "q71_map_funcs" -> { (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("n")))))
          .as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          coalesce(element_at(col("m"), "view"), lit(0L)).as("n_views"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchases"),
          expr("map_contains_key(m, 'click')").as("has_click"))
        .orderBy("user_id")
    },

    // ---- q72: frame EXCLUDE GROUP / EXCLUDE TIES — the rest of the
    // SQL:2016 exclusion clause (q61 translated EXCLUDE CURRENT ROW).
    // DuckDB executes these natively (the oracle), Spark lacks the
    // clause entirely; the exact algebra over a running RANGE frame:
    //   EXCLUDE GROUP = frame_sum − peer_group_sum
    //   EXCLUDE TIES  = frame_sum − peer_group_sum + current_row
    // where peer_group_sum is the SAME window with RANGE BETWEEN
    // CURRENT ROW AND CURRENT ROW (the peer group by definition) — so
    // all three passes share ONE partitioning and sort. Cents are
    // strictly positive, so an empty excluded frame is exactly the
    // sum-0 case and nullif restores SQL's empty-frame NULL.
    "q72_frame_exclude_group" -> { (s, dir) =>
      val o = T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01")))
            .cast("long").as("dk"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val w = Window.partitionBy("o_custkey").orderBy("dk")
      val run = sum(col("cents"))
        .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
      val grp = sum(col("cents"))
        .over(w.rangeBetween(Window.currentRow, Window.currentRow))
      o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("cents"), run.as("run_cents"), grp.as("grp_cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("cents"),
          expr("nullif(run_cents - grp_cents, 0)").as("ex_group_cents"),
          (col("run_cents") - col("grp_cents") + col("cents")).as("ex_ties_cents"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },

    // ---- q73: mode() — DuckDB's most-frequent-value aggregate, with
    // the tie made DETERMINISTIC (smallest value wins; DuckDB's
    // builtin leaves ties unspecified, so BOTH engines spell the
    // election explicitly — the q58 arg-extremes discipline). Two
    // map-combinable aggregates: value counts per group, then a
    // min_by over the (−count, value) struct comparator — one shuffle
    // each, no Window on the Spark side, no whole-group sort.
    "q73_mode" -> { (s, dir) =>
      val c = T(s, dir, "lineitem")
        .withColumn("qty", expr("cast(floor(l_quantity) as bigint)"))
        .groupBy("l_returnflag", "l_linestatus", "qty")
        .agg(count(lit(1)).as("cnt"))
      c.groupBy("l_returnflag", "l_linestatus").agg(
          expr("""min_by(named_struct('m', qty, 'c', cnt),
                         named_struct('nc', -cnt, 'm', qty))""").as("k"),
          sum("cnt").as("n_rows"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("k.m").as("mode_qty"), col("k.c").as("mode_n"),
          col("n_rows"), expr("k.c * 1000 div n_rows").as("mode_pm"))
        .orderBy("l_returnflag", "l_linestatus")
    }
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q2_filter_proj" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_quantity >= 45 AND l_discount > 0.05
      ORDER BY l_orderkey, l_linenumber""",

    "q3_join_agg" -> """
      SELECT l_orderkey,
             CAST(o_orderdate AS DATE) AS o_orderdate,
             o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""",

    "q4_exists" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q5_star_join" -> """
      SELECT n_name,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               / 100.0 AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""",

    "q6_cond_agg" -> """
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24""",

    "q7_anti" -> """
      SELECT c_custkey, c_name
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",

    "q8_distinct" -> """
      SELECT o_orderstatus,
             count(DISTINCT o_custkey) AS n_cust,
             count(*) AS n_orders
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "q9_sort_limit" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 25""",

    "q10_window_rank" -> """
      SELECT * FROM (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS drnk,
               CAST(row_number() OVER w AS INT) AS rn
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
      WHERE rnk <= 10
      ORDER BY c_mktsegment, rn""",

    "q11_window_running" -> """
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
             round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg
      FROM orders
      ORDER BY o_custkey, o_orderkey""",

    "q12_lag_lead" -> """
      SELECT user_id, event_id, event_type,
             lag(event_type) OVER w AS prev_type,
             lead(event_type) OVER w AS next_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",

    "q13_rollup" -> """
      SELECT r_name, n_name,
             round(sum(c_acctbal), 2) AS total_bal,
             count(*) AS n_cust
      FROM customer, nation, region
      WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",

    "q14_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority,
             round(sum(o_totalprice), 2) AS total_price,
             count(*) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",

    "q15_having" -> """
      SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) >= 5
      ORDER BY o_custkey""",

    "q16_case_bucket" -> """
      SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                  WHEN o_totalprice < 150000 THEN 'medium'
                  ELSE 'large' END AS bucket,
             count(*) AS n,
             round(avg(o_totalprice), 2) AS avg_price
      FROM orders
      GROUP BY 1
      ORDER BY bucket""",

    "q17_scalar_subq" -> """
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
        AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = part.p_partkey)""",

    "q18_in_subq" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY o_orderkey""",

    "q19_union" -> """
      SELECT nationkey, count(*) AS n
      FROM (SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
            UNION ALL
            SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier)
      GROUP BY nationkey
      ORDER BY nationkey""",

    "q20_cte" -> """
      WITH cust_orders AS (
        SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS spend
        FROM orders GROUP BY o_custkey)
      SELECT c_mktsegment,
             count(*) AS n_cust,
             round(avg(n), 4) AS avg_orders,
             round(avg(spend), 2) AS avg_spend
      FROM customer JOIN cust_orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q40_lateral" -> """
      SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC
        LIMIT 3
      ) o
      WHERE c.c_custkey < 20
      ORDER BY c.c_custkey, o.o_orderdate DESC, o.o_orderkey DESC""",

    "q43_full_outer" -> """
      WITH c AS (
        SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
      s AS (
        SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier
        WHERE s_suppkey % 3 = 0 GROUP BY 1)
      SELECT CAST(coalesce(c.k, s.k) AS BIGINT) AS nationkey,
             coalesce(n_cust, 0) AS n_cust,
             coalesce(n_supp, 0) AS n_supp
      FROM c FULL OUTER JOIN s ON c.k = s.k
      ORDER BY nationkey""",

    "q42_corr_subq" -> """
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer c
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
      ORDER BY c_custkey""",

    "q21_pivot" -> """
      SELECT o_orderstatus,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
             count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
             count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
             count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
             count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "q22_det_sample" -> """
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_orderkey % 20 = 3
      ORDER BY l_orderkey, l_linenumber""",

    "q23_topn_group" -> """
      SELECT * FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders)
      WHERE rn <= 3
      ORDER BY o_orderstatus, rn""",

    "q24_string_funcs" -> """
      SELECT c_custkey,
             upper(c_name) AS uname,
             substr(c_name, 1, 8) AS prefix8,
             CAST(length(c_name) AS INT) AS name_len,
             concat(c_mktsegment, ':', c_name) AS tagged,
             regexp_extract(c_name, '[0-9]+') AS digits,
             replace(c_name, '#', '-') AS dashed
      FROM customer
      WHERE c_name LIKE '%1%'
      ORDER BY c_custkey""",

    "q25_date_funcs" -> """
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(min(o_orderdate) AS DATE) AS first_day,
             CAST(max(o_orderdate) AS DATE) AS last_day,
             count(*) AS n,
             CAST(max(date_part('year', o_orderdate)) AS INT) AS yr,
             CAST(max(date_part('quarter', o_orderdate)) AS INT) AS qtr
      FROM orders
      GROUP BY 1
      ORDER BY month""",

    "q26_approx_distinct" -> """
      SELECT count(DISTINCT o_custkey) AS exact_cust,
             TRUE AS within_band
      FROM orders""",

    "q45_approx_percentile" -> """
      SELECT l_linestatus, count(*) AS n_rows,
             TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus""",

    "q27_stats" -> """
      SELECT l_returnflag,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(var_samp(l_quantity), 4) AS var_qty,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qe,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qe
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q28_percentile" -> """
      SELECT l_linestatus,
             round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25)) / 100 AS p25,
             round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)) / 100 AS p50,
             round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75)) / 100 AS p75
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus""",

    "q29_quack" -> """
      SELECT c_custkey, 'Quack ' || c_name || ' 🐥' AS quacked
      FROM customer
      ORDER BY c_custkey""",

    "q34_list_agg" -> """
      SELECT o_custkey,
             array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
             count(*) AS n
      FROM orders
      GROUP BY o_custkey
      ORDER BY o_custkey""",

    "q35_unnest" -> """
      WITH l AS (
        SELECT o_custkey, list_sort(list(o_orderkey)) AS ks
        FROM orders GROUP BY o_custkey)
      SELECT o_custkey, unnest(ks) AS k
      FROM l
      ORDER BY o_custkey, k""",

    "q37_json" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
             round(avg(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    "q36_setops" -> """
      SELECT 'both' AS tag, k FROM (
        SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000
        INTERSECT
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
      UNION ALL
      SELECT 'only_building' AS tag, k FROM (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000)
      ORDER BY tag, k""",

    "q46_lateral" -> """
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
      ) o
      WHERE c.c_custkey <= 300
      ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey""",

    "q47_unpivot" -> """
      WITH a AS (
        SELECT l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 4) AS avg_disc
        FROM lineitem GROUP BY 1)
      SELECT l_linestatus, metric, value
      FROM a UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
      ORDER BY l_linestatus, metric""",

    "q48_range_frame" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', DATE '1992-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS daynum,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT o_custkey, o_orderkey, daynum,
             -- CAST: DuckDB sum(BIGINT) yields HUGEINT, which lands in
             -- the checker's pandas frame as float64 while Spark's long
             -- sum stays int64 — same values, different hash (the r4
             -- q48 hash_match=false). BIGINT keeps both sides int64.
             CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY daynum
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_30d,
             count(*) OVER (PARTITION BY o_custkey ORDER BY daynum
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_30d
      FROM o
      ORDER BY o_custkey, daynum, o_orderkey""",

    "q49_distinct_on" -> """
      SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS o_orderdate,
             round(o_totalprice, 2) AS o_totalprice
      FROM (SELECT DISTINCT ON (o_custkey)
                   o_custkey, o_orderkey, o_orderdate, o_totalprice
            FROM orders
            ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC)
      ORDER BY o_custkey""",

    "q50_gap_fill" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 3 = 0
                    THEN round(o_totalprice, 2) END AS v
        FROM orders)
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM o
      ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q51_list_funcs" -> """
      WITH l AS (
        SELECT o_custkey,
               list_reverse_sort(list(round(o_totalprice, 2))) AS l
        FROM orders
        GROUP BY o_custkey)
      SELECT o_custkey,
             CAST(len(l) AS INT) AS n_orders,
             l[1] AS max_price,
             round(list_sum(l[1:3]), 2) AS top3_sum
      FROM l
      ORDER BY o_custkey""",

    "q52_agg_filter" -> """
      SELECT o_orderpriority,
             count(*) AS n,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
               AS spend_f
      FROM orders
      GROUP BY ALL
      ORDER BY o_orderpriority""",

    "q54_variant" -> """
      SELECT o_orderkey,
             CAST(o_custkey AS BIGINT) AS custkey,
             o_orderstatus AS status,
             round(o_totalprice, 2) AS price
      FROM orders
      ORDER BY o_orderkey""",

    "q55_positional_join" -> """
      WITH a AS (
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
      ar AS (
        SELECT o_orderkey, o_totalprice,
               CAST(row_number() OVER
                 (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn_a
        FROM a ORDER BY rn_a),
      b AS (
        SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
        FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 100),
      br AS (
        SELECT c_custkey, c_acctbal,
               CAST(row_number() OVER
                 (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn_b
        FROM b ORDER BY rn_b)
      SELECT coalesce(rn_a, rn_b) AS rn,
             o_orderkey, o_totalprice, c_custkey, c_acctbal
      FROM ar POSITIONAL JOIN br
      ORDER BY rn""",

    "q56_setops_all" -> """
      WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
      b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
      ia AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_both
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY k),
      ea AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_only_a
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY k)
      SELECT coalesce(ia.k, ea.k) AS k,
             coalesce(n_both, 0) AS n_both,
             coalesce(n_only_a, 0) AS n_only_a
      FROM ia FULL JOIN ea ON ia.k = ea.k
      ORDER BY k""",

    "q57_rank_dist" -> """
      WITH r AS (
        SELECT o_orderstatus, o_orderkey,
               round(o_totalprice, 2) AS o_totalprice,
               CAST(row_number() OVER w AS INT) AS rn,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey))
      SELECT o_orderstatus, o_orderkey, o_totalprice, rn, pct_rank, cume
      FROM r WHERE rn <= 20
      ORDER BY o_orderstatus, rn""",

    // DuckDB's arg_max/arg_min leave ties unspecified, so the oracle
    // spells the same deterministic selection as ranked windows (price
    // then orderkey, both directions matching the struct comparator).
    "q58_arg_extremes" -> """
      WITH r AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey DESC) AS rx,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC) AS rm
        FROM orders)
      SELECT o_orderpriority,
             count(*) AS n,
             CAST(max(CASE WHEN rx = 1 THEN o_orderkey END) AS BIGINT) AS top_order,
             CAST(max(CASE WHEN rm = 1 THEN o_orderkey END) AS BIGINT) AS bottom_order,
             round(max(o_totalprice), 2) AS max_price,
             round(min(o_totalprice), 2) AS min_price
      FROM r
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q59_string_agg" -> """
      SELECT n_regionkey,
             string_agg(n_name, ',' ORDER BY n_name) AS names,
             count(*) AS n
      FROM nation
      GROUP BY n_regionkey
      ORDER BY n_regionkey""",

    "q60_list_lambda" -> """
      WITH o AS (
        SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      g AS (
        SELECT o_custkey, list_sort(list(cents)) AS l
        FROM o GROUP BY o_custkey)
      SELECT o_custkey,
             CAST(length(list_filter(l, x -> x > 20000000)) AS INT) AS n_big,
             array_to_string(list_transform(l[1:5],
               x -> CAST(x // 100 AS VARCHAR)), ',') AS first5_dollars,
             coalesce(CAST(list_sum(list_filter(l, x -> x > 20000000))
               AS BIGINT), 0) AS big_cents_sum
      FROM g
      ORDER BY o_custkey""",

    // the real EXCLUDE CURRENT ROW clause — the surface under test
    "q61_frame_exclude" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', DATE '1992-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS daynum,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT o_custkey, o_orderkey, daynum,
             coalesce(CAST(sum(cents) OVER (PARTITION BY o_custkey
               ORDER BY daynum RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
               EXCLUDE CURRENT ROW) AS BIGINT), 0) AS peer_cents,
             count(*) OVER (PARTITION BY o_custkey
               ORDER BY daynum RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
               EXCLUDE CURRENT ROW) AS n_peers
      FROM o
      ORDER BY o_custkey, daynum, o_orderkey""",

    // the real EXCLUDE/REPLACE star modifiers — the surface under test
    "q62_star_modifiers" -> """
      SELECT * EXCLUDE (o_orderdate, o_orderpriority)
             REPLACE (round(o_totalprice, 2) AS o_totalprice)
      FROM orders
      ORDER BY o_orderkey""",

    // SUMMARIZE's semantics spelled per column (DuckDB's SUMMARIZE
    // output itself carries approx/quartile columns with engine-specific
    // formatting, so the oracle pins the deterministic stats subset)
    "q63_summarize" -> """
      WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      s AS (
        SELECT 'o_orderkey' AS col_name, count(*) AS n,
               sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_v,
               CAST(max(o_orderkey) AS VARCHAR) AS max_v
        FROM o
        UNION ALL
        SELECT 'o_custkey', count(*),
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        FROM o
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderstatus),
               min(o_orderstatus), max(o_orderstatus)
        FROM o
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderpriority),
               min(o_orderpriority), max(o_orderpriority)
        FROM o
        UNION ALL
        SELECT 'cents', count(*),
               sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT cents),
               CAST(min(cents) AS VARCHAR), CAST(max(cents) AS VARCHAR)
        FROM o)
      SELECT col_name, CAST(n AS BIGINT) AS n, CAST(n_null AS BIGINT) AS n_null,
             CAST(n_distinct AS BIGINT) AS n_distinct, min_v, max_v
      FROM s
      ORDER BY col_name""",

    // mode spelled as the deterministic (count DESC, value ASC) rank;
    // skewness/kurtosis spelled as POPULATION moments from raw power
    // sums (Spark's definition) — DuckDB's own skewness/kurtosis are
    // bias-corrected sample statistics and would mismatch by design
    "q64_stats_ext" -> """
      WITH li AS (
        SELECT l_returnflag, l_quantity, CAST(l_quantity AS INT) AS q_int
        FROM lineitem),
      md AS (
        SELECT l_returnflag, q_int AS mode_qty FROM (
          SELECT l_returnflag, q_int,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY count(*) DESC, q_int ASC) AS rn
          FROM li GROUP BY l_returnflag, q_int) WHERE rn = 1),
      mo AS (
        SELECT l_returnflag,
               count(*) AS n,
               avg(l_quantity) AS a,
               avg(l_quantity * l_quantity) AS s2,
               avg(l_quantity * l_quantity * l_quantity) AS s3,
               avg(l_quantity * l_quantity * l_quantity * l_quantity) AS s4,
               bool_and(l_quantity > 0) AS all_pos,
               bool_or(l_quantity > 49) AS any_max,
               bit_and(CAST(l_quantity AS INT)) AS band_qty,
               bit_or(CAST(l_quantity AS INT)) AS bor_qty,
               bit_xor(CAST(l_quantity AS INT)) AS bxor_qty
        FROM li GROUP BY l_returnflag)
      SELECT mo.l_returnflag, md.mode_qty,
             mo.all_pos, mo.any_max,
             mo.band_qty, mo.bor_qty, mo.bxor_qty,
             round((s3 - 3 * a * s2 + 2 * a * a * a)
               / power(s2 - a * a, 1.5), 4) AS skew_qty,
             round((s4 - 4 * a * s3 + 6 * a * a * s2 - 3 * a * a * a * a)
               / power(s2 - a * a, 2) - 3, 4) AS kurt_qty
      FROM mo JOIN md USING (l_returnflag)
      ORDER BY mo.l_returnflag""",

    "q65_grouping_id" -> """
      SELECT o_orderstatus, prio,
             CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
             CAST(GROUPING(prio) AS INT) AS g_pr,
             CAST(GROUPING(o_orderstatus, prio) AS INT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM (SELECT o_orderstatus,
                   nullif(o_orderpriority, '1-URGENT') AS prio,
                   o_totalprice
            FROM orders)
      GROUP BY ROLLUP (o_orderstatus, prio)
      ORDER BY gid, o_orderstatus NULLS LAST, prio NULLS LAST""",

    "q66_window_clause" -> """
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER w AS INT) AS rn,
             CAST(sum(cents) OVER w AS BIGINT) AS run_cents,
             max(cents) OVER w AS max_cents
      FROM (SELECT o_custkey, o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      ORDER BY o_custkey, o_orderkey""",

    "q67_histogram" -> """
      WITH c AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem)
      SELECT CAST(least(cents // 1000000, 10) AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             min(cents) AS min_cents, max(cents) AS max_cents
      FROM c
      GROUP BY bucket
      ORDER BY bucket""",

    "q69_groups_frame" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      d AS (
        SELECT *, dense_rank() OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate) AS dr
        FROM o)
      SELECT o_custkey, o_orderkey, o_orderdate, cents,
             CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY dr
               RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS g3_cents
      FROM d
      ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q70_dynamic_pivot" -> """
      WITH o AS (
        SELECT o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      p AS (PIVOT o ON o_orderstatus USING sum(cents) GROUP BY o_custkey)
      SELECT o_custkey,
             CAST(coalesce("F", 0) AS BIGINT) AS F,
             CAST(coalesce("O", 0) AS BIGINT) AS O,
             CAST(coalesce("P", 0) AS BIGINT) AS P
      FROM p
      ORDER BY o_custkey""",

    "q71_map_funcs" -> """
      SELECT user_id,
             CAST(count(DISTINCT event_type) AS INT) AS n_types,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
               AS n_views,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
             bool_or(event_type = 'click') AS has_click
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",

    "q72_frame_exclude_group" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT o_custkey, o_orderkey, o_orderdate, cents,
             CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE GROUP) AS BIGINT) AS ex_group_cents,
             CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               EXCLUDE TIES) AS BIGINT) AS ex_ties_cents
      FROM o
      ORDER BY o_custkey, o_orderdate, o_orderkey""",

    // q73: the deterministic mode spelled as the (cnt desc, value)
    // rank — DuckDB's builtin mode() leaves ties unspecified, so the
    // oracle states the election explicitly like the Spark side.
    "q73_mode" -> """
      WITH c AS (
        SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity) AS BIGINT) AS qty,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2, 3),
      r AS (
        SELECT *,
               row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                 ORDER BY cnt DESC, qty) AS rn,
               CAST(sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus)
                 AS BIGINT) AS n_rows
        FROM c)
      SELECT l_returnflag, l_linestatus, qty AS mode_qty,
             cnt AS mode_n, n_rows,
             CAST(cnt * 1000 // n_rows AS BIGINT) AS mode_pm
      FROM r WHERE rn = 1
      ORDER BY l_returnflag, l_linestatus"""
  )
}
