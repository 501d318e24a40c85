package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Functions.globMatch

/** Relational operator surface (SURVEY.md §2 Layer B): scans, projections,
  * filters, joins, aggregations, windows, sort/limit, set ops.
  *
  * Every query reads the driver parquet tables, produces a deterministic
  * result (explicit orderBy on a unique key, rounded doubles, UTC), and is
  * paired with an equivalent DuckDB oracle. Scale posture: filters/projections
  * are plain Catalyst expressions (pushed to the parquet scan), dimension
  * joins are broadcast explicitly, fact-fact joins shuffle on their keys.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary — the flagship query.
    * scan → filter (pushed) → hash agg (partial+final) → sort.
    */
  val q1 = GraftQuery(
    "q1_pricing_summary",
    "Pricing summary report: filtered scan + hash aggregate + sort (TPC-H Q1 shape)",
    (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // Money columns are 2-decimal fixed point: aggregate them in
          // DECIMAL (exact, summation-order-independent — deterministic on a
          // 1000-executor shuffle too), then surface as double.
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount")))).cast("double").as("sum_disc_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount"))) * (lit(1) + dec4(col("l_tax")))).cast("double").as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-06-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Projection + computed column + range/IN predicates (pushed to scan). */
  val q2 = GraftQuery(
    "q2_filter_project",
    "Filtered projection with computed revenue column; predicates push to the parquet scan",
    (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-03-01").cast("timestamp")
          && col("l_discount").between(0.02, 0.09)
          && col("l_returnflag").isin("A", "R"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (dec2(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount")))).cast("double").as("revenue"),
          col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-03-01 00:00:00'
        AND l_discount BETWEEN 0.02 AND 0.09
        AND l_returnflag IN ('A', 'R')
      ORDER BY l_orderkey, l_linenumber"""))

  /** Conditional projection (when/otherwise) + coalesce default — the shape of
    * the reference's list_crawlers display column (gluettalax.py:654-657) and
    * list_jobs nested default (gluettalax.py:678). */
  val q3 = GraftQuery(
    "q3_conditional_project",
    "CASE WHEN + COALESCE(NULLIF(...)) defaults, reference list-command projection shape",
    (s, dir) =>
      table(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "O", lit("open"))
            .when(col("o_orderstatus") === "F", lit("finished"))
            .otherwise(lit("other")).as("status_label"),
          coalesce(nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")), lit("-")).as("priority_or_dash"),
          when(col("o_totalprice") > 200000.0, col("o_totalprice"))
            .otherwise(lit(null).cast("double")).as("price_if_big"))
        .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN 'open'
                  WHEN o_orderstatus = 'F' THEN 'finished'
                  ELSE 'other' END AS status_label,
             COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), '-') AS priority_or_dash,
             CASE WHEN o_totalprice > 200000.0 THEN o_totalprice
                  ELSE NULL END AS price_if_big
      FROM orders
      ORDER BY o_orderkey"""))

  /** Shell-glob filter (fnmatch → rlike), the reference's pattern filter for
    * the list commands (gluettalax.py:799 / A17). */
  val q4 = GraftQuery(
    "q4_glob_filter",
    "fnmatch-style glob filter compiled to rlike (reference list_* pattern arg)",
    (s, dir) =>
      table(s, dir, "part")
        .filter(globMatch(col("p_name"), "large*"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey, p_name, p_brand
      FROM part
      WHERE p_name LIKE 'large%'
      ORDER BY p_partkey"""))

  /** Any-column-matches OR filter — reference list_partitions row filter
    * (gluettalax.py:742: keep row if ANY column matches the glob). */
  val q5 = GraftQuery(
    "q5_any_column_match",
    "OR-across-columns glob match (reference list_partitions row filter)",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val cols = Seq(col("c_name").cast("string"), col("c_mktsegment").cast("string"),
        col("c_custkey").cast("string"))
      c.filter(cols.map(x => globMatch(x, "*1?")).reduce(_ || _))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE regexp_matches(c_name, '^.*1.$')
         OR regexp_matches(c_mktsegment, '^.*1.$')
         OR regexp_matches(CAST(c_custkey AS VARCHAR), '^.*1.$')
      ORDER BY c_custkey"""))

  /** Broadcast dimension join: nation ⋈ region (both tiny → broadcast, no
    * shuffle of the probe side at scale). */
  val q6 = GraftQuery(
    "q6_join_broadcast",
    "Explicit broadcast hash join of two dimension tables",
    (s, dir) => {
      val nation = table(s, dir, "nation")
      val region = table(s, dir, "region")
      nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name"))
        .orderBy("n_nationkey")
    },
    Some("""
      SELECT n_nationkey, n_name, r_name AS region_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY n_nationkey"""))

  // q7_join_3way_topk RETIRED (r11 registry overlap audit): it was the
  // TPC-H Q3 shape with shifted dates, fully subsumed by the verbatim
  // q262_tpch_q3 the r10 sweep landed — same joins, same aggregate, same
  // output schema. One entry per capability; the broadcast-hint path it
  // demonstrated is pinned by q6/PlanSpec.

  /** Left outer join + per-customer order count (TPC-H Q13 shape). */
  // q8_left_outer_count RETIRED (r11 registry overlap audit): identical to
  // the verbatim q272_tpch_q13 modulo column aliases (the fixture has no
  // o_comment, so Q13's NOT LIKE filter vanishes and the two queries
  // collapsed to the same plan). One entry per capability.

  /** Left semi join — EXISTS. */
  val q9 = GraftQuery(
    "q9_semi_join",
    "Customers having at least one 'F' order (LEFT SEMI = EXISTS)",
    (s, dir) => {
      val cust = table(s, dir, "customer")
      val ord = table(s, dir, "orders").filter(col("o_orderstatus") === "F")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey"""))

  /** Left anti join — NOT EXISTS. */
  val q10 = GraftQuery(
    "q10_anti_join",
    "Customers with no orders at all (LEFT ANTI = NOT EXISTS)",
    (s, dir) => {
      val cust = table(s, dir, "customer")
      val ord = table(s, dir, "orders")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** Theta/range join: pairs of events by the same user within 10 minutes.
    * Equi on user_id (shuffles on user, bounded per-user fan-out) + range
    * predicate on ts — the scalable band-join shape. The pair predicate
    * runs inside whole-stage codegen; a grouped collect_list +
    * higher-order-function variant was measured 60 % slower because array
    * lambdas evaluate interpreted (~sum-of-n² per-user evals). */
  val q11 = GraftQuery(
    "q11_range_join",
    "Self band-join: event pairs of one user within a 10-minute window",
    (s, dir) => {
      // Banded interval join: joining on user_id alone pairs ALL of a
      // user's events (O(k²) per user — a hot user with 10^6 events at
      // 100 TB means 10^12 candidates) before the time filter prunes.
      // Bucketing time at the band width bounds candidates to genuinely
      // nearby events: ts2 ∈ [ts1, ts1+10m) ⇒ bucket(ts2) ∈ {b1, b1+1},
      // so e1 is replicated to 2 bucket keys and the join key becomes
      // (user_id, bucket) — each true pair matches exactly once, fan-out
      // follows the 20-minute event density, not per-user history size.
      val bucket = (t: org.apache.spark.sql.Column) => floor(unix_micros(t) / (600L * 1000 * 1000))
      val e = events(s, dir)
      val e1 = e.select(col("user_id"), col("event_id").as("id1"), col("ts").as("ts1"),
          explode(array(bucket(col("ts")), bucket(col("ts")) + 1)).as("b"))
      val e2 = e.select(col("user_id"), col("event_id").as("id2"), col("ts").as("ts2"),
          bucket(col("ts")).as("b"))
      e1.join(e2, Seq("user_id", "b"))
        .filter(col("id1") < col("id2")
          && col("ts2") >= col("ts1")
          && col("ts2") < col("ts1") + expr("INTERVAL 10 MINUTES"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
    Some("""
      SELECT e1.user_id, count(*) AS n_pairs
      FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
      WHERE e1.event_id < e2.event_id
        AND e2.ts >= e1.ts
        AND e2.ts < e1.ts + INTERVAL 10 MINUTE
      GROUP BY e1.user_id
      ORDER BY e1.user_id"""))

  /** Bounded cross join (cartesian of two tiny dims). */
  val q12 = GraftQuery(
    "q12_cross_join",
    "Bounded cartesian product of two dimension tables",
    (s, dir) => {
      val nation = table(s, dir, "nation").select(col("n_name"))
      val region = table(s, dir, "region").select(col("r_name"))
      nation.crossJoin(region)
        .select(col("n_name"), col("r_name"))
        .orderBy("n_name", "r_name")
    },
    Some("""
      SELECT n_name, r_name
      FROM nation CROSS JOIN region
      ORDER BY n_name, r_name"""))

  /** Exact count-distinct per group. */
  val q13 = GraftQuery(
    "q13_count_distinct",
    "COUNT(DISTINCT) per group (expand + two-phase hash agg)",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus"),
    Some("""
      SELECT o_orderstatus,
             count(DISTINCT o_custkey) AS n_customers,
             count(*) AS n_orders
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** Approximate count-distinct (HyperLogLog++). Raw sketch estimates are
    * engine-version-specific, so the estimate folds into `est_ok` —
    * |approx − exact| ≤ 5%·exact (5σ at rsd 0.01) — which the DuckDB
    * oracle asserts as literal TRUE while recomputing the exact count
    * (the q62 bound-folding pattern): the HLL++ path is fully exercised
    * AND hash-gated at every scale. */
  val q14 = GraftQuery(
    "q14_approx_count_distinct",
    "approx_count_distinct (HLL++) per group, estimate hash-gated via a 5% error bound",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")) * 20 <=
            col("exact_orders")).as("est_ok"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             TRUE AS est_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** ROLLUP with grouping_id — hierarchical totals. */
  val q15 = GraftQuery(
    "q15_rollup",
    "ROLLUP(status, priority) with grouping id and subtotal rows",
    (s, dir) =>
      table(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** CUBE — all grouping-set combinations. */
  val q16 = GraftQuery(
    "q16_cube",
    "CUBE(status, priority): all grouping sets in one pass",
    (s, dir) =>
      table(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
             count(*) AS n
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** Window top-1-per-group: the reference's "most recent run per job"
    * (print_job_runs, gluettalax.py:329-345 / A8). */
  val q17 = GraftQuery(
    "q17_latest_per_group",
    "row_number window: latest order per customer (reference print_job_runs shape)",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_orderdate"), desc("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders)
      WHERE rn = 1
      ORDER BY o_custkey"""))

  /** lag/lead: millisecond gap to the previous event of the same user. */
  val q18 = GraftQuery(
    "q18_lag_lead",
    "LAG window: per-user inter-event gap in milliseconds",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("next_id", lead(col("event_id"), 1).over(w))
        .select(col("event_id"), col("user_id"),
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))).as("gap_ms"),
          col("next_id"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id,
             epoch_ms(CAST(ts AS TIMESTAMP)) - epoch_ms(lag(CAST(ts AS TIMESTAMP), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms,
             lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id
      FROM events
      ORDER BY event_id"""))

  /** Running sum over an explicit rows frame. */
  val q19 = GraftQuery(
    "q19_running_sum",
    "Cumulative sum per customer over a rows-unbounded-preceding frame",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_total"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders
      ORDER BY o_orderkey"""))

  /** ORDER BY + LIMIT → TakeOrderedAndProject (no global sort at scale). */
  val q20 = GraftQuery(
    "q20_topk",
    "Global top-20 by price (plans as TakeOrderedAndProject, not a full sort)",
    (s, dir) =>
      table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(20),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20"""))

  /** DISTINCT (the reference's dirname dedup, gluettalax.py:405 / A13). */
  val q21 = GraftQuery(
    "q21_distinct",
    "DISTINCT projection + sort (reference bulk-discovery dirname dedup)",
    (s, dir) =>
      table(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority"),
    Some("""
      SELECT DISTINCT o_orderstatus, o_orderpriority
      FROM orders
      ORDER BY o_orderstatus, o_orderpriority"""))

  /** UNION (set semantics). */
  val q22 = GraftQuery(
    "q22_union",
    "UNION of customer and supplier nation keys (dedup union)",
    (s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey"),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey"""))

  /** INTERSECT. */
  val q23 = GraftQuery(
    "q23_intersect",
    "INTERSECT of customer and supplier nation keys",
    (s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey"""))

  /** EXCEPT. */
  val q24 = GraftQuery(
    "q24_except",
    "EXCEPT: nations with customers but no suppliers",
    (s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey"""))

  /** Explicit GROUPING SETS (the general form of rollup/cube), via SQL. */
  val q37 = GraftQuery(
    "q37_grouping_sets",
    "GROUPING SETS ((status), (priority), ()) in one aggregation pass",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** TPC-H Q5-shaped 5-way join: region→nation (broadcast dims) ⋈ customer
    * ⋈ orders ⋈ lineitem, revenue per nation. Dim chain broadcasts; the
    * two fact joins shuffle on their keys. */
  val q38 = GraftQuery(
    "q38_tpch_q5_multijoin",
    "5-table star join with broadcast dims + fact shuffles (TPC-H Q5 shape)",
    (s, dir) => {
      val region = table(s, dir, "region").filter(col("r_name").isin("ASIA", "EUROPE"))
      val nation = table(s, dir, "nation")
      val cust = table(s, dir, "customer")
      val ord = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = table(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount")))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name IN ('ASIA', 'EUROPE')
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""))

  /** As-of join: for each event, the most recent order of the same
    * customer at-or-before the event time (the reference's
    * latest-run-per-job generalized to two tables).
    *
    * Implemented as the union-merge as-of: tag both tables, union into one
    * per-user stream sorted by (time, orders-before-events, orderkey), and
    * carry the last order seen with `last(_, ignoreNulls)` over a running
    * row frame. ONE shuffle of |events|+|orders| rows and no join fan-out —
    * the naive equi-join + window-top-1 materializes |event × user's prior
    * orders| intermediates (quadratic for active users; measured 1.6 s vs
    * 0.9 s at sf0.1), and at 100 TB that skew is fatal. This union-sort
    * shape is how kdb/Flink/QuestDB implement ASOF JOIN. */
  val q39 = GraftQuery(
    "q39_asof_join",
    "As-of join: latest order at-or-before each event per user (union-merge, no fan-out)",
    (s, dir) => {
      val e = events(s, dir).select(
        col("user_id"),
        col("ts").cast("timestamp_ntz").as("t"),
        col("event_id"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("timestamp_ntz").as("o_orderdate"),
        lit(0).as("is_order"))
      val o = table(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp_ntz").as("t"),
        lit(null).cast("long").as("event_id"),
        col("o_orderkey"),
        col("o_orderdate"),
        lit(1).as("is_order"))
      // at equal time an order sorts before the event (inclusive <=); among
      // same-time orders ascending orderkey makes `last` pick the max key
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), desc("is_order"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.union(e)
        .withColumn("last_o",
          last(when(col("is_order") === 1,
            struct(col("o_orderkey"), col("o_orderdate"))), ignoreNulls = true).over(w))
        .filter(col("is_order") === 0 && col("last_o").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("last_o.o_orderkey").as("o_orderkey"),
          col("last_o.o_orderdate").as("o_orderdate"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, o_orderkey, o_orderdate
      FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                   row_number() OVER (PARTITION BY e.event_id
                     ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
            FROM events e
            JOIN orders o ON e.user_id = o.o_custkey
                         AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP))
      WHERE rn = 1
      ORDER BY event_id"""))

  /** Pivot: order counts per priority × status (wide form). */
  val q41 = GraftQuery(
    "q41_pivot",
    "Pivot o_orderstatus into columns: counts per priority × status",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        .orderBy("o_orderpriority"),
    Some("""
      SELECT o_orderpriority,
             count(*) FILTER (o_orderstatus = 'F') AS n_f,
             count(*) FILTER (o_orderstatus = 'O') AS n_o,
             count(*) FILTER (o_orderstatus = 'P') AS n_p
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** Exact percentiles + min/max/stddev per group. */
  val q42 = GraftQuery(
    "q42_percentiles",
    "Exact interpolated percentiles (median, p90) + stddev per return flag",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price,
             round(stddev_samp(l_extendedprice), 2) AS sd_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Scalar + correlated subqueries (SQL surface). */
  val q43 = GraftQuery(
    "q43_scalar_subquery",
    "Orders above the global average price; per-status share via scalar subquery",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_sq")
      s.sql("""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders_sq
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders_sq)
        ORDER BY o_orderkey""")
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
      ORDER BY o_orderkey"""))

  /** Multiset (bag) set ops: UNION ALL / EXCEPT ALL keep duplicates. */
  val q44 = GraftQuery(
    "q44_multiset_ops",
    "UNION ALL + EXCEPT ALL (bag semantics) over nation keys",
    (s, dir) => {
      val c = table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = table(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(sup) // bag union
        .exceptAll(sup) // removes one occurrence per supplier row
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n"))
        .orderBy("nationkey")
    },
    Some("""
      SELECT nationkey, count(*) AS n
      FROM (SELECT c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT s_nationkey FROM supplier
            EXCEPT ALL
            SELECT s_nationkey FROM supplier)
      GROUP BY nationkey
      ORDER BY nationkey"""))

  /** RANGE frame: for each order, total of the customer's orders within
    * the preceding 90 days (value-based frame, vs q19's rows frame). */
  val q45 = GraftQuery(
    "q45_range_frame",
    "RANGE BETWEEN window frame: 90-day trailing spend per customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90L * 86400, 0)
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("trailing_90d"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_90d
      FROM orders
      ORDER BY o_orderkey"""))

  /** Value window functions: first/last/nth value + ntile. */
  val q46 = GraftQuery(
    "q46_value_windows",
    "first_value/last_value/nth_value/ntile over per-customer order history",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(wFull).as("first_order"),
          last(col("o_orderkey")).over(wFull).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_order"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             first_value(o_orderkey) OVER w_full AS first_order,
             last_value(o_orderkey) OVER w_full AS last_order,
             nth_value(o_orderkey, 2) OVER w_full AS second_order,
             ntile(4) OVER w_ord AS quartile
      FROM orders
      WINDOW w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_orderkey"""))

  /** Approximate percentiles — the sketch path of q42: exact percentile
    * needs the group's values materialized (a sort or full collection per
    * group); approx_percentile merges bounded KLL-style sketches map-side,
    * so memory is O(sketch) however large the group — the only viable
    * quantile at 100 TB. Sketch merge order varies with partitioning, so
    * each approx value folds into a rank-window bound (the q62 pattern):
    * the sketch guarantees rank error ≤ 1/accuracy = 0.1%, and the fold
    * asserts the returned value sits between the EXACT quantiles at
    * q ∓ 2% — a 20× margin — which the DuckDB oracle asserts as literal
    * TRUE (q42 remains the exact oracle-checked twin). */
  val q53 = GraftQuery(
    "q53_approx_percentiles",
    "approx_percentile per return flag, values hash-gated via exact rank-window bounds",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("pcts"),
          expr("percentile(l_extendedprice, array(0.48, 0.52, 0.88, 0.92))").as("ex"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          (element_at(col("pcts"), 1) >= element_at(col("ex"), 1) &&
            element_at(col("pcts"), 1) <= element_at(col("ex"), 2)).as("med_ok"),
          (element_at(col("pcts"), 2) >= element_at(col("ex"), 3) &&
            element_at(col("pcts"), 2) <= element_at(col("ex"), 4)).as("p90_ok"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, count(*) AS n, TRUE AS med_ok, TRUE AS p90_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Schema evolution union: two batches with different column sets
    * (a new pipeline version added a column) combined by NAME, missing
    * columns null-filled — `union` by position would silently mis-align.
    * The daily reality of long-lived ingestion at scale. */
  val q54 = GraftQuery(
    "q54_union_by_name",
    "unionByName(allowMissingColumns) across evolved schemas + per-batch audit",
    (s, dir) => {
      val v1 = table(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), lit("v1").as("batch"))
      val v2 = table(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderpriority"), col("o_orderkey"),
          dec2(col("o_totalprice")).cast("double").as("total"), lit("v2").as("batch"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy("batch")
        .agg(count(lit(1)).as("n"),
          count(col("total")).as("n_with_total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("batch")
    },
    Some("""
      WITH u AS (
        SELECT o_orderkey, o_orderpriority, 'v1' AS batch, NULL::DOUBLE AS total
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL BY NAME
        SELECT o_orderpriority, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS total,
               'v2' AS batch
        FROM orders WHERE o_orderkey % 2 = 1)
      SELECT batch, count(*) AS n, count(total) AS n_with_total,
             max(o_orderkey) AS max_key
      FROM u GROUP BY batch ORDER BY batch"""))

  /** rank vs dense_rank (SURVEY §2 windows row): gap semantics on ties.
    * Price ties make the two diverge; output holds every row with
    * rank ≤ 3 (a tie-closed set, deterministic without a tiebreak — unlike
    * row_number, which is why it's absent here and q17 carries one). */
  val q50 = GraftQuery(
    "q50_rank_dense_rank",
    "rank + dense_rank per order priority (tie-gap semantics, top-3 by rank)",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("price").desc)
      table(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          dec2(col("o_totalprice")).as("price"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("price").cast("double").as("price"), col("rnk"), col("drnk"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
    Some("""
      SELECT o_orderpriority, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY CAST(o_totalprice AS DECIMAL(14,2)) DESC)
      QUALIFY rnk <= 3
      ORDER BY o_orderpriority, o_orderkey"""))

  /** UNPIVOT (melt): the inverse of q41's pivot — wide per-nation metric
    * columns back to (nation, metric, value) long form. Spark's native
    * unpivot is a zero-shuffle projection+generate (each input row emits
    * its metric rows locally), so at scale it's embarrassingly parallel —
    * the shape that matters when normalizing thousands of metric columns
    * into a feature store. */
  val q63 = GraftQuery(
    "q63_unpivot",
    "unpivot/melt wide per-nation metrics to long (nation, metric, value) form",
    (s, dir) => {
      val c = table(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec2(col("c_acctbal"))).cast("double").as("customer_balance"))
      val sup = table(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(dec2(col("s_acctbal"))).cast("double").as("supplier_balance"))
      c.join(sup, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_customers").cast("double"), lit(0.0)).as("n_customers"),
          coalesce(col("customer_balance"), lit(0.0)).as("customer_balance"),
          coalesce(col("n_suppliers").cast("double"), lit(0.0)).as("n_suppliers"),
          coalesce(col("supplier_balance"), lit(0.0)).as("supplier_balance"))
        .unpivot(Array(col("nationkey")), "metric", "value")
        .orderBy("nationkey", "metric")
    },
    Some("""
      WITH w AS (
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               COALESCE(CAST(c.n_customers AS DOUBLE), 0.0) AS n_customers,
               COALESCE(c.customer_balance, 0.0) AS customer_balance,
               COALESCE(CAST(s.n_suppliers AS DOUBLE), 0.0) AS n_suppliers,
               COALESCE(s.supplier_balance, 0.0) AS supplier_balance
        FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers,
                     CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS customer_balance
              FROM customer GROUP BY 1) c
        FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
                          CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS supplier_balance
                   FROM supplier GROUP BY 1) s USING (nationkey))
      SELECT nationkey, metric, value FROM (
        SELECT nationkey, 'n_customers' AS metric, n_customers AS value FROM w
        UNION ALL SELECT nationkey, 'customer_balance', customer_balance FROM w
        UNION ALL SELECT nationkey, 'n_suppliers', n_suppliers FROM w
        UNION ALL SELECT nationkey, 'supplier_balance', supplier_balance FROM w)
      ORDER BY nationkey, metric"""))

  /** Salted skew join — the MANUAL hot-key mitigation for when AQE can't
    * help (skew introduced upstream of the join, or a streaming/bucketed
    * stage where runtime re-planning is off). The hot side's key space is
    * widened with a DETERMINISTIC salt (hash-derived, so replays agree),
    * the small side is replicated once per salt value, and the join runs
    * on (key, salt) — a hot key's rows now land on SALT shuffle partitions
    * instead of one. Results are provably identical to the unsalted join
    * (the oracle IS the plain join), and the replicated side's size grows
    * only SALT× — the knob a 100 TB pipeline turns when one user_id holds
    * 1% of all events. */
  val q75 = GraftQuery(
    "q75_salted_join",
    "Skew-salted equi-join (salt=8): events ⋈ customer revenue by segment == plain join",
    (s, dir) => {
      val salt = 8
      val ev = events(s, dir)
        .select(col("user_id"), col("value"))
        // deterministic per-row salt: same row -> same salt on every replay
        .withColumn("salt", pmod(xxhash64(col("user_id"), col("value")), lit(salt)))
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt", explode(sequence(lit(0L), lit((salt - 1).toLong))))
      ev.join(cust,
          ev("user_id") === cust("c_custkey") && ev("salt") === cust("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_events,
             round(sum(value), 2) AS total_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** ANSI three-valued NULL semantics in negated membership — the classic
    * production data-loss trap: `NOT IN (subquery)` returns ZERO rows the
    * moment the subquery yields a single NULL (x <> NULL is UNKNOWN, so no
    * row can prove membership-absence), while `NOT EXISTS` with an
    * equality correlation is null-safe and returns the true complement.
    * Both engines implement the standard, so the oracle pins BOTH counts:
    * a query rewrite (or an engine that "fixed" NOT IN) would break the
    * hash. Catalyst plans the NOT IN as a null-aware anti join — the
    * single-key form stays a hash join, not the O(n²) fallback. */
  val q80 = GraftQuery(
    "q80_null_semantics_antijoin",
    "NOT IN vs NOT EXISTS under a NULL-bearing subquery: poisoned 0 vs true complement",
    (s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("g80_customer")
      table(s, dir, "orders").createOrReplaceTempView("g80_orders")
      s.sql("""
        WITH excl AS (
          SELECT o_custkey AS k FROM g80_orders WHERE o_totalprice > 250000
          UNION ALL SELECT CAST(NULL AS BIGINT)),
        a AS (SELECT count(*) AS n_not_in FROM g80_customer
              WHERE c_custkey NOT IN (SELECT k FROM excl)),
        b AS (SELECT count(*) AS n_not_exists FROM g80_customer c
              WHERE NOT EXISTS (SELECT 1 FROM excl e WHERE e.k = c.c_custkey))
        SELECT a.n_not_in, b.n_not_exists FROM a CROSS JOIN b""")
    },
    Some("""
      WITH excl AS (
        SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000
        UNION ALL SELECT CAST(NULL AS BIGINT)),
      a AS (SELECT count(*) AS n_not_in FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM excl)),
      b AS (SELECT count(*) AS n_not_exists FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM excl e WHERE e.k = c.c_custkey))
      SELECT a.n_not_in, b.n_not_exists FROM a CROSS JOIN b"""))

  /** As-of join, full direction surface (the pandas `merge_asof` API q39
    * only covers the default of): BACKWARD (latest order at-or-before),
    * FORWARD (earliest strictly-after), NEAREST (smaller absolute gap,
    * tie → backward), all under a 7-day tolerance that nulls matches
    * outside the horizon. Same union-merge shape as q39 — both directions
    * come from ONE sort: the merged stream is windowed once per user and
    * backward/forward are `last`/`first` over the preceding/following
    * frames of the same ordering, so there is no per-event fan-out join
    * and no second shuffle. Gap arithmetic is integer epoch-micros →
    * deterministic tie-breaks, fully oracle-checked. At equal timestamps
    * an order sorts before the event: backward is inclusive, forward is
    * strictly-after — one consistent rule in both engines. */
  val q87 = GraftQuery(
    "q87_asof_directions",
    "As-of join backward/forward/nearest with 7-day tolerance (one sort, no fan-out)",
    (s, dir) => {
      val tolUs = 7L * 24 * 3600 * 1000000L
      val e = events(s, dir).select(
        col("user_id"),
        col("ts").as("t"),
        col("event_id"),
        lit(null).cast("long").as("o_orderkey"),
        lit(0).as("is_order"))
      val o = table(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("t"),
        lit(null).cast("long").as("event_id"),
        col("o_orderkey"),
        lit(1).as("is_order"))
      val base = Window.partitionBy("user_id")
        .orderBy(col("t"), desc("is_order"), col("o_orderkey"))
      val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val orderStruct = when(col("is_order") === 1,
        struct(unix_micros(col("t")).as("tu"), col("o_orderkey")))
      o.union(e)
        .withColumn("bo", last(orderStruct, ignoreNulls = true).over(wb))
        .withColumn("fo", first(orderStruct, ignoreNulls = true).over(wf))
        .filter(col("is_order") === 0)
        .withColumn("etu", unix_micros(col("t")))
        .withColumn("back_key",
          when(col("bo").isNotNull && col("etu") - col("bo.tu") <= tolUs,
            col("bo.o_orderkey")))
        .withColumn("fwd_key",
          when(col("fo").isNotNull && col("fo.tu") - col("etu") <= tolUs,
            col("fo.o_orderkey")))
        .withColumn("near_key",
          when(col("back_key").isNotNull && (col("fwd_key").isNull ||
              col("etu") - col("bo.tu") <= col("fo.tu") - col("etu")),
            col("back_key")).otherwise(col("fwd_key")))
        .select(col("event_id"), col("user_id"),
          col("back_key"), col("fwd_key"), col("near_key"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
                 FROM events),
      b AS (SELECT event_id, o_orderkey AS back_key, bt FROM (
              SELECT e.event_id, o.o_orderkey,
                     CAST(o.o_orderdate AS TIMESTAMP) AS bt,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM e JOIN orders o ON o.o_custkey = e.user_id
                AND CAST(o.o_orderdate AS TIMESTAMP) <= e.t
                AND CAST(o.o_orderdate AS TIMESTAMP) >= e.t - INTERVAL '7 days')
            WHERE rn = 1),
      f AS (SELECT event_id, o_orderkey AS fwd_key, ft FROM (
              SELECT e.event_id, o.o_orderkey,
                     CAST(o.o_orderdate AS TIMESTAMP) AS ft,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
              FROM e JOIN orders o ON o.o_custkey = e.user_id
                AND CAST(o.o_orderdate AS TIMESTAMP) > e.t
                AND CAST(o.o_orderdate AS TIMESTAMP) <= e.t + INTERVAL '7 days')
            WHERE rn = 1)
      SELECT e.event_id, e.user_id, b.back_key, f.fwd_key,
             CASE WHEN b.back_key IS NOT NULL AND (f.fwd_key IS NULL OR
                       epoch_us(e.t) - epoch_us(b.bt)
                         <= epoch_us(f.ft) - epoch_us(e.t))
                  THEN b.back_key ELSE f.fwd_key END AS near_key
      FROM e
      LEFT JOIN b USING (event_id)
      LEFT JOIN f USING (event_id)
      ORDER BY event_id"""))

  /** Correlated subquery decorrelation: q43 covers the UNcorrelated scalar
    * subquery; this exercises the two rewrites Catalyst applies to
    * correlated ones — RewriteCorrelatedScalarSubquery (each correlated
    * aggregate becomes a per-key aggregate joined back on the correlation
    * key) and RewritePredicateSubquery (EXISTS becomes a left-semi join).
    * Orders that exceed 1.5× their own customer's average order value, for
    * customers that also have at least one OTHER order in status 'F'.
    *
    * The threshold compare is an integer cross-multiplication in cents
    * (2·p·n > 3·Σp), never a float avg — a double avg's partial-sum order
    * differs between engines at the ulp and can flip boundary rows (the
    * q83/t23 lesson applied to a correlated predicate). At scale the
    * decorrelated shape is three shuffles on o_custkey (agg + two joins),
    * which AQE collapses onto one exchange reuse — the reason to WANT the
    * rewrite rather than per-row subquery execution. */
  val q95 = GraftQuery(
    "q95_correlated_agg",
    "Correlated scalar-agg + EXISTS decorrelation: orders above 1.5x their customer's average",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_ca")
      s.sql("""
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice
        FROM orders_ca o
        WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) * 2 *
                (SELECT count(*) FROM orders_ca o2
                 WHERE o2.o_custkey = o.o_custkey)
              > 3 * (SELECT sum(CAST(round(o3.o_totalprice * 100) AS BIGINT))
                     FROM orders_ca o3
                     WHERE o3.o_custkey = o.o_custkey)
          AND EXISTS (SELECT 1 FROM orders_ca o4
                      WHERE o4.o_custkey = o.o_custkey
                        AND o4.o_orderkey <> o.o_orderkey
                        AND o4.o_orderstatus = 'F')
        ORDER BY o.o_orderkey""")
    },
    Some("""
      SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice
      FROM orders o
      WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) * 2 *
              (SELECT count(*) FROM orders o2
               WHERE o2.o_custkey = o.o_custkey)
            > 3 * (SELECT CAST(sum(CAST(round(o3.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   FROM orders o3
                   WHERE o3.o_custkey = o.o_custkey)
        AND EXISTS (SELECT 1 FROM orders o4
                    WHERE o4.o_custkey = o.o_custkey
                      AND o4.o_orderkey <> o.o_orderkey
                      AND o4.o_orderstatus = 'F')
      ORDER BY o.o_orderkey"""))

  /** Fuzzy entity resolution — the record-linkage join family the rest of
    * the join surface doesn't reach. A dirty side is derived by deleting one
    * md5-determined character from each distinct part name (the corrupted-
    * duplicate protocol record-linkage benchmarks use), then resolved back:
    * candidate pairs come ONLY from equality on a 3-char prefix or suffix
    * blocking key — a single deletion in a name of length ≥ 6 always leaves
    * at least one of the two intact (pigeonhole, the d4/m10 argument), so
    * blocking recall is 1.0 by construction, never sampled — and the O(n²)
    * levenshtein verify runs on blocked candidates only. Best match per
    * dirty name = (distance, name) argmin, deterministic. At scale both
    * blocking joins are plain equi-joins keyed on the 3-char block; only
    * (name, block-key) pairs shuffle, and the edit-distance never leaves
    * the candidate set.
    */
  val q98 = GraftQuery(
    "q98_fuzzy_match",
    "Fuzzy entity resolution: deletion-dirtied names via prefix/suffix blocking + levenshtein verify",
    (s, dir) => {
      val clean = table(s, dir, "part").select(col("p_name")).distinct()
      val dirty = clean
        .withColumn("pos",
          (expr("CAST(conv(substring(md5(p_name), 1, 15), 16, 10) AS BIGINT)")
            % length(col("p_name")) + 1).cast("int"))
        .select(expr(
          "concat(substring(p_name, 1, pos - 1), substring(p_name, pos + 1))")
          .as("dirty_name"))
        .distinct()
      def blocked(df: org.apache.spark.sql.DataFrame, c: String) =
        df.select(col(c), substring(col(c), 1, 3).as("bk"))
          .union(df.select(col(c),
            expr(s"substring($c, length($c) - 2, 3)").as("bk")))
      val cands = blocked(dirty, "dirty_name")
        .join(blocked(clean, "p_name"), "bk")
        .select("dirty_name", "p_name").distinct()
      cands
        .withColumn("dist", levenshtein(col("dirty_name"), col("p_name")))
        .filter(col("dist") <= 2)
        .groupBy("dirty_name")
        .agg(
          min(struct(col("dist"), col("p_name"))).as("b"),
          count(lit(1)).as("n_candidates"))
        .select(
          col("dirty_name"),
          col("b.p_name").as("best_match"),
          col("b.dist").cast("long").as("best_distance"),
          col("n_candidates"))
        .orderBy("dirty_name")
    },
    Some("""
      WITH clean AS (SELECT DISTINCT p_name FROM part),
      d0 AS (SELECT p_name,
               CAST((CAST(concat('0x', substr(md5(p_name), 1, 15)) AS BIGINT)
                     % length(p_name)) + 1 AS INT) AS pos
             FROM clean),
      dirty AS (SELECT DISTINCT
                  substr(p_name, 1, pos - 1) || substr(p_name, pos + 1) AS dirty_name
                FROM d0),
      dk AS (SELECT dirty_name, substr(dirty_name, 1, 3) AS bk FROM dirty
             UNION
             SELECT dirty_name, substr(dirty_name, length(dirty_name) - 2, 3) FROM dirty),
      ck AS (SELECT p_name, substr(p_name, 1, 3) AS bk FROM clean
             UNION
             SELECT p_name, substr(p_name, length(p_name) - 2, 3) FROM clean),
      cand AS (SELECT DISTINCT dirty_name, p_name FROM dk JOIN ck USING (bk)),
      v AS (SELECT dirty_name, p_name,
                   CAST(levenshtein(dirty_name, p_name) AS BIGINT) AS dist
            FROM cand WHERE levenshtein(dirty_name, p_name) <= 2),
      b AS (SELECT dirty_name, p_name, dist,
                   row_number() OVER (PARTITION BY dirty_name
                                      ORDER BY dist, p_name) AS rn,
                   count(*) OVER (PARTITION BY dirty_name) AS n_candidates
            FROM v)
      SELECT dirty_name, p_name AS best_match, dist AS best_distance, n_candidates
      FROM b WHERE rn = 1
      ORDER BY dirty_name"""))

  /** Full second-moment statistical profile in ONE aggregation pass — the
    * column-relationship report a feature-engineering or drift pipeline
    * computes before trusting a numeric column pair: correlation,
    * covariances, both stddev forms, and the least-squares line
    * (slope/intercept/R²) per group. Every statistic is a moment sketch
    * (sums of x, y, x², y², xy, n) — Spark's partial-aggregate machinery
    * merges them map-side, so at 100 TB this is one scan + one tiny
    * shuffle of 6 doubles per group, NOT seven separate jobs; adding a
    * statistic is free once the moments flow. Magnitude discipline: the
    * profiled pair is (quantity ∈ [1,50], discount ∈ [0,0.1]) so every
    * output is O(1)–O(15) and a 4-decimal round sits ~8 orders of
    * magnitude above float-summation-order noise — the same reasoning as
    * dec2 for money sums, applied to moment ratios. */
  val q99 = GraftQuery(
    "q99_stats_moments",
    "Single-pass statistical profile per group: corr, covar, stddev, OLS slope/intercept/R²",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("l_quantity")), 4).as("mean_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(stddev_pop(col("l_quantity")), 4).as("sdp_qty"),
          round(corr(col("l_quantity"), col("l_discount")), 4).as("corr_qty_disc"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 4).as("covp_qty_disc"),
          round(expr("regr_slope(l_discount, l_quantity)"), 6).as("ols_slope"),
          round(expr("regr_intercept(l_discount, l_quantity)"), 6).as("ols_intercept"),
          round(expr("regr_r2(l_discount, l_quantity)"), 6).as("ols_r2"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             count(*) AS n,
             round(avg(l_quantity), 4) AS mean_qty,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(stddev_pop(l_quantity), 4) AS sdp_qty,
             round(corr(l_quantity, l_discount), 4) AS corr_qty_disc,
             round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc,
             round(covar_pop(l_quantity, l_discount), 4) AS covp_qty_disc,
             round(regr_slope(l_discount, l_quantity), 6) AS ols_slope,
             round(regr_intercept(l_discount, l_quantity), 6) AS ols_intercept,
             round(regr_r2(l_discount, l_quantity), 6) AS ols_r2
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Bitmap-index distinct counting (the Doris/Kylin/ClickHouse bitmap-cube
    * technique): each group's distinct key set is held as chunked 63-bit
    * integer bitmaps — (key div 63) picks the chunk row, a single set bit at
    * (key mod 63) ORs in map-side, so the shuffle carries at most one long
    * per (group, chunk) instead of one row per distinct key (q13's expand
    * shape). 63-bit chunks, not 64: a set sign bit overflows DuckDB's
    * BIGINT left-shift, and one bit of width is free while cross-engine
    * parity isn't. popcount over the merged chunks is the exact distinct
    * count — same answer as COUNT(DISTINCT), different cost model: the
    * bitmap partial is MERGEABLE, demonstrated by deriving the corpus-wide
    * distinct count from the per-group bitmaps alone (chunk-wise OR — no
    * second scan of the fact table, the precomputed-bitmap-cube rollup
    * posture). */
  val q108 = GraftQuery(
    "q108_bitmap_distinct",
    "Chunked-bitmap distinct suppliers per (returnflag, linestatus) + bitmap-merge rollup",
    (s, dir) => {
      val b = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("l_suppkey div 63").as("chunk"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 63 AS INT))").as("bit"))
        .groupBy("l_returnflag", "l_linestatus", "chunk")
        .agg(expr("bit_or(bit)").as("bits"))
      val perGroup = b
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(bit_count(col("bits"))).as("n_suppliers"),
          count(lit(1)).as("n_chunks"))
      // rollup WITHOUT rescanning lineitem: merge the per-group bitmaps
      val total = b
        .groupBy("chunk").agg(expr("bit_or(bits)").as("bits"))
        .agg(sum(bit_count(col("bits"))).as("n_suppliers"),
          count(lit(1)).as("n_chunks"))
        .select(lit("ALL").as("l_returnflag"), lit("ALL").as("l_linestatus"),
          col("n_suppliers"), col("n_chunks"))
      perGroup.unionByName(total)
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      WITH b AS (
        SELECT l_returnflag, l_linestatus, l_suppkey // 63 AS chunk,
               bit_or(CAST(1 AS BIGINT) << CAST(l_suppkey % 63 AS INT)) AS bits
        FROM lineitem
        GROUP BY 1, 2, 3),
      per_group AS (
        SELECT l_returnflag, l_linestatus,
               CAST(sum(bit_count(bits)) AS BIGINT) AS n_suppliers,
               count(*) AS n_chunks
        FROM b GROUP BY 1, 2),
      merged AS (
        SELECT chunk, bit_or(bits) AS bits FROM b GROUP BY chunk),
      total AS (
        SELECT 'ALL' AS l_returnflag, 'ALL' AS l_linestatus,
               CAST(sum(bit_count(bits)) AS BIGINT) AS n_suppliers,
               count(*) AS n_chunks
        FROM merged)
      SELECT * FROM per_group
      UNION ALL
      SELECT * FROM total
      ORDER BY l_returnflag, l_linestatus"""))

  /** Bloom runtime-filter join — sideways information passing (the
    * technique behind Spark's InjectRuntimeFilter / Doris runtime filters):
    * the selective dimension's join keys are summarized into a Bloom
    * position set (m=65536, k=3 — t29's Kirsch-Mitzenmacher slices of one
    * md5), and the fact side is pre-screened by three broadcast SEMI
    * joins (one per hash slice, all must hit) BEFORE the exact join sees
    * a row. The point at scale: the position set is bounded at m bits
    * REGARDLESS of dimension cardinality — it broadcasts when the key
    * list itself no longer can, and it prunes the fact exchange of a
    * shuffle join the way dynamic partition pruning prunes scans. False
    * positives cost only wasted candidates (the exact join eliminates
    * them — never wrong results); false negatives are impossible, which
    * the oracle proves by replaying the PLAIN join. The InvariantSpec
    * measures the pass rate: the prescreen must actually prune. */
  val q112 = GraftQuery(
    "q112_bloom_filter_join",
    "Runtime Bloom filter: dim-key position set prescreens the fact side before the join",
    (s, dir) => {
      def pos(key: org.apache.spark.sql.Column, j: Int) =
        conv(substring(md5(key.cast("string")), j * 5 + 1, 5), 16, 10)
          .cast("long") % 65536
      val dim = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_name"))
      val filterSet = dim
        .select(explode(array((0 to 2).map(j => pos(col("c_custkey"), j)): _*)).as("pos"))
        .distinct()
      var fact = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      for (j <- 0 to 2)
        fact = fact.join(broadcast(filterSet),
          pos(col("o_custkey"), j) === col("pos"), "left_semi")
      fact.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total_spend"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal < 0
      GROUP BY c_custkey, c_name
      ORDER BY c_custkey"""))

  /** TPC-H Q21 shape ("suppliers who kept waiting", adapted to the
    * fixture's columns: late := shipped >60 days after order date) — the
    * classic EXISTS + NOT-EXISTS double self-join on the fact table, and
    * the classic reason decorrelation matters: the textbook form scans
    * lineitem three times and self-joins it twice on l_orderkey. Here
    * both correlated quantifiers collapse into ONE per-order aggregation
    * over the single lineitem⋈orders join — "some other supplier in the
    * order" is n_suppliers ≥ 2, "no other supplier late" is
    * n_late_suppliers = 1 — so the fact pays one orderkey exchange total
    * and the quantifier logic rides the same hash aggregate. The DuckDB
    * oracle replays the textbook correlated form, proving the rewrite
    * exact (numwait counts the lone-late supplier's LINES, as Q21's l1
    * row semantics do). Supplier names attach by broadcast after the
    * per-supplier counts are tiny. */
  val q113 = GraftQuery(
    "q113_exists_rewrite",
    "Q21 shape: EXISTS + NOT EXISTS self-joins collapsed into one per-order aggregation",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val ord = table(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val flagged = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      // Two-level aggregation instead of the double countDistinct: two
      // DISTINCT aggregates over one groupBy plan through an Expand that
      // doubles every joined row before the exchange. Aggregating per
      // (order, supplier) first — partial map-side agg applies — then
      // per order shuffles each distinct pair once and needs no Expand:
      // n_supp = count of supplier groups, a supplier is late iff any of
      // its lines is, and the order's late-line total is the sum of the
      // per-supplier late-line counts. Identical values by construction
      // (the oracle replays the textbook correlated form regardless).
      val perSupp = flagged.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("late_any"),
          sum(when(col("late"), 1L).otherwise(0L)).as("late_lines"))
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(
          // count(lit(1)) over the per-supplier groups assumes l_suppkey
          // NOT NULL (TPC-H guarantees it): the countDistinct(l_suppkey)
          // this replaces excluded NULL keys, while a row-count counts a
          // NULL-suppkey group — filter null keys first if this shape is
          // ever reused over a nullable key (ADVICE r15)
          count(lit(1)).as("n_supp"),
          count(when(col("late_any"), true)).as("n_late_supp"),
          min(when(col("late_any"), col("l_suppkey"))).as("late_supp"),
          sum(col("late_lines")).as("n_late_lines"))
        .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      val counts = perOrder.groupBy(col("late_supp").as("s_suppkey"))
        .agg(sum(col("n_late_lines")).as("numwait"))
      counts.join(broadcast(table(s, dir, "supplier").select("s_suppkey", "s_name")),
          Seq("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(10)
    },
    Some("""
      WITH l AS (
        SELECT l_orderkey, l_suppkey,
               (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE l1.late
        AND EXISTS (SELECT 1 FROM l l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM l l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.late)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10"""))

  /** Grouped top-k through the CUSTOM PHYSICAL OPERATOR
    * (graft.plans.GroupedTopK — logical node + SparkStrategy + partial/
    * final SparkPlan pair): top-2 orders by price per customer. q17 plans
    * this shape as Window(row_number) + filter — a full per-partition SORT
    * of every order; the custom operator keeps one bounded heap per
    * customer, prunes to ≤2 rows per (customer, partition) BEFORE the
    * exchange, and never sorts. The heap comparator is the exact
    * (price DESC, orderkey) order of the oracle's row_number, so the row
    * set is identical; PlanSpec pins both exec phases and the absence of
    * Window/rank-Sort. */
  val q114 = GraftQuery(
    "q114_grouped_topk_operator",
    "Custom GroupedTopKExec: top-2 orders per customer, bounded heaps, no sort",
    (s, dir) => {
      val orders = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.GroupedTopK.topKPerGroup(orders,
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 2)
        .orderBy(col("o_custkey"), desc("o_totalprice"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 2
      ORDER BY o_custkey, o_totalprice DESC, o_orderkey"""))

  /** TPC-H Q17 shape ("small-quantity lost revenue") through the
    * single-scan window rewrite. The textbook form correlates a per-part
    * AVG subquery against the same lineitem being probed — naively two
    * full scans of the fact table plus an agg⋈fact shuffle join. Here the
    * per-part count/sum land as whole-partition window aggregates on the
    * ONE shuffled scan (partitionBy l_partkey), the threshold test runs
    * in place, and only then does the tiny part dimension broadcast in
    * for the brand rollup. The avg comparison is exact integer
    * cross-multiplication (qty×100 as long: qty·5·n < Σqty avoids both
    * float division and the avg rounding seam), revenue aggregates in
    * DECIMAL. Oracle deliberately replays the CORRELATED textbook form —
    * DuckDB decorrelates it its own way; equal hashes prove the rewrite.
    * At 100 TB: halving fact-table scans is the whole game; the window
    * shuffle is the same l_partkey exchange the naive agg needs anyway,
    * so the rewrite strictly dominates. */
  val q119 = GraftQuery(
    "q119_avg_threshold_rewrite",
    "TPC-H Q17 shape: below-⅕-of-part-average lineitems, one windowed scan vs correlated AVG",
    (s, dir) => {
      val li = table(s, dir, "lineitem").select(col("l_partkey"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("q100"),
        dec2(col("l_extendedprice")).as("price"))
      val w = Window.partitionBy("l_partkey")
      val small = li
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sq", sum(col("q100")).over(w))
        .filter(col("q100") * 5 * col("n") < col("sq"))
      small
        .join(broadcast(table(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_small"),
          sum(col("price")).cast("double").as("small_revenue"))
        .orderBy("p_brand")
    },
    Some("""
      SELECT p.p_brand, count(*) AS n_small,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS small_revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE CAST(round(l.l_quantity * 100) AS BIGINT) * 5 *
              (SELECT count(*) FROM lineitem l2
               WHERE l2.l_partkey = l.l_partkey)
            < (SELECT sum(CAST(round(l3.l_quantity * 100) AS BIGINT))
               FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
      GROUP BY p.p_brand
      ORDER BY p.p_brand"""))

  /** q114's custom operator reached through PLAIN SQL: the
    * RankFilterToGroupedTopK optimizer rule (injected alongside the
    * strategy) recognizes the textbook row_number-filter idiom — the
    * exact SQL a migrating user already has — and replans it through
    * GroupedTopKExec, provided the projection drops the rank column.
    * Same bounded-heap execution as q114, zero API change: this is the
    * §2 extension ladder's point (c) completed end to end (logical node
    * + strategy + physical operator + OPTIMIZER RULE), the full
    * SparkSessionExtensions surface. PlanSpec pins that the SQL below
    * plans with two GroupedTopK phases and no Window node. */
  val q122 = GraftQuery(
    "q122_rank_idiom_rewrite",
    "Textbook row_number()-filter SQL planned through GroupedTopKExec by the injected optimizer rule",
    (s, dir) => {
      // scoped session: extraOptimizations is session-wide state, and an
      // optimizer rule that rewrites OTHER queries' rank filters would
      // make their plans depend on whether q122 ran first — the clone
      // gets the rule (and the temp view), the parent session stays
      // untouched. Extension-configured sessions get the rule globally
      // by explicit choice (spark.sql.extensions=graft.GraftExtensions).
      val scoped = s.newSession()
      graft.plans.GroupedTopK.ensureInjected(scoped)
      table(scoped, dir, "lineitem").createOrReplaceTempView("lineitem_ttk")
      scoped.sql("""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                     row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_quantity DESC, l_linenumber) AS rn
              FROM lineitem_ttk)
        WHERE rn <= 2
        ORDER BY l_orderkey, l_quantity DESC, l_linenumber""")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                   row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_quantity DESC, l_linenumber) AS rn
            FROM lineitem)
      WHERE rn <= 2
      ORDER BY l_orderkey, l_quantity DESC, l_linenumber"""))

  /** TPC-H Q15 shape — argmax WITH TIES: "the top supplier(s) per month".
    * q17/q114 use row_number, which silently DROPS ties — correct for
    * presentation top-k, wrong for "who achieved the maximum" semantics
    * where two suppliers with equal revenue are both the answer. rank()
    * over the DECIMAL-exact monthly revenue keeps every tied winner
    * (ties are real under exact cents, not float noise), and the oracle
    * replays Q15's textbook form — a scalar-subquery max compared
    * against the aggregate — so the window formulation is proven
    * against the self-join one. Shape: one lineitem aggregation, one
    * bounded window over |month × supplier| aggregates. */
  val q131 = GraftQuery(
    "q131_argmax_with_ties",
    "Q15 shape: top supplier(s) per ship-month by exact revenue, rank() keeps ties",
    (s, dir) => {
      val monthly = table(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"),
          col("l_suppkey"))
        .agg(expr("sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))")
          .as("cents"))
      val w = Window.partitionBy("month").orderBy(desc("cents"))
      monthly
        .withColumn("r", rank().over(w))
        .filter(col("r") === 1)
        .select(col("month"), col("l_suppkey"),
          (col("cents").cast("double") / 100).as("revenue"))
        .orderBy("month", "l_suppkey")
    },
    Some("""
      WITH monthly AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month, l_suppkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                 AS cents
        FROM lineitem GROUP BY month, l_suppkey)
      SELECT month, l_suppkey, CAST(cents AS DOUBLE) / 100 AS revenue
      FROM monthly m
      WHERE cents = (SELECT max(cents) FROM monthly x WHERE x.month = m.month)
      ORDER BY month, l_suppkey"""))

  /** Decile lift/gains table — the model-evaluation report every targeting
    * or ranking pipeline publishes ("does the top decile respond above
    * base rate, and by how much cumulatively"): customers ranked by
    * account balance into ntile(10) deciles (custkey tie-break → the split
    * is total-order deterministic), "response" = placed ≥1 urgent order
    * (a LEFT SEMI-derived flag via a distinct custkey set — the fact table
    * never joins row-per-order into the rank), then per decile n /
    * responders / rate, running totals, and cumulative lift vs the base
    * rate — every ratio integer basis points by cross-multiplication
    * (cum_resp·total_n·10⁴ div (cum_n·total_resp)), no float division
    * anywhere. Scale: one dimension-table window (ntile over customers),
    * one digest-sized distinct from orders, a 10-row rollup — the fact
    * scan is a semi-join-shaped aggregate, the report is O(1). */
  val q138 = GraftQuery(
    "q138_decile_lift",
    "Gains/lift table: balance deciles vs urgent-order response, cumulative lift in bp",
    (s, dir) => {
      val responders = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("resp", lit(1L))
      val decile = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .withColumn("decile",
          ntile(10).over(Window.orderBy(desc("c_acctbal"), col("c_custkey"))).cast("long"))
        .join(broadcast(responders), Seq("c_custkey"), "left")
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("resp")), lit(0L)).as("responders"))
      val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      decile
        .withColumn("cum_n", sum(col("n")).over(w))
        .withColumn("cum_resp", sum(col("responders")).over(w))
        .withColumn("total_n", sum(col("n")).over(Window.partitionBy()))
        .withColumn("total_resp", sum(col("responders")).over(Window.partitionBy()))
        .select(col("decile"), col("n"), col("responders"),
          expr("responders * 10000 div n").as("rate_bp"),
          col("cum_resp"),
          expr("cum_resp * total_n * 10000 div (cum_n * total_resp)").as("cum_lift_bp"))
        .orderBy("decile")
    },
    Some("""
      WITH resp AS (
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'),
      ranked AS (
        SELECT c.c_custkey,
               ntile(10) OVER (ORDER BY c.c_acctbal DESC, c.c_custkey) AS decile,
               CASE WHEN r.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS resp
        FROM customer c LEFT JOIN resp r ON r.c_custkey = c.c_custkey),
      d AS (
        SELECT decile, count(*) AS n, CAST(sum(resp) AS BIGINT) AS responders
        FROM ranked GROUP BY decile),
      c AS (
        SELECT CAST(decile AS BIGINT) AS decile, n, responders,
               sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
               sum(responders) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_resp,
               sum(n) OVER () AS total_n,
               sum(responders) OVER () AS total_resp
        FROM d)
      SELECT decile, n, responders,
             responders * 10000 // n AS rate_bp,
             CAST(cum_resp AS BIGINT) AS cum_resp,
             CAST(cum_resp * total_n * 10000 // (cum_n * total_resp) AS BIGINT)
               AS cum_lift_bp
      FROM c
      ORDER BY decile"""))

  /** Exact weighted median — the robust statistic q42/q53's unweighted
    * percentiles can't give when rows carry mass (here: price weighted by
    * quantity — "the price at which half the UNITS trade", not half the
    * line items): sort each group by value, walk cumulative weight, take
    * the first value where 2·cumw ≥ totw (lower weighted median — the
    * discrete definition with no float interpolation). One window pass
    * over the group's sort (the q19 running-sum shape with a unique
    * (orderkey, linenumber) tiebreak so cumulative weights are a total
    * order), then a min-per-group rollup. All mass in exact integers
    * (quantity is integral, price in cents) — the selected value is a
    * stored cent amount, bit-identical cross-engine. */
  val q141 = GraftQuery(
    "q141_weighted_median",
    "Quantity-weighted median unit price per returnflag via cumulative-weight walk",
    (s, dir) => {
      val w = Window.partitionBy("grp")
        .orderBy("c", "l_orderkey", "l_linenumber")
      table(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("wt"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("cumw", sum(col("wt")).over(w))
        .withColumn("totw", sum(col("wt")).over(Window.partitionBy("grp")))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy("grp")
        .agg(min(col("c")).as("wmedian_cents"),
          max(col("totw")).as("total_units"))
        .select(col("grp"),
          (col("wmedian_cents").cast("double") / 100).as("wmedian_price"),
          col("total_units"))
        .orderBy("grp")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
               CAST(round(l_quantity) AS BIGINT) AS wt,
               l_orderkey, l_linenumber
        FROM lineitem),
      walk AS (
        SELECT grp, c,
               sum(wt) OVER (PARTITION BY grp ORDER BY c, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cumw,
               sum(wt) OVER (PARTITION BY grp) AS totw
        FROM r)
      SELECT grp,
             CAST(min(c) AS DOUBLE) / 100 AS wmedian_price,
             CAST(max(totw) AS BIGINT) AS total_units
      FROM walk
      WHERE cumw * 2 >= totw
      GROUP BY grp
      ORDER BY grp"""))

  /** The LATERAL per-group-limit idiom through BOTH injected optimizer
    * rules (VERDICT r8 item 8 — q122's pattern generalized): "for each
    * order, its top-2 lineitems" written the way an analyst who has never
    * heard of window functions writes it — a correlated LATERAL subquery
    * with ORDER BY + LIMIT. Spark decorrelates that into the rank-filter
    * shape, RankFilterToGroupedTopK replans it through the bounded-heap
    * operator, and RedundantGroupLimitBelowTopK deletes the sort-forcing
    * WindowGroupLimit residue decorrelation leaves behind — the final
    * plan has a GroupedTopKExec, ZERO Window nodes and ZERO sorts below
    * the presentation ORDER BY (PlanSpec pins all three; without rule 2
    * the same SQL keeps 3 sorts). The LATERAL's ORDER BY carries the
    * l_linenumber tiebreak (house determinism discipline) so DuckDB's
    * independent LATERAL execution picks identical rows. */
  val q144 = GraftQuery(
    "q144_lateral_topk_rewrite",
    "LATERAL ORDER BY+LIMIT per group planned through GroupedTopKExec by the injected rules",
    (s, dir) => {
      val scoped = s.newSession()
      graft.plans.GroupedTopK.ensureInjected(scoped)
      table(scoped, dir, "orders").createOrReplaceTempView("orders_ltk")
      table(scoped, dir, "lineitem").createOrReplaceTempView("lineitem_ltk")
      scoped.sql("""
        SELECT o.o_orderkey, l.l_linenumber, l.l_quantity
        FROM orders_ltk o, LATERAL (
          SELECT l_linenumber, l_quantity
          FROM lineitem_ltk l
          WHERE l.l_orderkey = o.o_orderkey
          ORDER BY l_quantity DESC, l_linenumber
          LIMIT 2) l
        ORDER BY o.o_orderkey, l.l_quantity DESC, l.l_linenumber""")
    },
    Some("""
      SELECT o.o_orderkey, l.l_linenumber, l.l_quantity
      FROM orders o, LATERAL (
        SELECT l_linenumber, l_quantity
        FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
        ORDER BY l_quantity DESC, l_linenumber
        LIMIT 2) l
      ORDER BY o.o_orderkey, l.l_quantity DESC, l.l_linenumber"""))

  /** TPC-H Q20's nested semi-join chain (reference: the delegated-ETL tier
    * behind A16 job runs), adapted to the fixture star schema (no partsupp):
    * "which suppliers CONCENTRATED a part's shipments into 1997" — for some
    * PROMO-type part, the (part, supplier) pair shipped ≥40% of its lifetime
    * quantity during 1997 alone. The textbook form nests three subqueries
    * (parts by type → per-(part,supp) correlated window-vs-total comparison
    * → supplier semi-join), costing two lineitem scans. Here both the 1997
    * window total and the lifetime total ride ONE scan as a conditional
    * aggregate (sum FILTER), the part-type gate is a broadcast semi-join
    * BEFORE the agg (so the shuffle carries only PROMO rows — at 100 TB the
    * type filter drops ~5/6 of the exchange), and the 40% test is exact
    * integer cross-multiplication on centi-quantities (no float ratio seam).
    * PlanSpec pins exactly ONE lineitem scan; the DuckDB oracle replays the
    * nested textbook form — equal hashes prove the collapse. */
  val q145 = GraftQuery(
    "q145_q20_shape",
    "TPC-H Q20 shape: shipment-concentration semi-join chain via one conditional-agg scan",
    (s, dir) => {
      val promoParts = table(s, dir, "part")
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val in97 = col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp")
      val concentrated = table(s, dir, "lineitem")
        .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("q100"),
          in97.as("in97"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(when(col("in97"), col("q100")).otherwise(lit(0L))).as("q97"),
          sum(col("q100")).as("qall"))
        .filter(col("q97") > 0 && col("q97") * 10 >= col("qall") * 4)
        .select("l_suppkey").distinct()
      table(s, dir, "supplier")
        .join(concentrated, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    },
    Some("""
      SELECT s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        GROUP BY l_partkey, l_suppkey
        HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                         AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                        THEN CAST(round(l_quantity * 100) AS BIGINT)
                        ELSE 0 END) > 0
           AND sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                         AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                        THEN CAST(round(l_quantity * 100) AS BIGINT)
                        ELSE 0 END) * 10
               >= sum(CAST(round(l_quantity * 100) AS BIGINT)) * 4)
      ORDER BY s_name"""))

  /** TPC-H Q19's famous disjunctive predicate join. The naive plan runs one
    * lineitem⋈part join PER disjunct and unions (three fact scans); the
    * classic optimization hoists the common `l_partkey = p_partkey` conjunct
    * out of the OR so the whole thing is ONE equi-join with a residual OR
    * filter — and the brand IN-list implied by the disjunction pushes into
    * the part scan. At 100 TB the difference is 3 fact scans + 3 shuffles vs
    * one broadcast probe. Branches are brand-disjoint, so the unioned
    * textbook oracle is exactly the OR form; revenue aggregates in DECIMAL.
    * PlanSpec pins ONE lineitem scan, ONE join, zero Union nodes. */
  val q146 = GraftQuery(
    "q146_q19_shape",
    "TPC-H Q19 shape: OR-of-ANDs join collapsed to one equi-join with residual disjunction",
    (s, dir) => {
      val part = broadcast(table(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#4"))
        .select("p_partkey", "p_brand", "p_size"))
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (dec2(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount"))))
            .as("disc_price"))
      val residual =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#4" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 40))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(residual)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum(col("disc_price")).cast("double").as("revenue"))
        .orderBy("p_brand")
    },
    Some("""
      WITH branches AS (
        SELECT p_brand, l_extendedprice, l_discount
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 1 AND 15
        UNION ALL
        SELECT p_brand, l_extendedprice, l_discount
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
          AND l_quantity BETWEEN 10 AND 25
        UNION ALL
        SELECT p_brand, l_extendedprice, l_discount
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 50
          AND l_quantity BETWEEN 20 AND 40)
      SELECT p_brand, count(*) AS n_items,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
                      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM branches
      GROUP BY p_brand
      ORDER BY p_brand"""))

  /** The ip-to-geo / price-band RANGE-LOOKUP join, de-cartesianed: map each
    * fact row to the dimension interval containing it. Spark plans a raw
    * `lo <= x AND x < hi` join as BroadcastNestedLoopJoin — O(facts × ranges)
    * probes, a scale-killer when the range table is large (real geo/IP dims
    * run millions of ranges, far past broadcast). The standard fix: pick a
    * bin width W, EXPLODE each interval to the bins it covers (sequence of
    * lo/W..(hi-1)/W), key facts by x/W, and equi-join on the bin with the
    * BETWEEN as residual — a hash join whose build side grows only by the
    * covered-bin replication factor, shuffle-partitionable on either side.
    * Boundary math in integer cents (half-open [lo, hi)); tier names chosen
    * lexically ordered so both engines sort identically. PlanSpec pins no
    * BroadcastNestedLoopJoin / CartesianProduct in the plan; the oracle runs
    * the naive non-equi join — equal hashes prove bin-cover correctness. */
  val q147 = GraftQuery(
    "q147_range_lookup_join",
    "Range-lookup dim join (price bands) binned into an equi-join; no nested-loop probe",
    (s, dir) => {
      import s.implicits._
      val W = 2500000L // bin width: $25k in cents; 20 bins cover [0, $500k)
      val tiers = Seq( // (tier, lo_cents, hi_cents) half-open, contiguous
        ("t01_micro", 0L, 200000L), ("t02_tiny", 200000L, 500000L),
        ("t03_small", 500000L, 1000000L), ("t04_light", 1000000L, 2000000L),
        ("t05_lower", 2000000L, 3500000L), ("t06_mid", 3500000L, 5000000L),
        ("t07_upper", 5000000L, 7500000L), ("t08_large", 7500000L, 10000000L),
        ("t09_major", 10000000L, 15000000L), ("t10_heavy", 15000000L, 20000000L),
        ("t11_jumbo", 20000000L, 30000000L), ("t12_titan", 30000000L, 50000000L))
        .toDF("tier", "lo", "hi")
      val binned = tiers
        .withColumn("bin", explode(sequence(expr(s"lo div ${W}L"),
          expr(s"(hi - 1) div ${W}L"))))
      val orders = table(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("tp"),
          dec2(col("o_totalprice")).as("price"))
        .withColumn("bin", expr(s"tp div ${W}L"))
      orders.join(binned, Seq("bin"))
        .filter(col("tp") >= col("lo") && col("tp") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price")).cast("double").as("revenue"))
        .orderBy("tier")
    },
    Some("""
      WITH tiers(tier, lo, hi) AS (VALUES
        ('t01_micro', 0, 200000), ('t02_tiny', 200000, 500000),
        ('t03_small', 500000, 1000000), ('t04_light', 1000000, 2000000),
        ('t05_lower', 2000000, 3500000), ('t06_mid', 3500000, 5000000),
        ('t07_upper', 5000000, 7500000), ('t08_large', 7500000, 10000000),
        ('t09_major', 10000000, 15000000), ('t10_heavy', 15000000, 20000000),
        ('t11_jumbo', 20000000, 30000000), ('t12_titan', 30000000, 50000000)),
      o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS tp,
                   o_totalprice
            FROM orders)
      SELECT tier, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS revenue
      FROM o JOIN tiers ON tp >= lo AND tp < hi
      GROUP BY tier
      ORDER BY tier"""))

  /** PIVOT (long→wide cross-tab), the inverse of q63's UNPIVOT. The scale
    * detail that matters: `pivot(col)` WITHOUT a value list runs an eager
    * collect-distinct job at PLAN time to discover the columns — an extra
    * fact pass (and nondeterministic column order) at 100 TB. Passing the
    * explicit value list keeps planning metadata-only and compiles the
    * pivot into ONE conditional hash aggregate — exactly the CASE-WHEN
    * form the oracle spells out, one scan, one shuffle on the row key.
    * Counts + DECIMAL revenue per order status, statuses as columns. */
  val q148 = GraftQuery(
    "q148_pivot_crosstab",
    "PIVOT with explicit value list: order priority × status cross-tab in one conditional agg",
    (s, dir) =>
      table(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"),
          dec2(col("o_totalprice")).as("price"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("rev"))
        .select(col("o_orderpriority"),
          col("F_n").as("f_n"), col("F_rev").as("f_rev"),
          col("O_n").as("o_n"), col("O_rev").as("o_rev"),
          col("P_n").as("p_n"), col("P_rev").as("p_rev"))
        .orderBy("o_orderpriority"),
    Some("""
      SELECT o_orderpriority,
             count(*) FILTER (o_orderstatus = 'F') AS f_n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                  FILTER (o_orderstatus = 'F') AS DOUBLE) AS f_rev,
             count(*) FILTER (o_orderstatus = 'O') AS o_n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                  FILTER (o_orderstatus = 'O') AS DOUBLE) AS o_rev,
             count(*) FILTER (o_orderstatus = 'P') AS p_n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                  FILTER (o_orderstatus = 'P') AS DOUBLE) AS p_rev
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** Pro-rata allocation with LARGEST-REMAINDER penny rounding — the
    * financial-engineering primitive behind revenue allocation, cost
    * spreading, and tax apportionment: distribute each order's total price
    * across its lineitems proportional to extended price so that the
    * allocations are integer cents AND sum exactly to the order total
    * (naive rounding leaks pennies; the largest-remainder method hands the
    * residual R = T − Σ⌊T·eᵢ/E⌋ to the R lines with the largest division
    * remainders, linenumber tie-break). Everything is integer: base share
    * T·eᵢ div E, remainder (T·eᵢ) mod E, extra-cent rank. One shuffle
    * co-partitions lines with their order; two windows ride that same
    * exchange (subset partitioning) — at 100 TB this is one fact exchange,
    * no driver math. Deterministic 5% order slice keeps the dump bounded.
    * InvariantSpec proves the conservation law the op exists for. */
  val q152 = GraftQuery(
    "q152_prorata_allocation",
    "Largest-remainder pro-rata allocation: order total → integer-cent line shares, zero leak",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(20L)) === 0L)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("e"))
      val ord = table(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(20L)) === 0L)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("t"))
      val wOrd = Window.partitionBy("l_orderkey")
      val wRem = Window.partitionBy("l_orderkey")
        .orderBy(desc("rem"), col("l_linenumber"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("etot", sum("e").over(wOrd))
        .withColumn("base", expr("t * e div etot"))
        .withColumn("rem", expr("(t * e) % etot"))
        .withColumn("resid", col("t") - sum("base").over(wOrd))
        .withColumn("extra_rank", row_number().over(wRem))
        .withColumn("alloc_cents",
          col("base") + when(col("extra_rank") <= col("resid"), 1L)
            .otherwise(0L))
        .select("l_orderkey", "l_linenumber", "e", "alloc_cents")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS e
        FROM lineitem WHERE l_orderkey % 20 = 0),
      ord AS (
        SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS t
        FROM orders WHERE o_orderkey % 20 = 0),
      base AS (
        SELECT l_orderkey, l_linenumber, e, t,
               CAST(sum(e) OVER (PARTITION BY l_orderkey) AS BIGINT) AS etot
        FROM li JOIN ord ON l_orderkey = o_orderkey),
      shares AS (
        SELECT l_orderkey, l_linenumber, e,
               t * e // etot AS b,
               (t * e) % etot AS rem,
               CAST(t - sum(t * e // etot) OVER (PARTITION BY l_orderkey)
                 AS BIGINT) AS resid
        FROM base),
      ranked AS (
        SELECT l_orderkey, l_linenumber, e, b, resid,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rk
        FROM shares)
      SELECT l_orderkey, l_linenumber, e,
             CAST(b + CASE WHEN rk <= resid THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_cents
      FROM ranked
      ORDER BY l_orderkey, l_linenumber"""))

  /** Exact percentile of an AGGREGATE — "p90 orders per customer, by
    * nation": the distribution-of-aggregates question every capacity and
    * fairness review asks, with the two classic traps handled exactly:
    * (1) customers with ZERO orders must enter the distribution (the
    * left-join + coalesce 0 — dropping them silently inflates every
    * percentile); (2) percentile_disc semantics via an integer rank walk
    * (smallest value whose rank reaches ⌈0.9·n⌉ = (9n+9) div 10) — no
    * interpolation, engine-independent. Two stacked aggregations (orders →
    * per-customer counts → per-nation walk); the percentile window rides
    * the nation exchange. The fact table is touched once. */
  val q153 = GraftQuery(
    "q153_percentile_of_aggregate",
    "Exact p90 orders-per-customer by nation: agg-of-agg + integer rank walk, zero-order customers counted",
    (s, dir) => {
      val perCust = table(s, dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(table(s, dir, "orders").groupBy("o_custkey")
            .agg(count(lit(1)).as("cnt")),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      val wWalk = Window.partitionBy("n_name").orderBy("cnt", "c_custkey")
      val wNation = Window.partitionBy("n_name")
      perCust
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("rn", row_number().over(wWalk))
        .withColumn("n", count(lit(1)).over(wNation))
        .filter(col("rn") === expr("(9 * n + 9) div 10"))
        .select(col("n_name"), col("n").as("n_customers"),
          col("cnt").as("p90_orders"))
        .orderBy("n_name")
    },
    Some("""
      WITH per_cust AS (
        SELECT c.c_custkey, c.c_nationkey, coalesce(o.cnt, 0) AS cnt
        FROM customer c LEFT JOIN
          (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
          ON c.c_custkey = o.o_custkey),
      walked AS (
        SELECT n.n_name, p.cnt, p.c_custkey,
               row_number() OVER (PARTITION BY n.n_name
                                  ORDER BY p.cnt, p.c_custkey) AS rn,
               count(*) OVER (PARTITION BY n.n_name) AS n
        FROM per_cust p JOIN nation n ON p.c_nationkey = n.n_nationkey)
      SELECT n_name, CAST(n AS BIGINT) AS n_customers,
             CAST(cnt AS BIGINT) AS p90_orders
      FROM walked
      WHERE rn = (9 * n + 9) // 10
      ORDER BY n_name"""))

  /** Pairwise correlation matrix in ONE algebraic pass — the feature-
    * screening staple ("which metrics move together?") computed the way a
    * 100 TB engine must: every pairwise Pearson r² derives from sums,
    * sums-of-squares, and cross-products (n·Σxy − ΣxΣy …), which are
    * ALGEBRAIC aggregates — partial-aggregated map-side, merged on the
    * 3-group exchange; the fact is scanned once for all 6 pairs and the
    * matrix unpivots from the single aggregate row via stack. Metrics are
    * integer-rounded units so every aggregate is an exact BIGINT; the
    * final r² = cov²/(vx·vy) is computed in doubles from those exact
    * integers — a fixed expression over identical inputs, bit-equal in
    * both engines (no summation-order seam anywhere). Contrast with
    * calling corr() per pair: 6 aggregates over 6 logical scans. */
  val q155 = GraftQuery(
    "q155_correlation_matrix",
    "All-pairs Pearson r² per returnflag from one algebraic scan: stack of exact sum/cross terms",
    (s, dir) => {
      val m = table(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("q"),
        expr("CAST(round(l_extendedprice) AS BIGINT)").as("p"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("d"),
        expr("CAST(round(l_tax * 100) AS BIGINT)").as("t"))
      val aggd = m.groupBy("grp").agg(
        count(lit(1)).as("n"),
        sum("q").as("sq"), sum("p").as("sp"),
        sum("d").as("sd"), sum("t").as("st"),
        sum(expr("q*q")).as("sqq"), sum(expr("p*p")).as("spp"),
        sum(expr("d*d")).as("sdd"), sum(expr("t*t")).as("stt"),
        sum(expr("q*p")).as("sqp"), sum(expr("q*d")).as("sqd"),
        sum(expr("q*t")).as("sqt"), sum(expr("p*d")).as("spd"),
        sum(expr("p*t")).as("spt"), sum(expr("d*t")).as("sdt"))
      aggd.select(col("grp"), col("n"), expr(
        """stack(6,
           'qty_price', sq, sp, sqp, sqq, spp,
           'qty_disc',  sq, sd, sqd, sqq, sdd,
           'qty_tax',   sq, st, sqt, sqq, stt,
           'price_disc', sp, sd, spd, spp, sdd,
           'price_tax', sp, st, spt, spp, stt,
           'disc_tax',  sd, st, sdt, sdd, stt) AS (pair, sx, sy, sxy, sx2, sy2)"""))
        .withColumn("cov", expr(
          "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"))
        .withColumn("vx", expr(
          "CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
        .withColumn("vy", expr(
          "CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"))
        .select(col("grp"), col("pair"), col("n"),
          expr("CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END")
            .cast("long").as("corr_sign"),
          expr("round(cov * cov / (vx * vy), 6)").as("r2"))
        .orderBy("grp", "pair")
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_quantity) AS BIGINT) AS q,
               CAST(round(l_extendedprice) AS BIGINT) AS p,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem),
      a AS (
        SELECT grp, count(*) AS n,
               CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
               CAST(sum(d) AS BIGINT) AS sd, CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(q*q) AS BIGINT) AS sqq, CAST(sum(p*p) AS BIGINT) AS spp,
               CAST(sum(d*d) AS BIGINT) AS sdd, CAST(sum(t*t) AS BIGINT) AS stt,
               CAST(sum(q*p) AS BIGINT) AS sqp, CAST(sum(q*d) AS BIGINT) AS sqd,
               CAST(sum(q*t) AS BIGINT) AS sqt, CAST(sum(p*d) AS BIGINT) AS spd,
               CAST(sum(p*t) AS BIGINT) AS spt, CAST(sum(d*t) AS BIGINT) AS sdt
        FROM m GROUP BY grp),
      pairs AS (
        SELECT grp, n, 'qty_price' AS pair, sq AS sx, sp AS sy, sqp AS sxy, sqq AS sx2, spp AS sy2 FROM a
        UNION ALL SELECT grp, n, 'qty_disc', sq, sd, sqd, sqq, sdd FROM a
        UNION ALL SELECT grp, n, 'qty_tax', sq, st, sqt, sqq, stt FROM a
        UNION ALL SELECT grp, n, 'price_disc', sp, sd, spd, spp, sdd FROM a
        UNION ALL SELECT grp, n, 'price_tax', sp, st, spt, spp, stt FROM a
        UNION ALL SELECT grp, n, 'disc_tax', sd, st, sdt, sdd, stt FROM a),
      alg AS (
        SELECT grp, pair, n,
               CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
               CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
               CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        FROM pairs)
      SELECT grp, pair, n,
             CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
               AS BIGINT) AS corr_sign,
             round(cov * cov / (vx * vy), 6) AS r2
      FROM alg
      ORDER BY grp, pair"""))

  /** 2-D SPATIAL proximity join via grid bucketing — the geospatial
    * workhorse (points-near-sites, store-catchment, geofence matching),
    * q147's 1-D binning lifted to the plane: a raw `|px−sx| ≤ r AND
    * |py−sy| ≤ r` join is a nested-loop scale-killer; instead each SITE
    * replicates to its 3×3 neighborhood of r-sized grid cells (9× build
    * growth, the standard trade), each POINT keys to its own cell, and the
    * join is pure equi-join on (cx, cy) with the exact L2 test as residual
    * — a pair within r can never straddle beyond the neighbor cell, so
    * recall is 1.0 by construction. Coordinates are md5-derived integer
    * micro-units (the d12 portable-hash discipline — both engines derive
    * identical geometry), distances compared SQUARED in exact integers.
    * The oracle runs the naive band join (DuckDB IEJoin); equal hashes
    * prove the grid cover. Per-type aggregate output keeps the dump
    * bounded while still pinning every pair through the sums. */
  val q156 = GraftQuery(
    "q156_spatial_grid_join",
    "Spatial points-near-sites join: 3×3 grid-cell equi-join + exact integer L2 residual",
    (s, dir) => {
      val r = 2000L // radius in micro-units; cell size = r
      val pts = events(s, dir).select(col("event_id"), col("event_type"))
        .withColumn("px", expr(
          "CAST(conv(substring(md5(concat('x', CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"))
        .withColumn("py", expr(
          "CAST(conv(substring(md5(concat('y', CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"))
        .withColumn("cx", expr(s"px div ${r}L"))
        .withColumn("cy", expr(s"py div ${r}L"))
      val sites = table(s, dir, "customer").select(col("c_custkey"))
        .withColumn("sx", expr(
          "CAST(conv(substring(md5(concat('sx', CAST(c_custkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"))
        .withColumn("sy", expr(
          "CAST(conv(substring(md5(concat('sy', CAST(c_custkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"))
        .withColumn("cx", explode(expr(s"sequence(sx div ${r}L - 1, sx div ${r}L + 1)")))
        .withColumn("cy", explode(expr(s"sequence(sy div ${r}L - 1, sy div ${r}L + 1)")))
      pts.join(sites, Seq("cx", "cy"))
        .withColumn("d2", expr("(px - sx) * (px - sx) + (py - sy) * (py - sy)"))
        .filter(col("d2") <= lit(r * r))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("event_id")).as("n_points"),
          min("d2").as("min_d2"),
          sum("d2").as("sum_d2"))
        .orderBy("event_type")
    },
    Some("""
      WITH pts AS (
        SELECT event_id, event_type,
               CAST(concat('0x', substr(md5(concat('x', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS px,
               CAST(concat('0x', substr(md5(concat('y', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS py
        FROM events),
      sites AS (
        SELECT c_custkey,
               CAST(concat('0x', substr(md5(concat('sx', CAST(c_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS sx,
               CAST(concat('0x', substr(md5(concat('sy', CAST(c_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 AS sy
        FROM customer),
      pairs AS (
        SELECT p.event_type, p.event_id,
               (p.px - s.sx) * (p.px - s.sx)
                 + (p.py - s.sy) * (p.py - s.sy) AS d2
        FROM pts p JOIN sites s
          ON s.sx BETWEEN p.px - 2000 AND p.px + 2000
         AND s.sy BETWEEN p.py - 2000 AND p.py + 2000
        WHERE (p.px - s.sx) * (p.px - s.sx)
                + (p.py - s.sy) * (p.py - s.sy) <= 4000000)
      SELECT event_type, count(*) AS n_pairs,
             count(DISTINCT event_id) AS n_points,
             CAST(min(d2) AS BIGINT) AS min_d2,
             CAST(sum(d2) AS BIGINT) AS sum_d2
      FROM pairs
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Business-day SLA math in CLOSED FORM — fulfillment latency in
    * Mon–Fri days, the metric ops teams actually track. The trap is the
    * per-day loop (explode a calendar per order — a fact×days blowup);
    * the closed form counts business days [anchor, d] as
    * (n div 7)·5 + least(n mod 7 + 1, 5) with n = days since an anchor
    * MONDAY (1994-12-26, before every fixture date so n ≥ 0 and the
    * div/mod identity holds unsigned) — two pure projections, zero joins
    * for the date math, identical integer arithmetic in both engines.
    * SLA = f(first_ship) − f(order_date) over the (order, min shipdate)
    * rollup; per-priority rollup with an integer day histogram bucket.
    * Only real calendar work (holiday tables) turns this into q147's
    * range-lookup join — the weekend part never needs one. */
  val q158 = GraftQuery(
    "q158_business_days",
    "Closed-form Mon-Fri SLA days from order to first ship, per-priority rollup",
    (s, dir) => {
      def bd(dateCol: String) = // business days in [1994-12-26, d]
        s"""(datediff($dateCol, DATE'1994-12-26') div 7) * 5
            + least(datediff($dateCol, DATE'1994-12-26') % 7 + 1, 5)"""
      val firstShip = table(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("od"))
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .withColumn("bd_days",
          expr(bd("first_ship")) - expr(bd("od")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum("bd_days").as("sum_bd_days"),
          max("bd_days").as("max_bd_days"),
          sum(when(col("bd_days") <= 5, 1L).otherwise(0L)).as("n_within_5bd"))
        .orderBy("o_orderpriority")
    },
    Some("""
      WITH fs AS (
        SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        FROM lineitem GROUP BY l_orderkey),
      bd AS (
        SELECT o.o_orderpriority,
               ((date_diff('day', DATE '1994-12-26', fs.first_ship) // 7) * 5
                 + least(date_diff('day', DATE '1994-12-26', fs.first_ship) % 7 + 1, 5))
               - ((date_diff('day', DATE '1994-12-26', CAST(o.o_orderdate AS DATE)) // 7) * 5
                 + least(date_diff('day', DATE '1994-12-26', CAST(o.o_orderdate AS DATE)) % 7 + 1, 5))
                 AS bd_days
        FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey)
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(bd_days) AS BIGINT) AS sum_bd_days,
             CAST(max(bd_days) AS BIGINT) AS max_bd_days,
             CAST(sum(CASE WHEN bd_days <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_5bd
      FROM bd
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** Frequent-itemset mining, A-priori levels 1+2 (market-basket / bundle
    * discovery): which part PAIRS co-occur in orders beyond chance. The
    * scale shape matters more than the statistic: within-basket pairing is
    * O(n·k²) with k = basket size (≤7 lineitems/order here — never an
    * all-pairs join over parts), and the A-priori downward-closure prune
    * runs FIRST — only items whose own support clears the bar enter the
    * pair stage, as a broadcast semi-join ahead of the explode (at 100 TB
    * the infrequent-item tail is most of the basket volume). Lift in
    * integer basis points (n·sup₁₂·10⁴ div (sup₁·sup₂)); (orderkey,
    * partkey) de-duped first so a part twice in one order counts once. */
  val q160 = GraftQuery(
    "q160_market_basket",
    "A-priori pair mining: frequent co-ordered part pairs, support + integer-bp lift",
    (s, dir) => {
      // baskets and itemSup are pinned: itemSup alone has three consumers
      // (the prune bar, sup1, sup2) and baskets two (itemSup, the pair
      // stage) — unpinned, the lineitem scan + distinct re-planned under
      // five references (40-Exchange formatted plan). Both frames are the
      // §8 "lightweight proxy" of this job — (okey, pkey) 16-byte rows
      // and the per-part support table — exactly what one pins.
      val baskets = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
        .distinct()
        .persist()
      val itemSup = baskets.groupBy("pkey")
        .agg(count(lit(1)).as("sup"))
        .persist()
      val frequent = itemSup.filter(col("sup") >= 10)
      val pruned = baskets.join(broadcast(frequent.select("pkey")), Seq("pkey"),
        "left_semi")
      // count(*) — o_orderkey is the PK; the oracle has always counted
      // rows, and the previous distinct() bought an exchange for nothing
      val nOrders = table(s, dir, "orders")
        .agg(count(lit(1)).as("n_orders"))
      // within-basket pairing IN PLACE (the O(n·k²) explode the docstring
      // promises): one exchange keyed by order nests each basket's sorted
      // frequent parts, combination structs generate row-locally, and the
      // pair aggregate is the only other exchange — the previous
      // a⋈b self-join shuffled the pruned frame TWICE and paid a join to
      // produce the identical (p1 < p2) pair set.
      val pairs = pruned.groupBy("okey")
        .agg(sort_array(collect_list(col("pkey"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps,
               (x, i) -> transform(slice(ps, i + 2, size(ps)),
                 y -> struct(x AS p1, y AS p2))))""")).as("p"))
        .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("pair_sup"))
        .filter(col("pair_sup") >= 3)
      pairs
        .join(broadcast(itemSup.select(col("pkey").as("p1"),
          col("sup").as("sup1"))), Seq("p1"))
        .join(broadcast(itemSup.select(col("pkey").as("p2"),
          col("sup").as("sup2"))), Seq("p2"))
        .crossJoin(broadcast(nOrders))
        .withColumn("lift_bp",
          expr("n_orders * pair_sup * 10000 div (sup1 * sup2)"))
        .select("p1", "p2", "pair_sup", "sup1", "sup2", "lift_bp")
        .orderBy(desc("pair_sup"), col("p1"), col("p2"))
    },
    Some("""
      WITH baskets AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem),
      item_sup AS (
        SELECT pkey, count(*) AS sup FROM baskets GROUP BY pkey),
      pruned AS (
        SELECT b.okey, b.pkey FROM baskets b
        JOIN item_sup i ON b.pkey = i.pkey AND i.sup >= 10),
      n AS (SELECT count(*) AS n_orders FROM orders),
      pairs AS (
        SELECT a.pkey AS p1, b.pkey AS p2, count(*) AS pair_sup
        FROM pruned a JOIN pruned b
          ON a.okey = b.okey AND a.pkey < b.pkey
        GROUP BY a.pkey, b.pkey
        HAVING count(*) >= 3)
      SELECT p.p1, p.p2, CAST(p.pair_sup AS BIGINT) AS pair_sup,
             CAST(i1.sup AS BIGINT) AS sup1, CAST(i2.sup AS BIGINT) AS sup2,
             CAST(n.n_orders * p.pair_sup * 10000 // (i1.sup * i2.sup)
               AS BIGINT) AS lift_bp
      FROM pairs p
      JOIN item_sup i1 ON p.p1 = i1.pkey
      JOIN item_sup i2 ON p.p2 = i2.pkey
      CROSS JOIN n
      ORDER BY pair_sup DESC, p1, p2"""))

  /** Nested basket analytics through HIGHER-ORDER functions — the
    * feature-store export shape: one row per order carrying its lineitems
    * as a sorted struct array, features computed IN PLACE with
    * filter/transform/aggregate lambdas (codegen'd Catalyst expressions,
    * not UDFs) — once baskets are nested, per-basket features cost zero
    * additional shuffles, which is why ML feature payloads ship nested
    * (m14's batch formation is this op's consumer). The DuckDB oracle
    * computes the same features RELATIONALLY (flat conditional
    * aggregates) — equal hashes prove the nested path is a pure layout
    * change, not a semantics change. Deterministic: arrays sorted by
    * linenumber before any order-sensitive step; money in integer cents. */
  val q161 = GraftQuery(
    "q161_nested_basket_features",
    "Nest-then-analyze: per-order struct arrays + HOF features == flat relational recompute",
    (s, dir) => {
      table(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(20L)) === 0L)
        .select(col("l_orderkey"),
          struct(col("l_linenumber").as("ln"),
            expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
            month(col("l_shipdate")).as("m")).as("item"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("item"))).as("basket"))
        .select(col("l_orderkey"),
          size(col("basket")).cast("long").as("n_lines"),
          size(expr("filter(basket, x -> x.qty >= 30)")).cast("long")
            .as("n_heavy"),
          expr("aggregate(basket, 0L, (acc, x) -> acc + x.cents)")
            .as("basket_cents"),
          size(expr("array_distinct(transform(basket, x -> x.m))"))
            .cast("long").as("ship_months"))
        .orderBy("l_orderkey")
    },
    Some("""
      SELECT l_orderkey,
             count(*) AS n_lines,
             CAST(sum(CASE WHEN CAST(round(l_quantity) AS BIGINT) >= 30
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS basket_cents,
             CAST(count(DISTINCT month(CAST(l_shipdate AS DATE)))
               AS BIGINT) AS ship_months
      FROM lineitem
      WHERE l_orderkey % 20 = 0
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""))

  /** RFM segmentation — the CRM workhorse: every customer coded by
    * Recency (days since last order), Frequency (order count), Monetary
    * (lifetime spend) QUINTILES, then rolled into segments. The mechanics
    * that matter at scale: one orders scan builds the per-customer frame
    * (three aggregates ride the same groupBy), the three ntile windows
    * share ONE unkeyed ordering domain each — acceptable because the
    * frame is customer-grain, already 3 orders of magnitude below the
    * fact (and a production variant ranks within market segments to keep
    * partitions bounded); custkey tiebreaks make every quintile edge
    * deterministic. Output is the segment-level rollup (≤125 rows), with
    * R5F5M5 = best customers reading naturally. */
  val q170 = GraftQuery(
    "q170_rfm_segmentation",
    "RFM quintile coding per customer + segment rollup; deterministic ntile edges",
    (s, dir) => {
      val perCust = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("freq"),
          sum(dec2(col("o_totalprice"))).as("monetary"))
      // recency: higher ntile = more recent; tiebreak custkey everywhere
      val coded = perCust
        .withColumn("r", ntile(5).over(Window.orderBy(col("last_order"),
          col("o_custkey"))))
        .withColumn("f", ntile(5).over(Window.orderBy(col("freq"),
          col("o_custkey"))))
        .withColumn("m", ntile(5).over(Window.orderBy(col("monetary"),
          col("o_custkey"))))
      coded.groupBy(concat(lit("R"), col("r"), lit("F"), col("f"),
          lit("M"), col("m")).as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum("freq").as("total_orders"),
          sum("monetary").cast("double").as("total_spend"))
        .orderBy("segment")
    },
    Some("""
      WITH pc AS (
        SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
               count(*) AS freq,
               sum(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary
        FROM orders GROUP BY o_custkey),
      coded AS (
        SELECT o_custkey, freq, monetary,
               ntile(5) OVER (ORDER BY last_order, o_custkey) AS r,
               ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
               ntile(5) OVER (ORDER BY monetary, o_custkey) AS m
        FROM pc)
      SELECT concat('R', r, 'F', f, 'M', m) AS segment,
             count(*) AS n_customers,
             CAST(sum(freq) AS BIGINT) AS total_orders,
             CAST(sum(monetary) AS DOUBLE) AS total_spend
      FROM coded
      GROUP BY segment
      ORDER BY segment"""))

  /** Revenue-concentration report: the LORENZ curve by customer decile
    * plus the exact GINI coefficient — the "what share of revenue do the
    * top customers carry" question behind every key-account program and
    * concentration-risk audit. Exactness discipline: per-customer revenue
    * is BIGINT cents; the Gini uses the closed rank form
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over the ascending (cents,
    * custkey) rank, with the rank-weighted sum accumulated in
    * DECIMAL(38,0) (Σi·xᵢ ≈ 1e17 cents at sf0.1 — ·2·10⁴ would wrap
    * BIGINT) and the final bp landing via integral division, identical
    * to DuckDB's HUGEINT `//`. Scale shape: ONE orders scan to the
    * per-customer rollup; the global rank/ntile run on that AGGREGATE
    * frame (|customers|, ~fact/10 — the q138 posture: a total order is
    * inherent to the metric, and it orders the rollup, never the fact),
    * pinned once and reused by both the Gini aggregate and the decile
    * rollup; deciles and their cumulative shares are a 10-row frame. */
  val q174 = GraftQuery(
    "q174_revenue_gini_lorenz",
    "Lorenz curve by customer decile + exact Gini coefficient of order revenue, in bp",
    (s, dir) => {
      val ranked = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .withColumn("i", row_number()
          .over(Window.orderBy("cents", "o_custkey")).cast("long"))
        .localCheckpoint(true)
      val gini = ranked
        .agg(count(lit(1)).as("nn"), sum("cents").as("ss"),
          sum(expr("CAST(i AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))"))
            .as("s1"))
        .select(expr(
          """CAST((2 * s1 - CAST(nn + 1 AS DECIMAL(38,0)) * ss) * 10000
               div (CAST(nn AS DECIMAL(38,0)) * ss) AS BIGINT)""")
          .as("gini_bp"), col("ss"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .withColumn("decile", ntile(10).over(Window.orderBy("i")).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("decile_cents"))
        .withColumn("cum_cents", sum("decile_cents").over(wCum))
        .crossJoin(broadcast(gini))
        .select(col("decile"), col("n_cust"), col("decile_cents"),
          expr("cum_cents * 10000 div ss").as("cum_share_bp"),
          col("gini_bp"))
        .orderBy("decile")
    },
    Some("""
      WITH percust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY o_custkey),
      ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
                 AS i,
               ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
        FROM percust),
      gini AS (
        SELECT CAST((2 * sum(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT))
                     - CAST(count(*) + 1 AS HUGEINT) * sum(cents)) * 10000
                    // (CAST(count(*) AS HUGEINT) * sum(cents)) AS BIGINT)
                 AS gini_bp,
               CAST(sum(cents) AS BIGINT) AS ss
        FROM ranked),
      dec AS (
        SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_cust,
               CAST(sum(cents) AS BIGINT) AS decile_cents
        FROM ranked GROUP BY 1)
      SELECT decile, n_cust, decile_cents,
             CAST(sum(decile_cents) OVER (ORDER BY decile) AS BIGINT)
               * 10000 // gini.ss AS cum_share_bp,
             gini.gini_bp
      FROM dec, gini
      ORDER BY decile"""))

  /** TPC-H Q22 SHAPE — dormant high-value accounts: customers in a fixed
    * segment set whose balance beats the positive-balance average AND who
    * have placed no order since 2000 (dormancy, not never-ordered — the
    * date gate also pushes to the orders scan), rolled up per segment. The shape is the point
    * (the last classic-query pattern the suite lacked): a scalar subquery
    * that must evaluate ONCE and broadcast (the average — a naive plan
    * re-runs it per row), followed by an anti join against the fact.
    * Plan discipline: the average is a 1-row aggregate cross-joined in
    * (never a correlated re-scan — q95's decorrelation rule, here by
    * construction); the NOT EXISTS is a LEFT ANTI with the orders side
    * reduced to its distinct custkeys BEFORE the join (at 100 TB the
    * anti join probes a |customers|-sized set, not the raw fact); money
    * stays integer cents. */
  val q182 = GraftQuery(
    "q182_dormant_accounts",
    "Q22 shape: per-segment count and balance of above-average customers with no orders",
    (s, dir) => {
      val cust = table(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val avgPos = cust.filter(col("bal_cents") > 0)
        .agg(expr("sum(bal_cents) div count(*)").as("avg_cents"))
      val buyers = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(avgPos))
        .filter(col("bal_cents") > col("avg_cents"))
        .join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), sum("bal_cents").as("bal_cents_total"))
        .orderBy("c_mktsegment")
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')),
      avgpos AS (
        SELECT CAST(sum(bal_cents) AS BIGINT) // count(*) AS avg_cents
        FROM cust WHERE bal_cents > 0)
      SELECT c_mktsegment, count(*) AS n_cust,
             CAST(sum(bal_cents) AS BIGINT) AS bal_cents_total
      FROM cust, avgpos
      WHERE bal_cents > avg_cents
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = cust.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** EXACT percentile_cont — the interpolating percentile convention
    * (q153 pinned percentile_disc; SQL surfaces both): at p = q/4 the
    * value is a + (b−a)·frac/4 where pos = (n−1)·q/4 splits into integer
    * index and quarter-fraction — and because frac ∈ {0..3}, the
    * interpolation term in MICRO-cents is (b−a)·250000·frac, exactly
    * representable: no float touches the pipeline at any quartile.
    * Scale shape: one lineitem scan into the per-flag rank window (each
    * group sorts its own rows — the q151 posture, no global sort); the
    * 9-row quartile spec (flag × q × lo/hi role) broadcasts onto the
    * ranked frame as an equi-join on (flag, rn) — the ranked fact is
    * probed, never re-shuffled; the final reshape is 9 rows. */
  val q185 = GraftQuery(
    "q185_percentile_cont_exact",
    "Exact interpolated quartiles (p25/p50/p75) of price cents per returnflag, in micro-cents",
    (s, dir) => {
      val wrank = Window.partitionBy("flag").orderBy("c")
      val ranked = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
        .withColumn("rn", row_number().over(wrank).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("flag")))
      // group sizes come from a SECOND, column-pruned scan (l_returnflag
      // only — footer-cheap) rather than re-running the rank window; the
      // expensive sorted pass over prices happens exactly once
      val roles = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("sflag"))
        .agg(count(lit(1)).as("n"))
        .select(col("sflag"), col("n"),
          explode(expr("array(1L, 2L, 3L)")).as("q"))
        .withColumn("lo", expr("((n - 1) * q) div 4 + 1"))
        .withColumn("hi", expr("least(lo + 1, n)"))
        .withColumn("frac", expr("((n - 1) * q) % 4"))
        .select(col("sflag"), col("q"), col("frac"), explode(expr(
          """array(struct('a' AS role, lo AS trn),
                   struct('b' AS role, hi AS trn))""")).as("r"))
        .select(col("sflag"), col("q"), col("frac"),
          col("r.role").as("role"), col("r.trn").as("trn"))
      ranked
        .join(broadcast(roles),
          col("flag") === col("sflag") && col("rn") === col("trn"))
        .groupBy("flag", "q", "frac")
        .agg(max(when(col("role") === "a", col("c"))).as("a"),
          max(when(col("role") === "b", col("c"))).as("b"))
        .select(col("flag"), col("q"),
          expr("a * 1000000 + (b - a) * 250000 * frac").as("p_micro"))
        .orderBy("flag", "q")
    },
    Some("""
      WITH ranked AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
               CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY
                 CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
      spec AS (
        SELECT flag, n, CAST(q AS BIGINT) AS q,
               ((n - 1) * q) // 4 + 1 AS lo,
               least(((n - 1) * q) // 4 + 2, n) AS hi,
               ((n - 1) * q) % 4 AS frac
        FROM (SELECT flag, max(n) AS n FROM ranked GROUP BY flag),
             (SELECT unnest(range(1, 4)) AS q))
      SELECT s.flag, s.q,
             CAST(a.c * 1000000 + (b.c - a.c) * 250000 * s.frac AS BIGINT)
               AS p_micro
      FROM spec s
      JOIN ranked a ON a.flag = s.flag AND a.rn = s.lo
      JOIN ranked b ON b.flag = s.flag AND b.rn = s.hi
      ORDER BY s.flag, s.q"""))

  /** DISTRIBUTION-RANK window functions — percent_rank, cume_dist, and
    * ntile exercised together and hash-proven (the last family of
    * standard window functions the registry hadn't pinned): per
    * returnflag, prices rank once and every function rides the SAME
    * window (one exchange, one sort — the optimizer collapses same-spec
    * window functions into a single Window node, which PlanSpec pins);
    * the report rolls to decile granularity with each decile's boundary
    * percent_rank/cume_dist. Both functions are exact rationals
    * ((rank−1)/(n−1), peers/n) that the engines evaluate in identical
    * IEEE division — round(…, 6) is presentation, not reconciliation.
    * Ordering carries the house unique tiebreak (cents, linenumber id)
    * so every rank is deterministic. */
  val q196 = GraftQuery(
    "q196_distribution_ranks",
    "percent_rank + cume_dist + ntile on one window, rolled to decile boundaries per flag",
    (s, dir) => {
      val w = Window.partitionBy("flag").orderBy("cents", "rid")
      table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          expr("l_orderkey * 10 + l_linenumber").as("rid"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("flag", "decile")
        .agg(count(lit(1)).as("n"),
          min("cents").as("min_cents"), max("cents").as("max_cents"),
          round(max("pr"), 6).as("pr_hi"),
          round(max("cd"), 6).as("cd_hi"))
        .orderBy("flag", "decile")
    },
    Some("""
      WITH ranked AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               ntile(10) OVER w AS decile
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                              l_orderkey * 10 + l_linenumber))
      SELECT flag, CAST(decile AS BIGINT) AS decile, count(*) AS n,
             CAST(min(cents) AS BIGINT) AS min_cents,
             CAST(max(cents) AS BIGINT) AS max_cents,
             round(max(pr), 6) AS pr_hi,
             round(max(cd), 6) AS cd_hi
      FROM ranked
      GROUP BY flag, decile
      ORDER BY flag, decile"""))

  /** SQL-text / DataFrame-API PARITY — a user of this engine writes
    * either surface and must get identical bytes: the q1 pricing
    * summary is computed twice in the SAME session, once through
    * `spark.sql` over registered views (the BI-tool path) and once
    * through the DataFrame API (the pipeline path), and the two results
    * FULL-OUTER join on the group key with every measure compared. The
    * output is the parity ledger: one row per group, a `parity` flag
    * that must be uniformly true, and the measures themselves (so the
    * driver's oracle ALSO checks the values — three-way agreement:
    * SQL path == API path == DuckDB). Any Catalyst divergence between
    * the parser→analyzer path and the DSL path (implicit casts,
    * aggregate coercion) surfaces here as a false flag, not a silent
    * dashboard discrepancy. */
  val q202 = GraftQuery(
    "q202_sql_api_parity",
    "spark.sql text vs DataFrame API: same aggregate, full-outer parity ledger",
    (s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("q202_lineitem")
      val viaSql = s.sql("""
        SELECT l_returnflag AS flag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
                 AS price
        FROM q202_lineitem
        GROUP BY l_returnflag""")
      val viaApi = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("price"))
      viaSql.as("s")
        .join(viaApi.as("a"), col("s.flag") === col("a.flag"), "full_outer")
        .select(coalesce(col("s.flag"), col("a.flag")).as("flag"),
          col("s.n").as("n"), col("s.qty").as("qty"),
          col("s.price").as("price"),
          (col("s.n") === col("a.n") && col("s.qty") === col("a.qty") &&
            col("s.price") === col("a.price")).as("parity"))
        .orderBy("flag")
    },
    Some("""
      SELECT l_returnflag AS flag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS price,
             true AS parity
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY flag"""))

  /** BASKET-SIMILARITY join — d17's exact set-similarity discipline on
    * TRANSACTIONAL data: which orders bought near-identical part sets
    * (the wholesale-account and fraud-ring signal q160's item-pair
    * rules can't see, because it is the whole basket that matches).
    * Candidates come from the shared-part equi-join (never all-pairs —
    * an order pair is only compared if a part CONNECTS it), Jaccard is
    * exact integer bp over distinct-part sets, and the report is the
    * top-20 most-similar pairs (ties by keys). Bounded to a 5 % order
    * slice so the oracle's self-join stays cheap at every fixture
    * scale; the production path is the same join over d2-style banded
    * part-set signatures. */
  val q204 = GraftQuery(
    "q204_basket_similarity",
    "Top-20 order pairs by exact part-set Jaccard (shared-part candidates, integer bp)",
    (s, dir) => {
      val baskets = table(s, dir, "lineitem")
        .filter(expr("l_orderkey % 20 = 0"))
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      val sizes = baskets.groupBy("okey").agg(count(lit(1)).as("n"))
      baskets.as("a").join(baskets.as("b"),
          col("a.pk") === col("b.pk") && col("a.okey") < col("b.okey"))
        .groupBy(col("a.okey").as("o1"), col("b.okey").as("o2"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("okey").as("o1"),
          col("n").as("n1"))), "o1")
        .join(broadcast(sizes.select(col("okey").as("o2"),
          col("n").as("n2"))), "o2")
        .withColumn("jac_bp", expr("inter * 10000 div (n1 + n2 - inter)"))
        .orderBy(desc("jac_bp"), col("o1"), col("o2"))
        .limit(20)
        .select("o1", "o2", "inter", "n1", "n2", "jac_bp")
    },
    Some("""
      WITH baskets AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
        FROM lineitem WHERE l_orderkey % 20 = 0),
      sizes AS (SELECT okey, count(*) AS n FROM baskets GROUP BY okey),
      pairs AS (
        SELECT a.okey AS o1, b.okey AS o2, count(*) AS inter
        FROM baskets a JOIN baskets b
          ON a.pk = b.pk AND a.okey < b.okey
        GROUP BY 1, 2)
      SELECT o1, o2, inter, na.n AS n1, nb.n AS n2,
             inter * 10000 // (na.n + nb.n - inter) AS jac_bp
      FROM pairs
      JOIN sizes na ON na.okey = o1
      JOIN sizes nb ON nb.okey = o2
      ORDER BY jac_bp DESC, o1, o2
      LIMIT 20"""))

  /** ABC CLASSIFICATION — the inventory-policy cut of the Pareto curve
    * (q174 draws Lorenz over customers; procurement wants the PARTS
    * split into policy classes): rank parts by revenue descending,
    * class A while cumulative share ≤ 80 %, B to 95 %, C the tail —
    * each class then gets different stocking/count-cycle policy.
    * Boundaries evaluate on the cumulative share INCLUSIVE of the
    * current part (the standard convention — the part that crosses
    * 80 % still counts as A). Integer bp shares against the pinned
    * total; the rank orders the per-part ROLLUP (q138 posture). Output
    * is the 3-row policy summary: parts, revenue, share — the
    * "600 parts are 80 % of revenue" sentence as data. */
  val q210 = GraftQuery(
    "q210_abc_classification",
    "Parts classed A/B/C by cumulative revenue share (80/95), policy summary rows",
    (s, dir) => {
      val perPart = table(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
        .localCheckpoint(true)
      val wCum = Window.orderBy(desc("cents"), col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perPart
        .withColumn("cum", sum("cents").over(wCum))
        .withColumn("tot", sum("cents").over(Window.partitionBy()))
        .withColumn("cls", expr(
          """CASE WHEN cum * 10000 div tot <= 8000 THEN 'A'
                  WHEN cum * 10000 div tot <= 9500 THEN 'B'
                  ELSE 'C' END"""))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("cents").as("cents"))
        .withColumn("share_bp", expr(
          "cents * 10000 div sum(cents) over ()"))
        .orderBy("cls")
    },
    Some("""
      WITH perpart AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey),
      cum AS (
        SELECT l_partkey, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(sum(cents) OVER () AS BIGINT) AS tot
        FROM perpart),
      classed AS (
        SELECT CASE WHEN cum * 10000 // tot <= 8000 THEN 'A'
                    WHEN cum * 10000 // tot <= 9500 THEN 'B'
                    ELSE 'C' END AS cls,
               cents
        FROM cum)
      SELECT cls, count(*) AS n_parts,
             CAST(sum(cents) AS BIGINT) AS cents,
             CAST(sum(cents) * 10000 // (SELECT sum(cents) FROM classed)
               AS BIGINT) AS share_bp
      FROM classed
      GROUP BY cls
      ORDER BY cls"""))

  /** DISCOUNT-LIFT table — the merchandising question behind every
    * promo review: does a deeper discount actually move more units?
    * Line items band by discount depth (integer cents of discount rate
    * — the dec4 column is exact), each band reports its mean quantity
    * in milli-units, and lift is the band mean vs the no-discount
    * baseline in sign-split bp — the elasticity read-out without
    * fitting a model (q180 fits; this one tabulates). Baseline comes
    * from the SAME rollup via a 1-row broadcast, so the fact is
    * scanned once. */
  val q211 = GraftQuery(
    "q211_discount_lift",
    "Mean quantity per discount band + sign-split lift bp vs the zero-discount baseline",
    (s, dir) => {
      val banded = table(s, dir, "lineitem")
        .withColumn("disc_pct", (dec4(col("l_discount")) * 100).cast("long"))
        .withColumn("band", expr(
          """CASE WHEN disc_pct = 0 THEN '0_none'
                  WHEN disc_pct <= 2 THEN '1_to_2pct'
                  WHEN disc_pct <= 5 THEN '2_to_5pct'
                  ELSE '3_over_5pct' END"""))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(CAST(l_quantity * 1000 AS BIGINT)) div count(*)")
            .as("qty_milli"))
        .localCheckpoint(true)
      val base = banded.filter(col("band") === "0_none")
        .select(col("qty_milli").as("base_milli"))
      banded.crossJoin(broadcast(base))
        .withColumn("lift_bp", expr(
          """CASE WHEN qty_milli >= base_milli
               THEN (qty_milli - base_milli) * 10000 div base_milli
               ELSE -((base_milli - qty_milli) * 10000 div base_milli) END"""))
        .select("band", "n_lines", "qty_milli", "lift_bp")
        .orderBy("band")
    },
    Some("""
      WITH banded AS (
        SELECT CASE WHEN CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                         AS BIGINT) = 0 THEN '0_none'
                    WHEN CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                         AS BIGINT) <= 2 THEN '1_to_2pct'
                    WHEN CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                         AS BIGINT) <= 5 THEN '2_to_5pct'
                    ELSE '3_over_5pct' END AS band,
               count(*) AS n_lines,
               CAST(sum(CAST(l_quantity * 1000 AS BIGINT)) AS BIGINT)
                 // count(*) AS qty_milli
        FROM lineitem
        GROUP BY 1),
      base AS (
        SELECT qty_milli AS base_milli FROM banded WHERE band = '0_none')
      SELECT band, n_lines, qty_milli,
             CASE WHEN qty_milli >= base.base_milli
               THEN (qty_milli - base.base_milli) * 10000 // base.base_milli
               ELSE -((base.base_milli - qty_milli) * 10000
                      // base.base_milli) END AS lift_bp
      FROM banded, base
      ORDER BY band"""))

  /** The as-of join AS A FIRST-CLASS OPERATOR (graft.plans.AsOfJoin):
    * q39 expresses backward-as-of through the union-merge idiom (one
    * wide union + a running `last()` window carrying a struct); q213 is
    * the SAME join through the custom logical node + SparkStrategy +
    * streaming-merge SparkPlan — both sides co-partitioned on user key
    * by EnsureRequirements (exactly the SortMergeJoin contract), sorted
    * by (key, time), then one merge pass per partition holding a single
    * candidate row (O(1) state, pointer never rewinds). Same rows as
    * q39 — the oracle is the identical DuckDB window query — so the
    * operator's correctness is driver-hash-checked against the composed
    * form, and PlanSpec pins the plan: an AsOfMergeJoin node, NO Window,
    * no join fan-out. Equal-time ties break by max o_orderkey via the
    * operator's tiebreak ordering (q39's convention). */
  val q213 = GraftQuery(
    "q213_asof_operator",
    "Custom AsOfMergeJoin physical operator: same rows as q39's union-merge, no Window, O(1) merge state",
    (s, dir) => {
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("t"))
      val o = table(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").cast("timestamp_ntz").as("ot"))
      graft.plans.AsOfJoin.asOfBackward(e, o,
          Seq(col("user_id")), Seq(col("o_custkey")),
          col("t"), col("ot"), Seq(col("o_orderkey")))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey"), col("o_orderdate"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, o_orderkey, o_orderdate
      FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                   row_number() OVER (PARTITION BY e.event_id
                     ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
            FROM events e
            JOIN orders o ON e.user_id = o.o_custkey
                         AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP))
      WHERE rn = 1
      ORDER BY event_id"""))

  /** The operator's FORWARD direction (q87 composes it via union-merge;
    * here it's the same AsOfMergeJoin node with the comparison flipped):
    * for each event, the EARLIEST order of the same user at-or-after the
    * event — "what did this touchpoint convert into", the attribution
    * read. Forward needs NO candidate state at all: the right pointer
    * advances past rows strictly before the left time and the match is a
    * PEEK at the next row (never consumed — later left rows may claim
    * it); equal-time ties pick the min orderkey, the first row in
    * tiebreak sort order. Same two-exchange plan envelope as q213. */
  val q215 = GraftQuery(
    "q215_asof_forward_operator",
    "Forward as-of through AsOfMergeJoin: first event at-or-after each order, peek-only merge",
    (s, dir) => {
      val o = table(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("t"))
      val e = events(s, dir).select(col("event_id"),
        col("user_id"), col("event_type"),
        col("ts").cast("timestamp_ntz").as("ts_n"))
      graft.plans.AsOfJoin.asOfForward(o, e,
          Seq(col("o_custkey")), Seq(col("user_id")),
          col("t"), col("ts_n"), Seq(col("event_id")))
        .select(col("o_orderkey"), col("o_custkey"),
          col("event_id"), col("event_type"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, event_id, event_type
      FROM (SELECT o.o_orderkey, o.o_custkey, e.event_id, e.event_type,
                   row_number() OVER (PARTITION BY o.o_orderkey
                     ORDER BY e.ts ASC, e.event_id ASC) AS rn
            FROM orders o
            JOIN events e ON e.user_id = o.o_custkey
                         AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate)
      WHERE rn = 1
      ORDER BY o_orderkey"""))

  /** WINSORIZATION — the robust-statistics CLEANING action (q101
    * detects outliers and reports; feature pipelines CLAMP them): prices
    * clamp to the discrete p01/p99 cutoffs per group, and the audit
    * reports what changed — clamp counts per tail and the before/after
    * mean and max, the table a feature engineer signs off before
    * training on the column. Discrete cutoffs (value at rank
    * max(1, n div 100) / rank (99n) div 100 + 1) keep everything
    * integer-exact — no interpolation, no floats (q185 pins the
    * interpolating convention where it's wanted). Scale shape: ONE
    * sorted rank pass per group; the 2-row cutoff spec broadcasts back
    * onto the unranked fact as an equi-join probe — clamping re-scans
    * nothing and re-sorts nothing. */
  val q219 = GraftQuery(
    "q219_winsorize",
    "Clamp price cents to discrete p01/p99 per returnflag: clamp counts + before/after stats",
    (s, dir) => {
      val cents = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      val ranked = cents
        .withColumn("rn", row_number().over(
          Window.partitionBy("flag").orderBy("c")).cast("long"))
      val spec = cents.groupBy("flag").agg(count(lit(1)).as("n"))
        .select(col("flag").as("sflag"), col("n"),
          expr("greatest(1L, n div 100)").as("lo_rn"),
          expr("least(n, (n * 99) div 100 + 1)").as("hi_rn"))
      val cuts = ranked.join(broadcast(spec),
          col("flag") === col("sflag") &&
            (col("rn") === col("lo_rn") || col("rn") === col("hi_rn")))
        .groupBy("flag")
        .agg(max("n").as("n"),
          max(when(col("rn") === col("lo_rn"), col("c"))).as("lo_cut"),
          max(when(col("rn") === col("hi_rn"), col("c"))).as("hi_cut"))
      cents.join(broadcast(cuts), "flag")
        .select(col("flag"), col("n"), col("lo_cut"), col("hi_cut"), col("c"),
          expr("greatest(lo_cut, least(hi_cut, c))").as("w"))
        .groupBy("flag", "n", "lo_cut", "hi_cut")
        .agg(sum(when(col("c") < col("lo_cut"), 1L).otherwise(0L)).as("n_clamped_lo"),
          sum(when(col("c") > col("hi_cut"), 1L).otherwise(0L)).as("n_clamped_hi"),
          expr("sum(c) div count(1)").as("mean_cents"),
          expr("sum(w) div count(1)").as("mean_wins_cents"),
          max("c").as("max_cents"),
          max("w").as("max_wins_cents"))
        .orderBy("flag")
    },
    Some("""
      WITH cents AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem),
      ranked AS (
        SELECT flag, c,
               CAST(row_number() OVER (PARTITION BY flag ORDER BY c)
                 AS BIGINT) AS rn
        FROM cents),
      spec AS (
        SELECT flag, count(*) AS n,
               greatest(1, count(*) // 100) AS lo_rn,
               least(count(*), (count(*) * 99) // 100 + 1) AS hi_rn
        FROM cents GROUP BY flag),
      cuts AS (
        SELECT r.flag, max(s.n) AS n,
               max(CASE WHEN r.rn = s.lo_rn THEN r.c END) AS lo_cut,
               max(CASE WHEN r.rn = s.hi_rn THEN r.c END) AS hi_cut
        FROM ranked r JOIN spec s ON r.flag = s.flag
          AND (r.rn = s.lo_rn OR r.rn = s.hi_rn)
        GROUP BY r.flag)
      SELECT c.flag, CAST(k.n AS BIGINT) AS n, k.lo_cut, k.hi_cut,
             CAST(sum(CASE WHEN c.c < k.lo_cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped_lo,
             CAST(sum(CASE WHEN c.c > k.hi_cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped_hi,
             CAST(sum(c.c) // count(*) AS BIGINT) AS mean_cents,
             CAST(sum(greatest(k.lo_cut, least(k.hi_cut, c.c))) // count(*)
               AS BIGINT) AS mean_wins_cents,
             max(c.c) AS max_cents,
             max(greatest(k.lo_cut, least(k.hi_cut, c.c))) AS max_wins_cents
      FROM cents c JOIN cuts k USING (flag)
      GROUP BY c.flag, k.n, k.lo_cut, k.hi_cut
      ORDER BY c.flag"""))

  /** CUMULATIVE-CROSSING POINT — "when does demand exhaust stock": per
    * part, order lines accumulate in date order and the answer is the
    * FIRST row where the running sum crosses the budget (here a
    * deterministic stock = p_size·50, so the oracle knows it) — the
    * shape behind stock-out projection, budget-burn alerts, and quota
    * trip wires. The crossing is an argmin over the filtered running
    * sum: one window pass builds the cumsum, `min_by`-style struct-min
    * picks the earliest crossing (no second sort, no self-join); parts
    * that never cross report NULL with their terminal fill ratio in bp.
    * Bounded to 200 parts so the per-part detail stays reviewable. */
  val q221 = GraftQuery(
    "q221_cumulative_crossing",
    "First date each part's cumulative demand crosses its stock budget; never-crossed report fill bp",
    (s, dir) => {
      val lines = table(s, dir, "lineitem")
        .filter(col("l_partkey") <= 200)
        .join(table(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("partkey"),
          col("o_orderdate").cast("date").as("d"),
          col("l_quantity").cast("long").as("qty"),
          col("l_orderkey"), col("l_linenumber"))
      val stock = table(s, dir, "part")
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey").as("partkey"),
          (col("p_size").cast("long") * 50).as("stock"))
      val w = Window.partitionBy("partkey")
        .orderBy(col("d"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lines.join(broadcast(stock), "partkey")
        .withColumn("cum", sum("qty").over(w))
        .groupBy("partkey", "stock")
        .agg(sum("qty").as("total_demand"),
          min(when(col("cum") >= col("stock"),
            struct(col("d"), col("cum")))).as("crossing"))
        .select(col("partkey"), col("stock"), col("total_demand"),
          col("crossing.d").cast("timestamp_ntz").as("exhaust_date"),
          col("crossing.cum").as("cum_at_exhaust"),
          expr("CASE WHEN crossing IS NULL THEN total_demand * 10000 div stock END")
            .as("fill_bp_if_never"))
        .orderBy("partkey")
    },
    Some("""
      WITH lines AS (
        SELECT l_partkey AS partkey, CAST(o_orderdate AS DATE) AS d,
               CAST(l_quantity AS BIGINT) AS qty, l_orderkey, l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_partkey <= 200),
      stock AS (
        SELECT p_partkey AS partkey, CAST(p_size AS BIGINT) * 50 AS stock
        FROM part WHERE p_partkey <= 200),
      cum AS (
        SELECT l.partkey, s.stock, l.d, l.qty,
               sum(l.qty) OVER (PARTITION BY l.partkey
                 ORDER BY l.d, l.l_orderkey, l.l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM lines l JOIN stock s USING (partkey)),
      agg AS (
        SELECT partkey, stock,
               CAST(sum(qty) AS BIGINT) AS total_demand,
               min(CASE WHEN cum >= stock THEN struct_pack(d := d, cum := cum)
                   END) AS crossing
        FROM cum GROUP BY partkey, stock)
      SELECT partkey, stock, total_demand,
             CAST(crossing.d AS TIMESTAMP) AS exhaust_date,
             CAST(crossing.cum AS BIGINT) AS cum_at_exhaust,
             CASE WHEN crossing IS NULL
               THEN total_demand * 10000 // stock END AS fill_bp_if_never
      FROM agg
      ORDER BY partkey"""))

  /** The Q18 SHAPE — large-order keeplist probing the detail: an
    * aggregate's HAVING (orders whose line quantities total > 300)
    * yields a small keylist, and the report joins it back to BOTH fact
    * tables. The scale idiom: the keeplist is aggregated FIRST and
    * BROADCAST — the detail tables are probed, never shuffled (the same
    * build-probe inversion as q113/q119/q131's shapes). One lineitem
    * scan builds both the keeplist and the per-order totals (the rollup
    * reuses), orders/customer attach by broadcast-probe. */
  val q222 = GraftQuery(
    "q222_having_keeplist",
    "Q18 shape: HAVING-filtered order keeplist broadcast back onto orders (one fact aggregation)",
    (s, dir) => {
      val totals = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      val keep = totals.filter(col("total_qty") > 300)
      table(s, dir, "orders")
        .join(broadcast(keep), col("o_orderkey") === col("okey"))
        .join(table(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
          col("total_qty"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT c_name, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             t.total_qty
      FROM orders
      JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
              AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS BIGINT)) > 300) t
        ON o_orderkey = t.l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey"""))

  /** The custom operator's BUSINESS consumer — last-click attribution
    * through [[graft.plans.AsOfJoin]] (q91 computes multi-touch shares
    * via windows; this is the single-touch production fast path): each
    * purchase takes the user's latest click at-or-before it, a 7-day
    * lookback TOLERANCE composes as a plain post-filter on the matched
    * pair (the operator stays tolerance-free — backward-inclusive
    * semantics + filter IS merge_asof's tolerance), and the daily
    * report counts attributed purchases and lag. Unattributed
    * purchases (no click ever, or outside the window) are recovered by
    * an anti-join of purchases against the attributed keys — the inner
    * as-of plus one anti join replaces the quadratic click×purchase
    * window the naive form pays. */
  val q223 = GraftQuery(
    "q223_asof_attribution",
    "Last-click attribution via AsOfMergeJoin + 7-day tolerance filter; unattributed recovered",
    (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").cast("timestamp_ntz").as("c_ts"))
      val matched = graft.plans.AsOfJoin.asOfBackward(purchases, clicks,
          Seq(col("user_id")), Seq(col("c_user")),
          col("p_ts"), col("c_ts"), Seq(col("c_id")))
        .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      val attributed = matched
        .select(col("p_id"), to_date(col("p_ts")).as("day"),
          expr("""CAST((unix_micros(CAST(p_ts AS TIMESTAMP))
              - unix_micros(CAST(c_ts AS TIMESTAMP))) div 60000000 AS BIGINT)""")
            .as("lag_min"))
      val orphan = purchases
        .join(attributed.select("p_id"), Seq("p_id"), "left_anti")
        .select(to_date(col("p_ts")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_unattributed"))
      attributed.groupBy("day")
        .agg(count(lit(1)).as("n_attributed"),
          expr("sum(lag_min) div count(1)").as("mean_lag_min"))
        .join(orphan, Seq("day"), "full_outer")
        .select(col("day").cast("timestamp_ntz").as("day"),
          coalesce(col("n_attributed"), lit(0L)).as("n_attributed"),
          coalesce(col("n_unattributed"), lit(0L)).as("n_unattributed"),
          coalesce(col("mean_lag_min"), lit(-1L)).as("mean_lag_min"))
        .orderBy("day")
    },
    Some("""
      WITH p AS (
        SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT event_id AS c_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts
        FROM events WHERE event_type = 'click'),
      m AS (
        SELECT p_id, p_ts, c_ts FROM (
          SELECT p.p_id, p.p_ts, c.c_ts,
                 row_number() OVER (PARTITION BY p.p_id
                   ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
          FROM p JOIN c ON p.user_id = c.user_id AND c.c_ts <= p.p_ts)
        WHERE rn = 1),
      att AS (
        SELECT p_id, CAST(CAST(p_ts AS DATE) AS TIMESTAMP) AS day,
               (epoch_us(p_ts) - epoch_us(c_ts)) // 60000000 AS lag_min
        FROM m WHERE c_ts >= p_ts - INTERVAL 7 DAY),
      agg AS (
        SELECT day, count(*) AS n_attributed,
               CAST(sum(lag_min) // count(*) AS BIGINT) AS mean_lag_min
        FROM att GROUP BY day),
      orphan AS (
        SELECT CAST(CAST(p_ts AS DATE) AS TIMESTAMP) AS day,
               count(*) AS n_unattributed
        FROM p WHERE p_id NOT IN (SELECT p_id FROM att)
        GROUP BY 1)
      SELECT coalesce(agg.day, orphan.day) AS day,
             coalesce(n_attributed, 0) AS n_attributed,
             coalesce(n_unattributed, 0) AS n_unattributed,
             coalesce(mean_lag_min, -1) AS mean_lag_min
      FROM agg FULL OUTER JOIN orphan ON agg.day = orphan.day
      ORDER BY day"""))

  /** EXACT GINI / CONCENTRATION AUDIT — the inequality statistic behind
    * "is our revenue dangerously concentrated" (and, in a training-data
    * pipeline, "is one source dominating the token mix"): per market
    * segment, the Gini coefficient of per-customer revenue plus the top
    * decile's revenue share. Everything is the closed sorted-rank form
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) evaluated in integer
    * cents with cross-multiplied ×10⁴ output — no float division, so
    * both engines agree bit-for-bit (q130's negative-div trap avoided:
    * every term here is non-negative by construction). Scale shape: the
    * fact aggregates ONCE to customer grain; the rank window and both
    * rollups run on the customer-sized frame (dimension scale, not fact
    * scale); (i, x) products stay in BIGINT at any realistic segment
    * cardinality because x is bounded by order totals. q210 classes
    * customers into ABC bands; q224 reduces the whole curve to the two
    * numbers a concentration alert thresholds on. */
  val q224 = GraftQuery(
    "q224_gini_concentration",
    "Per-segment exact Gini (bp) of customer revenue + top-decile share bp",
    (s, dir) => {
      val rev = table(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .groupBy("o_custkey").agg(sum("c").as("x"))
        .join(broadcast(table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("seg"), col("o_custkey").as("ck"), col("x"))
      val segW = Window.partitionBy("seg")
      val ranked = rev
        .withColumn("i", row_number().over(
          segW.orderBy(col("x"), col("ck"))).cast("long"))
        .withColumn("nn", count(lit(1)).over(segW).cast("long"))
      ranked.groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum("x").as("total_cents"),
          sum(expr("i * x")).as("iwx"),
          sum(when(expr("i > (nn * 9) div 10"), col("x")))
            .as("top_decile_cents"))
        .select(col("seg"), col("n"), col("total_cents"),
          expr("((2 * iwx - (n + 1) * total_cents) * 10000) div (n * total_cents)")
            .as("gini_bp"),
          col("top_decile_cents"),
          expr("(top_decile_cents * 10000) div total_cents").as("top_decile_bp"))
        .orderBy("seg")
    },
    Some("""
      WITH rev AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey AS ck,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      ranked AS (
        SELECT seg, x,
               CAST(row_number() OVER (PARTITION BY seg ORDER BY x, ck)
                 AS BIGINT) AS i,
               CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS nn
        FROM rev)
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS total_cents,
             CAST(((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 10000)
               // (count(*) * sum(x)) AS BIGINT) AS gini_bp,
             CAST(sum(CASE WHEN i > (nn * 9) // 10 THEN x END) AS BIGINT)
               AS top_decile_cents,
             CAST((sum(CASE WHEN i > (nn * 9) // 10 THEN x END) * 10000)
               // sum(x) AS BIGINT) AS top_decile_bp
      FROM ranked
      GROUP BY seg
      ORDER BY seg"""))

  /** FIFO ALLOCATION / PRORATION — the accounts-receivable matching
    * primitive ("apply this customer's balance to their invoices oldest
    * first") and, generally, any sequential budget spend: allocation is
    * CLOSED-FORM over a running sum — paid_i = clamp(B − cumsum_{<i},
    * 0, amount_i) — so the whole pass is ONE window, no iteration, no
    * driver loop, no recursive CTE (the naive formulation loops over
    * invoices per account). Budget = the customer's positive account
    * balance in cents; invoices = their orders, oldest first with
    * orderkey tie-breaks both engines replay. Per-customer audit: full /
    * partial / unpaid invoice counts, allocated total (provably
    * min(budget, invoiced) — the conservation identity InvariantSpec
    * pins), and leftover budget. All integer cents. Bounded to custkey
    * < 600 to keep the audit reviewable; the window shape is
    * corpus-scale regardless. */
  val q225 = GraftQuery(
    "q225_fifo_allocation",
    "FIFO-apply customer balance to orders oldest-first: closed-form window, per-customer audit",
    (s, dir) => {
      val inv = table(s, dir, "orders")
        .filter(col("o_custkey") < 600)
        .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
          col("o_orderdate").as("d"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("amt"))
      val bud = table(s, dir, "customer")
        .filter(col("c_custkey") < 600)
        .select(col("c_custkey").as("bk"),
          expr("greatest(0L, CAST(round(c_acctbal * 100) AS BIGINT))").as("budget"))
      val w = Window.partitionBy("ck").orderBy(col("d"), col("ok"))
        .rowsBetween(Window.unboundedPreceding, -1)
      inv.join(broadcast(bud), col("ck") === col("bk"))
        .withColumn("before", coalesce(sum("amt").over(w), lit(0L)))
        .withColumn("paid",
          expr("greatest(0L, least(amt, budget - before))"))
        .groupBy(col("ck"), col("budget"))
        .agg(count(lit(1)).as("n_invoices"),
          sum(when(col("paid") === col("amt"), 1L).otherwise(0L)).as("n_full"),
          sum(when(col("paid") > 0 && col("paid") < col("amt"), 1L)
            .otherwise(0L)).as("n_partial"),
          sum(when(col("paid") === 0, 1L).otherwise(0L)).as("n_unpaid"),
          sum("amt").as("invoiced_cents"),
          sum("paid").as("allocated_cents"))
        .withColumn("leftover_cents", col("budget") - col("allocated_cents"))
        .orderBy("ck")
    },
    Some("""
      WITH inv AS (
        SELECT o_custkey AS ck, o_orderkey AS ok, o_orderdate AS d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS amt
        FROM orders WHERE o_custkey < 600),
      bud AS (
        SELECT c_custkey AS ck,
               greatest(0, CAST(round(c_acctbal * 100) AS BIGINT)) AS budget
        FROM customer WHERE c_custkey < 600),
      alloc AS (
        SELECT i.ck, b.budget, i.amt,
               greatest(0, least(i.amt, b.budget - coalesce(
                 sum(i.amt) OVER (PARTITION BY i.ck ORDER BY i.d, i.ok
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)))
                 AS paid
        FROM inv i JOIN bud b USING (ck))
      SELECT ck, budget,
             CAST(count(*) AS BIGINT) AS n_invoices,
             CAST(sum(CASE WHEN paid = amt THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
             CAST(sum(CASE WHEN paid > 0 AND paid < amt THEN 1 ELSE 0 END)
               AS BIGINT) AS n_partial,
             CAST(sum(CASE WHEN paid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unpaid,
             CAST(sum(amt) AS BIGINT) AS invoiced_cents,
             CAST(sum(paid) AS BIGINT) AS allocated_cents,
             CAST(budget - sum(paid) AS BIGINT) AS leftover_cents
      FROM alloc
      GROUP BY ck, budget
      ORDER BY ck"""))

  /** NULL-KEY SKEW SPLIT — the outer-join fix for the oldest shuffle
    * pathology: NULL join keys all hash to ONE partition, and since an
    * equi-join can never match them, that reducer does pure wasted work
    * — at 100 TB a 10%-null foreign key is a straggler task holding the
    * whole stage. The standard rewrite: split the fact on key
    * nullability, join ONLY the non-null side, union the null side back
    * with null-padded dimension columns — the null rows never enter an
    * exchange keyed on the join column. The DuckDB oracle replays the
    * PLAIN LEFT JOIN, so equal hashes PROVE the split is semantics-
    * preserving (the q113/q126 proven-rewrite discipline); PlanSpec
    * pins the shape (a Union whose null branch carries no Join, and an
    * isnotnull filter feeding the join). Null keys synthesized
    * deterministically (every 7th event loses its user). */
  val q232 = GraftQuery(
    "q232_null_skew_split_join",
    "Left join with null-heavy key via nullability split + union, proven against the plain join",
    (s, dir) => {
      val ev = events(s, dir)
        .select(
          expr("CASE WHEN event_id % 7 = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE user_id END").as("uid"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val dim = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val matched = ev.filter(col("uid").isNotNull)
        .join(dim, col("uid") === col("c_custkey"), "left")
        .select(col("uid"), col("cents"), col("c_mktsegment"))
      val nullSide = ev.filter(col("uid").isNull)
        .select(col("uid"), col("cents"),
          lit(null).cast("string").as("c_mktsegment"))
      matched.unionByName(nullSide)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"),
          sum(when(col("uid").isNull, 1L).otherwise(0L)).as("n_null_keys"))
        .orderBy(col("c_mktsegment").asc_nulls_first)
    },
    Some("""
      WITH ev AS (
        SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS uid,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT c.c_mktsegment,
             count(*) AS n,
             CAST(sum(e.cents) AS BIGINT) AS total_cents,
             CAST(sum(CASE WHEN e.uid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_keys
      FROM ev e LEFT JOIN customer c ON e.uid = c.c_custkey
      GROUP BY c.c_mktsegment
      ORDER BY c.c_mktsegment NULLS FIRST"""))

  /** SPATIAL SELF-JOIN (all pairs within radius) — the one grid shape
    * q156's bipartite points-near-sites join cannot express: proximity
    * pairs WITHIN one set, where the naive form is the O(n²) self cross
    * product and the subtle part is counting each unordered pair exactly
    * once. Same fixed grid (cell side = r, any pair within r lies ≤1
    * cell apart per axis), but asymmetric roles over the SAME relation:
    * the build side keys each point to its HOME cell only, the probe
    * side explodes each point to its 3×3 neighborhood — so a qualifying
    * pair meets exactly twice (A-home×B-probe and B-home×A-probe) and
    * the ka < kb filter keeps exactly one of the two; no DISTINCT pass,
    * no double-count. The join itself is a plain shuffled EQUI-join on
    * (gx, gy): partitionable, AQE-skew-splittable, no
    * BroadcastNestedLoopJoin (PlanSpec pins no cartesian). Coordinates
    * are synthesized deterministically from the key (LCG multipliers
    * mod 10⁴) and the distance test is INTEGER squared distance —
    * bit-exact cross-engine, no sqrt. The DuckDB oracle is the quadratic
    * all-pairs form, so equal hashes PROVE the grid pruning lossless
    * AND the once-per-pair accounting. At 100 TB this is d21's blocking
    * idea lifted to 2-D geometry: the probe explode is a fixed 9×
    * (bounded, not data-dependent). */
  val q235 = GraftQuery(
    "q235_grid_spatial_join",
    "All point pairs within radius via 3x3 grid-cell equi-join, proven against the quadratic oracle",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val pts = table(s, dir, "customer")
        .filter(col("c_custkey") < 2000)
        .select(col("c_custkey").cast("long").as("k"))
        .withColumn("x", expr("(k * 48271) % 10000"))
        .withColumn("y", expr("(k * 16807) % 10000"))
      val home = pts.select(col("k").as("ka"), col("x").as("xa"),
        col("y").as("ya"), expr("x div 400").as("gx"), expr("y div 400").as("gy"))
      val probe = pts
        .withColumn("cx", expr("x div 400")).withColumn("cy", expr("y div 400"))
        .select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"),
          explode(expr(
            """flatten(transform(sequence(-1L, 1L),
                 dx -> transform(sequence(-1L, 1L),
                   dy -> struct(cx + dx AS gx, cy + dy AS gy))))""")).as("c"))
        .select(col("kb"), col("xb"), col("yb"),
          col("c.gx").as("gx"), col("c.gy").as("gy"))
      home.join(probe, Seq("gx", "gy"))
        .filter(col("ka") < col("kb"))
        .withColumn("dist2",
          expr("(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)"))
        .filter(col("dist2") <= 160000L)
        .select(col("ka"), col("kb"), col("dist2"))
        .orderBy("ka", "kb")
    },
    Some("""
      WITH pts AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
               (CAST(c_custkey AS BIGINT) * 48271) % 10000 AS x,
               (CAST(c_custkey AS BIGINT) * 16807) % 10000 AS y
        FROM customer WHERE c_custkey < 2000)
      SELECT a.k AS ka, b.k AS kb,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
      FROM pts a JOIN pts b ON a.k < b.k
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 160000
      ORDER BY ka, kb"""))

  /** Q22 SHAPE (global-gate anti-join) — the last of the classic hard
    * TPC-H shapes (Q15→q131, Q17→q119, Q18→q222, Q19→q146, Q20→q145,
    * Q21→q113): find "wealthy but inactive" customers — balance above
    * the GLOBAL average of positive balances, AND no orders — rolled up
    * by geography. Three distinct mechanics compose: (1) the scalar gate
    * is computed over a FILTERED subset and applied via the
    * cross-multiplied INTEGER comparison bal·n_pos > sum_pos — no
    * division, no decimal-vs-double precision seam at the boundary (the
    * q130 discipline applied to a threshold); the one-row aggregate
    * broadcasts, never re-scanning the fact; (2) the NOT EXISTS is a
    * LEFT ANTI join against a FILTERED orders slice (never a correlated
    * per-row probe) — urgent-priority orders, because this fixture gives
    * every customer at least one order, so Q22's literal "no orders"
    * branch is vacuous here (the d19 degenerate-fixture rule: pick a
    * slice with real structure); (3) the survivors re-aggregate by
    * nation. The oracle replays the same integer gate, so borderline
    * customers land identically in both engines. */
  val q240 = GraftQuery(
    "q240_q22_shape",
    "Q22 shape: above-global-average balance + no urgent orders, rolled up by nation; integer-exact gate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      val gate = cust.filter(col("bal") > 0)
        .agg(count(lit(1)).as("n_pos"), sum("bal").as("sum_pos"))
      val eligible = cust.crossJoin(broadcast(gate))
        .filter(col("bal") * col("n_pos") > col("sum_pos"))
      val urgent = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      eligible.join(urgent,
          eligible("c_custkey") === urgent("o_custkey"), "left_anti")
        .groupBy("nation")
        .agg(count(lit(1)).as("numcust"), sum("bal").as("total_cents"))
        .orderBy("nation")
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer),
      gate AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pos,
               CAST(sum(bal) AS BIGINT) AS sum_pos
        FROM cust WHERE bal > 0),
      eligible AS (
        SELECT c.* FROM cust c CROSS JOIN gate g
        WHERE c.bal * g.n_pos > g.sum_pos)
      SELECT nation, CAST(count(*) AS BIGINT) AS numcust,
             CAST(sum(bal) AS BIGINT) AS total_cents
      FROM eligible e
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = e.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY nation
      ORDER BY nation"""))

  /** SORTED-COGROUP POSITIONAL RECONCILIATION — the typed-API surface
    * (KeyValueGroupedDataset.cogroupSorted) for per-key logic a join
    * cannot express relationally in one pass: align the i-th invoice
    * with the i-th payment PER CUSTOMER and walk both sequences in
    * lockstep — the classic back-office reconciliation where ONE missed
    * payment misaligns every later pair (exactly why position, not
    * value, is the match key). cogroupSorted hands each key BOTH
    * iterators already sorted by the engine (sort keys are declared as
    * Columns, so the sort rides the shuffle's spill machinery instead of
    * an in-memory groupBy buffer — the at-scale difference from naive
    * cogroup), and the lockstep walk is a streaming zipAll: O(1) memory
    * per key regardless of history length. Payments are synthesized from
    * the invoice stream (every 7th order unpaid, every 11th carries a
    * +50 fee dispute), and the DuckDB oracle replays the alignment as
    * row_number + FULL JOIN on (customer, position) — equal hashes prove
    * the imperative walk == the relational positional join. */
  val q244 = GraftQuery(
    "q244_cogroup_reconciliation",
    "Per-customer positional invoice/payment reconciliation via sorted cogroup lockstep walk",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val base = table(s, dir, "orders").filter(col("o_custkey") < 600)
        .select(col("o_custkey").cast("long").as("ck"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_orderkey").cast("long").as("ok"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val inv = base.as[(Long, String, Long, Long)]
      val pay = base.filter(expr("ok % 7 <> 0"))
        .withColumn("cents",
          col("cents") + when(expr("ok % 11 = 0"), 50L).otherwise(0L))
        .as[(Long, String, Long, Long)]
      val recon = inv.groupByKey(_._1).cogroupSorted(pay.groupByKey(_._1))(
        col("d"), col("ok"))(col("d"), col("ok")) { (ck, is, ps) =>
        var nInv, nPay, nExact, invCents, payCents = 0L
        var firstMismatch = 0L
        var pos = 0L
        val zipped = is.map(Option(_)).zipAll(ps.map(Option(_)), None, None)
        zipped.foreach { case (i, p) =>
          pos += 1
          i.foreach { t => nInv += 1; invCents += t._4 }
          p.foreach { t => nPay += 1; payCents += t._4 }
          val exact = i.nonEmpty && p.nonEmpty && i.get._4 == p.get._4
          if (exact) nExact += 1
          else if (firstMismatch == 0L) firstMismatch = pos
        }
        Iterator((ck, nInv, nPay, nExact, firstMismatch, invCents, payCents))
      }
      recon.toDF("ck", "n_inv", "n_pay", "n_exact", "first_mismatch",
          "inv_cents", "pay_cents")
        .orderBy("ck")
    },
    Some("""
      WITH base AS (
        SELECT CAST(o_custkey AS BIGINT) AS ck,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
               CAST(o_orderkey AS BIGINT) AS ok,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_custkey < 600),
      inv AS (
        SELECT ck, cents,
               row_number() OVER (PARTITION BY ck ORDER BY d, ok) AS rn
        FROM base),
      pay AS (
        SELECT ck, cents + CASE WHEN ok % 11 = 0 THEN 50 ELSE 0 END AS cents,
               row_number() OVER (PARTITION BY ck ORDER BY d, ok) AS rn
        FROM base WHERE ok % 7 <> 0),
      al AS (
        SELECT coalesce(i.ck, p.ck) AS ck, coalesce(i.rn, p.rn) AS rn,
               i.cents AS ic, p.cents AS pc
        FROM inv i FULL JOIN pay p ON i.ck = p.ck AND i.rn = p.rn)
      SELECT ck,
             CAST(count(ic) AS BIGINT) AS n_inv,
             CAST(count(pc) AS BIGINT) AS n_pay,
             CAST(sum(CASE WHEN ic = pc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
             CAST(coalesce(min(CASE WHEN ic IS NULL OR pc IS NULL
                 OR ic <> pc THEN rn END), 0) AS BIGINT) AS first_mismatch,
             CAST(sum(coalesce(ic, 0)) AS BIGINT) AS inv_cents,
             CAST(sum(coalesce(pc, 0)) AS BIGINT) AS pay_cents
      FROM al GROUP BY ck
      ORDER BY ck"""))

  /** SQL SCRIPTING (BEGIN/DECLARE/WHILE/IF) — Spark 4's procedural SQL
    * surface, exercised on a real iterative computation: binary-search
    * the smallest whole-dollar threshold T where orders priced ≤ T carry
    * at least half of total revenue. The script declares session
    * variables, SETs them FROM subqueries, and drives ~20 loop rounds of
    * WHILE/IF control flow — the migration target for stored-procedure
    * workloads. The loop probes a CACHED dollar-bucket rollup, not the
    * fact table (the stored-procedure discipline that survives scale:
    * aggregate once, iterate on the aggregate — probing the fact per
    * iteration costs a full scan × 20). The DuckDB oracle is the CLOSED
    * FORM (cumulative sum over the same rollup, one pass), so equal
    * hashes prove the iterative search converges to exactly the analytic
    * answer.
    *
    * Measured cost note (deliberate, the suite's slowest entry): ~22
    * script statements each plan and schedule one job — ~0.2-0.3 s per
    * statement of pure engine floor (4.9-7.4 s total depending on host
    * load), and the total is IDENTICAL at sf0.001 and sf0.1 because
    * every probe hits the cached bucket rollup. That scale-invariance is
    * the lesson the entry documents: scripting cost is control-flow-
    * proportional, never data-proportional — fine for orchestration,
    * wrong for per-row logic. */
  val q245 = GraftQuery(
    "q245_sql_scripting",
    "Procedural SQL: WHILE/IF binary search for the half-revenue price threshold == closed form",
    (s, dir) => {
      val s2 = scoped(s, "spark.sql.scripting.enabled" -> "true")
      table(s2, dir, "orders")
        .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        .selectExpr("(cents + 99) div 100 AS d", "cents")
        .groupBy("d").agg(sum("cents").as("cents"))
        .cache() // bucket-cardinality; probed ~20x by the script's loop
        .createOrReplaceTempView("q245_rollup")
      s2.sql(
        """BEGIN
          |  DECLARE total BIGINT DEFAULT 0;
          |  DECLARE lo BIGINT DEFAULT 0;
          |  DECLARE hi BIGINT DEFAULT 600000;
          |  DECLARE mid BIGINT DEFAULT 0;
          |  DECLARE covered BIGINT DEFAULT 0;
          |  SET total = (SELECT CAST(sum(cents) AS BIGINT) FROM q245_rollup);
          |  WHILE lo < hi DO
          |    SET mid = (lo + hi) DIV 2;
          |    SET covered = (SELECT coalesce(CAST(sum(cents) AS BIGINT), 0L)
          |                   FROM q245_rollup WHERE d <= mid);
          |    IF covered * 2 >= total THEN
          |      SET hi = mid;
          |    ELSE
          |      SET lo = mid + 1;
          |    END IF;
          |  END WHILE;
          |  SET covered = (SELECT coalesce(CAST(sum(cents) AS BIGINT), 0L)
          |                 FROM q245_rollup WHERE d <= lo);
          |  SELECT lo AS threshold_dollars,
          |         covered * 10000 DIV total AS covered_bp;
          |END""".stripMargin)
    },
    Some("""
      WITH o AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM o),
      cum AS (
        SELECT (cents + 99) // 100 AS d,
               sum(sum(cents)) OVER (ORDER BY (cents + 99) // 100) AS cum
        FROM o GROUP BY (cents + 99) // 100),
      hit AS (
        SELECT min(d) AS d FROM cum, tot WHERE cum * 2 >= total)
      SELECT CAST(h.d AS BIGINT) AS threshold_dollars,
             CAST(c.cum * 10000 // t.total AS BIGINT) AS covered_bp
      FROM hit h JOIN cum c ON c.d = h.d, tot t"""))

  /** JOIN-STRATEGY HINT SPECTRUM — the explicit physical-execution
    * control surface: the SAME customer⋈orders aggregate executed three
    * ways via hints (BROADCAST, SHUFFLE_MERGE, SHUFFLE_HASH), unioned
    * under a strategy label. Equal per-strategy rows prove the physical
    * strategies are result-equivalent (the contract a planner rests on),
    * and PlanSpec pins that each hint actually FIRED — a
    * BroadcastHashJoin, a SortMergeJoin, and a ShuffledHashJoin all in
    * one plan — so the entry documents when to force each: broadcast for
    * dims that fit, shuffle-hash when one side is much smaller but too
    * big to ship, sort-merge for giant-giant where spill-safety wins.
    * The oracle emits the one aggregate three times, so a strategy that
    * dropped or duplicated rows would hash-fail. */
  val q251 = GraftQuery(
    "q251_join_strategy_hints",
    "One join, three physical strategies via hints — result-equivalence hash-proven, plans pinned",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      def sums(strategy: String, hint: String) = {
        val c = table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")).hint(hint)
        table(s, dir, "orders")
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .select(lit(strategy).as("strategy"), col("c_mktsegment"),
            col("n"), col("cents"))
      }
      sums("broadcast", "broadcast")
        .unionAll(sums("merge", "merge"))
        .unionAll(sums("shuffle_hash", "shuffle_hash"))
        .orderBy("strategy", "c_mktsegment")
    },
    Some("""
      WITH agg AS (
        SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment)
      SELECT 'broadcast' AS strategy, c_mktsegment, n, cents FROM agg
      UNION ALL SELECT 'merge', c_mktsegment, n, cents FROM agg
      UNION ALL SELECT 'shuffle_hash', c_mktsegment, n, cents FROM agg
      ORDER BY strategy, c_mktsegment"""))

  /** POINT-IN-POLYGON (ray casting) — the geofencing primitive q156/q235
    * (distance joins) cannot express: membership in an ARBITRARY region.
    * The crossing-number algorithm, integer-exact: a point is inside iff
    * a horizontal ray to +∞ crosses the polygon boundary an odd number
    * of times; each edge (x1,y1)→(x2,y2) crosses iff the point's y lies
    * in the edge's half-open y-span AND the intersection x exceeds px —
    * and that test cross-multiplies to (x1−px)(y2−y1) + (x2−x1)(py−y1)
    * compared against 0 with the span's sign, so there is NO division
    * and NO float anywhere. The polygon (a fixed non-convex pentagon in
    * the q235 LCG coordinate plane) broadcasts as 5 edge rows; each
    * point evaluates all edges ROW-LOCALLY after the broadcast join —
    * at 100 TB the fence table is the canonical broadcast side and the
    * fact streams once. The half-open span rule ([y1,y2) by direction)
    * handles vertex-hits without double counting — the classic
    * correctness trap, here oracle-checked per point. */
  val q253 = GraftQuery(
    "q253_point_in_polygon",
    "Integer ray-casting geofence: crossing parity per point vs a broadcast pentagon, no division",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val pts = table(s, dir, "customer")
        .filter(col("c_custkey") < 2000)
        .select(col("c_custkey").cast("long").as("k"))
        .withColumn("px", expr("(k * 48271) % 10000"))
        .withColumn("py", expr("(k * 16807) % 10000"))
      // non-convex pentagon, integer vertices, closed ring
      val ring = Seq((2000L, 1000L), (8500L, 2500L), (7000L, 8000L),
        (5000L, 4500L), (2500L, 7500L))
      val edges = ring.zip(ring.tail :+ ring.head).zipWithIndex
        .map { case (((x1, y1), (x2, y2)), i) => (i.toLong, x1, y1, x2, y2) }
      val edgeDf = s.createDataFrame(edges)
        .toDF("eid", "x1", "y1", "x2", "y2")
      pts.crossJoin(broadcast(edgeDf))
        .withColumn("crosses", expr(
          """CASE WHEN (y1 <= py AND py < y2) THEN
               CASE WHEN (x1 - px) * (y2 - y1) + (x2 - x1) * (py - y1) > 0
                    THEN 1L ELSE 0L END
             WHEN (y2 <= py AND py < y1) THEN
               CASE WHEN (x1 - px) * (y2 - y1) + (x2 - x1) * (py - y1) < 0
                    THEN 1L ELSE 0L END
             ELSE 0L END"""))
        .groupBy("k", "px", "py")
        .agg(sum("crosses").as("n_crossings"))
        .withColumn("inside", (col("n_crossings") % 2 === 1).cast("long"))
        .orderBy("k")
    },
    Some("""
      WITH pts AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
               (CAST(c_custkey AS BIGINT) * 48271) % 10000 AS px,
               (CAST(c_custkey AS BIGINT) * 16807) % 10000 AS py
        FROM customer WHERE c_custkey < 2000),
      edges(eid, x1, y1, x2, y2) AS (VALUES
        (0, 2000, 1000, 8500, 2500), (1, 8500, 2500, 7000, 8000),
        (2, 7000, 8000, 5000, 4500), (3, 5000, 4500, 2500, 7500),
        (4, 2500, 7500, 2000, 1000)),
      c AS (
        SELECT p.k, p.px, p.py,
               CASE WHEN (e.y1 <= p.py AND p.py < e.y2) THEN
                 CASE WHEN (e.x1 - p.px) * (e.y2 - e.y1)
                           + (e.x2 - e.x1) * (p.py - e.y1) > 0
                      THEN 1 ELSE 0 END
               WHEN (e.y2 <= p.py AND p.py < e.y1) THEN
                 CASE WHEN (e.x1 - p.px) * (e.y2 - e.y1)
                           + (e.x2 - e.x1) * (p.py - e.y1) < 0
                      THEN 1 ELSE 0 END
               ELSE 0 END AS crosses
        FROM pts p CROSS JOIN edges e)
      SELECT k, px, py, CAST(sum(crosses) AS BIGINT) AS n_crossings,
             CAST(CAST(sum(crosses) AS BIGINT) % 2 = 1 AS BIGINT) AS inside
      FROM c
      GROUP BY k, px, py
      ORDER BY k"""))

  /** COLLATION-AWARE GROUPING — Spark 4's collation engine (the COLLATE
    * type modifier), the declarative fix for case-drifted dimension
    * values: under `UTF8_LCASE` the comparison, grouping, join, and sort
    * semantics of the COLUMN change — every downstream operator inherits
    * it, where a `lower()` patch must be re-applied at each use site
    * (and silently missed at one). Case variants are planted
    * deterministically (k%4 selects lower/UPPER/Capitalized renderings
    * of the segment), the collated groupBy folds them back to 5 logical
    * groups, and a runtime guard requires the BINARY grouping to see
    * strictly more groups — proving the collation, not luck, did the
    * folding. Output keys are lower-cased representatives (the collated
    * group's own key is whichever rendering a partition saw first —
    * nondeterministic by spec, so never emitted raw). The DuckDB oracle
    * groups by lower(), the exact semantic twin for ASCII data — which
    * is what makes the collation path hash-checkable. */
  val q255 = GraftQuery(
    "q255_collation_grouping",
    "UTF8_LCASE collated groupBy folds planted case drift; binary grouping provably fragments",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val c = table(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"), col("c_mktsegment").as("seg"))
        .withColumn("segv", expr(
          """CASE WHEN k % 4 = 1 THEN lower(seg)
                  WHEN k % 4 = 2 THEN initcap(lower(seg))
                  ELSE seg END"""))
      val collated = c.groupBy(expr("collate(segv, 'UTF8_LCASE')").as("ck"))
        .agg(min(lower(col("segv"))).as("segment"),
          count(lit(1)).as("n"),
          countDistinct(col("segv")).as("n_raw_variants"))
        .select("segment", "n", "n_raw_variants")
      val nCollated = collated.count()
      val nBinary = c.select(countDistinct(col("segv"))).head().getLong(0)
      require(nBinary > nCollated,
        s"q255: binary grouping ($nBinary) must fragment vs collated ($nCollated)")
      collated.orderBy("segment")
    },
    Some("""
      WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
        FROM customer),
      v AS (
        SELECT CASE WHEN k % 4 = 1 THEN lower(seg)
                    WHEN k % 4 = 2 THEN
                      upper(substr(lower(seg), 1, 1)) || substr(lower(seg), 2)
                    ELSE seg END AS segv
        FROM c)
      SELECT lower(segv) AS segment, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT segv) AS BIGINT) AS n_raw_variants
      FROM v
      GROUP BY lower(segv)
      ORDER BY segment"""))

  /** JOIN ELIMINATION (optimizer capability proof) — the rewrite every
    * view-layered warehouse silently depends on: a LEFT OUTER join whose
    * right side contributes no referenced columns AND is provably unique
    * on the join keys (here an Aggregate grouped exactly on them) is
    * dropped whole by Catalyst — no shuffle, no build side, the
    * eliminated table never scanned. The shape arises constantly from
    * view expansion and ORM SQL ("join the stats view, read nothing
    * from it") — which is why it matters that the elimination actually
    * fires and actually preserves semantics. A custom rule for this was
    * prototyped and DELETED on discovering Spark 4's optimizer already
    * performs it (the honest outcome — don't reimplement built-ins);
    * what remains is the capability made load-bearing: PlanSpec pins
    * zero Join nodes + no customer scan for the unreferenced-unique
    * shape, AND that both a referenced right side and a
    * not-provably-unique right side keep their joins (the two safety
    * conditions). The oracle computes the no-join form directly, so the
    * semantics half is hash-proven. */
  val q257 = GraftQuery(
    "q257_join_elimination",
    "Unreferenced unique-keyed left join eliminated by the optimizer; plan pinned, result hash-proven",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_je")
      table(s, dir, "customer").createOrReplaceTempView("customer_je")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM (
          SELECT o.o_orderpriority, o.o_totalprice
          FROM orders_je o
          LEFT JOIN (SELECT c_custkey, count(*) AS n_dup
                     FROM customer_je GROUP BY c_custkey) d
            ON o.o_custkey = d.c_custkey)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** SQL-DEFINED FUNCTIONS (Spark 4's CREATE FUNCTION … RETURN expr) —
    * the warehouse's shared-business-logic seam: scalar logic written
    * ONCE in SQL, inlined by the analyzer into every caller (no UDF
    * serialization wall, stays in whole-stage codegen — unlike a Scala
    * closure UDF, the optimizer sees through it). A cents converter and
    * a price-band classifier are created as temporary SQL functions and
    * drive a grouped rollup; the oracle expands the definitions by hand,
    * so equal hashes prove the inlining is semantics-preserving. Session-
    * scoped (newSession hygiene — q122's discipline for session-global
    * surface). */
  val q276 = GraftQuery(
    "q276_sql_udf",
    "SQL-defined scalar functions (CREATE FUNCTION ... RETURN): analyzer-inlined, codegen-safe",
    (s, dir) => {
      val s2 = s.newSession()
      table(s2, dir, "orders").createOrReplaceTempView("orders_v")
      s2.sql("""CREATE OR REPLACE TEMPORARY FUNCTION cents(p DOUBLE)
        RETURNS BIGINT RETURN CAST(round(p * 100) AS BIGINT)""")
      s2.sql("""CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING RETURN CASE WHEN p < 100000 THEN 'low'
          WHEN p < 250000 THEN 'mid' ELSE 'high' END""")
      s2.sql("""
        SELECT price_band(o_totalprice) AS band,
               count(*) AS n,
               sum(cents(o_totalprice)) AS total_cents,
               max(cents(o_totalprice)) AS max_cents
        FROM orders_v
        GROUP BY price_band(o_totalprice)
        ORDER BY band""")
    },
    Some("""
      SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                  WHEN o_totalprice < 250000 THEN 'mid'
                  ELSE 'high' END AS band,
             count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
      FROM orders
      GROUP BY 1
      ORDER BY band"""))

  /** SESSION VARIABLES + PARAMETERIZED SQL (Spark 4): DECLARE/SET
    * VARIABLE carries session state the way dashboards and notebook
    * pipelines parameterize repeated queries, and spark.sql(text, args)
    * binds named parameter markers WITHOUT string interpolation — the
    * injection-safe form every programmatic SQL caller should use. The
    * query mixes both: the cutoff lives in a session variable (set, then
    * RE-set — the read must see the latest value) and the status filter
    * arrives as a named parameter. The oracle inlines the final
    * literals. */
  val q277 = GraftQuery(
    "q277_session_vars_params",
    "DECLARE/SET VARIABLE + named-parameter spark.sql: injection-safe parameterization",
    (s, dir) => {
      val s2 = s.newSession()
      table(s2, dir, "orders").createOrReplaceTempView("orders_v")
      s2.sql("DECLARE OR REPLACE VARIABLE cutoff DOUBLE DEFAULT 50000.0")
      s2.sql("SET VARIABLE cutoff = 150000.0")
      s2.sql(
        """SELECT o_orderpriority, count(*) AS n,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM orders_v
           WHERE o_totalprice > cutoff AND o_orderstatus = :st
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority""",
        Map("st" -> "F"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders
      WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** SQL PIPE syntax (Spark 4's `|>` operator chaining, from the Google
    * "SQL Has Problems" pipe-syntax proposal): the query reads top-down
    * as a dataflow — source |> filter |> join |> aggregate |> having
    * |> order — each stage a complete operator over the previous result,
    * which is how users already THINK in DataFrame code. Semantics are
    * identical to the nested classic form (the parser desugars); the
    * oracle runs the classic form in DuckDB, so equal hashes prove the
    * desugaring preserves every operator. Post-aggregate `|> WHERE` is
    * HAVING without the keyword. */
  val q282 = GraftQuery(
    "q282_sql_pipe_syntax",
    "Pipe SQL |>: filter |> join |> aggregate |> having |> order, desugaring hash-proven",
    (s, dir) => {
      val s2 = s.newSession()
      table(s2, dir, "lineitem").createOrReplaceTempView("li_v")
      table(s2, dir, "orders").createOrReplaceTempView("ord_v")
      s2.sql(
        """FROM li_v
           |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           |> JOIN ord_v ON l_orderkey = o_orderkey
           |> WHERE o_orderstatus <> 'F'
           |> AGGREGATE count(*) AS n,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
              GROUP BY o_orderpriority
           |> WHERE n > 50
           |> ORDER BY o_orderpriority""")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderstatus <> 'F'
      GROUP BY o_orderpriority
      HAVING count(*) > 50
      ORDER BY o_orderpriority"""))

  /** EXECUTE IMMEDIATE — dynamic SQL with injection-safe parameter
    * binding, the surface migration scripts and reporting harnesses use
    * when the statement text is assembled at runtime: the query string
    * lives in a SESSION VARIABLE (built once, reused), positional `?`
    * markers bind through USING, and a second run rebinds different
    * arguments against the SAME text — proving the statement is really
    * parameterized, not interpolated. The two runs' results union into
    * one frame; the oracle inlines both bindings. */
  val q283 = GraftQuery(
    "q283_execute_immediate",
    "EXECUTE IMMEDIATE over a session-variable statement, rebound twice via USING",
    (s, dir) => {
      val s2 = s.newSession()
      table(s2, dir, "orders").createOrReplaceTempView("ord_v")
      s2.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
      s2.sql(
        """SET VARIABLE stmt =
             'SELECT ? AS run, o_orderpriority, count(*) AS n,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
              FROM ord_v
              WHERE o_orderstatus = ? AND o_totalprice > ?
              GROUP BY o_orderpriority'""")
      val a = s2.sql("EXECUTE IMMEDIATE stmt USING 'open_big', 'O', 200000.0")
      val b = s2.sql("EXECUTE IMMEDIATE stmt USING 'final_small', 'F', 50000.0")
      a.unionByName(b).orderBy("run", "o_orderpriority")
    },
    Some("""
      SELECT * FROM (
        SELECT 'open_big' AS run, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 200000.0
        GROUP BY o_orderpriority
        UNION ALL
        SELECT 'final_small', o_orderpriority, count(*),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
        GROUP BY o_orderpriority)
      ORDER BY run, o_orderpriority"""))

  /** SQL-defined TABLE function + correlated LATERAL invocation — the
    * table-valued tier of q276's scalar SQL functions: a TVF declared in
    * SQL (CREATE TEMPORARY FUNCTION … RETURNS TABLE … RETURN query) is
    * analyzer-inlined into each call site like a parameterized view, and
    * `nation, LATERAL suppstats(n_nationkey)` runs it once per outer
    * row, its aggregate scoped to THAT invocation's argument (the
    * correlated-aggregate lateral pattern). Per-nation counts/extremes
    * differ row to row, so a mis-scoped inline (the aggregate hoisted
    * global) changes every value and hash-fails; the oracle replays it
    * as a plain GROUP BY join. Deliberately no ORDER BY…LIMIT inside the
    * TVF body: Spark 4.1's inliner hoists a body LIMIT above the lateral
    * correlation (measured: the hoisted LIMIT truncates the uncorrelated
    * source before the sort even applies), so the entry pins the
    * semantics that ARE sound — filters, projections, aggregates — the
    * parameterized-view contract. EngineSpec pins today's wrong shape as
    * an expected-failure contract (r12, VERDICT r11 item 6): a Spark
    * upgrade that fixes the inliner flips that test loudly — the signal
    * to unlock ORDER BY…LIMIT bodies here. */
  val q284 = GraftQuery(
    "q284_sql_table_function",
    "CREATE FUNCTION … RETURNS TABLE + LATERAL: correlated per-nation aggregate, group-by-oracle-proven",
    (s, dir) => {
      val s2 = s.newSession()
      table(s2, dir, "supplier").createOrReplaceTempView("supp_v")
      table(s2, dir, "nation").createOrReplaceTempView("nat_v")
      s2.sql(
        """CREATE TEMPORARY FUNCTION suppstats(nk BIGINT)
           RETURNS TABLE (n_supp BIGINT, top_cents BIGINT, total_cents BIGINT)
           RETURN SELECT count(*),
                         max(CAST(round(s_acctbal * 100) AS BIGINT)),
                         sum(CAST(round(s_acctbal * 100) AS BIGINT))
                  FROM supp_v WHERE s_nationkey = nk""")
      s2.sql(
        """SELECT n.n_name, f.n_supp, f.top_cents, f.total_cents
           FROM nat_v n, LATERAL suppstats(n.n_nationkey) f
           WHERE f.n_supp > 0
           ORDER BY n.n_name""")
    },
    Some("""
      SELECT n.n_name, CAST(s.n_supp AS BIGINT) AS n_supp,
             s.top_cents, s.total_cents
      FROM nation n
      JOIN (SELECT s_nationkey, count(*) AS n_supp,
                   CAST(max(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                     AS top_cents,
                   CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM supplier GROUP BY s_nationkey) s
        ON s.s_nationkey = n.n_nationkey
      ORDER BY n.n_name"""))

  /** MODERN SQL ERGONOMICS — the Spark-4 shorthand surfaces an analyst
    * coming from DuckDB/BigQuery types on day one, each hash-proven
    * EQUIVALENT to its classic desugaring (the q282 discipline — syntax
    * must change nothing but the typing): `GROUP BY ALL` (grouping keys
    * inferred from the non-aggregate select items), `ORDER BY ALL`
    * (order by every output column left to right), `SELECT * EXCEPT`
    * (projection by exclusion — the wide-table idiom), and
    * `IDENTIFIER(:param)` (injection-safe identifier TEMPLATING: the
    * table name arrives as a BOUND PARAMETER, not string interpolation —
    * the q283 parameter discipline extended from values to identifiers).
    * One statement uses all four; the oracle is the fully classic
    * spelling. */
  val q311 = GraftQuery(
    "q311_modern_sql_ergonomics",
    "GROUP BY ALL + ORDER BY ALL + SELECT * EXCEPT + IDENTIFIER(): shorthand desugars to the classic forms",
    (s, dir) => {
      val s2 = s.newSession()
      table(s2, dir, "orders").createOrReplaceTempView("erg_ord_v")
      // the narrow projection by exclusion, through a parameterized
      // identifier — the table name is a bound parameter, never text glue
      val narrowed = s2.sql(
        """SELECT * EXCEPT (o_custkey, o_orderdate)
           FROM IDENTIFIER(:tbl)""",
        Map("tbl" -> "erg_ord_v"))
      narrowed.createOrReplaceTempView("erg_narrow_v")
      s2.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM erg_narrow_v
           GROUP BY ALL
           ORDER BY ALL""")
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority
      ORDER BY o_orderstatus, o_orderpriority, n, total_cents"""))

  val all: Seq[GraftQuery] = Seq(q1, q2, q3, q4, q5, q6, q9, q10, q11, q12,
    q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q37, q38, q39,
    q41, q42, q43, q44, q45, q46, q50, q53, q54, q63, q75, q80, q87, q95, q98,
    q99, q108, q112, q113, q114, q119, q122, q131, q138, q141, q144, q145,
    q146, q147, q148, q152, q153, q155, q156, q158, q160, q161, q170, q174,
    q182, q185, q196, q202, q204, q210, q211, q213, q215, q219, q221, q222,
    q223, q224, q225, q232, q235, q240, q244, q245, q251, q253, q255, q257,
    q276, q277, q282, q283, q284, q311)
}
