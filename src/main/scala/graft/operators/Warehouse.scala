package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Warehouse-maintenance operators: the mutation/evolution patterns a
  * catalog-backed lake needs beyond pure queries — MERGE-style upsert,
  * slowly-changing-dimension (SCD2) history, correlated lateral top-k, and
  * bucketed co-located joins.
  *
  * Reference hooks: the reference's add/delete partition DDL surface
  * (gluettalax.py:444-497) is table maintenance at partition granularity;
  * these queries are the row-granularity equivalents its delegated Glue
  * jobs perform (gluettalax.py:256). All expressed as pure-join dataflows
  * (the Delta/Iceberg MERGE physical shape) so the same plan runs on a
  * plain parquet lake.
  */
object Warehouse {

  /** MERGE INTO as a dataflow: FULL OUTER join of target and change-set,
    * then per-branch WHEN MATCHED (update) / NOT MATCHED BY SOURCE (keep) /
    * NOT MATCHED BY TARGET (insert). This is exactly the join Delta Lake
    * plans for a non-file-pruned MERGE; on 100 TB the join is a plain
    * shuffle on the merge key, and AQE handles the (typically tiny)
    * change-set side by broadcasting it. Balances stay DECIMAL through the
    * arithmetic (order-independent, engine-portable), cast to double only
    * at the edge. */
  val q58 = GraftQuery(
    "q58_merge_upsert",
    "MERGE-shaped upsert: customer balances + order spend (update) + supplier accounts (insert)",
    (s, dir) => {
      val tgt = table(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          dec2(col("c_acctbal")).as("balance"))
      val upd = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("id"))
        .agg(sum(dec2(col("o_totalprice"))).as("delta"))
        .select(col("id"), lit(null).cast("string").as("name_src"), col("delta"))
      val ins = table(s, dir, "supplier")
        .select((col("s_suppkey") + 1000000L).as("id"), col("s_name").as("name_src"),
          dec2(col("s_acctbal")).cast("decimal(24,2)").as("delta"))
      val src = upd.unionByName(ins)
      tgt.join(src, Seq("id"), "full_outer")
        .select(
          col("id"),
          coalesce(col("name"), col("name_src")).as("name"),
          when(col("balance").isNotNull && col("delta").isNotNull,
              col("balance") + col("delta"))
            .when(col("balance").isNotNull, col("balance"))
            .otherwise(col("delta")).cast("double").as("balance"),
          when(col("balance").isNotNull && col("delta").isNotNull, "U")
            .when(col("balance").isNotNull, "-")
            .otherwise("I").as("action"))
        .orderBy("id")
    },
    Some("""
      WITH tgt AS (SELECT c_custkey AS id, c_name AS name,
                          CAST(c_acctbal AS DECIMAL(14,2)) AS balance
                   FROM customer),
      src AS (SELECT o_custkey AS id, CAST(NULL AS VARCHAR) AS name_src,
                     sum(CAST(o_totalprice AS DECIMAL(14,2))) AS delta
              FROM orders GROUP BY 1
              UNION ALL
              SELECT s_suppkey + 1000000, s_name, CAST(s_acctbal AS DECIMAL(14,2))
              FROM supplier)
      SELECT COALESCE(t.id, s.id) AS id,
             COALESCE(t.name, s.name_src) AS name,
             CAST(CASE WHEN t.id IS NOT NULL AND s.id IS NOT NULL
                         THEN t.balance + s.delta
                       WHEN t.id IS NOT NULL THEN t.balance
                       ELSE s.delta END AS DOUBLE) AS balance,
             CASE WHEN t.id IS NOT NULL AND s.id IS NOT NULL THEN 'U'
                  WHEN t.id IS NOT NULL THEN '-' ELSE 'I' END AS action
      FROM tgt t FULL JOIN src s ON t.id = s.id
      ORDER BY id"""))

  /** SCD type-2 history build: collapse each user's event stream to its
    * type-transition rows, then stitch validity intervals with lead().
    * Two window passes over the same (user_id, ts) ordering — one shuffle,
    * both windows reuse the partitioning. The history table IS the
    * dimension-table pattern for replayable feature pipelines at scale.
    * NTZ output + event_id tiebreak keep both engines byte-identical. */
  val q59 = GraftQuery(
    "q59_scd2_intervals",
    "SCD2 validity intervals from event-type transitions per user (lag filter + lead stitch)",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").cast("timestamp_ntz").as("valid_from"),
          col("valid_to").cast("timestamp_ntz").as("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "state")
    },
    Some("""
      WITH o AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
                        lag(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS prev
                 FROM events),
      chg AS (SELECT user_id, event_type, ts, event_id FROM o
              WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             (lead(ts) OVER w IS NULL) AS is_current
      FROM chg
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, valid_from, state"""))

  /** Correlated LATERAL top-k: for every nation the 2 richest customers,
    * written as a dependent join (the SQL-standard LATERAL form the
    * reference's users would write). Catalyst rewrites the correlated
    * ORDER BY/LIMIT subquery into a partitioned window top-k — same
    * physical plan as q20's explicit Window, no per-row re-execution. */
  val q60 = GraftQuery(
    "q60_lateral_topk",
    "LATERAL (correlated ORDER BY/LIMIT subquery): top-2 customers per nation",
    (s, dir) => {
      table(s, dir, "nation").createOrReplaceTempView("nation_lv")
      table(s, dir, "customer").createOrReplaceTempView("customer_lv")
      s.sql("""
        SELECT n.n_name AS nation, t.c_name AS customer,
               round(t.c_acctbal, 2) AS acctbal
        FROM nation_lv n,
        LATERAL (SELECT c_name, c_acctbal FROM customer_lv c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY nation, acctbal DESC, customer""")
    },
    Some("""
      SELECT n.n_name AS nation, t.c_name AS customer,
             round(t.c_acctbal, 2) AS acctbal
      FROM nation n,
      LATERAL (SELECT c_name, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY nation, acctbal DESC, customer"""))

  /** Bucketed co-located join: both sides written with bucketBy on the
    * join key, so the join reads pre-shuffled buckets — zero Exchange on
    * either side (PlanSpec pins this with broadcast disabled). THE layout
    * decision for a 100 TB fact table that is joined on the same key every
    * day: the shuffle is paid once at write time, never again at read.
    * Result is layout-independent, so the oracle is the plain join. */
  val q61 = GraftQuery(
    "q61_bucketed_join",
    "bucketBy(8, custkey) both sides -> co-located join with no shuffle exchange",
    (s, dir) => {
      // a fresh session's in-memory catalog doesn't know about table dirs a
      // previous JVM left in the warehouse — clear both name and location,
      // or managed-table creation trips LOCATION_ALREADY_EXISTS
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val whPath = java.nio.file.Paths.get(
        if (wh.getScheme == null) wh.getPath else new java.net.URI(wh.getScheme, wh.getPath, null).getPath)
      Seq("g_orders_bkt", "g_customer_bkt").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        deleteRecursively(whPath.resolve(t))
      }
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .write.format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("g_orders_bkt")
      table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.format("parquet").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("g_customer_bkt")
      s.table("g_orders_bkt")
        .join(s.table("g_customer_bkt"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy("segment")
    },
    Some("""
      SELECT c_mktsegment AS segment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY segment
      ORDER BY segment"""))

  /** Recursive CTE (Spark 4's native iterative plan): every supplier key
    * walks its halving chain k → k div 2 → … → 1, the binary-tree ancestry.
    * The recursion executes INSIDE the engine (UnionLoop), unlike d6's
    * driver-coordinated contraction loop — the two deliberately bracket
    * the design space for iterative dataflows at scale (engine-managed
    * fixpoint vs explicit O(log n) rounds with checkpointed state). */
  val q65 = GraftQuery(
    "q65_recursive_cte",
    "WITH RECURSIVE halving-chain walk per supplier: depth to root + path length",
    (s, dir) => {
      table(s, dir, "supplier").createOrReplaceTempView("supplier_rc")
      s.sql("""
        WITH RECURSIVE walk(start_key, k, depth) AS (
          SELECT s_suppkey, s_suppkey, 0 FROM supplier_rc
          UNION ALL
          SELECT start_key, k DIV 2, depth + 1 FROM walk WHERE k > 1
        )
        SELECT start_key, CAST(max(depth) AS BIGINT) AS depth_to_root,
               count(*) AS path_len
        FROM walk
        GROUP BY start_key
        ORDER BY start_key""")
    },
    Some("""
      WITH RECURSIVE walk(start_key, k, depth) AS (
        SELECT s_suppkey, s_suppkey, 0 FROM supplier
        UNION ALL
        SELECT start_key, k // 2, depth + 1 FROM walk WHERE k > 1
      )
      SELECT start_key, CAST(max(depth) AS BIGINT) AS depth_to_root, count(*) AS path_len
      FROM walk
      GROUP BY start_key
      ORDER BY start_key"""))

  /** Single-pass column profiler — the data-quality report a crawler run
    * would attach to a freshly registered table: per column, null count and
    * exact distinct count. All metrics come from ONE scan (Catalyst plans
    * the multi-distinct agg as a single Expand + aggregate); the long-form
    * rows are then peeled off the 1-row metric record, so profiling a
    * 100 TB table costs one pass regardless of column count. */
  val q66 = GraftQuery(
    "q66_column_profile",
    "one-pass per-column profile of orders: null count + exact distinct count",
    (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__distinct")))
      val metrics = table(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
      cols.map(c => metrics.select(
          lit(c).as("col_name"), col("n_rows"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct")))
        .reduce(_.unionByName(_))
        .orderBy("col_name")
    },
    Some("""
      SELECT col AS col_name, n_rows, n_nulls, n_distinct FROM (
        SELECT 'o_orderkey' AS col, count(*) AS n_rows,
               count(*) - count(o_orderkey) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
               count(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice) FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
               count(DISTINCT o_orderdate) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority) FROM orders)
      ORDER BY col_name"""))

  /** Snapshot diff — the reconciliation op behind every CDC/backfill
    * validation: old vs new table version, full-outer join on the key,
    * rows classified added / removed / changed / unchanged by comparing a
    * row digest (never column-by-column — the digest keeps the compare one
    * fixed-width expression regardless of schema width, and changed-column
    * detail is recomputed only for the tiny 'changed' slice downstream).
    * The "new" snapshot is derived deterministically from the old one
    * (drop BUILDING-segment customers, bump a price band, add synthetic
    * rows) so the diff is oracle-checkable. */
  val q72 = GraftQuery(
    "q72_snapshot_diff",
    "CDC-style snapshot diff: added/removed/changed/unchanged via full-outer join + row digest",
    (s, dir) => {
      val old = table(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"), dec2(col("c_acctbal")).as("balance"))
      val neu = old
        .filter(col("segment") =!= "BUILDING")
        .withColumn("balance",
          when(col("balance") < 0, (col("balance") + 100).cast("decimal(14,2)"))
            .otherwise(col("balance")))
        .unionByName(
          table(s, dir, "supplier").select(
            (col("s_suppkey") + 9000000L).as("key"), col("s_name").as("name"),
            lit("NEW").as("segment"), dec2(col("s_acctbal")).as("balance")))
      def digest(df: org.apache.spark.sql.DataFrame) =
        sha2(concat_ws("|", col("name"), col("segment"), col("balance").cast("string")), 256)
      val a = old.withColumn("h_old", digest(old)).select("key", "h_old")
      val b = neu.withColumn("h_new", digest(neu)).select("key", "h_new")
      a.join(b, Seq("key"), "full_outer")
        .select(col("key"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") === col("h_new"), "unchanged")
            .otherwise("changed").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min(col("key")).as("min_key"), max(col("key")).as("max_key"))
        .orderBy("status")
    },
    Some("""
      WITH old AS (SELECT c_custkey AS key, c_name AS name,
                          c_mktsegment AS segment,
                          CAST(c_acctbal AS DECIMAL(14,2)) AS balance
                   FROM customer),
      neu AS (SELECT key, name, segment,
                     CASE WHEN balance < 0 THEN CAST(balance + 100 AS DECIMAL(14,2))
                          ELSE balance END AS balance
              FROM old WHERE segment <> 'BUILDING'
              UNION ALL
              SELECT s_suppkey + 9000000, s_name, 'NEW',
                     CAST(s_acctbal AS DECIMAL(14,2))
              FROM supplier),
      a AS (SELECT key, name || '|' || segment || '|' || CAST(balance AS VARCHAR) AS sig FROM old),
      b AS (SELECT key, name || '|' || segment || '|' || CAST(balance AS VARCHAR) AS sig FROM neu)
      SELECT CASE WHEN a.key IS NULL THEN 'added'
                  WHEN b.key IS NULL THEN 'removed'
                  WHEN a.sig = b.sig THEN 'unchanged'
                  ELSE 'changed' END AS status,
             count(*) AS n,
             min(COALESCE(a.key, b.key)) AS min_key,
             max(COALESCE(a.key, b.key)) AS max_key
      FROM a FULL JOIN b ON a.key = b.key
      GROUP BY status
      ORDER BY status"""))

  /** Nested-result aggregation: per nation, the per-segment customer
    * counts collected into ONE sorted array-of-structs column, serialized
    * as canonical JSON — the denormalized document shape a serving layer
    * or feature store ingests (one row per entity, facts nested inside).
    * collect_list is safe here because the inner cardinality is bounded
    * (segments per nation), and the array is sorted so the result is
    * shuffle-order independent. */
  val q74 = GraftQuery(
    "q74_nested_agg_json",
    "collect_list into sorted array-of-structs per nation, serialized as canonical JSON",
    (s, dir) => {
      val seg = table(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"), col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"))
      seg.groupBy("nationkey")
        .agg(to_json(array_sort(collect_list(struct(col("segment"), col("n")))))
          .as("segments_json"),
          sum(col("n")).as("n_customers"))
        .orderBy("nationkey")
    },
    Some("""
      WITH seg AS (SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
                          count(*) AS n
                   FROM customer GROUP BY 1, 2)
      SELECT nationkey,
             CAST(to_json(list_sort(list(struct_pack(segment := segment, n := n))))
               AS VARCHAR) AS segments_json,
             CAST(sum(n) AS BIGINT) AS n_customers
      FROM seg
      GROUP BY nationkey
      ORDER BY nationkey"""))

  /** Z-order (Morton-curve) layout clustering — the multi-dimensional data
    * layout that makes min/max data skipping work on MORE THAN ONE column:
    * interleaving the bits of (partkey, suppkey) and range-bucketing on
    * the interleaved code tiles the 2-D key space, so every bucket's
    * min/max envelope is narrow in BOTH dimensions (a sort by partkey
    * alone leaves suppkey's envelope spanning the full domain in every
    * file — predicates on the second column prune nothing). The emitted
    * per-bucket envelopes ARE the demonstration: with 16 buckets over a
    * 256×256 tile space each envelope spans ≤ 1/4 of each domain. At
    * 100 TB this is `repartitionByRange(zvalue).write` before a parquet
    * sink; the z computation itself is pure codegen'd bit arithmetic.
    * Reference: Morton (1966); layout use as in public lakehouse docs. */
  private def zOrderBits = 8
  private def zTerms(x: String, y: String): Seq[String] =
    (0 until zOrderBits).flatMap(i => Seq(
      s"(($x >> $i) & 1) * ${1L << (2 * i)}",
      s"(($y >> $i) & 1) * ${1L << (2 * i + 1)}"))
  val q76 = GraftQuery(
    "q76_zorder_layout",
    "Z-order clustering of lineitem by (partkey, suppkey): per-bucket min/max envelopes bounded in BOTH dims",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(256)).as("x"),
          pmod(col("l_suppkey"), lit(256)).as("y"))
      val z = zTerms("x", "y").map(expr).reduce(_ + _)
      li.withColumn("z", z)
        .withColumn("bucket", floor(col("z") / 4096))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH k AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
      zc AS (SELECT x, y, ${zTerms("x", "y").mkString(" + ")} AS z FROM k)
      SELECT z // 4096 AS bucket, count(*) AS n,
             min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y
      FROM zc
      GROUP BY bucket
      ORDER BY bucket"""))

  /** Incremental view maintenance — the mergeable-aggregate algebra that
    * lets a 100 TB warehouse update a materialized daily rollup from the
    * day's delta instead of rescanning history: state carries the MERGEABLE
    * partials (count, sum), never derived values, and avg is computed from
    * merged sums at READ time (avg-of-avgs is the classic IVM bug — two
    * partitions of unequal size average to the wrong number; summing
    * partials cannot). The query materializes the "existing" rollup from
    * the pre-cutoff history, aggregates only the post-cutoff delta, merges
    * by re-aggregation, and the oracle is the full recompute — equality IS
    * the maintenance-correctness proof. At scale the base side is the
    * stored rollup (group-cardinality-sized, no history scan); here both
    * sides derive from the fixture so the whole contract is checkable. */
  val q77 = GraftQuery(
    "q77_incremental_rollup",
    "Incremental view maintenance: merge(base rollup, delta rollup) == full recompute; avg from merged sums",
    (s, dir) => {
      val cutoff = "2024-03-01"
      val ev = events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          dec2(col("value")).as("v"))
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      val base = rollup(ev.filter(col("day") < lit(cutoff)))
      val delta = rollup(ev.filter(col("day") >= lit(cutoff)))
      // avg as an EXACT ×10⁴ integer (floor of cents·100/n): the double
      // round() hit a .00005 boundary at sf0.001 where Spark (HALF_UP on
      // decimal string) and DuckDB (binary) disagree by 1 ulp — integer
      // floor division cannot (the q42/q83 discipline)
      base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
        .select(col("event_type"), col("day"), col("n"),
          col("total").cast("double").as("total"),
          expr("CAST(total * 100 AS BIGINT) * 100 div n").as("avg_value_x10000"))
        .orderBy("event_type", "day")
    },
    Some("""
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total,
             CAST(sum(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) * 100
               // count(*) AS avg_value_x10000
      FROM events
      GROUP BY event_type, day
      ORDER BY event_type, day"""))

  /** Data-quality constraint validation — the Deequ/dbt-test shape: a
    * declared check suite (uniqueness, referential integrity, null rate,
    * value range, accepted set) evaluated over the warehouse in ONE pass
    * per table side, emitting the per-check report a pipeline gates on.
    * Everything folds into plain aggregates: uniqueness = count vs
    * count(distinct); RI = anti-join count via null-preserving left join;
    * range/set checks = conditional counts — all map-side combined, no
    * row-level verdict materialized (at 100 TB you ship the REPORT, not a
    * flagged copy of the table). The check list is data, not code: adding
    * a check is one row in the output contract. Reference hook: the
    * crawler's post-registration validation surface (A15). */
  val q81 = GraftQuery(
    "q81_constraint_report",
    "Deequ-style check suite: uniqueness, referential integrity, null rate, range, accepted set",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer").select(col("c_custkey"))
      val joined = o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      val m = joined.agg(
        count(lit(1)).as("rows"),
        countDistinct(col("o_orderkey")).as("distinct_keys"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("ri_orphans"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_price"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("bad_status")).head()
      val rows = Seq(
        ("orderkey_unique", m.getLong(1), m.getLong(0),
          m.getLong(1) == m.getLong(0)),
        ("custkey_ri", m.getLong(0) - m.getLong(2), m.getLong(0),
          m.getLong(2) == 0L),
        ("price_not_null", m.getLong(0) - m.getLong(3), m.getLong(0),
          m.getLong(3) == 0L),
        ("price_positive", m.getLong(0) - m.getLong(4), m.getLong(0),
          m.getLong(4) == 0L),
        ("status_in_set", m.getLong(0) - m.getLong(5), m.getLong(0),
          m.getLong(5) == 0L))
      import s.implicits._
      rows.toDF("check_name", "passing", "total", "ok").orderBy("check_name")
    },
    Some("""
      WITH j AS (SELECT o.*, c.c_custkey AS ck
                 FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
      m AS (SELECT count(*) AS n,
                   count(DISTINCT o_orderkey) AS dk,
                   sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS orphans,
                   sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS np,
                   sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos,
                   sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                            THEN 1 ELSE 0 END) AS badst
            FROM j)
      SELECT * FROM (
        SELECT 'orderkey_unique' AS check_name, CAST(dk AS BIGINT) AS passing,
               CAST(n AS BIGINT) AS total, dk = n AS ok FROM m
        UNION ALL SELECT 'custkey_ri', CAST(n - orphans AS BIGINT),
               CAST(n AS BIGINT), orphans = 0 FROM m
        UNION ALL SELECT 'price_not_null', CAST(n - np AS BIGINT),
               CAST(n AS BIGINT), np = 0 FROM m
        UNION ALL SELECT 'price_positive', CAST(n - nonpos AS BIGINT),
               CAST(n AS BIGINT), nonpos = 0 FROM m
        UNION ALL SELECT 'status_in_set', CAST(n - badst AS BIGINT),
               CAST(n AS BIGINT), badst = 0 FROM m)
      ORDER BY check_name"""))

  /** Right-to-erasure (GDPR art. 17) delete cascade — the warehouse op a
    * privacy request actually triggers: a delete-list of subject keys is
    * propagated through the FK chain (customer → orders → lineitem) with
    * semi/anti joins, and the result is the per-table AUDIT a compliance
    * pipeline must emit (rows before, purged, after, and orphans left
    * behind — the orphan columns are the contract: a buggy cascade shows
    * nonzero there). Shape at 100 TB: the delete-list broadcasts (it is
    * per-request small); the order-key set derived from it shuffles only
    * keys; each fact table is touched ONCE — a LEFT join against the
    * (broadcast) delete-key set flags every row and a single conditional
    * aggregate emits all four audit columns (fused from separate semi/anti
    * jobs per VERDICT r7 item 6) — no fact-to-fact join anywhere. */
  val q85 = GraftQuery(
    "q85_delete_cascade",
    "GDPR delete cascade: delete-list → orders → lineitem semi/anti propagation + per-table audit",
    (s, dir) => {
      val cust = table(s, dir, "customer")
      val orders = table(s, dir, "orders")
      val li = table(s, dir, "lineitem")
      val del = cust.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("dk"), lit(true).as("m"))
      val delOrders = orders
        .join(broadcast(del), col("o_custkey") === col("dk"), "left_semi")
        .select(col("o_orderkey").as("dok"), lit(true).as("mo"))
      // One pass per table: `purged` is delete-set membership from the join
      // flag; `orphan` = survives the purge yet still references a purged
      // parent. For customer the orphan predicate RE-DERIVES membership
      // from the subject predicate (independent of the flag), so a buggy
      // delete-list join surfaces as a nonzero orphan count; for the fact
      // tables the membership flag is the only key-set source, mirroring
      // the oracle's structurally-contradictory NOT IN ∧ IN check.
      def audit(tbl: String, flagged: org.apache.spark.sql.DataFrame,
          purged: org.apache.spark.sql.Column,
          orphan: org.apache.spark.sql.Column) =
        flagged.agg(
          count(lit(1)).as("rows_before"),
          sum(when(purged, 1L).otherwise(0L)).as("rows_purged"),
          sum(when(!purged && orphan, 1L).otherwise(0L)).as("orphans_after"))
          .select(lit(tbl).as("tbl"), col("rows_before"), col("rows_purged"),
            (col("rows_before") - col("rows_purged")).as("rows_after"),
            col("orphans_after"))
      audit("customer",
          cust.join(broadcast(del), col("c_custkey") === col("dk"), "left"),
          col("m").isNotNull, col("c_custkey") % 97 === 0)
        .unionAll(audit("orders",
          orders.join(broadcast(del), col("o_custkey") === col("dk"), "left"),
          col("m").isNotNull, col("m").isNotNull))
        .unionAll(audit("lineitem",
          li.join(delOrders, col("l_orderkey") === col("dok"), "left"),
          col("mo").isNotNull, col("mo").isNotNull))
        .orderBy("tbl")
    },
    Some("""
      WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      delo AS (SELECT o_orderkey FROM orders
               WHERE o_custkey IN (SELECT c_custkey FROM del))
      SELECT * FROM (
        SELECT 'customer' AS tbl,
               (SELECT count(*) FROM customer) AS rows_before,
               (SELECT count(*) FROM del) AS rows_purged,
               (SELECT count(*) FROM customer) - (SELECT count(*) FROM del) AS rows_after,
               (SELECT count(*) FROM customer
                WHERE c_custkey NOT IN (SELECT c_custkey FROM del)
                  AND c_custkey % 97 = 0) AS orphans_after
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM del)),
               (SELECT count(*) FROM orders)
                 - (SELECT count(*) FROM orders
                    WHERE o_custkey IN (SELECT c_custkey FROM del)),
               (SELECT count(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
                  AND o_custkey IN (SELECT c_custkey FROM del))
        UNION ALL
        SELECT 'lineitem',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
               (SELECT count(*) FROM lineitem)
                 - (SELECT count(*) FROM lineitem
                    WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo)
                  AND l_orderkey IN (SELECT o_orderkey FROM delo)))
      ORDER BY tbl"""))

  /** Join-key skew diagnosis — the report you run BEFORE choosing q75's
    * salting factor or trusting AQE's skew threshold: per-key row counts
    * summarized as exact percentiles, max, and the heavy-hitter list.
    * Exact percentiles of per-key counts at 100 TB without a global sort:
    * the per-key count table may have billions of rows, but its
    * COUNTS-OF-COUNTS histogram is tiny (distinct count values repeat),
    * so percentiles come from a cumulative sum over that bounded
    * histogram — the only global window in the query runs on it, never
    * on keys. Heavy hitters are a bounded TakeOrdered. All outputs are
    * integers (skew ratio as ×100 integer division) → hash-exact. */
  val q88 = GraftQuery(
    "q88_skew_report",
    "Join-key skew report on orders.o_custkey: exact count percentiles via counts-of-counts + heavy hitters",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(count(lit(1)).as("n"), sum("c").as("tot"),
        max("c").as("mx"))
      // counts-of-counts histogram (bounded cardinality) + cumulative keys.
      // The UNPARTITIONED window (and its WindowExec "moving all data to a
      // single partition" warning) is deliberate and scale-safe: it runs
      // over the histogram of DISTINCT COUNT VALUES, whose cardinality is
      // bounded by the count distribution (hundreds of rows at any corpus
      // size), never over keys or facts.
      val cum = counts.groupBy("c").agg(count(lit(1)).as("nk"))
        .withColumn("cum", sum("nk").over(
          Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
      def pct(q: Double, name: String) = cum
        .filter(col("cum") >= ceil(lit(q) * col("n")))
        .agg(min("c").as(name))
      val scalars = tot
        .crossJoin(pct(0.5, "p50")).crossJoin(pct(0.9, "p90")).crossJoin(pct(0.99, "p99"))
        .select(expr("""stack(7,
          'n_keys', n, 'total_rows', tot, 'max_rows', mx,
          'p50_rows', p50, 'p90_rows', p90, 'p99_rows', p99,
          'skew_max_over_p50_x100', CAST(mx * 100 / p50 AS BIGINT))
          AS (metric, value)"""))
      // global window on a LIMIT-3 frame — three rows, any scale
      val top = counts.orderBy(desc("c"), col("k")).limit(3)
        .withColumn("r", row_number().over(Window.orderBy(desc("c"), col("k"))))
        .select(expr("""stack(2,
          concat('top', r, '_key'), k,
          concat('top', r, '_rows'), c) AS (metric, value)"""))
      scalars.unionAll(top).orderBy("metric")
    },
    Some("""
      WITH counts AS (SELECT o_custkey AS k, count(*) AS c
                      FROM orders GROUP BY o_custkey),
      tot AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS tot,
                     max(c) AS mx FROM counts),
      hist AS (SELECT c, count(*) AS nk FROM counts GROUP BY c),
      cum AS (SELECT c, sum(nk) OVER (ORDER BY c) AS cum FROM hist),
      p AS (SELECT
              (SELECT min(c) FROM cum, tot WHERE cum >= ceil(0.5 * n)) AS p50,
              (SELECT min(c) FROM cum, tot WHERE cum >= ceil(0.9 * n)) AS p90,
              (SELECT min(c) FROM cum, tot WHERE cum >= ceil(0.99 * n)) AS p99),
      topk AS (SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS r
               FROM counts ORDER BY c DESC, k LIMIT 3)
      SELECT metric, value FROM (
        SELECT 'n_keys' AS metric, n AS value FROM tot
        UNION ALL SELECT 'total_rows', tot FROM tot
        UNION ALL SELECT 'max_rows', mx FROM tot
        UNION ALL SELECT 'p50_rows', p50 FROM p
        UNION ALL SELECT 'p90_rows', p90 FROM p
        UNION ALL SELECT 'p99_rows', p99 FROM p
        UNION ALL SELECT 'skew_max_over_p50_x100',
                         CAST(mx * 100 // p50 AS BIGINT) FROM tot, p
        UNION ALL SELECT concat('top', r, '_key'), k FROM topk
        UNION ALL SELECT concat('top', r, '_rows'), c FROM topk)
      ORDER BY metric"""))

  /** Compaction planning — the OPTIMIZE / rewrite-data-files decision in
    * portable form: a date-partitioned ingest leaves one small file per
    * day (~6 rows/day here); the planner packs CONSECUTIVE days into
    * right-sized output files without splitting a day. The greedy
    * first-fit pack is not a driver loop: bin = floor(exclusive-cumsum /
    * target) — one window over the per-day inventory, which is partition
    * METADATA scale (thousands of rows regardless of data volume), so the
    * unpartitioned cumsum window is a bounded presentation-side sort, the
    * same class as a CLI sink. A bin may overflow target by less than one
    * day (first-fit semantics); fill is reported in integer basis points
    * (floor division — identical in both engines on non-negatives). */
  val q93 = GraftQuery(
    "q93_compaction_plan",
    "Small-file compaction plan: per-day inventory packed into ~1000-row bins by cumulative sum",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val target = 1000L
      val inv = table(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      // unpartitioned cumulative sum over the PER-DAY aggregate (one row
      // per calendar day — thousands of rows at any corpus size); the
      // WindowExec single-partition warning is about this bounded frame,
      // not the fact table, which aggregated away one step earlier
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
      inv.withColumn("before", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("bin", floor(col("before") / target))
        .groupBy("bin")
        .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"),
          count(lit(1)).as("n_days"), sum(col("n")).as("n_rows"))
        .withColumn("fill_bp", expr(s"n_rows * 10000 div $target"))
        .orderBy("bin")
    },
    Some("""
      WITH inv AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(count(*) AS BIGINT) AS n
                   FROM orders GROUP BY day),
      planned AS (SELECT day, n,
                         coalesce(CAST(sum(n) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS BIGINT), 0) AS before
                  FROM inv),
      bins AS (SELECT CAST(floor(before / 1000.0) AS BIGINT) AS bin, day, n
               FROM planned)
      SELECT bin, min(day) AS first_day, max(day) AS last_day,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum(n) AS BIGINT) * 10000 // 1000 AS fill_bp
      FROM bins GROUP BY bin ORDER BY bin"""))

  /** Zone-map (per-file min/max) data-skipping report — "small
    * materialized aggregates" (Moerkotte, VLDB 1998), the stats engine
    * behind parquet row-group pruning and lakehouse file skipping. For a
    * 16-file simulated layout we build the zone maps and evaluate three
    * range predicates against them: a file is skippable iff its [min,max]
    * envelope is disjoint from the predicate range. Two layouts side by
    * side — `insertion` (key-mod assignment, the order rows arrived) vs
    * `clustered` (equal-width value ranges, what OPTIMIZE...ORDER BY
    * produces) — so the report quantifies exactly how much scan volume
    * layout clustering saves per predicate (the decision input for a q76
    * z-order / q93 compaction pass).
    *
    * Scale shape: one pass computes both layouts' zone maps (explode to
    * (layout, file) then a map-side-combined hash agg); the clustered
    * assignment uses a broadcast 1-row (lo, hi) bounds row — the same
    * boundary-then-bucket shape a range-partitioned write uses, no global
    * sort window. The report stage is a 32-row zone table × 3 broadcast
    * predicates. File counts and min/max are comparison-only picks (no
    * float summation), so doubles are engine-exact. */
  val q94 = GraftQuery(
    "q94_zonemap_skip",
    "Zone-map skipping report: files skipped + rows scanned per predicate, insertion vs clustered layout",
    (s, dir) => {
      import s.implicits._
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bounds = o.agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      val files = o.crossJoin(broadcast(bounds))
        .select(col("o_totalprice"),
          pmod(col("o_orderkey"), lit(16)).cast("long").as("f_ins"),
          least(floor((col("o_totalprice") - col("lo")) * 16 / (col("hi") - col("lo"))),
            lit(15L)).as("f_clu"))
      val zones = files.select(explode(array(
          struct(lit("insertion").as("layout"), col("f_ins").as("file_id"), col("o_totalprice").as("p")),
          struct(lit("clustered").as("layout"), col("f_clu").as("file_id"), col("o_totalprice").as("p"))))
          .as("z"))
        .select(col("z.layout").as("layout"), col("z.file_id").as("file_id"), col("z.p").as("p"))
        .groupBy("layout", "file_id")
        .agg(min(col("p")).as("mn"), max(col("p")).as("mx"), count(lit(1)).as("n_rows"))
      val preds = Seq((1L, 1000.0, 50000.0), (2L, 100000.0, 200000.0),
        (3L, 400000.0, 600000.0)).toDF("pred_id", "lo_p", "hi_p")
      val skip = col("mx") < col("lo_p") || col("mn") > col("hi_p")
      zones.crossJoin(broadcast(preds))
        .groupBy("pred_id", "layout")
        .agg(count(lit(1)).as("n_files"),
          sum(when(skip, 1L).otherwise(0L)).as("n_skipped"),
          sum(when(skip, 0L).otherwise(col("n_rows"))).as("rows_scanned"))
        .orderBy("pred_id", "layout")
    },
    Some("""
      WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
      f AS (SELECT o_totalprice,
                   o_orderkey % 16 AS f_ins,
                   least(CAST(floor((o_totalprice - lo) * 16 / (hi - lo)) AS BIGINT),
                         15) AS f_clu
            FROM orders, b),
      z AS (SELECT layout, file_id,
                   min(p) AS mn, max(p) AS mx, count(*) AS n_rows
            FROM (SELECT 'insertion' AS layout, f_ins AS file_id, o_totalprice AS p FROM f
                  UNION ALL
                  SELECT 'clustered', f_clu, o_totalprice FROM f)
            GROUP BY layout, file_id),
      p AS (SELECT * FROM (VALUES (1, 1000.0, 50000.0), (2, 100000.0, 200000.0),
                                  (3, 400000.0, 600000.0)) AS t(pred_id, lo_p, hi_p))
      SELECT CAST(pred_id AS BIGINT) AS pred_id, layout,
             count(*) AS n_files,
             CAST(sum(CASE WHEN mx < lo_p OR mn > hi_p THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
             CAST(sum(CASE WHEN mx < lo_p OR mn > hi_p THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
      FROM z, p
      GROUP BY pred_id, layout
      ORDER BY pred_id, layout"""))

  /** Full CDC MERGE — q58 covers update/keep/insert; this adds the clause
    * real change-data-capture feeds need most: WHEN MATCHED AND op = 'D'
    * THEN DELETE. A deterministic change feed (key mod 5: 0 → delete,
    * 1 → update +100.00; suppliers under shifted keys → insert) applies
    * in ONE full-outer join pass — deletes are rows the projection drops,
    * never a second anti-join scan of the target; the action column keeps
    * the audit trail (D rows are counted in the summary row rather than
    * emitted, so the "deleted" evidence survives in the output).
    * DECIMAL arithmetic end to end (the q58/dec2 discipline). */
  val q97 = GraftQuery(
    "q97_merge_delete",
    "CDC MERGE with delete clause: update/delete/insert/keep in one full-outer pass",
    (s, dir) => {
      val tgt = table(s, dir, "customer")
        .select(col("c_custkey").as("id"), dec2(col("c_acctbal")).as("balance"))
      val chg = table(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(5)) <= 1)
        .select(col("c_custkey").as("id"),
          when(pmod(col("c_custkey"), lit(5)) === 0, "D").otherwise("U").as("op"),
          lit(BigDecimal(100.00)).cast("decimal(14,2)").as("delta"))
        .unionByName(table(s, dir, "supplier")
          .select((col("s_suppkey") + 1000000L).as("id"), lit("I").as("op"),
            dec2(col("s_acctbal")).as("delta")))
      val merged = tgt.join(chg, Seq("id"), "full_outer")
        .select(col("id"),
          when(col("op") === "U", col("balance") + col("delta"))
            .when(col("op") === "I", col("delta"))
            .otherwise(col("balance")).cast("double").as("balance"),
          coalesce(col("op"), lit("-")).as("action"))
      val survivors = merged.filter(col("action") =!= "D")
      val audit = merged.groupBy("action").agg(count(lit(1)).as("n"))
        .select(lit(-1L).as("id"), col("n").cast("double").as("balance"),
          concat(lit("#"), col("action")).as("action"))
      survivors.unionByName(audit).orderBy("id", "action")
    },
    Some("""
      WITH tgt AS (SELECT c_custkey AS id, CAST(c_acctbal AS DECIMAL(14,2)) AS balance
                   FROM customer),
      chg AS (SELECT c_custkey AS id,
                     CASE WHEN c_custkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
                     CAST(100.00 AS DECIMAL(14,2)) AS delta
              FROM customer WHERE c_custkey % 5 <= 1
              UNION ALL
              SELECT s_suppkey + 1000000, 'I', CAST(s_acctbal AS DECIMAL(14,2))
              FROM supplier),
      merged AS (SELECT COALESCE(t.id, c.id) AS id,
                        CAST(CASE WHEN c.op = 'U' THEN t.balance + c.delta
                                  WHEN c.op = 'I' THEN c.delta
                                  ELSE t.balance END AS DOUBLE) AS balance,
                        COALESCE(c.op, '-') AS action
                 FROM tgt t FULL JOIN chg c ON t.id = c.id)
      SELECT id, balance, action FROM merged WHERE action <> 'D'
      UNION ALL
      SELECT -1, CAST(n AS DOUBLE), '#' || action
      FROM (SELECT action, count(*) AS n FROM merged GROUP BY action)
      ORDER BY id, action"""))

  /** Robust per-group outlier report via median/MAD — the data-cleaning
    * pass that survives the outliers it hunts (mean/stddev thresholds are
    * dragged by the very tails they're meant to flag; median and MAD have
    * a 50% breakdown point — Hampel's classic identifier). Per event_type:
    * exact median, MAD (median of |v − med|), and how many rows sit
    * outside med ± 3·MAD. Shape at 100 TB: event_type cardinality is
    * bounded, so the per-group medians are a tiny aggregate that
    * BROADCASTS back onto the fact table — two scans of events total
    * (one per percentile level), never a per-row window, and the final
    * count is a map-side-combined conditional agg. Exact `percentile`
    * (sort-based within each bounded group) matches DuckDB's
    * quantile_cont linear interpolation. */
  val q101 = GraftQuery(
    "q101_mad_outliers",
    "Hampel outlier audit per event_type: exact median + MAD broadcast back, |v-med| > 3*MAD counts",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(first(col("med")), 4).as("median_value"),
          round(first(col("mad")), 4).as("mad_value"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""
      WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                   FROM events GROUP BY event_type),
      dev AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
              FROM events e JOIN med m USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
              FROM dev GROUP BY event_type)
      SELECT d.event_type,
             count(*) AS n,
             round(any_value(d.med), 4) AS median_value,
             round(any_value(a.mad), 4) AS mad_value,
             CAST(sum(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev d JOIN mad a USING (event_type)
      GROUP BY d.event_type
      ORDER BY d.event_type"""))

  /** Versioned SCD2 dimension over the sampled entity set — the build
    * side q105/st21 join against. NOT a registry entry: the registry's
    * SCD2 interval build is q59 (all users, no version column); this
    * helper is q59's construction plus the per-entity `version` the
    * temporal joins key their assertions on. One shuffle on the entity
    * key — change-detection lag, interval lead, and version row_number
    * ride the same (user_id, ts) sort; no self-join. The interval-
    * chaining contract (dense versions, valid_to = next valid_from,
    * runs collapsed, single current row) is pinned by InvariantSpec. */
  private[graft] def scd2Dim(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .filter(col("user_id") % 23 === 0)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull ||
        col("event_type") =!= col("prev_state"))
      .withColumn("valid_to_raw", lead(col("ts"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").cast("timestamp_ntz").as("valid_from"),
        col("valid_to_raw").cast("timestamp_ntz").as("valid_to"),
        col("version"),
        col("valid_to_raw").isNull.as("is_current"))
  }

  /** Temporal join against the SCD2 dimension — the read side of the q59
    * build (via the versioned [[scd2Dim]] helper) and the reason SCD2
    * exists at all: each fact row joins the dimension VERSION that was
    * valid at event time (valid_from ≤ ts < valid_to, open-ended current
    * rows via NULL), so historical facts report the attribute they had
    * THEN, not the attribute the entity has now. Implemented as the
    * interval join q38/q87's range-join machinery handles: equi on the
    * entity key + the validity range predicate; the dimension is
    * per-entity bounded (change counts, not event counts) so at 100 TB
    * it broadcasts or buckets by entity while facts stream through.
    * Validation column: every event matches EXACTLY one interval (the
    * intervals tile by the scd2Dim invariant), so n_versions_matched is
    * constant 1 and the hash gate would catch a gappy or overlapping
    * dimension immediately. */
  val q105 = GraftQuery(
    "q105_scd2_temporal_join",
    "Fact-to-SCD2 as-of interval join: each event joined to the dimension version valid at its timestamp",
    (s, dir) => {
      val dim = scd2Dim(s, dir)
        .select(col("user_id"), col("state"), col("valid_from"),
          col("valid_to"), col("version"))
      val facts = events(s, dir)
        .filter(col("user_id") % 23 === 0)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
      facts.join(dim,
          facts("user_id") === dim("user_id") &&
            col("valid_from") <= col("ts") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
        .groupBy(col("event_id"), facts("user_id").as("user_id"),
          col("event_type"))
        .agg(max(col("state")).as("state_at_event"),
          max(col("version")).as("dim_version"),
          count(lit(1)).as("n_versions_matched"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                        event_id
                 FROM events WHERE user_id % 23 = 0),
      m AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev_state
            FROM e),
      c AS (SELECT * FROM m
            WHERE prev_state IS NULL OR event_type <> prev_state),
      dim AS (SELECT user_id, event_type AS state, ts AS valid_from,
                     lead(ts) OVER w AS valid_to,
                     CAST(row_number() OVER w AS BIGINT) AS version
              FROM c
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT f.event_id, f.user_id, f.event_type,
             max(d.state) AS state_at_event,
             max(d.version) AS dim_version,
             count(*) AS n_versions_matched
      FROM e f JOIN dim d
        ON f.user_id = d.user_id
       AND d.valid_from <= f.ts
       AND (d.valid_to IS NULL OR f.ts < d.valid_to)
      GROUP BY f.event_id, f.user_id, f.event_type
      ORDER BY f.event_id"""))

  /** Both compaction layouts (48 small files, then the 8-file rewrite),
    * built once per (sf, JVM) as the `small/` and `big/` halves of one
    * spool. Registered as `x_compaction_spool` in SparkEntry.artifacts so
    * Bench charges the writes explicitly — min-of-2 would otherwise
    * discard q106's building first run and time only the read-side audit
    * (the r6 hidden-cost pattern). */
  private[graft] def compactionSpools(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val spool = spooled("x_compaction_spool", dir) { p =>
      table(s, dir, "orders").repartition(48).write.mode("overwrite").parquet(s"$p/small")
      s.read.parquet(s"$p/small").repartition(8).write.mode("overwrite").parquet(s"$p/big")
    }
    (s"$spool/small", s"$spool/big")
  }

  /** Compaction EXECUTION — the action half of q93's planner: a
    * small-file layout (48 files — the shape a streaming sink or
    * over-parallel writer leaves behind) is rewritten into 8 right-sized
    * files, and the audit proves (a) the file counts actually changed as
    * planned — counted from `input_file_name()`, the physical layout,
    * not the plan — and (b) not a row was lost or duplicated, via
    * count AND a full-table digest (sum of row hashes, order-independent)
    * compared across layouts. At 100 TB this is the nightly OPTIMIZE job:
    * one shuffle to the target file count; the digest audit is two
    * map-side aggregates. Both layouts live in per-sf spools (rebuilt per
    * JVM, charged to the query — the one-shot maintenance posture, not a
    * shared artifact). */
  val q106 = GraftQuery(
    "q106_compaction_execute",
    "Execute the compaction: 48 small files -> 8, file counts from the physical layout, row digest preserved",
    (s, dir) => {
      val (smallDir, bigDir) = compactionSpools(s, dir)
      val small = s.read.parquet(smallDir)
      val big = s.read.parquet(bigDir)
      // input_file_name() is non-deterministic to Catalyst — project it
      // to a column first, then aggregate the column
      def audit(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("f", input_file_name())
        .agg(
          countDistinct(col("f")).as("files"),
          count(lit(1)).as("rows"),
          // order-independent content digest: XOR of per-row hashes —
          // commutative, no ANSI overflow (unlike sum), and xxhash64 is
          // Spark-internal so the digest is compared ENGINE-side only
          // (before == after), never against the oracle
          expr("bit_xor(xxhash64(o_orderkey, o_custkey))").as("dig"))
      audit(small).crossJoin(
          audit(big).select(col("files").as("files_after"),
            col("rows").as("rows_after"), col("dig").as("dig_after")))
        .select(col("files").as("files_before"), col("files_after"),
          col("rows").as("rows_before"), col("rows_after"),
          (col("dig") === col("dig_after")).as("content_preserved"))
    },
    Some("""
      SELECT CAST(48 AS BIGINT) AS files_before, CAST(8 AS BIGINT) AS files_after,
             count(*) AS rows_before, count(*) AS rows_after,
             TRUE AS content_preserved
      FROM orders"""))

  /** Merkle-style replica reconciliation (the Dynamo/Cassandra anti-entropy
    * posture, batch form): two drifted copies of a table are compared by
    * BUCKET DIGEST first — 4096 hash buckets per replica, each reduced to
    * one bit_xor of row digests (commutative, order/partition-independent,
    * and identical rows cancel across replicas, so equal buckets prove
    * themselves with no row movement) — and the expensive row-level
    * full-outer diff runs ONLY over rows whose bucket diverged
    * (broadcast semi-join on the tiny divergent-bucket list). q72 ships
    * BOTH replicas through a full-table join; here the join input shrinks
    * to the divergence density — at 100 TB with sparse drift the digest
    * pass is a map-side-combined 4096-row aggregate and the diff touches
    * a sliver. 64-bit xor collisions (a multi-row symmetric difference
    * xoring to exactly 0) are the standard accepted risk of digest
    * reconciliation, ~2⁻⁶⁴ per bucket; the InvariantSpec cross-checks the
    * pruned diff against the unpruned one. Drift is synthesized
    * deterministically from the fixture (rows missing from either side by
    * key modulus, a price bump on a third modulus) so the oracle can
    * replay the SEMANTICS (the full diff) while the engine's bucket
    * mechanics stay an internal optimization. */
  val q109 = GraftQuery(
    "q109_merkle_reconcile",
    "Anti-entropy replica diff: 4096 bucket digests prune, row diff only in divergent buckets",
    (s, dir) => {
      val orders = table(s, dir, "orders")
        .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
      val repA = orders.filter(col("key") % 883 =!= 0)
      val repB = orders.filter(col("key") % 997 =!= 0)
        .withColumn("price",
          when(col("key") % 499 === 0, col("price") + 1.0d).otherwise(col("price")))
      def withBucket(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", pmod(xxhash64(col("key")), lit(4096)))
      def bucketDigest(df: org.apache.spark.sql.DataFrame, out: String) =
        withBucket(df).groupBy("bucket")
          .agg(expr("bit_xor(xxhash64(key, price))").as(out))
      val divergent = bucketDigest(repA, "da")
        .join(bucketDigest(repB, "db"), Seq("bucket"), "full_outer")
        .filter(col("da").isNull || col("db").isNull || col("da") =!= col("db"))
        .select("bucket")
      def pruned(df: org.apache.spark.sql.DataFrame) =
        withBucket(df).join(broadcast(divergent), Seq("bucket"), "left_semi")
      pruned(repA).select(col("key"), col("price").as("price_a"))
        .join(pruned(repB).select(col("key"), col("price").as("price_b")),
          Seq("key"), "full_outer")
        .filter(col("price_a").isNull || col("price_b").isNull
          || col("price_a") =!= col("price_b"))
        .select(col("key"),
          when(col("price_b").isNull, "missing_in_b")
            .when(col("price_a").isNull, "missing_in_a")
            .otherwise("mismatch").as("status"),
          col("price_a"), col("price_b"))
        .orderBy("key")
    },
    Some("""
      WITH a AS (SELECT o_orderkey AS key, o_totalprice AS price
                 FROM orders WHERE o_orderkey % 883 <> 0),
      b AS (SELECT o_orderkey AS key,
                   o_totalprice + CASE WHEN o_orderkey % 499 = 0
                                       THEN 1.0 ELSE 0.0 END AS price
            FROM orders WHERE o_orderkey % 997 <> 0)
      SELECT COALESCE(a.key, b.key) AS key,
             CASE WHEN b.key IS NULL THEN 'missing_in_b'
                  WHEN a.key IS NULL THEN 'missing_in_a'
                  ELSE 'mismatch' END AS status,
             a.price AS price_a, b.price AS price_b
      FROM a FULL JOIN b ON a.key = b.key
      WHERE a.key IS NULL OR b.key IS NULL OR a.price <> b.price
      ORDER BY key"""))

  /** Field-level three-way merge — two concurrent writers' changesets
    * reconciled against one base snapshot, the conflict-detection half of
    * an optimistic-concurrency commit protocol (Delta/Iceberg commit
    * reconciliation; git merge for tables). Each branch arrives as a
    * SPARSE changeset (op, new field values — nulls mean untouched), the
    * merge full-outer-joins the two changesets on key (delta-sized, never
    * base-sized) and classifies: disjoint-field updates MERGE (A's
    * segment + B's balance combine — row-level diffing would call that a
    * conflict), same-field divergent updates and delete-vs-update are
    * real conflicts, double-deletes agree. The base table is touched
    * exactly once, by a broadcast SEMI join on the merged key list
    * (q109's pruning discipline) to fetch unchanged fields for one-sided
    * updates — at 100 TB the reconciliation cost follows changeset size,
    * and the base never shuffles. Changesets are synthesized
    * deterministically by key modulus so the oracle replays the full
    * semantics: A re-segments key%7 and deletes key%991, B re-prices
    * key%11 and re-segments key%13 (differently) and deletes key%997,
    * each side inserts into disjoint key spaces. */
  val q110 = GraftQuery(
    "q110_three_way_merge",
    "Field-level 3-way merge of two changesets vs base: merge disjoint fields, flag conflicts",
    (s, dir) => {
      val base = table(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_mktsegment").as("segment"),
          dec2(col("c_acctbal")).as("balance"))
      val nullSeg = lit(null).cast("string")
      val nullBal = lit(null).cast("decimal(14,2)")
      val dA = base.filter(col("key") % 991 === 0 || col("key") % 7 === 0)
        .select(col("key"),
          when(col("key") % 991 === 0, "delete").otherwise("update").as("op_a"),
          when(col("key") % 991 =!= 0, lit("MACHINERY")).otherwise(nullSeg).as("seg_a"),
          nullBal.as("bal_a"))
        .unionByName(base.filter(col("key") % 503 === 0)
          .select((col("key") + 5000000L).as("key"), lit("insert").as("op_a"),
            lit("NEW_A").as("seg_a"), lit(BigDecimal("1.00")).cast("decimal(14,2)").as("bal_a")))
      val dB = base.filter(col("key") % 997 === 0 || col("key") % 11 === 0 || col("key") % 13 === 0)
        .select(col("key"),
          when(col("key") % 997 === 0, "delete").otherwise("update").as("op_b"),
          when(col("key") % 997 =!= 0 && col("key") % 13 === 0, lit("FURNITURE"))
            .otherwise(nullSeg).as("seg_b"),
          when(col("key") % 997 =!= 0 && col("key") % 11 === 0,
            (col("balance") + 50).cast("decimal(14,2)")).otherwise(nullBal).as("bal_b"))
        .unionByName(base.filter(col("key") % 509 === 0)
          .select((col("key") + 5100000L).as("key"), lit("insert").as("op_b"),
            lit("NEW_B").as("seg_b"), lit(BigDecimal("2.00")).cast("decimal(14,2)").as("bal_b")))
      val merged = dA.join(dB, Seq("key"), "full_outer")
        .withColumn("action",
          when(col("op_a") === "delete" && col("op_b") === "delete", "delete")
            .when(col("op_a") === "delete" || col("op_b") === "delete", "conflict_delete")
            .when(col("seg_a").isNotNull && col("seg_b").isNotNull
              && col("seg_a") =!= col("seg_b"), "conflict_field")
            .when(col("bal_a").isNotNull && col("bal_b").isNotNull
              && col("bal_a") =!= col("bal_b"), "conflict_field")
            .when(col("op_a") === "insert", "insert_a")
            .when(col("op_b") === "insert", "insert_b")
            .when(col("op_a") === "delete" && col("op_b").isNull, "delete")
            .when(col("op_b") === "delete" && col("op_a").isNull, "delete")
            .otherwise("update"))
      val touched = base.join(broadcast(merged.select("key")), Seq("key"), "left_semi")
      merged.join(touched, Seq("key"), "left_outer")
        .select(col("key"), col("action"),
          when(col("action").isin("delete", "conflict_delete", "conflict_field"), nullSeg)
            .otherwise(coalesce(col("seg_a"), col("seg_b"), col("segment"))).as("merged_segment"),
          when(col("action").isin("delete", "conflict_delete", "conflict_field"),
            lit(null).cast("long"))
            .otherwise((coalesce(col("bal_a"), col("bal_b"), col("balance")) * 100)
              .cast("long")).as("merged_balance_cents"))
        .orderBy("key")
    },
    Some("""
      WITH base AS (SELECT c_custkey AS key, c_mktsegment AS segment,
                           CAST(c_acctbal AS DECIMAL(14,2)) AS balance
                    FROM customer),
      da AS (
        SELECT key,
               CASE WHEN key % 991 = 0 THEN 'delete' ELSE 'update' END AS op_a,
               CASE WHEN key % 991 <> 0 THEN 'MACHINERY' END AS seg_a,
               CAST(NULL AS DECIMAL(14,2)) AS bal_a
        FROM base WHERE key % 991 = 0 OR key % 7 = 0
        UNION ALL
        SELECT key + 5000000, 'insert', 'NEW_A', CAST(1.00 AS DECIMAL(14,2))
        FROM base WHERE key % 503 = 0),
      db AS (
        SELECT key,
               CASE WHEN key % 997 = 0 THEN 'delete' ELSE 'update' END AS op_b,
               CASE WHEN key % 997 <> 0 AND key % 13 = 0 THEN 'FURNITURE' END AS seg_b,
               CASE WHEN key % 997 <> 0 AND key % 11 = 0
                    THEN CAST(balance + 50 AS DECIMAL(14,2)) END AS bal_b
        FROM base WHERE key % 997 = 0 OR key % 11 = 0 OR key % 13 = 0
        UNION ALL
        SELECT key + 5100000, 'insert', 'NEW_B', CAST(2.00 AS DECIMAL(14,2))
        FROM base WHERE key % 509 = 0),
      m AS (
        SELECT COALESCE(da.key, db.key) AS key, op_a, seg_a, bal_a, op_b, seg_b, bal_b,
               CASE WHEN op_a = 'delete' AND op_b = 'delete' THEN 'delete'
                    WHEN op_a = 'delete' OR op_b = 'delete' THEN 'conflict_delete'
                    WHEN seg_a IS NOT NULL AND seg_b IS NOT NULL
                         AND seg_a <> seg_b THEN 'conflict_field'
                    WHEN bal_a IS NOT NULL AND bal_b IS NOT NULL
                         AND bal_a <> bal_b THEN 'conflict_field'
                    WHEN op_a = 'insert' THEN 'insert_a'
                    WHEN op_b = 'insert' THEN 'insert_b'
                    WHEN op_a = 'delete' AND op_b IS NULL THEN 'delete'
                    WHEN op_b = 'delete' AND op_a IS NULL THEN 'delete'
                    ELSE 'update' END AS action
        FROM da FULL JOIN db ON da.key = db.key)
      SELECT m.key, m.action,
             CASE WHEN m.action IN ('delete', 'conflict_delete', 'conflict_field')
                  THEN NULL
                  ELSE COALESCE(m.seg_a, m.seg_b, b.segment) END AS merged_segment,
             CASE WHEN m.action IN ('delete', 'conflict_delete', 'conflict_field')
                  THEN CAST(NULL AS BIGINT)
                  ELSE CAST(COALESCE(m.bal_a, m.bal_b, b.balance) * 100 AS BIGINT)
                  END AS merged_balance_cents
      FROM m LEFT JOIN base b ON m.key = b.key
      ORDER BY m.key"""))

  /** Range-partition planning from EXACT quantiles — the operator behind
    * every balanced sort/range-shuffle (Spark's RangePartitioner does this
    * on a sample; AQE's rebalance does it on map statistics): 31 exact
    * interpolated split points (q42's percentile discipline, rounded to
    * the money grain so boundary arithmetic is cross-engine exact) carve
    * o_totalprice into 32 equi-depth buckets, every row is assigned by
    * counting boundaries strictly below its value (31 bounded comparisons
    * per row against a 1-row broadcast — no shuffle, no join fan-out),
    * and the output is the per-bucket occupancy audit (count/min/max)
    * that PROVES the plan balanced before anyone pays for the actual
    * exchange. q88 diagnoses skew after the fact; q111 plans the layout
    * that avoids it. At 100 TB the quantile pass is one mergeable
    * aggregate and assignment is map-side arithmetic. */
  val q111 = GraftQuery(
    "q111_range_partition_plan",
    "Equi-depth range-partition plan: 31 exact split points, balanced-occupancy audit",
    (s, dir) => {
      val o = table(s, dir, "orders").select(col("o_totalprice").as("v"))
      val ps = (1 to 31).map(i => i / 32.0)
      val bounds = o.agg(
        transform(
          expr(s"percentile(v, array(${ps.mkString(", ")}))"),
          x => round(x, 2)).as("bounds"))
      o.crossJoin(broadcast(bounds))
        .withColumn("bucket", size(filter(col("bounds"), x => x < col("v"))).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH b AS (SELECT list_transform(
                   quantile_cont(o_totalprice, [${(1 to 31).map(i => s"$i/32.0").mkString(", ")}]),
                   x -> round(x, 2)) AS bounds
                 FROM orders),
      a AS (SELECT o_totalprice AS v,
                   CAST(len(list_filter(b.bounds, x -> x < o_totalprice)) AS BIGINT) AS bucket
            FROM orders, b)
      SELECT bucket, count(*) AS n, min(v) AS min_v, max(v) AS max_v
      FROM a
      GROUP BY bucket
      ORDER BY bucket"""))

  /** Join-cardinality estimation audit — the cost-based optimizer's
    * selectivity layer run as an operator and graded against ground
    * truth, on the case where the textbook assumption actually bends:
    * the SELF-equi-join (a key⋈key join where neither side is unique).
    * Each 16-bucket equi-width histogram entry carries (rows n, distinct
    * keys d); the uniformity estimate for the bucket's join contribution
    * is est = n² div d (Selinger '79 containment with equal sides), while
    * the true size is Σ c_k² over the bucket's per-key counts — by
    * Cauchy-Schwarz actual ≥ est with equality iff the bucket is
    * perfectly uniform, so err_bp is a per-bucket SKEW PENALTY meter:
    * exactly what a planner's row estimate misses when it trusts the
    * histogram. No join is executed — the truth comes from one
    * per-key count aggregated twice (both tiny, mergeable, ANALYZE-time
    * shapes that hold at any scale). q88 diagnoses key skew; q115 prices
    * it in predicted-vs-actual join rows. */
  val q115 = GraftQuery(
    "q115_join_card_estimate",
    "CBO audit: histogram self-join estimate vs true size; err_bp = the skew penalty",
    (s, dir) => {
      val ord = table(s, dir, "orders").select(col("o_custkey").as("key"))
      val bounds = ord.agg(min("key").as("lo"),
        expr("((max(key) - min(key)) div 16) + 1").as("width"))
      val perKey = ord.crossJoin(broadcast(bounds))
        .withColumn("bucket", expr("(key - lo) div width"))
        .groupBy("bucket", "key").agg(count(lit(1)).as("c"))
      perKey.groupBy("bucket")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("d"),
          sum(col("c") * col("c")).as("actual"))
        .withColumn("est", expr("(n * n) div d"))
        .withColumn("err_bp", expr("((actual - est) * 10000) div greatest(actual, 1)"))
        .select("bucket", "n", "d", "est", "actual", "err_bp")
        .orderBy("bucket")
    },
    Some("""
      WITH b AS (SELECT min(o_custkey) AS lo,
                        (max(o_custkey) - min(o_custkey)) // 16 + 1 AS width
                 FROM orders),
      pk AS (SELECT (o_custkey - b.lo) // b.width AS bucket, o_custkey AS key,
                    count(*) AS c
             FROM orders, b GROUP BY 1, 2),
      h AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n, count(*) AS d,
                   CAST(sum(c * c) AS BIGINT) AS actual
            FROM pk GROUP BY bucket)
      SELECT bucket, n, d, (n * n) // d AS est, actual,
             ((actual - (n * n) // d) * 10000) // greatest(actual, 1) AS err_bp
      FROM h
      ORDER BY bucket"""))

  /** Merge-on-read + time travel — the lakehouse read path the
    * copy-on-write merges (q58 two-way, q97 CDC) never exercise: the
    * table is a BASE snapshot (version 0) plus an ordered DELTA LOG of
    * upserts and tombstones (v1, v2); nothing is rewritten at commit
    * time, and every read reconciles "latest version ≤ AS OF wins, a
    * tombstone at the winning version deletes" on the fly. Reconciliation
    * is one union + one per-key struct-max (q107's lexicographic trick —
    * no window, no self-join): max(struct(version, payload)) picks the
    * winning version's whole row in the same hash aggregate, so the read
    * path costs one exchange at any log depth. Reading AS OF v1 and
    * AS OF v2 in one output proves log-replay monotonicity row-by-row:
    * v1 shows the first upsert wave with v1 tombstones gone, v2 layers
    * the second wave and its deletions on top. Deltas synthesized by key
    * modulus (q109/q110's discipline); output restricted to key%25=0 so
    * the hash check stays row-level but bounded. */
  val q116 = GraftQuery(
    "q116_mor_time_travel",
    "Merge-on-read: base + versioned delta log (upserts/tombstones), read AS OF v1 and v2",
    (s, dir) => {
      val base = table(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_mktsegment").as("segment"),
          dec2(col("c_acctbal")).as("balance"),
          lit(0L).as("version"), lit(false).as("tombstone"))
      val v1 = table(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 991 === 0)
        .select(col("c_custkey").as("key"),
          lit("MOR_V1").as("segment"), dec2(col("c_acctbal")).as("balance"),
          lit(1L).as("version"), (col("c_custkey") % 991 === 0).as("tombstone"))
      val v2 = table(s, dir, "customer")
        .filter(col("c_custkey") % 11 === 0 || col("c_custkey") % 13 === 0)
        .select(col("c_custkey").as("key"),
          lit("MOR_V2").as("segment"),
          (dec2(col("c_acctbal")) + 10).cast("decimal(14,2)").as("balance"),
          lit(2L).as("version"), (col("c_custkey") % 13 === 0).as("tombstone"))
      val log = base.unionByName(v1).unionByName(v2)
      def asOf(v: Long) = log.filter(col("version") <= v)
        .groupBy("key")
        .agg(max(struct(col("version"), col("tombstone"), col("segment"),
          col("balance"))).as("w"))
        .filter(!col("w.tombstone"))
        .select(lit(v).as("as_of"), col("key"),
          col("w.segment").as("segment"),
          (col("w.balance") * 100).cast("long").as("balance_cents"))
      asOf(1L).unionByName(asOf(2L))
        .filter(col("key") % 25 === 0)
        .orderBy("as_of", "key")
    },
    Some("""
      WITH log AS (
        SELECT c_custkey AS key, c_mktsegment AS segment,
               CAST(c_acctbal AS DECIMAL(14,2)) AS balance,
               0 AS version, FALSE AS tombstone
        FROM customer
        UNION ALL
        SELECT c_custkey, 'MOR_V1', CAST(c_acctbal AS DECIMAL(14,2)),
               1, c_custkey % 991 = 0
        FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 991 = 0
        UNION ALL
        SELECT c_custkey, 'MOR_V2',
               CAST(CAST(c_acctbal AS DECIMAL(14,2)) + 10 AS DECIMAL(14,2)),
               2, c_custkey % 13 = 0
        FROM customer WHERE c_custkey % 11 = 0 OR c_custkey % 13 = 0),
      reads AS (SELECT 1 AS as_of UNION ALL SELECT 2),
      winners AS (
        SELECT r.as_of, l.key,
               max_by(l.segment, l.version) AS segment,
               max_by(l.balance, l.version) AS balance,
               max_by(l.tombstone, l.version) AS tombstone
        FROM log l JOIN reads r ON l.version <= r.as_of
        GROUP BY r.as_of, l.key)
      SELECT CAST(as_of AS BIGINT) AS as_of, key, segment,
             CAST(balance * 100 AS BIGINT) AS balance_cents
      FROM winners
      WHERE NOT tombstone AND key % 25 = 0
      ORDER BY as_of, key"""))

  /** Foreign-key discovery by inclusion-dependency profiling (the
    * Metanome/data-catalog pass; the schema-inference step the
    * reference's crawlers stop short of — they type columns, this
    * proposes JOIN KEYS): for each candidate (child, parent) column
    * pair, measure containment = the fraction of distinct child values
    * present among parent values, via distinct-project + LEFT ANTI join
    * (both sides shrink to distincts before anything joins — the
    * profiling cost is distinct cardinality, not table size). Declared
    * FKs must score 10000 bp; deliberately wrong pairs document what
    * rejection looks like. Output is integer basis points (q77
    * discipline) so the verdict is exact. A real catalog would sweep all
    * type-compatible pairs; the candidate list is the operator's input,
    * the measurement is the operator. */
  val q117 = GraftQuery(
    "q117_fk_discovery",
    "Inclusion-dependency profiling: containment bp per candidate FK pair, anti-join on distincts",
    (s, dir) => {
      import s.implicits._
      val cands = Seq(
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("customer", "c_custkey", "supplier", "s_suppkey"),
        ("orders", "o_orderkey", "lineitem", "l_linenumber"))
      // ONE pass for all pairs: every (pair, distinct value) row rides a
      // single union, one anti-join scores every candidate at once — the
      // sweep shape a catalog profiler needs (12 separate count jobs was
      // the first cut; this is 6x fewer scans and one shuffle)
      def vals(t: String, c: String, tag: String) =
        table(s, dir, t).select(lit(tag).as("pair"), col(c).cast("long").as("v")).distinct()
      val children = cands.map { case (ct, cc, pt, pc) =>
        vals(ct, cc, s"$ct.$cc") }.reduce(_ unionByName _)
      val parents = cands.map { case (ct, cc, pt, pc) =>
        vals(pt, pc, s"$ct.$cc") }.reduce(_ unionByName _)
      val totals = children.groupBy("pair").agg(count(lit(1)).as("n_distinct_child"))
      val missing = children.join(parents, Seq("pair", "v"), "left_anti")
        .groupBy("pair").agg(count(lit(1)).as("n_missing"))
      val names = cands.map { case (ct, cc, pt, pc) =>
        (s"$ct.$cc", s"$pt.$pc") }.toDF("pair", "parent")
      totals.join(missing, Seq("pair"), "left_outer")
        .withColumn("n_missing", coalesce(col("n_missing"), lit(0L)))
        .join(broadcast(names), Seq("pair"))
        .select(col("pair").as("child"), col("parent"),
          col("n_distinct_child"), col("n_missing"),
          expr("(n_distinct_child - n_missing) * 10000 div greatest(n_distinct_child, 1)")
            .as("containment_bp"),
          (col("n_missing") === 0L).as("is_fk"))
        .orderBy("child", "parent")
    },
    Some("""
      WITH pairs AS (
        SELECT 'orders.o_custkey' AS child, 'customer.c_custkey' AS parent,
               (SELECT count(DISTINCT o_custkey) FROM orders) AS n_distinct_child,
               (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS v FROM orders) c
                WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.v)) AS n_missing
        UNION ALL
        SELECT 'lineitem.l_orderkey', 'orders.o_orderkey',
               (SELECT count(DISTINCT l_orderkey) FROM lineitem),
               (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem) c
                WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = c.v))
        UNION ALL
        SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
               (SELECT count(DISTINCT l_suppkey) FROM lineitem),
               (SELECT count(*) FROM (SELECT DISTINCT l_suppkey AS v FROM lineitem) c
                WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = c.v))
        UNION ALL
        SELECT 'customer.c_nationkey', 'nation.n_nationkey',
               (SELECT count(DISTINCT c_nationkey) FROM customer),
               (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS v FROM customer) c
                WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c.v))
        UNION ALL
        SELECT 'customer.c_custkey', 'supplier.s_suppkey',
               (SELECT count(DISTINCT c_custkey) FROM customer),
               (SELECT count(*) FROM (SELECT DISTINCT c_custkey AS v FROM customer) c
                WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = c.v))
        UNION ALL
        SELECT 'orders.o_orderkey', 'lineitem.l_linenumber',
               (SELECT count(DISTINCT o_orderkey) FROM orders),
               (SELECT count(*) FROM (SELECT DISTINCT o_orderkey AS v FROM orders) c
                WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_linenumber = c.v)))
      SELECT child, parent,
             CAST(n_distinct_child AS BIGINT) AS n_distinct_child,
             CAST(n_missing AS BIGINT) AS n_missing,
             (n_distinct_child - n_missing) * 10000
               // greatest(n_distinct_child, 1) AS containment_bp,
             n_missing = 0 AS is_fk
      FROM pairs
      ORDER BY child, parent"""))

  /** Incremental view maintenance UNDER RETRACTIONS (the Z-set / DBSP
    * model: a delta batch carries signed multiplicities, deletes included)
    * — q77 maintains a rollup from insert-only partials; real CDC feeds
    * also retract. Algebraic aggregates (count, sum) absorb signed deltas
    * directly: n' = n + Σz, s' = s + Σz·v — no base re-read. MAX is not
    * algebraic under deletion: a retraction may remove the current max,
    * so affected groups — exactly those with ≥1 delete — are recomputed
    * from the post-delta rows of THAT GROUP ONLY (semi-join-gated scan),
    * while delete-free groups take greatest(old max, max of inserts)
    * without touching the base. The `recomputed` column exposes which
    * path each group took. Deltas are synthesized from the events table
    * (delete every id≡3 mod 7, insert a +2.50-shifted copy of every
    * id≡5 mod 11); money stays DECIMAL-exact. At 100 TB the base agg is
    * the stored MV (built inline here because the fixture has no
    * persisted MV) and the recompute scan is the only base-table touch —
    * proportional to affected groups, not to the view. */
  val q120 = GraftQuery(
    "q120_ivm_retractions",
    "Maintain (count, sum, max) per (type, day) under a signed delta batch; max recomputed only in delete-affected groups",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        col("ts").cast("date").as("day"), dec2(col("value")).as("v"), col("event_id"))
      val base = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n0"), sum(col("v")).as("s0"), max(col("v")).as("m0"))
      val dels = ev.filter(col("event_id") % 7 === 3)
        .select(col("event_type"), col("day"), col("v"), lit(-1L).as("z"))
      val ins = ev.filter(col("event_id") % 11 === 5)
        .select(col("event_type"), col("day"),
          (col("v") + lit(BigDecimal("2.50"))).cast("decimal(14,2)").as("v"),
          lit(1L).as("z"))
      val delta = dels.unionAll(ins).groupBy("event_type", "day")
        .agg(sum(col("z")).as("dn"),
          sum(col("z") * col("v")).cast("decimal(14,2)").as("ds"),
          max(when(col("z") === 1, col("v"))).as("mIns"),
          max(when(col("z") === -1, 1L).otherwise(0L)).as("hasDel"))
      val merged = base.join(delta, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n1"),
          (coalesce(col("s0"), lit(BigDecimal(0)).cast("decimal(14,2)"))
            + coalesce(col("ds"), lit(BigDecimal(0)).cast("decimal(14,2)")))
            .cast("decimal(14,2)").as("s1"),
          col("m0"), col("mIns"),
          (coalesce(col("hasDel"), lit(0L)) === 1L).as("recomputed"))
        .filter(col("n1") > 0)
      // post-delta rows of delete-affected groups only: the base table is
      // touched once more, semi-gated by the (small) affected-key set
      val affected = merged.filter(col("recomputed"))
        .select("event_type", "day")
      val post = ev.filter(col("event_id") % 7 =!= 3)
        .select(col("event_type"), col("day"), col("v"))
        .unionAll(ins.select(col("event_type"), col("day"), col("v")))
        .join(broadcast(affected), Seq("event_type", "day"), "left_semi")
        .groupBy("event_type", "day").agg(max(col("v")).as("mRe"))
      merged.join(post, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), col("n1"),
          col("s1").cast("double").as("s1"),
          when(col("recomputed"), col("mRe"))
            .otherwise(greatest(coalesce(col("m0"), col("mIns")),
              coalesce(col("mIns"), col("m0"))))
            .cast("double").as("m1"),
          col("recomputed"))
        .orderBy("event_type", "day")
    },
    Some("""
      WITH ev AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                         CAST(value AS DECIMAL(14,2)) AS v, event_id
                  FROM events),
      post AS (SELECT event_type, day, v FROM ev WHERE event_id % 7 <> 3
               UNION ALL
               SELECT event_type, day, CAST(v + 2.50 AS DECIMAL(14,2))
               FROM ev WHERE event_id % 11 = 5),
      agg AS (SELECT event_type, day, count(*) AS n1,
                     CAST(sum(v) AS DOUBLE) AS s1,
                     CAST(max(v) AS DOUBLE) AS m1
              FROM post GROUP BY event_type, day),
      aff AS (SELECT DISTINCT event_type, day FROM ev WHERE event_id % 7 = 3)
      SELECT a.event_type, a.day, a.n1, a.s1, a.m1,
             aff.event_type IS NOT NULL AS recomputed
      FROM agg a LEFT JOIN aff USING (event_type, day)
      ORDER BY a.event_type, a.day"""))

  /** Log-compaction planning (the Kafka compacted-topic / changelog-GC
    * rule): an append-only keyed log retains, per key, only the LATEST
    * record — everything older is dead weight a compaction pass reclaims,
    * and tombstones (null values) die with their key's history once
    * applied. The planner answers, per fixed-size segment, "how much of
    * this segment is still live?" — the exact accounting a broker/
    * lakehouse uses to pick which segments to rewrite and which to drop
    * whole. Log synthesized from events (key = user_id, offset =
    * event_id, every 13th record a tombstone); liveness is one
    * row_number DESC window per key (latest wins — and a latest
    * TOMBSTONE kills its key entirely, so it is itself dead once
    * applied); segment rollup is a second bounded aggregation. Two
    * shuffles total (key, then segment), no joins, no per-record
    * comparisons against anything but the key's own history — the shape
    * a 100 TB changelog needs. */
  val q121 = GraftQuery(
    "q121_log_compaction",
    "Compacted-log planner: per-segment live/dead accounting, latest-per-key wins, tombstones die after applying",
    (s, dir) => {
      val log = events(s, dir).select(
        col("user_id").as("k"), col("event_id").as("off"),
        when(col("event_id") % 13 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("v"))
        .withColumn("seg", expr("off div 200"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(desc("off"))
      val marked = log
        .withColumn("rn", row_number().over(w))
        // live = the key's latest record, unless it is a tombstone:
        // applying a tombstone deletes the key, after which the marker
        // itself is reclaimable (Kafka's delete-retention semantics)
        .withColumn("live", col("rn") === 1 && col("v").isNotNull)
      marked.groupBy("seg")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("live"), 1L).otherwise(0L)).as("n_live"),
          sum(when(!col("live"), 1L).otherwise(0L)).as("n_dead"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_tombstones"))
        .withColumn("dead_bp", expr("n_dead * 10000 div n_records"))
        .withColumn("drop_whole", col("n_live") === 0)
        .orderBy("seg")
    },
    Some("""
      WITH log AS (
        SELECT user_id AS k, event_id AS off,
               CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v,
               event_id // 200 AS seg
        FROM events),
      m AS (SELECT k, off, v, seg,
                   row_number() OVER (PARTITION BY k ORDER BY off DESC) AS rn
            FROM log)
      SELECT seg, count(*) AS n_records,
             CAST(sum(CASE WHEN rn = 1 AND v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
             CAST(sum(CASE WHEN rn = 1 AND v IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dead,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones,
             CAST(sum(CASE WHEN rn = 1 AND v IS NOT NULL THEN 0 ELSE 1 END) * 10000
                  // count(*) AS BIGINT) AS dead_bp,
             sum(CASE WHEN rn = 1 AND v IS NOT NULL THEN 1 ELSE 0 END) = 0 AS drop_whole
      FROM m
      GROUP BY seg
      ORDER BY seg"""))

  /** Bucket PRUNING — q61 uses buckets to kill the join exchange; this is
    * the other half of the bucket contract: a point/IN predicate on the
    * bucket column reads ONLY the buckets the keys hash into
    * (SelectedBucketsCount in the scan), skipping the other files
    * entirely — the file-level analog of partition pruning, for keys too
    * numerous to partition by. 3 keys → ≤3 of 8 buckets touched,
    * PlanSpec-pinned; the aggregate itself is oracle-checked against the
    * unbucketed source. At 100 TB a needle lookup on a bucketed fact
    * touches 1/N of the files with zero shuffle — this is the layout
    * decision that makes it so. */
  val q124 = GraftQuery(
    "q124_bucket_pruning",
    "Point-lookup on a bucketed table scans ≤3 of 8 buckets (SelectedBucketsCount pruning)",
    (s, dir) => {
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val whPath = java.nio.file.Paths.get(
        if (wh.getScheme == null) wh.getPath else new java.net.URI(wh.getScheme, wh.getPath, null).getPath)
      s.sql("DROP TABLE IF EXISTS g_orders_bprune")
      deleteRecursively(whPath.resolve("g_orders_bprune"))
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .write.format("parquet").bucketBy(8, "o_custkey")
        .mode("overwrite").saveAsTable("g_orders_bprune")
      s.table("g_orders_bprune")
        .filter(col("o_custkey").isin(42L, 99L, 150L))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("spend"),
          max(col("o_orderkey")).as("last_order"))
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend,
             max(o_orderkey) AS last_order
      FROM orders
      WHERE o_custkey IN (42, 99, 150)
      GROUP BY o_custkey
      ORDER BY o_custkey"""))

  /** Functional-dependency discovery — the intra-table sibling of q117's
    * cross-table inclusion dependencies, the other half of schema
    * profiling: A → B holds iff no A value maps to two B values, i.e.
    * countDistinct(A,B) == countDistinct(A); the violation COUNT (lhs
    * values with >1 rhs) grades how badly a near-FD fails, which is what
    * a cleaning pipeline actually wants (a 2-violation FD is a data bug,
    * a 50%-violation "FD" is a modeling error). Candidates are a bounded
    * declared list mixing true FDs (key-determined), a planted near-FD,
    * and clear non-FDs; each candidate costs one two-level aggregation
    * of its own table — no joins, no quadratic anything. */
  val q125 = GraftQuery(
    "q125_fd_discovery",
    "Functional-dependency profiling: countDistinct(A) vs (A,B) + violating-lhs count per candidate",
    (s, dir) => {
      def audit(tbl: org.apache.spark.sql.DataFrame, a: String, b: String,
          name: String): org.apache.spark.sql.DataFrame = {
        val perA = tbl.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
        perA.agg(
          lit(name).as("candidate"),
          count(lit(1)).as("n_lhs"),
          sum(col("nb")).as("n_pairs"),
          sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating_lhs"))
          .withColumn("holds", col("n_violating_lhs") === 0)
      }
      val nation = table(s, dir, "nation")
      val customer = table(s, dir, "customer")
      val orders = table(s, dir, "orders")
      audit(nation, "n_nationkey", "n_regionkey", "nation.nationkey->regionkey")
        .unionAll(audit(nation, "n_regionkey", "n_nationkey", "nation.regionkey->nationkey"))
        .unionAll(audit(customer, "c_custkey", "c_mktsegment", "customer.custkey->mktsegment"))
        .unionAll(audit(customer, "c_nationkey", "c_mktsegment", "customer.nationkey->mktsegment"))
        .unionAll(audit(orders, "o_orderkey", "o_orderstatus", "orders.orderkey->status"))
        .unionAll(audit(orders, "o_custkey", "o_orderpriority", "orders.custkey->priority"))
        .orderBy("candidate")
    },
    Some("""
      WITH c1 AS (SELECT n_nationkey AS a, count(DISTINCT n_regionkey) AS nb
                  FROM nation GROUP BY a),
      c2 AS (SELECT n_regionkey AS a, count(DISTINCT n_nationkey) AS nb
             FROM nation GROUP BY a),
      c3 AS (SELECT c_custkey AS a, count(DISTINCT c_mktsegment) AS nb
             FROM customer GROUP BY a),
      c4 AS (SELECT c_nationkey AS a, count(DISTINCT c_mktsegment) AS nb
             FROM customer GROUP BY a),
      c5 AS (SELECT o_orderkey AS a, count(DISTINCT o_orderstatus) AS nb
             FROM orders GROUP BY a),
      c6 AS (SELECT o_custkey AS a, count(DISTINCT o_orderpriority) AS nb
             FROM orders GROUP BY a),
      u AS (
        SELECT 'nation.nationkey->regionkey' AS candidate, count(*) AS n_lhs,
               CAST(sum(nb) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs
        FROM c1
        UNION ALL SELECT 'nation.regionkey->nationkey', count(*),
               CAST(sum(nb) AS BIGINT), CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM c2
        UNION ALL SELECT 'customer.custkey->mktsegment', count(*),
               CAST(sum(nb) AS BIGINT), CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM c3
        UNION ALL SELECT 'customer.nationkey->mktsegment', count(*),
               CAST(sum(nb) AS BIGINT), CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM c4
        UNION ALL SELECT 'orders.orderkey->status', count(*),
               CAST(sum(nb) AS BIGINT), CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM c5
        UNION ALL SELECT 'orders.custkey->priority', count(*),
               CAST(sum(nb) AS BIGINT), CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM c6)
      SELECT candidate, n_lhs, n_pairs, n_violating_lhs,
             n_violating_lhs = 0 AS holds
      FROM u
      ORDER BY candidate"""))

  /** Pareto frontier (skyline) — "cheapest for its size class": parts not
    * DOMINATED by any other (price ≤, size ≥, one strict). The textbook
    * form is a quadratic NOT EXISTS self-join; the engine runs the
    * sort-based O(n log n) sweep instead — group to one row per price
    * point (max size), running max of strictly-cheaper groups via a
    * lagged window, a row survives iff no cheaper point reaches its size
    * and no equal-price row strictly exceeds it. The ORACLE replays the
    * quadratic NOT EXISTS, so equal hashes prove the sweep — q113/q119's
    * rewrite-proof discipline on the dominance problem (the multi-
    * objective optimization / feature-selection primitive). Money
    * compares in integer cents. */
  val q126 = GraftQuery(
    "q126_pareto_skyline",
    "Skyline query: price/size Pareto frontier via sorted sweep, oracle = quadratic NOT EXISTS",
    (s, dir) => {
      val p = table(s, dir, "part").select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price100"),
        col("p_size").cast("long").as("size"))
      val g = p.groupBy("price100").agg(max(col("size")).as("gmax"))
      val wg = org.apache.spark.sql.expressions.Window.orderBy("price100")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val g2 = g.withColumn("pmax", max(col("gmax")).over(wg))
      p.join(g2, Seq("price100"))
        .filter(!(coalesce(col("pmax"), lit(Long.MinValue)) >= col("size")
          || col("gmax") > col("size")))
        .select(col("p_partkey"), col("price100"), col("size"))
        .orderBy("p_partkey")
    },
    Some("""
      WITH p AS (SELECT p_partkey,
                        CAST(round(p_retailprice * 100) AS BIGINT) AS price100,
                        CAST(p_size AS BIGINT) AS size
                 FROM part)
      SELECT p_partkey, price100, size
      FROM p a
      WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price100 <= a.price100 AND b.size >= a.size
          AND (b.price100 < a.price100 OR b.size > a.size))
      ORDER BY p_partkey"""))

  /** Ratio-to-parent hierarchy report — the share-of-parent column every
    * drill-down dashboard carries (nation's share of its region, region's
    * share of the world): the FACT table aggregates ONCE at the leaf
    * (region, nation) grain; both parent totals are windows over that
    * tiny frame, so at 100 TB the fact scan is single-pass and the
    * share math runs on |nations| rows. Shares are integer basis points
    * over DECIMAL cents (cross-multiplied div — no float ratios), and
    * they provably sum to ≤10000 per parent with the remainder being
    * truncation, which is the auditable property a float share column
    * never has. */
  val q127 = GraftQuery(
    "q127_ratio_to_parent",
    "Drill-down shares: nation revenue as bp of region, region as bp of total — one leaf-grain pass",
    (s, dir) => {
      val leaf = table(s, dir, "orders")
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("cents"))
      val wr = org.apache.spark.sql.expressions.Window.partitionBy("r_name")
      val wt = org.apache.spark.sql.expressions.Window.partitionBy()
      leaf
        .withColumn("region_cents", sum(col("cents")).over(wr))
        .withColumn("total_cents", sum(col("cents")).over(wt))
        .select(col("r_name"), col("n_name"),
          (col("cents").cast("double") / 100).as("revenue"),
          expr("cents * 10000 div region_cents").as("share_of_region_bp"),
          expr("region_cents * 10000 div total_cents").as("region_share_bp"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      WITH leaf AS (
        SELECT r_name, n_name,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name),
      w AS (SELECT r_name, n_name, cents,
                   sum(cents) OVER (PARTITION BY r_name) AS region_cents,
                   sum(cents) OVER () AS total_cents
            FROM leaf)
      SELECT r_name, n_name, CAST(cents AS DOUBLE) / 100 AS revenue,
             CAST(cents * 10000 // region_cents AS BIGINT) AS share_of_region_bp,
             CAST(region_cents * 10000 // total_cents AS BIGINT) AS region_share_bp
      FROM w
      ORDER BY r_name, n_name"""))

  /** Snapshot expiry / orphan-file GC — the Iceberg `expire_snapshots` +
    * `remove_orphan_files` reachability computation, the maintenance op
    * that actually reclaims space in a lakehouse (q93/q106 re-layout live
    * data; q121 forgets changelog history; q136 decides which FILES no
    * retained snapshot can reach): each data file carries an
    * [added_snap, deleted_snap) visibility interval, the retention policy
    * keeps the last 3 snapshots plus a tagged one (snapshot 2 — the
    * audit-hold pattern), and a file is reclaimable iff its interval
    * contains NO retained snapshot — decided by a LEFT SEMI join against
    * the broadcast 4-row retained list, never an expression hard-coding
    * the policy (the policy table is data, exactly how a catalog stores
    * it). File metadata is simulated deterministically from orders (file =
    * o_orderkey mod 60 bucket; lifecycle from file id; size = exact cents
    * mass), so every row is oracle-checkable. Scale: the decision joins
    * the FILE MANIFEST (metadata, ~10⁶ rows at 100 TB) against a
    * broadcast snapshot list — the fact table is scanned once to size the
    * files, and reachability itself never touches data, which is why
    * expire_snapshots runs in seconds on petabyte tables. */
  val q136 = GraftQuery(
    "q136_snapshot_expiry",
    "Snapshot-retention GC: per-file reachability vs retained {2,7,8,9}, reclaimable bytes",
    (s, dir) => {
      val files = table(s, dir, "orders")
        .groupBy((col("o_orderkey") % 60).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("bytes"))
        .withColumn("added_snap", expr("file_id div 6"))
        .withColumn("deleted_snap",
          expr("least(added_snap + file_id % 5 + 1, CAST(10 AS BIGINT))"))
      val retained = s.range(0, 10).select(col("id").as("snap"))
        .filter(col("snap") === 2 || col("snap") >= 7)
      val live = files.join(broadcast(retained),
        col("snap") >= col("added_snap") && col("snap") < col("deleted_snap"),
        "left_semi")
      val dead = files.join(broadcast(retained),
        col("snap") >= col("added_snap") && col("snap") < col("deleted_snap"),
        "left_anti")
      live.withColumn("action", lit("keep"))
        .unionByName(dead.withColumn("action", lit("expire")))
        .select(col("file_id"), col("added_snap"), col("deleted_snap"),
          col("n_rows"), col("bytes"), col("action"))
        .orderBy("file_id")
    },
    Some("""
      WITH files AS (
        SELECT o_orderkey % 60 AS file_id,
               count(*) AS n_rows,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS bytes,
               (o_orderkey % 60) // 6 AS added_snap,
               least((o_orderkey % 60) // 6 + (o_orderkey % 60) % 5 + 1, 10) AS deleted_snap
        FROM orders GROUP BY o_orderkey % 60),
      retained AS (
        SELECT unnest([2, 7, 8, 9]) AS snap)
      SELECT f.file_id, f.added_snap, f.deleted_snap, f.n_rows,
             CAST(f.bytes AS BIGINT) AS bytes,
             CASE WHEN EXISTS (SELECT 1 FROM retained r
                               WHERE r.snap >= f.added_snap AND r.snap < f.deleted_snap)
                  THEN 'keep' ELSE 'expire' END AS action
      FROM files f
      ORDER BY f.file_id"""))

  /** Benford first-digit audit — the fraud/synthetic-data screen auditors
    * run on any naturally-scaled money column: first significant digits of
    * genuine multi-order-of-magnitude amounts follow log10(1+1/d), and a
    * flat or spiked digit profile flags fabricated values. The digit is
    * extracted by INTEGER string arithmetic on exact cents (first char of
    * the BIGINT's decimal rendering — never float log10, whose libm
    * rounding is engine-specific), expected shares are the fixed Benford
    * basis-point table carried as a broadcast 9-row literal (3010, 1761,
    * … 458 — constants, not runtime transcendentals), and the deviation
    * is signed integer bp. One scan, one 9-row aggregate; the conclusion
    * column (|dev| > 300 bp) gives the audit verdict per digit. Fixture
    * prices are uniform-ish, so the audit FLAGS them — which is the test:
    * a Benford screen that passes synthetic data would be broken. */
  val q140 = GraftQuery(
    "q140_benford_audit",
    "First-digit Benford profile of order totals: observed vs expected bp, per-digit verdict",
    (s, dir) => {
      val expected = s.createDataFrame(Seq(
        (1L, 3010L), (2L, 1761L), (3L, 1249L), (4L, 969L), (5L, 792L),
        (6L, 669L), (7L, 580L), (8L, 512L), (9L, 458L)))
        .toDF("digit", "expected_bp")
      val obs = table(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .withColumn("digit", substring(col("c").cast("string"), 1, 1).cast("long"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"))
        .withColumn("total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("observed_bp", expr("n * 10000 div total"))
      obs.join(broadcast(expected), Seq("digit"))
        .withColumn("dev_bp", col("observed_bp") - col("expected_bp"))
        .withColumn("flagged", abs(col("dev_bp")) > 300)
        .select(col("digit"), col("n"), col("observed_bp"),
          col("expected_bp"), col("dev_bp"), col("flagged"))
        .orderBy("digit")
    },
    Some("""
      WITH e(digit, expected_bp) AS (VALUES
        (1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
        (6, 669), (7, 580), (8, 512), (9, 458)),
      obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit,
               count(*) AS n
        FROM orders GROUP BY 1),
      t AS (SELECT digit, n, n * 10000 // sum(n) OVER () AS observed_bp FROM obs)
      SELECT t.digit, t.n, CAST(t.observed_bp AS BIGINT) AS observed_bp,
             CAST(e.expected_bp AS BIGINT) AS expected_bp,
             CAST(t.observed_bp - e.expected_bp AS BIGINT) AS dev_bp,
             abs(t.observed_bp - e.expected_bp) > 300 AS flagged
      FROM t JOIN e ON e.digit = t.digit
      ORDER BY t.digit"""))

  /** BITEMPORAL as-of read (Snodgrass) — the two-axis time model q59/q105's
    * valid-time-only SCD2 cannot answer: "what did we BELIEVE at tx T the
    * balance was AT valid time V" — the question every audit, restatement,
    * and ML-feature-backfill pipeline asks (training a model 'as known
    * then' requires tx-time truncation or it leaks corrections from the
    * future). Records carry (valid_from, tx_from); the read resolves the
    * two axes in ORDER: first keep, per (key, valid_from), the latest
    * correction with tx_from ≤ T (transaction axis — what was known),
    * then keep per key the latest valid_from ≤ V (valid axis — what was
    * current). Both resolutions are max-struct hash aggregates (q116's
    * trick — no window sort), so the whole 4-combo read is two shuffles
    * keyed by (key, valid_from)/(key). Versions simulated deterministically
    * from customer: a valid-time change (k%7: +100 at valid 5, recorded
    * tx 1) and a RETROACTIVE correction (k%13: −50 on the valid-0 record,
    * recorded tx 2) — at tx 1 reads must NOT see the correction; at tx 2
    * they must, even for valid times long past. */
  val q142 = GraftQuery(
    "q142_bitemporal_asof",
    "Bitemporal (tx-time × valid-time) as-of reads over versioned balances, 4 combos",
    (s, dir) => {
      val base = table(s, dir, "customer")
        .select(col("c_custkey").as("key"), dec2(col("c_acctbal")).as("balance"),
          lit(0L).as("valid_from"), lit(0L).as("tx_from"))
      val change = table(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("key"),
          (dec2(col("c_acctbal")) + 100).cast("decimal(14,2)").as("balance"),
          lit(5L).as("valid_from"), lit(1L).as("tx_from"))
      val correction = table(s, dir, "customer")
        .filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey").as("key"),
          (dec2(col("c_acctbal")) - 50).cast("decimal(14,2)").as("balance"),
          lit(0L).as("valid_from"), lit(2L).as("tx_from"))
      val log = base.unionByName(change).unionByName(correction)
      def read(txT: Long, validV: Long) = log
        .filter(col("tx_from") <= txT)
        .groupBy("key", "valid_from")
        .agg(max(struct(col("tx_from"), col("balance"))).as("k"))   // known at T
        .filter(col("valid_from") <= validV)
        .groupBy("key")
        .agg(max(struct(col("valid_from"), col("k.balance").as("balance"))).as("c")) // current at V
        .select(lit(txT).as("as_of_tx"), lit(validV).as("as_of_valid"),
          col("key"), col("c.balance").as("balance"))
      read(1L, 3L).unionByName(read(1L, 6L))
        .unionByName(read(2L, 3L)).unionByName(read(2L, 6L))
        .filter(col("key") % 25 === 0)
        .select(col("as_of_tx"), col("as_of_valid"), col("key"),
          col("balance").cast("double").as("balance"))
        .orderBy("as_of_tx", "as_of_valid", "key")
    },
    Some("""
      WITH log AS (
        SELECT c_custkey AS key, CAST(c_acctbal AS DECIMAL(14,2)) AS balance,
               0 AS valid_from, 0 AS tx_from
        FROM customer
        UNION ALL
        SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(14,2)) + 100 AS DECIMAL(14,2)), 5, 1
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(14,2)) - 50 AS DECIMAL(14,2)), 0, 2
        FROM customer WHERE c_custkey % 13 = 0),
      combos(as_of_tx, as_of_valid) AS (VALUES (1, 3), (1, 6), (2, 3), (2, 6)),
      known AS (
        SELECT co.as_of_tx, co.as_of_valid, l.key, l.valid_from, l.balance,
               row_number() OVER (PARTITION BY co.as_of_tx, co.as_of_valid, l.key, l.valid_from
                                  ORDER BY l.tx_from DESC) AS rc
        FROM log l JOIN combos co ON l.tx_from <= co.as_of_tx),
      current AS (
        SELECT as_of_tx, as_of_valid, key, balance,
               row_number() OVER (PARTITION BY as_of_tx, as_of_valid, key
                                  ORDER BY valid_from DESC) AS rv
        FROM known WHERE rc = 1 AND valid_from <= as_of_valid)
      SELECT CAST(as_of_tx AS BIGINT) AS as_of_tx,
             CAST(as_of_valid AS BIGINT) AS as_of_valid,
             key, CAST(balance AS DOUBLE) AS balance
      FROM current
      WHERE rv = 1 AND key % 25 = 0
      ORDER BY as_of_tx, as_of_valid, key"""))

  /** Selectivity-estimation AUDIT — the optimizer-statistics quality
    * report behind every cost-based join order and scan decision: build a
    * 10-bucket equi-depth histogram on o_totalprice (bucket boundaries =
    * exact deciles via one rank walk — the ANALYZE artifact itself,
    * cardinality/10 per bucket by construction), then for a battery of
    * range predicates compare the histogram's ESTIMATE (full buckets +
    * linear interpolation inside the straddled bucket, exact integer
    * cross-multiplication on cent boundaries) with the TRUE count, error
    * in basis points of the table. This is how an engine learns which of
    * its stats lie before a 100 TB join order goes wrong; the histogram
    * is a 10-row broadcast artifact, the truth pass is one conditional
    * aggregate over a single scan — the audit never rescans per
    * predicate. The boundary walk globally orders the single projected
    * column — an ANALYZE-time cost paid once per stats refresh, not a
    * query path; at 100 TB production ANALYZE samples first, or derives
    * exact percentiles from q88's bounded counts-of-counts histogram. */
  val q162 = GraftQuery(
    "q162_selectivity_audit",
    "Equi-depth histogram selectivity estimates vs true counts for a predicate battery, error in bp",
    (s, dir) => {
      import s.implicits._
      val cents = table(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      val w = Window.orderBy("c")
      val n1 = cents.agg(count(lit(1)).as("n"))
      // exact decile boundaries: value at rank ceil(k*n/10), k=1..10
      val bounds = cents
        .withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(n1))
        .filter(expr(
          "rn IN ((1*n+9) div 10, (2*n+9) div 10, (3*n+9) div 10, (4*n+9) div 10," +
          " (5*n+9) div 10, (6*n+9) div 10, (7*n+9) div 10, (8*n+9) div 10," +
          " (9*n+9) div 10, n)"))
        .withColumn("bucket", expr("(rn * 10 + n - 1) div n"))
        .groupBy("bucket").agg(max("c").as("hi"), max("rn").as("cum"))
      val preds = Seq(5000000L, 10000000L, 20000000L, 35000000L, 45000000L)
        .toDF("threshold") // predicate: c <= threshold
      // estimate from the histogram: full buckets below + interpolation in
      // the straddled bucket (lo derived from the previous bucket's hi)
      val wb = Window.orderBy("bucket")
      val hist = bounds
        .withColumn("lo", coalesce(lag("hi", 1).over(wb), lit(0L)))
        .withColumn("cnt", col("cum") - coalesce(lag("cum", 1).over(wb), lit(0L)))
      val est = broadcast(preds).crossJoin(broadcast(hist))
        .withColumn("contrib", expr(
          """CASE WHEN threshold >= hi THEN cnt
                  WHEN threshold < lo THEN 0L
                  ELSE cnt * (threshold - lo) div greatest(hi - lo, 1L) END"""))
        .groupBy("threshold").agg(sum("contrib").as("est_rows"))
      val truth = cents.crossJoin(broadcast(preds))
        .filter(col("c") <= col("threshold"))
        .groupBy("threshold").agg(count(lit(1)).as("true_rows"))
      est.join(truth, Seq("threshold"), "left")
        .crossJoin(broadcast(n1))
        .select(col("threshold"),
          col("est_rows"),
          coalesce(col("true_rows"), lit(0L)).as("true_rows"),
          expr("abs(est_rows - coalesce(true_rows, 0L)) * 10000 div n")
            .as("err_bp"))
        .orderBy("threshold")
    },
    Some("""
      WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
      n1 AS (SELECT count(*) AS n FROM cents),
      ranked AS (
        SELECT c, row_number() OVER (ORDER BY c) AS rn FROM cents),
      bounds AS (
        SELECT CAST((rn * 10 + n - 1) // n AS BIGINT) AS bucket,
               max(c) AS hi, max(rn) AS cum
        FROM ranked, n1
        WHERE rn IN ((1*n+9) // 10, (2*n+9) // 10, (3*n+9) // 10,
                     (4*n+9) // 10, (5*n+9) // 10, (6*n+9) // 10,
                     (7*n+9) // 10, (8*n+9) // 10, (9*n+9) // 10, n)
        GROUP BY bucket),
      hist AS (
        SELECT bucket,
               coalesce(lag(hi) OVER (ORDER BY bucket), 0) AS lo, hi,
               cum - coalesce(lag(cum) OVER (ORDER BY bucket), 0) AS cnt
        FROM bounds),
      preds(threshold) AS (VALUES (5000000), (10000000), (20000000),
                                  (35000000), (45000000)),
      est AS (
        SELECT p.threshold,
               CAST(sum(CASE WHEN p.threshold >= h.hi THEN h.cnt
                             WHEN p.threshold < h.lo THEN 0
                             ELSE h.cnt * (p.threshold - h.lo)
                                  // greatest(h.hi - h.lo, 1) END)
                 AS BIGINT) AS est_rows
        FROM preds p CROSS JOIN hist h
        GROUP BY p.threshold),
      truth AS (
        SELECT p.threshold, count(*) AS true_rows
        FROM preds p JOIN cents c ON c.c <= p.threshold
        GROUP BY p.threshold)
      SELECT e.threshold, e.est_rows,
             coalesce(t.true_rows, 0) AS true_rows,
             CAST(abs(e.est_rows - coalesce(t.true_rows, 0)) * 10000 // n1.n
               AS BIGINT) AS err_bp
      FROM est e LEFT JOIN truth t ON e.threshold = t.threshold
      CROSS JOIN n1
      ORDER BY e.threshold"""))

  /** POSITIONAL deletes (Iceberg v2 / Delta deletion-vector semantics) —
    * the OTHER merge-on-read mechanism, orthogonal to q116's key-based
    * equality deletes: a delete names (file, row-position), not a key, so
    * it can kill one physical row without knowing its content — what
    * compactionless DELETE and GDPR row erasure actually write. The read
    * path is an ANTI JOIN of the base rows against the DV table on the
    * composite (file_id, pos) — co-partitioned by file, so each file's
    * DV meets its rows in one exchange (in a real table the DV rides as a
    * roaring bitmap per file; the join IS the semantics). Files are
    * deterministic orderkey ranges, positions a rank within the file,
    * the DV a fixed arithmetic predicate — both engines derive identical
    * layout, every surviving row hash-checked through the per-file audit
    * (live/deleted counts + live revenue). */
  val q164 = GraftQuery(
    "q164_positional_deletes",
    "Deletion-vector merge-on-read: (file, pos) anti join, per-file live/deleted audit",
    (s, dir) => {
      // (orderkey, linenumber) is NOT unique in the fixture — cents joins
      // the ordering so any remaining ties are rows identical in every
      // consumed column, hence interchangeable under deletion
      val wPos = Window.partitionBy("file_id")
        .orderBy("l_orderkey", "l_linenumber", "cents")
      val base = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .withColumn("file_id", expr("l_orderkey div 1000L"))
        .withColumn("pos", row_number().over(wPos).cast("long"))
      val dv = base.select("file_id", "pos")
        .filter(expr("(file_id * 31 + pos) % 7 = 0"))
      val live = base.join(dv, Seq("file_id", "pos"), "left_anti")
      val perFileBase = base.groupBy("file_id")
        .agg(count(lit(1)).as("n_base"))
      live.groupBy("file_id")
        .agg(count(lit(1)).as("n_live"),
          sum("cents").as("live_cents"))
        .join(perFileBase, Seq("file_id"))
        .select(col("file_id"), col("n_base"),
          (col("n_base") - col("n_live")).as("n_deleted"),
          col("n_live"), col("live_cents"))
        .orderBy("file_id")
    },
    Some("""
      WITH base AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_orderkey // 1000 AS file_id,
               row_number() OVER (PARTITION BY l_orderkey // 1000
                                  ORDER BY l_orderkey, l_linenumber,
                                           CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS pos
        FROM lineitem),
      dv AS (
        SELECT file_id, pos FROM base
        WHERE (file_id * 31 + pos) % 7 = 0),
      live AS (
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM dv d
                          WHERE d.file_id = b.file_id AND d.pos = b.pos)),
      pf AS (SELECT file_id, count(*) AS n_base FROM base GROUP BY file_id)
      SELECT l.file_id, pf.n_base,
             pf.n_base - count(*) AS n_deleted,
             count(*) AS n_live,
             CAST(sum(l.cents) AS BIGINT) AS live_cents
      FROM live l JOIN pf ON l.file_id = pf.file_id
      GROUP BY l.file_id, pf.n_base
      ORDER BY l.file_id"""))

  /** CANDIDATE-KEY discovery — the uniqueness profiling that q125 (FDs)
    * and q117 (FKs) bracket but neither answers: which column set can
    * serve as a primary key? Single columns and pairs from the candidate
    * lattice are tested in ONE aggregate pass (every distinct count rides
    * the same scan; Spark plans the multi-distinct via Expand — the cost
    * is one widened exchange, not one scan per candidate), and MINIMALITY
    * is decided from the same result row: a pair is a candidate key only
    * if it is unique and neither member is unique alone (downward closure,
    * the same pruning logic A-priori uses in q160). The fixture's orders
    * table makes this non-trivial: o_orderkey IS unique, the pairs are
    * unique-or-not by data, not by schema. */
  val q165 = GraftQuery(
    "q165_candidate_keys",
    "Candidate-key discovery over the column lattice: one multi-distinct pass + minimality",
    (s, dir) => {
      val a = table(s, dir, "orders").agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("c_ok"),
        countDistinct(col("o_custkey")).as("c_ck"),
        countDistinct(col("o_orderdate")).as("c_od"),
        countDistinct(col("o_custkey"), col("o_orderdate")).as("c_ck_od"),
        countDistinct(col("o_custkey"), col("o_totalprice")).as("c_ck_tp"),
        countDistinct(col("o_orderdate"), col("o_totalprice")).as("c_od_tp"))
        // one-row result, eagerly pinned: the six candidate projections
        // below must not each re-run the multi-distinct scan
        .localCheckpoint(true)
      def row(name: String, cnt: String, minimal: String) =
        a.select(lit(name).as("candidate"), col("n"),
          col(cnt).as("distinct_cnt"),
          (col(cnt) === col("n")).cast("long").as("is_unique"),
          expr(minimal).cast("long").as("is_minimal_key"))
      row("o_custkey", "c_ck", "c_ck = n")
        .unionByName(row("o_custkey,o_orderdate", "c_ck_od",
          "c_ck_od = n AND c_ck <> n AND c_od <> n"))
        .unionByName(row("o_custkey,o_totalprice", "c_ck_tp",
          "c_ck_tp = n AND c_ck <> n"))
        .unionByName(row("o_orderdate", "c_od", "c_od = n"))
        .unionByName(row("o_orderdate,o_totalprice", "c_od_tp",
          "c_od_tp = n AND c_od <> n"))
        .unionByName(row("o_orderkey", "c_ok", "c_ok = n"))
        .orderBy("candidate")
    },
    Some("""
      WITH a AS (
        SELECT count(*) AS n,
               count(DISTINCT o_orderkey) AS c_ok,
               count(DISTINCT o_custkey) AS c_ck,
               count(DISTINCT o_orderdate) AS c_od,
               count(DISTINCT (o_custkey, o_orderdate)) AS c_ck_od,
               count(DISTINCT (o_custkey, o_totalprice)) AS c_ck_tp,
               count(DISTINCT (o_orderdate, o_totalprice)) AS c_od_tp
        FROM orders)
      SELECT candidate, n, distinct_cnt, is_unique, is_minimal_key
      FROM (
        SELECT 'o_custkey' AS candidate, n, c_ck AS distinct_cnt,
               CAST(c_ck = n AS BIGINT) AS is_unique,
               CAST(c_ck = n AS BIGINT) AS is_minimal_key FROM a
        UNION ALL
        SELECT 'o_custkey,o_orderdate', n, c_ck_od,
               CAST(c_ck_od = n AS BIGINT),
               CAST(c_ck_od = n AND c_ck <> n AND c_od <> n AS BIGINT) FROM a
        UNION ALL
        SELECT 'o_custkey,o_totalprice', n, c_ck_tp,
               CAST(c_ck_tp = n AS BIGINT),
               CAST(c_ck_tp = n AND c_ck <> n AS BIGINT) FROM a
        UNION ALL
        SELECT 'o_orderdate', n, c_od,
               CAST(c_od = n AS BIGINT), CAST(c_od = n AS BIGINT) FROM a
        UNION ALL
        SELECT 'o_orderdate,o_totalprice', n, c_od_tp,
               CAST(c_od_tp = n AS BIGINT),
               CAST(c_od_tp = n AND c_od <> n AS BIGINT) FROM a
        UNION ALL
        SELECT 'o_orderkey', n, c_ok,
               CAST(c_ok = n AS BIGINT), CAST(c_ok = n AS BIGINT) FROM a)
      ORDER BY candidate"""))

  /** Dictionary-encoding PLANNER — the storage-format decision behind
    * every columnar writer (parquet dictionary pages, ORC dictionaries):
    * for each candidate string column, would dictionary encoding pay?
    * Exact integer accounting per column from one scan each: raw bytes =
    * Σ octet lengths, dictionary bytes = Σ distinct-value lengths, code
    * width = ⌈log₂ NDV⌉ bits (computed as bin-length, t36's trick — no
    * float log), encoded bytes = ⌈n·bits/8⌉ + dictionary, and the verdict
    * in saved basis points. This is q93/q121's planning discipline turned
    * on ENCODING rather than file layout — the report that explains why a
    * 25-value column costs 5 bits/row while a near-unique one should stay
    * plain. Columns stack into one frame; each column's NDV/length pass
    * is a projection-pruned aggregate. */
  val q168 = GraftQuery(
    "q168_dictionary_encoding",
    "Dictionary-encoding cost plan per column: exact NDV bits, raw vs encoded bytes, saved bp",
    (s, dir) => {
      def colStats(tbl: String, c: String) = {
        val t = table(s, dir, tbl).select(col(c).cast("string").as("v"))
        val raw = t.agg(count(lit(1)).as("n"),
          sum(length(col("v").cast("binary"))).as("raw_bytes"))
        val dict = t.distinct().agg(count(lit(1)).as("ndv"),
          sum(length(col("v").cast("binary"))).as("dict_bytes"))
        raw.crossJoin(dict).select(lit(s"$tbl.$c").as("column"),
          col("n"), col("ndv"), col("raw_bytes"), col("dict_bytes"))
      }
      colStats("orders", "o_orderstatus")
        .unionByName(colStats("orders", "o_orderpriority"))
        .unionByName(colStats("lineitem", "l_returnflag"))
        .unionByName(colStats("part", "p_brand"))
        .unionByName(colStats("part", "p_name"))
        .withColumn("code_bits",
          expr("CAST(length(bin(greatest(ndv - 1, 1L))) AS BIGINT)"))
        .withColumn("encoded_bytes",
          expr("(n * code_bits + 7) div 8 + dict_bytes"))
        .withColumn("saved_bp", expr(
          "greatest(raw_bytes - encoded_bytes, 0L) * 10000 div raw_bytes"))
        .select("column", "n", "ndv", "raw_bytes", "dict_bytes",
          "code_bits", "encoded_bytes", "saved_bp")
        .orderBy("column")
    },
    Some("""
      WITH stats AS (
        SELECT 'lineitem.l_returnflag' AS "column", count(*) AS n,
               count(DISTINCT l_returnflag) AS ndv,
               CAST(sum(octet_length(encode(CAST(l_returnflag AS VARCHAR)))) AS BIGINT) AS raw_bytes,
               (SELECT CAST(sum(octet_length(encode(v))) AS BIGINT)
                FROM (SELECT DISTINCT CAST(l_returnflag AS VARCHAR) AS v FROM lineitem)) AS dict_bytes
        FROM lineitem
        UNION ALL
        SELECT 'orders.o_orderpriority', count(*),
               count(DISTINCT o_orderpriority),
               CAST(sum(octet_length(encode(CAST(o_orderpriority AS VARCHAR)))) AS BIGINT),
               (SELECT CAST(sum(octet_length(encode(v))) AS BIGINT)
                FROM (SELECT DISTINCT CAST(o_orderpriority AS VARCHAR) AS v FROM orders))
        FROM orders
        UNION ALL
        SELECT 'orders.o_orderstatus', count(*),
               count(DISTINCT o_orderstatus),
               CAST(sum(octet_length(encode(CAST(o_orderstatus AS VARCHAR)))) AS BIGINT),
               (SELECT CAST(sum(octet_length(encode(v))) AS BIGINT)
                FROM (SELECT DISTINCT CAST(o_orderstatus AS VARCHAR) AS v FROM orders))
        FROM orders
        UNION ALL
        SELECT 'part.p_brand', count(*),
               count(DISTINCT p_brand),
               CAST(sum(octet_length(encode(CAST(p_brand AS VARCHAR)))) AS BIGINT),
               (SELECT CAST(sum(octet_length(encode(v))) AS BIGINT)
                FROM (SELECT DISTINCT CAST(p_brand AS VARCHAR) AS v FROM part))
        FROM part
        UNION ALL
        SELECT 'part.p_name', count(*),
               count(DISTINCT p_name),
               CAST(sum(octet_length(encode(CAST(p_name AS VARCHAR)))) AS BIGINT),
               (SELECT CAST(sum(octet_length(encode(v))) AS BIGINT)
                FROM (SELECT DISTINCT CAST(p_name AS VARCHAR) AS v FROM part))
        FROM part)
      SELECT "column", n, ndv, raw_bytes, dict_bytes,
             CAST(length(bin(greatest(ndv - 1, 1))) AS BIGINT) AS code_bits,
             (n * CAST(length(bin(greatest(ndv - 1, 1))) AS BIGINT) + 7) // 8
               + dict_bytes AS encoded_bytes,
             greatest(raw_bytes - ((n * CAST(length(bin(greatest(ndv - 1, 1))) AS BIGINT) + 7) // 8 + dict_bytes), 0)
               * 10000 // raw_bytes AS saved_bp
      FROM stats
      ORDER BY "column""""))

  /** CONFORMED-DIMENSION build with deterministic surrogate keys — the
    * Kimball discipline, and a Spark-specific trap pinned: the natural
    * keys observed by two independent fact pipelines (customer-side and
    * supplier-side nation usage) union into ONE dimension, each row
    * carrying a surrogate id and a source bitmap (bit 0 = customers use
    * it, bit 1 = suppliers do). The surrogate MUST be a dense_rank over
    * the natural key — `monotonically_increasing_id()` (the tempting
    * one-liner) is partition-layout-dependent: ids change across AQE
    * re-plans, retries, and cluster sizes, silently corrupting every fact
    * that joined an earlier run. dense_rank is replayable, append-stable
    * for sorted domains, and what makes the oracle (and any incremental
    * re-run) reproduce ids bit-for-bit. Usage counts ride the same pass. */
  val q172 = GraftQuery(
    "q172_conformed_dimension",
    "Conformed nation dimension from two fact sides: dense_rank surrogates + source bitmap",
    (s, dir) => {
      val custSide = table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"))
      val suppSide = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_suppliers"))
      custSide.join(suppSide, Seq("nation"), "full_outer")
        .select(col("nation"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .withColumn("surrogate_id",
          dense_rank().over(Window.orderBy("nation")).cast("long"))
        .withColumn("source_bits", expr(
          """CASE WHEN n_customers > 0 THEN 1L ELSE 0L END
             + CASE WHEN n_suppliers > 0 THEN 2L ELSE 0L END"""))
        .select("surrogate_id", "nation", "n_customers", "n_suppliers",
          "source_bits")
        .orderBy("surrogate_id")
    },
    Some("""
      WITH cs AS (
        SELECT n.n_name AS nation, count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name),
      ss AS (
        SELECT n.n_name AS nation, count(*) AS n_suppliers
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name),
      merged AS (
        SELECT coalesce(cs.nation, ss.nation) AS nation,
               coalesce(cs.n_customers, 0) AS n_customers,
               coalesce(ss.n_suppliers, 0) AS n_suppliers
        FROM cs FULL OUTER JOIN ss ON cs.nation = ss.nation)
      SELECT CAST(dense_rank() OVER (ORDER BY nation) AS BIGINT)
               AS surrogate_id,
             nation,
             CAST(n_customers AS BIGINT) AS n_customers,
             CAST(n_suppliers AS BIGINT) AS n_suppliers,
             CAST(CASE WHEN n_customers > 0 THEN 1 ELSE 0 END
               + CASE WHEN n_suppliers > 0 THEN 2 ELSE 0 END AS BIGINT)
               AS source_bits
      FROM merged
      ORDER BY surrogate_id"""))

  /** PARTITION-INCREMENTAL refresh — the dbt-incremental / Airflow-backfill
    * pattern that sits between q77's mergeable-partial IVM and a blind full
    * rebuild: a delta batch names which PARTITIONS it touches (affected
    * months, a tiny distinct), the refresh recomputes ONLY those months
    * from base+delta while every untouched month's rollup row is carried
    * forward verbatim — correct for ANY aggregate, including non-mergeable
    * ones, because touched partitions recompute rather than merge (the
    * reason this pattern survives where q77's algebra doesn't). The
    * recompute branch's scan is month-gated (at 100 TB that gate IS the
    * partition pruning; PlanSpec pins the pushed filter), and the oracle
    * is the full recompute over base∪delta — equal hashes prove the
    * carried-forward/recomputed stitching exact. Delta = the o_orderkey %
    * 10 = 3 slice, arriving "late"; base = the rest. */
  val q173 = GraftQuery(
    "q173_incremental_refresh",
    "Partition-incremental rollup refresh: recompute touched months only == full recompute",
    (s, dir) => {
      val orders = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          dec2(col("o_totalprice")).as("price"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      val base = orders.filter(pmod(col("o_orderkey"), lit(10L)) =!= 3L)
      val delta = orders.filter(pmod(col("o_orderkey"), lit(10L)) === 3L)
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          sum("price").cast("decimal(24,2)").as("revenue"),
          countDistinct("o_custkey").as("n_customers")) // NON-mergeable
      val priorState = rollup(base)
      val affected = delta.select("month").distinct()
      val recomputed = rollup(
        base.unionByName(delta)
          .join(broadcast(affected), Seq("month"), "left_semi"))
      val carried = priorState
        .join(broadcast(affected), Seq("month"), "left_anti")
      carried.unionByName(recomputed)
        .select(col("month"), col("n_orders"),
          col("revenue").cast("double").as("revenue"), col("n_customers"))
        .orderBy("month")
    },
    Some("""
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS revenue,
             count(DISTINCT o_custkey) AS n_customers
      FROM orders
      GROUP BY month
      ORDER BY month"""))

  /** LATE-ARRIVING DIMENSION reconciliation — the Kimball "inferred
    * member" pattern: facts land before their dimension row does, get
    * parked under a placeholder member (nationkey −1 here), and when the
    * late dimension batch arrives the attribution MOVES. This entry
    * audits that move: with customers whose key ≡ 0 (mod 97) playing the
    * not-yet-arrived cohort, it reports per nation the order count and
    * revenue BEFORE (late keys under −1) and AFTER the arrival, plus the
    * deltas — the −1 row drains to zero, each real nation gains exactly
    * its late customers' facts, and Σdelta = 0 by construction. Scale
    * shape: ONE orders scan and ONE broadcast dim join compute BOTH
    * states — the before/after keys are two CASE projections of the same
    * enriched row, rolled up once into the (nk_before, nk_after) cell
    * frame (≤ |nations|+1 squared, tiny); both reports then derive from
    * the cells by exploding each cell to its two sides — the fact is
    * never scanned twice, which is the whole point at 100 TB where the
    * naive audit runs the enrichment pipeline once per dim snapshot. */
  val q178 = GraftQuery(
    "q178_late_arriving_dim",
    "Late-arriving dimension audit: per-nation facts before/after the late batch lands",
    (s, dir) => {
      val dim = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk"))
      val cells = table(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(
          expr("CASE WHEN o_custkey % 97 = 0 THEN -1 ELSE nk END")
            .as("nk_before"),
          col("nk").as("nk_after"), col("cents"))
        .groupBy("nk_before", "nk_after")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      cells
        .select(explode(expr(
          """array(struct('b' AS side, nk_before AS k, n, cents),
                   struct('a' AS side, nk_after  AS k, n, cents))"""))
          .as("e"))
        .select(col("e.side").as("side"), col("e.k").as("nationkey"),
          col("e.n").as("n"), col("e.cents").as("cents"))
        .groupBy("nationkey")
        .agg(
          coalesce(sum(when(col("side") === "b", col("n"))), lit(0L))
            .as("n_before"),
          coalesce(sum(when(col("side") === "b", col("cents"))), lit(0L))
            .as("cents_before"),
          coalesce(sum(when(col("side") === "a", col("n"))), lit(0L))
            .as("n_after"),
          coalesce(sum(when(col("side") === "a", col("cents"))), lit(0L))
            .as("cents_after"))
        .withColumn("delta_n", col("n_after") - col("n_before"))
        .withColumn("delta_cents", col("cents_after") - col("cents_before"))
        .orderBy("nationkey")
    },
    Some("""
      WITH enriched AS (
        SELECT CASE WHEN o.o_custkey % 97 = 0 THEN -1
                    ELSE CAST(c.c_nationkey AS BIGINT) END AS nk_before,
               CAST(c.c_nationkey AS BIGINT) AS nk_after,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      cells AS (
        SELECT nk_before, nk_after, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM enriched GROUP BY 1, 2),
      sides AS (
        SELECT 'b' AS side, nk_before AS nationkey, n, cents FROM cells
        UNION ALL
        SELECT 'a' AS side, nk_after AS nationkey, n, cents FROM cells)
      SELECT nationkey,
             CAST(coalesce(sum(n)     FILTER (side = 'b'), 0) AS BIGINT)
               AS n_before,
             CAST(coalesce(sum(cents) FILTER (side = 'b'), 0) AS BIGINT)
               AS cents_before,
             CAST(coalesce(sum(n)     FILTER (side = 'a'), 0) AS BIGINT)
               AS n_after,
             CAST(coalesce(sum(cents) FILTER (side = 'a'), 0) AS BIGINT)
               AS cents_after,
             CAST(coalesce(sum(n) FILTER (side = 'a'), 0)
                - coalesce(sum(n) FILTER (side = 'b'), 0) AS BIGINT)
               AS delta_n,
             CAST(coalesce(sum(cents) FILTER (side = 'a'), 0)
                - coalesce(sum(cents) FILTER (side = 'b'), 0) AS BIGINT)
               AS delta_cents
      FROM sides
      GROUP BY nationkey
      ORDER BY nationkey"""))

  /** Cross-table MEASURE reconciliation — the audit q81's single-table
    * constraints can't do: does the order header's o_totalprice equal the
    * lineitem-derived charge Σ extprice·(1−disc)·(1+tax)? Header-vs-detail
    * consistency is the first question every finance close and migration
    * sign-off asks, and on this synthetic data it FAILS informatively —
    * the report buckets orders into exact / ≤1% / ≤5% / >5% relative
    * error plus a no-lineitems bucket, with order counts and the absolute
    * cent drift per bucket. Exactness: the charge is computed in DECIMAL
    * (14,2 × 4,2 × 4,2 — scale-6 products summed exactly, then rounded
    * to cents half-up on both engines); relative error in bp by integral
    * division on cents. Scale shape: ONE lineitem scan pre-aggregates
    * per order (partial agg before the shuffle), then ONE equi-join to
    * the header — at 100 TB this is the textbook large-large sort-merge
    * on the already-reduced detail rollup; the left join keeps
    * lineitem-less orders, surfacing them as their own bucket instead of
    * silently dropping them. */
  val q181 = GraftQuery(
    "q181_order_total_reconciliation",
    "Header-vs-detail audit: o_totalprice vs lineitem charge, bucketed relative drift",
    (s, dir) => {
      val derived = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr(
          """CAST(l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2)))
             * (1 + CAST(l_tax AS DECIMAL(4,2)))""")).as("charge"))
        .select(col("l_orderkey"),
          expr("CAST(round(charge * 100) AS BIGINT)").as("derived_cents"))
      table(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("header_cents"))
        .join(derived, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("drift_cents",
          abs(coalesce(col("derived_cents"), lit(0L)) - col("header_cents")))
        .withColumn("rel_bp", expr("drift_cents * 10000 div header_cents"))
        .withColumn("bucket", expr(
          """CASE WHEN derived_cents IS NULL THEN '5_no_lineitems'
                  WHEN drift_cents = 0      THEN '1_exact'
                  WHEN rel_bp <= 100        THEN '2_within_1pct'
                  WHEN rel_bp <= 500        THEN '3_within_5pct'
                  ELSE '4_over_5pct' END"""))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("derived_cents").isNotNull, col("drift_cents"))
            .otherwise(lit(0L))).as("drift_cents_total"),
          expr("max(CASE WHEN derived_cents IS NOT NULL THEN rel_bp END)")
            .as("max_rel_bp"))
        .orderBy("bucket")
    },
    Some("""
      WITH derived AS (
        SELECT l_orderkey,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))
                              * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 100)
                 AS BIGINT) AS derived_cents
        FROM lineitem GROUP BY l_orderkey),
      audited AS (
        SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
               d.derived_cents,
               abs(coalesce(d.derived_cents, 0)
                   - CAST(round(o.o_totalprice * 100) AS BIGINT)) AS drift_cents
        FROM orders o LEFT JOIN derived d ON o.o_orderkey = d.l_orderkey),
      bucketed AS (
        SELECT *, drift_cents * 10000 // header_cents AS rel_bp,
               CASE WHEN derived_cents IS NULL THEN '5_no_lineitems'
                    WHEN drift_cents = 0      THEN '1_exact'
                    WHEN drift_cents * 10000 // header_cents <= 100
                      THEN '2_within_1pct'
                    WHEN drift_cents * 10000 // header_cents <= 500
                      THEN '3_within_5pct'
                    ELSE '4_over_5pct' END AS bucket
        FROM audited)
      SELECT bucket, count(*) AS n_orders,
             CAST(sum(CASE WHEN derived_cents IS NOT NULL
                           THEN drift_cents ELSE 0 END) AS BIGINT)
               AS drift_cents_total,
             CAST(max(CASE WHEN derived_cents IS NOT NULL
                           THEN rel_bp END) AS BIGINT) AS max_rel_bp
      FROM bucketed
      GROUP BY bucket
      ORDER BY bucket"""))

  /** SURROGATE-KEY COLLISION audit — the birthday-paradox check that
    * should precede every "we'll just hash the natural key" decision
    * (q172 dealt full-width md5 surrogates; teams routinely truncate
    * them to fit an INT column, and at warehouse scale truncation WILL
    * collide): customers keyed by a 12-bit truncation of md5(c_name),
    * reported as the collision SPECTRUM — for each bucket size k, how
    * many key values and customers land in k-way collisions. k ≥ 2 rows
    * are silent row-merges waiting to corrupt a join. The spectrum shape
    * vs the 4096-slot space makes the birthday math tangible at every
    * fixture scale. One customer scan, one 4096-key rollup, one
    * spectrum rollup — audit cost is a single pass. */
  val q186 = GraftQuery(
    "q186_key_collision_audit",
    "Birthday audit of truncated hash surrogates: collision spectrum over 12-bit keys",
    (s, dir) => {
      table(s, dir, "customer")
        .select(expr("substring(md5(c_name), 1, 3)").as("key12"))
        .groupBy("key12")
        .agg(count(lit(1)).as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_keys"),
          sum("k").as("n_custs"))
        .orderBy("k")
    },
    Some("""
      SELECT k, count(*) AS n_keys, CAST(sum(k) AS BIGINT) AS n_custs
      FROM (
        SELECT substring(md5(c_name), 1, 3) AS key12, count(*) AS k
        FROM customer GROUP BY 1)
      GROUP BY k
      ORDER BY k"""))

  /** MASKED-VIEW parity audit — the row/column-level-security check a
    * warehouse runs before handing a masked dataset to a lower-trust
    * role: the analyst view replaces c_name with a deterministic md5
    * token, and the audit proves the mask is ANALYTICALLY LOSSLESS —
    * tokenization preserves key cardinality (distinct tokens == distinct
    * names, no collision merged two customers) and preserves join
    * behavior (orders joined through the masked key == through the raw
    * key). Both roles' stats compute from ONE enriched pass — the role
    * axis is a projection, not a second pipeline — and the fact join is
    * the same broadcast dim join either way. Deterministic tokens (md5,
    * not salted-random) are what make the audit reproducible; production
    * adds a per-tenant salt, same algebra. */
  val q188 = GraftQuery(
    "q188_masked_view_parity",
    "Column-masking audit: token cardinality and join parity, analyst vs auditor view",
    (s, dir) => {
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          md5(col("c_name").cast("binary")).as("token"))
      val joined = table(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      joined.select(
          explode(expr(
            """array(struct('1_auditor' AS role, c_name AS k),
                     struct('2_analyst' AS role, token  AS k))""")).as("e"))
        .select(col("e.role").as("role"), col("e.k").as("k"))
        .groupBy("role")
        .agg(count(lit(1)).as("n_order_rows"),
          countDistinct("k").as("n_distinct_keys"))
        .orderBy("role")
    },
    Some("""
      WITH joined AS (
        SELECT c.c_name, md5(c.c_name) AS token
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      sides AS (
        SELECT '1_auditor' AS role, c_name AS k FROM joined
        UNION ALL
        SELECT '2_analyst', token FROM joined)
      SELECT role, count(*) AS n_order_rows,
             count(DISTINCT k) AS n_distinct_keys
      FROM sides
      GROUP BY role
      ORDER BY role"""))

  /** RETENTION-PURGE planning — the compliance sweep every warehouse
    * schedules: each record class carries its own retention clock
    * (interaction events 90 days, transactional 365, errors 30, signups
    * indefinite — here dealt by event_type), and the plan reports, per
    * class, what a purge AS-OF the corpus high-water mark would delete
    * versus keep, with byte estimates (serialized length proxy) sizing
    * the reclaim. Deterministic as-of: the clock is max(ts) over the
    * data, not wall time (the q169 fixed-horizon discipline — a plan
    * must be reproducible to be auditable). One events scan; retention
    * classes join from a 5-row broadcast map; the report is a
    * |classes|-sized rollup. At 100 TB the same plan drives partition
    * drops (q85's cascade executes what this entry plans). */
  val q191 = GraftQuery(
    "q191_retention_purge_plan",
    "Per-class retention sweep as-of the data high-water mark: purge vs keep, bytes reclaimed",
    (s, dir) => {
      val classes = s.createDataFrame(Seq(
        ("view", 90L), ("click", 90L), ("error", 30L),
        ("purchase", 365L), ("signup", -1L)))
        .toDF("event_type", "retention_days")
      val ev = events(s, dir)
      val hwm = ev.agg(max(col("ts")).as("hwm"))
      ev.join(broadcast(classes), Seq("event_type"))
        .crossJoin(broadcast(hwm))
        .withColumn("age_days",
          expr("datediff(CAST(hwm AS DATE), CAST(ts AS DATE))").cast("long"))
        .withColumn("purge",
          col("retention_days") >= 0L && col("age_days") > col("retention_days"))
        .withColumn("bytes", (length(col("props")) + lit(40L)).cast("long"))
        .groupBy("event_type", "retention_days")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("purge"), 1L).otherwise(0L)).as("n_purge"),
          sum(when(col("purge"), col("bytes")).otherwise(0L))
            .as("bytes_reclaimed"),
          sum(when(!col("purge"), col("bytes")).otherwise(0L))
            .as("bytes_kept"))
        .orderBy("event_type")
    },
    Some("""
      WITH classes(event_type, retention_days) AS (
        VALUES ('view', CAST(90 AS BIGINT)), ('click', 90), ('error', 30),
               ('purchase', 365), ('signup', -1)),
      hwm AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
      sized AS (
        SELECT e.event_type, c.retention_days,
               CAST(hwm.h - CAST(e.ts AS DATE) AS BIGINT) AS age_days,
               CAST(length(e.props) + 40 AS BIGINT) AS bytes
        FROM events e JOIN classes c USING (event_type), hwm),
      flagged AS (
        SELECT event_type, retention_days, bytes,
               (retention_days >= 0 AND age_days > retention_days) AS purge
        FROM sized)
      SELECT event_type, retention_days, count(*) AS n_rows,
             CAST(sum(CASE WHEN purge THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purge,
             CAST(sum(CASE WHEN purge THEN bytes ELSE 0 END) AS BIGINT)
               AS bytes_reclaimed,
             CAST(sum(CASE WHEN NOT purge THEN bytes ELSE 0 END) AS BIGINT)
               AS bytes_kept
      FROM flagged
      GROUP BY event_type, retention_days
      ORDER BY event_type"""))

  /** MATERIALIZED-VIEW REWRITE end to end (plans/MVRewrite.scala — the
    * third injected optimizer rule): the warehouse maintains a daily
    * revenue summary (the q173-refreshed shape); a dashboard query that
    * re-derives it from the FACT gets silently answered from the
    * summary — the Aggregate over the orders scan is replaced by a
    * Project over the MV plan, re-aliased onto the original output ids
    * so the query text never changes. The entry builds the MV (one
    * orders rollup, spooled), registers it, runs the UNCHANGED
    * fact-shaped query in a rule-injected session, and the oracle
    * recomputes from the fact — equal hashes prove substitution
    * correctness; PlanSpec pins that the rewritten plan reads the MV
    * spool and never touches orders.parquet. At 100 TB this turns a
    * fact scan into a |days|-row read — the biggest single win a
    * warehouse optimizer hands a repeated query. */
  val q195 = GraftQuery(
    "q195_materialized_view_rewrite",
    "Optimizer substitutes the registered daily-revenue MV for the fact aggregate",
    (s, dir) => {
      import graft.plans.MaterializedViewRewrite
      val mvPath = spooled("q195_mv", dir)(p =>
        table(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("d"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
          .coalesce(1).write.mode("overwrite").parquet(p))
      val s2 = s.newSession()
      s2.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
      MaterializedViewRewrite.registry.put("orders.parquet",
        s2.read.parquet(mvPath).queryExecution.analyzed)
      // the UNCHANGED fact-shaped query — the rule answers it from the MV
      table(s2, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
        .orderBy("d")
    },
    Some("""
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      GROUP BY 1
      ORDER BY d"""))

  /** IN-FLIGHT pipeline observability — the Observation API run as the
    * data-quality pattern it exists for: every ETL stage publishes its
    * row count, null count, and money total FROM THE SAME PASS that
    * computes the transform (accumulator-backed, zero extra scans —
    * q81's post-hoc check suite pays a full re-scan per metric; at
    * 100 TB in-flight observation is the only affordable form), and the
    * ledger row per stage is emitted as data. The oracle recomputes
    * every stage metric with dedicated scans — equal hashes prove the
    * accumulator path agrees with the recompute path bit-for-bit
    * (sums in integer cents, so accumulation order is irrelevant). */
  val q197 = GraftQuery(
    "q197_inflight_observability",
    "Observation-API stage ledger: ingest/filter metrics from the transform's own pass",
    (s, dir) => {
      import org.apache.spark.sql.Observation
      val ingest = Observation(s"q197_ingest_${System.nanoTime()}")
      val filtered = Observation(s"q197_filtered_${System.nanoTime()}")
      val pipeline = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .observe(ingest,
          count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null"),
          sum("cents").as("cents"))
        .filter(col("o_orderstatus") === "F")
        .observe(filtered,
          count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null"),
          sum("cents").as("cents"))
      val nOut = pipeline.groupBy("o_orderstatus").count().count()
      import s.implicits._
      def row(stage: String, o: Observation) = {
        val m = o.get
        (stage, m("n").asInstanceOf[Long], m("n_null").asInstanceOf[Long],
          m("cents").asInstanceOf[Long])
      }
      Seq(row("1_ingest", ingest), row("2_filtered", filtered))
        .toDF("stage", "n_rows", "n_null_cust", "cents")
        .withColumn("n_output_groups", lit(nOut))
        .orderBy("stage")
    },
    Some("""
      WITH base AS (
        SELECT o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      i AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_null,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM base),
      f AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_null,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM base WHERE o_orderstatus = 'F'),
      g AS (
        SELECT count(DISTINCT o_orderstatus) AS n_groups
        FROM base WHERE o_orderstatus = 'F')
      SELECT '1_ingest' AS stage, i.n AS n_rows, i.n_null AS n_null_cust,
             i.cents, g.n_groups AS n_output_groups
      FROM i, g
      UNION ALL
      SELECT '2_filtered', f.n, f.n_null, f.cents, g.n_groups
      FROM f, g
      ORDER BY stage"""))

  /** COLUMN-LEVEL LINEAGE extracted from the Catalyst plan itself — the
    * impact-analysis question every governance tool answers by parsing
    * SQL text, answered here from the ANALYZED PLAN (which is what
    * actually runs, surviving aliases, expression rewrites, and API vs
    * SQL authorship): walk the plan bottom-up carrying each attribute's
    * set of (table, source column) origins — a leaf relation's columns
    * are their own origin, an Alias unions its child's origins, and
    * every other node passes origins through — then report, for each
    * output column of a representative revenue pipeline (orders ⋈
    * customer → per-nation rollup), the sorted origin set. The oracle
    * is the lineage SPEC (a VALUES table): the plan walk must recover
    * exactly the dependency edges a human reads off the query. Runs on
    * plan metadata only — zero data is scanned (the 100 TB cost of
    * plan-based lineage is zero; text-based parsers can't even see
    * through a view). */
  val q198 = GraftQuery(
    "q198_column_lineage",
    "Plan-walk column lineage of a join+rollup pipeline vs the hand-written spec",
    (s, dir) => {
      import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId}
      import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
      import org.apache.spark.sql.execution.datasources.LogicalRelation
      val pipeline = table(s, dir, "orders")
        .join(table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("revenue_cents"),
          countDistinct(col("o_orderkey")).as("n_orders"))
      val plan = pipeline.queryExecution.analyzed
      // bottom-up origin propagation: attr id -> set of (table, column)
      def tableOf(lr: LogicalRelation): String = lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.head.getName.stripSuffix(".parquet")
        case _ => "?"
      }
      val origins = scala.collection.mutable.Map.empty[ExprId, Set[(String, String)]]
      def walk(p: LogicalPlan): Unit = {
        p.children.foreach(walk)
        p match {
          case lr: LogicalRelation =>
            lr.output.foreach(a =>
              origins(a.exprId) = Set((tableOf(lr), a.name)))
          case other =>
            other.expressions.foreach(_.foreach {
              case al: Alias =>
                val srcs = al.child.references.toSeq
                  .flatMap(r => origins.getOrElse(r.exprId, Set.empty)).toSet
                origins(al.exprId) = srcs
              case _ => ()
            })
            // pass-through attributes keep their origins implicitly
        }
      }
      walk(plan)
      val rows = plan.output.flatMap { out =>
        origins.getOrElse(out.exprId, Set.empty).toSeq.sorted.map {
          case (t, c) => (out.name, t, c)
        }
      }
      import s.implicits._
      rows.toDF("output_col", "source_table", "source_col")
        .orderBy("output_col", "source_table", "source_col")
    },
    Some("""
      SELECT * FROM (VALUES
        ('n_orders',      'orders',   'o_orderkey'),
        ('nation',        'customer', 'c_nationkey'),
        ('revenue_cents', 'orders',   'o_totalprice'))
        v(output_col, source_table, source_col)
      ORDER BY output_col, source_table, source_col"""))

  /** RENDEZVOUS (HRW) HASHING — the consistent-hashing answer to "a
    * shard died, who moves": each key's shard is argmax over shards of
    * md5(key '|' shard), so removing a shard reassigns ONLY the keys
    * that shard owned (everyone else's argmax is untouched) — the
    * minimal-churn property q111's range partitioning cannot give, and
    * the reason every distributed cache/router uses HRW or a ring. The
    * entry PROVES the property rather than asserting it: assignments
    * are computed under 5 shards and again under 4 (s2 removed, the
    * same exploded frame filtered — one scan serves both maps), and the
    * before→after matrix must be diagonal except the s2 row. Hex md5
    * compares lexicographically = numerically (fixed width, both
    * engines lowercase) — the argmax is portable with zero numeric
    * conversion. */
  val q199 = GraftQuery(
    "q199_rendezvous_sharding",
    "HRW shard maps before/after removing a shard: only the dead shard's keys move",
    (s, dir) => {
      val scored = table(s, dir, "orders")
        .select(col("o_orderkey"))
        .withColumn("shard", explode(expr(
          "array('s0', 's1', 's2', 's3', 's4')")))
        .withColumn("w", md5(concat(col("o_orderkey").cast("string"),
          lit("|"), col("shard")).cast("binary")))
        .localCheckpoint(true)
      def argmax(df: org.apache.spark.sql.DataFrame, out: String) = df
        .groupBy("o_orderkey")
        .agg(max(struct(col("w"), col("shard"))).as("top"))
        .select(col("o_orderkey"), col("top.shard").as(out))
      argmax(scored, "shard_before")
        .join(argmax(scored.filter(col("shard") =!= "s2"), "shard_after"),
          Seq("o_orderkey"))
        .groupBy("shard_before", "shard_after")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("shard_before", "shard_after")
    },
    Some("""
      WITH scored AS (
        SELECT o_orderkey, shard,
               md5(CAST(o_orderkey AS VARCHAR) || '|' || shard) AS w
        FROM orders,
             (SELECT unnest(['s0', 's1', 's2', 's3', 's4']) AS shard)),
      before_map AS (
        SELECT o_orderkey, arg_max(shard, w) AS shard_before
        FROM scored GROUP BY o_orderkey),
      after_map AS (
        SELECT o_orderkey, arg_max(shard, w) AS shard_after
        FROM scored WHERE shard <> 's2' GROUP BY o_orderkey)
      SELECT b.shard_before, a.shard_after, count(*) AS n_keys
      FROM before_map b JOIN after_map a USING (o_orderkey)
      GROUP BY 1, 2
      ORDER BY shard_before, shard_after"""))

  /** METRIC-STORE re-aggregation consistency — the semantic-layer lesson
    * every BI team learns the hard way, proven as data: ADDITIVE
    * metrics (revenue) re-aggregate from day grain to month exactly;
    * RATIO metrics (average order value) do NOT — the naive
    * avg-of-daily-averages diverges from the true monthly AOV, while
    * the weighted form (carry numerator and denominator, divide at the
    * end) reconciles to the cent. Per month: direct-computed revenue
    * and AOV, day-rolled revenue (must equal), naive avg-of-avgs AOV,
    * weighted AOV (must equal direct), and the naive error in cents —
    * nonzero precisely where daily volumes differ, which is why a
    * metric store must define ratios as fraction PAIRS. All integer
    * cents, floor division both engines. One orders scan pinned; both
    * grains derive from it. */
  val q205 = GraftQuery(
    "q205_metric_reaggregation",
    "Additive vs ratio metrics across grains: day->month rollup, naive vs weighted AOV",
    (s, dir) => {
      val daily = table(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
          to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .withColumn("day_aov", expr("cents div n"))
        .localCheckpoint(true)
      daily.groupBy("m")
        .agg(sum("n").as("n_orders"),
          sum("cents").as("revenue_cents"),
          expr("sum(cents) div sum(n)").as("aov_direct"),
          expr("sum(day_aov) div count(*)").as("aov_naive"),
          expr("sum(cents) div sum(n)").as("aov_weighted"))
        .withColumn("naive_err_cents", expr("aov_naive - aov_direct"))
        .orderBy("m")
    },
    Some("""
      WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS m,
               CAST(o_orderdate AS DATE) AS d, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY 1, 2)
      SELECT m, CAST(sum(n) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS revenue_cents,
             CAST(sum(cents) AS BIGINT) // CAST(sum(n) AS BIGINT)
               AS aov_direct,
             CAST(sum(cents // n) AS BIGINT) // count(*) AS aov_naive,
             CAST(sum(cents) AS BIGINT) // CAST(sum(n) AS BIGINT)
               AS aov_weighted,
             CAST(sum(cents // n) AS BIGINT) // count(*)
               - CAST(sum(cents) AS BIGINT) // CAST(sum(n) AS BIGINT)
               AS naive_err_cents
      FROM daily
      GROUP BY m
      ORDER BY m"""))

  /** WAREHOUSE HEALTH SCORECARD — q81 checks one table deeply; the
    * morning dashboard needs every table SHALLOWLY on one page: per
    * core table, row count, primary-key duplicate count, null rate of
    * its most-load-bearing column (bp), foreign-key orphan count
    * against its parent, and staleness (days between the table's
    * latest timestamp and the warehouse-wide high-water mark — data-
    * clocked, q191's reproducibility rule). Each table contributes one
    * row via its own bounded scan + one distinct/anti-join; the
    * scorecard is the t54 assembly discipline applied to the warehouse
    * side. A nonzero in ANY cell names the table to drill into with
    * the deep tools (q81/q115/q117). */
  val q208 = GraftQuery(
    "q208_warehouse_scorecard",
    "One-page health scorecard: rows, pk dups, null bp, fk orphans, staleness per table",
    (s, dir) => {
      import s.implicits._
      def metrics(name: String, df: org.apache.spark.sql.DataFrame,
          pk: org.apache.spark.sql.Column, nullCol: String,
          fkOrphans: Long, staleDays: Long) = {
        val r = df.agg(count(lit(1)).as("n"),
          countDistinct(pk).as("nk"),
          sum(when(col(nullCol).isNull, 1L).otherwise(0L)).as("nn")).head()
        (name, r.getLong(0), r.getLong(0) - r.getLong(1),
          if (r.getLong(0) == 0) 0L else r.getLong(2) * 10000 / r.getLong(0),
          fkOrphans, staleDays)
      }
      val orders = table(s, dir, "orders")
      val lineitem = table(s, dir, "lineitem")
      val customer = table(s, dir, "customer")
      val hwm = orders.agg(max(to_date(col("o_orderdate"))).as("h"))
        .union(lineitem.agg(max(to_date(col("l_shipdate")))))
        .agg(max("h")).head().getDate(0)
      def staleness(df: org.apache.spark.sql.DataFrame, c: String): Long = {
        val m = df.agg(max(to_date(col(c)))).head().getDate(0)
        (hwm.toLocalDate.toEpochDay - m.toLocalDate.toEpochDay)
      }
      val ordOrphans = orders.join(customer,
        col("o_custkey") === col("c_custkey"), "left_anti").count()
      val liOrphans = lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey"), "left_anti").count()
      Seq(
        metrics("customer", customer, col("c_custkey"), "c_acctbal", 0L, 0L),
        metrics("lineitem", lineitem,
          expr("l_orderkey * 10 + l_linenumber"), "l_shipdate",
          liOrphans, staleness(lineitem, "l_shipdate")),
        metrics("orders", orders, col("o_orderkey"), "o_custkey",
          ordOrphans, staleness(orders, "o_orderdate")))
        .toDF("tbl", "n_rows", "pk_dups", "null_bp", "fk_orphans",
          "stale_days")
        .orderBy("tbl")
    },
    Some("""
      WITH hwm AS (
        SELECT greatest(
          (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
          (SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem)) AS h),
      cust AS (
        SELECT 'customer' AS tbl, count(*) AS n_rows,
               count(*) - count(DISTINCT c_custkey) AS pk_dups,
               CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
                 * 10000 // count(*) AS BIGINT) AS null_bp,
               CAST(0 AS BIGINT) AS fk_orphans, CAST(0 AS BIGINT) AS stale_days
        FROM customer),
      li AS (
        SELECT 'lineitem', count(*),
               count(*) - count(DISTINCT l_orderkey * 10 + l_linenumber),
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                 * 10000 // count(*) AS BIGINT),
               (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
               CAST((SELECT h FROM hwm)
                 - max(CAST(l_shipdate AS DATE)) AS BIGINT)
        FROM lineitem),
      ord AS (
        SELECT 'orders', count(*),
               count(*) - count(DISTINCT o_orderkey),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 * 10000 // count(*) AS BIGINT),
               (SELECT count(*) FROM orders o WHERE NOT EXISTS
                 (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
               CAST((SELECT h FROM hwm)
                 - max(CAST(o_orderdate AS DATE)) AS BIGINT)
        FROM orders)
      SELECT * FROM cust UNION ALL SELECT * FROM li
      UNION ALL SELECT * FROM ord
      ORDER BY tbl"""))

  /** SHIP-LATENCY SLA attainment — the ops KPI behind every fulfillment
    * review: per order month, the share of line items shipped within
    * 30/60/90 days of the order date (integer day gaps from the
    * header-detail join, attainment in bp), plus the exact median gap
    * (lower median via per-month rank — the robust center the SLA
    * bands summarize). One header-detail equi-join (the q181 shape,
    * detail NOT pre-aggregated this time because the measure lives on
    * the line), month rollup with conditional sums — a single pass
    * over the join; the median rides a per-month window. q158 prices
    * one SLA in business days; q209 tracks the attainment CURVE in
    * calendar days. */
  val q209 = GraftQuery(
    "q209_ship_sla_attainment",
    "Per-month share of lineitems shipped within 30/60/90 days + exact median gap",
    (s, dir) => {
      val gaps = table(s, dir, "lineitem")
        .join(table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("gap_days"),
          expr("l_orderkey * 10 + l_linenumber").as("rid"))
        .localCheckpoint(true)
      val wRank = Window.partitionBy("m").orderBy("gap_days", "rid")
      val med = gaps
        .withColumn("rn", row_number().over(wRank))
        .withColumn("tot", count(lit(1)).over(Window.partitionBy("m")))
        .filter(col("rn") === expr("(tot + 1) div 2"))
        .select(col("m"), col("gap_days").as("median_gap_days"))
      gaps.groupBy("m")
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END) * 10000 div count(*)")
            .as("within_30_bp"),
          expr("sum(CASE WHEN gap_days <= 60 THEN 1 ELSE 0 END) * 10000 div count(*)")
            .as("within_60_bp"),
          expr("sum(CASE WHEN gap_days <= 90 THEN 1 ELSE 0 END) * 10000 div count(*)")
            .as("within_90_bp"))
        .join(med, Seq("m"))
        .orderBy("m")
    },
    Some("""
      WITH gaps AS (
        SELECT strftime(o.o_orderdate, '%Y-%m') AS m,
               CAST(CAST(l.l_shipdate AS DATE)
                    - CAST(o.o_orderdate AS DATE) AS BIGINT) AS gap_days,
               l.l_orderkey * 10 + l.l_linenumber AS rid
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      med AS (
        SELECT m, gap_days AS median_gap_days
        FROM (SELECT m, gap_days,
                     row_number() OVER (PARTITION BY m
                       ORDER BY gap_days, rid) AS rn,
                     count(*) OVER (PARTITION BY m) AS tot
              FROM gaps)
        WHERE rn = (tot + 1) // 2)
      SELECT g.m, count(*) AS n_lines,
             CAST(sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END) * 10000
               // count(*) AS BIGINT) AS within_30_bp,
             CAST(sum(CASE WHEN gap_days <= 60 THEN 1 ELSE 0 END) * 10000
               // count(*) AS BIGINT) AS within_60_bp,
             CAST(sum(CASE WHEN gap_days <= 90 THEN 1 ELSE 0 END) * 10000
               // count(*) AS BIGINT) AS within_90_bp,
             any_value(med.median_gap_days) AS median_gap_days
      FROM gaps g JOIN med USING (m)
      GROUP BY g.m
      ORDER BY m"""))

  /** LATE-ARRIVING DIMENSION — Kimball's "early-arriving fact" problem,
    * the steady-state reality of every streaming warehouse: facts
    * reference dimension keys the dimension feed hasn't delivered yet.
    * Dropping them loses revenue; stalling the load misses SLAs. The
    * standard fix, as one dataflow: (1) facts anti-join the dimension →
    * INFERRED MEMBERS (placeholder rows, attributes 'UNKNOWN') union
    * into the dimension so every fact joins successfully NOW; (2) when
    * the late rows arrive (simulated deterministically: nations with
    * even keys were "late"), the placeholder upgrades via q58's merge
    * shape; the audit aggregates revenue per dimension attribute TWICE
    * — during the gap (UNKNOWN bucket carries the late keys' revenue)
    * and after backfill (real names, same totals) — proving no revenue
    * was dropped or double-counted across the repair. Anti-join +
    * broadcast dim; the fact table never rescans for the backfill (the
    * placeholder upgrade touches the dimension only). */
  val q230 = GraftQuery(
    "q230_late_arriving_dimension",
    "Inferred dimension members during the feed gap, attribute backfill after: conserved totals",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val dimFull = table(s, dir, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("name"))
      val dimOnTime = dimFull.filter(col("k") % 2 === 1) // even keys arrive late
      val facts = table(s, dir, "supplier")
        .select(col("s_nationkey").as("k"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("cents"))
      // (1) inferred members: keys the facts reference but the dim lacks
      val inferred = facts.select("k").distinct()
        .join(broadcast(dimOnTime.select("k")), Seq("k"), "left_anti")
        .select(col("k"), lit("UNKNOWN").as("name"))
      val dimGap = dimOnTime.unionByName(inferred)
      val during = facts.join(broadcast(dimGap), "k")
        .groupBy("name").agg(sum("cents").as("cents"),
          countDistinct("k").as("n_keys"))
        .select(lit("during_gap").as("phase"), col("name"), col("cents"),
          col("n_keys"))
      // (2) backfill: late rows upgrade the placeholders (merge by key —
      // real attribute wins over UNKNOWN); facts are NOT rescanned into a
      // different shape, the same join replays against the repaired dim
      val dimRepaired = dimGap.join(broadcast(dimFull
          .select(col("k"), col("name").as("real_name"))), Seq("k"), "left")
        .select(col("k"), coalesce(col("real_name"), col("name")).as("name"))
      val after = facts.join(broadcast(dimRepaired), "k")
        .groupBy("name").agg(sum("cents").as("cents"),
          countDistinct("k").as("n_keys"))
        .select(lit("after_backfill").as("phase"), col("name"), col("cents"),
          col("n_keys"))
      during.unionByName(after).orderBy("phase", "name")
    },
    Some("""
      WITH dim_full AS (
        SELECT n_nationkey AS k, n_name AS name FROM nation),
      dim_on_time AS (SELECT * FROM dim_full WHERE k % 2 = 1),
      facts AS (
        SELECT s_nationkey AS k,
               CAST(round(s_acctbal * 100) AS BIGINT) AS cents
        FROM supplier),
      inferred AS (
        SELECT DISTINCT f.k, 'UNKNOWN' AS name
        FROM facts f
        WHERE NOT EXISTS (SELECT 1 FROM dim_on_time d WHERE d.k = f.k)),
      dim_gap AS (
        SELECT * FROM dim_on_time UNION ALL SELECT * FROM inferred),
      during AS (
        SELECT 'during_gap' AS phase, d.name,
               CAST(sum(f.cents) AS BIGINT) AS cents,
               count(DISTINCT f.k) AS n_keys
        FROM facts f JOIN dim_gap d ON f.k = d.k
        GROUP BY d.name),
      dim_repaired AS (
        SELECT g.k, coalesce(r.name, g.name) AS name
        FROM dim_gap g LEFT JOIN dim_full r ON g.k = r.k),
      aft AS (
        SELECT 'after_backfill' AS phase, d.name,
               CAST(sum(f.cents) AS BIGINT) AS cents,
               count(DISTINCT f.k) AS n_keys
        FROM facts f JOIN dim_repaired d ON f.k = d.k
        GROUP BY d.name)
      SELECT * FROM during
      UNION ALL
      SELECT * FROM aft
      ORDER BY phase, name"""))

  /** ROLE-BASED COLUMN MASKING — the governance view layer (Ranger /
    * Unity-Catalog column policies) as a relational op: one policy table
    * (role, column, action) drives per-role projections of the customer
    * dimension — 'analyst' sees balances bucketed and names/phones
    * hashed to a deterministic 8-hex tag (joinable-but-unreadable, the
    * pseudonymization contract), 'auditor' sees raw. The masked frame
    * is produced by CONDITIONAL PROJECTION against the broadcast policy
    * (no per-role table copies — at 100 TB you ship one masked VIEW per
    * role, never a masked table), and the audit proves the
    * pseudonymization is consistent: per role, distinct masked names ==
    * distinct raw names (tags don't collide at this cardinality and
    * don't merge customers), and the masked frame still joins/aggregates
    * correctly (revenue by balance bucket agrees across roles). */
  val q231 = GraftQuery(
    "q231_column_masking",
    "Policy-driven per-role masking: hashed pseudonyms + bucketed balances, consistency audited",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val cust = table(s, dir, "customer")
        .filter(col("c_custkey") < 900)
        .select(col("c_custkey"), col("c_name"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      def masked(role: String) = {
        val m = role match {
          case "analyst" => cust.select(
            lit(role).as("role"), col("c_custkey"),
            expr("substring(md5(c_name), 1, 8)").as("name_out"),
            // shift keeps the dividend non-negative (acctbal ≥ -999.99), so
            // truncating div == flooring // and both engines agree
            expr("((bal_cents + 100000) div 100000) * 100000 - 100000")
              .as("bal_out"))
          case _ => cust.select(
            lit(role).as("role"), col("c_custkey"),
            col("c_name").as("name_out"), col("bal_cents").as("bal_out"))
        }
        m
      }
      masked("analyst").unionByName(masked("auditor"))
        .groupBy("role")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("name_out").as("n_distinct_names"),
          sum("bal_out").as("sum_bal_out"),
          sum(when(col("name_out").rlike("^[0-9a-f]{8}$"), 1L).otherwise(0L))
            .as("n_masked_names"))
        .orderBy("role")
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, c_name,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer WHERE c_custkey < 900),
      rows_out AS (
        SELECT 'analyst' AS role, c_custkey,
               substr(md5(c_name), 1, 8) AS name_out,
               ((bal_cents + 100000) // 100000) * 100000 - 100000 AS bal_out
        FROM cust
        UNION ALL
        SELECT 'auditor', c_custkey, c_name, bal_cents FROM cust)
      SELECT role, count(*) AS n_rows,
             count(DISTINCT name_out) AS n_distinct_names,
             CAST(sum(bal_out) AS BIGINT) AS sum_bal_out,
             CAST(sum(CASE WHEN regexp_matches(name_out, '^[0-9a-f]{8}$')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_masked_names
      FROM rows_out
      GROUP BY role
      ORDER BY role"""))

  /** ROLE-PLAYING DATE DIMENSION — the Kimball pattern behind every
    * "order date vs ship date vs delivery date" report: ONE conformed
    * date dimension (generated deterministically from the fact's own
    * date range — q102's scaffold trick, so both engines build the
    * identical dim) joins the fact TWICE under different roles, each
    * role an alias of the same broadcast table — never two physical
    * date tables drifting apart. The report crosses order-month
    * attributes with ship-lag buckets derived from the ship-role join;
    * both joins broadcast (a date dim is bounded by the calendar — the
    * canonical broadcast dimension), the fact scans once. */
  val q233 = GraftQuery(
    "q233_role_playing_dates",
    "One conformed date dim joined under order-date and ship-date roles: month × lag-bucket revenue",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val li = table(s, dir, "lineitem")
        .join(table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(to_date(col("o_orderdate")).as("od"),
          to_date(col("l_shipdate")).as("sd"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val bounds = li.agg(min(least(col("od"), col("sd"))).as("lo"),
        max(greatest(col("od"), col("sd"))).as("hi"))
      val dates = bounds.select(explode(expr(
          "sequence(lo, hi, interval 1 day)")).as("d"))
        .select(col("d"), date_format(col("d"), "yyyy-MM").as("month"),
          quarter(col("d")).cast("long").as("qtr"))
      val orderRole = dates.select(col("d").as("od_d"),
        col("month").as("order_month"), col("qtr").as("order_qtr"))
      val shipRole = dates.select(col("d").as("sd_d"),
        col("month").as("ship_month"))
      li.join(broadcast(orderRole), col("od") === col("od_d"))
        .join(broadcast(shipRole), col("sd") === col("sd_d"))
        .withColumn("lag_bucket", expr(
          "CASE WHEN datediff(sd, od) <= 30 THEN '0-30' " +
            "WHEN datediff(sd, od) <= 60 THEN '31-60' ELSE '60+' END"))
        .groupBy("order_month", "order_qtr", "lag_bucket")
        .agg(count(lit(1)).as("n"), sum("cents").as("revenue_cents"))
        .orderBy("order_month", "lag_bucket")
    },
    Some("""
      WITH li AS (
        SELECT CAST(o.o_orderdate AS DATE) AS od,
               CAST(l.l_shipdate AS DATE) AS sd,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      bounds AS (
        SELECT min(least(od, sd)) AS lo, max(greatest(od, sd)) AS hi FROM li),
      dates AS (
        SELECT CAST(d AS DATE) AS d, strftime(d, '%Y-%m') AS month,
               CAST(quarter(d) AS BIGINT) AS qtr
        FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
              FROM bounds)),
      joined AS (
        SELECT odim.month AS order_month, odim.qtr AS order_qtr,
               CASE WHEN date_diff('day', li.od, li.sd) <= 30 THEN '0-30'
                    WHEN date_diff('day', li.od, li.sd) <= 60 THEN '31-60'
                    ELSE '60+' END AS lag_bucket,
               li.cents
        FROM li
        JOIN dates odim ON li.od = odim.d
        JOIN dates sdim ON li.sd = sdim.d)
      SELECT order_month, order_qtr, lag_bucket,
             count(*) AS n, CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM joined
      GROUP BY order_month, order_qtr, lag_bucket
      ORDER BY order_month, lag_bucket"""))

  /** SPARSE-COLUMN LATEST-NON-NULL MERGE — the CDC shape q116/q121's
    * whole-row "latest version wins" cannot express: feeds deliver
    * PARTIAL updates (only the changed columns non-null — the
    * PATCH-not-PUT convention of webhook/event payloads), and the
    * current state of each entity is the latest NON-NULL value PER
    * COLUMN, each column potentially from a different update. One hash
    * aggregate does it all: per column, max_by-style struct-max of
    * (version, value) over non-null rows only — no window sort, no
    * per-column self-joins (the naive form runs one "latest where col
    * is not null" subquery per column). Updates synthesized by key/
    * version modulus so the oracle replays them; the `n_updates` and
    * per-column source-version columns make the column-independence
    * visible (segment and balance routinely resolve from DIFFERENT
    * versions). */
  val q234 = GraftQuery(
    "q234_sparse_column_merge",
    "Latest non-null per column from partial updates: one struct-max aggregate, no windows",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      // synthesized partial-update stream over customers: 3 versions per
      // key; v1 sets both columns, v2 patches only segment (balance
      // NULL), v3 patches only balance — except every 5th key, whose v3
      // never arrived (its balance must resolve from v1)
      val upd = table(s, dir, "customer")
        .filter(col("c_custkey") < 600)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg0"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal0"))
        .select(col("k"), explode(expr(
          """filter(array(
               struct(1L AS v, seg0 AS segment, bal0 AS balance),
               struct(2L AS v, concat(seg0, '_P2') AS segment,
                 CAST(NULL AS BIGINT) AS balance),
               struct(3L AS v, CAST(NULL AS STRING) AS segment,
                 bal0 + 777 AS balance)),
             x -> x.v < 3 OR k % 5 <> 0)""")).as("u"))
        .select(col("k"), col("u.v").as("v"), col("u.segment").as("segment"),
          col("u.balance").as("balance"))
      upd.groupBy("k")
        .agg(count(lit(1)).as("n_updates"),
          max(when(col("segment").isNotNull,
            struct(col("v"), col("segment")))).as("ms"),
          max(when(col("balance").isNotNull,
            struct(col("v"), col("balance")))).as("mb"))
        .select(col("k"), col("n_updates"),
          col("ms.segment").as("segment"), col("ms.v").as("segment_from_v"),
          col("mb.balance").as("balance"), col("mb.v").as("balance_from_v"))
        .orderBy("k")
    },
    Some("""
      WITH base AS (
        SELECT c_custkey AS k, c_mktsegment AS seg0,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal0
        FROM customer WHERE c_custkey < 600),
      upd AS (
        SELECT k, 1 AS v, seg0 AS segment, bal0 AS balance FROM base
        UNION ALL
        SELECT k, 2, seg0 || '_P2', NULL FROM base
        UNION ALL
        SELECT k, 3, NULL, bal0 + 777 FROM base WHERE k % 5 <> 0)
      SELECT k, count(*) AS n_updates,
             max_by(segment, v) FILTER (WHERE segment IS NOT NULL) AS segment,
             CAST(max(v) FILTER (WHERE segment IS NOT NULL) AS BIGINT)
               AS segment_from_v,
             max_by(balance, v) FILTER (WHERE balance IS NOT NULL) AS balance,
             CAST(max(v) FILTER (WHERE balance IS NOT NULL) AS BIGINT)
               AS balance_from_v
      FROM upd
      GROUP BY k
      ORDER BY k"""))

  /** CACHE-REUSE SHARED SCAN — the materialize-once-fan-out posture that
    * keeps a multi-report job from re-scanning the fact table per report:
    * ONE per-customer profile aggregate (the expensive full-orders pass)
    * is `.cache()`d, and three downstream reports — an order-count
    * histogram, a first-order-year cohort rollup, and a grand total —
    * re-aggregate the SMALL cached profile (|customers| rows, not
    * |orders|). Without the cache Spark's DAG recomputes the base
    * aggregate once per union branch: three full fact scans for one
    * report page. PlanSpec pins ≥2 InMemoryTableScan nodes in the
    * executed plan (every branch after the first reads the cache, not
    * the fact). The DuckDB oracle replays the same three rollups off a
    * shared CTE, so the hashes also prove branch-consistency: all three
    * reports describe the SAME base snapshot — the q205 metric-
    * consistency guarantee, here enforced by plan structure rather than
    * discipline. At 100 TB the cached profile is customer-cardinality
    * (fits memory/disk-spill tiers), while the saved work is two extra
    * passes over the order fact. */
  val q236 = GraftQuery(
    "q236_shared_scan_reports",
    "Three report branches off one cached per-customer aggregate: hist + cohort + total, single fact scan",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val base = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(expr("year(to_date(o_orderdate))")).cast("long").as("first_year"))
        .cache() // customer-cardinality; scanned by all three branches
      val hist = base.groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .select(lit("order_count_hist").as("branch"),
          col("n_orders").cast("string").as("key"), col("n"), col("cents"))
      val cohort = base.groupBy(col("first_year"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .select(lit("cohort_year").as("branch"),
          col("first_year").cast("string").as("key"), col("n"), col("cents"))
      val total = base.agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .select(lit("total").as("branch"), lit("all").as("key"),
          col("n"), col("cents"))
      hist.unionAll(cohort).unionAll(total).orderBy("branch", "key")
    },
    Some("""
      WITH base AS (
        SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               CAST(min(year(CAST(o_orderdate AS DATE))) AS BIGINT)
                 AS first_year
        FROM orders GROUP BY o_custkey)
      SELECT 'order_count_hist' AS branch, CAST(n_orders AS VARCHAR) AS key,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
      FROM base GROUP BY n_orders
      UNION ALL
      SELECT 'cohort_year', CAST(first_year AS VARCHAR),
             CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
      FROM base GROUP BY first_year
      UNION ALL
      SELECT 'total', 'all', CAST(count(*) AS BIGINT),
             CAST(sum(cents) AS BIGINT)
      FROM base
      ORDER BY branch, key"""))

  /** DISTRIBUTED DENSE SURROGATE-ID ASSIGNMENT — the zipWithIndex
    * problem: give every dimension row a dense sequential surrogate key
    * in natural-key order. The naive `row_number() OVER (ORDER BY key)`
    * is an empty-partition-spec window — Spark moves the ENTIRE table
    * through one partition, the canonical scale-killer. The two-phase
    * distributed form: (1) bucket rows by any key-MONOTONE function
    * (here k div 100; at 100 TB the range partitioner's boundaries or
    * file-level min/max stats play this role), (2) count rows per bucket
    * — a map-side-combined aggregate whose output is bucket-cardinality,
    * (3) prefix-sum those counts into per-bucket offsets (the only
    * single-partition window, over the TINY count frame), broadcast them
    * back, and (4) row_number WITHIN each bucket + offset. The data-side
    * window is bucket-partitioned (PlanSpec pins hashpartitioning on
    * bucket and exactly two Window nodes), so no row of the table ever
    * rides a single-partition exchange. Base 1,000,000 models appending
    * to an existing dimension's max surrogate. The DuckDB oracle IS the
    * naive global row_number — equal hashes prove phase-split ==
    * global-sort semantics exactly. */
  val q237 = GraftQuery(
    "q237_surrogate_id_assignment",
    "Dense sequential IDs in key order via bucket counts + prefix-sum offsets, no global window",
    (s, dir) => {
      val bucketed = table(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"))
        .withColumn("bucket", expr("k div 100"))
      val offsets = bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(
          sum("cnt").over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "offset")
      bucketed.join(broadcast(offsets), Seq("bucket"))
        .withColumn("surrogate_id",
          (lit(1000000L) + col("offset") +
            row_number().over(Window.partitionBy("bucket").orderBy("k")))
            .cast("long"))
        .select("k", "bucket", "surrogate_id")
        .orderBy("k")
    },
    Some("""
      SELECT CAST(c_custkey AS BIGINT) AS k,
             CAST(c_custkey AS BIGINT) // 100 AS bucket,
             CAST(1000000 + row_number() OVER (ORDER BY c_custkey) AS BIGINT)
               AS surrogate_id
      FROM customer
      ORDER BY k"""))

  /** SUBJECT-ACCESS EXPORT — the read-side half of the compliance pair
    * whose write side is q85's delete cascade: "give me everything you
    * hold about me" must walk the SAME foreign-key graph the erasure
    * walks (profile → orders → order lines, a 2-hop reach), normalize
    * heterogeneous rows into one portable envelope, and touch each fact
    * table once for ALL requesting subjects (the per-subject loop is the
    * naive form that dies at audit volume). The subject set is a
    * broadcast semi-probe; the 2-hop reach reuses the 1-hop's order
    * keys; each table contributes (subject, source, record_id, payload)
    * with the payload as compact JSON built from long/string fields only
    * (both engines emit {"k":v} with no spacing — numeric doubles are
    * deliberately excluded from the envelope, the formatting seam
    * cross-engine JSON can't survive). The oracle replays the same walk,
    * so the export is provably COMPLETE — the property regulators
    * actually test. */
  val q242 = GraftQuery(
    "q242_subject_access_export",
    "GDPR export: 2-hop FK walk for all subjects at once, one normalized JSON envelope per record",
    (s, dir) => {
      val subjects = table(s, dir, "customer")
        .filter(expr("c_custkey % 500 = 7"))
        .select(col("c_custkey").cast("long").as("subject"),
          col("c_name"), col("c_mktsegment"))
      val profile = subjects.select(col("subject"),
        lit("customer").as("src"), col("subject").as("record_id"),
        to_json(struct(col("c_name").as("name"),
          col("c_mktsegment").as("segment"))).as("payload"))
      val ords = table(s, dir, "orders")
        .join(broadcast(subjects.select("subject")),
          col("o_custkey") === col("subject"))
        .select(col("subject"), col("o_orderkey").cast("long").as("ok"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      val orderRows = ords.select(col("subject"), lit("orders").as("src"),
        col("ok").as("record_id"),
        to_json(struct(col("o_orderstatus").as("status"),
          col("o_orderdate").as("date"))).as("payload"))
      val lineRows = table(s, dir, "lineitem")
        .join(broadcast(ords.select(col("subject"), col("ok"))),
          col("l_orderkey") === col("ok"))
        .select(col("subject"), lit("lineitem").as("src"),
          (col("ok") * 10 + col("l_linenumber")).cast("long").as("record_id"),
          to_json(struct(col("l_quantity").cast("long").as("qty"),
            col("l_returnflag").as("flag"))).as("payload"))
      profile.unionAll(orderRows).unionAll(lineRows)
        .orderBy("subject", "src", "record_id")
    },
    Some("""
      WITH subjects AS (
        SELECT CAST(c_custkey AS BIGINT) AS subject, c_name, c_mktsegment
        FROM customer WHERE c_custkey % 500 = 7),
      ords AS (
        SELECT s.subject, CAST(o.o_orderkey AS BIGINT) AS ok,
               o.o_orderstatus,
               strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate
        FROM orders o JOIN subjects s ON o.o_custkey = s.subject)
      SELECT subject, 'customer' AS src, subject AS record_id,
             '{"name":"' || c_name || '","segment":"' || c_mktsegment || '"}'
               AS payload
      FROM subjects
      UNION ALL
      SELECT subject, 'orders', ok,
             '{"status":"' || o_orderstatus || '","date":"' || o_orderdate
               || '"}'
      FROM ords
      UNION ALL
      SELECT o.subject, 'lineitem', o.ok * 10 + l.l_linenumber,
             '{"qty":' || CAST(l.l_quantity AS BIGINT) || ',"flag":"'
               || l.l_returnflag || '"}'
      FROM lineitem l JOIN ords o ON l.l_orderkey = o.ok
      ORDER BY subject, src, record_id"""))

  /** MATERIALIZED-PATH SUBTREE ROLLUP — hierarchy aggregation ("total
    * balance under every node of the tree") WITHOUT recursion: when keys
    * encode their path (here decimal digits — k's ancestors are k div
    * 10^j, the same trick as org-chart path columns or category
    * prefixes), every node's full ancestor chain enumerates ROW-LOCALLY
    * (one bounded explode, depth ≤ log₁₀ keyspace), and one groupBy on
    * ancestor produces every subtree total in a single shuffle — where
    * the recursive-CTE form (q65) pays one join round PER LEVEL and the
    * self-join form re-scans the fact per level. Direct-children counts
    * ride the same pass keyed on the depth-1 ancestor. The oracle
    * replays the ancestor enumeration with generate_series, so the
    * closed-form == recursive semantics equivalence is hash-proven. */
  val q243 = GraftQuery(
    "q243_subtree_rollup",
    "Every subtree's total in ONE shuffle: row-local ancestor explode over digit-path keys",
    (s, dir) => {
      val nodes = table(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val contrib = nodes.select(col("cents"), col("k").as("node"),
          explode(expr(
            """filter(transform(array(1L, 10L, 100L, 1000L, 10000L, 100000L),
                 (d, j) -> struct(k div d AS anc, CAST(j AS BIGINT) AS depth)),
               a -> a.anc > 0 OR a.depth = 0)""")).as("a"))
        .select(col("a.anc").as("anc"), col("a.depth").as("depth"), col("cents"))
      contrib.groupBy(col("anc").as("node"))
        .agg(count(lit(1)).as("n_subtree"), sum("cents").as("subtree_cents"),
          sum(when(col("depth") === 1, 1L).otherwise(0L)).as("n_children"))
        .filter(col("n_subtree") >= 2)
        .orderBy("node")
    },
    Some("""
      WITH nodes AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer),
      divs(j, d) AS (VALUES (0, 1), (1, 10), (2, 100), (3, 1000),
                            (4, 10000), (5, 100000)),
      contrib AS (
        SELECT k // d AS anc, CAST(j AS BIGINT) AS depth, cents
        FROM nodes CROSS JOIN divs
        WHERE k // d > 0 OR j = 0),
      subtree AS (
        SELECT anc AS node, CAST(count(*) AS BIGINT) AS n_subtree,
               CAST(sum(cents) AS BIGINT) AS subtree_cents,
               CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_children
        FROM contrib GROUP BY anc)
      SELECT node, n_subtree, subtree_cents, n_children
      FROM subtree
      WHERE n_subtree >= 2
      ORDER BY node"""))

  /** CHANGE DATA FEED (CDF) read contract — q72 counts what changed
    * between snapshots; q247 EMITS the row-level feed downstream
    * consumers subscribe to, in the Delta/Iceberg CDF shape: one
    * `insert` row per addition, one `delete` row per removal carrying
    * the LAST-SEEN values (a tombstone without the old image is useless
    * to a syncing consumer), and TWO rows per update — `update_preimage`
    * then `update_postimage` — because downstream aggregates need the
    * retraction half to subtract (q120's IVM consumes exactly this
    * shape). Built from one full-outer join of digest-projected
    * snapshots (q72's mechanics); updates fan out to their two images
    * via a row-local explode, unchanged rows emit NOTHING (the feed is
    * change-proportional, never table-proportional — the property that
    * makes CDF cheaper than re-reading the table at 100 TB). */
  val q247 = GraftQuery(
    "q247_change_data_feed",
    "Row-level CDF between snapshots: insert/delete rows + pre/post image pairs for updates",
    (s, dir) => {
      val old = table(s, dir, "customer")
        .filter(col("c_custkey") < 600)
        .select(col("c_custkey").cast("long").as("key"),
          col("c_name").as("name"), col("c_mktsegment").as("segment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      val neu = old
        .filter(col("segment") =!= "BUILDING")
        .withColumn("bal",
          when(col("bal") < 0, col("bal") + 10000).otherwise(col("bal")))
        .unionByName(table(s, dir, "supplier")
          .filter(col("s_suppkey") < 100)
          .select((col("s_suppkey") + 9000000L).as("key"),
            col("s_name").as("name"), lit("NEW").as("segment"),
            expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("bal")))
      val o = old.select(col("key"), struct(col("name"), col("segment"),
        col("bal")).as("pre"))
      val n = neu.select(col("key"), struct(col("name"), col("segment"),
        col("bal")).as("post"))
      o.join(n, Seq("key"), "full_outer")
        .select(col("key"), explode(expr(
          """CASE
               WHEN pre IS NULL THEN array(struct('insert' AS ct, post AS img))
               WHEN post IS NULL THEN array(struct('delete' AS ct, pre AS img))
               WHEN pre = post THEN array()
               ELSE array(struct('update_preimage' AS ct, pre AS img),
                          struct('update_postimage' AS ct, post AS img))
             END""")).as("c"))
        .select(col("key"), col("c.ct").as("change_type"),
          col("c.img.name").as("name"), col("c.img.segment").as("segment"),
          col("c.img.bal").as("bal"))
        .orderBy("key", "change_type")
    },
    Some("""
      WITH old AS (
        SELECT CAST(c_custkey AS BIGINT) AS key, c_name AS name,
               c_mktsegment AS segment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer WHERE c_custkey < 600),
      neu AS (
        SELECT key, name, segment,
               CASE WHEN bal < 0 THEN bal + 10000 ELSE bal END AS bal
        FROM old WHERE segment <> 'BUILDING'
        UNION ALL
        SELECT CAST(s_suppkey + 9000000 AS BIGINT), s_name, 'NEW',
               CAST(round(s_acctbal * 100) AS BIGINT)
        FROM supplier WHERE s_suppkey < 100),
      j AS (
        SELECT coalesce(o.key, n.key) AS key,
               o.name AS oname, o.segment AS oseg, o.bal AS obal,
               n.name AS nname, n.segment AS nseg, n.bal AS nbal,
               o.key IS NULL AS ins, n.key IS NULL AS del
        FROM old o FULL JOIN neu n ON o.key = n.key)
      SELECT key, 'insert' AS change_type, nname AS name, nseg AS segment,
             nbal AS bal
      FROM j WHERE ins
      UNION ALL
      SELECT key, 'delete', oname, oseg, obal FROM j WHERE del
      UNION ALL
      SELECT key, 'update_preimage', oname, oseg, obal
      FROM j WHERE NOT ins AND NOT del
        AND (oname <> nname OR oseg <> nseg OR obal <> nbal)
      UNION ALL
      SELECT key, 'update_postimage', nname, nseg, nbal
      FROM j WHERE NOT ins AND NOT del
        AND (oname <> nname OR oseg <> nseg OR obal <> nbal)
      ORDER BY key, change_type"""))

  /** EVENT-SOURCING FOLD — reconstruct current state from an ordered
    * command log (set / incr / clear per account) WITHOUT a sequential
    * UDAF: the fold has a closed form — final = value-at-last-reset +
    * Σ increments after it — because set/clear erase everything before
    * them. One window numbers each account's ops in time order, one
    * aggregate finds the last reset (a (pos, base) struct-max, q234's
    * trick) , and the increment tail sums under a pos > p filter after a
    * broadcast join of the tiny per-account reset table. This is the
    * ledger-replay shape behind account balances, inventory levels, and
    * feature-store state — q234 merges column-wise PATCHES (last
    * non-null wins), q248 folds OPERATORS (order-sensitive semantics,
    * where an increment before a clear must NOT count). Ops synthesized
    * from orders by key modulus so the oracle replays them. */
  val q248 = GraftQuery(
    "q248_event_sourcing_fold",
    "Closed-form command-log fold: last set/clear + increment tail, no sequential UDAF",
    (s, dir) => {
      val w = Window.partitionBy("acct").orderBy("d", "ok")
      val ops = table(s, dir, "orders")
        .filter(col("o_custkey") < 600)
        .select(expr("CAST(o_custkey % 100 AS BIGINT)").as("acct"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_orderkey").cast("long").as("ok"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("op", expr(
          "CASE WHEN ok % 10 = 0 THEN 'set' WHEN ok % 10 = 7 THEN 'clear' " +
            "ELSE 'incr' END"))
        .withColumn("v", expr(
          "CASE WHEN ok % 10 = 0 THEN cents % 100000 " +
            "WHEN ok % 10 = 7 THEN 0L ELSE cents % 1000 END"))
        .withColumn("pos", row_number().over(w).cast("long"))
      val resets = ops.filter(col("op") =!= "incr")
        .groupBy("acct")
        .agg(max(struct(col("pos"), col("v"))).as("r"))
        .select(col("acct"), col("r.pos").as("p"), col("r.v").as("base"))
      ops.join(broadcast(resets), Seq("acct"), "left")
        .groupBy("acct")
        .agg(count(lit(1)).as("n_ops"),
          sum(when(col("op") =!= "incr", 1L).otherwise(0L)).as("n_resets"),
          (max(coalesce(col("base"), lit(0L))) +
            sum(when(col("op") === "incr" &&
              col("pos") > coalesce(col("p"), lit(0L)), col("v"))
              .otherwise(0L))).as("final_value"))
        .orderBy("acct")
    },
    Some("""
      WITH ops0 AS (
        SELECT CAST(o_custkey % 100 AS BIGINT) AS acct,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
               CAST(o_orderkey AS BIGINT) AS ok,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_custkey < 600),
      ops AS (
        SELECT acct,
               CASE WHEN ok % 10 = 0 THEN 'set'
                    WHEN ok % 10 = 7 THEN 'clear' ELSE 'incr' END AS op,
               CASE WHEN ok % 10 = 0 THEN cents % 100000
                    WHEN ok % 10 = 7 THEN 0 ELSE cents % 1000 END AS v,
               CAST(row_number() OVER (PARTITION BY acct ORDER BY d, ok)
                 AS BIGINT) AS pos
        FROM ops0),
      resets AS (
        SELECT acct, max_by(v, pos) AS base, CAST(max(pos) AS BIGINT) AS p
        FROM ops WHERE op <> 'incr' GROUP BY acct)
      SELECT o.acct, CAST(count(*) AS BIGINT) AS n_ops,
             CAST(sum(CASE WHEN o.op <> 'incr' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_resets,
             CAST(max(coalesce(r.base, 0))
               + sum(CASE WHEN o.op = 'incr' AND o.pos > coalesce(r.p, 0)
                     THEN o.v ELSE 0 END) AS BIGINT) AS final_value
      FROM ops o LEFT JOIN resets r ON o.acct = r.acct
      GROUP BY o.acct
      ORDER BY o.acct"""))

  /** DOUBLE-ENTRY TRIAL BALANCE — the accounting-integrity audit every
    * financial warehouse runs nightly: every transaction posts equal
    * debits and credits (per-transaction zero-sum), accounts roll up to
    * a trial balance, and the global sum is zero BY CONSTRUCTION — so
    * any nonzero residual localizes corruption (partial loads, double
    * applies, sign bugs). Postings are synthesized from orders as the
    * canonical sale pattern (debit accounts-receivable, credit revenue;
    * paid orders add a cash-debit/AR-credit settlement pair keyed by
    * o_orderstatus='F'), making every invariant exact-integer checkable:
    * the per-account trial balance hash-checks against the oracle, and
    * InvariantSpec pins the zero-sum identities the pattern exists to
    * provide. One scan, one explode to posting pairs, one rollup. */
  val q249 = GraftQuery(
    "q249_trial_balance",
    "Double-entry postings from orders: per-account trial balance, zero-sum by construction",
    (s, dir) => {
      val postings = table(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("txn"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .select(col("txn"), explode(expr(
          """CASE WHEN status = 'F' THEN array(
               struct('AR' AS acct, cents AS amt),
               struct('REVENUE' AS acct, -cents AS amt),
               struct('CASH' AS acct, cents AS amt),
               struct('AR' AS acct, -cents AS amt))
             ELSE array(
               struct('AR' AS acct, cents AS amt),
               struct('REVENUE' AS acct, -cents AS amt))
             END""")).as("p"))
        .select(col("txn"), col("p.acct").as("acct"), col("p.amt").as("amt"))
      postings.groupBy("acct")
        .agg(count(lit(1)).as("n_postings"),
          sum(when(col("amt") > 0, col("amt")).otherwise(0L)).as("debits"),
          sum(when(col("amt") < 0, -col("amt")).otherwise(0L)).as("credits"),
          sum("amt").as("balance"))
        .orderBy("acct")
    },
    Some("""
      WITH o AS (
        SELECT CAST(o_orderkey AS BIGINT) AS txn, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      postings AS (
        SELECT txn, 'AR' AS acct, cents AS amt FROM o
        UNION ALL SELECT txn, 'REVENUE', -cents FROM o
        UNION ALL SELECT txn, 'CASH', cents FROM o WHERE status = 'F'
        UNION ALL SELECT txn, 'AR', -cents FROM o WHERE status = 'F')
      SELECT acct, CAST(count(*) AS BIGINT) AS n_postings,
             CAST(sum(CASE WHEN amt > 0 THEN amt ELSE 0 END) AS BIGINT)
               AS debits,
             CAST(sum(CASE WHEN amt < 0 THEN -amt ELSE 0 END) AS BIGINT)
               AS credits,
             CAST(sum(amt) AS BIGINT) AS balance
      FROM postings
      GROUP BY acct
      ORDER BY acct"""))

  /** IDEMPOTENT CDC APPLY — retry safety as a PROVEN property, not a
    * hope: applying the same change feed twice must equal applying it
    * once, because every real pipeline eventually redelivers (driver
    * retry, replayed offsets, a re-run backfill). The mechanism is the
    * VERSION GUARD: an upsert lands only if feed.version > current
    * version, a delete only tombstones a live older row — so the second
    * apply finds every guard already satisfied and changes NOTHING. The
    * entry applies a synthesized versioned feed (updates at k%3, deletes
    * at k%7, fresh inserts) twice via the same full-outer merge, then
    * REQUIRES state₂ ≡ state₁ in-engine (an except().isEmpty guard —
    * the q58/q97 merge shape upgraded to a replay contract) and outputs
    * the per-segment rollup of the final state, which the oracle
    * expresses directly — so both the merge semantics AND the
    * idempotence claim are verified. */
  val q250 = GraftQuery(
    "q250_idempotent_merge_apply",
    "Version-guarded CDC apply: feed applied twice == once (proven), final state oracle-checked",
    (s, dir) => {
      val base = table(s, dir, "customer")
        .filter(col("c_custkey") < 900)
        .select(col("c_custkey").cast("long").as("key"),
          col("c_mktsegment").as("seg"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"),
          lit(1L).as("version"))
      val feed = base.select(col("key"), col("seg"), col("bal"))
        .withColumn("op", expr(
          "CASE WHEN key % 7 = 0 THEN 'delete' WHEN key % 3 = 0 THEN 'update' " +
            "ELSE NULL END"))
        .filter(col("op").isNotNull)
        .select(col("key"), col("op"), col("seg"),
          (col("bal") + 777L).as("bal"), lit(2L).as("version"))
        .unionByName(base.filter(col("key") % 5 === 0)
          .select((col("key") + 1000000L).as("key"), lit("insert").as("op"),
            lit("FRESH").as("seg"), col("bal"), lit(2L).as("version")))
      def apply1(state: org.apache.spark.sql.DataFrame) =
        state.join(feed.select(col("key"), col("op"), col("seg").as("f_seg"),
            col("bal").as("f_bal"), col("version").as("f_v")),
            Seq("key"), "full_outer")
          // coalesce: for state-only rows the predicate is NULL (op and
          // f_v both null) and a bare filter(!NULL) would DROP them —
          // three-valued logic, the q80 NULL-semantics lesson
          .filter(!coalesce(col("op") === "delete" &&
            (col("version").isNull || col("f_v") > col("version")),
            lit(false)))
          .select(col("key"),
            when(col("op").isNotNull && col("op") =!= "delete" &&
              (col("version").isNull || col("f_v") > col("version")),
              col("f_seg")).otherwise(col("seg")).as("seg"),
            when(col("op").isNotNull && col("op") =!= "delete" &&
              (col("version").isNull || col("f_v") > col("version")),
              col("f_bal")).otherwise(col("bal")).as("bal"),
            when(col("op").isNotNull && col("op") =!= "delete" &&
              (col("version").isNull || col("f_v") > col("version")),
              col("f_v")).otherwise(col("version")).as("version"))
          .filter(col("seg").isNotNull) // delete-of-absent leaves nothing
      val s1 = apply1(base).cache()
      val s2 = apply1(s1)
      require(s2.except(s1).isEmpty && s1.except(s2).isEmpty,
        "q250: second apply changed state — merge is not idempotent")
      s1.groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("bal").as("total_cents"),
          max("version").as("max_version"))
        .orderBy("seg")
    },
    Some("""
      WITH base AS (
        SELECT CAST(c_custkey AS BIGINT) AS key, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer WHERE c_custkey < 900),
      final AS (
        SELECT key, seg,
               CASE WHEN key % 3 = 0 THEN bal + 777 ELSE bal END AS bal,
               CASE WHEN key % 3 = 0 THEN 2 ELSE 1 END AS version
        FROM base WHERE key % 7 <> 0
        UNION ALL
        SELECT key + 1000000, 'FRESH', bal, 2
        FROM base WHERE key % 5 = 0)
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS BIGINT) AS total_cents,
             CAST(max(version) AS BIGINT) AS max_version
      FROM final
      GROUP BY seg
      ORDER BY seg"""))

  /** 4-4-5 FISCAL CALENDAR — the retail-reporting calendar q233's
    * conformed date dimension doesn't speak: quarters of 4+4+5 WEEKS
    * (every period ends on the same weekday, periods are comparable
    * across years — the reason retailers don't report by calendar
    * month), fiscal years starting Feb 1, and the week-53 remainder
    * folded into P12 (the standard convention for the 371st day). All
    * row-local integer date math: fiscal year by month test, day offset
    * from the fiscal epoch, week = offset div 7, period from the
    * cumulative-week ladder as a CASE cascade (spelled identically in
    * both engines — a lookup-array would invite off-by-one drift),
    * fiscal quarter = (period+2) div 3. The rollup shows exactly the
    * drift calendar months hide: a fiscal period's revenue never
    * matches any month's. */
  val q254 = GraftQuery(
    "q254_fiscal_445_calendar",
    "Orders mapped to a Feb-anchored 4-4-5 fiscal calendar: per-period rollup, week 53 folded to P12",
    (s, dir) => {
      table(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("d"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("fy", expr(
          "CASE WHEN month(d) >= 2 THEN year(d) ELSE year(d) - 1 END"))
        .withColumn("week", expr(
          "CAST(datediff(d, make_date(fy, 2, 1)) AS BIGINT) div 7"))
        .withColumn("period", expr(
          """CASE WHEN week < 4 THEN 1 WHEN week < 8 THEN 2
               WHEN week < 13 THEN 3 WHEN week < 17 THEN 4
               WHEN week < 21 THEN 5 WHEN week < 26 THEN 6
               WHEN week < 30 THEN 7 WHEN week < 34 THEN 8
               WHEN week < 39 THEN 9 WHEN week < 43 THEN 10
               WHEN week < 47 THEN 11 ELSE 12 END"""))
        .withColumn("fq", expr("(period + 2) div 3"))
        .groupBy(col("fy").cast("long").as("fy"),
          col("period").cast("long").as("period"),
          col("fq").cast("long").as("fq"))
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        .orderBy("fy", "period")
    },
    Some("""
      WITH o AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      f AS (
        SELECT cents,
               CASE WHEN month(d) >= 2 THEN year(d) ELSE year(d) - 1 END AS fy,
               date_diff('day',
                 make_date(CASE WHEN month(d) >= 2 THEN year(d)
                           ELSE year(d) - 1 END, 2, 1), d) // 7 AS week
        FROM o),
      p AS (
        SELECT fy, cents,
               CASE WHEN week < 4 THEN 1 WHEN week < 8 THEN 2
                    WHEN week < 13 THEN 3 WHEN week < 17 THEN 4
                    WHEN week < 21 THEN 5 WHEN week < 26 THEN 6
                    WHEN week < 30 THEN 7 WHEN week < 34 THEN 8
                    WHEN week < 39 THEN 9 WHEN week < 43 THEN 10
                    WHEN week < 47 THEN 11 ELSE 12 END AS period
        FROM f)
      SELECT CAST(fy AS BIGINT) AS fy, CAST(period AS BIGINT) AS period,
             CAST((period + 2) // 3 AS BIGINT) AS fq,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM p
      GROUP BY fy, period
      ORDER BY fy, period"""))

  /** DELETION-VECTOR merge-on-read — the lakehouse read path q116's
    * key-based delta log doesn't cover: modern table formats (Delta DVs,
    * Iceberg positional deletes) mark deleted rows by (file, row
    * position) bitmap, and every read anti-joins the scan against the
    * vector without rewriting a single data file. Exercised on real
    * files: the fact spools as TWO deterministically-sorted parquet
    * files (orderkey parity split, each sorted by orderkey — the sort
    * contract the oracle reproduces positions from); the DV is built the
    * way a DELETE builds it (scan → predicate → project `_metadata
    * .file_path`/`row_index`), here a pure POSITION predicate (every
    * 10th row plus the [100, 150) run — a bitmap run) so correctness
    * proves positional addressing, not value filtering; the DV is then
    * pinned (a production DV is a tiny persisted bitmap) and the serving
    * read is ONE scan + a broadcast ANTI-join on (file, position) — no
    * fact re-shuffle, which PlanSpec pins. The oracle never sees files:
    * it re-derives each row's position from the sort contract
    * (row_number per parity class) and applies the same bitmap
    * arithmetic — equal hashes prove the (file, row_index) addressing
    * round-trips the storage layout exactly. */
  val q275 = GraftQuery(
    "q275_deletion_vectors",
    "Positional-delete merge-on-read: (file, row_index) DV anti-join, no file rewrite",
    (s, dir) => {
      // the memo marks the spool complete only after BOTH halves are
      // written (ADVICE r10: a crash between the two writes must rebuild,
      // not serve a half spool)
      val spool = spooled("q275_dv", dir) { p =>
        val o = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        o.filter(col("o_orderkey") % 2 === 0).orderBy("o_orderkey")
          .coalesce(1).write.mode("overwrite").parquet(s"$p/even")
        o.filter(col("o_orderkey") % 2 === 1).orderBy("o_orderkey")
          .coalesce(1).write.mode("overwrite").parquet(s"$p/odd")
      }
      val scan = s.read.parquet(s"$spool/even", s"$spool/odd")
        .select(col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("ri"),
          col("o_orderkey"), col("o_totalprice"))
      // the DELETE: compute positions once, pin the vector (a production
      // DV is a persisted bitmap file loaded at read time)
      val dv = scan
        .filter(col("ri") % 10 === 3 || (col("ri") >= 100 && col("ri") < 150))
        .select("fp", "ri")
        .localCheckpoint(true)
      // the serving read: one scan, broadcast anti-join on position
      scan.join(broadcast(dv), Seq("fp", "ri"), "left_anti")
        .groupBy((col("o_orderkey") % 2).as("parity"))
        .agg(count(lit(1)).as("n_live"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("live_cents"),
          min(col("o_orderkey")).as("first_key"),
          max(col("o_orderkey")).as("last_key"))
        .orderBy("parity")
    },
    Some("""
      WITH pos AS (
        SELECT o_orderkey, o_totalprice, o_orderkey % 2 AS parity,
               row_number() OVER (PARTITION BY o_orderkey % 2
                 ORDER BY o_orderkey) - 1 AS ri
        FROM orders)
      SELECT parity, count(*) AS n_live,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS live_cents,
             min(o_orderkey) AS first_key,
             max(o_orderkey) AS last_key
      FROM pos
      WHERE NOT (ri % 10 = 3 OR (ri >= 100 AND ri < 150))
      GROUP BY parity
      ORDER BY parity"""))

  val all: Seq[GraftQuery] = Seq(q58, q59, q60, q61, q65, q66, q72, q74, q76,
    q77, q81, q85, q88, q93, q94, q97, q101, q105, q106, q109, q110, q111,
    q115, q116, q117, q120, q121, q124, q125, q126, q127, q136, q140, q142,
    q162, q164, q165, q168, q172, q173, q178, q181, q186, q188, q191,
    q195, q197, q198, q199, q205, q208, q209, q230, q231, q233, q234, q236,
    q237, q242, q243, q247, q248, q249, q250, q254, q275)
}
