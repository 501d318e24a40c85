package graft.operators

/** Non-parquet source coverage in the graded registry (SURVEY §2 "Scans /
  * sources": JSON-lines scan, CSV scan with inferSchema — the crawler
  * analog A15). Each query spools a slice of the events table into the
  * format under test, then reads it back through the real `spark.read`
  * inference path and aggregates; the oracle runs on the original parquet,
  * so a round-trip/inference bug (type widening, header handling, quoting)
  * breaks the hash.
  *
  * Only integer/string columns travel through the text formats — float
  * formatting is engine-specific, and the point here is the source plumbing,
  * not decimal round-tripping (the parquet queries cover numeric exactness).
  * Scale: schema inference samples the files (driver-side, bounded);
  * the subsequent scan/agg is an ordinary distributed plan.
  */
object Sources {

  /** JSON-lines: write → infer → aggregate. */
  val q51 = GraftQuery(
    "q51_jsonl_scan",
    "JSON-lines round-trip: write events slice, re-read with schema inference, aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q51_jsonl")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(4).write.mode("overwrite").json(spool)
      s.read.json(spool)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("event_id")).as("max_event"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             max(event_id) AS max_event
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** CSV with header + inferSchema (the reference crawler's bread and
    * butter: `Crawlers` registers csv tables exactly this way). */
  val q52 = GraftQuery(
    "q52_csv_infer_scan",
    "CSV round-trip with header + inferSchema, then aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q52_csv")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(4).write.mode("overwrite")
        .option("header", "true").csv(spool)
      s.read.option("header", "true").option("inferSchema", "true").csv(spool)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("sum_users"),
          min(col("event_id")).as("min_event"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(user_id) AS BIGINT) AS sum_users,
             min(event_id) AS min_event
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Partitioned sink + partition-pruned read-back: write events laid out
    * Hive-style by month (the layout A12/A13 discover and register), then
    * read the dataset back with a partition-value filter — the scan must
    * touch only the 3 selected directories (PlanSpec pins the
    * PartitionFilters/pruning behavior; here the oracle pins the values).
    * At 100 TB this layout choice IS the dominant performance decision:
    * a time-partitioned corpus turns month-scoped queries from full scans
    * into directory listings. */
  val q55 = GraftQuery(
    "q55_partitioned_write_prune",
    "partitionBy(day) write → partition-pruned scan of 1 week of 30 dirs → aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q55_parted")
      events(s, dir)
        .withColumn("day", dayofmonth(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(spool)
      s.read.parquet(spool)
        .filter(col("day") <= 7)
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
        .select(col("day").cast("long").as("day"), col("n"),
          col("n_users"), col("total_value"))
        .orderBy("day")
    },
    Some("""
      SELECT day(CAST(ts AS TIMESTAMP)) AS day, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      WHERE day(CAST(ts AS TIMESTAMP)) <= 7
      GROUP BY day
      ORDER BY day"""))

  /** ORC round-trip: the other columnar format a lake migration meets.
    * Unlike the text formats ORC is typed, so the value column travels
    * too (decimal-cast at the aggregate for engine-portable sums). */
  val q56 = GraftQuery(
    "q56_orc_scan",
    "ORC round-trip: write events slice as ORC, read back, aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q56_orc")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(4).write.mode("overwrite").orc(spool)
      s.read.orc(spool)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"),
          max(col("event_id")).as("max_event"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
             max(event_id) AS max_event
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Raw text lines + regexp field extraction — the weblog-shaped source
    * every lake ingests before it has schema: spark.read.text gives one
    * `value` column, regexp_extract recovers the fields, and the rest is an
    * ordinary plan. The regexes stay in whole-stage codegen; at scale this
    * is a single distributed pass with no inference step. */
  val q64 = GraftQuery(
    "q64_text_regexp_scan",
    "text-line round-trip: pipe-delimited lines -> spark.read.text -> regexp_extract -> aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q64_text")
      events(s, dir)
        .select(concat_ws("|", col("event_id"), col("user_id"), col("event_type"))
          .as("value"))
        .coalesce(4).write.mode("overwrite").text(spool)
      s.read.text(spool)
        .select(
          regexp_extract(col("value"), "^(\\d+)\\|", 1).cast("long").as("event_id"),
          regexp_extract(col("value"), "^\\d+\\|(\\d+)\\|", 1).cast("long").as("user_id"),
          regexp_extract(col("value"), "\\|([^|]+)$", 1).as("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("event_id")).as("max_event"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             max(event_id) AS max_event
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Schema evolution across parquet generations — the table whose columns
    * changed mid-history (the norm, not the exception, for a 100 TB table
    * written over years): generation 1 carries (orderkey, custkey, price),
    * generation 2 drops custkey and adds orderstatus. `mergeSchema=true`
    * unions the schemas at read time (absent columns read as NULL), which
    * is what lets ONE query span the whole history without rewriting old
    * files — the alternative at scale is a petabyte rewrite per column
    * add. Per-generation null accounting is the output: it proves which
    * columns exist where. Reference hook: the crawler re-inference path
    * (A15) is exactly schema-drift discovery. */
  val q78 = GraftQuery(
    "q78_schema_evolution",
    "mergeSchema over two parquet generations with drifted columns: unified scan + null accounting",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q78_evolve")
      val o = table(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .coalesce(2).write.mode("overwrite").parquet(s"$spool/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(2).write.mode("overwrite").parquet(s"$spool/gen=2")
      s.read.option("mergeSchema", "true").parquet(spool)
        .groupBy("gen")
        .agg(count(lit(1)).as("n"),
          count(col("o_custkey")).as("n_custkey"),
          count(col("o_orderstatus")).as("n_status"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("gen")
    },
    Some("""
      WITH g AS (
        SELECT 1 AS gen, o_custkey, CAST(NULL AS VARCHAR) AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT 2, NULL, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1)
      SELECT gen, count(*) AS n,
             count(o_custkey) AS n_custkey,
             count(o_orderstatus) AS n_status,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM g
      GROUP BY gen
      ORDER BY gen"""))

  /** Malformed-input tolerance — the crawler-ingestion reality that a
    * 100 TB feed ALWAYS contains broken records, and one poison line must
    * not kill a billion-row job (the same contract as q67's try_* family,
    * at the PARSER level): PERMISSIVE json parsing routes unparseable
    * lines into a corrupt-record column instead of throwing, the query
    * quarantines them with a count (the dead-letter audit), and the clean
    * rows aggregate normally. Corruption here is planted deterministically
    * (every event_id % 10 == 0 line is truncated mid-object) so both
    * engines derive the identical input — the operator under test is the
    * parse-and-quarantine, same plant contract as t16. */
  val q79 = GraftQuery(
    "q79_corrupt_records",
    "PERMISSIVE JSON scan: poison lines quarantined to a corrupt-record column, clean rows aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q79_corrupt")
      events(s, dir)
        .select(when(col("event_id") % 10 === 0,
            concat(lit("{\"event_id\":"), col("event_id").cast("string"), lit(",TRUNC")))
          .otherwise(to_json(struct(col("event_id"), col("user_id"),
            col("event_type"), dec2(col("value")).as("value")))).as("value"))
        .coalesce(2).write.mode("overwrite").text(spool)
      // localCheckpoint materializes the parse ONCE and detaches the JSON
      // relation from the plan: Spark refuses plans whose pruned schema is
      // the corrupt-record column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN),
      // and a downstream count() prunes exactly that way
      val parsed = s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DECIMAL(14,2), _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(spool)
        .localCheckpoint(true)
      parsed
        .groupBy(col("_bad").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value")).cast("double").as("total_value"))
        .orderBy("quarantined")
    },
    Some("""
      SELECT event_id % 10 = 0 AS quarantined, count(*) AS n,
             count(DISTINCT CASE WHEN event_id % 10 <> 0 THEN user_id END)
               AS n_users,
             CAST(sum(CASE WHEN event_id % 10 <> 0
                           THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE)
               AS total_value
      FROM events
      GROUP BY 1
      ORDER BY 1"""))

  /** File provenance via the hidden `_metadata` struct — the lineage
    * audit every regulated pipeline needs: which INPUT FILE did each row
    * come from, row counts and key ranges per file, without any
    * application-level bookkeeping columns baked into the data. Spark
    * exposes `_metadata.file_path` (+ size/mod-time) on every file-source
    * scan for free; the query normalizes the nondeterministic part-file
    * names to their Hive partition directory so the report is
    * deterministic and oracle-checkable (the oracle derives the same dirs
    * from the partition values). Reference hook: A13's
    * add_partitions_by_location walks exactly these directories. */
  val q82 = GraftQuery(
    "q82_file_provenance",
    "_metadata.file_path lineage: per-input-file row counts and key ranges",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q82_prov")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite")
        .partitionBy("event_type").parquet(spool)
      s.read.parquet(spool)
        .select(col("event_id"), col("event_type"),
          col("_metadata.file_path").as("fp"))
        .withColumn("partition_dir",
          regexp_extract(col("fp"), "(event_type=[^/]+)", 1))
        .groupBy("partition_dir")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fp")).as("n_files"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .orderBy("partition_dir")
    },
    Some("""
      SELECT 'event_type=' || event_type AS partition_dir,
             count(*) AS n_rows,
             CAST(1 AS BIGINT) AS n_files,
             min(event_id) AS min_event,
             max(event_id) AS max_event
      FROM events
      GROUP BY event_type
      ORDER BY partition_dir"""))

  /** XML round-trip — Spark 4's built-in XML datasource (the spark-xml
    * package merged into core), the format enterprise feeds still arrive
    * in: write a region/nation join as XML rows, read back with an
    * explicit schema (no inference pass — at 100 TB schema-on-read with a
    * declared schema is one distributed scan; `rowTag` selects the record
    * element). Numeric + string fields round-trip typed; the aggregate
    * matches the same join computed straight from parquet. */
  val q90 = GraftQuery(
    "q90_xml_scan",
    "XML round-trip: nation⋈region rows as XML (rowTag) → declared-schema read → aggregate",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q90_xml")
      table(s, dir, "nation")
        .join(table(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .coalesce(1).write.mode("overwrite")
        .option("rowTag", "nation").option("rootTag", "nations")
        .format("xml").save(spool)
      s.read
        .schema("n_nationkey LONG, n_name STRING, r_name STRING")
        .option("rowTag", "nation")
        .format("xml").load(spool)
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          max(col("n_nationkey")).as("max_key"),
          min(col("n_name")).as("first_nation"))
        .orderBy("r_name")
    },
    Some("""
      SELECT r.r_name, count(*) AS n_nations,
             max(n.n_nationkey) AS max_key,
             min(n.n_name) AS first_nation
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
      ORDER BY r.r_name"""))

  /** Dynamic partition overwrite — the idempotent-backfill write mode
    * every partitioned warehouse depends on (and the semantic the
    * reference's add/delete-partition surface manipulates by hand,
    * gluettalax.py:428-482): OVERWRITE in dynamic mode replaces ONLY the
    * partitions the incoming frame touches, leaving sibling partitions'
    * files untouched — static mode would truncate the whole table first.
    * Exercised for real on files: v1 writes all five event_type
    * partitions; v2 overwrites just the `click` partition with corrected
    * (+10.00) values via `partitionOverwriteMode=dynamic`; the read-back
    * aggregate must see corrected clicks AND intact originals everywhere
    * else — which is exactly what the oracle expresses from the source
    * table. A backfill at 100 TB rewrites one day-partition, not the
    * table; this is that contract, oracle-gated. */
  val q123 = GraftQuery(
    "q123_dynamic_partition_overwrite",
    "Dynamic-mode partitioned overwrite: backfill one partition, siblings untouched, read-back audited",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q123_dynpart")
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        dec2(col("value")).as("value"), col("event_type"))
      ev.coalesce(4).write.mode("overwrite")
        .partitionBy("event_type").parquet(spool)
      ev.filter(col("event_type") === "click")
        .withColumn("value",
          (col("value") + lit(BigDecimal("10.00"))).cast("decimal(14,2)"))
        .coalesce(4).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(spool)
      s.read.parquet(spool)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value")).cast("double").as("total"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))
                      + CASE WHEN event_type = 'click'
                             THEN CAST(10.00 AS DECIMAL(14,2))
                             ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE) AS total,
             count(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** The custom DataSource V2 connector end to end (see
    * graft.sources.SyntheticEvents for the connector itself): range
    * predicates on the ordered id column push into the scan and PRUNE
    * GENERATOR PARTITIONS at planning time (2 of 8 slices planned for
    * the [25k, 50k) window — PlanSpec reads it off the scan
    * description), and column pruning reaches the row generator (only
    * requested fields are materialized). Row content is pure id
    * arithmetic, so the oracle regenerates the identical table from
    * DuckDB's range() — every connector row is value-checked, not merely
    * counted. */
  val q128 = GraftQuery(
    "q128_dsv2_custom_source",
    "Custom DSv2 connector: pushed bounds prune 6 of 8 partitions, rows oracle-regenerated",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SyntheticEvents")
        .option("rows", "100000").option("parts", "8")
        .load()
        .filter(col("event_id") >= 25000L && col("event_id") < 50000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy("event_type")
    },
    Some("""
      WITH g AS (
        SELECT i AS event_id, i % 97 AS user_id,
               ['view','click','signup','purchase','error'][CAST(i % 5 AS INTEGER) + 1]
                 AS event_type,
               i * 37 % 100000 AS cents
        FROM (SELECT unnest(range(25000, 50000)) AS i))
      SELECT event_type, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             count(DISTINCT user_id) AS n_users,
             min(event_id) AS first_id, max(event_id) AS last_id
      FROM g
      GROUP BY event_type
      ORDER BY event_type"""))

  /** The connector WRITE path (graft.sources.DigestSink): the part table
    * flows through a DSv2 BatchWrite — per-task DataWriters fold their
    * partition into (count, 40-bit-md5-sum) commit messages, the
    * driver-side commit combines them, and the COMMITTED state (the only
    * thing the protocol makes visible) comes back as the query result.
    * The digest is an order-independent sum, so the value is partition-
    * layout-free, and the oracle recomputes the identical checksum in
    * SQL — the publish-then-reconcile contract of a real data-movement
    * job, exercised through the real commit-message channel (works
    * unchanged on a 1000-executor cluster: messages are the only
    * cross-JVM state). */
  val q129 = GraftQuery(
    "q129_dsv2_digest_sink",
    "DSv2 BatchWrite commit protocol: per-task digest messages folded at commit, oracle-checked",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q129_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      table(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name"))
        .write.format("graft.sources.DigestSink")
        .option("runId", key).mode("append").save()
      val (n, d) = graft.sources.DigestSink.committed(key)
      s.range(1).select(lit(n).as("n_rows"), lit(d).as("digest_sum"))
    },
    Some("""
      SELECT count(*) AS n_rows,
             CAST(sum(CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR)
                    || '|' || p_name), 1, 10) AS BIGINT)) AS BIGINT) AS digest_sum
      FROM part"""))

  /** The composed DSv2 ROUND TRIP (VERDICT r8 item 6): q128 proved the
    * read-side pushdown, q129 the write-side commit protocol — q143 runs
    * BOTH through one connector (graft.sources.MemTable). Events flow
    * through a partitioned BatchWrite (per-task writers group rows by
    * event_type, commit messages carry the groups, the driver publishes
    * the snapshot in one atomic swap — latest commit wins, the
    * Iceberg/Delta shape), then the read REPLAYS through the connector
    * with an In(event_type) predicate that prunes partitions at PLANNING
    * time (2 of 5 groups planned — PlanSpec reads it off the scan
    * description) and a projection that prunes columns before the reader
    * materializes anything. The reference's add_partition/del_partition
    * lifecycle (gluettalax.py:460-473, 773) is this contract at catalog
    * granularity: partition-atomic visibility + partition-value pruning.
    * The oracle replays the whole round trip from the events table —
    * the connector's committed state is value-checked, not counted. */
  val q143 = GraftQuery(
    "q143_dsv2_roundtrip",
    "DSv2 write-then-read round trip: snapshot commit, partition pruning, column pruning",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q143_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
        .write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        // overwrite = snapshot swap: the round trip is idempotent across
        // re-runs in one JVM (append semantics would accumulate — r11's
        // SupportsTruncate split made INSERT INTO a real append)
        .mode("overwrite").save()
      s.read.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        .load()
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             count(DISTINCT user_id) AS n_users,
             min(event_id) AS first_id, max(event_id) AS last_id
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
      ORDER BY event_type"""))

  /** DYNAMIC PARTITION PRUNING end to end — the runtime half of the
    * pruning story (q55 pins static predicate pushdown; partition
    * pruning from a JOIN can't be static because the qualifying keys
    * only exist after the dim filter runs): the fact spools out
    * partitioned by order month, the month dimension (a tiny derived
    * calendar) filters to one year, and Spark's DPP injects the dim's
    * surviving keys into the fact scan as a runtime partition filter —
    * at 100 TB this is the difference between scanning 12 months and
    * scanning 80. PlanSpec pins the `dynamicpruning` expression ON the
    * fact scan; the result (revenue per qualifying month) hash-matches
    * the oracle computed from the unpartitioned source table. The spool
    * rewrites per run (q123's posture), so no cross-sf staleness. */
  val q187 = GraftQuery(
    "q187_dynamic_partition_pruning",
    "Partitioned fact + filtered month dim: DPP prunes fact partitions at runtime",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q187_dpp")
      table(s, dir, "orders")
        .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("m"))
        .coalesce(4).write.mode("overwrite").partitionBy("m").parquet(spool)
      val fact = s.read.parquet(spool)
      val dim = s.range(0, 80)
        .select(date_format(
          add_months(lit("1995-01-01").cast("date"), col("id").cast("int")),
          "yyyy-MM").as("m"))
        .withColumn("yr", substring(col("m"), 1, 4))
        .filter(col("yr") === "1997")
      fact.join(broadcast(dim), Seq("m"))
        .groupBy("m")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        .orderBy("m")
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS m,
             count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') LIKE '1997-%'
      GROUP BY 1
      ORDER BY m"""))

  /** OPTIMISTIC CONCURRENCY on the DSv2 snapshot store — the
    * Iceberg/Delta commit-conflict contract q143's round trip left
    * unexercised: every writer runs the read-modify-write loop (read the
    * current snapshot, apply its delta, commit pinned to the base
    * VERSION it read), and a commit whose base moved is REJECTED at the
    * single publish point — task work is never gated (that is
    * optimism's bet), only the reference swap is. The entry replays the
    * canonical interleaving: A seeds v1; B upserts v1→v2; C attempts
    * its own upsert still pinned to v1 and is rejected with the
    * committed snapshot untouched; C re-reads at v2 and lands v3. The
    * audit records each attempt's outcome, the store version, and the
    * rows visible to readers after it — proving rejected commits leak
    * nothing. Each run uses a fresh table id, so version numbers are
    * deterministic. Reference hook: gluettalax.py's partition lifecycle
    * (A12/A13) is this contract at catalog granularity. */
  val q189 = GraftQuery(
    "q189_optimistic_concurrency",
    "DSv2 commit conflict: read-modify-write upserts, stale base rejected, retry lands",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.sources.MemTable
      val key = s"q189_${runTag()}"
      val fmt = "graft.sources.MemTable"
      def slice(t: String) = events(s, dir)
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          expr("CAST(user_id % 4 AS STRING)").as("bucket"))
      def write(df: org.apache.spark.sql.DataFrame, expected: Option[Long]): Unit = {
        val w = df.write.format(fmt)
          .option("runId", key).option("partitionCol", "bucket")
        // full-state replace: each writer computes the complete new
        // snapshot and overwrites (the connector appends on mode append)
        expected.fold(w)(v => w.option("expectedVersion", v.toString))
          .mode("overwrite").save()
      }
      def readBack() = s.read.format(fmt)
        .option("runId", key).option("partitionCol", "bucket").load()
      def version() = MemTable.store.get(key).map(_.version).getOrElse(0L)
      val audit = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long, Long)]
      // A seeds the table
      write(slice("click"), None)
      audit += ((1L, "A_base", "committed", version(), readBack().count()))
      // B: read-modify-write pinned to the version it read
      val vB = version()
      write(readBack().unionByName(slice("purchase")), Some(vB))
      audit += ((2L, "B_rmw", "committed", version(), readBack().count()))
      // C: same loop, but pinned to the now-stale base version
      val outcome =
        try { write(readBack().unionByName(slice("signup")), Some(vB)); "committed" }
        catch {
          case e: Throwable =>
            val conflict = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(_.isInstanceOf[MemTable.CommitConflictException])
            if (conflict) "conflict" else throw e
        }
      audit += ((3L, "C_stale", outcome, version(), readBack().count()))
      // C retries against the current version and lands
      write(readBack().unionByName(slice("signup")), Some(version()))
      audit += ((4L, "C_retry", "committed", version(), readBack().count()))
      import s.implicits._
      audit.toSeq
        .toDF("step", "writer", "outcome", "version_after", "n_rows_visible")
        .orderBy("step")
    },
    Some("""
      WITH c AS (
        SELECT count(*) FILTER (event_type = 'click') AS nc,
               count(*) FILTER (event_type = 'purchase') AS np,
               count(*) FILTER (event_type = 'signup') AS ns
        FROM events)
      SELECT step, writer, outcome, version_after, n_rows_visible
      FROM c, (
        SELECT 1 AS ord FROM range(1)) dummy,
        LATERAL (
          SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), 'A_base',  'committed', CAST(1 AS BIGINT),
             c.nc),
            (2, 'B_rmw',   'committed', 2, c.nc + c.np),
            (3, 'C_stale', 'conflict',  2, c.nc + c.np),
            (4, 'C_retry', 'committed', 3, c.nc + c.np + c.ns))
            v(step, writer, outcome, version_after, n_rows_visible))
      ORDER BY step"""))

  /** SQL through a registered V2 CATALOG PLUGIN — the engine-side answer
    * to the reference's entire domain (gluettalax.py fronts a metastore
    * with a CLI; [[graft.sources.GraftSparkCatalog]] fronts the same
    * store through Spark's native TableCatalog API): the table is
    * CREATED with a `partitionedBy` clause that flows into the
    * connector's partition layout, populated through the V2 writeTo
    * path, and then queried with PLAIN SQL and a three-part identifier —
    * resolution runs catalog → loadTable → scan, and the bucket
    * predicate still prunes partitions at planning time (PlanSpec reads
    * the planned/total counts off the scan). One store serves both the
    * programmatic DSv2 path (q143/q189) and the SQL catalog path — the
    * single-source-of-truth property a catalog exists to provide. */
  val q190 = GraftQuery(
    "q190_sql_catalog_plugin",
    "Three-part-identifier SQL through a registered TableCatalog, partition pruning intact",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tbl = s"graft_cat.corpus.ev_${runTag()}"
      events(s2, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          expr("CAST(user_id % 4 AS STRING)").as("bucket"))
        .writeTo(tbl).partitionedBy(col("bucket")).create()
      s2.sql(
        s"""SELECT bucket, count(*) AS n, sum(cents) AS total_cents,
                   count(DISTINCT user_id) AS n_users
            FROM $tbl
            WHERE bucket IN ('0', '1')
            GROUP BY bucket
            ORDER BY bucket""")
    },
    Some("""
      SELECT CAST(user_id % 4 AS VARCHAR) AS bucket, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             count(DISTINCT user_id) AS n_users
      FROM events
      WHERE user_id % 4 IN (0, 1)
      GROUP BY 1
      ORDER BY bucket"""))

  /** STORAGE-PARTITIONED JOIN — the zero-shuffle co-located join Iceberg
    * ships as its flagship scale feature, reproduced on this connector:
    * [[graft.sources.MemTable]] scans now REPORT their grouping
    * (KeyGroupedPartitioning over the partition column, each split
    * naming its partition value via HasPartitionKey), so two tables
    * partitioned on the same column join with NO exchange on either
    * side — at 100 TB this deletes the two largest shuffles a
    * fact-to-fact join pays. Both sides aggregate per (bucket, user)
    * first — KeyGrouped(bucket) already satisfies that clustering, so
    * the rollups are exchange-free too — then sort-merge join under the
    * SPJ handshake (`merge` hint keeps the demo off the broadcast
    * path; the pin is ZERO hash exchanges in the whole plan). Confs
    * scope to a fresh session (q122's discipline: session-global knobs
    * never leak into sibling queries). */
  val q192 = GraftQuery(
    "q192_storage_partitioned_join",
    "Two co-partitioned DSv2 tables join with zero exchanges (storage-partitioned join)",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat") ++ Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        // join keys (bucket, user) are a SUPERSET of the partition keys
        // (bucket); co-partitioning on the subset is exactly SPJ's case,
        // gated by this conf (default true = exact match only)
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.shuffle.partitions" -> "4"): _*)
      val tag = runTag()
      def sideTable(t: String): String = {
        val tbl = s"graft_cat.spj.${t}_$tag"
        events(s2, dir).filter(col("event_type") === t)
          .select(col("event_id"), col("user_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
            expr("CAST(user_id % 4 AS STRING)").as("bucket"))
          .writeTo(tbl).partitionedBy(col("bucket")).create()
        tbl
      }
      val clicks = s2.table(sideTable("click"))
        .groupBy("bucket", "user_id")
        .agg(count(lit(1)).as("n_clicks"))
      val purchases = s2.table(sideTable("purchase"))
        .groupBy("bucket", "user_id")
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("purchase_cents"))
      clicks.hint("merge")
        .join(purchases, Seq("bucket", "user_id"))
        .select(col("user_id"), col("n_clicks"), col("n_purchases"),
          col("purchase_cents"))
        .orderBy("user_id")
    },
    Some("""
      WITH c AS (
        SELECT user_id, count(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY user_id),
      p AS (
        SELECT user_id, count(*) AS n_purchases,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS purchase_cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT c.user_id, c.n_clicks, p.n_purchases, p.purchase_cents
      FROM c JOIN p USING (user_id)
      ORDER BY user_id"""))

  /** MIGRATION SIGN-OFF by order-independent digest — the check a lake
    * migration publishes before cutting over: the same rows, read back
    * through every format hop (parquet source → CSV staging → ORC
    * target), must produce the SAME content digest, where the digest is
    * q129's sum-of-md5-prefixes — order-independent (a sum), 40 bits
    * per row so 2²³ rows fit a long, and computable in pure SQL on both
    * engines so the oracle verifies the VALUE, not just row counts.
    * Equal digests prove the text hop didn't mangle types, quoting, or
    * encodings for the integer/string projection; a single flipped byte
    * in one row breaks the hash. Each hop is one distributed pass; the
    * digest aggregate is a 1-row fold (map-side combined). */
  val q194 = GraftQuery(
    "q194_migration_digest",
    "Cross-format migration audit: parquet -> CSV -> ORC, one content digest for all hops",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val proj = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val csvSpool = spoolDir("q194_csv")
      val orcSpool = spoolDir("q194_orc")
      proj.coalesce(4).write.mode("overwrite")
        .option("header", "true").csv(csvSpool)
      val fromCsv = s.read.option("header", "true")
        .schema(proj.schema).csv(csvSpool)
      fromCsv.coalesce(4).write.mode("overwrite").orc(orcSpool)
      val fromOrc = s.read.orc(orcSpool)
      def hop(name: String, df: org.apache.spark.sql.DataFrame) = df
        .select(expr(
          """CAST(conv(substring(md5(concat_ws('|',
               CAST(event_id AS STRING), CAST(user_id AS STRING),
               event_type)), 1, 10), 16, 10) AS BIGINT)""").as("d"))
        .agg(count(lit(1)).as("n_rows"), sum("d").as("digest"))
        .select(lit(name).as("hop"), col("n_rows"), col("digest"))
      hop("1_parquet", proj)
        .unionByName(hop("2_csv", fromCsv))
        .unionByName(hop("3_orc", fromOrc))
        .orderBy("hop")
    },
    Some("""
      WITH d AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                      || '|' || CAST(user_id AS VARCHAR)
                      || '|' || event_type), 1, 10) AS BIGINT)) AS BIGINT)
                 AS digest
        FROM events)
      SELECT '1_parquet' AS hop, n_rows, digest FROM d
      UNION ALL SELECT '2_csv', n_rows, digest FROM d
      UNION ALL SELECT '3_orc', n_rows, digest FROM d
      ORDER BY hop"""))

  /** PRIMARY-KEY enforcement at the WRITE BARRIER — q81's uniqueness
    * check runs after the fact and can only report corruption; a
    * warehouse-grade table PREVENTS it: with a declared primary key,
    * the MemTable commit validates uniqueness across every task's rows
    * at the single point where that is checkable without a shuffle
    * (the driver sees all commit messages), and a violating job is
    * rejected whole — nothing publishes, the previous snapshot stands.
    * The entry replays the canonical sequence: a clean keyed write
    * lands; a write containing a duplicated key is rejected (the
    * snapshot provably untouched — version and readable rows
    * unchanged); a corrected retry lands. Audit rows carry outcome,
    * store version, and reader-visible counts — the same ledger shape
    * as q189's concurrency audit, here for INTEGRITY. */
  val q200 = GraftQuery(
    "q200_pk_write_enforcement",
    "Declared primary key rejects a duplicate-bearing commit atomically; retry lands",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.sources.MemTable
      val key = s"q200_${runTag()}"
      val fmt = "graft.sources.MemTable"
      def write(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format(fmt)
          .option("runId", key).option("partitionCol", "bucket")
          .option("primaryKey", "event_id")
          .mode("overwrite").save()
      def readBack() = s.read.format(fmt)
        .option("runId", key).option("partitionCol", "bucket").load()
      def version() = MemTable.store.get(key).map(_.version).getOrElse(0L)
      val clicks = events(s, dir).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          expr("CAST(user_id % 4 AS STRING)").as("bucket"))
      val audit = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long, Long)]
      write(clicks)
      audit += ((1L, "clean_write", "committed", version(), readBack().count()))
      val outcome =
        try {
          write(clicks.unionByName(clicks.limit(5))) // 5 duplicated keys
          "committed"
        } catch {
          case e: Throwable =>
            val pkViolation = Iterator.iterate(e)(_.getCause)
              .takeWhile(_ != null)
              .exists(_.isInstanceOf[MemTable.CommitConflictException])
            if (pkViolation) "rejected" else throw e
        }
      audit += ((2L, "dup_write", outcome, version(), readBack().count()))
      write(clicks) // corrected retry
      audit += ((3L, "retry", "committed", version(), readBack().count()))
      import s.implicits._
      audit.toSeq
        .toDF("step", "writer", "outcome", "version_after", "n_rows_visible")
        .orderBy("step")
    },
    Some("""
      WITH c AS (
        SELECT count(*) AS nc FROM events WHERE event_type = 'click')
      SELECT step, writer, outcome, version_after, n_rows_visible
      FROM c, LATERAL (
        SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'clean_write', 'committed', CAST(1 AS BIGINT),
           c.nc),
          (2, 'dup_write', 'rejected', 1, c.nc),
          (3, 'retry', 'committed', 2, c.nc))
          v(step, writer, outcome, version_after, n_rows_visible))
      ORDER BY step"""))

  /** TOP-N PUSHDOWN + STATISTICS-DRIVEN BROADCAST — the two DSv2 read
    * contracts q128/q143 did not yet exercise, composed into one
    * leaderboard query. A per-user spend rollup commits to the MemTable
    * connector; the read-back asks for ORDER BY cents DESC, user_id
    * LIMIT 10 and the connector serves the cut ITSELF
    * ([[graft.sources.MemScanBuilder.pushTopN]] — Spark plans neither a
    * Sort nor a Limit over the scan; at 100 TB a sorted-index source
    * answers top-k from one index slice instead of sorting the table).
    * The 10-row result then joins back to the full events fact with NO
    * broadcast hint: the scan reports exact post-pushdown statistics
    * ([[org.apache.spark.sql.connector.read.SupportsReportStatistics]]),
    * so Catalyst's own size-based join selection broadcasts it — the
    * production posture for catalog tables whose manifests carry sizes
    * (a DSv2 relation without stats defaults to Long.MaxValue and would
    * sort-merge this join). PlanSpec pins both: `pushedTopN=...` in the
    * scan description and a hint-free BroadcastHashJoin. Ties on cents
    * break by user_id, so the cut is deterministic and the oracle
    * replays it exactly. */
  val q212 = GraftQuery(
    "q212_topn_pushdown_stats_broadcast",
    "DSv2 top-N pushdown serves the cut source-side; reported stats broadcast the join hint-free",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q212_${runTag()}"
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"),
          expr("CAST(user_id % 8 AS STRING)").as("bucket"),
          col("cents"), col("n_events"))
        .write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "bucket")
        .mode("append").save()
      val top = s.read.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "bucket").load()
        .select("user_id", "cents", "n_events")
        .orderBy(col("cents").desc, col("user_id"))
        .limit(10) // pushed: the connector sorts + cuts, Spark plans no Sort
      events(s, dir) // no broadcast() — the scan's reported stats decide
        .join(top, "user_id")
        .groupBy(col("user_id"), col("cents"), col("n_events"))
        .agg(count(when(col("event_type") === "click", 1)).as("n_clicks"))
        .orderBy(col("cents").desc, col("user_id"))
    },
    Some("""
      WITH u AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               count(*) AS n_events
        FROM events GROUP BY user_id),
      top AS (
        SELECT * FROM u ORDER BY cents DESC, user_id LIMIT 10)
      SELECT t.user_id, t.cents, t.n_events,
             count(*) FILTER (WHERE e.event_type = 'click') AS n_clicks
      FROM top t JOIN events e USING (user_id)
      GROUP BY t.user_id, t.cents, t.n_events
      ORDER BY t.cents DESC, t.user_id"""))

  /** AGGREGATE PUSHDOWN end to end ([[graft.sources.MemScanBuilder
    * .pushAggregation]]) — the last rung of the DSv2 read-contract
    * ladder (q128 filters/columns, q212 top-N/limit/statistics, q216
    * aggregates): a COUNT/SUM/MIN/MAX-per-partition query against the
    * connector is answered BY the connector, completely — Spark plans
    * no Aggregate node at all, just a scan of one pre-aggregated row
    * per partition group (PlanSpec pins both the `pushedAggregates`
    * description and the aggregate-free plan). This is the reference's
    * `list_partitions` width rollup (gluettalax.py:492-514) as a scan
    * contract: a manifest-backed table answers statistics questions
    * from its manifests — at 100 TB the difference between reading
    * table metadata and reading the table. A non-pushable shape (AVG
    * over a filter the connector refuses) is checked in PlanSpec to
    * still aggregate normally — refusal, not wrong answers. */
  val q216 = GraftQuery(
    "q216_dsv2_aggregate_pushdown",
    "COUNT/SUM/MIN/MAX per partition answered inside the connector: no Aggregate node planned",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q216_${runTag()}"
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
        .write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        .mode("append").save()
      s.read.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type").load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             min(event_id) AS first_id, max(event_id) AS last_id
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** RUNTIME FILTERING through the connector ([[graft.sources.MemScan
    * .filter]]) — q187's dynamic partition pruning, at the DSv2 seam: the
    * category dimension's surviving event types exist only AFTER its
    * filter runs, so no static pushdown can prune the fact; Spark
    * evaluates the broadcast dim first and hands the surviving join keys
    * back to the scan at EXECUTION time ([[org.apache.spark.sql
    * .connector.read.SupportsRuntimeFiltering]]) — partitions outside
    * the set never plan a split (PlanSpec reads the connector's pruning
    * ledger: 5 committed partitions → 2 planned, and pins the
    * `RuntimeFilters` on the scan). This is the seam Iceberg/Delta use
    * for runtime file skipping; at 100 TB it is the difference between
    * scanning 2 partitions and 5 because a JOIN said so. */
  val q217 = GraftQuery(
    "q217_dsv2_runtime_filtering",
    "Join-driven runtime partition pruning inside the connector: 5 committed -> 2 scanned",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q217_${runTag()}"
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
        .write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        .mode("append").save()
      val fact = s.read.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type").load()
      // dim built over Range, not a LocalRelation: ConvertToLocalRelation
      // would fold a literal Seq's filter away before the DPP rule looks
      // for a selective predicate on the pruning side (q187's discipline)
      val dim = s.range(0, 5)
        .select(
          element_at(array(lit("click"), lit("view"), lit("purchase"),
            lit("signup"), lit("error")), (col("id") + 1).cast("int"))
            .as("event_type"),
          element_at(array(lit("engage"), lit("engage"), lit("convert"),
            lit("convert"), lit("ops")), (col("id") + 1).cast("int"))
            .as("category"))
        .filter(col("category") === "engage")
      fact.join(broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             count(DISTINCT user_id) AS n_users
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY event_type
      ORDER BY event_type"""))

  /** METADATA COLUMNS ([[graft.sources.MemTableImpl.metadataColumns]]) —
    * the `_metadata` contract of file sources (path, mod time) at TABLE
    * granularity: `_partition` (which partition served the row) and
    * `_commit_version` (which snapshot published it) resolve only when
    * NAMED — `SELECT *` never sees them — and the reader serves them
    * from split-level state, never widening stored rows. The entry
    * commits TWICE (latest-commit-wins, so rows are identical but the
    * version advances to 2) and reads a provenance rollup grouped by
    * `_partition`: row counts per partition AND proof every row is
    * served from snapshot version 2 — the row-level provenance question
    * ("which commit produced what I'm reading") that q72's snapshot
    * diff answers only at table level. */
  val q220 = GraftQuery(
    "q220_dsv2_metadata_columns",
    "_partition/_commit_version metadata columns: provenance rollup from split-level state",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q220_${runTag()}"
      def write(): Unit = events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
        .write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        .mode("overwrite").save() // full-state swap (r11: append now appends)
      write(); write() // second commit swaps the snapshot: version 2
      s.read.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type").load()
        .select(col("_partition"), col("_commit_version"), col("cents"))
        .groupBy(col("_partition"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          min(col("_commit_version")).as("min_version"),
          max(col("_commit_version")).as("max_version"))
        .orderBy("_partition")
    },
    Some("""
      SELECT event_type AS _partition, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(2 AS BIGINT) AS min_version,
             CAST(2 AS BIGINT) AS max_version
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** COLUMNAR (VECTORIZED) READ PATH ([[graft.sources.MemReaderFactory
    * .supportColumnarReads]]) — the remaining rung of the DSv2 read
    * ladder and the throughput mechanism every fast scan rides: the
    * connector hands Spark 1024-row [[ColumnarBatch]]es of on-heap
    * column vectors instead of row-at-a-time InternalRows, whole-stage
    * codegen consumes them through its vectorized loop, and the plan
    * carries the scan under a ColumnarToRow boundary (PlanSpec pins the
    * boundary AND that the row-based read of the same snapshot plans
    * without it). Opt-in per read (`columnar=true`) so every previously
    * pinned MemTable plan is untouched. Composes with the rest of the
    * contract: the partition filter below still prunes splits at
    * planning time and column pruning still narrows the vectors — the
    * batch carries exactly the 2 requested columns. The aggregate is
    * oracle-checked, so the vectorized path is value-proven, not just
    * plan-proven. */
  val q226 = GraftQuery(
    "q226_columnar_scan",
    "DSv2 vectorized read: ColumnarBatch-serving reader under pruned partitions, oracle-checked",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val key = s"q226_${runTag()}"
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
        .write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        .mode("append").save()
      s.read.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "event_type")
        .option("columnar", "true").load()
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("cents").as("total_cents"),
          expr("sum(cents * (user_id % 7))").as("weighted_cents"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(sum(CAST(round(value * 100) AS BIGINT) * (user_id % 7))
               AS BIGINT) AS weighted_cents
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
      ORDER BY event_type"""))

  /** PARTITION-SPEC EVOLUTION — the layout-axis sibling of q78's
    * column-axis schema evolution (and the Iceberg capability that
    * motivates spec ids): a table that changed HOW it partitions
    * mid-life keeps its history under the OLD spec (here by month) and
    * writes new data under the NEW spec (by event_type) — the 100 TB
    * alternative is rewriting every historical file on the day the
    * partition key changes. One read spans both generations: the
    * event_type predicate reaches gen 2 as PLANNING-TIME partition
    * pruning (only the click/ directory is listed) and gen 1 as a
    * pushed DATA filter (its directories are month-keyed — pruning
    * can't help, the row filter must); PlanSpec pins both plan facts.
    * Generations split deterministically by event_id modulus (the
    * synthesis-by-modulus discipline) so the oracle replays the split
    * exactly; the per-(spec, month) audit proves neither generation
    * lost or leaked rows across the spec boundary. */
  val q227 = GraftQuery(
    "q227_partition_spec_evolution",
    "Two partition specs, one read: pruned new-spec scan + row-filtered old-spec scan, audited",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spool = spoolDir("q227_specevo")
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"), col("ts"))
      // gen 1 (spec A: partitioned by month) — the table's first life
      ev.filter(col("event_id") % 3 === 0)
        .withColumn("m", date_format(col("ts"), "yyyy-MM"))
        .coalesce(4).write.mode("overwrite").partitionBy("m")
        .parquet(s"$spool/specA")
      // gen 2 (spec B: partitioned by event_type) — after the evolution
      ev.filter(col("event_id") % 3 =!= 0)
        .coalesce(4).write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$spool/specB")
      val g1 = s.read.parquet(s"$spool/specA")
        .filter(col("event_type") === "click") // data filter (pushed)
        .select(lit(1L).as("spec_id"), col("m").as("month"), col("cents"))
      val g2 = s.read.parquet(s"$spool/specB")
        .filter(col("event_type") === "click") // partition PRUNING
        .select(lit(2L).as("spec_id"),
          date_format(col("ts"), "yyyy-MM").as("month"), col("cents"))
      g1.unionByName(g2)
        .groupBy("spec_id", "month")
        .agg(count(lit(1)).as("n"), sum("cents").as("click_cents"))
        .orderBy("spec_id", "month")
    },
    Some("""
      SELECT CASE WHEN event_id % 3 = 0 THEN 1 ELSE 2 END AS spec_id,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS click_cents
      FROM events
      WHERE event_type = 'click'
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** WRITE-AUDIT-PUBLISH (WAP) — the Iceberg-popularized release gate
    * that keeps bad batches out of serving tables: a new batch lands in
    * STAGING, per-partition audits run against it, and only the
    * partitions that PASS are atomically published (dynamic partition
    * overwrite, q123's mechanics) over the serving baseline — a failing
    * partition's readers keep seeing the last good version, never the
    * poisoned one. Exercised for real on files: serving starts at v0
    * (the raw events), the staged v1 adjusts every value +5.00 — except
    * the 'error' partition, whose batch is corrupted by construction
    * (−1000.00, guaranteeing negative values), so the value≥0 audit
    * fails exactly that partition. The entry's output joins the audit
    * ledger with the post-publish serving aggregates: passing types show
    * v1, the failed type PROVABLY still serves v0 — the oracle expresses
    * that mixed expectation directly from the source table, so the gate
    * is hash-verified, not just asserted. */
  val q246 = GraftQuery(
    "q246_write_audit_publish",
    "WAP release gate: stage, per-partition audit, publish only passing partitions; failed one serves v0",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val staging = spoolDir("q246_staging")
      val serving = spoolDir("q246_serving")
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        dec2(col("value")).as("value"), col("event_type"))
      // serving baseline v0
      ev.coalesce(4).write.mode("overwrite")
        .partitionBy("event_type").parquet(serving)
      // stage v1: +5.00 everywhere, 'error' batch corrupted
      val v1 = ev.withColumn("value",
        when(col("event_type") === "error",
          (col("value") - lit(BigDecimal("1000.00"))).cast("decimal(14,2)"))
          .otherwise((col("value") + lit(BigDecimal("5.00")))
            .cast("decimal(14,2)")))
      v1.coalesce(4).write.mode("overwrite")
        .partitionBy("event_type").parquet(staging)
      // audit the STAGED data per partition
      val audit = s.read.parquet(staging)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_staged"),
          sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_bad"))
        .withColumn("verdict",
          when(col("n_bad") === 0, lit("pass")).otherwise(lit("fail")))
      val passing = audit.filter(col("verdict") === "pass")
        .select(col("event_type").as("t")).collect().map(_.getString(0))
      // publish: dynamic overwrite ONLY the passing partitions
      s.read.parquet(staging)
        .filter(col("event_type").isin(passing.toSeq: _*))
        .coalesce(4).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(serving)
      val served = s.read.parquet(serving)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value")).cast("double").as("total"))
      audit.join(served, Seq("event_type"))
        .select("event_type", "n_staged", "n_bad", "verdict", "n", "total")
        .orderBy("event_type")
    },
    Some("""
      WITH base AS (
        SELECT event_type, CAST(value AS DECIMAL(14,2)) AS value
        FROM events),
      audit AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_staged,
               CAST(sum(CASE WHEN event_type = 'error'
                 AND value - 1000.00 < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bad
        FROM base GROUP BY event_type),
      served AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN value
                 ELSE value + CAST(5.00 AS DECIMAL(14,2)) END) AS DOUBLE)
                 AS total
        FROM base GROUP BY event_type)
      SELECT a.event_type, a.n_staged, a.n_bad,
             CASE WHEN a.n_bad = 0 THEN 'pass' ELSE 'fail' END AS verdict,
             s.n, s.total
      FROM audit a JOIN served s USING (event_type)
      ORDER BY a.event_type"""))

  /** SQL DELETE FROM + TRUNCATE through the V2 catalog — the row-level
    * write contract q190's catalog was missing ([[graft.sources
    * .MemTableImpl]] now implements SupportsDeleteV2): Spark hands the
    * WHERE clause down as V2 Predicates and the SOURCE applies it to its
    * own snapshot — no rewrite job, no shuffle, no executor involvement
    * (the metadata-only delete Delta/Iceberg run when the predicate
    * aligns with their transaction log; q275's deletion vectors are the
    * scan-side analog). Exercised with a compound predicate (OR of an
    * equality and a range — both legs must translate or canDeleteWhere
    * refuses and Spark errors instead of deleting wrong rows), then
    * TRUNCATE TABLE on a second table via the same contract's default
    * (delete-where ALWAYS_TRUE). The read-back aggregate must equal the
    * oracle's NOT(predicate) recompute, and the truncated table must
    * read back empty — proven through one union. */
  val q278 = GraftQuery(
    "q278_sql_delete_v2",
    "DELETE FROM / TRUNCATE TABLE through SupportsDeleteV2: source-side predicate, no rewrite job",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val sfx = runTag()
      val tbl = s"graft_cat.corpus.del_$sfx"
      val tbl2 = s"graft_cat.corpus.trunc_$sfx"
      val src = ordersCents(s2, dir)
      src.writeTo(tbl).partitionedBy(col("status")).create()
      src.writeTo(tbl2).partitionedBy(col("status")).create()
      s2.sql(s"DELETE FROM $tbl WHERE status = 'F' OR cents < 10000000")
      s2.sql(s"TRUNCATE TABLE $tbl2")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   min(okey) AS first_key
            FROM $tbl GROUP BY status
            UNION ALL
            SELECT 'TRUNCATED', count(*), coalesce(sum(cents), -1),
                   coalesce(min(okey), -1)
            FROM $tbl2
            ORDER BY status""")
    },
    Some("""
      SELECT o_orderstatus AS status, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             min(o_orderkey) AS first_key
      FROM orders
      WHERE NOT (o_orderstatus = 'F'
                 OR CAST(round(o_totalprice * 100) AS BIGINT) < 10000000)
      GROUP BY o_orderstatus
      UNION ALL
      SELECT 'TRUNCATED', 0, -1, -1
      ORDER BY status"""))

  /** SQL UPDATE through the V2 catalog ([[graft.sources.MemTableImpl]]
    * now implements SupportsRowLevelOperations) — the GROUP-BASED
    * copy-on-write rewrite: Spark reads the affected partition groups
    * through the operation's scan, applies the SET assignments as an
    * If(cond, updated, original) projection, and the source's commit
    * swaps EXACTLY the scanned groups for the written rows (the
    * Iceberg/Delta copy-on-write shape, at partition granularity).
    * Exercised both ways the planner can go: a partition-pruned UPDATE
    * (condition carries `status = 'F'`, so only group F is scanned and
    * rewritten — untouched groups carry over by reference, EngineSpec
    * pins the identity) that also MOVES matching rows to a new partition
    * value, then a full-rewrite UPDATE whose condition no partition can
    * answer. The read-back aggregate must equal the oracle's CASE
    * recompute of both statements, so a wrong group swap (lost rows,
    * doubled rows, a group replaced that wasn't scanned) hash-fails. */
  val q279 = GraftQuery(
    "q279_sql_update_v2",
    "SQL UPDATE via SupportsRowLevelOperations: group-based rewrite, pruned + full paths",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tbl = s"graft_cat.corpus.upd_${runTag()}"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create()
      // pruned rewrite: only partition F is scanned; qualifying rows MOVE
      // to partition R (the written group lands outside the scanned set)
      s2.sql(s"""UPDATE $tbl SET status = 'R', cents = cents + 250
                 WHERE status = 'F' AND cents >= 10000000""")
      // full rewrite: no partition answers okey % 7 — every group rescans
      s2.sql(s"UPDATE $tbl SET cents = cents - 1 WHERE okey % 7 = 0")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   min(okey) AS first_key, max(okey) AS last_key
            FROM $tbl GROUP BY status ORDER BY status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      u1 AS (
        SELECT okey,
               CASE WHEN status = 'F' AND cents >= 10000000
                    THEN 'R' ELSE status END AS status,
               CASE WHEN status = 'F' AND cents >= 10000000
                    THEN cents + 250 ELSE cents END AS cents
        FROM t),
      u2 AS (
        SELECT okey, status,
               CASE WHEN okey % 7 = 0 THEN cents - 1 ELSE cents END AS cents
        FROM u1)
      SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
             min(okey) AS first_key, max(okey) AS last_key
      FROM u2 GROUP BY status ORDER BY status"""))

  /** SQL MERGE INTO through the V2 catalog — all three WHEN branches in
    * one statement over the group-based rewrite: MATCHED rows take the
    * source's values, NOT MATCHED source rows INSERT into a fresh
    * partition, and NOT-MATCHED-BY-SOURCE target rows below a threshold
    * DELETE. The engine has proven this dataflow since r3 (q58/q97/q250
    * build it from joins); this entry makes it a SQL SURFACE on the
    * catalog, which is what a user migrating a Delta/Iceberg MERGE
    * actually types. The ON keys are unique (orderkey), so the statement
    * is deterministic; the oracle recomputes the merge as the standard
    * three-way union (inner join / anti source / anti target) and any
    * mis-swap of groups at commit hash-fails. Scale: MERGE plans a join
    * between target scan and source — at 100 TB the same statement rides
    * AQE + runtime group filtering (only matched partitions rewrite). */
  val q280 = GraftQuery(
    "q280_sql_merge_v2",
    "SQL MERGE INTO via SupportsRowLevelOperations: UPDATE + INSERT + NOT-MATCHED-BY-SOURCE DELETE",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.mrg_$tag"
      val base = ordersCents(s2, dir)
      base.filter(col("okey") % 3 =!= 0)
        .writeTo(tbl).partitionedBy(col("status")).create()
      base.filter(col("okey") % 2 === 0)
        .select(col("okey"), col("cents"))
        .createOrReplaceTempView(s"mrg_src_$tag")
      s2.sql(
        s"""MERGE INTO $tbl t USING mrg_src_$tag s ON t.okey = s.okey
            WHEN MATCHED THEN UPDATE SET cents = t.cents + s.cents
            WHEN NOT MATCHED THEN INSERT (okey, status, cents)
              VALUES (s.okey, 'N', s.cents)
            WHEN NOT MATCHED BY SOURCE AND t.cents < 5000000 THEN DELETE""")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   min(okey) AS first_key
            FROM $tbl GROUP BY status ORDER BY status""")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      t AS (SELECT * FROM base WHERE okey % 3 <> 0),
      s AS (SELECT okey, cents FROM base WHERE okey % 2 = 0),
      merged AS (
        SELECT t.okey, t.status, t.cents + s.cents AS cents
        FROM t JOIN s ON t.okey = s.okey
        UNION ALL
        SELECT s.okey, 'N', s.cents
        FROM s LEFT JOIN t ON t.okey = s.okey WHERE t.okey IS NULL
        UNION ALL
        SELECT t.okey, t.status, t.cents
        FROM t LEFT JOIN s ON t.okey = s.okey
        WHERE s.okey IS NULL AND NOT (t.cents < 5000000))
      SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
             min(okey) AS first_key
      FROM merged GROUP BY status ORDER BY status"""))

  /** SQL TIME TRAVEL — `VERSION AS OF n` through the catalog
    * ([[graft.sources.GraftSparkCatalog]] resolves the version against
    * the snapshot history every commit now appends to). q116/q142 prove
    * the bitemporal/merge-on-read DATAFLOW; this is the SQL surface a
    * lakehouse reader actually types: one query reads the table at its
    * initial commit AND at head after a DELETE + UPDATE, so the hash
    * proves (a) history snapshots are immutable (the v1 read is
    * unaffected by later commits), (b) head reflects every commit, and
    * (c) the two reads resolve to DIFFERENT pinned snapshots inside one
    * statement. The oracle recomputes both states from the base table.
    * A missing version errors cleanly (EngineSpec pins the contract). */
  val q281 = GraftQuery(
    "q281_sql_time_travel",
    "SQL VERSION AS OF: initial snapshot and post-mutation head read in one query",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tbl = s"graft_cat.corpus.tt_${runTag()}"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create() // publishes v1
      s2.sql(s"DELETE FROM $tbl WHERE status = 'F'")          // v2
      s2.sql(s"UPDATE $tbl SET cents = cents + 9 WHERE okey % 5 = 0") // v3
      s2.sql(
        s"""SELECT 'v1' AS at_version, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl VERSION AS OF 1 GROUP BY status
            UNION ALL
            SELECT 'head', status, count(*), sum(cents)
            FROM $tbl GROUP BY status
            ORDER BY at_version, status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'v1' AS at_version, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL
        SELECT 'head', status, count(*),
               CAST(sum(CASE WHEN okey % 5 = 0 THEN cents + 9 ELSE cents END)
                 AS BIGINT)
        FROM t WHERE status <> 'F' GROUP BY status)
      ORDER BY at_version, status"""))

  /** SQL ALTER TABLE schema evolution + RENAME through the V2 catalog —
    * the DDL lifecycle a lakehouse table actually lives (create → rename
    * into place → widen → backfill → serve): `ADD COLUMNS (bonus
    * BIGINT)` appends a nullable column with NULL-padded history rows in
    * one version-bumping publish; a second-generation INSERT writes the
    * new column; a row-level UPDATE backfills one partition; and the
    * final read aggregates BOTH generations (count(bonus) counts only
    * non-nulls — proving old rows really read back as NULL, not zero).
    * Time travel composes: RowLevelOpSpec pins that `VERSION AS OF` a
    * pre-alter version serves the OLD schema (schema-per-snapshot, the
    * Iceberg/Delta contract). The oracle rebuilds both generations with
    * CASE arithmetic. */
  val q285 = GraftQuery(
    "q285_sql_alter_schema_evolution",
    "ALTER TABLE ADD COLUMNS + RENAME TO: NULL-padded history, 2nd-gen insert, UPDATE backfill",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tmp = s"graft_cat.corpus.evotmp_$tag"
      val tbl = s"graft_cat.corpus.evo_$tag"
      val base = ordersCents(s2, dir)
      base.filter(col("okey") % 2 === 0)
        .writeTo(tmp).partitionedBy(col("status")).create()
      // RENAME target resolves within the source table's catalog
      s2.sql(s"ALTER TABLE $tmp RENAME TO corpus.evo_$tag")
      s2.sql(s"ALTER TABLE $tbl ADD COLUMNS (bonus BIGINT)")
      base.filter(col("okey") % 2 =!= 0)
        .withColumn("bonus", expr("cents div 100"))
        .createOrReplaceTempView(s"evo_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, status, cents, bonus FROM evo_src_$tag")
      s2.sql(s"UPDATE $tbl SET bonus = 7 WHERE status = 'F'")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   count(bonus) AS n_bonus, sum(coalesce(bonus, 0)) AS total_bonus
            FROM $tbl GROUP BY status ORDER BY status""")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      both_gen AS (
        SELECT okey, status, cents, CAST(NULL AS BIGINT) AS bonus
        FROM base WHERE okey % 2 = 0
        UNION ALL
        SELECT okey, status, cents, cents // 100
        FROM base WHERE okey % 2 <> 0),
      updated AS (
        SELECT okey, status, cents,
               CASE WHEN status = 'F' THEN 7 ELSE bonus END AS bonus
        FROM both_gen)
      SELECT status, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             count(bonus) AS n_bonus,
             CAST(sum(coalesce(bonus, 0)) AS BIGINT) AS total_bonus
      FROM updated GROUP BY status ORDER BY status"""))

  /** DELTA-BASED row-level operations (SupportsDelta) — the merge-on-read
    * WRITE discipline completing the row-level matrix (q279/q280 are the
    * group-based copy-on-write half): a table that declares a row
    * identity (`TBLPROPERTIES('deltaIdCol'='okey')` — Iceberg's
    * identifier-fields) makes Spark plan WriteDelta instead of
    * ReplaceData, streaming per-ROW actions — DELETE(meta, id),
    * UPDATE(meta, id, newRow), INSERT(row) — to the source, which applies
    * exactly those deltas (no group rewrite; the `_partition` metadata
    * channel routes each action to its source group without a search).
    * Exercised with the full MoR lifecycle in one entry: a
    * partition-MOVING UPDATE, an untranslatable-predicate DELETE (falls
    * through the metadata path to the delta rewrite), and a MERGE with
    * all three WHEN branches — the same statements the CoW entries run,
    * so the two disciplines are proven result-identical against the same
    * style of oracle recompute. At 100 TB this is the write path for
    * hot tables where rewriting groups is too expensive: deltas are
    * O(changed rows), compaction amortizes later (q116/q275 are the
    * matching read paths). */
  val q286 = GraftQuery(
    "q286_sql_merge_delta",
    "SupportsDelta merge-on-read: partition-moving UPDATE + delta DELETE + 3-branch MERGE by row id",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.dlt_$tag"
      val base = ordersCents(s2, dir)
      base.filter(col("okey") % 3 =!= 0)
        .writeTo(tbl).partitionedBy(col("status"))
        .tableProperty("deltaIdCol", "okey").create()
      // partition-moving update: delta = (delete from old group, insert
      // into the new one), routed by the metadata channel
      s2.sql(s"""UPDATE $tbl SET status = 'R', cents = cents + 250
                 WHERE status = 'F' AND cents >= 10000000""")
      // untranslatable predicate: canDeleteWhere refuses, the DELETE
      // falls through to the delta rewrite (per-row delete actions)
      s2.sql(s"DELETE FROM $tbl WHERE okey % 7 = 0")
      base.filter(col("okey") % 2 === 0)
        .select(col("okey"), col("cents"))
        .createOrReplaceTempView(s"dlt_src_$tag")
      s2.sql(
        s"""MERGE INTO $tbl t USING dlt_src_$tag s ON t.okey = s.okey
            WHEN MATCHED THEN UPDATE SET cents = t.cents + s.cents
            WHEN NOT MATCHED THEN INSERT (okey, status, cents)
              VALUES (s.okey, 'N', s.cents)
            WHEN NOT MATCHED BY SOURCE AND t.cents < 5000000 THEN DELETE""")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   min(okey) AS first_key
            FROM $tbl GROUP BY status ORDER BY status""")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      t0 AS (SELECT * FROM base WHERE okey % 3 <> 0),
      u1 AS (
        SELECT okey,
               CASE WHEN status = 'F' AND cents >= 10000000
                    THEN 'R' ELSE status END AS status,
               CASE WHEN status = 'F' AND cents >= 10000000
                    THEN cents + 250 ELSE cents END AS cents
        FROM t0),
      t1 AS (SELECT * FROM u1 WHERE okey % 7 <> 0),
      s1 AS (SELECT okey, cents FROM base WHERE okey % 2 = 0),
      merged AS (
        SELECT t.okey, t.status, t.cents + s.cents AS cents
        FROM t1 t JOIN s1 s ON t.okey = s.okey
        UNION ALL
        SELECT s.okey, 'N', s.cents
        FROM s1 s LEFT JOIN t1 t ON t.okey = s.okey WHERE t.okey IS NULL
        UNION ALL
        SELECT t.okey, t.status, t.cents
        FROM t1 t LEFT JOIN s1 s ON t.okey = s.okey
        WHERE s.okey IS NULL AND NOT (t.cents < 5000000))
      SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
             min(okey) AS first_key
      FROM merged GROUP BY status ORDER BY status"""))

  /** V2 PARTITION-MANAGEMENT DDL — the reference's ENTIRE partition
    * lifecycle (add_partition / del_partition / list_partitions with
    * validation, gluettalax.py:428-514) re-expressed as Spark's native
    * SQL statements over SupportsAtomicPartitionManagement: `ADD
    * PARTITION` declares an empty catalog object, `PARTITION … RENAME TO
    * PARTITION` moves the rows AND rewrites their partition-column
    * values, `TRUNCATE TABLE … PARTITION` drops rows but keeps the
    * declaration, `DROP PARTITION` removes both, and `SHOW PARTITIONS`
    * lists declared ∪ populated. The result fuses the final SHOW
    * PARTITIONS listing with the per-partition data rollup, so the hash
    * proves BOTH the catalog-object lifecycle (F survives its truncate
    * as an empty declaration, O is gone, Z exists empty) and the data
    * movement (P's rows now live under P2 with rewritten values). */
  val q287 = GraftQuery(
    "q287_sql_partition_ddl",
    "ADD/DROP/RENAME/TRUNCATE PARTITION + SHOW PARTITIONS: catalog-object lifecycle, hash-fused with data",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.pdl_$tag"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create()
      s2.sql(s"ALTER TABLE $tbl ADD PARTITION (status = 'Z')")
      s2.sql(s"ALTER TABLE $tbl PARTITION (status = 'P') RENAME TO PARTITION (status = 'P2')")
      s2.sql(s"TRUNCATE TABLE $tbl PARTITION (status = 'F')")
      s2.sql(s"ALTER TABLE $tbl DROP PARTITION (status = 'O')")
      val partsList = s2.sql(s"SHOW PARTITIONS $tbl")
        .select(lit("part").as("kind"), col("partition").as("key"),
          lit(null).cast("long").as("n"), lit(null).cast("long").as("cents"))
      val data = s2.sql(
        s"""SELECT 'data' AS kind, status AS key, count(*) AS n,
                   sum(cents) AS cents
            FROM $tbl GROUP BY status""")
      partsList.unionByName(data).orderBy("kind", "key")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'part' AS kind, 'status=F' AS key,
               CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS cents
        UNION ALL SELECT 'part', 'status=P2', NULL, NULL
        UNION ALL SELECT 'part', 'status=Z', NULL, NULL
        UNION ALL
        SELECT 'data', 'P2', count(*), CAST(sum(cents) AS BIGINT)
        FROM t WHERE status = 'P')
      ORDER BY kind, key"""))

  /** DURABLE CATALOG PERSISTENCE — the lakehouse property the reference
    * gets from the Glue Data Catalog (partitions added by one process are
    * visible to the next, gluettalax.py:444-482) and the VERDICT r11 top
    * residual gap: a [[graft.sources.GraftSparkCatalog]] configured with
    * a `warehouse` option spills every commit as parquet + manifest
    * (transaction-log shape: per-version per-partition parquet data
    * files + meta.json with
    * schema-at-version and commit ts, one atomic-rename manifest) and
    * lazily restores the WHOLE table on first reference after a restart.
    * This entry runs the full lifecycle: create → DELETE → UPDATE →
    * declare an empty partition, then [[graft.sources.MemTable.evict]]
    * wipes every in-process structure (the restart), and the result reads
    * (a) `VERSION AS OF 1` — a PRE-restart version served from disk
    * history, (b) head — both mutations durable, (c) SHOW PARTITIONS —
    * the declared catalog object survived. The oracle recomputes all
    * three states from `orders`, so a lost commit, a history gap, or a
    * dropped declaration hash-fails. At 100 TB this is the Delta/Iceberg
    * posture: data files + a bounded log on durable storage, readers
    * rebuild state lazily from the manifest. */
  val q288 = GraftQuery(
    "q288_catalog_durability",
    "Durable V2 catalog: parquet+manifest spill, restart-surviving head, VERSION AS OF, declared partitions",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_dur", Some("spark-warehouse/graft_catalog")): _*)
      val tag = runTag()
      val tbl = s"graft_dur.corpus.dur_$tag"
      val key = s"cat!graft_dur!corpus!dur_$tag"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create()     // v1
      s2.sql(s"DELETE FROM $tbl WHERE status = 'F'")              // v2
      s2.sql(s"UPDATE $tbl SET cents = cents + 9 WHERE okey % 5 = 0") // v3
      s2.sql(s"ALTER TABLE $tbl ADD PARTITION (status = 'X')")
      // ---- process restart: every in-memory structure for the key dies
      graft.sources.MemTable.evict(key)
      val states = s2.sql(
        s"""SELECT 'v1' AS at_state, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl VERSION AS OF 1 GROUP BY status
            UNION ALL
            SELECT 'head', status, count(*), sum(cents)
            FROM $tbl GROUP BY status""")
      val parts = s2.sql(s"SHOW PARTITIONS $tbl")
        .select(lit("parts").as("at_state"),
          regexp_replace(col("partition"), "^status=", "").as("status"),
          lit(1L).as("n"), lit(0L).as("total_cents"))
      // eager checkpoint so the durable table can be dropped before the
      // (lazy) result frame is consumed by the driver
      val out = states.unionByName(parts).orderBy("at_state", "status")
        .localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      out
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'v1' AS at_state, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL
        SELECT 'head', status, count(*),
               CAST(sum(CASE WHEN okey % 5 = 0 THEN cents + 9 ELSE cents END)
                 AS BIGINT)
        FROM t WHERE status <> 'F' GROUP BY status
        UNION ALL
        SELECT 'parts', status, 1, 0 FROM (
          SELECT DISTINCT status FROM t WHERE status <> 'F'
          UNION ALL SELECT 'X'))
      ORDER BY at_state, status"""))

  /** SQL `TIMESTAMP AS OF` — the other half of Spark's time-travel
    * surface (q281 landed `VERSION AS OF`): [[graft.sources
    * .GraftSparkCatalog]] resolves the LATEST snapshot whose commit
    * timestamp is ≤ the requested instant (Delta's timestamp_expression
    * contract), against commit timestamps [[graft.sources.MemTable
    * .publish]] stamps strictly monotone per table. One statement reads
    * the table at `VERSION AS OF 1`, at `TIMESTAMP AS OF` the v2 commit
    * instant (must resolve to exactly v2 — after the DELETE, before the
    * UPDATE), and at head — three DIFFERENT pinned snapshots, all
    * read-only. The instant is taken from the engine's own commit ledger,
    * so the entry is deterministic at any wall-clock; the oracle
    * recomputes all three states from `orders`. A timestamp before the
    * earliest retained commit errors cleanly (DurableCatalogSpec pins
    * it). */
  val q289 = GraftQuery(
    "q289_sql_timestamp_as_of",
    "SQL TIMESTAMP AS OF: latest-commit-≤-instant resolution, composed with VERSION AS OF in one statement",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat") :+ ("spark.sql.session.timeZone" -> "UTC"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.tsof_$tag"
      val key = s"cat!graft_cat!corpus!tsof_$tag"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create()     // v1
      s2.sql(s"DELETE FROM $tbl WHERE status = 'F'")              // v2
      s2.sql(s"UPDATE $tbl SET cents = cents + 9 WHERE okey % 5 = 0") // v3
      val v2Micros = graft.sources.MemTable.history((key, 2L)).tsMicros
      val v2Ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(v2Micros / 1000000L,
          (v2Micros % 1000000L) * 1000L))
      s2.sql(
        s"""SELECT 'v1' AS at_state, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl VERSION AS OF 1 GROUP BY status
            UNION ALL
            SELECT 'ts_v2', status, count(*), sum(cents)
            FROM $tbl TIMESTAMP AS OF '$v2Ts' GROUP BY status
            UNION ALL
            SELECT 'head', status, count(*), sum(cents)
            FROM $tbl GROUP BY status
            ORDER BY at_state, status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'v1' AS at_state, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL
        SELECT 'ts_v2', status, count(*), CAST(sum(cents) AS BIGINT)
        FROM t WHERE status <> 'F' GROUP BY status
        UNION ALL
        SELECT 'head', status, count(*),
               CAST(sum(CASE WHEN okey % 5 = 0 THEN cents + 9 ELSE cents END)
                 AS BIGINT)
        FROM t WHERE status <> 'F' GROUP BY status)
      ORDER BY at_state, status"""))

  /** TABLE HISTORY — the `DESCRIBE HISTORY` surface a Delta/Iceberg user
    * reads before any time travel: the commit ledger every publish
    * appends to (version, row/partition counts at that snapshot, and a
    * strictly-monotone commit-timestamp audit — the property TIMESTAMP
    * AS OF resolution relies on). The ledger is catalog METADATA, read
    * the way the Layer A listings read registry state (A3/A5); the
    * oracle recomputes each version's row and partition counts from
    * `orders` by replaying the mutations, so a missed version, a wrong
    * commit's row count, or a non-monotone timestamp hash-fails.
    * Version 0 is the CREATE TABLE commit (empty snapshot) — the ledger
    * records the table's whole life, not just its writes. */
  val q290 = GraftQuery(
    "q290_table_history",
    "DESCRIBE HISTORY analog: per-version row/partition counts + monotone commit-ts audit",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.hist_$tag"
      val key = s"cat!graft_cat!corpus!hist_$tag"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create() // v0 create, v1 rows
      s2.sql(s"DELETE FROM $tbl WHERE status = 'F'")          // v2
      s2.sql(s"UPDATE $tbl SET cents = cents + 9 WHERE okey % 5 = 0") // v3
      import s2.implicits._
      val hist = graft.sources.MemTable.history.toSeq
        .collect { case ((k, v), snap) if k == key =>
          (v, snap.parts.valuesIterator.map(_.size.toLong).sum,
            snap.parts.size.toLong, snap.tsMicros) }
        .sortBy(_._1)
      hist.zipWithIndex.map { case ((v, n, p, ts), i) =>
        (v, n, p, i == 0 || ts > hist(i - 1)._4) }
        .toDF("version", "n_rows", "n_parts", "ts_after_prev")
        .orderBy("version")
    },
    Some("""
      WITH t AS (SELECT o_orderstatus AS status FROM orders)
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS n_parts, TRUE AS ts_after_prev
        UNION ALL
        SELECT 1, (SELECT count(*) FROM t),
               (SELECT count(DISTINCT status) FROM t), TRUE
        UNION ALL
        SELECT 2, (SELECT count(*) FROM t WHERE status <> 'F'),
               (SELECT count(DISTINCT status) FROM t WHERE status <> 'F'), TRUE
        UNION ALL
        SELECT 3, (SELECT count(*) FROM t WHERE status <> 'F'),
               (SELECT count(DISTINCT status) FROM t WHERE status <> 'F'), TRUE)
      ORDER BY version"""))

  /** CTAS FROM TIME TRAVEL — the SHALLOW-CLONE pattern (Delta `CLONE t
    * VERSION AS OF n`, spelled in portable SQL): `CREATE TABLE …
    * PARTITIONED BY … AS SELECT * FROM t VERSION AS OF 1` materializes a
    * pre-mutation snapshot as an INDEPENDENT table through Spark's
    * CreateTableAsSelect path on the V2 catalog (catalog createTable +
    * first-commit write, exercising CTAS end to end). The clone is taken
    * AFTER the base already moved to v2 — proving the pinned read feeds
    * the write side, not just SELECTs — and the base then mutates AGAIN;
    * the result reads both tables, so the hash proves the clone froze v1
    * and later base commits don't leak into it. The oracle recomputes
    * both states from `orders`. */
  val q291 = GraftQuery(
    "q291_ctas_time_travel",
    "CREATE TABLE AS SELECT ... VERSION AS OF: snapshot clone independent of later base commits",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.ctb_$tag"
      val clone = s"graft_cat.corpus.ctc_$tag"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create()     // v1
      s2.sql(s"UPDATE $tbl SET cents = cents + 9 WHERE okey % 5 = 0") // v2
      s2.sql(s"CREATE TABLE $clone PARTITIONED BY (status) AS " +
        s"SELECT * FROM $tbl VERSION AS OF 1")
      s2.sql(s"DELETE FROM $tbl WHERE status = 'F'")              // v3: after the clone
      s2.sql(
        s"""SELECT 'clone' AS src, status, count(*) AS n, sum(cents) AS total_cents
            FROM $clone GROUP BY status
            UNION ALL
            SELECT 'base', status, count(*), sum(cents)
            FROM $tbl GROUP BY status
            ORDER BY src, status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'clone' AS src, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL
        SELECT 'base', status, count(*),
               CAST(sum(CASE WHEN okey % 5 = 0 THEN cents + 9 ELSE cents END)
                 AS BIGINT)
        FROM t WHERE status <> 'F' GROUP BY status)
      ORDER BY src, status"""))

  /** NAMESPACE DDL ([[org.apache.spark.sql.connector.catalog
    * .SupportsNamespaces]]) — the reference's DATABASE concept (every
    * listed table carries database_name, gluettalax.py:500-514; Glue
    * groups tables into databases) as Spark's native namespace surface:
    * CREATE NAMESPACE, ALTER … SET PROPERTIES, SHOW NAMESPACES,
    * DESCRIBE NAMESPACE, DROP (plain refuses a non-empty namespace with
    * Spark's SCHEMA_NOT_EMPTY; CASCADE drops the contained tables
    * through the full per-table purge). A namespace exists when DECLARED
    * or IMPLIED by a table under it — the declared-or-populated duality
    * the partition objects (q287) use. The entry fuses the DDL lifecycle
    * (listing, properties after an ALTER, the refusal, the
    * post-CASCADE disappearance) with a data rollup from a table living
    * IN the declared namespace, so both the catalog objects and the data
    * path under them are hash-proven. */
  val q292 = GraftQuery(
    "q292_namespace_ddl",
    "CREATE/ALTER/SHOW/DESCRIBE/DROP NAMESPACE: declared-or-implied namespaces, CASCADE purge, fused with data",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val ns = s"nsd_$tag"
      val tbl = s"graft_cat.$ns.orders_t"
      s2.sql(s"CREATE NAMESPACE graft_cat.$ns")
      s2.sql(s"ALTER NAMESPACE graft_cat.$ns SET PROPERTIES ('tier' = 'gold')")
      table(s2, dir, "orders")
        .select(col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .writeTo(tbl).partitionedBy(col("status")).create()
      // eager: the namespace (and table) drop CASCADE below must not
      // empty this leg when the result frame is consumed later
      val data = s2.sql(
        s"""SELECT concat('data_', status) AS kind, status AS name,
                   concat(CAST(count(*) AS STRING), ':',
                          CAST(sum(cents) AS STRING)) AS detail
            FROM $tbl GROUP BY status""").localCheckpoint(true)
      val listed = s2.sql(s"SHOW NAMESPACES IN graft_cat")
        .filter(col("namespace") === ns).count() == 1
      val props = s2.sql(s"DESCRIBE NAMESPACE EXTENDED graft_cat.$ns")
        .filter(col("info_name") === "Properties")
        .collect().headOption.map(_.getString(1)).getOrElse("")
      val refused =
        try { s2.sql(s"DROP NAMESPACE graft_cat.$ns"); false }
        catch { case e: Exception => e.getMessage.contains("SCHEMA_NOT_EMPTY") }
      s2.sql(s"DROP NAMESPACE graft_cat.$ns CASCADE")
      val goneNs = s2.sql(s"SHOW NAMESPACES IN graft_cat")
        .filter(col("namespace") === ns).count() == 0
      val goneTbl =
        try { s2.sql(s"SELECT 1 FROM $tbl").collect(); false }
        catch { case _: Exception => true }
      import s2.implicits._
      val ddl = Seq(
        ("ns_listed", "ns", listed.toString),
        ("ns_props", "ns", props),
        ("drop_nonempty_refused", "ns", refused.toString),
        ("ns_after_cascade_gone", "ns", goneNs.toString),
        ("table_after_cascade_gone", "ns", goneTbl.toString))
        .toDF("kind", "name", "detail")
      data.unionByName(ddl).orderBy("kind", "name")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'data_' || status AS kind, status AS name,
               CAST(count(*) AS VARCHAR) || ':' ||
               CAST(CAST(sum(cents) AS BIGINT) AS VARCHAR) AS detail
        FROM t GROUP BY status
        UNION ALL SELECT 'ns_listed', 'ns', 'true'
        UNION ALL SELECT 'ns_props', 'ns', '((tier,gold))'
        UNION ALL SELECT 'drop_nonempty_refused', 'ns', 'true'
        UNION ALL SELECT 'ns_after_cascade_gone', 'ns', 'true'
        UNION ALL SELECT 'table_after_cascade_gone', 'ns', 'true')
      ORDER BY kind, name"""))

  /** COLUMN DEFAULT VALUES — the schema-level contract that lets a
    * producer fleet under-specify inserts safely (the ingestion-evolution
    * companion of q285's ADD COLUMNS): the catalog declares
    * SUPPORT_COLUMN_DEFAULT_VALUE and persists schema metadata verbatim;
    * Spark's analyzer (ResolveDefaultColumns) rewrites every
    * under-specified path from the CURRENT_DEFAULT the parser stamped
    * into the schema. Exercised on all three insert shapes a user types:
    * a column-list INSERT that OMITS the defaulted column, a positional
    * INSERT with the explicit `DEFAULT` keyword, and a fully explicit
    * value; the rollup separates defaulted from explicit rows
    * arithmetically (count(flag = 5) vs others), so a default that
    * failed to apply — or applied where an explicit value should win —
    * hash-fails against the oracle's CASE recompute. */
  val q293 = GraftQuery(
    "q293_column_defaults",
    "CREATE TABLE … DEFAULT: omitted-column, DEFAULT-keyword, and explicit inserts, analyzer-filled",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.dflt_$tag"
      s2.sql(
        s"""CREATE TABLE $tbl (okey BIGINT, status STRING, cents BIGINT,
            flag BIGINT DEFAULT 5) PARTITIONED BY (status)""")
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"dflt_src_$tag")
      // (a) column-list insert omitting the defaulted column
      s2.sql(s"""INSERT INTO $tbl (okey, status, cents)
                 SELECT okey, status, cents FROM dflt_src_$tag WHERE okey % 3 = 0""")
      // (b) REORDERED column list, defaulted column still omitted — the
      // by-name mapping and the default fill must compose
      s2.sql(s"""INSERT INTO $tbl (cents, status, okey)
                 SELECT cents, status, okey FROM dflt_src_$tag WHERE okey % 3 = 1""")
      // (b2) the explicit DEFAULT keyword (VALUES form): one sentinel row
      s2.sql(s"INSERT INTO $tbl VALUES (-1, 'X', 0, DEFAULT)")
      // (c) fully explicit value — must NOT be overwritten by the default
      s2.sql(s"""INSERT INTO $tbl
                 SELECT okey, status, cents, cents div 100 FROM dflt_src_$tag WHERE okey % 3 = 2""")
      s2.sql(
        s"""SELECT status, count(*) AS n,
                   count(CASE WHEN flag = 5 THEN 1 END) AS n_defaulted,
                   sum(flag) AS total_flag
            FROM $tbl GROUP BY status ORDER BY status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        UNION ALL SELECT -1, 'X', 0)
      SELECT status, count(*) AS n,
             count(CASE WHEN okey % 3 IN (0, 1) OR okey = -1
                        OR (okey % 3 = 2 AND cents // 100 = 5) THEN 1 END)
               AS n_defaulted,
             CAST(sum(CASE WHEN okey % 3 IN (0, 1) OR okey = -1 THEN 5
                           ELSE cents // 100 END) AS BIGINT) AS total_flag
      FROM t GROUP BY status ORDER BY status"""))

  /** ATOMIC REPLACE TABLE AS SELECT ([[org.apache.spark.sql.connector
    * .catalog.StagingTableCatalog]]) — the all-or-nothing table rewrite a
    * corpus pipeline runs nightly: the select's write lands on a hidden
    * STAGING key (invisible to readers and listings) and only the staged
    * commit publishes it, in one snapshot swap — never the
    * drop-then-fail-to-recreate window of the non-staged path. Three
    * contracts in one hash: (a) REPLACE commits version-CONTINUOUSLY, so
    * `VERSION AS OF 1` still serves the PRE-replace rows (the Delta
    * REPLACE semantics, composing with q281); (b) the replaced head
    * serves the new select; (c) a mid-write FAILURE (assert_true blows up
    * inside the tasks) aborts the staging key and leaves the serving
    * table byte-identical — audited by re-aggregating the head after the
    * failed CREATE OR REPLACE and by checking the version didn't move.
    * The oracle recomputes both states and the audit constants. */
  val q294 = GraftQuery(
    "q294_atomic_replace",
    "REPLACE TABLE AS SELECT via StagingTableCatalog: staged swap, pre-replace time travel, failed-write no-op",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.rpl_$tag"
      val key = s"cat!graft_cat!corpus!rpl_$tag"
      val base = ordersCents(s2, dir)
      base.filter(col("okey") % 2 === 0)
        .writeTo(tbl).partitionedBy(col("status")).create()   // v1: even half
      base.createOrReplaceTempView(s"rpl_src_$tag")
      s2.sql(s"""REPLACE TABLE $tbl PARTITIONED BY (status) AS
                 SELECT okey, status, cents + 1 AS cents FROM rpl_src_$tag""") // v2: all rows
      // mid-write failure: assert_true throws inside the write tasks; the
      // staged key aborts and the serving v2 snapshot must be untouched
      val failedCleanly =
        try {
          s2.sql(s"""CREATE OR REPLACE TABLE $tbl PARTITIONED BY (status) AS
                     SELECT okey, status, cents FROM rpl_src_$tag
                     WHERE assert_true(cents < 0) IS NULL""")
          false
        } catch { case _: Exception => true }
      val verAfter = graft.sources.MemTable.store(key).version
      val noStagingResidue = !graft.sources.MemTable.store.keys
        .exists(_.startsWith(s"staging!$key!"))
      val audit = Seq(
        ("audit", "failed_replace_refused", failedCleanly.compare(false).toLong, 0L),
        ("audit", "version_still_v2", verAfter, 0L),
        ("audit", "no_staging_residue", noStagingResidue.compare(false).toLong, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT 'v1' AS at_state, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl VERSION AS OF 1 GROUP BY status
            UNION ALL
            SELECT 'head', status, count(*), sum(cents)
            FROM $tbl GROUP BY status""")
        .unionByName(audit.toDF("at_state", "status", "n", "total_cents"))
        .orderBy("at_state", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'v1' AS at_state, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t WHERE okey % 2 = 0 GROUP BY status
        UNION ALL
        SELECT 'head', status, count(*), CAST(sum(cents + 1) AS BIGINT)
        FROM t GROUP BY status
        UNION ALL SELECT 'audit', 'failed_replace_refused', 1, 0
        UNION ALL SELECT 'audit', 'version_still_v2', 2, 0
        UNION ALL SELECT 'audit', 'no_staging_residue', 1, 0)
      ORDER BY at_state, status"""))

  /** IDENTITY COLUMNS — connector-assigned surrogate keys at ingest (the
    * doc_id-assignment problem every corpus pipeline has): `GENERATED
    * ALWAYS AS IDENTITY (START WITH … INCREMENT BY …)` arrives through
    * the Column[] create path (the catalog declares
    * SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS and captures the spec —
    * the schema conversion strips it), and VALUES are assigned at the
    * atomic COMMIT — the only point where cross-task sequence allocation
    * needs no coordination (Delta's identity high-watermark discipline):
    * NULL arrivals take consecutive watermark+step values in
    * deterministic (partition, arrival) order, and the watermark derives
    * from the data so it survives restarts. Two separate INSERTs prove
    * the watermark continues across commits; the hash pins the id-SET
    * algebra (min = START, max = START + step·(n−1), all distinct) plus
    * the data rollup — per-row id assignment is scheduler-order and
    * deliberately not hashed; GENERATED ALWAYS also refuses an explicit
    * id insert (folded as an audit row). */
  val q295 = GraftQuery(
    "q295_identity_columns",
    "GENERATED ALWAYS AS IDENTITY: commit-time watermark assignment across two inserts, explicit-insert refusal",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.idn_$tag"
      s2.sql(
        s"""CREATE TABLE $tbl (
              doc_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 2),
              status STRING, cents BIGINT) PARTITIONED BY (status)""")
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"idn_src_$tag")
      s2.sql(s"""INSERT INTO $tbl (status, cents)
                 SELECT status, cents FROM idn_src_$tag WHERE okey % 2 = 0""")
      s2.sql(s"""INSERT INTO $tbl (status, cents)
                 SELECT status, cents FROM idn_src_$tag WHERE okey % 2 = 1""")
      val refused =
        try { s2.sql(s"INSERT INTO $tbl VALUES (1, 'X', 0)"); false }
        catch { case _: Exception => true }
      s2.sql(
        s"""SELECT 'data' AS kind, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl GROUP BY status
            UNION ALL
            SELECT 'ids', 'all', count(DISTINCT doc_id), max(doc_id) FROM $tbl
            UNION ALL
            SELECT 'audit', 'explicit_insert_refused',
                   ${if (refused) 1 else 0}, (SELECT min(doc_id) FROM $tbl)
            ORDER BY kind, status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'data' AS kind, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL
        SELECT 'ids', 'all', count(*), 100 + 2 * (count(*) - 1) FROM t
        UNION ALL
        SELECT 'audit', 'explicit_insert_refused', 1, 100)
      ORDER BY kind, status"""))

  /** CHECK CONSTRAINTS (TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
    * SURVEY r13 candidate (b) closed in-round) — the ANSI table-integrity
    * surface Spark 4.1 delegates to the connector: the catalog stores
    * enforced CHECK constraints
    * ([[graft.sources.TableMeta.checks]]), the analyzer
    * reads them back from Table.constraints() and plans a CheckInvariant
    * guard into EVERY write (a violating row fails the write job before
    * any commit — the lakehouse write-barrier, same family as q200's
    * primary-key commit gate but declarative and per-row), and `ALTER
    * TABLE … ADD CONSTRAINT` validates all EXISTING rows with a Spark-side
    * scan (AddCheckConstraintExec) before the catalog ever sees the
    * change. The entry runs the whole lifecycle: create-with-CHECK, valid
    * bulk insert, violating insert refused (and provably uncommitted),
    * ALTER ADD that existing rows violate refused, satisfiable ALTER ADD
    * landed, DROP CONSTRAINT lifting the guard (the previously-refused row
    * then lands). PRIMARY KEY / UNIQUE / FOREIGN KEY refuse at CREATE:
    * Spark never enforces them, and this catalog refuses what it will not
    * enforce. */
  val q296 = GraftQuery(
    "q296_check_constraints",
    "CHECK constraints: write-guard enforcement, ALTER ADD existing-row validation, DROP lifts the guard",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.chk_$tag"
      s2.sql(
        s"""CREATE TABLE $tbl (okey BIGINT, status STRING, cents BIGINT,
            CONSTRAINT non_negative CHECK (cents >= 0))
            PARTITIONED BY (status)""")
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"chk_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, status, cents FROM chk_src_$tag")
      // write-guard: the violating row fails the job; nothing commits
      val insertRefused =
        try { s2.sql(s"INSERT INTO $tbl VALUES (-1, 'X', -5)"); false }
        catch { case _: Exception => true }
      // ALTER ADD validates EXISTING rows before the catalog stores it
      val alterRefused =
        try {
          s2.sql(s"ALTER TABLE $tbl ADD CONSTRAINT too_strict CHECK (cents > 100000000)")
          false
        } catch { case _: Exception => true }
      // satisfiable ALTER ADD lands (note: okey <> 0 would be REFUSED here
      // — the fixture really contains an order with o_orderkey = 0, which
      // the validation scan found when this entry first tried it)
      s2.sql(s"ALTER TABLE $tbl ADD CONSTRAINT key_bounded CHECK (okey < 10000000)")
      // DROP lifts the guard: the same row the first insert refused lands
      // (it still passes the surviving key_bounded constraint)
      s2.sql(s"ALTER TABLE $tbl DROP CONSTRAINT non_negative")
      s2.sql(s"INSERT INTO $tbl VALUES (-1, 'X', -5)")
      val audit = Seq(
        ("audit", "violating_insert_refused", insertRefused.compare(false).toLong, 0L),
        ("audit", "alter_add_validates_existing", alterRefused.compare(false).toLong, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT 'data' AS at_state, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl GROUP BY status""")
        .unionByName(audit.toDF("at_state", "status", "n", "total_cents"))
        .orderBy("at_state", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        UNION ALL SELECT 'X', -5)
      SELECT * FROM (
        SELECT 'data' AS at_state, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL SELECT 'audit', 'violating_insert_refused', 1, 0
        UNION ALL SELECT 'audit', 'alter_add_validates_existing', 1, 0)
      ORDER BY at_state, status"""))

  /** GENERATED COLUMNS (`GENERATED ALWAYS AS (expr)`,
    * TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS —
    * closes the r11 deliberate refusal, SURVEY r13 candidate (a)): Spark
    * validates the expression at CREATE (deterministic, no subqueries,
    * non-generated references only) and hands its SQL to the connector;
    * VALUE synthesis is connector work at the atomic commit
    * ([[graft.sources.GeneratedColumnEval]] compiles the stored SQL
    * through Catalyst's own parser + analyzer, so the semantics are
    * exactly SQL's), under the Delta contract: omitted/NULL arrivals take
    * the expression's value computed from their own row; an EXPLICIT
    * arrival is validated against that value and a mismatch rejects the
    * whole commit — the column can never store a value that contradicts
    * its declared derivation. Two generated columns (a numeric bucket and
    * a string tag derived from it) prove expression evaluation and
    * cross-type synthesis; the rollup GROUPS BY the generated tag, so
    * every synthesized value participates in the hash; the oracle
    * recomputes both derivations independently. */
  val q297 = GraftQuery(
    "q297_generated_columns",
    "GENERATED ALWAYS AS (expr): commit-time synthesis, explicit-mismatch rejection, rollup by generated tag",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.gen_$tag"
      s2.sql(
        s"""CREATE TABLE $tbl (
              okey BIGINT, status STRING, cents BIGINT,
              bucket BIGINT GENERATED ALWAYS AS (cents DIV 10000000),
              gtag STRING GENERATED ALWAYS AS (
                CONCAT(status, '#', CAST(cents DIV 10000000 AS STRING))))
            PARTITIONED BY (status)""")
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"gen_src_$tag")
      // omitted generated columns: synthesized at commit, row by row
      s2.sql(s"""INSERT INTO $tbl (okey, status, cents)
                 SELECT okey, status, cents FROM gen_src_$tag""")
      // explicit CONSISTENT values pass (the Delta contract)
      s2.sql(s"INSERT INTO $tbl VALUES (-1, 'X', 12345, 0, 'X#0')")
      // explicit value contradicting the expression rejects the commit
      val mismatchRefused =
        try { s2.sql(s"INSERT INTO $tbl VALUES (-2, 'X', 12345, 7, 'X#0')"); false }
        catch { case _: Exception => true }
      s2.sql(
        s"""SELECT gtag, count(*) AS n, sum(bucket) AS sum_bucket,
                   sum(cents) AS total_cents
            FROM $tbl GROUP BY gtag
            UNION ALL
            SELECT 'audit:mismatch_refused', ${if (mismatchRefused) 1 else 0}, 0, 0
            ORDER BY gtag""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        UNION ALL SELECT 'X', 12345)
      SELECT * FROM (
        SELECT concat(status, '#', CAST(cents // 10000000 AS VARCHAR)) AS gtag,
               count(*) AS n,
               CAST(sum(cents // 10000000) AS BIGINT) AS sum_bucket,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY 1
        UNION ALL SELECT 'audit:mismatch_refused', 1, 0, 0)
      ORDER BY gtag"""))

  /** STORED PROCEDURES (`CALL`, [[org.apache.spark.sql.connector.catalog
    * .ProcedureCatalog]] — the surface VERDICT r9-r11 carried as
    * environment-gated; the connector API ships in this Spark after all,
    * so r12 lands it): the lakehouse maintenance verbs DDL has no syntax
    * for, resolved and executed by Spark's analyzer against
    * [[graft.sources.GraftProcedures]]. The entry runs the real
    * maintenance lifecycle on a three-commit table: `CALL
    * system.restore(t, 2)` republishes the retained v2 snapshot as a NEW
    * commit (version-continuous — the pre-restore head stays readable at
    * its version, exactly Delta RESTORE / Iceberg rollback_to_snapshot),
    * then `CALL system.expire_history(t, 2)` prunes retention to the
    * newest two versions (Iceberg expire_snapshots) after which `VERSION
    * AS OF` an expired version refuses. Both procedures' RESULT SETS
    * (restored/new version, row count, removed count, earliest retained)
    * are fused into the hash alongside the restored head and a
    * still-retained time-travel read — the oracle recomputes every number
    * from the tranche arithmetic. */
  val q298 = GraftQuery(
    "q298_call_procedures",
    "CALL procedures: restore to a version (new commit) + expire_history pruning retention, results hashed",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.prc_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, status STRING, cents BIGINT)
                 PARTITIONED BY (status)""")
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"prc_src_$tag")
      // v1..v3: three tranches
      (0 to 2).foreach(i =>
        s2.sql(s"""INSERT INTO $tbl
                   SELECT okey, status, cents FROM prc_src_$tag WHERE okey % 3 = $i"""))
      val restore = s2.sql(s"CALL graft_cat.system.restore('corpus.prc_$tag', 2)")
        .collect()(0) // → v4 serves the first two tranches
      val expire = s2.sql(s"CALL graft_cat.system.expire_history('corpus.prc_$tag', 2)")
        .collect()(0) // keep {v3, v4}; v0-v2 expire
      val expiredRefused =
        try { s2.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1").collect(); false }
        catch { case _: Exception => true }
      val procRows = Seq(
        ("proc", "restore_new_version", restore.getAs[Long]("new_version"),
          restore.getAs[Long]("n_rows")),
        ("proc", "expire_removed", expire.getAs[Long]("removed"),
          expire.getAs[Long]("earliest_retained")),
        ("audit", "expired_version_refused",
          expiredRefused.compare(false).toLong, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT 'head' AS at_state, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl GROUP BY status
            UNION ALL
            SELECT 'v3', status, count(*), sum(cents)
            FROM $tbl VERSION AS OF 3 GROUP BY status""")
        .unionByName(procRows.toDF("at_state", "status", "n", "total_cents"))
        .orderBy("at_state", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'head' AS at_state, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t WHERE okey % 3 IN (0, 1) GROUP BY status
        UNION ALL
        SELECT 'v3', status, count(*), CAST(sum(cents) AS BIGINT)
        FROM t GROUP BY status
        UNION ALL
        SELECT 'proc', 'restore_new_version', 4,
               (SELECT count(*) FROM t WHERE okey % 3 IN (0, 1))
        UNION ALL SELECT 'proc', 'expire_removed', 3, 3
        UNION ALL SELECT 'audit', 'expired_version_refused', 1, 0)
      ORDER BY at_state, status"""))

  /** CATALOG-SERVED FUNCTIONS ([[org.apache.spark.sql.connector.catalog
    * .FunctionCatalog]] — the last major V2 catalog surface this engine
    * had not implemented): `graft_cat.system.token_count(text)` resolves
    * through loadFunction → UnboundFunction.bind against the ACTUAL
    * argument types, then executes on the contract's fast tier — the
    * magic-method scalar plans a direct codegen `Invoke` per row (no
    * InternalRow boxing), and the V2 [[org.apache.spark.sql.connector
    * .catalog.functions.AggregateFunction]] runs the standard two-phase
    * shape (per-partition `update`, cross-partition `merge`) like a
    * built-in aggregate. The entry drives BOTH tiers over the documents
    * corpus — token totals/max per language through the scalar, a
    * bitwise-OR id mask through the aggregate (associative+commutative
    * merge, exactly what the partial-aggregation contract requires) — and
    * the oracle recomputes both with DuckDB's independent tokenizer and
    * bit_or. A mis-bound type, a broken magic-method signature, or a
    * wrong merge would each hash-fail. */
  val q299 = GraftQuery(
    "q299_catalog_functions",
    "FunctionCatalog: magic-method scalar + two-phase V2 aggregate over documents, DuckDB-replayed",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      table(s2, dir, "documents").createOrReplaceTempView(s"fn_docs_$tag")
      s2.sql(
        s"""SELECT lang, count(*) AS n,
                   sum(graft_cat.system.token_count(text)) AS total_tokens,
                   max(graft_cat.system.token_count(text)) AS max_tokens,
                   graft_cat.system.bit_or_agg(doc_id) AS id_mask
            FROM fn_docs_$tag
            GROUP BY lang ORDER BY lang""")
    },
    Some("""
      WITH t AS (
        SELECT lang, doc_id,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
        FROM documents)
      SELECT lang, count(*) AS n,
             CAST(sum(toks) AS BIGINT) AS total_tokens,
             CAST(max(toks) AS BIGINT) AS max_tokens,
             bit_or(doc_id) AS id_mask
      FROM t GROUP BY lang ORDER BY lang"""))

  /** MERGE … WITH SCHEMA EVOLUTION (TableCapability
    * .AUTOMATIC_SCHEMA_EVOLUTION) — the upsert-with-drift contract every
    * long-lived ingestion pipeline eventually needs: a source that grew a
    * column upserts into a target that lacks it, and the analyzer
    * (ResolveMergeIntoSchemaEvolution — fires ONLY when the table declares
    * the capability AND the statement carries the clause) computes the
    * missing columns and routes them through the catalog's ordinary
    * `ALTER TABLE ADD COLUMNS` as its own committed version BEFORE
    * planning the row-level operation. Semantics pinned by the hash:
    * matched rows take the source's values INCLUDING the new column,
    * pre-existing unmatched rows get NULL in it, inserted rows carry it —
    * and because the evolution is a real schema-per-snapshot commit,
    * `VERSION AS OF` the pre-merge version still serves the THREE-column
    * schema (audited as a column count). A plain MERGE naming the new
    * column (no evolution clause) refuses — evolution is opt-in per
    * statement, never a side effect. */
  val q300 = GraftQuery(
    "q300_merge_schema_evolution",
    "MERGE WITH SCHEMA EVOLUTION: source column auto-added via ALTER, matched/unmatched/inserted semantics hashed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.mse_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, status STRING, cents BIGINT)
                 PARTITIONED BY (status)""")
      ordersCents(s2, dir, col("o_orderpriority").as("prio"))
        .createOrReplaceTempView(s"mse_src_$tag")
      // target: thirds 0 and 1 (no prio column exists yet)
      s2.sql(s"""INSERT INTO $tbl
                 SELECT okey, status, cents FROM mse_src_$tag WHERE okey % 3 IN (0, 1)""")
      // source: thirds 1 and 2, shifted cents, PLUS the prio column the
      // target lacks — third 1 matches (update), third 2 inserts
      s2.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
            USING (SELECT okey, status, cents + 7 AS cents, prio
                   FROM mse_src_$tag WHERE okey % 3 IN (1, 2)) s
            ON t.okey = s.okey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      // opt-in per statement: a plain MERGE naming the next drifted
      // column must refuse, capability or not
      val plainRefused =
        try {
          s2.sql(s"""MERGE INTO $tbl t USING mse_src_$tag s ON t.okey = s.okey
                     WHEN MATCHED THEN UPDATE SET t.ghost = s.prio""")
          false
        } catch { case _: Exception => true }
      val preEvolutionCols =
        s2.sql(s"SELECT * FROM $tbl VERSION AS OF 1").schema.fieldNames.length.toLong
      val audit = Seq(
        ("audit", "plain_merge_refused", plainRefused.compare(false).toLong, 0L),
        ("audit", "pre_evolution_n_cols", preEvolutionCols, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT coalesce(prio, 'none') AS prio, status, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl GROUP BY prio, status""")
        .unionByName(audit.toDF("prio", "status", "n", "total_cents"))
        .orderBy("prio", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderpriority AS prio
        FROM orders)
      SELECT * FROM (
        SELECT CASE WHEN okey % 3 = 0 THEN 'none' ELSE prio END AS prio,
               status, count(*) AS n,
               CAST(sum(CASE WHEN okey % 3 = 0 THEN cents ELSE cents + 7 END)
                    AS BIGINT) AS total_cents
        FROM t GROUP BY 1, 2
        UNION ALL SELECT 'audit', 'plain_merge_refused', 1, 0
        UNION ALL SELECT 'audit', 'pre_evolution_n_cols', 3, 0)
      ORDER BY prio, status"""))

  /** `ALTER TABLE … ALTER COLUMN … SET/DROP DEFAULT` (TableChange
    * .UpdateColumnDefaultValue) — the lifecycle HALF of the default-value
    * contract q293 proved at CREATE: a default is CURRENT_DEFAULT
    * metadata, so changing it is a schema-only commit that retargets
    * FUTURE under-specified inserts and never rewrites a stored row (the
    * reason lakehouse formats can flip a fleet-wide default in O(1)).
    * Three insert waves, one per default regime — declared 5, re-set to
    * 9, dropped (→ NULL) — land under the same omitted-column INSERT;
    * the rollup pivots on the filled values, so a default leaking across
    * regimes (the data-rewrite bug this design rules out) hash-fails.
    * Schema-per-snapshot composes: VERSION AS OF the first wave still
    * DESCRIBEs default 5 (audited via the restored snapshot schema). */
  val q301 = GraftQuery(
    "q301_alter_column_default",
    "ALTER COLUMN SET/DROP DEFAULT: three default regimes, metadata-only commits, no row rewrites",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.adf_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, status STRING, cents BIGINT,
                 flag BIGINT DEFAULT 5) PARTITIONED BY (status)""")
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"adf_src_$tag")
      def wave(third: Int): Unit =
        s2.sql(s"""INSERT INTO $tbl (okey, status, cents)
                   SELECT okey, status, cents FROM adf_src_$tag WHERE okey % 3 = $third""")
      wave(0) // flag = 5 (declared default)
      s2.sql(s"ALTER TABLE $tbl ALTER COLUMN flag SET DEFAULT 9")
      wave(1) // flag = 9 (new default; wave 0 rows untouched)
      s2.sql(s"ALTER TABLE $tbl ALTER COLUMN flag DROP DEFAULT")
      wave(2) // flag = NULL (no default)
      // pre-alter snapshot schema still carries the original default
      val v1Default = s2.sql(s"SELECT * FROM $tbl VERSION AS OF 1").schema
        .fields.find(_.name == "flag")
        .flatMap(f => if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.metadata.getString("CURRENT_DEFAULT")) else None)
        .getOrElse("none")
      val audit = Seq(
        ("audit", s"v1_default_$v1Default", 1L, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT concat('flag_', coalesce(CAST(flag AS STRING), 'null')) AS regime,
                   status, count(*) AS n, sum(cents) AS total_cents
            FROM $tbl GROUP BY 1, status""")
        .unionByName(audit.toDF("regime", "status", "n", "total_cents"))
        .orderBy("regime", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT concat('flag_', CASE okey % 3 WHEN 0 THEN '5' WHEN 1 THEN '9'
                               ELSE 'null' END) AS regime,
               status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY 1, 2
        UNION ALL SELECT 'audit', 'v1_default_5', 1, 0)
      ORDER BY regime, status"""))

  /** GRADED PARTITION OVERWRITE ([[org.apache.spark.sql.connector.write
    * .SupportsOverwriteV2]] + [[org.apache.spark.sql.connector.write
    * .SupportsDynamicOverwrite]], capabilities OVERWRITE_BY_FILTER /
    * OVERWRITE_DYNAMIC, with [[graft.sources.MemTable]] now DECLARING its
    * partitioning so the analyzer accepts `PARTITION (…)` specs) — the
    * write matrix every partitioned corpus store runs on: STATIC
    * `INSERT OVERWRITE … PARTITION (status = 'F')` deletes exactly the
    * rows the spec names (arriving as a null-safe-equality predicate) and
    * lands the arrivals — the targeted backfill; DYNAMIC overwrite
    * (partitionOverwriteMode=dynamic) replaces exactly the partitions the
    * arrivals TOUCH and leaves the rest — the idempotent daily re-run
    * (Hive's insert-overwrite semantics, Delta's replaceWhere cousin).
    * One partition rides each mode (F static +1, O dynamic +2) and one
    * rides neither (P untouched — the leak detector: a full-table
    * truncate masquerading as either mode would zero it); every commit is
    * the same atomic publish, so time travel sees all three waves. */
  val q302 = GraftQuery(
    "q302_partition_overwrite",
    "INSERT OVERWRITE: static PARTITION spec + dynamic partition overwrite, untouched partition audited",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.ovw_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, cents BIGINT, status STRING)
                 PARTITIONED BY (status)""")
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("status"))
        .createOrReplaceTempView(s"ovw_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, cents, status FROM ovw_src_$tag")
      // STATIC: the PARTITION spec names the vacated rows; the select
      // supplies only the data columns, the spec fills the partition value
      s2.sql(s"""INSERT OVERWRITE $tbl PARTITION (status = 'F')
                 SELECT okey, cents + 1 FROM ovw_src_$tag WHERE status = 'F'""")
      // DYNAMIC: no spec — exactly the touched partitions (only 'O' here)
      // are replaced, everything else survives
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.sql(s"""INSERT OVERWRITE $tbl
                 SELECT okey, cents + 2, status FROM ovw_src_$tag WHERE status = 'O'""")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   sum(okey) AS key_sum
            FROM $tbl GROUP BY status ORDER BY status""")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT status, count(*) AS n,
             CAST(sum(cents + CASE status WHEN 'F' THEN 1 WHEN 'O' THEN 2
                              ELSE 0 END) AS BIGINT) AS total_cents,
             CAST(sum(okey) AS BIGINT) AS key_sum
      FROM t GROUP BY status ORDER BY status"""))

  /** SORTED DATA LAYOUT ([[org.apache.spark.sql.connector.read
    * .SupportsReportOrdering]] + a `sortedBy` table property) — the
    * second half of the zero-shuffle story q192 started: SPJ deletes the
    * EXCHANGES from a co-partitioned join, but Spark still has to SORT
    * both sides for the merge — unless the data already lives sorted and
    * the scan says so. Tables created with TBLPROPERTIES('sortedBy'=…)
    * keep every partition's rows ordered by that column across all
    * commit paths ([[graft.sources.MemTable.publish]] is the single
    * choke point — the harness analog of sort-on-write data files,
    * Iceberg's SORTED BY), and the scan reports the resulting
    * (partition, sort) ordering. A merge join on exactly those keys then
    * plans with NO exchange AND NO input sort on either side — the
    * streaming-zipper plan, pinned by PlanSpec (the only Sort left is
    * the final output ORDER BY). Both sides pre-aggregate to one row per
    * (bucket, user) BEFORE the write, so the join consumes scan output
    * directly — at 100 TB this is the nightly-join pattern where paying
    * one sort at write time amortizes across every downstream join. */
  val q303 = GraftQuery(
    "q303_sorted_table_join",
    "sortedBy tables + reported ordering: SPJ merge join with zero exchanges and zero input sorts",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat") ++ Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.shuffle.partitions" -> "4"): _*)
      val tag = runTag()
      def sideTable(t: String, aggCols: Seq[org.apache.spark.sql.Column]): String = {
        val tbl = s"graft_cat.spj.srt_${t}_$tag"
        events(s2, dir).filter(col("event_type") === t)
          .withColumn("bucket", expr("CAST(user_id % 4 AS STRING)"))
          .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
          .groupBy("bucket", "user_id")
          .agg(aggCols.head, aggCols.tail: _*)
          .writeTo(tbl).tableProperty("sortedBy", "user_id")
          .partitionedBy(col("bucket")).create()
        tbl
      }
      val clicks = s2.table(sideTable("click",
        Seq(count(lit(1)).as("n_clicks"))))
      val purchases = s2.table(sideTable("purchase",
        Seq(count(lit(1)).as("n_purchases"), sum("cents").as("purchase_cents"))))
      clicks.hint("merge")
        .join(purchases, Seq("bucket", "user_id"))
        .select(col("user_id"), col("n_clicks"), col("n_purchases"),
          col("purchase_cents"))
        .orderBy("user_id")
    },
    // same logical result as q192, DELIBERATELY: the two entries differ
    // in the physical contract under test (compute-side rollup + sorted
    // merge vs sorted-layout scan with both sorts eliminated)
    Some("""
      WITH c AS (
        SELECT user_id, count(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY user_id),
      p AS (
        SELECT user_id, count(*) AS n_purchases,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS purchase_cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT c.user_id, c.n_clicks, p.n_purchases, p.purchase_cents
      FROM c JOIN p USING (user_id)
      ORDER BY user_id"""))

  /** CONNECTOR CUSTOM METRICS ([[org.apache.spark.sql.connector.metric
    * .CustomMetric]]) — the V2 observability contract (Iceberg's
    * scanned/skipped file counts, Kafka's lag): the scan declares
    * `graft_rows_served` (task-side, polled row counts summed into SQL
    * metrics) and `graft_planned_partitions` (driver-side, partitions
    * surviving pruning); the write declares `graft_rows_written`. The
    * entry executes a pruned probe (aggregate NOT pushable, so the scan
    * actually serves rows), then reads the metrics off the executed
    * BatchScanExec and fuses them into the hash: rows_served must equal
    * the F-partition row count THE ORACLE COMPUTES INDEPENDENTLY, and
    * planned_partitions must be exactly 1 — the observability a 100 TB
    * operator uses to confirm pruning engaged, here made hash-falsifiable
    * instead of eyeballed in a UI. */
  val q304 = GraftQuery(
    "q304_scan_metrics",
    "connector custom metrics: rows-served and planned-partitions read from the executed scan, oracle-matched",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.met_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, cents BIGINT, status STRING)
                 PARTITIONED BY (status)""")
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("status"))
        .createOrReplaceTempView(s"met_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, cents, status FROM met_src_$tag")
      // the probe: partition-pruned to 'F', aggregate NOT pushable
      // (sum(okey + cents) is no plain-column aggregate), so the scan
      // serves every F row and the task metric counts them
      val probe = s2.sql(
        s"SELECT sum(okey + cents) AS sig FROM $tbl WHERE status = 'F'")
      probe.collect()
      // AQE wraps the scan: unwrap adaptive nodes to their final plans
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan) // materialized stages hide their plan from children
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            Seq(b)
        }.flatten
      val scan = scans(probe.queryExecution.executedPlan).head
      val audit = Seq(
        ("metric", "rows_served", scan.metrics("graft_rows_served").value),
        ("metric", "planned_partitions",
          scan.metrics("graft_planned_partitions").value))
      import s2.implicits._
      s2.sql(
        s"""SELECT 'data' AS kind, status, count(*) AS n
            FROM $tbl GROUP BY status""")
        .unionByName(audit.toDF("kind", "status", "n"))
        .orderBy("kind", "status")
    },
    Some("""
      WITH t AS (SELECT o_orderstatus AS status FROM orders)
      SELECT * FROM (
        SELECT 'data' AS kind, status, count(*) AS n FROM t GROUP BY status
        UNION ALL
        SELECT 'metric', 'rows_served',
               (SELECT count(*) FROM t WHERE status = 'F')
        UNION ALL SELECT 'metric', 'planned_partitions', 1)
      ORDER BY kind, status"""))

  /** DSv2 JOIN PUSHDOWN ([[org.apache.spark.sql.connector.read
    * .SupportsPushDownJoin]], conf spark.sql.optimizer
    * .datasourceV2JoinPushdown — the deepest read contract in the V2
    * matrix, shipped for JDBC-class sources): when both sides of an
    * equi-join scan THIS source, the join itself moves into the
    * connector and Spark plans ONE BatchScan serving joined rows — the
    * remote-join posture where the source owns the join and the engine
    * never shuffles two inputs. Two measured preconditions are part of
    * the contract this entry documents: the rule requires every filter
    * FULLY pushed (equi-joins carry inferred IsNotNull filters → the
    * tables opt into extended v1-filter pushdown), and only INNER
    * equi-joins translate (everything else refuses and Spark joins
    * normally — LakehouseDdlSpec pins the LEFT JOIN fallback). The
    * entry runs a THREE-way join (the second push composes onto the
    * already-joined builder) plus a WHERE, audits `single_scan` by
    * counting BatchScans in the executed plan, and hash-matches the
    * rollup against DuckDB recomputing the joins independently. */
  val q305 = GraftQuery(
    "q305_join_pushdown",
    "DSv2 join pushdown: 3-way equi-join + filter served by ONE scan, audited and oracle-matched",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat") ++ Seq(
        "spark.sql.optimizer.datasourceV2JoinPushdown" -> "true"): _*)
      val tag = runTag()
      val (ta, tb, tc) = (s"graft_cat.corpus.jpa_$tag",
        s"graft_cat.corpus.jpb_$tag", s"graft_cat.corpus.jpc_$tag")
      ordersCents(s2, dir, col("o_orderpriority").as("prio"))
        .createOrReplaceTempView(s"jp_src_$tag")
      s2.sql(s"""CREATE TABLE $ta (okey BIGINT, status STRING, cents BIGINT)
                 PARTITIONED BY (status) TBLPROPERTIES ('extendedPushdown'='true')""")
      s2.sql(s"""CREATE TABLE $tb (okey BIGINT, status STRING, prio STRING)
                 PARTITIONED BY (status) TBLPROPERTIES ('extendedPushdown'='true')""")
      s2.sql(s"""CREATE TABLE $tc (prio STRING, status STRING, prank BIGINT)
                 PARTITIONED BY (status) TBLPROPERTIES ('extendedPushdown'='true')""")
      s2.sql(s"INSERT INTO $ta SELECT okey, status, cents FROM jp_src_$tag")
      s2.sql(s"INSERT INTO $tb SELECT okey, status, prio FROM jp_src_$tag")
      s2.sql(s"""INSERT INTO $tc SELECT DISTINCT prio, 'X',
                   CAST(substring(prio, 1, 1) AS BIGINT) FROM jp_src_$tag""")
      val probe = s2.sql(
        s"""SELECT b.prio, count(*) AS n, sum(a.cents) AS total_cents,
                   max(c.prank) AS max_rank
            FROM $ta a JOIN $tb b ON a.okey = b.okey
                       JOIN $tc c ON b.prio = c.prio
            WHERE a.cents >= 10000000
            GROUP BY b.prio""")
      val rows = probe.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Int =
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan)
          case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => 1
        }.sum
      val nScans = scans(probe.queryExecution.executedPlan).toLong
      import s2.implicits._
      (rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))) :+
        (("audit:n_scans", nScans, 0L, 0L)))
        .toDF("prio", "n", "total_cents", "max_rank")
        .orderBy("prio")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status, o_orderpriority AS prio,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT prio, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(substring(prio, 1, 1) AS BIGINT) AS max_rank
        FROM t WHERE cents >= 10000000 GROUP BY prio
        UNION ALL SELECT 'audit:n_scans', 1, 0, 0)
      ORDER BY prio"""))

  /** OFFSET pushdown ([[org.apache.spark.sql.connector.read
    * .SupportsPushDownOffset]]) — full source-side PAGINATION, completing
    * the top-N story (q212/list_runs): `ORDER BY … LIMIT n OFFSET m`
    * pushes the sort (top-N with n+m rows), the offset skip, and the cut
    * into the scan — Spark plans NO sort, NO limit, NO offset of its own,
    * so page 1000 costs the same scan as page 1 (the contract behind the
    * reference's early-terminating pagination, gluettalax.py:320-323,
    * now at all three clauses). The hash pins the exact page CONTENT
    * (deterministic: okey is unique) and an audit asserts the offset
    * really landed in the scan (`pushedOffset` in the formatted plan) —
    * row-identical pages with a silently unpushed offset would otherwise
    * pass. */
  val q306 = GraftQuery(
    "q306_offset_pagination",
    "ORDER BY + LIMIT + OFFSET all pushed: exact page served source-side, pushdown audited",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.pag_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, cents BIGINT, status STRING)
                 PARTITIONED BY (status)""")
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("status"))
        .createOrReplaceTempView(s"pag_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, cents, status FROM pag_src_$tag")
      val page = s2.sql(
        s"""SELECT okey, cents FROM $tbl
            ORDER BY okey LIMIT 50 OFFSET 100""")
      val pushed = page.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .contains("pushedOffset=100")
      import s2.implicits._
      page.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
        .:+((-1L, if (pushed) 1L else 0L))
        .toDF("okey", "cents")
        .orderBy("okey")
    },
    Some("""
      SELECT * FROM (
        SELECT o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100)
      UNION ALL SELECT -1, 1
      ORDER BY okey"""))

  /** TABLESAMPLE pushdown ([[org.apache.spark.sql.connector.read
    * .SupportsPushDownTableSample]]) — the source samples, Spark plans no
    * Sample operator: at 100 TB the difference between reading 10% of
    * the blocks and reading all of them to discard 90%. The connector's
    * scheme is DETERMINISTIC SYSTEMATIC sampling over the first long
    * column (`(okey + seed) mod 10000 ∈ [lower, upper)·10000`), chosen
    * precisely so a `REPEATABLE(seed)` sample is exactly reproducible by
    * any engine — the oracle replays the same arithmetic in SQL and the
    * hash pins the sampled aggregate VALUE, not just its size. The audit
    * asserts the plan carries `pushedSample` and NO Sample node. The
    * aggregate is deliberately non-pushable so the scan really serves
    * the sampled rows. */
  val q307 = GraftQuery(
    "q307_tablesample_pushdown",
    "TABLESAMPLE REPEATABLE pushed into the scan: systematic sample, exact oracle replay, no Sample node",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.smp_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, cents BIGINT, status STRING)
                 PARTITIONED BY (status)""")
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("status"))
        .createOrReplaceTempView(s"smp_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, cents, status FROM smp_src_$tag")
      val probe = s2.sql(
        s"""SELECT status, count(*) AS n, sum(okey + cents) AS sig
            FROM $tbl TABLESAMPLE (10 PERCENT) REPEATABLE (42)
            GROUP BY status""")
      val rows = probe.collect()
      val planStr = probe.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pushedNoSample =
        planStr.contains("pushedSample=[0.0,0.1) seed=42") &&
          !planStr.contains("Sample ")
      import s2.implicits._
      (rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) :+
        (("audit:pushed_no_sample_node",
          if (pushedNoSample) 1L else 0L, 0L)))
        .toDF("status", "n", "sig")
        .orderBy("status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        WHERE ((o_orderkey + 42) % 10000 + 10000) % 10000 < 1000)
      SELECT * FROM (
        SELECT status, count(*) AS n, CAST(sum(okey + cents) AS BIGINT) AS sig
        FROM t GROUP BY status
        UNION ALL SELECT 'audit:pushed_no_sample_node', 1, 0)
      ORDER BY status"""))

  /** CLUSTERED WRITE DISTRIBUTION ([[org.apache.spark.sql.connector
    * .write.RequiresDistributionAndOrdering]], opt-in via
    * TBLPROPERTIES('writeDistribution'='clustered')) — the WRITE-side
    * planning contract (Iceberg's write distribution modes): the Write
    * tells Spark rows must arrive clustered by the partition column and
    * sorted within tasks, Spark plans the exchange + sort BEFORE the
    * writers, and each task then carries whole partition groups — at
    * 100 TB the difference between one file per partition per commit and
    * the every-task-writes-every-partition small-file explosion. The
    * audit is structural, read from the COMMIT MESSAGES themselves: with
    * the property, no partition value spans two task messages
    * (groups-over-tasks == distinct groups); the CONTROL table without
    * the property demonstrably splits partitions across tasks on the
    * same insert. Both tables must hold identical data — the
    * distribution changes the write topology, never the rows. */
  val q308 = GraftQuery(
    "q308_clustered_write_distribution",
    "RequiresDistributionAndOrdering: clustered write keeps partitions task-whole (commit-message audit + control)",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val clustered = s"graft_cat.corpus.cw_$tag"
      val control = s"graft_cat.corpus.cwc_$tag"
      s2.sql(s"""CREATE TABLE $clustered (okey BIGINT, cents BIGINT, status STRING)
                 PARTITIONED BY (status)
                 TBLPROPERTIES ('writeDistribution'='clustered', 'sortedBy'='okey')""")
      s2.sql(s"""CREATE TABLE $control (okey BIGINT, cents BIGINT, status STRING)
                 PARTITIONED BY (status)""")
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("status"))
        .repartition(4) // several input tasks, statuses mixed in each
        .createOrReplaceTempView(s"cw_src_$tag")
      s2.sql(s"INSERT INTO $clustered SELECT okey, cents, status FROM cw_src_$tag")
      s2.sql(s"INSERT INTO $control SELECT okey, cents, status FROM cw_src_$tag")
      def shape(name: String): (Int, Int, Int, Int) =
        graft.sources.MemTable.lastCommitShape(s"cat!graft_cat!corpus!$name")
      val (cwTasks @ _, _, cwPairs, cwGroups) = shape(s"cw_$tag")
      val (_, _, ccPairs, ccGroups) = shape(s"cwc_$tag")
      val audit = Seq(
        ("audit", "clustered_no_partition_split",
          (cwPairs == cwGroups).compare(false).toLong, 0L),
        ("audit", "control_splits_partitions",
          (ccPairs > ccGroups).compare(false).toLong, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT 'data' AS kind, status, count(*) AS n, sum(cents) AS total_cents
            FROM $clustered GROUP BY status""")
        .unionByName(audit.toDF("kind", "status", "n", "total_cents"))
        .orderBy("kind", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'data' AS kind, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL SELECT 'audit', 'clustered_no_partition_split', 1, 0
        UNION ALL SELECT 'audit', 'control_splits_partitions', 1, 0)
      ORDER BY kind, status"""))

  /** CATALOG INTROSPECTION — the read-the-contract-before-relying-on-it
    * surfaces a lakehouse user runs first: `DESCRIBE TABLE EXTENDED`
    * (columns + partition info + metadata columns + column defaults),
    * `SHOW TBLPROPERTIES` (the connector now serves its declared
    * properties back through Table.properties — sortedBy,
    * writeDistribution, extendedPushdown, deltaIdCol), and `SHOW CREATE
    * TABLE` (the round-trippable DDL, incl. the rendered DEFAULT).
    * The hash pins STABLE facts extracted from each surface — column
    * name/type pairs, the partition column, the property key-values, and
    * DDL membership audits — not raw rendering, so Spark formatting
    * drift can't break it while a genuinely missing fact still does. */
  val q309 = GraftQuery(
    "q309_catalog_introspection",
    "DESCRIBE EXTENDED + SHOW TBLPROPERTIES + SHOW CREATE TABLE: declared contracts read back, fact-pinned",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.intr_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, cents BIGINT DEFAULT 7,
                 status STRING) PARTITIONED BY (status)
                 TBLPROPERTIES ('sortedBy'='okey', 'writeDistribution'='clustered')""")
      // columns before the '# Partition Information' break
      val desc = s2.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val cols = desc.takeWhile(!_._1.startsWith("#"))
        .filter(_._1.nonEmpty)
        .map { case (n, t) => ("column", n, t) }
      val partRow = desc.dropWhile(_._1 != "# Partition Information")
        .drop(2).headOption.map(p => ("partition", p._1, p._2)).toSeq
      val props = s2.sql(s"SHOW TBLPROPERTIES $tbl").collect()
        .map(r => ("property", r.getString(0), r.getString(1)))
        .filter(p => Set("sortedBy", "writeDistribution").contains(p._2))
      val ddl = s2.sql(s"SHOW CREATE TABLE $tbl").head().getString(0)
      val audits = Seq(
        ("ddl", "renders_default",
          if (ddl.contains("DEFAULT 7")) "1" else "0"),
        ("ddl", "renders_partitioning",
          if (ddl.contains("PARTITIONED BY (status)")) "1" else "0"),
        ("ddl", "renders_sortedBy_property",
          if (ddl.contains("'sortedBy' = 'okey'")) "1" else "0"))
      import s2.implicits._
      (cols.toSeq ++ partRow ++ props.toSeq ++ audits)
        .toDF("kind", "name", "value")
        .orderBy("kind", "name")
    },
    Some("""
      SELECT * FROM (VALUES
        ('column', 'okey', 'bigint'),
        ('column', 'cents', 'bigint'),
        ('column', 'status', 'string'),
        ('partition', 'status', 'string'),
        ('property', 'sortedBy', 'okey'),
        ('property', 'writeDistribution', 'clustered'),
        ('ddl', 'renders_default', '1'),
        ('ddl', 'renders_partitioning', '1'),
        ('ddl', 'renders_sortedBy_property', '1'))
        AS t(kind, name, value)
      ORDER BY kind, name"""))

  /** COLUMN LIFECYCLE DDL — `ALTER TABLE … RENAME COLUMN / DROP COLUMN /
    * ALTER COLUMN … COMMENT` completing the schema-evolution matrix q285
    * opened with ADD COLUMNS: rename is METADATA-ONLY (rows are
    * positional; only the schema's field name moves), drop narrows the
    * schema AND every retained row in the same version-bumping publish,
    * and — the lakehouse property the hash pins hardest — a DROPPED
    * column's data REMAINS FULLY READABLE through time travel
    * (`VERSION AS OF` a pre-drop version serves the wide schema and the
    * oracle recomputes the dropped column's sum from the source). Guard
    * rails audited: renaming the partition column refuses, as does
    * renaming/dropping any column that anchors a declared contract
    * (sortedBy / deltaIdCol / generation expression — measured: Spark
    * does not police these for V2 connectors, so the catalog must). */
  val q310 = GraftQuery(
    "q310_column_lifecycle_ddl",
    "RENAME/DROP COLUMN + comment: schema-per-snapshot evolution, dropped data readable via time travel",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val tag = runTag()
      val tbl = s"graft_cat.corpus.clc_$tag"
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, cents BIGINT, extra BIGINT,
                 status STRING) PARTITIONED BY (status)""")
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("extra"),
          col("o_orderstatus").as("status"))
        .createOrReplaceTempView(s"clc_src_$tag")
      s2.sql(s"INSERT INTO $tbl SELECT okey, cents, extra, status FROM clc_src_$tag") // v1
      s2.sql(s"ALTER TABLE $tbl RENAME COLUMN extra TO bucket")                       // v2
      s2.sql(s"ALTER TABLE $tbl ALTER COLUMN bucket COMMENT 'cents in dollars'")      // v3
      s2.sql(s"ALTER TABLE $tbl DROP COLUMN bucket")                                  // v4
      val partRenameRefused =
        try { s2.sql(s"ALTER TABLE $tbl RENAME COLUMN status TO st"); false }
        catch { case _: Exception => true }
      val headCols = s2.table(tbl).schema.fieldNames.length.toLong
      val v1Cols = s2.sql(s"SELECT * FROM $tbl VERSION AS OF 1").schema.fieldNames.toSeq
      val v3HasComment = s2.sql(s"SELECT * FROM $tbl VERSION AS OF 3").schema
        .fields.find(_.name == "bucket")
        .exists(f => f.metadata.contains("comment") &&
          f.metadata.getString("comment") == "cents in dollars")
      // the dropped column's data, read back through time travel
      val droppedSum = s2.sql(
        s"SELECT sum(extra) FROM $tbl VERSION AS OF 1").head().getLong(0)
      val audit = Seq(
        ("audit", "v1_schema_has_extra",
          v1Cols.contains("extra").compare(false).toLong, 0L),
        ("audit", "v3_comment_travels", v3HasComment.compare(false).toLong, 0L),
        ("audit", "head_n_cols", headCols, 0L),
        ("audit", "partition_rename_refused",
          partRenameRefused.compare(false).toLong, 0L),
        ("audit", "dropped_column_sum_via_time_travel", droppedSum, 0L))
      import s2.implicits._
      s2.sql(
        s"""SELECT 'data' AS kind, status, count(*) AS n, sum(cents) AS total_cents
            FROM $tbl GROUP BY status""")
        .unionByName(audit.toDF("kind", "status", "n", "total_cents"))
        .orderBy("kind", "status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'data' AS kind, status, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY status
        UNION ALL SELECT 'audit', 'v1_schema_has_extra', 1, 0
        UNION ALL SELECT 'audit', 'v3_comment_travels', 1, 0
        UNION ALL SELECT 'audit', 'head_n_cols', 3, 0
        UNION ALL SELECT 'audit', 'partition_rename_refused', 1, 0
        UNION ALL SELECT 'audit', 'dropped_column_sum_via_time_travel',
          (SELECT CAST(sum(cents // 100) AS BIGINT) FROM t), 0)
      ORDER BY kind, status"""))

  /** FILE-BACKED SCANS OF A RESTORED DURABLE TABLE — closing VERDICT
    * r12's one remaining driver-side data seam: after a restart, a
    * durable table's snapshot is a [[graft.sources.LazyParts]] MANIFEST
    * VIEW (partition keys + per-file row/byte stats, no rows), and a
    * batch scan plans one [[graft.sources.MemFilePart]] per surviving
    * spilled partition file — the task opens the parquet itself, so the
    * data moves disk → executor exactly like a FileScan, never through
    * the driver. The entry proves all of it with hash-asserted audits:
    * (a) the executed plan self-describes `fileBacked=3 files`, (b)
    * partition pruning happens at the MANIFEST (a status-filtered read
    * plans 1 of 3 files), (c) after BOTH reads complete, the driver-side
    * lazy cache has materialized ZERO partitions, and (d) manifest
    * statistics served the planner (numRows == the table's real count,
    * read without opening a file). Aggregation groups by a NON-partition
    * key on purpose — pushed aggregates would be computed driver-side
    * and defeat the proof. At 100 TB this is the whole point of a
    * lakehouse read path: the driver holds manifests, executors hold
    * data. */
  val q312 = GraftQuery(
    "q312_file_backed_restore_scan",
    "Durable catalog restore serves batch scans from spilled parquet through executors (no driver rehydration)",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_fbr", Some("spark-warehouse/graft_catalog_fbr")): _*)
      val tag = runTag()
      val tbl = s"graft_fbr.corpus.fbr_$tag"
      val key = s"cat!graft_fbr!corpus!fbr_$tag"
      ordersCents(s2, dir)
        .writeTo(tbl).partitionedBy(col("status")).create()
      // ---- process restart: all in-memory state dies; the next read
      // restores a manifest-only snapshot over the spilled files
      graft.sources.MemTable.evict(key)
      def leg(kind: String, where: String) = s2.sql(
        s"""SELECT '$kind' AS kind, pmod(okey, 7) AS grp, count(*) AS n,
                   sum(cents) AS total_cents
            FROM $tbl $where GROUP BY pmod(okey, 7)""")
      val full = leg("full", "")
      val pruned = leg("pruned", "WHERE status = 'O'")
      def described(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString
      def plannedOf(desc: String): Long =
        "planned=(\\d+)".r.findFirstMatchIn(desc)
          .map(_.group(1).toLong).getOrElse(-1L)
      val (fullDesc, prunedDesc) = (described(full), described(pruned))
      // manifest statistics reached the planner: numRows without a read
      val statRows = full.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(_.stats.rowCount).headOption.map(_.toLong).getOrElse(-1L)
      val out = full.unionByName(pruned).localCheckpoint(true)
      // the probe AFTER both legs executed: zero driver materialization;
      // manifest row total probed through the same guarded match (ADVICE
      // r13: a restore regressing to a materialized Map must hash-fail
      // via the -1 sentinel, not die on a ClassCastException)
      val (lazyLeft, manifestRows) =
        graft.sources.MemTable.store(key).parts match {
          case lp: graft.sources.LazyParts =>
            (lp.materializedCount.toLong,
              lp.fileInfo.valuesIterator.map(_.rows).sum)
          case _ => (-1L, -1L)
        }
      val audits = Seq(
        ("audit", 0L, if (fullDesc.contains("fileBacked=3 files")) 1L else 0L),
        ("audit", 1L, plannedOf(fullDesc)),
        ("audit", 2L, plannedOf(prunedDesc)),
        ("audit", 3L, lazyLeft),
        ("audit", 4L, if (statRows == manifestRows && manifestRows >= 0) 1L
          else 0L))
      import s2.implicits._
      val auditDf = audits.toDF("kind", "grp", "n")
        .withColumn("total_cents", lit(0L))
      val res = out.unionByName(auditDf).orderBy("kind", "grp")
        .localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      res
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'full' AS kind, okey % 7 AS grp, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY okey % 7
        UNION ALL
        SELECT 'pruned', okey % 7, count(*), CAST(sum(cents) AS BIGINT)
        FROM t WHERE status = 'O' GROUP BY okey % 7
        UNION ALL SELECT 'audit', 0, 1, 0  -- plan self-describes fileBacked=3
        UNION ALL SELECT 'audit', 1, 3, 0  -- full read plans all 3 files
        UNION ALL SELECT 'audit', 2, 1, 0  -- pruned read plans 1 of 3
        UNION ALL SELECT 'audit', 3, 0, 0  -- driver materialized ZERO parts
        UNION ALL SELECT 'audit', 4, 1, 0) -- manifest stats fed the planner
      ORDER BY kind, grp"""))

  /** VARIANT-TYPED COLUMNS + EXTRACTION PUSHDOWN — VERDICT r12 item 5,
    * the last exotic read contract the V2 matrix lacked: [[graft.sources
    * .MemTable]] now stores semi-structured VARIANT columns (the opaque
    * binary (value, metadata) pair, never decoded driver-side on write),
    * and the scan implements [[org.apache.spark.sql.connector.read
    * .SupportsPushDownVariantExtractions]] — Spark's DSv2 half of
    * variant SHREDDING (gated by spark.sql.variant.pushVariantIntoScan):
    * instead of shipping whole blobs up for the engine to tear apart per
    * query, the SOURCE serves exactly the requested paths as typed
    * struct fields and every engine-side `variant_get` disappears into a
    * plain struct-field access. The entry loads `orders` rows as JSON
    * variants, aggregates three extracted paths (top-level bigint,
    * top-level string, nested object path) grouped by an extracted
    * value, filters on a fourth extraction, and hash-asserts BOTH plan
    * facts the way q306 pins `pushedOffset`: the scan self-describes
    * `pushedVariantExtractions=[…]` and NO `variant_get` survives in the
    * executed plan. Oracle recomputes everything from `orders` scalars —
    * a wrong extraction, a dropped NULL, or a silently-unpushed path
    * hash-fails. At 100 TB this is the Iceberg/Parquet shredding
    * posture: typed subcolumns read at the source, blobs never cross the
    * wire. */
  val q313 = GraftQuery(
    "q313_variant_extraction_pushdown",
    "VARIANT columns + SupportsPushDownVariantExtractions: source-served typed paths, plan-asserted",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_varc") ++ Seq(
        "spark.sql.variant.pushVariantIntoScan" -> "true"): _*)
      val tag = runTag()
      val tbl = s"graft_varc.corpus.vx_$tag"
      s2.sql(s"CREATE TABLE $tbl (k BIGINT, status STRING, v VARIANT) PARTITIONED BY (status)")
      table(s2, dir, "orders").createOrReplaceTempView(s"vx_src_$tag")
      s2.sql(
        s"""INSERT INTO $tbl
            SELECT o_orderkey, o_orderstatus,
                   parse_json(concat('{"cents":',
                     CAST(round(o_totalprice * 100) AS BIGINT),
                     ',"pri":"', o_orderpriority,
                     '","nest":{"ok":', pmod(o_orderkey, 7), '}}'))
            FROM vx_src_$tag""")
      // the projection+filter plan is where the rewrite is total: every
      // variant_get becomes a struct-field access over the pushed scan.
      // (Measured: an AGGREGATE-internal variant_get is kept engine-side
      // by Spark's rule — it pushes a whole-`$` extraction for it — so
      // the pin lives on the projection and the aggregate consumes its
      // checkpoint.)
      val proj = s2.sql(
        s"""SELECT variant_get(v, '$$.pri', 'string') AS pri,
                   variant_get(v, '$$.cents', 'bigint') AS cents,
                   variant_get(v, '$$.nest.ok', 'bigint') AS nest_ok
            FROM $tbl
            WHERE variant_get(v, '$$.cents', 'bigint') >= 0""")
      val plan = proj.queryExecution.executedPlan.toString
      val audits = Seq(
        ("audit:pushed_to_scan",
          if (plan.contains("pushedVariantExtractions=")) 1L else 0L),
        ("audit:no_engine_variant_get",
          if (plan.contains("variant_get")) 0L else 1L))
      val agg = proj.localCheckpoint(true).groupBy("pri")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
          sum("nest_ok").as("nest_ok"))
      import s2.implicits._
      val auditDf = audits.toDF("pri", "n")
        .withColumn("cents", lit(0L)).withColumn("nest_ok", lit(0L))
      val out = agg.unionByName(auditDf).orderBy("pri").localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      out
    },
    Some("""
      SELECT * FROM (
        SELECT o_orderpriority AS pri, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               CAST(sum(o_orderkey % 7) AS BIGINT) AS nest_ok
        FROM orders GROUP BY 1
        UNION ALL SELECT 'audit:pushed_to_scan', 1, 0, 0
        UNION ALL SELECT 'audit:no_engine_variant_get', 1, 0, 0)
      ORDER BY pri"""))

  /** PARQUET-READER-LEVEL PUSHDOWN ON FILE-BACKED RESTORE SCANS —
    * VERDICT r13 item 2 (the gap between "executors read the file" and
    * "executors read only the needed row groups"): a restored durable
    * table's task-side read now skips whole ROW GROUPS whose chunk
    * statistics prove an accepted filter matches no row, and decodes
    * only the referenced COLUMNS ([[graft.sources.DurableSpill
    * .readRowsSelective]]). The table spills with small row groups
    * (forced via the row-group-size knob so harness row counts produce a
    * multi-group layout — production keeps parquet's 128 MiB default)
    * and sorts each partition by `okey` (`sortedBy`), so chunk min/max
    * are tight key ranges — the sort-on-write + min/max-skipping
    * discipline every lakehouse uses. After a restart, a full scan reads
    * every group of every partition file, and a `WHERE okey <= K` scan
    * provably skips groups: the audits hash-assert (a) the layout is
    * multi-group, (b) the full leg skipped nothing, (c) the pruned leg
    * decoded ≥1 and skipped ≥1 group, (d) it decoded strictly fewer
    * groups than the full leg, and (e) read+skipped still covers the
    * same group universe (pruning is skipping, not forgetting). Row
    * CORRECTNESS is separately guaranteed by the task-side row filters —
    * pruning can only remove groups the filter would have emptied — and
    * the oracle recomputes both legs from `orders`. At 100 TB this is
    * why a selective query on a sorted restored table costs one row
    * group per file, not the file. */
  val q314 = GraftQuery(
    "q314_rowgroup_pruning",
    "File-backed restore scans skip row groups by chunk statistics and decode only referenced columns",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_rgp", Some("spark-warehouse/graft_catalog_rgp")): _*)
      val tag = runTag()
      val tbl = s"graft_rgp.corpus.rgp_$tag"
      val key = s"cat!graft_rgp!corpus!rgp_$tag"
      // small row groups DECLARED PER TABLE (ADVICE r14: the global knob
      // would silently resize any concurrently created durable table)
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .writeTo(tbl).partitionedBy(col("status"))
        .tableProperty("extendedPushdown", "true")
        .tableProperty("sortedBy", "okey")
        .tableProperty("spillRowGroupBytes", (4L << 10).toString)
        .create()
      // ---- process restart: the next reads plan against spilled files
      graft.sources.MemTable.evict(key)
      val tKey = graft.sources.DurableSpill.tallyKeyOf(key)
      def tallies(): (Long, Long) =
        graft.sources.DurableSpill.groupTallies.get(tKey)
          .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
      def leg(kind: String, where: String) = {
        graft.sources.DurableSpill.groupTallies.remove(tKey)
        val df = s2.sql(
          s"""SELECT '$kind' AS kind, pmod(okey, 7) AS grp, count(*) AS n,
                     sum(cents) AS total_cents
              FROM $tbl $where GROUP BY pmod(okey, 7)""")
          .localCheckpoint(true) // execute NOW, tallies read after
        (df, tallies())
      }
      val (full, (rF, sF)) = leg("full", "")
      val (pruned, (rP, sP)) = leg("pruned", "WHERE okey <= 400")
      val audits = Seq(
        ("audit", 0L, if (rF >= 2) 1L else 0L), // multi-group layout
        ("audit", 1L, if (sF == 0) 1L else 0L), // full scan skips nothing
        ("audit", 2L, if (rP >= 1) 1L else 0L), // pruned leg still reads
        ("audit", 3L, if (sP >= 1) 1L else 0L), // ...and SKIPS groups
        ("audit", 4L, if (rP < rF) 1L else 0L), // strictly fewer decoded
        ("audit", 5L, if (rP + sP == rF) 1L else 0L)) // same universe
      import s2.implicits._
      val auditDf = audits.toDF("kind", "grp", "n")
        .withColumn("total_cents", lit(0L))
      val res = full.unionByName(pruned).unionByName(auditDf)
        .orderBy("kind", "grp").localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      res
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'full' AS kind, okey % 7 AS grp, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY okey % 7
        UNION ALL
        SELECT 'pruned', okey % 7, count(*), CAST(sum(cents) AS BIGINT)
        FROM t WHERE okey <= 400 GROUP BY okey % 7
        UNION ALL SELECT 'audit', 0, 1, 0  -- spill layout is multi-group
        UNION ALL SELECT 'audit', 1, 1, 0  -- full leg skipped nothing
        UNION ALL SELECT 'audit', 2, 1, 0  -- pruned leg decoded >= 1
        UNION ALL SELECT 'audit', 3, 1, 0  -- pruned leg SKIPPED >= 1
        UNION ALL SELECT 'audit', 4, 1, 0  -- strictly fewer than full
        UNION ALL SELECT 'audit', 5, 1, 0) -- read+skipped = group universe
      ORDER BY kind, grp"""))

  /** METADATA-SERVED AGGREGATES ON A RESTORED TABLE — the r14 close of
    * q312's one documented fallback ("pushed aggregates materialize
    * driver-side"): a pushed COUNT/MIN/MAX over a file-backed snapshot
    * now answers from the MANIFEST (row counts) and the parquet FOOTERS
    * (exact long min/max, gathered at acceptance; all-NULL files serve
    * NULL), so the most common query against a restored table —
    * `count(*)` — touches zero rows and zero data pages; a shape the
    * metadata cannot serve exactly (SUM) REFUSES the pushdown and Spark
    * aggregates engine-side over the file-backed scan, where the
    * selective reader decodes only the referenced column. The entry runs
    * both legs on a restored NULL-bearing table and hash-asserts the
    * whole contract: the pushed leg's plan self-describes
    * `pushedAggregates=` with NO engine aggregate, the refused leg plans
    * a normal aggregate over a `fileBacked=` scan, the pushed leg
    * decoded ZERO data pages (group tallies empty before the sum leg
    * runs), and the driver's lazy cache holds ZERO partitions after
    * everything. At 100 TB this is the catalog-statistics posture: a
    * metadata question gets a metadata answer, and "needs the data"
    * means executors, never the driver. */
  val q317 = GraftQuery(
    "q317_metadata_aggregates",
    "Pushed COUNT/MIN/MAX over a restored table answer from manifest + footers; SUM refuses and runs engine-side, file-backed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_mag", Some("spark-warehouse/graft_catalog_mag")): _*)
      val tag = runTag()
      val tbl = s"graft_mag.corpus.mag_$tag"
      val key = s"cat!graft_mag!corpus!mag_$tag"
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus").as("status"),
          expr("""CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END""").as("c"))
        .writeTo(tbl).partitionedBy(col("status")).create()
      // ---- process restart
      graft.sources.MemTable.evict(key)
      val tKey = graft.sources.DurableSpill.tallyKeyOf(key)
      graft.sources.DurableSpill.groupTallies.remove(tKey)
      val pushed0 = s2.sql(
        s"""SELECT 'pushed' AS kind, status, count(*) AS n,
                   min(c) AS lo, max(c) AS hi
            FROM $tbl GROUP BY status""")
      // plan captured BEFORE the checkpoint replaces it with the
      // checkpointed relation (the q312 described-then-execute order)
      val pushedDesc = pushed0.queryExecution.executedPlan.toString
      val pushed = pushed0.localCheckpoint(true)
      // probe BETWEEN legs: the pushed leg must have decoded nothing
      val pushedTouchedPages =
        graft.sources.DurableSpill.groupTallies.contains(tKey)
      val engine0 = s2.sql(
        s"""SELECT 'sum' AS kind, status, 0L AS n, sum(c) AS lo, 0L AS hi
            FROM $tbl GROUP BY status""")
      val engineDesc = engine0.queryExecution.executedPlan.toString
      val engine = engine0.localCheckpoint(true)
      val lazyLeft = graft.sources.MemTable.store(key).parts match {
        case lp: graft.sources.LazyParts => lp.materializedCount.toLong
        case _                           => -1L
      }
      val audits = Seq(
        ("audit", "agg_pushed",
          if (pushedDesc.contains("pushedAggregates=")) 1L else 0L),
        ("audit", "no_engine_agg_on_pushed_leg",
          if (pushedDesc.contains("HashAggregate")) 0L else 1L),
        ("audit", "pushed_leg_decoded_zero_pages",
          if (pushedTouchedPages) 0L else 1L),
        ("audit", "sum_refused_file_backed",
          if (!engineDesc.contains("pushedAggregates=") &&
            engineDesc.contains("fileBacked=")) 1L else 0L),
        ("audit", "driver_materialized_zero", if (lazyLeft == 0) 1L else 0L))
      import s2.implicits._
      val auditDf = audits.toDF("kind", "status", "n")
        .withColumn("lo", lit(0L)).withColumn("hi", lit(0L))
      val res = pushed.unionByName(engine).unionByName(auditDf)
        .orderBy("kind", "status").localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      res
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS c
        FROM orders)
      SELECT * FROM (
        SELECT 'pushed' AS kind, status, count(*) AS n,
               min(c) AS lo, max(c) AS hi
        FROM t GROUP BY status
        UNION ALL
        SELECT 'sum', status, 0, CAST(sum(c) AS BIGINT), 0
        FROM t GROUP BY status
        UNION ALL SELECT 'audit', 'agg_pushed', 1, 0, 0
        UNION ALL SELECT 'audit', 'no_engine_agg_on_pushed_leg', 1, 0, 0
        UNION ALL SELECT 'audit', 'pushed_leg_decoded_zero_pages', 1, 0, 0
        UNION ALL SELECT 'audit', 'sum_refused_file_backed', 1, 0, 0
        UNION ALL SELECT 'audit', 'driver_materialized_zero', 1, 0, 0)
      ORDER BY kind, status"""))

  /** PAGE-LEVEL (COLUMN-INDEX) SKIPPING + DICTIONARY FILTERING — the
    * reader tier BELOW q314's row groups (VERDICT r14 item 2, explicitly
    * activated): with production's 128 MiB row groups, a selective
    * predicate inside one surviving group still decoded the whole group;
    * now the parquet COLUMN INDEX (per-page min/max/null counts, written
    * by the spill by default) prunes individual DATA PAGES, and a
    * DICTIONARY probe drops a whole group when an equality's value is
    * inside the chunk's [min, max] but absent from its dictionary — the
    * needle-on-a-low-cardinality-column case statistics can never catch.
    * The table spills ONE row group per partition (default byte target)
    * of MANY 50-row pages (TBLPROPERTIES('spillPageRows'), the per-table
    * layout knob), sorted by `okey`. After a restart: a full scan
    * engages no page machinery at all; `WHERE okey <= K` decodes ≥1 and
    * skips ≥1 PAGE inside the surviving groups (fewer pages than the
    * groups contain — the q314 audit, one level down); `WHERE pri =
    * '3-AAA'` (between '1-URGENT' and '5-LOW' in binary order, never a
    * real priority) decodes ZERO groups and ZERO pages: the dictionary
    * answered from one dictionary page per group. Rows are separately
    * exact (task row filters enforce; the oracle recomputes every leg
    * from `orders`). At 100 TB this is the difference between decoding
    * 128 MiB per surviving group and ~1 MiB per matching page — and
    * between scanning a corpus for a nonexistent key and touching only
    * its dictionaries. */
  val q318 = GraftQuery(
    "q318_page_dictionary_pruning",
    "File-backed scans skip data pages by column-index bounds and whole groups by dictionary probes",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_pgp", Some("spark-warehouse/graft_catalog_pgp")): _*)
      val tag = runTag()
      val tbl = s"graft_pgp.corpus.pgp_$tag"
      val key = s"cat!graft_pgp!corpus!pgp_$tag"
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("pri"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .writeTo(tbl).partitionedBy(col("status"))
        .tableProperty("extendedPushdown", "true")
        .tableProperty("sortedBy", "okey")
        .tableProperty("spillPageRows", "50")
        .create()
      // ---- process restart: reads plan against the spilled files
      graft.sources.MemTable.evict(key)
      val tKey = graft.sources.DurableSpill.tallyKeyOf(key)
      def groups(): (Long, Long) =
        graft.sources.DurableSpill.groupTallies.get(tKey)
          .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
      def pages(): (Long, Long) =
        graft.sources.DurableSpill.pageTallies.get(tKey)
          .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
      def clear(): Unit = {
        graft.sources.DurableSpill.groupTallies.remove(tKey)
        graft.sources.DurableSpill.pageTallies.remove(tKey)
      }
      def leg(kind: String, where: String) = {
        clear()
        val df = s2.sql(
          s"""SELECT '$kind' AS kind, pmod(okey, 7) AS grp, count(*) AS n,
                     sum(cents) AS total_cents
              FROM $tbl $where GROUP BY pmod(okey, 7)""")
          .localCheckpoint(true) // execute NOW, tallies read after
        (df, groups(), pages())
      }
      val (full, _, (fPr, fPs)) = leg("full", "")
      val noPageMachineryOnFull =
        fPr == 0L && fPs == 0L &&
          !graft.sources.DurableSpill.pageTallies.contains(tKey)
      val (paged, (gR, _), (pR, pS)) = leg("paged", "WHERE okey <= 400")
      clear()
      val dict0 = s2.sql(
        s"""SELECT 'dict' AS kind, 0L AS grp, count(*) AS n, 0L AS total_cents
            FROM $tbl WHERE pri = '3-AAA'""").localCheckpoint(true)
      val ((dR, _), (dPr, _)) = (groups(), pages())
      val audits = Seq(
        ("audit", 0L, if (noPageMachineryOnFull) 1L else 0L),
        ("audit", 1L, if (pR >= 1) 1L else 0L), // pages decoded >= 1
        ("audit", 2L, if (pS >= 1) 1L else 0L), // pages SKIPPED >= 1
        ("audit", 3L, if (gR >= 1) 1L else 0L), // groups survived (page-level win)
        ("audit", 4L, if (dR == 0) 1L else 0L), // dictionary dropped every group
        ("audit", 5L, if (dPr == 0) 1L else 0L)) // ...decoding zero data pages
      import s2.implicits._
      val auditDf = audits.toDF("kind", "grp", "n")
        .withColumn("total_cents", lit(0L))
      val res = full.unionByName(paged).unionByName(dict0).unionByName(auditDf)
        .orderBy("kind", "grp").localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      res
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'full' AS kind, okey % 7 AS grp, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM t GROUP BY okey % 7
        UNION ALL
        SELECT 'paged', okey % 7, count(*), CAST(sum(cents) AS BIGINT)
        FROM t WHERE okey <= 400 GROUP BY okey % 7
        UNION ALL
        SELECT 'dict', 0, count(*), 0
        FROM orders WHERE o_orderpriority = '3-AAA'
        UNION ALL SELECT 'audit', 0, 1, 0  -- full scan: no page machinery
        UNION ALL SELECT 'audit', 1, 1, 0  -- paged leg decoded >= 1 page
        UNION ALL SELECT 'audit', 2, 1, 0  -- paged leg SKIPPED >= 1 page
        UNION ALL SELECT 'audit', 3, 1, 0  -- groups survived: the win was page-level
        UNION ALL SELECT 'audit', 4, 1, 0  -- dict probe decoded zero groups
        UNION ALL SELECT 'audit', 5, 1, 0) -- ...and zero data pages
      ORDER BY kind, grp"""))

  /** STRING FOOTER MIN/MAX ON RESTORED TABLES — VERDICT r14 item 4 (the
    * non-long footer tier): pushed MIN/MAX over a restored table's
    * STRING column now answers from parquet chunk statistics exactly
    * like the long tier (q317), closing the "refuses to the engine-side
    * scan" gap for the common catalog-statistics shapes. The spill
    * writer leaves chunk statistics UNTRUNCATED (unlike the 64-byte
    * column-index bounds, which prune but never serve), so the footer
    * bounds are exact values; bounds merge across partition files in
    * UTF-8 BINARY order — pinned here by >64-byte values and a
    * U+FFFF-vs-U+10000 pair whose order flips between UTF-16 code units
    * and UTF-8 bytes, and by an all-NULL partition that must serve NULL.
    * The entry runs the same aggregate twice — pushed (footer-served,
    * plan self-describes `pushedAggregates=`, zero data pages decoded,
    * zero driver partitions) and engine-side (a non-pushable residual
    * predicate forces the refusal, so the aggregate runs over the
    * file-backed scan) — and the DuckDB oracle recomputes both legs:
    * three independent computations of the same min/max must agree to
    * the hash. At 100 TB this is `min(url)`/`max(dt)` on a restored
    * catalog table answered from ~KB of footers instead of a scan. */
  val q319 = GraftQuery(
    "q319_string_footer_minmax",
    "Pushed string MIN/MAX over a restored table serve exact footer bounds; engine and oracle replays agree",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_smm", Some("spark-warehouse/graft_catalog_smm")): _*)
      val tag = runTag()
      val tbl = s"graft_smm.corpus.smm_$tag"
      val key = s"cat!graft_smm!corpus!smm_$tag"
      val svExpr = """CASE WHEN o_orderstatus = 'P' THEN NULL
        WHEN o_orderkey % 97 = 0 THEN concat('￿', repeat('y', 70))
        WHEN o_orderkey % 97 = 1 THEN concat('𐀀', repeat('y', 70))
        ELSE concat(o_orderpriority, '-', repeat('x', 80)) END"""
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status"), expr(svExpr).as("sv"))
        .writeTo(tbl).partitionedBy(col("status")).create()
      // ---- process restart
      graft.sources.MemTable.evict(key)
      val tKey = graft.sources.DurableSpill.tallyKeyOf(key)
      graft.sources.DurableSpill.groupTallies.remove(tKey)
      val pushed0 = s2.sql(
        s"""SELECT 'pushed' AS kind, status, count(*) AS n,
                   min(sv) AS lo, max(sv) AS hi
            FROM $tbl GROUP BY status""")
      val pushedDesc = pushed0.queryExecution.executedPlan.toString
      val pushed = pushed0.localCheckpoint(true)
      val pushedTouchedPages =
        graft.sources.DurableSpill.groupTallies.contains(tKey)
      // a residual non-pushed predicate (okey >= 0, vacuously true)
      // blocks aggregate pushdown → the ENGINE aggregates over the
      // file-backed scan: the differential leg
      val engine0 = s2.sql(
        s"""SELECT 'engine' AS kind, status, count(*) AS n,
                   min(sv) AS lo, max(sv) AS hi
            FROM $tbl WHERE okey >= 0 GROUP BY status""")
      val engineDesc = engine0.queryExecution.executedPlan.toString
      val engine = engine0.localCheckpoint(true)
      val lazyLeft = graft.sources.MemTable.store(key).parts match {
        case lp: graft.sources.LazyParts => lp.materializedCount.toLong
        case _                           => -1L
      }
      val audits = Seq(
        ("audit", "agg_pushed",
          if (pushedDesc.contains("pushedAggregates=")) 1L else 0L),
        ("audit", "no_engine_agg_on_pushed_leg",
          if (pushedDesc.contains("HashAggregate")) 0L else 1L),
        ("audit", "pushed_leg_decoded_zero_pages",
          if (pushedTouchedPages) 0L else 1L),
        ("audit", "engine_leg_file_backed",
          if (!engineDesc.contains("pushedAggregates=") &&
            engineDesc.contains("fileBacked=")) 1L else 0L),
        ("audit", "driver_materialized_zero", if (lazyLeft == 0) 1L else 0L))
      import s2.implicits._
      val auditDf = audits.toDF("kind", "status", "n")
        .withColumn("lo", lit(null).cast("string"))
        .withColumn("hi", lit(null).cast("string"))
      val res = pushed.unionByName(engine).unionByName(auditDf)
        .orderBy("kind", "status").localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      res
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status,
               CASE WHEN o_orderstatus = 'P' THEN NULL
                    WHEN o_orderkey % 97 = 0
                      THEN concat(chr(65535), repeat('y', 70))
                    WHEN o_orderkey % 97 = 1
                      THEN concat(chr(65536), repeat('y', 70))
                    ELSE concat(o_orderpriority, '-', repeat('x', 80)) END AS sv
        FROM orders)
      SELECT * FROM (
        SELECT 'pushed' AS kind, status, count(*) AS n,
               min(sv) AS lo, max(sv) AS hi
        FROM t GROUP BY status
        UNION ALL
        SELECT 'engine', status, count(*), min(sv), max(sv)
        FROM t GROUP BY status
        UNION ALL SELECT 'audit', 'agg_pushed', 1, NULL, NULL
        UNION ALL SELECT 'audit', 'no_engine_agg_on_pushed_leg', 1, NULL, NULL
        UNION ALL SELECT 'audit', 'pushed_leg_decoded_zero_pages', 1, NULL, NULL
        UNION ALL SELECT 'audit', 'engine_leg_file_backed', 1, NULL, NULL
        UNION ALL SELECT 'audit', 'driver_materialized_zero', 1, NULL, NULL)
      ORDER BY kind, status"""))

  /** BLOOM-FILTER GROUP SKIPPING — the last rung of the spill reader's
    * skip ladder (groups by chunk stats → pages by column index →
    * dictionaries → BLOOM FILTERS): a needle equality on a
    * HIGH-CARDINALITY column defeats every other tier — the value sits
    * inside [min, max] (stats keep), inside every page's bounds (pages
    * keep), and the column's cardinality makes dictionaries fall back —
    * but a parquet bloom filter answers "provably absent" from a few KB,
    * with no false negatives (a false positive merely fails to skip;
    * rows are enforced by the task filters regardless).
    * `TBLPROPERTIES('spillBloomFilterColumns')` declares the columns
    * (manifest-persisted like the other layout knobs); the spill writes
    * the filter AND disables dictionary encoding on them — the
    * documented high-cardinality pairing, which also makes the tier
    * attribution here airtight: `uk = 401` (odd needle in an all-even
    * column, inside every group's bounds at every scale) and
    * `sv = 'u1x'` (non-digit tail in a digit-tailed column) can ONLY be
    * skipped by the bloom probe, tallied separately. A present value
    * must NOT drop (conservative leg reads ≥ 1 group). At 100 TB this
    * is the point lookup on a key column: zero data pages touched
    * across the whole corpus for a key that does not exist. */
  val q320 = GraftQuery(
    "q320_bloom_pruning",
    "Parquet bloom filters on spill columns: an in-bounds absent needle skips every group from the filter alone",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val s2 = scoped(s, graftCatalog("graft_blm", Some("spark-warehouse/graft_catalog_blm")): _*)
      val tag = runTag()
      val tbl = s"graft_blm.corpus.blm_$tag"
      val key = s"cat!graft_blm!corpus!blm_$tag"
      table(s2, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status"),
          expr("o_orderkey * 2").as("uk"),
          expr("concat('u', o_orderkey)").as("sv"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .writeTo(tbl).partitionedBy(col("status"))
        .tableProperty("extendedPushdown", "true")
        .tableProperty("spillBloomFilterColumns", "uk,sv")
        .create()
      // ---- process restart
      graft.sources.MemTable.evict(key)
      val tKey = graft.sources.DurableSpill.tallyKeyOf(key)
      def groups(): (Long, Long) =
        graft.sources.DurableSpill.groupTallies.get(tKey)
          .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
      def blooms(): Long =
        graft.sources.DurableSpill.bloomTallies.get(tKey)
          .map(_.get).getOrElse(0L)
      def clear(): Unit = {
        graft.sources.DurableSpill.groupTallies.remove(tKey)
        graft.sources.DurableSpill.bloomTallies.remove(tKey)
      }
      def leg(kind: String, where: String) = {
        clear()
        val df = s2.sql(
          s"""SELECT '$kind' AS kind, count(*) AS n, sum(cents) AS total_cents
              FROM $tbl $where""").localCheckpoint(true)
        (df, groups(), blooms())
      }
      val (full, (fR, _), fB) = leg("full", "")
      val (nl, (lR, _), lB) = leg("needle_long", "WHERE uk = 401")
      val (ns, (sR, _), sB) = leg("needle_str", "WHERE sv = 'u1x'")
      val (ctl, (cR, _), _) = leg("present", "WHERE uk = 2")
      val audits = Seq(
        ("audit_0_full_no_bloom", if (fR >= 1 && fB == 0) 1L else 0L),
        ("audit_1_long_all_bloom", if (lR == 0 && lB >= 1) 1L else 0L),
        ("audit_2_str_all_bloom", if (sR == 0 && sB >= 1) 1L else 0L),
        ("audit_3_present_reads", if (cR >= 1) 1L else 0L))
      import s2.implicits._
      val auditDf = audits.toDF("kind", "n").withColumn("total_cents", lit(0L))
      val res = full.unionByName(nl).unionByName(ns).unionByName(ctl)
        .unionByName(auditDf).orderBy("kind").localCheckpoint(true)
      s2.sql(s"DROP TABLE $tbl")
      res
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
      SELECT * FROM (
        SELECT 'full' AS kind, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents FROM t
        UNION ALL
        SELECT 'needle_long', count(*), CAST(sum(cents) AS BIGINT)
        FROM t WHERE okey * 2 = 401
        UNION ALL
        SELECT 'needle_str', count(*), CAST(sum(cents) AS BIGINT) FROM t
        WHERE concat('u', okey) = 'u1x'
        UNION ALL
        SELECT 'present', count(*),
               CAST(sum(cents) AS BIGINT) FROM t WHERE okey * 2 = 2
        UNION ALL SELECT 'audit_0_full_no_bloom', 1, 0
        UNION ALL SELECT 'audit_1_long_all_bloom', 1, 0
        UNION ALL SELECT 'audit_2_str_all_bloom', 1, 0
        UNION ALL SELECT 'audit_3_present_reads', 1, 0)
      ORDER BY kind"""))

  /** Writer schema shared by the Avro codec entries. */
  private val avroWriterSchema = """{"type":"record","name":"order_evt","fields":[
    {"name":"id","type":"long"},{"name":"name","type":"string"},
    {"name":"value","type":"long"}]}"""

  /** AVRO wire codec — the last missing event-stream format in the source
    * matrix (parquet/json/csv/orc/text/xml/variant, q90 as the XML seam):
    * rows are serialized to Avro BINARY with an explicit writer schema and
    * decoded back by schema-driven expressions over the core Avro library
    * (this Spark distribution ships no spark-avro connector; the codec
    * uses the Avro jar Spark itself depends on — encode via
    * GenericDatumWriter, decode via GenericDatumReader). Round-trip is
    * exercised end to end: encode → opaque binary column → decode →
    * aggregate, and the oracle recomputes the aggregate from the source
    * table, so any wire corruption hash-fails. Row-local both ways — at
    * 100 TB the codec rides the scan, nothing shuffles wider than the
    * decoded columns. */
  val q258 = GraftQuery(
    "q258_avro_roundtrip",
    "Avro binary round-trip: encode with writer schema, decode, aggregate == source",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.Functions.{avroEncode, avroField}
      val w = avroWriterSchema
      val bin = table(s, dir, "orders")
        .select(avroEncode(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"), w).as("b"))
      bin.select(
          avroField(col("b"), w, w, "id", "long").as("id"),
          avroField(col("b"), w, w, "name", "string").as("name"),
          avroField(col("b"), w, w, "value", "long").as("value"))
        .groupBy("name")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_cents"),
          max(col("id")).as("max_key"))
        .orderBy("name")
    },
    Some("""
      SELECT o_orderpriority AS name, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(o_orderkey) AS max_key
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY name"""))

  /** AVRO SCHEMA EVOLUTION — the consumer-upgrades-last contract: the
    * binary was written with (id, name, value); the READER schema drops
    * `value` and adds `bonus` (long, default 7). GenericDatumReader
    * resolves writer→reader per the Avro spec: dropped fields are skipped
    * on the wire, added fields take their declared default — decoded
    * `bonus` must equal the literal 7 on every row, which the oracle
    * asserts arithmetically (sum = 7·n). This is the seam that lets a
    * producer fleet roll schemas forward without coordinating consumers. */
  val q259 = GraftQuery(
    "q259_avro_schema_evolution",
    "Avro reader-schema resolution: dropped field skipped, added field takes its default",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.Functions.{avroEncode, avroField}
      val w = avroWriterSchema
      val r = """{"type":"record","name":"order_evt","fields":[
        {"name":"id","type":"long"},{"name":"name","type":"string"},
        {"name":"bonus","type":"long","default":7}]}"""
      val bin = table(s, dir, "orders")
        .select(avroEncode(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"), w).as("b"))
      bin.select(
          avroField(col("b"), w, r, "id", "long").as("id"),
          avroField(col("b"), w, r, "name", "string").as("name"),
          avroField(col("b"), w, r, "bonus", "long").as("bonus"))
        .groupBy("name")
        .agg(count(lit(1)).as("n"), sum(col("bonus")).as("sum_bonus"),
          max(col("id")).as("max_key"))
        .orderBy("name")
    },
    Some("""
      SELECT o_orderpriority AS name, count(*) AS n,
             CAST(7 * count(*) AS BIGINT) AS sum_bonus,
             max(o_orderkey) AS max_key
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY name"""))

  /** PROTOBUF wire decode — hand-rolled from the published wire spec
    * (varints, tags, length-delimited payloads; no protobuf runtime on
    * this classpath, and none needed for the wire format): encode
    * (id=1, name=2, value=3) per proto3 — including default-value elision
    * — then decode each field back by scanning tags, skipping unknown
    * fields exactly as the spec requires. Forward compatibility is
    * asserted two ways: a reader asking for field 2 skips field 3's
    * payload without a descriptor, and a reader asking for the absent
    * field 7 gets NULL on every row (proto3 absent == default), which the
    * oracle asserts as n_absent == n. */
  val q260 = GraftQuery(
    "q260_proto_wire_decode",
    "Proto3 wire-format round-trip: varint/string fields decoded by tag scan, absent → NULL",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.Functions.{protoEncode, protoVarint, protoString}
      val bin = table(s, dir, "orders")
        .select(protoEncode(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("b"))
      bin.select(
          protoVarint(col("b"), 1).as("id"),
          protoString(col("b"), 2).as("name"),
          protoVarint(col("b"), 3).as("value"),
          protoVarint(col("b"), 7).as("ghost"))
        .groupBy("name")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_cents"),
          max(col("id")).as("max_key"),
          count(when(col("ghost").isNull, true)).as("n_absent"))
        .orderBy("name")
    },
    Some("""
      SELECT o_orderpriority AS name, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(o_orderkey) AS max_key,
             count(*) AS n_absent
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY name"""))

  val all: Seq[GraftQuery] = Seq(q51, q52, q55, q56, q64, q78, q79, q82, q90,
    q123, q128, q129, q143, q187, q189, q190, q192, q194, q200, q212, q216,
    q217, q220, q226, q227, q246, q258, q259, q260, q278, q279, q280, q281,
    q285, q286, q287, q288, q289, q290, q291, q292, q293, q294, q295, q296,
    q297, q298, q299, q300, q301, q302, q303, q304, q305, q306, q307, q308,
    q309, q310, q312, q313, q314, q317, q318, q319, q320)
}
