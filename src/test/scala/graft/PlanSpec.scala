package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale claims in the operator docs
  * (pushdown, pruning, broadcast, top-k operator, whole-stage codegen) are
  * properties of the PLAN, not the result — a correct result from a wrong
  * plan (full scan, shuffled dim join, driver-side sort) passes the oracle
  * gate but dies at 100 TB. These tests pin the plan shape so a regression
  * in query construction (or a Spark upgrade changing defaults) surfaces
  * as a test failure, not a production incident.
  */
class PlanSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1: ship-date filter is pushed to the parquet scan") {
    val p = plan(operators.Relational.q1.build(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
  }

  test("q1: scan reads only the 7 needed columns of 16 (column pruning)") {
    val p = plan(operators.Relational.q1.build(spark, sfDir))
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("q6: dimension join broadcasts (BroadcastHashJoin, no shuffle of the fact side)") {
    val p = plan(operators.Relational.q6.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q10: anti join is a broadcast hash join, not sort-merge") {
    val p = plan(operators.Relational.q10.build(spark, sfDir))
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"), p)
  }

  test("q20: orderBy+limit plans TakeOrderedAndProject (no global sort)") {
    val p = plan(operators.Relational.q20.build(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is partial + final hash agg (map-side combine)") {
    val p = plan(operators.Relational.q1.build(spark, sfDir))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs\n$p")
  }

  test("q1: the agg pipeline runs inside whole-stage codegen") {
    // AQE finalizes the physical plan only at execution; run the query,
    // then check the final plan's *(n) codegen-span markers
    val df = operators.Relational.q1.build(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true") && p.contains("*("), p)
  }

  test("s1: cosine top-k keeps the corpus side unshuffled (broadcast query side)") {
    val p = plan(operators.Similarity.s1.build(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("d2: signature projection has no shuffle before the band-bucket exchange") {
    val df = operators.Dedup.d2.build(spark, sfDir)
    val p = plan(df)
    // the only Exchanges allowed are the bucket groupBy + confirm joins +
    // final sort — the signature computation itself must be exchange-free,
    // i.e. no Exchange directly above the documents scan
    assert(p.contains("MinHashSignature") || p.toLowerCase.contains("minhash"), p)
  }

  test("q39: as-of join is a single shuffle (union-merge), not a join fan-out") {
    val p = plan(operators.Relational.q39.build(spark, sfDir))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"as-of should not plan a join\n$p")
    assert(p.contains("Union"), p)
  }

  test("bucketed fact-fact join: co-located buckets eliminate both shuffle exchanges") {
    // the 100 TB play for repeated fact-fact joins: pay the shuffle once at
    // write time (bucketBy on the join key), then every subsequent join is
    // exchange-free — Spark trusts the bucket layout on both sides
    val wh = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS buckets LOCATION '$wh'")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("buckets.lineitem_b")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("buckets.orders_b")
    val joined = spark.table("buckets.lineitem_b")
      .join(spark.table("buckets.orders_b"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    // disable broadcast so the join genuinely exercises the bucket layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      joined.collect()
      // AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan";
      // assert on the final section only
      val p = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      // the join inputs come straight from the bucketed scans: the only
      // hash exchange allowed is the groupBy ABOVE the join (o_custkey)
      val totalHashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(totalHashExchanges <= 1,
        s"bucket join should not shuffle its inputs ($totalHashExchanges exchanges)\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q55: day predicate lands in PartitionFilters (directory pruning, not row filter)") {
    val p = plan(operators.Sources.q55.build(spark, sfDir))
    val pf = p.linesIterator.find(_.trim.startsWith("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"expected day in PartitionFilters\n$p")
  }

  test("q17: rank-limit filter plans WindowGroupLimit (partial per-partition top-k)") {
    // Spark's WindowGroupLimit prunes each map partition to its local top-k
    // BEFORE the window shuffle — the difference between shuffling k rows
    // per group and shuffling the whole table at scale
    val p = plan(operators.Relational.q17.build(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import org.apache.spark.sql.functions._
    // one key carries ~100k rows, the rest 1 each — the shape that strands
    // a single straggler task at scale. With AQE skew handling the runtime
    // plan marks the join skew=true and splits the oversized partition.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    // the downstream agg reuses the join's partitioning, so splitting the
    // skewed partition costs an extra shuffle — AQE declines unless forced;
    // at real scale the straggler dwarfs that extra shuffle
    conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      // xxhash64 payload defeats shuffle compression so the skewed
      // partition's on-disk size actually exceeds the threshold
      val skewed = spark.range(100000)
        .select(lit(0L).as("k"), xxhash64(col("id")).as("v"))
        .union(spark.range(1, 50).select(col("id").as("k"), xxhash64(col("id")).as("v")))
      val dim = spark.range(0, 50).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = skewed.join(dim, "k").groupBy("k").agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("skew=true"), s"expected AQE skew-split join\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("q59: both SCD2 window passes reuse ONE shuffle (same partitioning)") {
    val p = plan(operators.Warehouse.q59.build(spark, sfDir))
    // lag-filter pass and lead-stitch pass both partition by user_id and
    // order by (ts, event_id): Catalyst must plan a single Exchange for
    // them — a second shuffle would double the 100 TB cost for nothing
    // formatted mode repeats node names in the details section; count the
    // detail headers ("(n) Exchange") whose Arguments are a hash partition
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges\n$p")
  }

  test("q60: correlated LATERAL top-k rewrites to a window, not a per-row join loop") {
    val p = plan(operators.Warehouse.q60.build(spark, sfDir))
    assert(p.contains("Window"), s"expected window rewrite\n$p")
    assert(!p.contains("CartesianProduct"), s"lateral must not plan a cartesian product\n$p")
  }

  test("q58: MERGE-shaped upsert joins once (single full-outer join, no re-read of target)") {
    val p = plan(operators.Warehouse.q58.build(spark, sfDir))
    // count detail headers only — formatted mode names each node twice
    // (tree + "(n) <Node>" details)
    val joins = p.linesIterator.count(l =>
      l.matches("^\\(\\d+\\) .*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*"))
    assert(joins == 1, s"expected exactly 1 join in the merge plan, got $joins\n$p")
    assert(p.contains("FullOuter"), s"merge join must be full outer\n$p")
  }

  test("q63: unpivot is a zero-shuffle local expand (no Exchange before the sort)") {
    val p = plan(operators.Relational.q63.build(spark, sfDir))
    // the melt itself must not shuffle: the only exchanges allowed are the
    // two upstream aggs + their join and the final global orderBy range
    assert(p.contains("Expand") || p.contains("Generate"),
      s"expected Expand/Generate for unpivot\n$p")
  }

  test("t10: benchmark gram set joins as broadcast (corpus side never shuffles)") {
    val p = plan(operators.TextAnalysis.t10.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t11: query-term filter drops non-matching tokens BEFORE any exchange") {
    val p = plan(operators.TextAnalysis.t11.build(spark, sfDir))
    // the inverted-index shape: Filter(term IN ...) must sit below the
    // first Exchange in the tf branch — a plan that shuffles all tokens
    // and filters after would move the whole corpus
    val tree = p.linesIterator.toSeq
    // in the rendered tree a Filter node must sit DIRECTLY on the token
    // Generate (explode) — i.e. tokens drop before the tf aggregation's
    // Exchange ever sees them
    val ok = tree.sliding(2).exists(w =>
      w.head.contains("Filter") && w.last.contains("Generate"))
    assert(ok, s"no Filter directly above Generate\n$p")
    assert(p.contains("merge"), p) // the IN-list made it into the plan
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d4: multi-probe candidate pairing is a hash join, never a cartesian") {
    // pin the production pipeline (d4Pairs); the registry entry adds the
    // bounded 300-signature all-pairs truth slice, which is a deliberate
    // broadcast nested-loop (16-byte rows, the d3 bounded-twin posture)
    val p = plan(operators.Dedup.d4Pairs(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("q98: fuzzy-match candidates come from the blocking equi-join, never a cartesian") {
    val p = plan(operators.Relational.q98.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("d14: semantic-dedup pairing is cell-keyed (equi-join on label), never a cartesian") {
    val p = plan(operators.Dedup.d14.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the 10-row centroid side broadcasts; the pairwise stage hash-joins
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s9: ADC scoring joins codes on cell (equi-join), not a full-corpus cross join") {
    val (scored, _) = operators.Similarity.ivfPqParts(spark, sfDir)
    val p = plan(scored)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q95: correlated subqueries decorrelate to key-joins (semi for EXISTS, no nested loops)") {
    val p = plan(operators.Relational.q95.build(spark, sfDir))
    assert(p.toLowerCase.contains("leftsemi"), p) // EXISTS → left-semi join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q75: salted join stays an equi hash join on (key, salt)") {
    val p = plan(operators.Relational.q75.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), p)
    assert(p.contains("salt"), p) // the salt is part of the join keys
  }

  test("s10: outlier shortlist plans TakeOrderedAndProject (no global sort)") {
    val p = plan(operators.Similarity.s10.build(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t12: packing is window + span explode, no cartesian and no driver loop") {
    val p = plan(operators.TextAnalysis.t12.build(spark, sfDir))
    // the packing claim: one cumsum window per source + a bounded explode
    // of each doc's chunk span — a plan that pairs docs against chunks via
    // a join would be quadratic in chunk count
    assert(p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the sequence() span explode
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t12: scan reads only (source, doc_id, text) of the documents table") {
    val p = plan(operators.TextAnalysis.t12.build(spark, sfDir))
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang"), readSchema)
    assert(!readSchema.contains("quality"), readSchema)
  }

  test("t14: line-frequency count is map-side combined (partial agg below the digest shuffle)") {
    val p = plan(operators.TextAnalysis.t14.build(spark, sfDir))
    // the 100 TB claim: per-line doc counts partial-aggregate before the
    // exchange so the shuffle carries (digest, partial count), not every
    // line occurrence
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t16: PII redaction is row-local — no exchange except the presentation sort") {
    val p = plan(operators.TextAnalysis.t16.build(spark, sfDir))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"$exchanges exchanges\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q76: z-order bucketing is one partial-agg shuffle of pure bit arithmetic") {
    val p = plan(operators.Warehouse.q76.build(spark, sfDir))
    assert(p.contains("partial_"), p) // map-side combine before the bucket shuffle
    assert(!p.contains("Join"), p)
    // the bit interleave folds into a single Project over the scan — no
    // expansion into a per-bit explode or join
    assert(!p.contains("Generate"), p)
  }

  test("t17: both drift count aggs are map-side combined; LM join is not a cartesian") {
    val p = plan(operators.TextAnalysis.t17.build(spark, sfDir))
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one broadcast NLJ is allowed: the 1-row corpus-total attach
    val bnlj = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins\n$p")
  }

  test("q77: base/delta cutoff filters are pushed to the events scan") {
    val p = plan(operators.Warehouse.q77.build(spark, sfDir))
    // incremental maintenance only pays for the delta if the date filter
    // reaches the scan (at scale: partition pruning on the date column)
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("Join"), p) // merge is a union + re-agg, not a join
  }

  test("m7: alignment scoring joins on doc_id (equi hash join, no cartesian)") {
    val p = plan(operators.Multimodal.m7.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("t18: pipeline composition fans in on doc_id equi-joins only (no cartesian)") {
    val p = plan(operators.TextAnalysis.t18.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // one broadcast NLJ allowed: the surprisal stage's 1-row total attach
    val bnlj = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins\n$p")
  }

  test("s11: both hybrid legs bound via TakeOrderedAndProject before fusion") {
    val p = plan(operators.Similarity.s11.build(spark, sfDir))
    val topk = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("TakeOrderedAndProject"))
    assert(topk >= 2, s"expected both legs to plan TakeOrderedAndProject, got $topk\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t20: native ngrams generator plans a Generate node with no array materialization") {
    val p = plan(operators.TextAnalysis.t20.build(spark, sfDir))
    assert(p.contains("Generate"), p)
    assert(p.contains("ngrams") || p.contains("NGrams"), p)
    // no transform/sequence HOF building an intermediate array below the Generate
    assert(!p.contains("transform("), p)
  }

  test("t13: mixture resample is one row_number shuffle, rank filter below the sort") {
    val p = plan(operators.TextAnalysis.t13.build(spark, sfDir))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p) // weights resolve as a literal map lookup
    // exactly one exchange feeds the window (the lang hash partitioning);
    // the final orderBy adds a range exchange — no third shuffle
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"$exchanges exchanges\n$p")
  }

  test("s13: matryoshka prefix prescreen — corpus side unshuffled, both stages rank-bounded") {
    val p = plan(operators.Similarity.s13.build(spark, sfDir))
    // the ≤10-row query side broadcasts into the prefix scan (BNLJ like s1/
    // s12); the full-dim rerank joins only the bounded shortlist
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // no sort-merge join anywhere: nothing in this query shuffles the corpus
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q85: delete cascade has no fact-to-fact join — every purge join broadcasts a key list") {
    val p = plan(operators.Warehouse.q85.build(spark, sfDir))
    // delete-set derivation stays a semi join; each audit is ONE left
    // outer flag join + conditional agg (fused from semi+anti pairs,
    // VERDICT r7 item 6) — so the biggest fact table is scanned exactly
    // once, and nothing shuffles fact-to-fact
    assert(p.contains("LeftSemi") && p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin"), s"fact-to-fact shuffle join in cascade\n$p")
    // 7 scan nodes: each audit branch scans its fact table ONCE (the fused
    // form's whole point — lineitem was scanned 3× pre-fusion) plus the
    // tiny rebuilt broadcast delete-list sides (customer ×3, orders ×1)
    val scans = p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 7, s"$scans parquet scan nodes, expected 7 (audit not fused)\n$p")
  }

  test("m8: segment merge shuffles windows once per doc (stats + islands share the exchange)") {
    val p = plan(operators.Multimodal.m8.build(spark, sfDir))
    // one hash exchange on doc_id feeds both window functions and the
    // segment groupBy (partial agg on the same partitioning); the final
    // orderBy adds one range exchange — nothing else moves
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"$exchanges exchanges\n$p")
    assert(p.contains("Window"), p)
  }

  test("s14: filter reaches the parquet scan BEFORE any vector math (pre-filtering)") {
    val p = plan(operators.Similarity.s14.build(spark, sfDir))
    // the corpus scan must carry the pushed metadata predicates — a
    // post-filtering plan scores the whole corpus then discards
    val scanLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scanLines.exists(l => l.contains("vec_id") && l.contains("GreaterThanOrEqual")),
      s"corpus id horizon not pushed\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t24: per-doc gram dedup is row-local; only digest-keyed shuffles remain") {
    val p = plan(operators.TextAnalysis.t24.build(spark, sfDir))
    // the array_distinct-before-explode formulation needs exactly 3 shuffles
    // (per-digest doc-frequency agg, digest join, per-doc agg); a global
    // distinct() on exploded grams would add a 4th over the whole gram set
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"expected <=3 digest-keyed shuffles, got $exchanges\n$p")
    // gram text is digested inside the generator expression — no column of
    // raw gram strings ever reaches an Exchange
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange rangepartitioning(gram"), p)
  }

  test("t21: bigram build is row-local (no window shuffle); text joins only the LM tables") {
    val p = plan(operators.TextAnalysis.t21.build(spark, sfDir))
    // bigrams come from a transform over the token array inside the scan
    // projection — a lag() window implementation would show a Window node
    // ABOVE the documents scan before any aggregation
    assert(p.contains("Generate"), p) // the explode of adjacent pairs
    assert(!p.contains("Window"), p)
  }

  test("q91: both attribution models ride window passes — no self-join, no fan-out") {
    val p = plan(operators.EventWindows.q91.build(spark, sfDir))
    // a join-based attribution (purchase × touches) would fan out per
    // event; the range-frame formulation has no join anywhere
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution must not plan a join\n$p")
  }

  test("t23: rule ablation is one scan, no explode, no join") {
    val p = plan(operators.TextAnalysis.t23.build(spark, sfDir))
    // all four rules are array-expression projections — a word-histogram
    // implementation would Generate (explode) per token BELOW the
    // aggregate. The one legitimate Generate is stack()'s 5-row unpivot
    // ABOVE it (node ids number bottom-up: above = larger id).
    val genIds = "\\((\\d+)\\) Generate".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    val aggIds = "\\((\\d+)\\) HashAggregate".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(genIds.size == 1 && aggIds.nonEmpty && genIds.head > aggIds.max,
      s"expected only stack's post-aggregate unpivot Generate\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), p)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected a single scan, got $scans\n$p")
  }

  test("s15: kNN-graph candidates are cell-keyed equi-joins, never cartesian") {
    val p = plan(operators.Similarity.s15.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q99: all ten statistics ride ONE aggregation pass (single hash exchange)") {
    val p = plan(operators.Relational.q99.build(spark, sfDir))
    // moments merge map-side: exactly one hashpartitioning exchange (the
    // group-by), plus the presentation sort's range exchange — 7 separate
    // stats jobs would show as 7
    val hashEx = p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"$hashEx hash exchanges, expected 1\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q100: priority sample is TakeOrdered (per-partition heaps), not a global sort") {
    val p = plan(operators.Sampling.q100.build(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort where a bounded top-k suffices\n$p")
  }

  test("q101: group medians broadcast back onto events — no shuffle join, no window") {
    val p = plan(operators.Warehouse.q101.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle join\n$p")
    assert(!p.contains("Window"), s"per-row window where a broadcast agg suffices\n$p")
  }

  test("t27: collocation scoring is equi-joins + bounded top-k; only the 1-row N broadcasts nested-loop") {
    val p = plan(operators.TextAnalysis.t27.build(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // details-section headers only (a tree line + its header would double-count)
    val bnl = p.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnl <= 1, s"$bnl nested-loop joins (only the 1-row total may)\n$p")
  }

  test("q102: fact table aggregates once; scaffold join/window run on the tiny filled frame") {
    val p = plan(operators.EventWindows.q102.build(spark, sfDir))
    // only the 1-row bounds × distinct-types scaffold may nested-loop
    val bnl = p.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnl <= 1, s"$bnl nested-loop joins\n$p")
    assert(!p.contains("SortMergeJoin"), s"shuffle join on the tiny scaffold\n$p")
  }

  test("q107: sweep-line has no join — union, two hash aggs, one per-user window") {
    val p = plan(operators.EventWindows.q107.build(spark, sfDir))
    // the naive formulation self-joins intervals (q11's pair shape, O(k²)
    // per hot key); the sweep is join-free by construction
    assert(!p.contains("Join"), s"self-join in sweep-line\n$p")
    assert(p.contains("Union"), p)
    val win = p.linesIterator.count(_.trim.matches("""\(\d+\) Window.*"""))
    assert(win == 1, s"$win window passes, expected 1\n$p")
  }

  test("q108: bitmap distinct shuffles OR-merged chunk partials — no Expand, no distinct expansion") {
    val p = plan(operators.Relational.q108.build(spark, sfDir))
    // COUNT(DISTINCT) plans an Expand + per-key shuffle rows; the bitmap
    // path must instead carry map-side bit_or partials (≤1 long per
    // group×chunk through the exchange)
    assert(!p.contains("Expand"), s"distinct-expand shape where bitmaps should merge\n$p")
    assert(p.contains("partial_bit_or") || p.contains("bit_or"), p)
    assert(!p.contains("Join"), p)
  }

  test("t31: vocabulary never shuffles — candidates broadcast-semi-join the stream before the count") {
    val p = plan(operators.TextAnalysis.t31.build(spark, sfDir))
    // the groupBy(token) must run on the candidate-filtered stream; the
    // naive plan (count all tokens, then filter) shuffles the Zipf tail
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q109: both row-diff inputs are bucket-pruned by broadcast semi-join before the key join") {
    val p = plan(operators.Warehouse.q109.build(spark, sfDir))
    val semi = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin LeftSemi"))
    assert(semi >= 2, s"$semi semi-joins — a replica reaches the diff join unpruned\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q110: the base table is only touched via broadcast semi-join — reconciliation is delta-sized") {
    val p = plan(operators.Warehouse.q110.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"base fetched without key-list pruning\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q111: assignment is map-side vs a 1-row broadcast — no shuffle join, no window") {
    val p = plan(operators.Warehouse.q111.build(spark, sfDir))
    assert(!p.contains("SortMergeJoin"), s"shuffle join for a 1-row boundary frame\n$p")
    assert(!p.contains("Window"), p)
    val bnl = p.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnl <= 1, s"$bnl nested-loop joins (only the 1-row bounds may)\n$p")
  }

  test("q112: three Bloom-slice semi-joins screen the fact stream before the exact join") {
    val p = plan(operators.Relational.q112.build(spark, sfDir))
    val semi = p.linesIterator.count(_.contains("BroadcastHashJoin LeftSemi"))
    assert(semi == 3, s"$semi Bloom semi-joins, expected 3\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q113: the quantifier rewrite scans lineitem ONCE — no self-join, supplier broadcasts") {
    val p = plan(operators.Relational.q113.build(spark, sfDir))
    // textbook EXISTS + NOT EXISTS = 3 lineitem scans, 2 self-joins
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans — quantifiers not collapsed\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q114: custom GroupedTopKExec replaces Window+rank — partial heaps before the exchange, no sort") {
    val p = plan(operators.Relational.q114.build(spark, sfDir))
    val phases = p.linesIterator.count(_.trim.matches("""\(\d+\) GroupedTopK$"""))
    assert(phases == 2, s"$phases GroupedTopKExec phases, expected partial+final\n$p")
    assert(!p.contains("Window"), s"window rank where the custom operator should plan\n$p")
    assert(p.contains("hashpartitioning"), p)
  }

  test("q116: each AS-OF read is one struct-max aggregate — no window, no self-join") {
    val p = plan(operators.Warehouse.q116.build(spark, sfDir))
    assert(!p.contains("Window"), s"window where a struct-max aggregate suffices\n$p")
    assert(!p.contains("Join"), s"self-join in the log reconciliation\n$p")
  }

  test("q119: the Q17 rewrite scans lineitem ONCE — window over the agg exchange, part broadcasts") {
    val p = plan(operators.Relational.q119.build(spark, sfDir))
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans — correlated AVG not collapsed\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("q118: interval coalescing is one user_id exchange — no self-join, no pair fan-out") {
    val p = plan(operators.EventWindows.q118.build(spark, sfDir))
    assert(!p.contains("Join"), s"self-join in interval coalescing\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"$hashEx hash exchanges, expected 1 (user_id)\n$p")
  }

  test("d21: candidate generation is an equi-join on (gram, position-bucket) — no cartesian anywhere") {
    val p = plan(operators.Dedup.d21.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"all-pairs in the edit join\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"theta join in the edit join\n$p")
  }

  test("q122: the textbook rank-filter SQL replans through GroupedTopKExec — no Window node survives") {
    val p = plan(operators.Relational.q122.build(spark, sfDir))
    val phases = p.linesIterator.count(_.trim.matches("""\(\d+\) GroupedTopK$"""))
    assert(phases == 2, s"$phases GroupedTopKExec phases, expected partial+final\n$p")
    assert(!p.contains("Window"), s"rank Window survived the optimizer rewrite\n$p")
  }

  test("q124: the IN-list on the bucket column prunes to ≤3 of 8 buckets in the scan") {
    val p = plan(operators.Warehouse.q124.build(spark, sfDir))
    val sel = p.linesIterator.find(_.contains("SelectedBucketsCount"))
    assert(sel.isDefined, s"no bucket pruning in the scan\n$p")
    val m = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(sel.get)
    assert(m.isDefined, sel.get)
    assert(m.get.group(2).toInt == 8 && m.get.group(1).toInt <= 3,
      s"expected ≤3 of 8 buckets: ${sel.get}")
  }

  test("q128: the DSv2 connector plans 2 of 8 generator partitions under the pushed bounds") {
    val p = plan(operators.Sources.q128.build(spark, sfDir))
    assert(p.contains("bounds=[25000,50000)"), s"bounds not pushed into the scan\n$p")
    assert(p.contains("plannedParts=2"), s"partition pruning did not happen at planning time\n$p")
  }

  test("q144: LATERAL ORDER BY+LIMIT plans through GroupedTopK — no Window, one sort (presentation)") {
    val df = operators.Relational.q144.build(spark, sfDir)
    val p = df.queryExecution.executedPlan.treeString
    assert(p.contains("GroupedTopK"), s"rule 1 did not fire on the decorrelated LATERAL\n$p")
    assert(!p.contains("WindowGroupLimit"),
      s"rule 2 left decorrelation's sort-forcing WindowGroupLimit residue\n$p")
    assert(!p.contains("Window ["), s"a Window survived the rewrite\n$p")
    // the ONLY sort is the query's own presentation ORDER BY (range
    // exchange + global sort); the per-group top-k itself never sorts
    val sorts = p.linesIterator.count(_.contains("Sort ["))
    assert(sorts == 1, s"$sorts Sort nodes, expected only the presentation sort\n$p")
  }

  test("q143: the MemTable read plans 2 of 5 committed partitions — pruning at planning time") {
    val p = plan(operators.Sources.q143.build(spark, sfDir))
    assert(p.contains("parts=5, planned=2"),
      s"partition pruning did not happen at planning time\n$p")
  }

  test("q143 connector: column pruning reaches the MemTable reader, commits are snapshot-swaps") {
    // build once (writes + commits the sf snapshot), then read a projection
    operators.Sources.q143.build(spark, sfDir).collect()
    val key = s"q143_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val df = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "event_type").load()
      .select("event_id")
    val p = plan(df)
    assert(p.contains("cols=event_id)"), s"reader still materializes unrequested columns\n$p")
    // latest-commit-wins: a second identical job leaves the same snapshot,
    // not a doubled one (the q129 runId discipline, now with data)
    val before = df.count()
    operators.Sources.q143.build(spark, sfDir).collect()
    assert(spark.read.format("graft.sources.MemTable").option("runId", key)
      .load().count() == before, "re-commit doubled the snapshot instead of swapping it")
  }

  test("MemTable: COMPLETE aggregate pushdown over an EMPTY snapshot emits the NULL row") {
    import graft.sources.MemTable
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val key = "plan_spec_empty_agg"
    MemTable.store.put(key, MemTable.Snapshot(
      new StructType().add("bucket", StringType).add("v", LongType),
      Map.empty, 1L))
    val df = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "bucket").load()
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"), sum(col("v")).as("sm"))
    // the pushdown must engage (no Spark-side aggregate of raw rows) …
    val p = plan(df)
    assert(p.contains("PushedAggregat") || !p.contains("HashAggregate"),
      s"aggregate not pushed\n$p")
    // … and the global aggregate over zero rows is (0, NULL, NULL, NULL),
    // not an UnsupportedOperationException from .min on an empty iterator
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L, r.toString)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3), r.toString)
    MemTable.store.remove(key)
  }

  test("q128 connector: column pruning reaches the row generator") {
    val df = spark.read.format("graft.sources.SyntheticEvents")
      .option("rows", "1000").option("parts", "4").load()
      .select("event_id")
    val p = plan(df)
    assert(p.contains("cols=event_id)"), s"generator still materializes unrequested columns\n$p")
    assert(df.count() == 1000)
  }

  test("scd2Dim: the SCD2 build needs ONE entity-key exchange and no self-join") {
    val p = plan(operators.Warehouse.scd2Dim(spark, sfDir))
    // change-detect lag, interval lead, and version row_number all ride
    // the same (user_id, ts) sort; the naive successor-pairing join shape
    // would show a Join node and a second exchange
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"$hashEx hash exchanges, expected 1\n$p")
    assert(!p.contains("Join"), s"self-join in SCD2 build\n$p")
  }

  test("q137: OHLC bars are one hash aggregate — struct-argmin fuses open/close, no Window node") {
    val p = plan(operators.EventWindows.q137.build(spark, sfDir))
    assert(!p.contains("Window"),
      s"open/close leaked into a window pass — the struct-min fusion regressed\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"$hashEx hash exchanges, expected exactly the (day,type) one\n$p")
  }

  test("q138: the responder flag reaches the decile rank via broadcast, never a fact-sized shuffle join") {
    val p = plan(operators.Relational.q138.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"responder set must broadcast onto the customer deciles\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-shuffle join crept in\n$p")
  }

  test("q145: the Q20-shape chain scans lineitem ONCE — conditional agg, semi-joins broadcast") {
    val p = plan(operators.Relational.q145.build(spark, sfDir))
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans — window-vs-total not fused\n$p")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"the part-type gate must be a broadcast semi-join before the agg\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q146: the Q19 disjunction is ONE lineitem scan + ONE join — no per-branch union") {
    val p = plan(operators.Relational.q146.build(spark, sfDir))
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans — disjunction not collapsed\n$p")
    // count detail headers only — formatted mode names each node twice
    val joins = p.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastHashJoin.*"""))
    assert(joins == 1, s"$joins joins, expected 1\n$p")
    assert(!p.contains("Union"), s"per-disjunct union where one join suffices\n$p")
    // the brand IN-list implied by the OR pushes into the part scan
    assert(p.contains("Brand#12"), s"brand filter not pushed to the part scan\n$p")
  }

  test("q147: range lookup is an equi-join on the bin — no BroadcastNestedLoopJoin") {
    val p = plan(operators.Relational.q147.build(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi range probe planned as nested loop\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"no hash-partitionable join found\n$p")
  }

  test("q148: explicit-value pivot is one orders scan + one conditional agg — no plan-time distinct job") {
    val p = plan(operators.Relational.q148.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 1, s"$scans orders scans\n$p")
    assert(!p.contains("Union"), p)
    assert(!p.contains("Expand"), s"pivot should compile to conditional agg, not Expand\n$p")
  }

  test("q149: forecast join runs on the daily ROLLUP — every events scan is pruned to ts/event_type") {
    val p = plan(operators.EventWindows.q149.build(spark, sfDir))
    p.linesIterator.filter(_.trim.startsWith("ReadSchema")).foreach { rs =>
      assert(!rs.contains("props") && !rs.contains("value") &&
        !rs.contains("event_id"),
        s"events scan reads fact columns the rollup doesn't need: $rs")
    }
  }

  test("q150: the contingency audit joins nothing — cells, windows, and merged ALL only") {
    val p = plan(operators.EventWindows.q150.build(spark, sfDir))
    assert(!p.contains("Join"), s"join in a windows-over-cells plan\n$p")
    p.linesIterator.filter(_.trim.startsWith("ReadSchema")).foreach { rs =>
      assert(!rs.contains("props") && !rs.contains("value"),
        s"unpruned events scan: $rs")
    }
  }

  test("q151: rank windows partition by lang and the rank cap arrives broadcast — no global sort, no whole-frame window") {
    val p = plan(operators.Sampling.q151.build(spark, sfDir))
    assert(p.contains("BroadcastExchange"),
      s"the one-row rank cap must broadcast\n$p")
    // the rank window's exchange hashes on lang (per-group sort, no global
    // sort); the only SinglePartition exchange allowed is the one-row
    // min(cnt) scalar aggregate feeding the broadcast
    assert(p.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("lang")),
      s"rank window does not partition by lang\n$p")
    val single = p.linesIterator.count(_.contains("SinglePartition"))
    assert(single <= 1, s"$single SinglePartition exchanges, expected ≤1 (scalar cap)\n$p")
  }

  test("t40: text shuffles once into (lang, word) counts — ALL row re-aggregates the count table") {
    val p = plan(operators.TextAnalysis.t40.build(spark, sfDir))
    // text column must not survive past the scan+explode: no exchange
    // should carry `text`
    p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).foreach {
      ex => assert(!ex.contains("text"), s"raw text crosses a shuffle: $ex")
    }
  }

  test("s26: only the query set broadcasts — the corpus streams through unreplicated") {
    val p = plan(operators.Similarity.s26.build(spark, sfDir))
    // the per-label and ALL rollups are two union branches, each replaying
    // the 20-row query broadcast — so ≤2 broadcasts, both query-sized
    val bcasts = p.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastExchange.*"""))
    assert(bcasts <= 2, s"$bcasts broadcasts, expected ≤2 (query side per branch)\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join\n$p")
  }

  test("q152: both windows and the rank ride ONE l_orderkey exchange (subset partitioning)") {
    val p = plan(operators.Relational.q152.build(spark, sfDir))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    // join + windows co-partition on l_orderkey: one exchange per side of
    // the join, nothing re-shuffles after it
    assert(hashEx <= 2, s"$hashEx hash exchanges, expected ≤2 (join sides)\n$p")
    assert(p.contains("PushedFilters"), s"the %20 slice must push to both scans\n$p")
  }

  test("q153: the orders fact is touched once and aggregated before any join") {
    val p = plan(operators.Relational.q153.build(spark, sfDir))
    val ordScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(ordScans == 1, s"$ordScans orders scans\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation dim must broadcast\n$p")
  }

  test("q155: all 6 correlation pairs derive from ONE lineitem scan and one 3-group exchange") {
    val p = plan(operators.Relational.q155.build(spark, sfDir))
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans — pairs not fused into one agg\n$p")
    assert(!p.contains("Union"), s"per-pair union where stack suffices\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q156: the spatial join is a grid-cell equi-join — no nested loop, no cartesian") {
    val p = plan(operators.Relational.q156.build(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"band predicate planned as nested loop\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"no hash join on the grid cell\n$p")
  }

  test("q159: sliding distinct runs on the bitmap table — one events scan, no distinct Expand") {
    val p = plan(operators.EventWindows.q159.build(spark, sfDir))
    val evScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(evScans == 1, s"$evScans events scans — windows must derive from dailies\n$p")
    assert(!p.contains("Expand"),
      s"COUNT(DISTINCT) Expand where bitmap popcount should run\n$p")
  }

  test("q160: the A-priori prune is a broadcast semi-join BEFORE the pair explode") {
    val p = plan(operators.Relational.q160.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"frequent-item prune must broadcast-semi-join the baskets\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q161: nested features are HOF expressions — no UDF, no second lineitem scan") {
    val p = plan(operators.Relational.q161.build(spark, sfDir))
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"), s"UDF in the HOF feature path\n$p")
  }

  test("q154: debounce is one user repartition + in-partition sort — no window, no join") {
    val p = plan(operators.EventWindows.q154.build(spark, sfDir))
    assert(!p.contains("Join"), s"join in a sequential-state pass\n$p")
    // node headers only — the MapPartitions detail cites the
    // EventWindows closure class, which contains the substring "Window"
    val winNodes = p.linesIterator.count(_.trim.matches("""\(\d+\) Window.*"""))
    assert(winNodes == 0, s"window where secondary sort suffices\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"$hashEx hash exchanges, expected 1 (user_id)\n$p")
  }

  test("q157: FIFO pairing joins rank frames on (user, k) — both windows ride the user exchange") {
    val p = plan(operators.EventWindows.q157.build(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).foreach {
      ex => assert(ex.contains("user_id"), s"non-user exchange in FIFO pairing: $ex")
    }
  }

  test("q164: the DV read is an anti join, never a nested loop") {
    val p = plan(operators.Warehouse.q164.build(spark, sfDir))
    assert(p.contains("LeftAnti"), s"DV must apply as an anti join\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q167: the A/B readout touches events once — the arm rollup is pinned, chi² derives from it") {
    val p = plan(operators.EventWindows.q167.build(spark, sfDir))
    // the single fact scan ran eagerly into the 2-row checkpoint; the
    // final plan must reference ONLY that pinned frame
    val evScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(evScans == 0, s"$evScans events re-scans past the pinned rollup\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned rollup missing from the plan\n$p")
  }

  test("q169: the leaderboard derives from the pinned daily rollup — no events re-scan") {
    val p = plan(operators.EventWindows.q169.build(spark, sfDir))
    val evScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(evScans == 0, s"$evScans events re-scans past the pinned board\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned board missing from the plan\n$p")
  }

  test("t43: the df gate broadcasts before the posting windows — no tail-term shuffle") {
    val p = plan(operators.TextAnalysis.t43.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"frequent-term gate must broadcast onto the postings\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t44: blocklist screening never explodes the corpus — no Generate, no token exchange") {
    val p = plan(operators.TextAnalysis.t44.build(spark, sfDir))
    assert(!p.contains("Generate"),
      s"corpus exploded where a row-local HOF suffices\n$p")
    p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).foreach {
      ex => assert(!ex.contains("ws"), s"token array crosses a shuffle: $ex")
    }
  }

  test("d23: the churn report derives from the pinned per-lang rollup — no documents re-scan") {
    val p = plan(operators.Dedup.d23.build(spark, sfDir))
    // the one documents scan ran eagerly into the lang-sized checkpoint
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 0, s"$scans documents re-scans past the pinned rollup\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned rollup missing from the plan\n$p")
  }

  test("m18: scene cuts are row-local — zero exchanges before the final sort") {
    val p = plan(operators.Multimodal.m18.build(spark, sfDir))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0, s"$hashEx hash exchanges in a row-local operator\n$p")
  }

  test("q173: the recompute branch is month-gated (broadcast semi-join) and untouched months carry forward (anti join)") {
    val p = plan(operators.Warehouse.q173.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"affected-month gate must semi-join the recompute scan\n$p")
    assert(p.contains("LeftAnti"),
      s"carried-forward branch must anti-join prior state\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q174: the concentration metric orders the per-customer ROLLUP, never the fact") {
    val p = plan(operators.Relational.q174.build(spark, sfDir))
    // the one orders scan ran eagerly into the ranked checkpoint; the
    // Gini aggregate and the decile rollup must both read the pin
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rank frame\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned rank frame missing from the plan\n$p")
  }

  test("q175: the transition pairing rides ONE user exchange; the matrix window is on the cells") {
    val p = plan(operators.EventWindows.q175.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(scans == 1, s"expected exactly one events scan, got $scans\n$p")
    val userEx = p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("user_id"))
    assert(userEx == 1, s"expected one user_id exchange, got $userEx\n$p")
  }

  test("q176: all seven ACF lags derive from the pinned daily rollup — one orders scan total") {
    val p = plan(operators.EventWindows.q176.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned daily rollup missing from the plan\n$p")
  }

  test("q177: the CUSUM top-5 is a k-row sort-limit on the rollup, not a global fact sort") {
    val p = plan(operators.EventWindows.q177.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-5 must plan as TakeOrderedAndProject\n$p")
  }

  test("q178: before/after states come from ONE orders scan and a broadcast dim join") {
    val p = plan(operators.Warehouse.q178.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 1, s"expected exactly one orders scan, got $scans\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dim join must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t46: the TV matrix pairs on the pinned count frame — one documents scan, equi-join only") {
    val p = plan(operators.TextAnalysis.t46.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 0, s"$scans documents re-scans past the pinned count frame\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned count frame missing from the plan\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"source pairing must ride the token equi-join\n$p")
  }

  test("t47: readability is row-local — no Generate, only the band-rollup exchange") {
    val p = plan(operators.TextAnalysis.t47.build(spark, sfDir))
    assert(!p.contains("Generate"),
      s"corpus exploded where row-local regexp counts suffice\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx <= 1, s"$hashEx hash exchanges; expected only the band rollup\n$p")
  }

  test("q179: conversion latency is a single events pass — no join, no second scan") {
    val p = plan(operators.EventWindows.q179.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(scans == 1, s"expected exactly one events scan, got $scans\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the q70-style self-join crept back in\n$p")
  }

  test("q180: the regression sums read the pinned daily rollup — one orders scan total") {
    val p = plan(operators.EventWindows.q180.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned daily rollup missing from the plan\n$p")
  }

  test("q181: the detail side pre-aggregates per order BEFORE joining the header") {
    val p = plan(operators.Warehouse.q181.build(spark, sfDir))
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    val oScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(liScans == 1 && oScans == 1,
      s"expected one scan each, got lineitem=$liScans orders=$oScans\n$p")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"per-order charge must partial-aggregate before the shuffle\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q182: the average broadcasts once, the anti join probes the reduced buyer set, the date gate pushes down") {
    val p = plan(operators.Relational.q182.build(spark, sfDir))
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the scalar average must broadcast, not cartesian\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"the dormancy date gate must reach the orders scan\n$p")
  }

  test("t48: burstiness tops out via TakeOrdered; the N scan is footer-only") {
    val p = plan(operators.TextAnalysis.t48.build(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must plan as TakeOrderedAndProject\n$p")
    // two documents scans by design: the token pipeline, plus the corpus
    // doc-count — which must stay a zero-column footer read, never a
    // second pass over text
    val schemas = p.linesIterator
      .filter(_.trim.startsWith("ReadSchema")).toSeq
    assert(schemas.exists(_.contains("struct<>")),
      s"the N = count(*) branch must read zero columns\n$p")
    val textReads = schemas.count(_.contains("text"))
    assert(textReads == 1, s"text read $textReads times, expected once\n$p")
  }

  test("m19: the augmentation deal is a pure projection — only the epoch rollup exchanges") {
    val p = plan(operators.Multimodal.m19.build(spark, sfDir))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx <= 1, s"$hashEx hash exchanges; expected only the epoch rollup\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q183: the median windows derive from the pinned daily rollup — no orders re-scan, no fact window") {
    val p = plan(operators.EventWindows.q183.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
    // match the operator NODE ("Window (12)"), not the word — the pinned
    // rollup's call-site string contains "EventWindows.scala"
    assert(!p.linesIterator.exists(_.matches(""".*\bWindow \(\d+\)\s*$""")),
      s"explode-to-bins replaced by a window op\n$p")
  }

  test("s29: the hygiene audit is one embeddings pass with row-local HOF math") {
    val p = plan(operators.Similarity.s29.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("embeddings.parquet"))
    assert(scans == 1, s"expected one embeddings scan, got $scans\n$p")
    assert(!p.contains("Generate"),
      s"vectors exploded where row-local HOFs suffice\n$p")
  }

  test("d24: license resolution broadcasts the label artifact — the corpus never shuffles") {
    val p = plan(operators.Dedup.d24.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"cluster labels must broadcast onto the corpus slice\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q184: discovery and pivot both read the pinned daily rollup — no events re-scan") {
    val p = plan(operators.EventWindows.q184.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(scans == 0, s"$scans events re-scans past the pinned rollup\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned rollup missing from the plan\n$p")
  }

  test("q185: the role spec broadcasts onto the ranked frame — one sorted price pass, pruned count branch") {
    val p = plan(operators.Relational.q185.build(spark, sfDir))
    // two scans by design: the sorted price pass, plus the group-size
    // count — which must stay pruned to l_returnflag alone
    val schemas = p.linesIterator
      .filter(_.trim.startsWith("ReadSchema")).toSeq
    val priceReads = schemas.count(_.contains("l_extendedprice"))
    assert(priceReads == 1,
      s"prices read $priceReads times; the rank window must run once\n$p")
    assert(schemas.exists(sch =>
        sch.contains("l_returnflag") && !sch.contains("l_extendedprice")),
      s"the group-size branch must prune to l_returnflag\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the quartile role spec must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d25: the tau sweep re-reads the pinned pair spectrum — no corpus re-scan") {
    val p = plan(operators.Dedup.d25.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 0, s"$scans documents re-scans past the pinned pairs\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned pair frame missing from the plan\n$p")
  }

  test("t49: each BPE round is checkpoint-materialized — the final plan reads pins, not the corpus") {
    val p = plan(operators.TextAnalysis.t49.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 0, s"$scans documents re-scans past the round pins\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"round pins missing from the plan\n$p")
  }

  test("q187: the fact scan carries a runtime dynamicpruning partition filter from the dim") {
    val p = plan(operators.Sources.q187.build(spark, sfDir))
    assert(p.contains("dynamicpruning"),
      s"DPP did not inject the dim keys into the fact scan\n$p")
    assert(p.contains("PartitionFilters"),
      s"fact scan shows no partition filters at all\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q188: both roles' stats derive from one enriched pass with a broadcast dim join") {
    val p = plan(operators.Warehouse.q188.build(spark, sfDir))
    val oScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(oScans == 1, s"expected one orders scan, got $oScans\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q189 connector: a stale expectedVersion is rejected at commit and the snapshot is untouched") {
    import graft.sources.MemTable
    import spark.implicits._
    val key = s"plan_spec_occ_${System.nanoTime()}"
    def write(df: org.apache.spark.sql.DataFrame, exp: Option[Long]): Unit = {
      val w = df.write.format("graft.sources.MemTable")
        .option("runId", key).option("partitionCol", "bucket")
      exp.fold(w)(v => w.option("expectedVersion", v.toString))
        .mode("overwrite").save()
    }
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "bucket")
    write(rows, None)                       // v1
    write(rows.filter($"id" === 1L), Some(1L)) // v2 — replaces
    val before = MemTable.store(key)
    assert(before.version == 2L)
    val ex = intercept[Exception] {
      write(rows, Some(1L)) // stale pin: store is at v2
    }
    val conflict = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(_.isInstanceOf[MemTable.CommitConflictException])
    assert(conflict, s"expected CommitConflictException in cause chain, got $ex")
    // rejected commit leaked nothing: same version, same rows
    assert(MemTable.store(key).version == 2L)
    assert(MemTable.store(key).parts == before.parts)
    write(rows, Some(2L)) // correct pin lands
    assert(MemTable.store(key).version == 3L)
  }

  test("q190: SQL through the catalog still prunes partitions at planning time") {
    val p = plan(operators.Sources.q190.build(spark, sfDir))
    assert(p.contains("parts=4, planned=2"),
      s"catalog-resolved scan did not prune partitions\n$p")
  }

  test("q190 catalog: listTables / tableExists / dropTable round-trip") {
    val s2 = operators.scoped(spark, operators.graftCatalog("graft_cat"): _*)
    import s2.implicits._
    val name = s"ct_${System.nanoTime()}"
    val tbl = s"graft_cat.spec_ns.$name"
    Seq((1L, "a"), (2L, "b")).toDF("id", "bucket")
      .writeTo(tbl).partitionedBy($"bucket").create()
    val listed = s2.sql("SHOW TABLES IN graft_cat.spec_ns")
      .select("tableName").as[String].collect()
    assert(listed.contains(name), s"SHOW TABLES missed $name: ${listed.toSeq}")
    assert(s2.sql(s"SELECT count(*) FROM $tbl").as[Long].head() == 2L)
    s2.sql(s"DROP TABLE $tbl")
    assert(s2.sql("SHOW TABLES IN graft_cat.spec_ns")
      .select("tableName").as[String].collect().forall(_ != name),
      "DROP TABLE left the table listed")
  }

  test("st30 connector: a redelivered epoch commit replaces itself — exactly-once effect") {
    import graft.sources.{DigestMsgProbe, DigestSink}
    val key = s"plan_spec_epoch_${System.nanoTime()}"
    DigestSink.epochs.remove(key)
    val msgs = Array(DigestMsgProbe.msg(3L, 111L), DigestMsgProbe.msg(2L, 222L))
    val w = DigestMsgProbe.streamingWrite(key)
    w.commit(7L, msgs.map(_.asInstanceOf[org.apache.spark.sql.connector.write.WriterCommitMessage]))
    val first = DigestSink.epochs(key)
    assert(first == Map(7L -> ((5L, 333L))), s"unexpected ledger $first")
    // the driver retries epoch 7 after a transient failure: same messages,
    // same epoch key — the ledger must be unchanged, not doubled
    w.commit(7L, msgs.map(_.asInstanceOf[org.apache.spark.sql.connector.write.WriterCommitMessage]))
    assert(DigestSink.epochs(key) == first,
      s"redelivered epoch changed the ledger: ${DigestSink.epochs(key)}")
    // a NEW epoch lands additively
    w.commit(8L, Array(DigestMsgProbe.msg(1L, 9L)
      .asInstanceOf[org.apache.spark.sql.connector.write.WriterCommitMessage]))
    assert(DigestSink.epochs(key) == first + (8L -> ((1L, 9L))))
  }

  test("t50: pair assembly is row-local — no Generate, only the lang rollup exchanges") {
    val p = plan(operators.TextAnalysis.t50.build(spark, sfDir))
    assert(!p.contains("Generate"),
      s"corpus exploded where row-local word math suffices\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx <= 1, s"$hashEx hash exchanges; expected only the lang rollup\n$p")
  }

  test("q191: the class map broadcasts and the events scan happens once") {
    val p = plan(operators.Warehouse.q191.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    // two by design: the sweep, plus the high-water-mark max — which must
    // stay pruned to ts alone
    assert(scans <= 2, s"$scans events scans\n$p")
    assert(p.contains("BroadcastHashJoin"), s"class map must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q192: the co-partitioned join and both rollups run with ZERO hash exchanges") {
    val p = plan(operators.Sources.q192.build(spark, sfDir))
    assert(p.contains("SortMergeJoin"), s"expected the SPJ sort-merge join\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0,
      s"$hashEx hash exchanges — storage-partitioned join did not engage\n$p")
  }

  test("q303: sorted-layout SPJ — zero exchanges AND zero input sorts (only the output ORDER BY sorts)") {
    val p = plan(operators.Sources.q303.build(spark, sfDir))
    assert(p.contains("SortMergeJoin"), s"expected the SPJ merge join\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0,
      s"$hashEx hash exchanges — storage-partitioned join did not engage\n$p")
    // reported (bucket, user_id) ordering must satisfy the merge join:
    // the ONLY Sort left is the final output ORDER BY user_id
    val sorts = p.linesIterator.count(_.trim.matches("""\(\d+\) Sort"""))
    assert(sorts == 1,
      s"$sorts Sort nodes — the sorted-layout report did not eliminate the join's input sorts\n$p")
  }

  test("q195: the MV rewrite fires — the plan reads the summary spool, never orders.parquet") {
    val p = plan(operators.Warehouse.q195.build(spark, sfDir))
    val factScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(factScans == 0,
      s"the fact is still scanned — MV substitution did not fire\n$p")
    assert(p.contains("q195_mv_"),
      s"MV spool missing from the rewritten plan\n$p")
  }

  test("q195 rule: a NON-matching aggregate is left untouched") {
    import graft.plans.MaterializedViewRewrite
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
    // different aggregate (count, not the registered cents sum) — must
    // keep reading the fact even with the MV registered
    val df = operators.table(s2, sfDir, "orders")
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("o_orderdate")).as("d"))
      .count()
    val p = plan(df)
    assert(p.contains("orders.parquet"),
      s"rule over-fired on a non-matching aggregate\n$p")
  }

  test("q195 rule: a FILTERED variant of the registered aggregate keeps scanning the fact") {
    import graft.plans.MaterializedViewRewrite
    import org.apache.spark.sql.functions.{col, to_date, round, sum}
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
    // populate the registry so the rule is live (order-independent test)
    MaterializedViewRewrite.registry.put("orders.parquet",
      s2.range(1).selectExpr("DATE'1995-01-01' AS d", "CAST(id AS BIGINT) AS cents")
        .queryExecution.analyzed)
    // same grouping + same cents sum, but with a WHERE — answering it from
    // the unfiltered MV would be wrong, so the rule must not fire
    val df = operators.table(s2, sfDir, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val p = plan(df)
    assert(p.contains("orders.parquet"),
      s"rule over-fired on a FILTERED variant — unfiltered MV would be wrong\n$p")
  }

  test("q195 rule: a JOINED variant of the registered aggregate keeps scanning the fact") {
    import graft.plans.MaterializedViewRewrite
    import org.apache.spark.sql.functions.{col, to_date, round, sum}
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
    MaterializedViewRewrite.registry.put("orders.parquet",
      s2.range(1).selectExpr("DATE'1995-01-01' AS d", "CAST(id AS BIGINT) AS cents")
        .queryExecution.analyzed)
    val df = operators.table(s2, sfDir, "orders")
      .join(operators.table(s2, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val p = plan(df)
    assert(p.contains("orders.parquet"),
      s"rule over-fired on a JOINED variant — join can drop/duplicate fact rows\n$p")
  }

  test("q166: bottom-k plans TakeOrderedAndProject — no single-partition Window") {
    val p = plan(operators.Sampling.q166.build(spark, sfDir))
    assert(!p.contains("Window"),
      s"single-partition Window remains in the KMV bottom-k\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k heaps (TakeOrderedAndProject)\n$p")
  }

  test("d25: pair stage is candidate-bounded — prefix + positional filters present, no cartesian") {
    val (pairs, sh) = operators.Dedup.d25PairStage(spark, sfDir)
    try {
      val p = plan(pairs)
      // prefix cut: pos ≤ n − ⌈n/5⌉ + 1 (the 'div 10' arithmetic)
      assert(p.contains("div 10"),
        s"prefix filter missing — pair stage regressed to full self-join\n$p")
      // PPJoin positional filter: max(least(n1−p1, n2−p2)+1) ≥ ⌈(n1+n2)/6⌉
      assert(p.contains("least("),
        s"positional filter missing from the candidate stage\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    } finally sh.unpersist()
  }

  test("tpch sweep: Q5's 6-way join broadcasts the dims and plans no cartesian") {
    val p = plan(operators.TpcH.tq5.build(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"dimension legs not broadcast\n$p")
  }

  test("tpch sweep: Q4's EXISTS plans as a semi join; Q13 keeps the outer join") {
    val p4 = plan(operators.TpcH.tq4.build(spark, sfDir))
    assert(p4.contains("LeftSemi"), s"EXISTS did not plan as a semi join\n$p4")
    val p13 = plan(operators.TpcH.tq13.build(spark, sfDir))
    assert(p13.contains("LeftOuter"), s"Q13 lost its outer join\n$p13")
  }

  test("tpch sweep: Q6 pushes every filter to the scan — no join, one aggregate") {
    val p = plan(operators.TpcH.tq6.build(spark, sfDir))
    assert(!p.contains("Join"), s"Q6 must be a single-table scan\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filters did not reach the parquet scan\n$p")
  }

  test("q275: the DV merge-on-read is a broadcast ANTI-join — no fact re-shuffle") {
    val p = plan(operators.Warehouse.q275.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV filter is not a broadcast anti-join\n$p")
    // the serving read scans the spool once; the DV side is the pinned
    // checkpoint (ExistingRDD/LocalTableScan), never a second file scan
    val spoolScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("q275_dv"))
    assert(spoolScans == 1, s"$spoolScans spool scans in the serving read\n$p")
    val shuffles = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(shuffles <= 1, s"$shuffles hash exchanges — expected only the parity rollup\n$p")
  }

  test("q276: SQL-defined functions are analyzer-inlined — no UDF node, codegen intact") {
    val p = plan(operators.Relational.q276.build(spark, sfDir))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF") &&
      !p.contains("Invoke"), s"SQL function was not inlined\n$p")
    // the function BODY must appear as a plain Catalyst expression in the
    // aggregate keys (formatted mode shows no codegen markers; an inlined
    // CASE is the direct evidence)
    assert(p.contains("CASE WHEN"), s"inlined CASE body missing from the plan\n$p")
  }

  test("q196: all three rank functions share ONE Window node — one exchange, one sort") {
    val p = plan(operators.Relational.q196.build(spark, sfDir))
    val windows = p.linesIterator.count(_.matches(""".*\bWindow \(\d+\)\s*$"""))
    assert(windows == 1, s"expected one collapsed Window node, got $windows\n$p")
    val sorts = p.linesIterator.count(_.matches(""".*\bSort \(\d+\)\s*$"""))
    assert(sorts <= 2, s"$sorts sorts (window + presentation expected)\n$p")
  }

  test("t52: the script audit is row-local — no Generate, only the lang rollup exchanges") {
    val p = plan(operators.TextAnalysis.t52.build(spark, sfDir))
    assert(!p.contains("Generate"), s"corpus exploded for a row-local profile\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx <= 1, s"$hashEx hash exchanges; expected only the lang rollup\n$p")
  }

  test("st32: the stream-maintained MV serves the query — no orders.parquet in the final plan") {
    val p = plan(operators.StreamingOps.st32.build(spark, sfDir))
    val factScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(factScans == 0,
      s"fact scanned — the maintained MV was not served\n$p")
    assert(p.contains("st32_mv_"),
      s"stream-maintained MV missing from the plan\n$p")
  }

  test("q199: both shard maps derive from the pinned scored frame — one orders scan total") {
    val p = plan(operators.Warehouse.q199.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned HRW frame\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"pinned scored frame missing\n$p")
  }

  test("q201: the bridge runs on the pinned monthly rollup — no orders re-scan") {
    val p = plan(operators.EventWindows.q201.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
  }

  test("q203: all three frame directions ride the pinned daily rollup") {
    val p = plan(operators.EventWindows.q203.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
  }

  test("q194: each migration hop scans its own format once — events itself is read once") {
    val p = plan(operators.Sources.q194.build(spark, sfDir))
    val evScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(evScans == 1, s"expected one events scan, got $evScans\n$p")
  }

  test("q204: basket pairing rides the shared-part equi-join — no cartesian") {
    val p = plan(operators.Relational.q204.build(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q205: both grains derive from the pinned daily rollup") {
    val p = plan(operators.Warehouse.q205.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("orders.parquet"))
    assert(scans == 0, s"$scans orders re-scans past the pinned rollup\n$p")
  }

  test("q207: the survival sweep runs on the pinned gap frame — no events re-scan") {
    val p = plan(operators.EventWindows.q207.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(scans == 0, s"$scans events re-scans past the pinned gaps\n$p")
  }

  test("q210: the ABC rank orders the pinned per-part rollup, never the fact") {
    val p = plan(operators.Relational.q210.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(scans == 0, s"$scans lineitem re-scans past the pinned rollup\n$p")
  }

  test("q211: the baseline broadcasts from the same pinned band rollup — one fact scan") {
    val p = plan(operators.Relational.q211.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(scans == 0, s"$scans lineitem re-scans past the pinned rollup\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t54: the datasheet derives from ONE pinned corpus projection") {
    val p = plan(operators.TextAnalysis.t54.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 0, s"$scans documents re-scans past the pin\n$p")
  }

  test("t55: negatives ride the shared-token equi-join off the pinned distincts — no cartesian") {
    val p = plan(operators.TextAnalysis.t55.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 0, s"$scans documents re-scans past the pinned tokens\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d29: survivorship labels broadcast onto the corpus slice") {
    val p = plan(operators.Dedup.d29.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"labels must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q212: ORDER BY+LIMIT is served BY the connector — pushedTopN in the scan, no Sort over it") {
    val p = plan(operators.Sources.q212.build(spark, sfDir))
    assert(p.contains(
      "pushedTopN=[cents DESC NULLS LAST,user_id ASC NULLS FIRST] LIMIT 10"),
      s"top-N did not push into the MemTable scan\n$p")
    // the only Sorts are the final presentation ORDER BY (partial + global
    // under exchange); the pushed cut itself adds none over the mem scan
    val sorts = p.linesIterator.count(_.trim.startsWith("Sort ["))
    assert(sorts <= 2, s"$sorts Sort nodes — the connector should have cut\n$p")
  }

  test("q212: reported statistics broadcast the 10-row scan with NO hint") {
    val p = plan(operators.Sources.q212.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"size-based join selection did not broadcast the stats-reporting scan\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("MemTable: a bare LIMIT pushes into the scan and serves exactly n rows") {
    operators.Sources.q212.build(spark, sfDir).collect() // commits a snapshot
    val key = graft.sources.MemTable.store.keys.filter(_.startsWith("q212_")).min
    val df = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "bucket").load().limit(3)
    val p = plan(df)
    assert(p.contains("pushedLimit=3"), s"limit did not push\n$p")
    assert(df.count() == 3, "pushed limit served a different row count")
  }

  test("q213: the as-of runs through AsOfMergeJoin — no Window, no fan-out join, co-partitioned sides") {
    val p = plan(operators.Relational.q213.build(spark, sfDir))
    assert(p.contains("AsOfMergeJoin"), s"custom operator did not plan\n$p")
    assert(!p.contains("Window ["), s"a Window survived — this is q39's shape, not the operator\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.count(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(exchanges == 2, s"$exchanges ensure-requirements hash exchanges, expected 2 (one per side)\n$p")
  }

  test("q216: the whole aggregate is answered inside the connector — no Aggregate node planned") {
    val p = plan(operators.Sources.q216.build(spark, sfDir))
    assert(p.contains("pushedAggregates=[count_star,sum(cents),min(event_id),max(event_id)] GROUP BY event_type"),
      s"aggregate did not push into the MemTable scan\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"Spark still planned an aggregate over the pushed scan\n$p")
  }

  test("q216: a shape the connector refuses (avg) falls back to a normal Spark aggregate") {
    import org.apache.spark.sql.functions._
    operators.Sources.q216.build(spark, sfDir).collect() // commits a snapshot
    val key = graft.sources.MemTable.store.keys.filter(_.startsWith("q216_")).min
    val df = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "event_type").load()
      .groupBy("event_type").agg(avg(col("cents")).as("avg_cents"))
    val p = plan(df)
    assert(!p.contains("pushedAggregates"), s"avg must not claim pushdown\n$p")
    assert(p.contains("HashAggregate"), s"refused pushdown must aggregate normally\n$p")
    assert(df.count() == 5, "fallback aggregate returned wrong group count")
  }

  test("q217: the join's surviving keys prune connector partitions at RUNTIME — 5 committed, 2 planned") {
    graft.sources.MemTable.runtimePrunes.clear()
    val df = operators.Sources.q217.build(spark, sfDir)
    // formatted explain omits the RuntimeFilters annotation; read the tree
    val p = df.queryExecution.executedPlan.treeString
    assert(p.contains("RuntimeFilters: [dynamicpruningexpression"),
      s"no runtime filter planned on the connector scan\n$p")
    df.collect() // the filter() callback fires at execution
    val prunes = graft.sources.MemTable.runtimePrunes.collect {
      case (k, v) if k.startsWith("q217_") => v
    }
    assert(prunes.exists(_ == (5, 2)),
      s"runtime filter did not prune 5 -> 2 partitions: $prunes")
  }

  test("q218: gap-fill is windows over one rollup — no self-join, no cartesian") {
    val p = plan(operators.EventWindows.q218.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(scans <= 2, s"$scans events scans — interpolation must not re-join the fact\n$p")
  }

  test("d30: truth labels and cluster sizes broadcast onto the contingency — no sort-merge") {
    val p = plan(operators.Dedup.d30.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m21: one priced-item window per source feeds the packer — no fact re-scan past the union") {
    val p = plan(operators.Multimodal.m21.build(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // text arm + image arm = two scans of documents, nothing more
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans <= 3, s"$scans documents scans\n$p")
  }

  test("q220: metadata columns are hidden from SELECT * and served without widening the scan") {
    operators.Sources.q220.build(spark, sfDir).collect() // commits version 2
    val key = graft.sources.MemTable.store.keys.filter(_.startsWith("q220_")).min
    val df = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "event_type").load()
    assert(!df.columns.contains("_partition") && !df.columns.contains("_commit_version"),
      s"metadata columns leaked into SELECT *: ${df.columns.mkString(",")}")
    val meta = df.select("_partition", "_commit_version", "event_id")
    val p = plan(meta)
    // the scan's data-column read schema stays 1 column wide — metadata
    // comes from split state, not stored rows
    assert(p.contains("cols=event_id,_partition,_commit_version)") ||
      p.contains("cols=event_id"), s"unexpected scan projection\n$p")
    assert(meta.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(2L), "rows not served from snapshot v2")
  }

  test("q226: columnar MemTable read plans a ColumnarToRow boundary; row-based read of the same snapshot does not") {
    val df = operators.Sources.q226.build(spark, sfDir) // writes + columnar read
    // the transition is inserted by ApplyColumnarRulesAndInsertTransitions,
    // which under AQE only surfaces in the EXECUTED plan — run, then pin
    assert(df.collect().map(_.getLong(1)).sum > 0L)
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ColumnarToRow"),
      s"no ColumnarToRow over the columnar scan\n$executed")
    assert(plan(df).contains("columnar=true"),
      s"scan description missing columnar flag\n${plan(df)}")
    // same snapshot, row-based read: no columnar boundary anywhere (the
    // only scan is the MemTable, so the assertion is unambiguous)
    val key = graft.sources.MemTable.store.keys.filter(_.startsWith("q226_"))
      .maxBy(_.split("_").last.toLong)
    val rowBased = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "event_type").load()
      .groupBy("event_type").count()
    rowBased.collect()
    val p2 = rowBased.queryExecution.executedPlan.toString
    assert(!p2.contains("ColumnarToRow"), s"row-based read went columnar\n$p2")
  }

  test("q226: columnar batches still honor column pruning — the vectors carry only requested columns") {
    operators.Sources.q226.build(spark, sfDir).collect()
    val key = graft.sources.MemTable.store.keys.filter(_.startsWith("q226_"))
      .maxBy(_.split("_").last.toLong)
    val narrow = spark.read.format("graft.sources.MemTable")
      .option("runId", key).option("partitionCol", "event_type")
      .option("columnar", "true").load()
      .select("cents")
    val p = plan(narrow)
    assert(p.contains("cols=cents"), s"pruning did not reach the columnar scan\n$p")
    val agg = narrow.agg(org.apache.spark.sql.functions.sum("cents"))
    assert(agg.collect()(0).getLong(0) > 0L)
    assert(agg.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "pruned columnar read lost its ColumnarToRow boundary")
  }

  test("q227: the new-spec scan partition-prunes on event_type; the old-spec scan pushes it as a data filter") {
    val p = plan(operators.Sources.q227.build(spark, sfDir))
    // gen 2 (partitioned by event_type): the predicate is a partition filter
    val partLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(partLines.exists(_.contains("event_type")),
      s"no partition filter on event_type (gen 2 not pruned)\n$p")
    // gen 1 (partitioned by month): the predicate must reach the parquet
    // scan as a pushed DATA filter — pruning can't help there
    val pushLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushLines.exists(_.contains("event_type")),
      s"event_type not pushed into the old-spec data scan\n$p")
  }

  test("q224: gini runs at customer grain — one exchange for the rank window, fact aggregated first") {
    val p = plan(operators.Relational.q224.build(spark, sfDir))
    // the fact (orders) aggregates to customer grain BEFORE any window:
    // the Window node must sit above a HashAggregate, and the customer
    // join must broadcast
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast\n$p")
    assert(p.contains("Window"), p)
  }

  test("q225: FIFO allocation is one window pass — no self-join, no cartesian") {
    val p = plan(operators.Relational.q225.build(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"allocation planned a product join\n$p")
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"$windows Window nodes (expected 1)\n$p")
  }

  test("t59: readability is row-local — zero joins, zero generators, one documents scan") {
    val p = plan(operators.TextAnalysis.t59.build(spark, sfDir))
    assert(!p.contains("Join"), s"t59 planned a join\n$p")
    assert(!p.contains("Generate"), s"t59 planned an explode\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(scans == 1, s"$scans documents scans\n$p")
  }

  test("s34: the corpus streams through a broadcast scoring join — no sort-merge, one embeddings-pair scan shape") {
    val p = plan(operators.Similarity.s34.build(spark, sfDir))
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for scoring\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q229: one events scan feeds the whole path report") {
    val p = plan(operators.EventWindows.q229.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("events.parquet"))
    assert(scans == 1, s"$scans events scans\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 not a bounded heap\n$p")
  }

  test("q232: the null branch of the split bypasses the join — Union present, isnotnull feeds the join") {
    val p = plan(operators.Relational.q232.build(spark, sfDir))
    assert(p.contains("Union"), s"no Union — the split collapsed\n$p")
    // count node-detail headers "(n) ...Join" — tree lines repeat names
    val joins = p.linesIterator.count(l =>
      l.trim.matches("""\(\d+\) \w*Join\w*( .*)?"""))
    assert(joins == 1, s"$joins Join nodes (expected exactly 1 — nulls must not join)\n$p")
    assert(p.contains("isnotnull"), s"non-null filter missing below the join\n$p")
  }

  test("q235: spatial proximity join is a shuffled equi-join on grid cells, no cartesian") {
    val p = plan(operators.Relational.q235.build(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid join degenerated to an all-pairs product\n$p")
    assert(p.contains("Join") && p.contains("gx"), s"no cell equi-join\n$p")
  }

  test("q236: branches after the first read the cached profile, not the fact") {
    val df = operators.Warehouse.q236.build(spark, sfDir)
    df.collect() // materialize the cache so the executed plan shows reuse
    val p = plan(df)
    val imts = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(imts >= 2, s"$imts InMemoryTableScan nodes (expected one per branch)\n$p")
  }

  test("q237: the data-side window is bucket-partitioned — no full-table single-partition exchange") {
    val p = plan(operators.Warehouse.q237.build(spark, sfDir))
    assert(p.contains("hashpartitioning(bucket"),
      s"row-level window must shuffle by bucket, not SinglePartition\n$p")
    val windows = p.linesIterator.count(l => l.trim.matches("""\(\d+\) Window( .*)?"""))
    assert(windows == 2, s"$windows Window nodes (expected prefix-sum + per-bucket)\n$p")
  }

  test("q238: interval collision search is an equi-join on (resource, time cell), no theta join") {
    val p = plan(operators.EventWindows.q238.build(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to all-pairs\n$p")
    assert(p.contains("cell"), s"no time-cell join key\n$p")
  }

  test("s35: the Gram pass is per-partition accumulation — result is bounded model state, no join, no explode") {
    // r14 shape: mapPartitions accumulates the upper triangle into one
    // fixed-size summary per partition (the RowMatrix.computeGramianMatrix
    // pattern); the returned frame is the 2080-row model-state output, so
    // the plan must be a LocalTableScan — any Join/Generate here means the
    // explode-per-row shape crept back
    val p = plan(operators.Similarity.s35.build(spark, sfDir))
    assert(p.contains("LocalTableScan"),
      s"expected the driver-assembled bounded result\n$p")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"covariance must not join or explode\n$p")
  }

  test("q240: the global gate broadcasts and the NOT EXISTS is an anti join") {
    val p = plan(operators.Relational.q240.build(spark, sfDir))
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row gate must broadcast\n$p")
  }

  test("q242: the 2-hop export probes with broadcast joins and scans each fact once") {
    val p = plan(operators.Warehouse.q242.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"subject probe must broadcast\n$p")
    val liScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"$liScans lineitem scans (expected 1)\n$p")
  }

  test("q243: all subtree totals come from ONE aggregate over one customer scan — no per-level joins") {
    val p = plan(operators.Warehouse.q243.build(spark, sfDir))
    val scans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("customer.parquet"))
    assert(scans == 1, s"$scans customer scans (expected 1)\n$p")
    val joins = p.linesIterator.count(l => l.trim.matches("""\(\d+\) \w*Join\w*( .*)?"""))
    assert(joins == 0, s"$joins Join nodes (the closed form needs none)\n$p")
  }

  test("s36: top-k selection is the custom GroupedTopK operator, not a window sort") {
    val p = plan(operators.Similarity.s36.build(spark, sfDir))
    assert(p.contains("GroupedTopK"), s"custom operator missing from plan\n$p")
    val windows = p.linesIterator.count(l => l.trim.matches("""\(\d+\) Window( .*)?"""))
    assert(windows == 0, s"$windows Window nodes (heap operator should replace them)\n$p")
  }

  test("q251: all three hinted physical join strategies fire in one plan") {
    val p = plan(operators.Relational.q251.build(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"broadcast hint ignored\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint ignored\n$p")
    assert(p.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored\n$p")
  }

  test("q252: the custom sessionizer runs in ONE Window pass (the lag+cumsum idiom needs two)") {
    val p = plan(operators.EventWindows.q252.build(spark, sfDir))
    assert(p.toLowerCase.contains("sessionid"), s"custom window function missing\n$p")
    val windows = p.linesIterator.count(l => l.trim.matches("""\(\d+\) Window( .*)?"""))
    assert(windows == 1, s"$windows Window nodes (expected exactly 1)\n$p")
  }

  test("q257: the unreferenced unique-keyed left join is eliminated — no Join node, no customer scan") {
    val p = plan(operators.Relational.q257.build(spark, sfDir))
    val joins = p.linesIterator.count(l => l.trim.matches("""\(\d+\) \w*Join\w*( .*)?"""))
    assert(joins == 0, s"$joins Join nodes — elimination did not fire\n$p")
    assert(!p.contains("customer.parquet"), s"eliminated side still scanned\n$p")
  }

  test("q257 safety guards: referenced or not-provably-unique right sides keep their joins") {
    operators.table(spark, sfDir, "orders").createOrReplaceTempView("orders_je")
    operators.table(spark, sfDir, "customer").createOrReplaceTempView("customer_je")
    val p = plan(spark.sql(
      """SELECT o.o_orderpriority, d.n_dup
        |FROM orders_je o
        |LEFT JOIN (SELECT c_custkey, count(*) AS n_dup
        |           FROM customer_je GROUP BY c_custkey) d
        |  ON o.o_custkey = d.c_custkey""".stripMargin))
    assert(p.contains("Join"), s"a referenced join must survive\n$p")
    val p3 = plan(spark.sql(
      """SELECT o.o_orderpriority
        |FROM orders_je o
        |LEFT JOIN customer_je c ON o.o_custkey = c.c_custkey""".stripMargin))
    assert(p3.contains("Join"),
      s"a join whose right side is not provably unique must survive\n$p3")
  }

  test("q315: the 75-counter sketch pass is one hash-aggregate pair over one scan — no explode, no key shuffle") {
    import org.apache.spark.sql.functions._
    // the sketch pass exactly as q315 builds it (the entry's returned
    // frame is driver-assembled, so the pass is reconstructed here)
    val ev = operators.events(spark, sfDir)
      .select(col("user_id").cast("string").as("u"),
        col("event_type").as("et"))
      .withColumn("h",
        expr("CAST(conv(substring(md5(u), 1, 15), 16, 10) AS BIGINT)"))
    val aggCols = (0 until 25).flatMap { i =>
      val sgn = s"(1 - 2 * ((h >> $i) & 1))"
      Seq(expr(s"sum(CASE WHEN et = 'click' THEN $sgn ELSE 0 END)").as(s"za$i"),
        expr(s"sum(CASE WHEN et = 'purchase' THEN $sgn ELSE 0 END)").as(s"zb$i"),
        expr(s"sum($sgn)").as(s"zl$i"))
    }
    val df = ev.agg(aggCols.head, aggCols.tail: _*)
    val p = plan(df)
    assert(!p.contains("Generate"), "the sketch must not explode rows")
    val aggs = p.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate( .*)?"""))
    assert(aggs == 2, s"$aggs HashAggregate nodes — expected partial+final\n$p")
    val exchanges = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange( .*)?"""))
    assert(exchanges == 1,
      s"$exchanges Exchanges — 75 counters must cross the wire once\n$p")
    // codegen markers only stamp the FINAL AQE plan — execute, then
    // check for the `*(n)` whole-stage prefix on both aggregates
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.linesIterator.count(_.contains("*(")) >= 2,
      s"sketch pass fell out of whole-stage codegen\n${fin.take(1500)}")
  }

  test("q316: rendezvous assignment is row-local — no explode, no join before the audit aggregates") {
    val p = plan(operators.Sampling.q316.build(spark, sfDir))
    assert(!p.contains("Generate"), "HRW argmax must stay a row-local array op")
    val joins = p.linesIterator.count(l => l.trim.matches("""\(\d+\) \w*Join\w*( .*)?"""))
    assert(joins == 0, s"$joins Join nodes in a row-local assignment\n$p")
  }

  test("Explain.canonical: two builds of one entry in one JVM dump equal text") {
    // d6 checkpoints and caches (fresh RDD ids each build), s1 plans a
    // broadcast and a window: none of it may reach the canonical dump
    for (q <- Seq(operators.Dedup.d6, operators.Similarity.s1)) {
      val first = Explain.canonical(q.build(spark, sfDir))
      spark.catalog.clearCache()
      assert(Explain.canonical(q.build(spark, sfDir)) == first, q.name)
      spark.catalog.clearCache()
    }
  }
}
