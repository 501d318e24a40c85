package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Unit contract of the custom GroupedTopK physical operator: exact row
  * set under ties, short groups, k=1, and arbitrary partitioning — the
  * properties the oracle query (q114) exercises at scale, pinned here on
  * hand-written rows where every edge is visible.
  */
class GroupedTopKSpec extends AnyFunSuite with LocalSpark {

  private def df = {
    import spark.implicits._
    Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 30.0), ("a", 4L, 20.0),
      ("b", 5L, 5.0),
      ("c", 6L, 1.0), ("c", 7L, 2.0)
    ).toDF("g", "id", "v").repartition(4)
  }

  private def run(k: Int): Set[(String, Long)] =
    GroupedTopK.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc, col("id")), k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("ties break on the secondary key; short groups keep all rows") {
    // a: 30.0 tie between id 2 and 3 → id 2 first; top-2 = {2, 3}
    // b: single row survives even with k=2; c: both rows
    assert(run(2) == Set(("a", 2L), ("a", 3L), ("b", 5L), ("c", 6L), ("c", 7L)))
  }

  test("k=1 keeps exactly the argmax per group, tie to the smaller id") {
    assert(run(1) == Set(("a", 2L), ("b", 5L), ("c", 7L)))
  }

  test("k beyond every group size degrades to identity") {
    assert(run(10).size == 7)
  }

  test("row set is invariant to input partitioning") {
    val wide = df.repartition(7)
    val got = GroupedTopK.topKPerGroup(wide, Seq(col("g")), Seq(col("v").desc, col("id")), 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == run(2))
  }

  test("the plan runs both heap phases with the exchange between, and never sorts") {
    val p = GroupedTopK.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc, col("id")), 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("GroupedTopK"), p)
    // nodeName strips the Exec suffix in plan strings
    val phases = p.linesIterator.count(_.contains("GroupedTopK ["))
    assert(phases == 2, s"$phases exec phases, expected partial+final\n$p")
    assert(!p.contains("Sort "), s"sort in a heap-based operator\n$p")
    assert(!p.contains("Window"), p)
  }

  // ---- RankFilterToGroupedTopK optimizer-rule contract ----

  private def ruleSession = {
    val s = spark.newSession()
    GroupedTopK.ensureInjected(s)
    import s.implicits._
    Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 30.0), ("a", 4L, 20.0),
      ("b", 5L, 5.0),
      ("c", 6L, 1.0), ("c", 7L, 2.0)
    ).toDF("g", "id", "v").createOrReplaceTempView("rows_rt")
    s
  }

  test("rule: the textbook rank-filter idiom rewrites to GroupedTopK with the exact Window row set") {
    val s = ruleSession
    val q = s.sql("""
      SELECT g, id FROM (
        SELECT g, id, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) rn
        FROM rows_rt) WHERE rn <= 2""")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("GroupedTopK"), plan)
    assert(!plan.contains("Window"), plan)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("a", 3L), ("b", 5L), ("c", 6L), ("c", 7L)))
  }

  test("rule: keeping the rank column in the projection blocks the rewrite (its value needs the sort)") {
    val s = ruleSession
    val q = s.sql("""
      SELECT g, id, rn FROM (
        SELECT g, id, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) rn
        FROM rows_rt) WHERE rn <= 2""")
    assert(!q.queryExecution.optimizedPlan.toString.contains("GroupedTopK"),
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().length == 5)
  }

  test("rule: rank() (not row_number) and unpartitioned windows are left alone") {
    val s = ruleSession
    val rk = s.sql("""
      SELECT g, id FROM (
        SELECT g, id, rank() OVER (PARTITION BY g ORDER BY v DESC) rn
        FROM rows_rt) WHERE rn <= 2""")
    assert(!rk.queryExecution.optimizedPlan.toString.contains("GroupedTopK"))
    val global = s.sql("""
      SELECT g, id FROM (
        SELECT g, id, row_number() OVER (ORDER BY v DESC, id) rn
        FROM rows_rt) WHERE rn <= 2""")
    assert(!global.queryExecution.optimizedPlan.toString.contains("GroupedTopK"))
    assert(global.collect().length == 2)
  }

  test("property: GroupedTopK row set == Window row_number row set over random inputs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.expressions.{Window => W}
    import spark.implicits._
    // unique ids make the (v DESC, id) order total, so the two forms must
    // agree EXACTLY — the operator's core contract, over the input space
    // (group skew, ties in v, k vs group-size edges, input partitioning)
    val rowsGen: Gen[List[(String, Long, Int)]] = for {
      n <- Gen.choose(0, 60)
      groups <- Gen.choose(1, 5)
      vs <- Gen.listOfN(n, Gen.zip(Gen.choose(0, groups - 1), Gen.choose(0, 7)))
    } yield vs.zipWithIndex.map { case ((g, v), i) => (s"g$g", i.toLong, v) }
    val prop = Prop.forAll(rowsGen, Gen.choose(1, 4), Gen.choose(1, 5)) {
      (rows, k, parts) =>
        val df = rows.toDF("g", "id", "v").repartition(parts)
        val viaOp = GroupedTopK.topKPerGroup(df,
            Seq(col("g")), Seq(col("v").desc, col("id")), k)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val viaWindow = df
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            W.partitionBy("g").orderBy(col("v").desc, col("id"))))
          .filter(col("rn") <= k)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        viaOp == viaWindow
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
