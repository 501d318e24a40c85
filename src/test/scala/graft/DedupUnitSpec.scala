package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Direct pins for d37 build components the fixture corpus never
  * exercises end-to-end: the 31-word synthetic vocabulary makes the
  * adaptive packer finish with pack+tuple rounds only, so the
  * giant-vocabulary fallback (contiguous distributed rank) needs its own
  * contract test. */
class DedupUnitSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dedup-unit")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  test("d37Parts: a malformed or non-positive value fails at once, naming key and value") {
    import graft.operators.Dedup.d37Parts
    val key = "spark.graft.d37.parts"
    try {
      spark.conf.set(key, "6")
      assert(d37Parts(spark) == 6)
      for (bad <- Seq("abc", "0", "-3", "")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](d37Parts(spark))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    } finally spark.conf.unset(key)
  }

  test("sortedNeighbors: an empty partition between two non-empty ones keeps the pair across it") {
    import org.apache.spark.sql.functions._
    // 30 positions in key order (rk, d, i); suf tags each row
    val rows = spark.range(30).select(
      (lit(29L) - col("id")).as("rk"), (col("id") % 3).as("d"), col("id").as("i"),
      array(col("id").cast("string")).as("suf"))
    val keys = Seq(col("rk"), col("d"), col("i"))
    def pairs(pid: org.apache.spark.sql.Column) =
      graft.operators.Dedup.sortedNeighbors(rows.withColumn("pid", pid), keys)
        .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // parts = 1: every row in partition 0
    val one = pairs(lit(0))
    // four parts, rk ranges [0,10) → 0, [10,20) → 2, [20,30) → 3; 1 is empty
    val gapped = when(col("rk") < 10, 0).when(col("rk") < 20, 2).otherwise(3)
    val present = rows.select(gapped.as("pid")).distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(present == Seq(0, 2, 3), "precondition: partition 1 is empty between 0 and 2")
    // ascending rk = descending i: each row's predecessor is i + 1
    val expected = (0L until 29L).map(i => (i + 1, i)).toSet
    assert(one == expected)
    assert(pairs(gapped) == one)
  }

  test("denseRankBy: contiguous, order-preserving, duplicate-collapsing, count-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // duplicated pairs in shuffled order, including negative keys
    val base = Seq.tabulate(500)(_ => (rnd.nextInt(40).toLong - 20, rnd.nextInt(7).toLong))
    val df = rnd.shuffle(base).toDF("rk", "rk2")
    val (ranked, n) = graft.operators.Dedup.denseRankBy(df, Seq("rk", "rk2"), "nrk")
    val rows = ranked.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSeq
    val distinct = base.distinct
    assert(n == distinct.size.toLong)
    assert(rows.size == distinct.size) // one rank per DISTINCT key
    // contiguous 0..n-1
    assert(rows.map(_._2).sorted == (0L until n).toSeq)
    // order-isomorphic to the lexicographic key order
    val byRank = rows.sortBy(_._2).map(_._1)
    assert(byRank == distinct.sorted)
    // deterministic: a second run assigns identical ranks
    val (ranked2, n2) = graft.operators.Dedup.denseRankBy(df, Seq("rk", "rk2"), "nrk")
    assert(n2 == n)
    assert(ranked2.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toSeq.sortBy(_._2) == rows.sortBy(_._2))
  }
}
