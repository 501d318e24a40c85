package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Unit contract of the custom AsOfMergeJoin physical operator: backward-
  * inclusive match selection, equal-time tiebreaks, inner semantics for
  * unmatched/NULL rows, key-boundary resets between adjacent keys in one
  * sorted partition, and agreement with the window-composed reference
  * under arbitrary partitioning — every edge pinned on hand-written rows
  * (q213 hash-checks the same operator against DuckDB at scale).
  */
class AsOfJoinSpec extends AnyFunSuite with LocalSpark {

  // left: (key, time, id); right: (key, time, rid)
  private def L(rows: (java.lang.Long, java.lang.Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("k", "t", "id").repartition(4)
  }
  private def R(rows: (java.lang.Long, java.lang.Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("k", "rt", "rid").repartition(4)
  }

  private def join(l: DataFrame, r: DataFrame): Set[(Long, Long)] =
    AsOfJoin.asOfBackward(l, r, Seq(col("k")), Seq(col("k")),
        col("t"), col("rt"), Seq(col("rid")))
      .select(col("id"), col("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet

  test("backward-inclusive: picks the latest right at-or-before, equal time matches") {
    val l = L((1L, 10L, 100L), (1L, 20L, 101L), (1L, 25L, 102L))
    val r = R((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
    // t=10 matches rt=10 (inclusive); t=20 matches rt=20; t=25 still rt=20
    assert(join(l, r) == Set((100L, 1L), (101L, 2L), (102L, 2L)))
  }

  test("equal-time ties: the max tiebreak wins") {
    val l = L((1L, 20L, 100L))
    val r = R((1L, 20L, 7L), (1L, 20L, 9L), (1L, 20L, 8L), (1L, 5L, 1L))
    assert(join(l, r) == Set((100L, 9L)))
  }

  test("inner semantics: left rows before any right row, or on keys with no right rows, drop") {
    val l = L((1L, 5L, 100L), (2L, 50L, 200L), (3L, 10L, 300L))
    val r = R((1L, 10L, 1L), (2L, 40L, 2L))
    // key 1: left precedes all rights → drop; key 2: match; key 3: no rights
    assert(join(l, r) == Set((200L, 2L)))
  }

  test("NULL keys and NULL times never match, on either side") {
    val l = L((null, 10L, 100L), (1L, null, 101L), (1L, 50L, 102L))
    val r = R((null, 5L, 1L), (1L, null, 2L), (1L, 20L, 3L))
    assert(join(l, r) == Set((102L, 3L)))
  }

  test("key boundaries reset the candidate: an adjacent key's rights never leak") {
    // keys hash anywhere; within one sorted partition key 1's rights end
    // right before key 2's lefts begin — the candidate must not carry over
    val l = L((2L, 100L, 200L))
    val r = R((1L, 10L, 1L), (1L, 20L, 2L)) // key 2 has NO rights at all
    assert(join(l, r) == Set.empty[(Long, Long)])
  }

  test("agrees with the window-composed reference on a dense many-key fixture") {
    // ~300 lefts × 8 keys, rights at every 7th tick with colliding times
    val l = L((0 until 300).map(i => (java.lang.Long.valueOf(i % 8L),
      java.lang.Long.valueOf((i * 13 % 100).toLong), i.toLong)): _*)
    val r = R((0 until 120).map(j => (java.lang.Long.valueOf(j % 8L),
      java.lang.Long.valueOf((j * 7 % 100).toLong), (1000 + j).toLong)): _*)
    val got = join(l, r)
    val want = l.join(r, Seq("k"), "inner").where(col("rt") <= col("t"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("rt").desc, col("rid").desc)))
      .where(col("rn") === 1)
      .select(col("id"), col("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == want, s"operator disagrees with the fan-out reference: " +
      s"extra=${got -- want} missing=${want -- got}")
  }

  private def joinFwd(l: DataFrame, r: DataFrame): Set[(Long, Long)] =
    AsOfJoin.asOfForward(l, r, Seq(col("k")), Seq(col("k")),
        col("t"), col("rt"), Seq(col("rid")))
      .select(col("id"), col("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet

  test("forward: picks the earliest right at-or-after; equal time matches; min tiebreak wins") {
    val l = L((1L, 10L, 100L), (1L, 15L, 101L), (1L, 31L, 102L))
    val r = R((1L, 10L, 5L), (1L, 10L, 3L), (1L, 30L, 7L))
    // t=10 matches rt=10 tie → min rid 3; t=15 → rt=30; t=31 → nothing after
    assert(joinFwd(l, r) == Set((100L, 3L), (101L, 7L)))
  }

  test("forward: one right row serves many lefts (peek, not consume)") {
    val l = L((1L, 1L, 100L), (1L, 2L, 101L), (1L, 3L, 102L))
    val r = R((1L, 50L, 9L))
    assert(joinFwd(l, r) == Set((100L, 9L), (101L, 9L), (102L, 9L)))
  }

  test("forward agrees with the window-composed reference on the dense fixture") {
    val l = L((0 until 300).map(i => (java.lang.Long.valueOf(i % 8L),
      java.lang.Long.valueOf((i * 13 % 100).toLong), i.toLong)): _*)
    val r = R((0 until 120).map(j => (java.lang.Long.valueOf(j % 8L),
      java.lang.Long.valueOf((j * 7 % 100).toLong), (1000 + j).toLong)): _*)
    val got = joinFwd(l, r)
    val want = l.join(r, Seq("k"), "inner").where(col("rt") >= col("t"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("rt").asc, col("rid").asc)))
      .where(col("rn") === 1)
      .select(col("id"), col("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == want, s"forward operator disagrees: " +
      s"extra=${got -- want} missing=${want -- got}")
  }

  test("plan shape: AsOfMergeJoin node, two hash exchanges, no Window, no fan-out join") {
    val df = AsOfJoin.asOfBackward(
      L((1L, 10L, 100L)), R((1L, 5L, 1L)),
      Seq(col("k")), Seq(col("k")), col("t"), col("rt"), Seq(col("rid")))
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("AsOfMergeJoin"), p)
    assert(!p.contains("Window ["), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // formatted mode puts partitioning in the Arguments line; the test's
    // own repartition(4) round-robins don't count
    val exchanges = p.linesIterator.count(l =>
      l.contains("hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(exchanges == 2, s"$exchanges hash exchanges, expected exactly 2\n$p")
  }

  test("mismatched key types error at build, not silently mismatch") {
    import spark.implicits._
    val l = Seq((1, 10L, 100L)).toDF("k", "t", "id")       // k: Int
    val r = Seq((1L, 5L, 1L)).toDF("k", "rt", "rid")        // k: Long
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOfBackward(l, r, Seq(col("k")), Seq(col("k")),
        col("t"), col("rt"), Seq(col("rid")))
    }
    assert(e.getMessage.contains("key types differ"), e.getMessage)
  }

  test("mismatched time types error at build") {
    import spark.implicits._
    val l = Seq((1L, 10, 100L)).toDF("k", "t", "id")        // t: Int
    val r = Seq((1L, 5L, 1L)).toDF("k", "rt", "rid")         // rt: Long
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOfBackward(l, r, Seq(col("k")), Seq(col("k")),
        col("t"), col("rt"), Seq(col("rid")))
    }
    assert(e.getMessage.contains("time types differ"), e.getMessage)
  }
}
