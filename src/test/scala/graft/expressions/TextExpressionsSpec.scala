package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.functions.Functions.{minhashSignature, shingleJaccard, simhash64, dotProduct, l2Sq}

/** Edge cases for the native text/vector expressions (the oracle checks
  * cover the happy path at corpus scale).
  */
class TextExpressionsSpec extends AnyFunSuite with LocalSpark {

  test("minhash: identical texts yield identical signatures") {
    import spark.implicits._
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "x y z w v")).toDF("t1", "t2")
      .select(minhashSignature(col("t1")).as("s1"), minhashSignature(col("t2")).as("s2"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](0) == rows(0).getSeq[Long](1))
    assert(rows(1).getSeq[Long](0) != rows(1).getSeq[Long](1))
  }

  test("minhash: short or null text is null") {
    import spark.implicits._
    val df = Seq(Some("two words"), Some(""), None).toDF("t")
      .select(minhashSignature(col("t")).as("s"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("jaccard: identical = 1.0, disjoint = 0.0, order-symmetric") {
    import spark.implicits._
    val df = Seq(
      ("a b c d", "a b c d"),
      ("a b c d", "w x y z"),
      ("a b c d e", "b c d e f")).toDF("t1", "t2")
      .select(shingleJaccard(col("t1"), col("t2")).as("j"),
        shingleJaccard(col("t2"), col("t1")).as("jr"))
    val rows = df.collect()
    assert(rows(0).getStruct(0).getDouble(2) == 1.0)
    assert(rows(1).getStruct(0).getDouble(2) == 0.0)
    // symmetric
    rows.foreach(r => assert(r.getStruct(0).getDouble(2) == r.getStruct(1).getDouble(2)))
    // "a b c d e" vs "b c d e f": shingles {abc,bcd,cde} vs {bcd,cde,def} → 2/4
    assert(rows(2).getStruct(0).getDouble(2) == 0.5)
  }

  test("simhash: identical texts equal, case-insensitive, different texts differ") {
    import spark.implicits._
    val df = Seq(("spark scan table", "SPARK SCAN TABLE"), ("spark scan table", "zeta eta theta"))
      .toDF("t1", "t2")
      .select(simhash64(col("t1")).as("h1"), simhash64(col("t2")).as("h2"))
    val rows = df.collect()
    assert(rows(0).getLong(0) == rows(0).getLong(1))
    assert(rows(1).getLong(0) != rows(1).getLong(1))
  }

  test("dot product: known value, empty arrays, interpreted path parity") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)), (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b").select(dotProduct(col("a"), col("b")).as("d"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("dot product: dimension mismatch is null, not a truncated value") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f)))
      .toDF("a", "b").select(dotProduct(col("a"), col("b")).as("d"))
    assert(df.collect().head.isNullAt(0))
  }

  test("dot product: a NULL element poisons the result, matching aggregate(zip_with) exactly (r14 audit)") {
    import spark.implicits._
    // the engine formulation this Expression replaces: zip_with's multiply
    // maps the null slot to null and the running + poisons the sum
    val df = Seq(
        (Array[java.lang.Float](1.0f, null, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
        (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f, 4.0f)))
      .toDF("a", "b")
      .select(dotProduct(col("a"), col("b")).as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)").as("engine"))
    val rows = df.collect()
    // null-bearing: both NULL (the pre-audit loop read the null slot as
    // 0.0 and served a silently-shrunk 10.0)
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    // clean: both exact
    assert(rows(1).getDouble(0) == 11.0 && rows(1).getDouble(1) == 11.0)
  }

  test("l2 squared distance: known value, mismatch null, null-element poisoning, HOF parity") {
    import spark.implicits._
    val df = Seq(
        (Array[java.lang.Double](1.0, 2.0, 3.0), Array[java.lang.Double](2.0, 0.0, 3.0)),
        (Array[java.lang.Double](1.0, null, 3.0), Array[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(l2Sq(col("a"), col("b")).as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)").as("engine"))
    val rows = df.collect()
    // (1-2)^2 + (2-0)^2 + (3-3)^2 = 5, both paths
    assert(rows(0).getDouble(0) == 5.0 && rows(0).getDouble(1) == 5.0)
    // a null element poisons both paths identically
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    // dimension mismatch is null, not a truncated value
    val mm = Seq((Array(1.0, 2.0, 3.0), Array(1.0)))
      .toDF("a", "b").select(l2Sq(col("a"), col("b")).as("d"))
    assert(mm.collect().head.isNullAt(0))
  }

  test("minhash null result survives a non-nullable input column") {
    import spark.implicits._
    // coalesce makes the text column non-nullable; the expression must
    // still declare itself nullable or isNotNull filters get folded away
    val df = Seq("a b", "x y z w").toDF("t")
      .select(minhashSignature(coalesce(col("t"), lit(""))).as("s"))
      .filter(col("s").isNotNull)
    assert(df.count() == 1)
  }

  test("ngrams generator: positions, contents, short-doc and null edges") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    def grams(n: Int) = GraftColumnBridge.column(
      NGrams(GraftColumnBridge.expression(col("t")), n))
    val rows = Seq(Some("a b c d"), Some("a b"), None).toDF("t")
      .select(grams(3).as(Seq("pos", "ngram"))).collect()
    // "a b c d" -> (0, "a b c"), (1, "b c d"); "a b" too short; null skipped
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "a b c"), (1, "b c d")))
    val bi = Seq("x y z").toDF("t")
      .select(grams(2).as(Seq("pos", "ngram"))).collect()
    assert(bi.map(_.getString(1)).toSeq == Seq("x y", "y z"))
    // trailing-space contract (ADVICE r6): trailing empty tokens are KEPT,
    // matching split() HOF / DuckDB string_split — "x y " tokenizes to
    // ["x","y",""] so bigrams are "x y" and "y " (y + empty)
    val trail = Seq("x y ").toDF("t")
      .select(grams(2).as(Seq("pos", "ngram"))).collect()
    assert(trail.map(_.getString(1)).toSeq == Seq("x y", "y "))
  }

  test("char_code_sum: code-point sum matches the HOF route on ASCII/BMP; null/empty edges") {
    import spark.implicits._
    import graft.functions.Functions.charCodeSum
    val df = Seq(Some("abc"), Some(""), Some("héllo"), None).toDF("t")
      .select(col("t"), charCodeSum(col("t")).as("native"),
        aggregate(transform(split(col("t"), ""), c => ascii(c).cast("long")),
          lit(0L), (acc, x) => acc + x).as("hof"))
      .collect()
    val byIn = df.map(r => Option(r.getString(0)) -> r).toMap
    assert(byIn(Some("abc")).getLong(1) == 97 + 98 + 99)
    assert(byIn(Some("")).getLong(1) == 0L)
    // BMP non-ASCII: é = U+00E9 — both routes agree
    assert(byIn(Some("héllo")).getLong(1) == byIn(Some("héllo")).getLong(2))
    byIn.collect { case (Some(_), r) => assert(r.getLong(1) == r.getLong(2)) }
    assert(byIn(None).isNullAt(1))
    // non-BMP: the native form sums the CODE POINT (DuckDB semantics);
    // U+1F600 = 128512
    val emoji = Seq("😀").toDF("t")
      .select(charCodeSum(col("t"))).head().getLong(0)
    assert(emoji == 128512L)
  }
}
