package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the native expressions: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` must expose them to pure
  * SQL with the same semantics as the DataFrame wrappers. */
class GraftExtensionsSpec extends AnyFunSuite with LocalSpark {

  override protected def sessionConf = Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  test("dot_product is callable from SQL and matches the DataFrame wrapper") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  test("minhash_signature from SQL: identical texts agree, length 64") {
    val row = spark.sql("""
      SELECT minhash_signature('a b c d e f') AS s1,
             minhash_signature('a b c d e f') AS s2""").head()
    assert(row.getSeq[Long](0) == row.getSeq[Long](1))
    assert(row.getSeq[Long](0).length == 64)
  }

  test("simhash64 + shingle_jaccard from SQL") {
    val row = spark.sql("""
      SELECT simhash64('spark native engine test text') AS h,
             shingle_jaccard('a b c d', 'a b c d').jaccard AS j""").head()
    assert(row.getLong(0) != 0L)
    assert(row.getDouble(1) == 1.0)
  }

  test("functions survive session cloning (newSession)") {
    val s2 = spark.newSession()
    assert(s2.sql("SELECT dot_product(array(1.0F), array(2.0F))").head().getDouble(0) == 2.0)
  }

  test("ngrams is callable as a SQL table function (LATERAL VIEW Generate)") {
    val rows = spark.sql(
      "SELECT g.* FROM (SELECT 'p q r' AS t) LATERAL VIEW ngrams(t, 2) g AS pos, ngram")
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "p q"), (1, "q r")))
  }
}
