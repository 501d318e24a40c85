package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar-function surface of the engine: the reference's two pure scalar
  * behaviors (duration formatting, shell-glob matching) plus vector helpers
  * used by the similarity operators.
  */
object Functions {

  /** Format a duration in seconds as e.g. "2d 3h 4m 5s".
    *
    * Exact port of the reference semantics (reference: gluettalax.py:91-119):
    *   - greedy decomposition over (d, h, m, s);
    *   - zero components are omitted, except "0s" when everything is zero;
    *   - negative inputs put a '-' sign on EVERY emitted component
    *     (e.g. -3661 -> "-1h -1m -1s"), matching the reference exactly.
    */
  def formatTime(seconds: Long): String = {
    val negative = seconds < 0
    var rest = math.abs(seconds)
    val labels = Seq(("d", 86400L), ("h", 3600L), ("m", 60L), ("s", 1L))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (((lbl, interval), idx) <- labels.zipWithIndex) {
      val a = rest / interval
      if (a > 0 || (idx == labels.size - 1 && out.isEmpty)) {
        out += (if (negative) s"-$a$lbl" else s"$a$lbl")
        rest -= a * interval
      }
    }
    out.mkString(" ")
  }

  /** Translate a shell glob (fnmatch dialect — `*`, `?`, `[seq]`, `[!seq]`,
    * case-sensitive, whole-string anchored) to a Java regex.
    * This is the compat contract for all four reference list commands
    * (reference: gluettalax.py:33,654,678,742,799 use fnmatch.fnmatch).
    */
  def globToRegex(pattern: String): String = {
    val sb = new StringBuilder
    var i = 0
    val n = pattern.length
    while (i < n) {
      val c = pattern.charAt(i)
      i += 1
      c match {
        case '*' => sb.append(".*")
        case '?' => sb.append(".")
        case '[' =>
          var j = i
          if (j < n && (pattern.charAt(j) == '!' || pattern.charAt(j) == '^')) j += 1
          if (j < n && pattern.charAt(j) == ']') j += 1
          while (j < n && pattern.charAt(j) != ']') j += 1
          if (j >= n) sb.append("\\[") // unterminated class: literal '['
          else {
            val inner0 = pattern.substring(i, j)
            val inner =
              if (inner0.startsWith("!")) "^" + inner0.substring(1) else inner0
            // escape backslashes inside the class like fnmatch.translate does
            sb.append('[').append(inner.replace("\\", "\\\\")).append(']')
            i = j + 1
          }
        case other =>
          if ("\\.[]{}()*+?^$|".indexOf(other) >= 0) sb.append('\\')
          sb.append(other)
      }
    }
    // fnmatch matches the whole string, '*' crosses newlines (DOTALL)
    "(?s)" + sb.toString
  }

  /** Column form of the fnmatch filter: `c` matches shell glob `pattern`. */
  def globMatch(c: Column, pattern: String): Column = c.rlike("^" + globToRegex(pattern) + "$")

  /** Spark's order on strings: UTF-8 bytes, unsigned. `String.compareTo`
    * compares UTF-16 units instead and puts a supplementary-plane character
    * (a surrogate pair, 0xD800-0xDFFF) before U+E000-U+FFFF; Spark puts it
    * after. For sorting rows on the driver exactly as `orderBy` would. */
  val utf8Order: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** Escape a string for inclusion in a single-quoted Spark SQL literal —
    * shared by every DDL builder that interpolates user-supplied values
    * (partition specs, locations, reader options). */
  def sqlLit(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** format_time as a Column function (registered UDF for SQL use).
    * A plain UDF is acceptable here: it formats already-aggregated display
    * values, never sits in a hot scan path.
    */
  def format_time(c: Column): Column = formatTimeUdf(c)

  private lazy val formatTimeUdf = udf((s: java.lang.Long) =>
    if (s == null) null else formatTime(s.longValue()))

  /** Register SQL-callable functions on a session. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("format_time", (s: java.lang.Long) =>
      if (s == null) null else formatTime(s.longValue()))
  }

  // ---- vector helpers (composed from codegen'd higher-order functions; no
  // UDF in the hot path — these stay inside whole-stage codegen) ----

  /** Dot product of two numeric-array columns, accumulated in double,
    * left-to-right (parity with the DuckDB oracle's accumulation order).
    * Backed by the native codegen'd DotProduct expression — the HOF
    * formulation (`aggregate(zip_with(...))`) evaluates its lambda
    * interpreted per element and is ~10× slower in the similarity path. */
  def dotProduct(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.DotProduct(expression(a), expression(b)))
  }

  /** L2 norm of a numeric-array column (double). */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Squared L2 distance of two numeric-array columns, accumulated in
    * double left-to-right — codegen'd replacement for the interpreted
    * `aggregate(zip_with(a, b, (x, y) -> (x−y)*(x−y)), 0.0, +)` form,
    * value- and null-identical to it. */
  def l2Sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.L2DistanceSquared(expression(a), expression(b)))
  }

  /** Cosine similarity of two float-array columns (double). */
  def cosine(a: Column, b: Column): Column = dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** 64-permutation MinHash signature of a text column (null for texts with
    * < 3 words) — one zero-shuffle row-level pass. */
  def minhashSignature(text: Column, numHashes: Int = 64, seed: Int = 7): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.MinHashSignature(expression(text), numHashes, seed))
  }

  /** 64-bit SimHash of a text column — one zero-shuffle row-level pass. */
  def simhash64(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.SimHash64(expression(text)))
  }

  /** Encode (id, name, value) as Avro binary with the given writer
    * schema (fields id: long, name: string, value: long). */
  def avroEncode(id: Column, name: Column, value: Column,
      schemaJson: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.AvroMessageEncode(
      expression(id), expression(name), expression(value), schemaJson))
  }

  /** Decode one field from Avro binary with writer→reader schema
    * resolution (`fieldType` = "long" | "string"). */
  def avroField(bin: Column, writerJson: String, readerJson: String,
      field: String, fieldType: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.AvroDecodeField(expression(bin),
      writerJson, readerJson, field, fieldType))
  }

  /** Encode (id, name, value) as proto3 wire bytes ({int64 1; string 2;
    * int64 3}) — hand-rolled from the published wire spec. */
  def protoEncode(id: Column, name: Column, value: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.ProtoMessageEncode(
      expression(id), expression(name), expression(value)))
  }

  /** Decode a varint field from proto wire bytes (NULL when absent).
    * Per the proto3 message-merge rule, the LAST occurrence of the field
    * wins; truncated/malformed input raises IllegalArgumentException. */
  def protoVarint(bin: Column, fieldNo: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.ProtoVarintField(expression(bin),
      expression(lit(fieldNo))))
  }

  /** Decode a length-delimited string field from proto wire bytes (NULL
    * when absent; last occurrence wins, per the proto3 merge rule). */
  def protoString(bin: Column, fieldNo: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.ProtoStringField(expression(bin),
      expression(lit(fieldNo))))
  }

  /** Exact 3-gram Jaccard of two texts → struct(inter, un, jaccard). */
  def shingleJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.ShingleJaccard(expression(a), expression(b)))
  }

  /** Sum of Unicode code points of a string (the media-window "energy"
    * reduction) — codegen'd, one JIT'd loop per row. */
  def charCodeSum(s: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.CharCodeSum(expression(s)))
  }
}
