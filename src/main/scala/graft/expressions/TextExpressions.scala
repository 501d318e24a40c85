package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared shingling for the text expressions: lowercase, split on single
  * spaces, 3-word shingles, murmur3-hashed to a positive 32-bit value in a
  * long. One row-level JIT'd Scala pass — no per-element interpreted
  * lambdas, no explode/window/distinct shuffles.
  */
private[expressions] object Shingling {
  /** Distinct 3-gram shingle hashes of a text. Hash = murmur3 of the
    * shingle's UTF-8 bytes (same family as Spark's `hash()`), masked
    * positive into [0, 2^32). */
  def shingleHashes(text: UTF8String): Array[Long] = {
    val words = text.toLowerCase.toString.split(' ')
    if (words.length < 3) return Array.empty
    val seen = new java.util.HashSet[Long]()
    val out = new Array[Long](words.length - 2)
    var n = 0
    var i = 0
    while (i + 2 < words.length) {
      val sh = words(i) + " " + words(i + 1) + " " + words(i + 2)
      val bytes = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42) & 0xFFFFFFFFL
      if (seen.add(h)) { out(n) = h; n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}

/** 64-permutation MinHash signature of a text column, computed in one
  * row-level pass: shingle → murmur3 → 64 affine minima ((a·h+b) mod p,
  * products < 2^63−1, ANSI-safe). Replaces a 3-shuffle pipeline
  * (explode + window + distinct + hash agg) with a zero-shuffle projection —
  * the shape that scales to a 100 TB corpus (signatures are embarrassingly
  * parallel; only the 16 band buckets ever shuffle).
  *
  * CodegenFallback is deliberate: the cost is one virtual call per ROW into
  * JIT'd Scala (the ~90×64 inner operations are a tight loop), which
  * whole-stage codegen could not meaningfully improve.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Int)
    extends UnaryExpression with CodegenFallback {

  private lazy val (coeffA, coeffB) = {
    val rnd = new scala.util.Random(seed)
    (Array.fill(numHashes)(1L + rnd.nextInt(1 << 30).toLong * 2),
      Array.fill(numHashes)(rnd.nextInt(1 << 30).toLong))
  }
  private val P = 4294967311L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // returns null for non-null input (< 3 words) → must not inherit the
  // child's nullability or NullPropagation folds isNotNull filters away
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val hs = Shingling.shingleHashes(input.asInstanceOf[UTF8String])
    if (hs.isEmpty) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < numHashes) {
        val v = (coeffA(j) * h + coeffB(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash of a text in one row-level pass: murmur3 per word,
  * per-bit ±1 votes, sign → bit. Replaces an explode + 64-column groupBy
  * aggregate (one whole shuffle) with a zero-shuffle projection. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toLowerCase.toString.split(' ')
    val votes = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val bytes = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h32a = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42)
      val h32b = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 4242)
      val h = (h32a.toLong << 32) | (h32b.toLong & 0xFFFFFFFFL)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact 3-gram Jaccard similarity of two texts in one row-level pass —
  * the confirm step for LSH candidate pairs (evaluated only O(candidate
  * pairs) times, so the whole corpus never materializes a shingle table).
  * Returns struct(inter, un, jaccard). */
case class ShingleJaccard(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("un", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val h1 = Shingling.shingleHashes(a.asInstanceOf[UTF8String])
    val h2 = Shingling.shingleHashes(b.asInstanceOf[UTF8String])
    val s1 = new java.util.HashSet[Long]()
    h1.foreach(s1.add)
    var inter = 0L
    val s2 = new java.util.HashSet[Long]()
    h2.foreach { h => if (s2.add(h) && s1.contains(h)) inter += 1 }
    val un = s1.size.toLong + s2.size.toLong - inter
    val jac = if (un == 0) 0.0 else inter.toDouble / un
    org.apache.spark.sql.catalyst.InternalRow(inter, un, jac)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sum of Unicode CODE POINTS of a string — the "energy" reduction the
  * media-window operators (m5/m8) compute per 32-char window. Replaces the
  * interpreted `aggregate(transform(split(s, ''), ascii), 0, +)` HOF chain
  * (three interpreted lambda evaluations PER CHARACTER) with one call per
  * row into a JIT'd loop, staying inside whole-stage codegen. Code-point
  * semantics match DuckDB's `string_split(s,'') + ascii` exactly —
  * including non-BMP characters, where the Spark HOF route would sum lone
  * surrogate values instead (the fixture is ASCII, so results are
  * identical there; the native form is the one that also generalizes). */
case class CharCodeSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    CharCodeSum.sum(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.CharCodeSum.sum($c)")
  override protected def withNewChildInternal(newChild: Expression): CharCodeSum =
    copy(child = newChild)
}

object CharCodeSum {
  def sum(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc += cp
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Native table-generating function — the third extension seam (scalar
  * Expression: DotProduct; typed Aggregator: WeightedAvg; Generator: this):
  * emits one (pos, ngram) row per word n-gram of the input text, planned by
  * Catalyst as a `Generate` node exactly like `explode`, but WITHOUT first
  * materializing an intermediate array-of-strings per row — the HOF route
  * (`explode(transform(sequence(...)))`) allocates the whole gram array
  * before the explode copies it again; this streams grams straight into the
  * Generate output. On a 100 TB text corpus that intermediate is corpus-
  * sized allocation pressure for nothing. Non-distinct by design (t7-style
  * counting wants every occurrence); `n` is bound at function-registration
  * time from the SQL literal. */
case class NGrams(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("ngram", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else {
      // limit -1 keeps trailing empty tokens — the contract DuckDB's
      // string_split and Spark's split() HOF both follow; the default
      // limit-0 split silently drops them, so a doc ending in a space
      // would yield different gram counts cross-engine (ADVICE r6)
      val words = t.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (words.length < n) Nil
      else new Iterator[InternalRow] {
        private var i = 0
        override def hasNext: Boolean = i <= words.length - n
        override def next(): InternalRow = {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
          val row = InternalRow(i, UTF8String.fromString(sb.toString))
          i += 1
          row
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)
}
