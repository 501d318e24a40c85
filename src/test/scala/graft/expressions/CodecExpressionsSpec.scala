package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.functions.Functions._

/** Boundary contracts for the hand-rolled wire codecs (Avro binary via the
  * core Avro library; proto3 wire format from the published spec). */
class CodecExpressionsSpec extends AnyFunSuite with LocalSpark {

  private val writer = """{"type":"record","name":"r","fields":[
    {"name":"id","type":"long"},{"name":"name","type":"string"},
    {"name":"value","type":"long"}]}"""

  test("proto: multi-byte varints, zero elision, unknown-field skip, absent → NULL") {
    import spark.implicits._
    // 300 needs 2 varint bytes; Long.MaxValue needs 9; 0 is elided
    val df = Seq((300L, "x", Long.MaxValue), (0L, "", 0L)).toDF("id", "name", "value")
      .select(protoEncode(col("id"), col("name"), col("value")).as("b"))
      .select(protoVarint(col("b"), 1).as("id"), protoString(col("b"), 2).as("name"),
        protoVarint(col("b"), 3).as("value"), protoVarint(col("b"), 9).as("ghost"),
        length(col("b")).as("len"))
      .collect().sortBy(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    val zero = df(0) // fully elided message: every field reads back NULL/absent
    assert(zero.isNullAt(0) && zero.isNullAt(1) && zero.isNullAt(2) && zero.getInt(4) == 0)
    val big = df(1)
    assert(big.getLong(0) == 300L && big.getString(1) == "x" &&
      big.getLong(2) == Long.MaxValue && big.isNullAt(3))
  }

  test("proto: reader without a descriptor skips the fields it does not ask for") {
    import spark.implicits._
    val r = Seq((7L, "abc", 99L)).toDF("id", "name", "value")
      .select(protoEncode(col("id"), col("name"), col("value")).as("b"))
      .select(protoString(col("b"), 2).as("name")) // skips fields 1 and 3
      .collect()(0)
    assert(r.getString(0) == "abc")
  }

  test("proto: last occurrence of a non-repeated field wins (message-merge rule)") {
    // concatenating two serialized messages must decode as the SECOND
    // message's fields (proto3 field-overwrite semantics, ADVICE r10)
    val m1 = ProtoWire_encode(1L, "first", 10L)
    val m2 = ProtoWire_encode(2L, "second", 20L)
    val cat = m1 ++ m2
    assert(ProtoWire.find(cat, 1, wantLenDelimited = false) == ((true, 2L, 0, 0)))
    val (found, _, off, len) = ProtoWire.find(cat, 2, wantLenDelimited = true)
    assert(found && new String(cat.slice(off, off + len), "UTF-8") == "second")
  }

  test("proto: truncated / malformed input raises a clean decode error") {
    val good = ProtoWire_encode(300L, "abcdef", 0L)
    // truncated mid-varint
    intercept[IllegalArgumentException] {
      ProtoWire.find(good.dropRight(good.length - 1), 1, wantLenDelimited = false)
    }
    // length-delimited len running past the buffer
    intercept[IllegalArgumentException] {
      ProtoWire.find(good.dropRight(2), 2, wantLenDelimited = true)
    }
    // malformed >10-byte varint (continuation bit never clears)
    intercept[IllegalArgumentException] {
      ProtoWire.readVarint(Array.fill[Byte](12)(0x80.toByte), 0)
    }
  }

  private def ProtoWire_encode(id: Long, name: String, value: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id != 0L) { ProtoWire.putVarint(out, (1L << 3) | 0); ProtoWire.putVarint(out, id) }
    val nb = name.getBytes("UTF-8")
    if (nb.nonEmpty) {
      ProtoWire.putVarint(out, (2L << 3) | 2)
      ProtoWire.putVarint(out, nb.length.toLong); out.write(nb, 0, nb.length)
    }
    if (value != 0L) { ProtoWire.putVarint(out, (3L << 3) | 0); ProtoWire.putVarint(out, value) }
    out.toByteArray
  }

  test("avro: encoder rejects a writer schema that is not (id,name,value)") {
    import spark.implicits._
    val bad = """{"type":"record","name":"r","fields":[
      {"name":"id","type":"string"},{"name":"name","type":"string"},
      {"name":"value","type":"long"}]}"""
    val e = intercept[Exception] {
      Seq((1L, "x", 2L)).toDF("id", "name", "value")
        .select(avroEncode(col("id"), col("name"), col("value"), bad).as("b"))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("avro: round-trip identity under the writer schema") {
    import spark.implicits._
    val r = Seq((42L, "héllo wörld", -1L)).toDF("id", "name", "value")
      .select(avroEncode(col("id"), col("name"), col("value"), writer).as("b"))
      .select(avroField(col("b"), writer, writer, "id", "long").as("id"),
        avroField(col("b"), writer, writer, "name", "string").as("name"),
        avroField(col("b"), writer, writer, "value", "long").as("value"))
      .collect()(0)
    assert(r.getLong(0) == 42L && r.getString(1) == "héllo wörld" && r.getLong(2) == -1L)
  }

  test("avro: reader schema drops a field and takes a default for a new one") {
    import spark.implicits._
    val reader = """{"type":"record","name":"r","fields":[
      {"name":"name","type":"string"},
      {"name":"extra","type":"long","default":-5}]}"""
    val r = Seq((1L, "n", 2L)).toDF("id", "name", "value")
      .select(avroEncode(col("id"), col("name"), col("value"), writer).as("b"))
      .select(avroField(col("b"), writer, reader, "name", "string").as("name"),
        avroField(col("b"), writer, reader, "extra", "long").as("extra"))
      .collect()(0)
    assert(r.getString(0) == "n" && r.getLong(1) == -5L)
  }
}
