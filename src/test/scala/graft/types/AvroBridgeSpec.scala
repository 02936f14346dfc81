package graft.types

import org.apache.avro.Schema
import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Port of the reference's type-bridge matrix
  * (AllFieldTypesTest.scala:13-196): enum round-trip, nullable-string
  * unions with field-drop->nil, all primitives + arrays round-trip through
  * real binary Avro, multi-branch union runtime resolution, and the
  * unresolvable-union error. Every value goes through real binary Avro
  * by the AvroEncode / AvroDecode expressions the pipeline runs (the
  * reference's `reserializeObj` discipline, TestUtils.scala:53-69). */
class AvroBridgeSpec extends SparkSpecBase {

  private def parse(s: String) = new Schema.Parser().parse(s)

  // all-primitives + arrays record (AllFieldTypesTest.scala:60-71 shape)
  private val allTypes = parse("""
    {"type":"record","name":"t","fields":[
      {"name":"boolean","type":"boolean"},
      {"name":"int","type":"int"},
      {"name":"long","type":"long"},
      {"name":"float","type":"float"},
      {"name":"double","type":"double"},
      {"name":"string","type":"string"},
      {"name":"strings","type":{"type":"array","items":"string"}},
      {"name":"bananas","type":{"type":"array","items":
        {"type":"record","name":"banana","fields":[
          {"name":"color","type":"string"},
          {"name":"weight","type":"float"}]}}}]}""")

  test("schema conversion: primitives, arrays, nested records") {
    val st = AvroBridge.toSqlType(allTypes).asInstanceOf[StructType]
    assert(st("boolean").dataType == BooleanType)
    assert(st("int").dataType == IntegerType)
    assert(st("long").dataType == LongType)
    assert(st("float").dataType == FloatType)
    assert(st("double").dataType == DoubleType)
    assert(st("string").dataType == StringType)
    assert(st("strings").dataType == ArrayType(StringType, containsNull = false))
    assert(st("bananas").dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType])
  }

  test("schema conversion: nullable union fast path + struct-of-members") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"optstring","type":["null","string"]},
        {"name":"multi","type":["null","boolean","int","long","float","double","string"]}]}""")
    val st = AvroBridge.toSqlType(s).asInstanceOf[StructType]
    assert(st("optstring").dataType == StringType && st("optstring").nullable)
    val multi = st("multi").dataType.asInstanceOf[StructType]
    assert(multi.fieldNames.toSeq == (0 to 5).map(i => s"member$i"))
    assert(st("multi").nullable)
  }

  /** `row`, typed `rowType`, through the AvroEncode path `encodeAvro`
    * runs, then read back off the wire as a record of `s`. */
  private def encode(row: Row, rowType: StructType, s: Schema): GenericRecord = {
    val internal = CatalystTypeConverters.createToCatalystConverter(rowType)(row)
    AvroBridge.deserialize(
      AvroEncode(Literal.create(null, rowType), s.toString).encode(internal), s)
  }

  private def encode(row: Row, s: Schema): GenericRecord =
    encode(row, AvroBridge.toSqlType(s).asInstanceOf[StructType], s)

  /** `rec` written to the wire and read back through the AvroDecode path
    * `decodeAvro` runs, as an external Row. */
  private def decode(rec: GenericRecord): Row = {
    val st = AvroBridge.toSqlType(rec.getSchema)
    val internal = AvroDecode(Literal.create(null, BinaryType),
      rec.getSchema.toString).decode(AvroBridge.serialize(rec))
    CatalystTypeConverters.createToScalaConverter(st)(internal).asInstanceOf[Row]
  }

  test("row round-trip through real binary avro: all field types") {
    import org.apache.spark.sql.functions.col
    val rec = new org.apache.avro.generic.GenericData.Record(allTypes)
    rec.put("boolean", true); rec.put("int", 42); rec.put("long", 42L)
    rec.put("float", 1.5f); rec.put("double", 2.5d); rec.put("string", "s")
    rec.put("strings", java.util.Arrays.asList("a", "b"))
    val b = new org.apache.avro.generic.GenericData.Record(
      allTypes.getField("bananas").schema().getElementType)
    b.put("color", "yellow"); b.put("weight", 0.3f)
    rec.put("bananas", java.util.Arrays.asList(b))
    val bytes = AvroBridge.serialize(rec)

    val decoded = spark.createDataFrame(
        java.util.Arrays.asList(Row(bytes)),
        StructType(Seq(StructField("value", BinaryType))))
      .select(AvroBridge.decodeAvro(col("value"), allTypes).as("value"))
    assert(decoded.collect()(0).getStruct(0) == Row(true, 42, 42L, 1.5f,
      2.5d, "s", Seq("a", "b"), Seq(Row("yellow", 0.3f))))

    // back: struct -> binary avro, byte-identical to the original wire
    val back = decoded
      .select(AvroBridge.encodeAvro(col("value"), allTypes))
      .collect()(0).getAs[Array[Byte]](0)
    assert(back.toSeq == bytes.toSeq)
  }

  test("enum round-trips; invalid symbol rejected (AllFieldTypesTest:13-29)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"queue","type":{"type":"enum","name":"MessageQueue",
          "symbols":["Kafka","ZeroMQ","NATS","Other"]}}]}""")
    val rec = new org.apache.avro.generic.GenericData.Record(s)
    rec.put("queue", new org.apache.avro.generic.GenericData.EnumSymbol(
      s.getField("queue").schema(), "Kafka"))
    assert(decode(rec) == Row("Kafka"))
    assert(encode(Row("NATS"), s).get("queue").toString == "NATS")
    intercept[IllegalArgumentException] { encode(Row("RabbitMQ"), s) }
  }

  test("output projection: missing field -> null, extra dropped (AllFieldTypesTest:31-57)") {
    // input has optstring0+mandstring; output schema adds optstring1
    val out = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"optstring0","type":["null","string"]},
        {"name":"optstring1","type":["null","string"]},
        {"name":"mandstring","type":"string"}]}""")
    val rec = encode(Row("keep", "mand", "extra-dropped"),
      StructType(Seq(
        StructField("optstring0", StringType),
        StructField("mandstring", StringType),
        StructField("ignored", StringType))), out)
    assert(rec.get("optstring0").toString == "keep")
    assert(rec.get("optstring1") == null) // "this makes optstring1 nil"
    assert(rec.get("mandstring").toString == "mand")
  }

  test("7-way union: runtime type picks the branch (AllFieldTypesTest:125-174)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"a","type":["null","boolean","int","long","float","double","string"]}]}""")
    // encode a long: the single non-null member picks the branch
    val rec = encode(Row(Row(null, null, 42L, null, null, null)), s)
    assert(rec.get("a") == 42L)
    // decode side: the value lands in the right member slot
    assert(decode(rec).getStruct(0) == Row(null, null, 42L, null, null, null))
  }

  test("unresolvable union throws (AllFieldTypesTest:176-196)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"a","type":["int","string"]}]}""")
    intercept[UnresolvedUnionException] {
      // both members null, union has no null branch
      encode(Row(Row(null, null)), s)
    }
  }

  test("fixed values are length-validated eagerly (GenericData.Fixed " +
      "itself checks nothing; the writer would silently truncate)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"fx","type":{"type":"fixed","name":"Fx","size":4}}]}""")
    // exact size passes
    encode(Row(Array[Byte](1, 2, 3, 4)), s)
    // long input must throw, not silently truncate to 4 bytes on the wire
    val e = intercept[IllegalArgumentException] {
      encode(Row(Array.fill[Byte](16)(0)), s)
    }
    assert(e.getMessage.contains("4"))
    intercept[IllegalArgumentException] { // short input: would AIOOBE deep in the encoder
      encode(Row(Array[Byte](1, 2)), s)
    }
  }

  test("column-level decode/encode: from_avro/to_avro analogues") {
    import org.apache.spark.sql.functions.col
    val rec = new org.apache.avro.generic.GenericData.Record(allTypes)
    rec.put("boolean", false); rec.put("int", 7); rec.put("long", 9L)
    rec.put("float", 0.5f); rec.put("double", 0.25d); rec.put("string", "xyz")
    rec.put("strings", java.util.Arrays.asList("q"))
    rec.put("bananas", java.util.Collections.emptyList[Any]())
    val bytes = AvroBridge.serialize(rec)

    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(bytes)),
      StructType(Seq(StructField("value", BinaryType))))
    val decoded = df.select(AvroBridge.decodeAvro(col("value"), allTypes).as("value"))
    val row = decoded.collect()(0).getStruct(0)
    assert(row.getInt(1) == 7 && row.getString(5) == "xyz")

    // encode back and decode again: full wire round-trip in the plan
    val reencoded = decoded.select(AvroBridge.encodeAvro(col("value"), allTypes).as("value"))
      .select(AvroBridge.decodeAvro(col("value"), allTypes).as("value"))
    assert(reencoded.collect()(0).getStruct(0) == row)
  }
}
