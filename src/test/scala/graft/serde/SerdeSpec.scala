package graft.serde

import org.apache.avro.Schema
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.functions.BinaryCodec
import graft.types.AvroBridge

/** Port of the reference's serde-type matrix (TypeMappingTest.scala:12-79):
  * avro/avro, string/string, long/long, and void-key + avro-in/long-out —
  * each as a Kafka-shaped binary frame decoded, transformed, re-encoded. */
class SerdeSpec extends SparkSpecBase {

  private val kafkaShape = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType)))

  test("mapping type parsing (TypeConversions.scala:21-28,42-51)") {
    assert(MappingType.fromString("long") == LongMapping)
    assert(MappingType.fromString("string") == StringMapping)
    assert(MappingType.fromString("void") == VoidMapping)
    assert(KeyValueMapping.fromString("string") ==
      KeyValueMapping(VoidMapping, StringMapping)) // bare value => void key
    assert(KeyValueMapping.fromString("long,string") ==
      KeyValueMapping(LongMapping, StringMapping))
    intercept[IllegalArgumentException](MappingType.fromString("avro"))
    intercept[IllegalArgumentException](MappingType.fromString("protobuf"))
  }

  test("long/long: Kafka 8-byte big-endian codec (TypeMappingTest:48-62)") {
    val rows = Seq(5L, -1L, 0L, Long.MaxValue, Long.MinValue).map { v =>
      Row(BinaryCodec.longToBytes(v), BinaryCodec.longToBytes(v * 2))
    }
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, kafkaShape)
    val m = KeyValueMapping.fromString("long,long")
    val decoded = m.decode(df)
    assert(decoded.schema("key").dataType == LongType)
    val got = decoded.orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(5L, -1L, 0L, Long.MaxValue, Long.MinValue).map(v => (v, v * 2)).sortBy(_._1))
    // encode back round-trips bit-exactly
    val back = m.decode(m.encode(decoded)).orderBy("key").collect().map(_.getLong(0)).toSeq
    assert(back == Seq(5L, -1L, 0L, Long.MaxValue, Long.MinValue).sorted)
  }

  test("string/string decode+encode (TypeMappingTest:33-47)") {
    val rows = Seq(Row("k1".getBytes("UTF-8"), "v1".getBytes("UTF-8")))
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, kafkaShape)
    val m = KeyValueMapping.fromString("string,string")
    val out = m.decode(df).collect()(0)
    assert(out.getString(0) == "k1" && out.getString(1) == "v1")
  }

  test("void key + avro value -> long out (TypeMappingTest:63-79)") {
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"t","fields":[{"name":"n","type":"long"}]}""")
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("n", 123L)
    val rows = Seq(Row(null, AvroBridge.serialize(rec)))
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, kafkaShape)
    val in = KeyValueMapping(VoidMapping, AvroMapping(schema))
    val decoded = in.decode(df)
    // transform: value = value.n (avro-in, long-out)
    val transformed = decoded.select(col("key"), col("value").getField("n").as("value"))
    val outMapping = KeyValueMapping(VoidMapping, LongMapping)
    val wire = outMapping.encode(transformed).collect()(0)
    assert(wire.get(0) == null) // void key -> null binary
    assert(BinaryCodec.bytesToLong(wire.getAs[Array[Byte]](1)) == 123L)
  }

  test("binary codec expressions survive codegen (whole-stage path)") {
    val df = spark.range(1000).select(
      BinaryCodec.long_to_binary(col("id")).as("b"))
      .select(BinaryCodec.binary_to_long(col("b")).as("v"))
    assert(df.agg(sum("v")).collect()(0).getLong(0) == (0L until 1000L).sum)
  }

  test("strip_confluent_header: exactly-5-byte frame is a VALID empty " +
      "body (avro null / empty record); shorter or bad magic -> null") {
    val spark0 = spark
    import spark0.implicits._
    val frames = Seq(
      ("empty_body", Array[Byte](0, 0, 0, 0, 1)),         // magic + id, 0-byte body
      ("with_body", Array[Byte](0, 0, 0, 0, 1, 42)),      // 1-byte body
      ("too_short", Array[Byte](0, 0, 0, 0)),             // header truncated
      ("bad_magic", Array[Byte](1, 0, 0, 0, 1, 42))
    ).toDF("name", "frame")
    val out = frames.select(col("name"),
        BinaryCodec.strip_confluent_header(col("frame")).as("body"))
      .collect().map(r => r.getString(0) -> Option(r.getAs[Array[Byte]](1))).toMap
    assert(out("empty_body").exists(_.isEmpty)) // empty body, NOT null
    assert(out("with_body").exists(_.sameElements(Array[Byte](42))))
    assert(out("too_short").isEmpty)
    assert(out("bad_magic").isEmpty)
  }

  private val userSchema = new Schema.Parser().parse(
    """{"type":"record","name":"U","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"}]}"""
      .stripMargin)

  test("Confluent wire format: header literal, id extraction (unsigned " +
      "4-byte -> long), encode/decode round trip at a high id") {
    assert(BinaryCodec.confluentHeader(1).sameElements(
      Array[Byte](0, 0, 0, 0, 1)))
    assert(intercept[IllegalArgumentException](
      BinaryCodec.confluentHeader(-1)).getMessage.contains("non-negative"))
    val m = ConfluentAvroMapping(userSchema, schemaId = 123456)
    val spark0 = spark
    import spark0.implicits._
    // top bit of the 4-byte id field set -> must read UNSIGNED as long
    // (an ANSI int cast would throw): bytes 80 00 00 00 = 2147483648
    val topBit = Seq(Tuple1(Array[Byte](0, 0x80.toByte, 0, 0, 0)))
      .toDF("bin")
      .select(BinaryCodec.confluent_schema_id(col("bin")).as("sid"))
      .collect()(0).getLong(0)
    assert(topBit == 2147483648L)
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val enc = src.select(m.encode(struct(col("id"), col("name"))).as("bin"))
    val ids = enc.select(
      BinaryCodec.confluent_schema_id(col("bin")).as("sid"))
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(123456L, 123456L))
    val back = enc.select(m.decode(col("bin")).as("u"))
      .select(col("u.id"), col("u.name")).as[(Long, String)]
      .collect().toSeq.sorted
    assert(back == Seq((1L, "a"), (2L, "b")))
  }

  test("Confluent decode: wrong schema id, bad magic, truncated header " +
      "all -> NULL (drop-record), never a misdecoded body") {
    val m = ConfluentAvroMapping(userSchema, schemaId = 7)
    val spark0 = spark
    import spark0.implicits._
    val good = Seq((9L, "x")).toDF("id", "name")
      .select(m.encode(struct(col("id"), col("name"))).as("bin"))
      .collect()(0).getAs[Array[Byte]](0)
    val wrongId = good.clone(); wrongId(4) = 8 // id 7 -> 8, body intact
    val badMagic = good.clone(); badMagic(0) = 1
    val frames = Seq(
      ("good", good), ("wrong_id", wrongId), ("bad_magic", badMagic),
      ("truncated", good.take(4))).toDF("name", "frame")
    val out = frames.select(col("name"),
        m.decode(col("frame")).as("u"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(out == Map("good" -> false, "wrong_id" -> true,
      "bad_magic" -> true, "truncated" -> true))
  }

  private val eventSchema = new Schema.Parser().parse(
    """{"type":"record","name":"Event","fields":[
      |{"name":"id","type":"long"},
      |{"name":"kind","type":{"type":"enum","name":"Kind","symbols":["CLICK","REFUND"]}},
      |{"name":"user","type":{"type":"record","name":"User","fields":[
      |  {"name":"name","type":"string"}]}},
      |{"name":"amount_cents","type":["null","long"],"default":null},
      |{"name":"qty","type":"int"}]}""".stripMargin)

  private val restructuredSchema = new Schema.Parser().parse(
    """{"type":"record","name":"Out","fields":[
      |{"name":"id","type":"long"},{"name":"user","type":"string"},
      |{"name":"total_cents","type":["null","long"],"default":null}]}"""
      .stripMargin)

  private def avroDecodes(df: org.apache.spark.sql.DataFrame): Int =
    physicalPlan(df).collect { case p =>
      p.expressions.map(_.collect { case d: graft.types.AvroDecode => d }.size).sum
    }.sum

  test("decode -> filter -> mapValues -> encode decodes each frame once: " +
      "the filter on value.* fields is not pushed below the Avro decode") {
    val spark0 = spark
    import spark0.implicits._
    val in = ConfluentAvroMapping(eventSchema, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-once").toString
    Seq((1L, "CLICK", "ann", Some(250L), 2), (2L, "REFUND", "bob", None, 1),
        (3L, "CLICK", "eve", None, 4))
      .toDF("id", "kind", "name", "amount_cents", "qty")
      .select(BinaryCodec.long_to_binary(col("id")).as("key"),
        in.encode(struct(col("id"), col("kind"), struct(col("name")).as("user"),
          col("amount_cents"), col("qty"))).as("value"))
      .write.mode("overwrite").parquet(dir)
    val pipeline = graft.runtime.GraftScript.parse(
      "filter value is not null and value.kind <> 'REFUND'\n" +
        "mapValues named_struct('id', value.id, 'user', upper(value.user.name), " +
        "'total_cents', value.amount_cents * value.qty)\n")
    val kvIn = KeyValueMapping(LongMapping, in)
    val kvOut = KeyValueMapping(LongMapping, ConfluentAvroMapping(restructuredSchema, 4))
    val out = kvOut.encode(pipeline.compile(kvIn.decode(spark.read.parquet(dir))))
    assert(avroDecodes(out) == 1)
    val back = kvOut.decode(out).select(col("value.*")).as[(Long, String, Option[Long])]
      .collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, "ANN", Some(500L)), (3L, "EVE", None)))
  }

  test("only an Avro side puts the decode under a barrier") {
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), kafkaShape)
    def barriers(kv: KeyValueMapping): Int =
      kv.decode(df).queryExecution.analyzed.collect { case b: DecodeBarrier => b }.size
    assert(barriers(KeyValueMapping.fromString("long,string")) == 0)
    assert(barriers(KeyValueMapping(VoidMapping, StringMapping)) == 0)
    assert(barriers(KeyValueMapping(LongMapping, AvroMapping(userSchema))) == 1)
    assert(barriers(KeyValueMapping(LongMapping, ConfluentAvroMapping(userSchema, 7))) == 1)
  }

  test("avro=file@id parses to the framed mapping; registry snapshot " +
      "directory binds by id (FileSchemaRegistry)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reg")
    java.nio.file.Files.writeString(dir.resolve("schema.avsc"),
      userSchema.toString)
    MappingType.fromString(s"avro=$dir/schema.avsc@42") match {
      case ConfluentAvroMapping(sch, 42) => assert(sch == userSchema)
      case other => fail(s"expected framed mapping, got $other")
    }
    MappingType.fromString(s"avro=$dir/schema.avsc") match {
      case AvroMapping(sch) => assert(sch == userSchema)
      case other => fail(s"expected plain mapping, got $other")
    }
    // registry snapshot: <id>.avsc files; non-numeric names ignored
    java.nio.file.Files.writeString(dir.resolve("42.avsc"),
      userSchema.toString)
    val reg = FileSchemaRegistry(dir.toString)
    assert(reg.schemaById(42).contains(userSchema))
    assert(reg.schemaById(41).isEmpty)
    assert(ConfluentAvroMapping.fromRegistry(reg, 42) ==
      ConfluentAvroMapping(userSchema, 42))
    assert(intercept[IllegalArgumentException](
      ConfluentAvroMapping.fromRegistry(reg, 99)).getMessage.contains("99"))
  }
}
