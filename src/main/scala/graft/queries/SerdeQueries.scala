package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.functions.BinaryCodec
import graft.serde.{AvroMapping, ConfluentAvroMapping, StringMapping, VoidMapping}
import graft.types.AvroBridge

/** Wire serdes round-tripped through the Spark plan (long, string,
  * void, Avro and Confluent-framed Avro), and the output schema applied
  * as a projection. */
object SerdeQueries {

  /** Avro schema used by the serde round-trip query. */
  private val eventSchemaJson =
    """{"type":"record","name":"Event","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"}]}""".stripMargin

  private def eventSchema = new org.apache.avro.Schema.Parser().parse(eventSchemaJson)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_serde_long", (s, dir) => {
      t(s, dir, "lineitem")
        .select(BinaryCodec.binary_to_long(
          BinaryCodec.long_to_binary(col("l_orderkey"))).as("okey"),
          col("l_linenumber").cast(LongType).as("lnum"))
        .orderBy("okey", "lnum")
    },
    () =>
      "SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum FROM lineitem ORDER BY okey, lnum"),
    QuerySpec("q_serde_string", (s, dir) => {
      val frame = t(s, dir, "events")
        .select(col("event_id").as("key"), col("event_type").as("value"))
      val enc = frame.select(col("key"),
        StringMapping.encode(col("value")).as("value"))
      enc.select(col("key"), StringMapping.decode(col("value")).as("value"))
        .orderBy("key")
    },
    () =>
      "SELECT event_id AS key, event_type AS value FROM events ORDER BY key"),
    QuerySpec("q_serde_avro", (s, dir) => {
      val m = AvroMapping(eventSchema)
      val enc = t(s, dir, "events")
        .select(m.encode(struct(col("event_id"), col("event_type"),
          col("value"))).as("bin"))
      enc.select(m.decode(col("bin")).as("e"))
        .select(col("e.event_id").as("event_id"),
          col("e.event_type").as("event_type"), col("e.value").as("value"))
        .orderBy("event_id")
    },
    () =>
      """SELECT event_id, event_type, "value" FROM events ORDER BY event_id"""),
    QuerySpec("q_serde_confluent", (s, dir) => {
      // Confluent wire-format round trip (ConfluentAvroMapping):
      // events encode to magic 0x00 + 4-byte BE schema id + Avro body,
      // then every 97th frame is CORRUPTED (magic flipped to 0x01 —
      // what a non-framed producer on the topic looks like) before
      // decoding. Malformed frames surface as NULL (the engine's
      // drop-record semantics, q_drop_cast's contract) and are
      // filtered, never a misdecoded body. Framing is pure codegen'd
      // concat/substring around the Avro codec — one narrow scan, the
      // registry is consulted only at plan time.
      val m = ConfluentAvroMapping(eventSchema, schemaId = 7)
      val enc = t(s, dir, "events")
        .select(col("event_id").as("id0"),
          m.encode(struct(col("event_id"), col("event_type"),
            col("value"))).as("bin"))
      val tampered = enc.select(
        when(col("id0") % 97 === 0,
            concat(lit(Array[Byte](1)), substring(col("bin"), 2, Int.MaxValue)))
          .otherwise(col("bin")).as("bin"))
      tampered.select(m.decode(col("bin")).as("e"))
        .where(col("e").isNotNull)
        .select(col("e.event_id").as("event_id"),
          col("e.event_type").as("event_type"), col("e.value").as("value"))
        .orderBy("event_id")
    },
    () =>
      """SELECT event_id, event_type, "value" FROM events
         WHERE event_id % 97 <> 0 ORDER BY event_id"""),
    QuerySpec("q_serde_void", (s, dir) => {
      t(s, dir, "events")
        .select(VoidMapping.decode(col("props")).cast(StringType).as("key"),
          col("event_id"))
        .orderBy("event_id")
    },
    () =>
      "SELECT CAST(NULL AS VARCHAR) AS key, event_id FROM events ORDER BY event_id"),
    QuerySpec("q_projection", (s, dir) => {
      val target = StructType(Seq(
        StructField("event_type", StringType),
        StructField("extra", DoubleType)))
      val df = t(s, dir, "events").select(col("event_id"),
        struct(col("event_type"), col("value")).as("v"))
      AvroBridge.projectValueTo(df, "v", target)
        .select(col("event_id"), col("v.event_type").as("event_type"),
          col("v.extra").as("extra"))
        .orderBy("event_id")
    },
    () =>
      "SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS extra FROM events ORDER BY event_id")
  )
}
