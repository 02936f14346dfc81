package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.functions.TimeFunctions
import graft.runtime.GoldenFile

/** Ports of the reference's three worked examples (executable specs,
  * SURVEY §2.4) and the 7-step chaining suite
  * (ChainingOperationsTest.scala:9-49). Same inputs, same outputs, same
  * drop behavior — via the golden pre-pass compare
  * ([[GoldenFile.compare]]), i.e. each test also exercises the
  * `forInputs/expectOutputs` pre-pass semantics. That compare matches
  * fields by name, so every expected frame carries an explicit schema. */
class PipelineSpec extends SparkSpecBase {

  private def frame(schema: StructType, rows: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def kv(key: DataType, value: DataType) = StructType(Seq(
    StructField("key", key), StructField("value", value)))

  // --- demo example: Avro->Avro mapValues restructure -------------------
  // reference: examples/demo/example.lua:1-7, example.test.lua:1-31

  private val undesired = StructType(Seq(
    StructField("redundantField", LongType),
    StructField("notValid", BooleanType),
    StructField("fingers_lh", LongType),
    StructField("fingers_rh", LongType),
    StructField("person", StructType(Seq(
      StructField("name", StringType),
      StructField("species", StringType))))))

  private def demoInput(red: Long, notValid: Boolean, lh: Long, rh: Long,
      name: String, species: String): Row =
    Row(null, Row(red, notValid, lh, rh, Row(name, species)))

  test("demo: restructure (valid = !notValid, name lowered, fingers = lh+rh)") {
    val pipe = Pipeline().mapValues(v => struct(
      (!v.getField("notValid")).as("valid"),
      lower(v.getField("person").getField("name")).as("name"),
      (v.getField("fingers_lh") + v.getField("fingers_rh")).as("fingers")))
    val desired = StructType(Seq(StructField("valid", BooleanType),
      StructField("name", StringType), StructField("fingers", LongType)))
    val out = GoldenFile.compare(pipe,
      frame(kv(NullType, undesired),
        demoInput(42, false, 5, 5, "Roel", "homo sapiens"),
        demoInput(43, true, 5, 6, "Ewout", "homo sapiens")),
      frame(kv(NullType, desired),
        Row(null, Row(true, "roel", 5L + 5L)),
        Row(null, Row(false, "ewout", 11L))))
    assert(out == Right(2))
  }

  test("golden mismatch is detected and refuses (pre-pass semantics)") {
    val pipe = Pipeline().mapValues(v => struct(
      (!v.getField("notValid")).as("valid")))
    val out = GoldenFile.compare(pipe,
      frame(kv(NullType, undesired), demoInput(42, false, 5, 5, "Roel", "x")),
      frame(kv(NullType, StructType(Seq(StructField("valid", BooleanType)))),
        Row(null, Row(false)))) // wrong: should be true
    assert(out.left.exists(_.contains("record 0 mismatch")), out)
  }

  // --- time example: string,string -> long,long with drop ---------------
  // reference: examples/time/example.lua:6-12, example.test.lua:1-14

  test("time: ISO key -> unix millis, numeric value kept, unparsable dropped") {
    val pipe = Pipeline()
      .filter((_, v) => v.try_cast(LongType).isNotNull)
      .map((k, v) => (TimeFunctions.iso8601ToUnixMillis(k), v.try_cast(LongType)))
    val out = GoldenFile.compare(pipe,
      frame(kv(StringType, StringType),
        Row("2016-05-13T16:43:12.345+00:00", "42"),
        Row("2014-11-24T23:16:42.345+01:00", "three"), // dropped
        Row("2016-05-13T16:43:13.37Z", "37")),
      frame(kv(LongType, LongType),
        Row(1463157792345L, 42L),
        Row(1463157793370L, 37L)))
    assert(out == Right(2), out)
  }

  // --- csv example: string -> struct with nullable field, 3 drops -------
  // reference: examples/csv/example.lua:1-20, example.test.lua:1-26

  test("csv: parse line, arity filter, nullable blog, tonumber cast") {
    val pipe = Pipeline()
      .mapValues(v => split(v, ",", -1))
      .filter((_, v) => size(v) === 4 && element_at(v, 4).try_cast(LongType).isNotNull)
      .mapValues(v => struct(
        element_at(v, 1).as("login"),
        element_at(v, 2).as("created_at"),
        when(element_at(v, 3) === "", lit(null)).otherwise(element_at(v, 3)).as("blog"),
        element_at(v, 4).try_cast(LongType).as("public_repos")))
    val user = StructType(Seq("login", "created_at", "blog")
      .map(StructField(_, StringType)) :+ StructField("public_repos", LongType))
    val out = GoldenFile.compare(pipe,
      frame(kv(NullType, StringType),
        Row(null, "rollulus,2015-01-14T07:36:24Z,https://keybase.io/rollulus,8"),
        Row(null, "eneco,2012-09-13T09:16:29Z,,4"),
        Row(null, "not,enough,columns"),
        Row(null, ""),
        Row(null, "a,b,c,notanumber")),
      frame(kv(NullType, user),
        Row(null, Row("rollulus", "2015-01-14T07:36:24Z", "https://keybase.io/rollulus", 8L)),
        Row(null, Row("eneco", "2012-09-13T09:16:29Z", null, 4L))))
    assert(out == Right(2), out)
  }

  // --- chaining: 7-step chain, key predicates, all drop paths -----------
  // reference: ChainingOperationsTest.scala:9-49 — in t(i INT), out t(j INT),
  // key STRING; chain: mapValues -> filter -> mapValues -> filter -> filter
  // -> map -> filter with 4 negative cases.

  test("chaining: 7-step chain with key-based predicates and drops") {
    val pipe = Pipeline()
      .mapValues(v => struct((v.getField("i") * 2).as("i")))
      .filter((_, v) => v.getField("i") =!= 0)
      .mapValues(v => struct((v.getField("i") + 1).as("i")))
      .filter((k, _) => length(k) === 5)
      .filter((k, _) => substring(k, 5, 1) === "O") // k:byte(-1)==79 i.e. 'O'
      .map((k, v) => (upper(k), struct(v.getField("i").as("j"))))
      .filter((_, v) => v.getField("j") > 0)
    val out = GoldenFile.compare(pipe,
      frame(kv(StringType, StructType(Seq(StructField("i", IntegerType)))),
        Row("helloO", Row(3)),   // dropped: length 6
        Row("heyO", Row(3)),     // dropped: length 4
        Row("helUo", Row(3)),    // dropped: last char not O
        Row("hellO", Row(0)),    // dropped: i*2 == 0
        Row("hellO", Row(-3)),   // dropped: j = -5 < 0
        Row("hellO", Row(3))),   // kept: -> ("HELLO", j=7)
      frame(kv(StringType, StructType(Seq(StructField("j", IntegerType)))),
        Row("HELLO", Row(7))))
    assert(out == Right(1), out)
  }

  // --- typed lambda path -----------------------------------------------

  test("typed pipeline: lambda chain with type change and drops") {
    import spark.implicits._
    val ds = Seq(("2016-05-13T16:43:12.345+00:00", "42"),
      ("bad", "three"), ("2016-05-13T16:43:13.37Z", "37")).toDS()
    val out = TypedPipeline[String, String]()
      .flatMapOpt { (k, v) =>
        for {
          n <- v.toLongOption
          ts <- scala.util.Try(java.time.OffsetDateTime.parse(k).toInstant.toEpochMilli).toOption
        } yield (ts, n)
      }
      .filter((_, v) => v > 0)
      .run(ds)
      .collect().toSeq
    assert(out == Seq((1463157792345L, 42L), (1463157793370L, 37L)))
  }
}
