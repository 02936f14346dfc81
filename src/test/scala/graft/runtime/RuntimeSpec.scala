package graft.runtime

import java.nio.file.Files

import org.apache.avro.Schema
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpecBase
import graft.serde.{AvroMapping, ConfluentAvroMapping}

/** End-to-end runtime tests: the three reference worked examples (demo,
  * time, csv — SURVEY §2.4) run through the REAL CLI surface
  * ([[Main.run]]), goldens gating startup, serdes applied, batch and
  * streaming paths. */
class RuntimeSpec extends SparkSpecBase with Matchers {

  private val ex = new java.io.File("examples").getAbsolutePath
  private def tmp(): String =
    Files.createTempDirectory("graft-rt").toString

  private def avroSchema(path: String): Schema =
    new Schema.Parser().parse(new java.io.File(path))

  // ------------------------------------------------------------ dry-runs

  test("all three example goldens verify via --dry-run (exit 0)") {
    for (name <- Seq("demo", "time", "csv")) {
      withClue(name) {
        Main.run(spark, Array("-l", s"$ex/$name/pipeline.graft",
          "-t", s"$ex/$name/golden.json", "-D")) shouldBe 0
      }
    }
  }

  test("golden mismatch refuses startup (exit 1)") {
    val bad = Files.createTempFile("golden-bad", ".json")
    Files.writeString(bad,
      """{"inputs": [{"key": "2016-05-13T16:43:12.345+00:00", "value": "42"}],
        |"expected": [{"key": 1, "value": 999}]}""".stripMargin)
    Main.run(spark, Array("-l", s"$ex/time/pipeline.graft",
      "-t", bad.toString, "-D")) shouldBe 1
  }

  test("golden numeric compare is value-based (luaj parity): int 5 " +
      "matches golden 5 AND 5.0; a different value still fails") {
    val script = Files.createTempFile("width", ".graft")
    // cast to INT: the actual output row carries Integer, while golden
    // JSON numbers parse as Long/Double — equal VALUES must match
    // regardless of width or integral/fractional (the reference's luaj
    // deepEq coerces 1 == 1.0); unequal values must still refuse.
    Files.writeString(script, "mapValues cast(value as int)\n")
    val g = Files.createTempFile("golden-width", ".json")
    Files.writeString(g,
      """{"inputs": [{"value": "5"}], "expected": [{"value": 5}]}""")
    Main.run(spark, Array("-l", script.toString,
      "-t", g.toString, "-D")) shouldBe 0
    val g2 = Files.createTempFile("golden-width2", ".json")
    Files.writeString(g2,
      """{"inputs": [{"value": "5"}], "expected": [{"value": 5.0}]}""")
    Main.run(spark, Array("-l", script.toString,
      "-t", g2.toString, "-D")) shouldBe 0
    val g3 = Files.createTempFile("golden-width3", ".json")
    Files.writeString(g3,
      """{"inputs": [{"value": "5"}], "expected": [{"value": 5.5}]}""")
    Main.run(spark, Array("-l", script.toString,
      "-t", g3.toString, "-D")) shouldBe 1
  }

  test("usage errors exit 2") {
    Main.run(spark, Array("-t", "x.json", "-D")) shouldBe 2 // no -l
    Main.run(spark, Array("-l", "p.graft")) shouldBe 2      // no -i/-o
    Main.run(spark, Array("--bogus")) shouldBe 2
    // input errors are usage errors too, not exceptions: a script that
    // does not parse, bad -d/-s declarations, missing -l/-t/-p/.avsc files
    val io = Array("-i", s"$ex/time/input", "-o", tmp() + "/out")
    val bad = Files.createTempFile("bad", ".graft")
    Files.writeString(bad, "explode value\n")
    Main.run(spark, io ++ Array("-l", bad.toString)) shouldBe 2
    val time = Array("-l", s"$ex/time/pipeline.graft")
    Main.run(spark, io ++ time ++ Array("-d", "bogus")) shouldBe 2
    Main.run(spark, io ++ time ++ Array("-s", "long,long,long")) shouldBe 2
    // serdes parse before the golden pre-pass, so a dry run checks them
    Main.run(spark, time ++ Array("-t", s"$ex/time/golden.json", "-D",
      "-s", "bogus")) shouldBe 2
    Main.run(spark, io ++ Array("-l", "/nonexistent/p.graft")) shouldBe 2
    Main.run(spark, time ++ Array("-t", "/nonexistent/g.json", "-D")) shouldBe 2
    Main.run(spark, io ++ time ++ Array("-p", "/nonexistent/g.properties")) shouldBe 2
    Main.run(spark, io ++ time ++ Array("-s", "avro=/nonexistent/s.avsc")) shouldBe 2
    val badAvsc = Files.createTempFile("bad", ".avsc")
    Files.writeString(badAvsc, "{not a schema")
    Main.run(spark, io ++ time ++ Array("-s", s"avro=$badAvsc")) shouldBe 2
    // stream-only flags without --stream would be silently ignored
    Main.run(spark, io ++ time :+ "--once") shouldBe 2
    Main.run(spark, io ++ time ++ Array("--checkpoint", tmp())) shouldBe 2
  }

  test("unknown input/output formats are usage errors (exit 2), not crashes") {
    val p = Files.createTempFile("graft", ".properties")
    Files.writeString(p, "graft.input.format=xml\n")
    Main.run(spark, Array("-i", s"$ex/time/input", "-o", tmp() + "/out",
      "-l", s"$ex/time/pipeline.graft", "-p", p.toString)) shouldBe 2
    val p2 = Files.createTempFile("graft", ".properties")
    Files.writeString(p2, "graft.output.format=orcish\n")
    Main.run(spark, Array("-i", s"$ex/time/input", "-o", tmp() + "/out",
      "-l", s"$ex/time/pipeline.graft", "-p", p2.toString)) shouldBe 2
  }

  test("an empty `expected` array asserts all-inputs-drop without crashing") {
    val g = Files.createTempFile("golden-empty", ".json")
    // time pipeline drops unparsable values: expect zero outputs.
    Files.writeString(g,
      """{"inputs": [{"key": "2016-05-13T16:43:12.345+00:00", "value": "unparsable"}],
        |"expected": []}""".stripMargin)
    Main.run(spark, Array("-l", s"$ex/time/pipeline.graft",
      "-t", g.toString, "-D")) shouldBe 0
    // ...and a record where zero outputs were NOT expected still fails.
    val g2 = Files.createTempFile("golden-empty2", ".json")
    Files.writeString(g2,
      """{"inputs": [{"key": "2016-05-13T16:43:12.345+00:00", "value": "42"}],
        |"expected": []}""".stripMargin)
    Main.run(spark, Array("-l", s"$ex/time/pipeline.graft",
      "-t", g2.toString, "-D")) shouldBe 1
  }

  // ------------------------------------------------------------- batch

  test("demo end-to-end: json -> pipeline -> avro-encoded parquet") {
    val out = tmp() + "/out"
    Main.run(spark, Array(
      "-i", s"$ex/demo/input", "-o", out,
      "-l", s"$ex/demo/pipeline.graft",
      "-t", s"$ex/demo/golden.json",
      "-s", s"avro=$ex/demo/desired.avsc")) shouldBe 0
    val m = AvroMapping(avroSchema(s"$ex/demo/desired.avsc"))
    val back = spark.read.parquet(out)
      .select(m.decode(col("value")).as("v")).select("v.*")
      .orderBy("name")
    val rows = back.collect()
    rows.map(_.getAs[String]("name")).toSeq shouldBe Seq("roel", "roelll")
    rows.map(_.getAs[Boolean]("valid")).toSeq shouldBe Seq(false, true)
    rows.map(_.getAs[Long]("fingers")).toSeq shouldBe Seq(14L, 4L)
  }

  test("registry-framed end-to-end: Confluent wire-format parquet in, " +
      "avro=<file>@<id> decode through the CLI, re-framed on encode; a " +
      "foreign-id frame drops instead of misdecoding") {
    // Build the framed input the way a registry producer would: Avro
    // body behind magic 0x00 + 4-byte BE schema id. One frame carries a
    // DIFFERENT id (99) — a foreign producer on the topic; the declared
    // id-7 serde must drop it (NULL decode), not misread its body.
    import spark.implicits._
    val schemaFile = Files.createTempFile("user", ".avsc")
    Files.writeString(schemaFile,
      """{"type":"record","name":"U","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"}]}"""
        .stripMargin)
    val m7 = ConfluentAvroMapping(avroSchema(schemaFile.toString), 7)
    val m99 = ConfluentAvroMapping(avroSchema(schemaFile.toString), 99)
    val in = tmp() + "/in"
    Seq((1L, "ann", 7), (2L, "bob", 7), (3L, "eve", 99))
      .toDF("id", "name", "sid")
      .select(when(col("sid") === 7,
          m7.encode(struct(col("id"), col("name"))))
        .otherwise(m99.encode(struct(col("id"), col("name"))))
        .as("value"))
      .write.parquet(in)
    val script = Files.createTempFile("reg", ".graft")
    // value is the decoded U struct; drop-record semantics prune the
    // foreign frame's NULL before the step ever sees it
    Files.writeString(script,
      "filter value is not null\n" +
        "mapValues named_struct('id', value.id * 10, 'name', upper(value.name))\n")
    val out = tmp() + "/out"
    Main.run(spark, Array(
      "-i", in, "-o", out,
      "-l", script.toString,
      "-d", s"avro=$schemaFile@7",
      "-s", s"avro=$schemaFile@7")) shouldBe 0
    val frames = spark.read.parquet(out).select(col("value")).collect()
      .map(_.getAs[Array[Byte]](0))
    // every output frame is re-framed under id 7
    frames.foreach { f =>
      f.take(5).toSeq shouldBe Seq[Byte](0, 0, 0, 0, 7)
    }
    val back = spark.read.parquet(out)
      .select(m7.decode(col("value")).as("v")).select("v.*")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    back shouldBe Seq((10L, "ANN"), (20L, "BOB")) // id-99 frame dropped
  }

  /** The demo's input records (examples/demo/golden.json) as an Avro
    * schema, for registry-framed demo input. */
  private lazy val demoInSchema: String = {
    val f = Files.createTempFile("demo-in", ".avsc")
    Files.writeString(f,
      """{"type":"record","name":"DemoIn","fields":[
        |{"name":"redundantField","type":"long"},
        |{"name":"notValid","type":"boolean"},
        |{"name":"person","type":{"type":"record","name":"Person","fields":[
        |  {"name":"name","type":"string"},{"name":"species","type":"string"}]}},
        |{"name":"fingers_lh","type":"long"},{"name":"fingers_rh","type":"long"}]}"""
        .stripMargin)
    f.toString
  }

  /** Registry-framed demo input: keys 1 and 2 are the golden's two
    * records under id 7, key 3 is framed under the foreign id 99, and
    * with `tombstone` key 4 has a null value. */
  private def demoFrames(tombstone: Boolean): String = {
    import spark.implicits._
    val schema = avroSchema(demoInSchema)
    val (m7, m99) = (ConfluentAvroMapping(schema, 7), ConfluentAvroMapping(schema, 99))
    val recs = Seq((1L, 7L, true, "roEl", 7L, 7L), (2L, 127L, false, "ROELLL", 1L, 3L),
        (3L, 5L, false, "Foreign", 2L, 2L))
      .toDF("k", "redundantField", "notValid", "name", "fingers_lh", "fingers_rh")
    val body = struct(col("redundantField"), col("notValid"),
      struct(col("name"), lit("human").as("species")).as("person"),
      col("fingers_lh"), col("fingers_rh"))
    val framed = recs.select(
      graft.functions.BinaryCodec.long_to_binary(col("k")).as("key"),
      when(col("k") === 3L, m99.encode(body)).otherwise(m7.encode(body)).as("value"))
    val tomb = Seq(Tuple1(4L)).toDF("k").select(
      graft.functions.BinaryCodec.long_to_binary(col("k")).as("key"),
      lit(null).cast("binary").as("value"))
    val in = tmp() + "/in"
    (if (tombstone) framed.union(tomb) else framed).write.parquet(in)
    in
  }

  private def demoOut(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] = {
    val m = ConfluentAvroMapping(avroSchema(s"$ex/demo/desired.avsc"), 8)
    df.select(
        graft.functions.BinaryCodec.binary_to_long(col("key")).as("k"),
        m.decode(col("value")).as("v"))
      .collect().toSeq.map(r => (r.getLong(0), String.valueOf(r.get(1)))).sortBy(_._1)
  }

  test("demo over registry-framed input drops the foreign-id frame ahead " +
      "of the chain and keeps a tombstone as a null value") {
    val demo = Array("-d", s"long,avro=$demoInSchema@7",
      "-s", s"long,avro=$ex/demo/desired.avsc@8")
    val out = tmp() + "/out"
    Main.run(spark, Array("-i", demoFrames(tombstone = false), "-o", out,
      "-l", s"$ex/demo/pipeline.graft") ++ demo) shouldBe 0
    demoOut(spark.read.parquet(out)) shouldBe Seq((1L, "[false,roel,14]"), (2L, "[true,roelll,4]"))
    // The demo's mapValues makes a struct of nulls from a tombstone,
    // which its output schema refuses; an identity script passes it on.
    val identity = Files.createTempFile("identity", ".graft")
    Files.writeString(identity, "mapValues value\n")
    val out2 = tmp() + "/out"
    Main.run(spark, Array("-i", demoFrames(tombstone = true), "-o", out2,
      "-l", identity.toString, "-d", s"long,avro=$demoInSchema@7",
      "-s", s"long,avro=$demoInSchema@7")) shouldBe 0
    val m7 = ConfluentAvroMapping(avroSchema(demoInSchema), 7)
    spark.read.parquet(out2).select(
        graft.functions.BinaryCodec.binary_to_long(col("key")).as("k"),
        m7.decode(col("value")).getField("person").getField("name").as("name"))
      .collect().toSeq.map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1) shouldBe
      Seq((1L, Some("roEl")), (2L, Some("ROELLL")), (4L, None))
  }

  test("time end-to-end: json -> pipeline -> long,long binary frame") {
    val out = tmp() + "/out"
    Main.run(spark, Array(
      "-i", s"$ex/time/input", "-o", out,
      "-l", s"$ex/time/pipeline.graft",
      "-t", s"$ex/time/golden.json",
      "-s", "long,long")) shouldBe 0
    val back = spark.read.parquet(out).select(
        graft.functions.BinaryCodec.binary_to_long(col("key")).as("k"),
        graft.functions.BinaryCodec.binary_to_long(col("value")).as("v"))
      .orderBy("k").collect()
    back.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1463157792345L, 42L), (1463157793370L, 37L))
  }

  test("csv end-to-end: raw text lines -> pipeline -> avro with nullable blog") {
    val out = tmp() + "/out"
    Main.run(spark, Array(
      "-i", s"$ex/csv/input", "-o", out,
      "-l", s"$ex/csv/pipeline.graft",
      "-t", s"$ex/csv/golden.json",
      "-s", s"avro=$ex/csv/schema.avsc")) shouldBe 0
    val m = AvroMapping(avroSchema(s"$ex/csv/schema.avsc"))
    val back = spark.read.parquet(out)
      .select(m.decode(col("value")).as("v")).select("v.*").orderBy("login")
    val rows = back.collect()
    rows.map(_.getAs[String]("login")).toSeq shouldBe Seq("dudebowski", "rollulus")
    rows.head.isNullAt(rows.head.fieldIndex("blog")) shouldBe true
    rows(1).getAs[String]("blog") shouldBe "https://keybase.io/rollulus"
    rows.map(_.getAs[Long]("public_repos")).toSeq shouldBe Seq(2L, 8L)
  }

  test("properties file merges (later wins) and spark.* keys hit the conf") {
    val p1 = Files.createTempFile("graft", ".properties")
    val p2 = Files.createTempFile("graft", ".properties")
    Files.writeString(p1, "graft.output.format=json\nspark.graft.test.flag=a\n")
    Files.writeString(p2, "spark.graft.test.flag=b\n")
    val props = Main.loadProperties(Seq(p1.toString, p2.toString))
    props.getProperty("graft.output.format") shouldBe "json"
    props.getProperty("spark.graft.test.flag") shouldBe "b"
  }

  // ----------------------------------------------------------- streaming

  test("streaming --once processes available files then stops; matches batch") {
    val out = tmp() + "/out"
    Main.run(spark, Array(
      "-i", s"$ex/time/input", "-o", out,
      "-l", s"$ex/time/pipeline.graft",
      "-s", "long,long",
      "--stream", "--once", "--checkpoint", tmp() + "/ckpt")) shouldBe 0
    val back = spark.read.parquet(out).select(
        graft.functions.BinaryCodec.binary_to_long(col("key")).as("k"),
        graft.functions.BinaryCodec.binary_to_long(col("value")).as("v"))
      .orderBy("k").collect()
    back.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1463157792345L, 42L), (1463157793370L, 37L))
  }

  /** Runs `argv` in batch and as `--stream --once`, each to a fresh
    * parquet output; both must exit 0. Returns each output's `decode`d
    * rows, sorted. */
  private def batchAndStream(argv: Array[String],
      decode: org.apache.spark.sql.DataFrame => Seq[String]): (Seq[String], Seq[String]) = {
    val (batch, stream) = (tmp() + "/batch", tmp() + "/stream")
    Main.run(spark, argv ++ Array("-o", batch)) shouldBe 0
    Main.run(spark, argv ++ Array("-o", stream,
      "--stream", "--once", "--checkpoint", tmp() + "/ckpt")) shouldBe 0
    (decode(spark.read.parquet(batch)).sorted, decode(spark.read.parquet(stream)).sorted)
  }

  test("streaming a text source matches batch (csv example, avro sink)") {
    val m = AvroMapping(avroSchema(s"$ex/csv/schema.avsc"))
    val (batch, stream) = batchAndStream(Array("-i", s"$ex/csv/input",
      "-l", s"$ex/csv/pipeline.graft", "-s", s"avro=$ex/csv/schema.avsc"),
      _.select(m.decode(col("value")).as("v")).select("v.*").collect().toSeq.map(_.toString))
    batch shouldBe Seq("[dudebowski,2012-09-03T11:33:46Z,null,2]",
      "[rollulus,2015-01-14T07:36:24Z,https://keybase.io/rollulus,8]")
    stream shouldBe batch
  }

  test("streaming a registry-framed Avro source matches batch (the decode " +
      "barrier inside a streaming query)") {
    val script = Files.createTempFile("demo-filter", ".graft")
    Files.writeString(script, "filter value.fingers_lh + value.fingers_rh > 4\n" +
      Files.readString(java.nio.file.Paths.get(s"$ex/demo/pipeline.graft")))
    val (batch, stream) = batchAndStream(Array("-i", demoFrames(tombstone = false),
      "-l", script.toString, "-d", s"long,avro=$demoInSchema@7",
      "-s", s"long,avro=$ex/demo/desired.avsc@8"),
      demoOut(_).map(_.toString))
    batch shouldBe Seq("(1,[false,roel,14])")
    stream shouldBe batch
  }

  test("streaming a csv source with a header row matches batch") {
    val in = tmp()
    Files.writeString(java.nio.file.Paths.get(in, "people.csv"),
      "name,age\nann,31\nbob,x\ncarol,5\n")
    val script = Files.createTempFile("csv-header", ".graft")
    Files.writeString(script,
      "filter try_cast(value.age as long) is not null\n" +
        "mapValues named_struct('name', upper(value.name), 'age', try_cast(value.age as long))\n")
    val (batch, stream) = batchAndStream(Array("-i", in, "-l", script.toString),
      _.select("value.*").collect().toSeq.map(_.toString))
    batch shouldBe Seq("[ANN,31]", "[CAROL,5]") // the header row is no record
    stream shouldBe batch
  }

  test("SIGTERM drains a running stream without a shutdown-hook error") {
    // A forked CLI JVM streams examples/time until its first committed
    // micro-batch, then gets SIGTERM. The shutdown hook stops the query
    // before Spark's own hook or Main.main stops the SparkContext; Main
    // must not then try to remove that hook, which is refused once
    // shutdown is in progress.
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toIndexedSeq
    val opens = jvmArgs.indices.flatMap { i =>
      if (jvmArgs(i).startsWith("--add-opens=")) Seq(jvmArgs(i))
      else if (jvmArgs(i) == "--add-opens") jvmArgs.slice(i, i + 2)
      else Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g",
      "-Dspark.master=local[2]", "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.runtime.Main",
        "-i", s"$ex/time/input", "-o", s"$dir/out",
        "-l", s"$ex/time/pipeline.graft", "-s", "long,long",
        "--stream", "--checkpoint", s"$dir/ckpt")
    val stderr = new java.io.File(dir, "stderr.txt")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectOutput(new java.io.File(dir, "stdout.txt"))
      .redirectError(stderr).start()
    try {
      val committed = new java.io.File(s"$dir/ckpt/commits/0")
      val deadline = System.currentTimeMillis() + 120000
      while (!committed.exists() && proc.isAlive && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      withClue(Files.readString(stderr.toPath)) { committed.exists() shouldBe true }
      proc.destroy() // SIGTERM
      proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally if (proc.isAlive) proc.destroyForcibly().waitFor()
    Files.readString(stderr.toPath).linesIterator.filter(l =>
      l.contains("Shutdown in progress") || l.contains("on a stopped SparkContext")).toSeq shouldBe empty
  }

  test("golden mismatch refuses to start the STREAMING path specifically") {
    val bad = Files.createTempFile("golden-bad-stream", ".json")
    Files.writeString(bad,
      """{"inputs": [{"key": "2016-05-13T16:43:12.345+00:00", "value": "42"}],
        |"expected": [{"key": 1, "value": 999}]}""".stripMargin)
    val out = tmp() + "/out"
    Main.run(spark, Array(
      "-i", s"$ex/time/input", "-o", out,
      "-l", s"$ex/time/pipeline.graft",
      "-t", bad.toString,
      "-s", "long,long",
      "--stream", "--once", "--checkpoint", tmp() + "/ckpt")) shouldBe 1
    new java.io.File(out).exists() shouldBe false // no sink output started
  }

  test("text output sink writes the value column as lines") {
    val out = tmp() + "/out"
    val p = Files.createTempFile("graft", ".properties")
    Files.writeString(p, "graft.output.format=text\n")
    val script = Files.createTempFile("graft", ".graft")
    Files.writeString(script, "filter value is not null\n")
    Main.run(spark, Array(
      "-i", s"$ex/csv/input", "-o", out,
      "-l", script.toString, "-p", p.toString)) shouldBe 0
    spark.read.text(out).count() should be > 0L
  }

  // ------------------------------------------------------------- kafka

  test("kafka:<topic> source/sink declarations parse and build options") {
    Main.kafkaTopic("kafka:events") shouldBe Some("events")
    Main.kafkaTopic("kafka://events") shouldBe Some("events")
    Main.kafkaTopic("/data/in.parquet") shouldBe None
    val props = new java.util.Properties()
    Main.kafkaSourceOptions("t1", props).isLeft shouldBe true // no brokers
    Main.kafkaSinkOptions("t1", props).isLeft shouldBe true
    props.setProperty("graft.kafka.brokers", "b1:9092,b2:9092")
    val src = Main.kafkaSourceOptions("t1", props).toOption.get
    src("kafka.bootstrap.servers") shouldBe "b1:9092,b2:9092"
    src("subscribe") shouldBe "t1"
    src("startingOffsets") shouldBe "earliest"
    props.setProperty("graft.kafka.starting.offsets", "latest")
    Main.kafkaSourceOptions("t1", props).toOption
      .get("startingOffsets") shouldBe "latest"
    val sink = Main.kafkaSinkOptions("t2", props).toOption.get
    sink("topic") shouldBe "t2"
    sink.contains("subscribe") shouldBe false
  }

  test("kafka source without graft.kafka.brokers is a usage error (exit 2)") {
    val script = Files.createTempFile("graft", ".graft")
    Files.writeString(script, "filter value is not null\n")
    Main.run(spark, Array("-i", "kafka:in", "-o", "kafka:out",
      "-l", script.toString)) shouldBe 2
  }

  // ------------------------------------------------------ script parsing

  test("script parse errors carry line numbers and reasons") {
    val e1 = intercept[GraftScript.ScriptError](
      GraftScript.parse("explode value"))
    e1.getMessage should include("unknown operator")
    val e2 = intercept[GraftScript.ScriptError](
      GraftScript.parse("mapValues key + 1"))
    e2.getMessage should include("mapValues sees only `value`")
    val e3 = intercept[GraftScript.ScriptError](
      GraftScript.parse("map value"))
    e3.getMessage should include("=>")
    val e4 = intercept[GraftScript.ScriptError](
      GraftScript.parse("filter )("))
    e4.getMessage should include("cannot parse")
  }

  test("let bindings give scripts multi-statement steps (csv-style locals)") {
    import spark.implicits._
    // the reference's csv example keeps `columns` as a Lua local
    // (examples/csv/example.lua:3-5); here `parts` is the let analogue
    val script =
      """let parts = split(value, ',')
        |filter size(parts) = 3
        |let n = TRY_CAST(parts[2] AS BIGINT)
        |filter n IS NOT NULL
        |map parts[0] => struct(parts[1] AS name, n * 2 AS doubled)
        |""".stripMargin
    val frame = Seq("a,alice,21", "bad-line", "b,bob,x", "c,carol,5")
      .toDF("value").select(lit(null).cast("string").as("key"), col("value"))
    val out = GraftScript.parse(script).compile(frame)
      .select(col("key"), col("value.name"), col("value.doubled"))
      .as[(String, String, Long)].collect().sortBy(_._1)
    out shouldBe Array(("a", "alice", 42L), ("c", "carol", 10L))
  }

  test("let misuse fails at parse time with line numbers") {
    val e1 = intercept[GraftScript.ScriptError](
      GraftScript.parse("let = split(value, ',')"))
    e1.getMessage should include("let needs")
    val e2 = intercept[GraftScript.ScriptError](
      GraftScript.parse("let value = 1"))
    e2.getMessage should include("cannot rebind")
    val e3 = intercept[GraftScript.ScriptError](
      GraftScript.parse("let p = split(key, ',')\nmapValues p[0]"))
    e3.getMessage should include("mapValues sees only")
  }

  test("udf example: shipped pipeline + golden verify and run via the CLI") {
    // Collatz step count: an unbounded while-loop per record — there is
    // no Column-expression phrasing of this (the reference would write
    // it as an inline Lua closure; here it's a registered Scala udf).
    // The example ships under examples/udf with the registration snippet
    // in its README, mirroring the reference's example.test.lua pattern.
    val collatz = udf((n: Long) => {
      var x = math.max(n, 1L); var steps = 0L
      while (x != 1L) { x = if (x % 2 == 0) x / 2 else 3 * x + 1; steps += 1 }
      steps
    })
    GraftScript.registerUdf("collatz_steps", (_, v) => collatz(v))
    try {
      // golden vectors gate startup, exactly like demo/time/csv
      Main.run(spark, Array("-l", s"$ex/udf/pipeline.graft",
        "-t", s"$ex/udf/golden.json", "-D")) shouldBe 0
      // full run from the shipped input dir, golden pre-pass included
      val out = tmp() + "/out"
      Main.run(spark, Array("-i", s"$ex/udf/input", "-o", out,
        "-l", s"$ex/udf/pipeline.graft",
        "-t", s"$ex/udf/golden.json")) shouldBe 0
      val back = spark.read.parquet(out).orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("value")))
      // collatz(6)=8, collatz(7)=16, collatz(27)=111, collatz(4)=2;
      // filter keeps > 5 so "d" drops (the golden asserts the drop too)
      back.toSeq shouldBe Seq(("a", 8L), ("b", 16L), ("c", 111L))
    } finally GraftScript.unregisterUdf("collatz_steps")
  }

  test("split-hash example: deterministic bucket split via the splitmix " +
      "kernel, golden vectors computed OUTSIDE the kernel") {
    // The expected buckets come from an independent mod-2^64 replica,
    // so this pins the hash definition itself (not just round-tripping
    // the kernel's own output) through parse -> codegen -> golden.
    GraftFunctions.registerAll(spark)
    Main.run(spark, Array("-l", s"$ex/split-hash/pipeline.graft",
      "-t", s"$ex/split-hash/golden.json", "-D")) shouldBe 0
  }

  test("diversity example: Simpson quality gate via the script DSL, " +
      "golden vectors computed OUTSIDE the kernel") {
    // Expected metrics come from an independent Python counting model,
    // so the dry-run pins the metric definition (exact integers + one
    // IEEE division) through parse -> codegen -> golden compare,
    // including the boilerplate drop (the all-one-char record).
    GraftFunctions.registerAll(spark)
    Main.run(spark, Array("-l", s"$ex/diversity/pipeline.graft",
      "-t", s"$ex/diversity/golden.json", "-D")) shouldBe 0
  }

  test("qualitygate example: let-bound fused kernel + rule bitmask via " +
      "the script DSL, hand-computed golden masks") {
    // Expected masks were computed BY HAND from the documented stat
    // definitions (not by the kernel), so the dry-run pins the rule
    // semantics — including the inclusive mean-length boundary (a doc
    // at exactly 3.0 passes) and the bit combinations 11 and 13.
    GraftFunctions.registerAll(spark)
    Main.run(spark, Array("-l", s"$ex/qualitygate/pipeline.graft",
      "-t", s"$ex/qualitygate/golden.json", "-D")) shouldBe 0
  }

  test("winnow example: a registered KERNEL used from the script DSL, " +
      "golden-gated via the CLI") {
    // The shipped golden vectors were produced by the kernel itself, so
    // this dry-run pins the exact fingerprint definition end-to-end
    // through parse -> expression -> codegen -> golden compare.
    GraftFunctions.registerAll(spark) // Main.main sessions get this via extensions
    Main.run(spark, Array("-l", s"$ex/winnow/pipeline.graft",
      "-t", s"$ex/winnow/golden.json", "-D")) shouldBe 0
    // and a corrupted expectation still refuses startup
    val bad = Files.createTempFile("winnow-bad", ".json")
    Files.writeString(bad,
      """{"inputs": [{"value": "The quick brown fox jumps over the lazy dog"}],
        |"expected": [{"value": [1, 2, 3]}]}""".stripMargin)
    Main.run(spark, Array("-l", s"$ex/winnow/pipeline.graft",
      "-t", bad.toString, "-D")) shouldBe 1
  }

  test("textstats example: quality-gate filter + struct mapValues via a " +
      "registered kernel, golden-gated via the CLI") {
    // The golden asserts BOTH the kept structs and the drop of the
    // punctuation-only row (quality 0.045 < 0.5); the struct values
    // were produced by the kernel itself, so this pins the stats
    // definitions through parse -> field extraction -> codegen ->
    // golden compare.
    GraftFunctions.registerAll(spark)
    Main.run(spark, Array("-l", s"$ex/textstats/pipeline.graft",
      "-t", s"$ex/textstats/golden.json", "-D")) shouldBe 0
    // a golden that expects the dropped row to SURVIVE must refuse
    val bad = Files.createTempFile("textstats-bad", ".json")
    Files.writeString(bad,
      """{"inputs": [{"value": "!!! ??? ... !!! ??? ... !!!"}],
        |"expected": [{"value": {"n_chars": 27}}]}""".stripMargin)
    Main.run(spark, Array("-l", s"$ex/textstats/pipeline.graft",
      "-t", bad.toString, "-D")) shouldBe 1
  }

  test("udf step with an unregistered name fails at parse time") {
    val e = intercept[GraftScript.ScriptError](
      GraftScript.parse("udf no_such_fn"))
    e.getMessage should include("unknown udf")
    e.getMessage should include("registerUdf")
  }

  test("graft functions register on an existing session and run from SQL") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT graft_rolling_hash64('abc') AS h,
                graft_cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
                graft_ngram_jaccard('hello world', 'hello world') AS j""")
      .head()
    r.getLong(0) should not be 0L
    r.getDouble(1) shouldBe 1.0 +- 1e-12
    r.getDouble(2) shouldBe 1.0
    val r2 = spark.sql(
      """SELECT graft_text_stats('The cat.', lower('The cat.')).n_tokens_ws AS n,
                graft_repetition_ratio('ababababab') AS rep,
                graft_quantize_vec(array(1.0d, -1.0d)).scale AS s,
                graft_sig_agreement(graft_minhash_sig('abc'), graft_minhash_sig('abc')) AS agree""")
      .head()
    r2.getLong(0) shouldBe 2L
    r2.getDouble(1) should be > 0.5
    r2.getDouble(2) shouldBe (1.0 / 127.0) +- 1e-15
    r2.getDouble(3) shouldBe 1.0
    // winnow from SQL: identical strings -> identical signatures
    val r3 = spark.sql(
      """SELECT graft_winnow('the quick brown fox jumps over me') AS a,
                graft_winnow('the quick brown fox jumps over me') AS b""")
      .head()
    r3.getSeq[Long](0) should not be empty
    r3.getSeq[Long](0) shouldBe r3.getSeq[Long](1)
    // kmv estimator from SQL: kth at exactly half the hash space with
    // k=3 -> floor(2 * 2^64 / 2^63) = 4; non-literal k rejected loudly
    val r4 = spark.sql(
      "SELECT graft_kmv_estimate(CAST(-9223372036854775808 AS BIGINT), 3) AS e")
      .head()
    r4.getLong(0) shouldBe 4L
    val e4 = intercept[Exception](
      spark.sql("SELECT graft_kmv_estimate(1L, CAST(rand()*4 AS INT))").collect())
    e4.getMessage should include("literal int k")
    // whole-table BPE kernel from SQL: the Sennrich low/lower table
    val r5 = spark.sql(
      """SELECT graft_bpe_apply(array('l', 'o', 'w', 'e', 'r'),
                array(array('e', 's'), array('es', 't'),
                      array('l', 'o'), array('lo', 'w'))) AS s""").head()
    r5.getSeq[String](0) shouldBe Seq("low", "e", "r")
    val e5 = intercept[Exception](
      spark.sql("SELECT graft_bpe_apply(array('a'), array(array(rand() || '')))")
        .collect())
    e5.getMessage should include("foldable")
  }

  test("bench degraded stamp: pre-run loadavg or foreign-CPU evidence " +
      "marks the board; self-load and failed samples never do") {
    val noF = Seq.empty[Double]
    // the BEFORE loadavg sample has no self-load excuse: past cpus/8
    // it is pre-existing external pollution
    graft.Bench.isDegraded(Seq(4.001), noF, 32) shouldBe true
    graft.Bench.isDegraded(Seq(4.0), noF, 32) shouldBe false // strict >
    graft.Bench.isDegraded(Seq(0.6), noF, 4) shouldBe true
    graft.Bench.isDegraded(Seq(0.4), noF, 4) shouldBe false
    // MID-RUN loadavg is NOT evidence (round-20 finding: an idle rig's
    // own local[32] graph queries pushed 1-min loadavg to 6.16 and
    // falsely stamped a clean board) — only foreign CPU is
    graft.Bench.isDegraded(Seq(0.81, 3.82, 6.16, 2.77), noF, 32) shouldBe false
    // sustained co-tenant: median foreign cores past cpus/8
    graft.Bench.isDegraded(Seq(0.5), Seq(4.5, 5.0, 6.3, 4.2, 4.8), 32) shouldBe true
    // the bench's own saturation subtracts out: heavy self-load with
    // near-zero foreign residue is clean
    graft.Bench.isDegraded(Seq(0.5), Seq(0.1, 0.3, 0.2, 0.4, 0.2), 32) shouldBe false
    // a BURST (p90 past cpus/3) flags even when the median is quiet —
    // best-of-2 warm minima cannot shed a stall that long
    graft.Bench.isDegraded(Seq(0.5), Seq(0.2, 0.1, 0.2, 0.1, 0.2, 0.1, 0.3, 0.2, 0.1, 12.0), 32) shouldBe true
    // one outlier under 10% of samples stays sub-p90 -> clean
    graft.Bench.isDegraded(Seq(0.5),
      Seq.fill(20)(0.2) ++ Seq(12.0), 32) shouldBe false
    // -1 sentinels (unreadable /proc/loadavg, unprimed MXBean) are not
    // evidence of load
    graft.Bench.isDegraded(Seq(-1.0, -1.0), Seq(-1.0, -1.0), 32) shouldBe false
    graft.Bench.isDegraded(Seq.empty, noF, 32) shouldBe false
    // the r19 polluted pattern still flags: before sample past threshold
    graft.Bench.isDegraded(Seq(4.15, 7.94, 8.30), noF, 32) shouldBe true
    // hypervisor steal: the chronic ~25-30% baseline on this rig does
    // NOT stamp (it is recorded for steal-adjusted comparison instead);
    // a window past 40% of demanded CPU does
    graft.Bench.isDegraded(Seq(0.5), noF, 32, stealFrac = 0.28) shouldBe false
    graft.Bench.isDegraded(Seq(0.5), noF, 32, stealFrac = 0.41) shouldBe true
    // the -1 sentinel (unreadable /proc/stat) is not evidence
    graft.Bench.isDegraded(Seq(0.5), noF, 32, stealFrac = -1.0) shouldBe false
  }

  test("bench stealTicks: cumulative (steal, demanded) counters are " +
      "non-negative and monotone") {
    val (s0, d0) = graft.Bench.stealTicks()
    val (s1, d1) = graft.Bench.stealTicks()
    if (s0 >= 0) { // /proc/stat readable on this platform
      assert(d0 >= s0 && s1 >= s0 && d1 >= d0)
    }
  }

  test("bench foreignCpu: returns a finite non-negative core count (or " +
      "the -1 sentinel) once primed") {
    graft.Bench.foreignCpu() // prime
    Thread.sleep(50)
    val f = graft.Bench.foreignCpu()
    assert(f == -1.0 || (f >= 0.0 &&
      f <= Runtime.getRuntime.availableProcessors().toDouble))
  }
}
