package graft.runtime

import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpecBase

/** The golden pre-pass runs on the driver: it types golden files as the
  * multiLine JSON reader does, refuses bad ones as before, starts no Spark
  * job, and its interpreted evaluation agrees with the generated code of
  * a real job. */
class GoldenFileSpec extends SparkSpecBase with Matchers {

  private val ex = new java.io.File("examples").getAbsolutePath
  private val examples = Seq("csv", "demo", "diversity", "qualitygate",
    "split-hash", "textstats", "time", "udf", "winnow")
  private def golden(name: String) = s"$ex/$name/golden.json"
  private def script(name: String) = s"$ex/$name/pipeline.graft"

  private def records(path: String): (DataFrame, DataFrame) =
    GoldenFile.records(spark, path, GoldenFile.read(path)).fold(fail(_), identity)

  /** Runs `body` with the functions the shipped examples call: the graft
    * kernels and the `udf` example's `collatz_steps`. */
  private def withExampleFunctions[T](body: => T): T = {
    GraftFunctions.registerAll(spark)
    val collatz = udf((n: Long) => {
      var x = math.max(n, 1L); var steps = 0L
      while (x != 1L) { x = if (x % 2 == 0) x / 2 else 3 * x + 1; steps += 1 }
      steps
    })
    GraftScript.registerUdf("collatz_steps", (_, v) => collatz(v))
    try body finally GraftScript.unregisterUdf("collatz_steps")
  }

  private def withSessionZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, old)
  }

  /** `Main.run -D` over `golden`: the exit code and what it printed to
    * stderr. */
  private def dryRun(script: String, golden: String): (Int, String) = {
    val err = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val code = try Main.run(spark, Array("-l", script, "-t", golden, "-D"))
      finally System.setErr(old)
    (code, err.toString("UTF-8"))
  }

  private def goldenFile(text: String): String = {
    val f = Files.createTempFile("golden", ".json")
    Files.writeString(f, text)
    f.toString
  }

  test("golden key and value types and rows match the multiLine JSON reader's") {
    val files = examples.map(golden) :+
      new java.io.File("perfbench/workloads/avro_restructure/golden.json").getAbsolutePath
    for (path <- files) withClue(path) {
      val doc = spark.read.option("multiLine", true).json(path)
      val (inputs, expected) = records(path)
      for ((field, parsed) <- Seq("inputs" -> inputs, "expected" -> expected)) withClue(field) {
        val rec = doc.select(explode(col(field)).as("rec"))
        val recType = rec.schema("rec").dataType.asInstanceOf[StructType]
        val reference = rec.select(Seq("key", "value").map { name =>
          if (recType.fieldNames.contains(name)) col(s"rec.$name").as(name)
          else lit(null).cast(StringType).as(name)
        }: _*)
        parsed.schema.map(_.dataType) shouldBe reference.schema.map(_.dataType)
        parsed.collect().toSeq.map(GoldenFile.canonicalRow(_, parsed.schema)) shouldBe
          reference.collect().toSeq.map(GoldenFile.canonicalRow(_, reference.schema))
      }
    }
  }

  test("odd golden documents keep their exit codes and messages") {
    val cast = Files.createTempFile("cast", ".graft")
    Files.writeString(cast, "mapValues cast(value as int)\n")
    val shape = "needs top-level `inputs` and `expected` arrays"
    for (text <- Seq("""{"inputs": [{"value": "5"}], "expected": [""",
        """{"inputs": [{"value": "5"}]}""", "[1, 2]", "\"x\"",
        // a field that is not an array
        """{"inputs": null, "expected": [{"value": 5}]}""",
        """{"inputs": {}, "expected": [{"value": 5}]}""",
        """{"inputs": [{"value": "5"}], "expected": 5}""")) withClue(text) {
      val path = goldenFile(text)
      val (code, err) = dryRun(cast.toString, path)
      code shouldBe 1
      err should include(s"[graft] golden verification FAILED:\ngolden file $path $shape\n")
    }
    // a top-level array holds one document per element
    dryRun(cast.toString, goldenFile("""[{"inputs": [{"value": "5"}], "expected": [{"value": 5}]},
      |{"inputs": [{"value": "6"}], "expected": [{"value": 6}]}]""".stripMargin))._1 shouldBe 0
    val nullElement = goldenFile("""{"inputs": [null, {"value": "5"}], "expected": [{"value": 5}]}""")
    val (code, err) = dryRun(cast.toString, nullElement)
    code shouldBe 1
    err should include("[graft] golden verification FAILED:\n" +
      "expected 1 output records, got 2: [TreeMap(), TreeMap(value -> 5)]\n")
  }

  test("the golden pre-pass of every shipped example starts no Spark job") {
    withExampleFunctions {
      for (name <- examples) withClue(name) {
        JobCounter.count(spark.sparkContext)(
          Main.run(spark, Array("-l", script(name), "-t", golden(name), "-D"))) shouldBe ((0, 0))
      }
    }
  }

  test("the driver-side golden chain agrees with generated code over parquet") {
    // The pre-pass evaluates the chain on the driver; production runs
    // whole-stage generated code in tasks. Both must give the same rows
    // for every shipped golden, in two session time zones where the
    // chain parses timestamps.
    withExampleFunctions {
      for (name <- examples; zone <- if (name == "time") Seq("UTC", "Asia/Kolkata") else Seq("UTC"))
        withClue(s"$name $zone") {
          withSessionZone(zone) {
            val pipeline = GraftScript.parseFile(script(name))
            val inputs = records(golden(name))._1
            val (driver, driverJobs) =
              JobCounter.count(spark.sparkContext)(GoldenFile.output(pipeline, inputs))
            driverJobs shouldBe 0
            val dir = Files.createTempDirectory("golden-parquet").toString + "/in"
            GoldenFile.numbered(inputs).write.parquet(dir)
            val out = pipeline.compile(spark.read.parquet(dir), passthrough = Seq(GoldenFile.SeqCol))
            val (generated, generatedJobs) =
              JobCounter.count(spark.sparkContext)(GoldenFile.inOrder(out))
            generatedJobs should be > 0
            out.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) shouldBe true
            generated shouldBe driver
            driver should not be empty
          }
        }
    }
  }
}
