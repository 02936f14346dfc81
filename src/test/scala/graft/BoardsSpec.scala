package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.matchers.should.Matchers

import graft.queries.QuerySpec

class BoardsSpec extends SparkSpecBase with Matchers {

  private val mapper = new ObjectMapper()

  test("a QueryProfile error line parses as JSON whatever the message " +
      "holds, and keeps 120 characters of it") {
    val nasty = "a\bb\fc\u0001d\"e\\f\ng"
    val line = QueryProfile.errorLine("q_" + nasty, nasty * 20)
    line.linesIterator.size shouldBe 1
    val tree = mapper.readTree(line)
    tree.get("query").asText shouldBe "q_" + nasty
    tree.get("error").asText shouldBe (nasty * 20).take(120)
    mapper.readTree(QueryProfile.errorLine("q", null))
      .get("error").asText shouldBe "null"
  }

  test("Verify dumps every good query, names the broken ones in its " +
      "summary line and returns exit code 1") {
    val out = Files.createTempDirectory("verify").toString
    val good = QuerySpec("q_good", (s, _) => s.range(3).toDF("x"),
      () => "SELECT 1")
    val broken = QuerySpec("q_broken",
      (_, _) => throw new IllegalStateException("boom"), () => "SELECT 1")
    val stdout = new ByteArrayOutputStream()
    val code = Console.withOut(stdout)(
      Verify.run(spark, sf(), out, Seq(good, broken)))
    code shouldBe 1
    spark.read.parquet(s"$out/q_good").count() shouldBe 3
    new java.io.File(s"$out/q_broken").exists() shouldBe false
    new java.io.File(s"$out/oracle_sql.json").exists() shouldBe true
    val summary = mapper.readTree(stdout.toString.linesIterator.toSeq.last)
    summary.get("dumped").asInt shouldBe 1
    summary.get("failed").asInt shouldBe 1
    summary.get("failed_names").get(0).asText shouldBe "q_broken"
    Console.withOut(new ByteArrayOutputStream())(
      Verify.run(spark, sf(), out, Seq(good))) shouldBe 0
  }

  test("QueryProfile counts each query's own jobs: two profiles back to " +
      "back report identical counts even when listener events lag") {
    // A slow listener shares the bus queue with the profiler's, so job
    // events arrive well after the action that ran the job returned.
    val slow = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Thread.sleep(300)
    }
    def noopJob(s: org.apache.spark.sql.SparkSession): Unit =
      s.range(4).write.format("noop").mode("overwrite").save()
    val specs = Seq(
      QuerySpec("q_one", (s, _) => s.range(4).toDF("x"), () => ""),
      QuerySpec("q_three", (s, _) => {
        noopJob(s); noopJob(s)
        s.range(4).toDF("x")
      }, () => ""))
    def profile(): Seq[(String, Int, Int, Int)] = {
      val stdout = new ByteArrayOutputStream()
      Console.withOut(stdout)(QueryProfile.run(spark, sf(), specs))
      stdout.toString.linesIterator.toSeq.map(mapper.readTree).map { j =>
        (j.get("query").asText, j.get("jobs").asInt,
          j.get("stages").asInt, j.get("tasks").asInt)
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val first = profile()
      first.map(r => (r._1, r._2)) shouldBe Seq(("q_one", 1), ("q_three", 3))
      profile() shouldBe first
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("the per-query clean-up drops cache entries with their blocks, so " +
      "the next query is not planned over a dead cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def fragment = spark.range(100).toDF("x").filter("x % 3 = 0")
    fragment.cache().count()
    Boards.unpersistAll(spark)
    spark.sharedState.cacheManager.isEmpty shouldBe true
    val next = fragment.groupBy().count()
    physicalPlan(next).collect { case s: InMemoryTableScanExec => s } shouldBe empty
    next.collect()(0).getLong(0) shouldBe 34L
  }
}
