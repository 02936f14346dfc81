package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.matchers.should.Matchers

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
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_good" -> ((s, _) => s.range(3).toDF("x")),
      "q_broken" -> ((_, _) => throw new IllegalStateException("boom")))
    val stdout = new ByteArrayOutputStream()
    val code = Console.withOut(stdout)(
      Verify.run(spark, sf(), out, queries))
    code shouldBe 1
    spark.read.parquet(s"$out/q_good").count() shouldBe 3
    new java.io.File(s"$out/q_broken").exists() shouldBe false
    new java.io.File(s"$out/oracle_sql.json").exists() shouldBe true
    val summary = mapper.readTree(stdout.toString.linesIterator.toSeq.last)
    summary.get("dumped").asInt shouldBe 1
    summary.get("failed").asInt shouldBe 1
    summary.get("failed_names").get(0).asText shouldBe "q_broken"
    Console.withOut(new ByteArrayOutputStream())(
      Verify.run(spark, sf(), out, queries - "q_broken")) shouldBe 0
  }
}
