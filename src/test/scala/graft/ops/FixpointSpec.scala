package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.scalatest.matchers.should.Matchers

import graft.SparkSpecBase

class FixpointSpec extends SparkSpecBase with Matchers {
  import spark.implicits._

  test("iterate counts state-changing rounds; the confirming round is " +
      "always allowed, one round more than maxRounds is refused") {
    def countTo3(maxRounds: Int) =
      Fixpoint.iterate("countTo3", 0, maxRounds)(_ => Nil)(s =>
        if (s < 3) Some(s + 1) else None)
    countTo3(3) shouldBe ((3, 3))
    countTo3(7) shouldBe ((3, 3))
    intercept[IllegalStateException](countTo3(2)).getMessage shouldBe
      "countTo3: no fixpoint after 2 rounds — raise maxIters"
    Fixpoint.rounds(1, 4)(_ => Nil)(_ * 2) shouldBe 16
  }

  test("the drivers release a superseded state's pins unless the next " +
      "state carries them") {
    val pins = Pins(spark, None)
    def live(df: DataFrame): Boolean = df.queryExecution.analyzed match {
      case l: LogicalRDD => spark.sparkContext.getPersistentRDDs.contains(l.rdd.id)
      case _ => false
    }
    val kept = pins(spark.range(3).toDF("x"))
    val first = pins(spark.range(2).toDF("x"))
    val seen = Seq.newBuilder[DataFrame]
    // state (kept, round frame): `kept` rides every round
    val (_, last) = Fixpoint.rounds((kept, first), 3)(s => Seq(s._1, s._2)) {
      case (k, f) =>
        seen += f
        (k, pins(f.withColumn("x", $"x" + lit(1))))
    }
    val superseded = seen.result()
    superseded.map(live) shouldBe Seq(false, false, false)
    live(kept) shouldBe true
    live(last) shouldBe true
    last.as[Long].collect().sorted shouldBe Array(3L, 4L)
    pins.release(kept, last)
    live(kept) shouldBe false
  }

  // Refusal boundaries on the path 0-1-2-3-4-5: with maxIters equal to
  // the state-changing rounds the op needs it returns its default
  // result; with one fewer it refuses, naming itself.
  private val path = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")

  private def boundary[T](op: String, rounds: Int)(run: Int => T,
      default: => T): Unit = {
    run(rounds) shouldBe default
    val e = intercept[IllegalStateException](run(rounds - 1))
    e.getMessage should include(op)
    e.getMessage should include("no fixpoint")
  }

  test("kCore refuses exactly one peel round past maxIters") {
    // k=2 peels the path from both ends: {0,5}, {1,4}, {2,3}
    val r = scala.collection.mutable.Buffer.empty[Int]
    def run(maxIters: Int) = Graph.kCore(path, "src", "dst", k = 2,
      maxIters = maxIters, roundsOut = Some(r)).collect().toSeq
    boundary("kCore", 3)(run, run(100))
    r.head shouldBe 3
  }

  test("coreness refuses exactly one peel round past maxIters") {
    // one phase (d=1), whose cascade is kCore's three rounds
    val r = scala.collection.mutable.Buffer.empty[Int]
    def run(maxIters: Int) = Graph.coreness(path, "src", "dst",
      maxIters = maxIters, phaseRoundsOut = Some(r))
      .as[(Long, Long)].collect().sorted.toSeq
    boundary("coreness", 3)(run, run(1000))
    r.head shouldBe 3
    run(1000) shouldBe (0L to 5L).map((_, 1L))
  }

  test("kTruss refuses exactly one peel round past maxIters") {
    // k=3: no edge closes a triangle, so one round peels every edge
    val r = scala.collection.mutable.Buffer.empty[Int]
    def run(maxIters: Int) = Graph.kTruss(path, "src", "dst", k = 3,
      maxIters = maxIters, roundsOut = Some(r)).collect().toSeq
    boundary("kTruss", 1)(run, run(100))
    r.head shouldBe 2 // the peel round plus the confirming round
  }

  test("multiSourceShortestPaths refuses exactly one relaxation round " +
      "past maxIters") {
    // one hop per round from seed 0: five improving rounds
    val weighted = path.withColumn("w", lit(1L))
    val r = scala.collection.mutable.Buffer.empty[Int]
    def run(maxIters: Int) = Graph.multiSourceShortestPaths(weighted,
      "src", "dst", "w", Seq(0L), maxIters = maxIters, roundsOut = Some(r))
      .as[(Long, Long)].collect().sorted.toSeq
    boundary("multiSourceShortestPaths", 5)(run, run(50))
    r.head shouldBe 5
    run(50) shouldBe (0L to 5L).map(v => (v, v))
  }

  test("nearDupClusters refuses exactly one label round past maxIters") {
    // round 1: propagation + pointer jump give labels 0,0,0,1,2,3;
    // round 2: all 0; round 3 confirms
    def run(maxIters: Int) = Dedup.nearDupClusters(
        path.toDF("id_a", "id_b"), maxIters = maxIters)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    boundary("nearDupClusters", 2)(run, run(50))
    run(50) shouldBe (0L to 5L).map((_, 0L, 6L))
  }
}
