package perfbench

import org.apache.spark.sql.SparkSession

import graft.runtime.Main

/** Self-test of the output checks: every workload at a small size must
  * pass its check, and each of three deliberate corruptions of that
  * output (one flipped bit, one record dropped, one record duplicated)
  * must fail it. */
object Smoke {
  import Harness._

  val Records = 4800L

  private def corrupt(spark: SparkSession, from: String, to: String, how: Int): Unit = {
    import spark.implicits._
    val rows = spark.read.parquet(from).select("key", "value").as[(Array[Byte], Array[Byte])]
      .collect().toVector
    val flipped = rows(0)._2.clone()
    flipped(flipped.length - 1) = (flipped(flipped.length - 1) ^ 1).toByte
    val changed = how match {
      case 0 => rows.updated(0, (rows(0)._1, flipped))
      case 1 => rows.dropRight(1)
      case _ => rows :+ rows(0)
    }
    changed.toDF("key", "value").coalesce(1).write.mode("overwrite").parquet(to)
  }

  /** True when the clean output passes and every corruption fails. */
  private def selfTest(spark: SparkSession, workload: String, expected: Digest, out: String,
      work: String): Boolean = {
    val clean = check(expected, actualDigest(spark, workload, out), s"$workload clean")
    val caught = Seq("flip", "drop", "duplicate").zipWithIndex.map { case (name, how) =>
      val bad = s"$work/${workload}_$name.parquet"
      corrupt(spark, out, bad, how)
      val failed = !check(expected, actualDigest(spark, workload, bad), s"$workload $name (expected to fail)")
      println(s"[smoke] $workload: corruption '$name' ${if (failed) "caught" else "NOT CAUGHT"}")
      failed
    }
    println(s"[smoke] $workload: clean output ${if (clean) "passes" else "FAILS"}")
    clean && caught.forall(identity)
  }

  def all(o: Opts): Boolean = {
    val batch = Seq("avro_restructure", "time_strings").map { w =>
      val su = setup(o.copy(workload = w), spec(w), traced = false)
      val (in, out) = (s"${o.work}/${w}_in.parquet", s"${o.work}/${w}_out.parquet")
      writeFrames(su.spark, in, 0, Records, 4, frameFn(w, o.seed))
      require(Main.run(su.spark, mainArgs(spec(w), in, out)) == 0, s"$w pass failed")
      selfTest(su.spark, w, expectedDigest(su.spark, w, o.seed, Records), out, o.work)
    }
    val su = setup(o.copy(workload = "stream_trickle"), spec("stream_trickle"), traced = false)
    val g = StreamRun.segment(su, o, s"${o.work}/stream", 10, 2, traced = false)
    val stream = g.failedFiles == 0 && selfTest(su.spark, "stream_trickle",
      expectedDigest(su.spark, "stream_trickle", o.seed, g.records),
      s"${o.work}/stream/out.parquet", o.work)
    (batch :+ stream).forall(identity)
  }
}
