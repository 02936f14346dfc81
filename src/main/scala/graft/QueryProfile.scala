package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement tool (guide §1): run named queries
  * through the noop sink and report, per query, WHERE the wall time
  * goes — number of driver-synchronous jobs, stages, tasks, and the
  * summed executor task time. At bench scale (sf0.1, hundreds of
  * thousands of rows) a query whose wall time far exceeds its summed
  * task time divided by parallelism is bound by JOB COUNT (sequential
  * driver loops, eager pins, collect-backed training iterations) and
  * per-job scheduling/codegen latency, not by data — the signature
  * that decides which guide section applies. One JSON line per query. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <sfDir> <query ...>")
    val sfDir = args.head
    val names = args.tail.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(", ")}")
    val spark = Boards.session()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null)
          taskMs.addAndGet(t.taskInfo.duration)
      }
    })

    // Generic warm-up outside the measured set (Bench's convention)
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case _: Throwable => () }

    for (n <- names) {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      spark.sparkContext.setJobDescription(n)
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wallSec = (System.nanoTime() - t0) / 1e9
        // give straggler listener events a beat to drain
        Thread.sleep(200)
        println(f"""{"query":${jsonSafe(n)},"wall_sec":$wallSec%.3f,""" +
          s""""jobs":${jobs.get},"stages":${stages.get},""" +
          s""""tasks":${tasks.get},"task_time_sec":${taskMs.get / 1000.0}}""")
      } catch { case e: Throwable => println(errorLine(n, e.getMessage)) }
      Boards.unpersistAll(spark)
    }
    spark.stop()
  }

  /** A quoted JSON string of at most 120 characters of `s` (a null
    * message reads "null"), cut before escaping so no escape is split. */
  private def jsonSafe(s: String): String =
    Boards.json(String.valueOf(s).take(120))

  /** The JSON line reported for query `name` that failed with `msg`. */
  private[graft] def errorLine(name: String, msg: String): String =
    s"""{"query":${jsonSafe(name)},"error":${jsonSafe(msg)}}"""
}
