package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

import graft.queries.QuerySpec

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
    val specs = SparkEntry.select(args.tail.toSeq)
    val spark = Boards.session()
    // Generic warm-up outside the measured set (Bench's convention)
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case _: Throwable => () }
    run(spark, sfDir, specs)
    spark.stop()
  }

  /** Run each of `specs` under a job group of its own and print one JSON
    * line per query. Only the jobs of that group, and the stages and
    * tasks those jobs start, are counted, and the listener bus is
    * drained before a query's line is written, so a job is never counted
    * against a neighbour however late its events arrive. */
  def run(spark: SparkSession, sfDir: String, specs: Seq[QuerySpec]): Unit = {
    val sc = spark.sparkContext
    specs.foreach { q =>
      val group = s"queryprofile-${java.util.UUID.randomUUID()}"
      val counts = new GroupCounts(group)
      sc.addSparkListener(counts)
      sc.setJobGroup(group, q.name)
      val t0 = System.nanoTime()
      val line =
        try {
          q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wallSec = (System.nanoTime() - t0) / 1e9
          GraftColumnBridge.drainListenerBus(sc)
          f"""{"query":${jsonSafe(q.name)},"wall_sec":$wallSec%.3f,""" +
            s""""jobs":${counts.jobs.get},"stages":${counts.stages.get},""" +
            s""""tasks":${counts.tasks.get},""" +
            s""""task_time_sec":${counts.taskMs.get / 1000.0}}"""
        } catch { case e: Throwable => errorLine(q.name, e.getMessage) }
        finally {
          sc.clearJobGroup()
          sc.removeSparkListener(counts)
        }
      println(line)
      Boards.unpersistAll(spark)
    }
  }

  /** Jobs, completed stages, ended tasks and summed task time of the
    * jobs submitted under job group `group`. A stage belongs to the
    * group when a job of the group lists it at its start. */
  private final class GroupCounts(group: String) extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (GraftColumnBridge.jobGroupOf(j.properties) == group) {
        jobs.incrementAndGet()
        j.stageIds.foreach(stageIds.add)
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(s.stageInfo.stageId)) stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(t.stageId)) {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
  }

  /** A quoted JSON string of at most 120 characters of `s` (a null
    * message reads "null"), cut before escaping so no escape is split. */
  private def jsonSafe(s: String): String =
    Boards.json(String.valueOf(s).take(120))

  /** The JSON line reported for query `name` that failed with `msg`. */
  private[graft] def errorLine(name: String, msg: String): String =
    s"""{"query":${jsonSafe(name)},"error":${jsonSafe(msg)}}"""
}
