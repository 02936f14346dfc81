package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer: name,
  * start, end and the span that caused it. Kept in memory and written as
  * one JSON file when the run ends. Times are epoch microseconds. With
  * tracing off, `span` only runs its body. */
object Spans {
  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

  @volatile var enabled = false
  private val buf = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  /** Innermost span open on the thread that drives the run; listener
    * threads attach their spans (jobs, micro-batches) to it. */
  @volatile var current: Int = 0

  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = open.get
      val parent = parents.headOption.getOrElse(0)
      open.set(id :: parents)
      current = id
      val t0 = nowUs
      try body
      finally {
        add(Span(id, parent, name, t0, nowUs))
        open.set(parents)
        current = parent
      }
    }

  def record(name: String, parent: Int, startUs: Long, endUs: Long): Unit =
    if (enabled) add(Span(ids.incrementAndGet(), parent, name, startUs, endUs))

  private def add(s: Span): Unit = buf.synchronized(buf += s)

  def all: Seq[Span] = buf.synchronized(buf.toList)

  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0)

  def write(path: String): Unit = {
    val json = all.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
  }
}

/** Engine-level counters from Spark's public listeners, collected only
  * while attached: jobs, tasks, task CPU and GC, bytes, per-stage task
  * times for skew, Catalyst planning time and micro-batch progress.
  * Codegen compile time is Spark's own cumulative counter. */
final class Layers(spark: SparkSession) {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val taskGcMs = new AtomicLong
  val bytesRead = new AtomicLong
  val bytesWritten = new AtomicLong
  val planNs = new AtomicLong
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val jobStartUs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private var compileNs0 = 0L
  private var compileNsSum = 0L
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStartUs.put(e.jobId, (e.time * 1000, Spans.current))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartUs.remove(e.jobId)).foreach { case (t0, parent) =>
        Spans.record("spark.job", parent, t0, e.time * 1000)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskGcMs.addAndGet(m.jvmGCTime)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        stageTaskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new ConcurrentLinkedQueue[Long]()).add(e.taskInfo.duration)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planNs.addAndGet(qe.tracker.phases.values.map(p => p.durationMs).sum * 1000000L)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(p)
      val endUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000 +
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000
      Spans.record("stream.batch", Spans.current, java.time.Instant.parse(p.timestamp).toEpochMilli * 1000, endUs)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = synchronized {
    if (!attached) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      compileNs0 = CodeGenerator.compileTime
      attached = true
    }
  }

  def detach(): Unit = synchronized {
    if (attached) {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
      compileNsSum += CodeGenerator.compileTime - compileNs0
      attached = false
    }
  }

  def compileMs: Double = compileNsSum / 1e6

  /** Max over median task time per stage of three or more tasks; the
    * median across those stages (1.0 when there are none). */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.asScala.map(_.asScala.toVector.sorted)
      .filter(_.size >= 3).map(t => t.last.toDouble / math.max(1.0, Stats.median(t.map(_.toDouble))))
      .toVector
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile (`q` in 0..1). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }
}
