package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.runtime.Main

/** `stream_trickle`: `Main --stream` with its shipped trigger over a
  * parquet file source, fed by `gen_stream.py`, a separate one-thread
  * process that releases pre-built files on an open-loop schedule. A
  * file's latency runs from the time it was due for release to the commit
  * of the micro-batch whose source log lists it; both are read from the
  * checkpoint after the run. */
object StreamRun {
  import Harness._

  val zeroStreamMetrics: Map[String, Double] = Seq("stream.batches", "stream.rows_per_batch",
    "stream.latest_offset_ms", "stream.planning_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.idle_cores", "gen.late_ms").map(_ -> 0.0).toMap

  final case class Segment(latenciesMs: Vector[Double], batches: Int, cpuNs: Long,
      windowMs: Double, measuredRecords: Long, files: Int, failedFiles: Int,
      lateMs: Vector[Double], idleCores: Double, correct: Boolean, input: String,
      records: Long, steal: Double, foreign: Double)

  private def fileName(k: Int) = f"f-$k%05d.parquet"

  /** Pre-builds files 0 until `files` of [[FileRecords]] records each. */
  def writeFiles(spark: SparkSession, staging: String, seed: Long, files: Int): Unit = {
    val tmp = s"$staging.tmp"
    writeFrames(spark, tmp, 0, files.toLong * FileRecords, files, frameFn("stream_trickle", seed))
    Files.createDirectories(Paths.get(staging))
    val Part = """part-(\d+)-.*\.parquet""".r
    val parts = new File(tmp).listFiles().toSeq.map(_.getName).collect {
      case n @ Part(p) => moveFile(s"$tmp/$n", s"$staging/${fileName(p.toInt)}"); n
    }
    require(parts.size == files, s"expected $files stream files, wrote ${parts.size}")
  }

  /** File name -> micro-batch id, from the file source's log (plain and
    * compacted entries). */
  def batchOfFile(ckpt: String): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    val Entry = """"path":"[^"]*/([^"/]+)".*?"batchId":(\d+)""".r
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap { f =>
      try Files.readAllLines(f.toPath).asScala.flatMap(l => Entry.findFirstMatchIn(l)
        .map(m => m.group(1) -> m.group(2).toLong))
      catch { case _: java.io.IOException => Nil }
    }.toMap
  }

  /** Epoch millis at which micro-batch `id` was committed. */
  def commitMs(ckpt: String, id: Long): Option[Double] = {
    val p = Paths.get(s"$ckpt/commits/$id")
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0)
    else None
  }

  private def waitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    cond
  }

  def segment(su: Setup, o: Opts, dir: String, measuredFiles: Int, warmFiles: Int,
      traced: Boolean): Segment = {
    val spark = su.spark
    val s = spec("stream_trickle")
    val (staging, input, out, ckpt) =
      (s"$dir/staging", s"$dir/input", s"$dir/out.parquet", s"$dir/ckpt")
    val total = 1 + warmFiles + measuredFiles
    writeFiles(spark, staging, o.seed, total)
    Files.createDirectories(Paths.get(input))
    moveFile(s"$staging/${fileName(0)}", s"$input/${fileName(0)}")

    val argv = mainArgs(s, input, out) ++ Array("--stream", "--checkpoint", ckpt)
    @volatile var rc = -1
    @volatile var err: Throwable = null
    val runner = new Thread(() => try rc = Main.run(spark, argv) catch { case e: Throwable => err = e })
    runner.setDaemon(true)
    if (traced) su.layers.get.attach()
    runner.start()
    var window = (0L, 0.0, 0.0, -1.0, 0.0) // cpu ns, window start ms, steal, foreign, idle cores
    var released = Vector.empty[(String, Double, Double)]
    try {
      require(waitUntil(120000)(commitMs(ckpt, 0).isDefined || err != null),
        "stream did not commit its first micro-batch")
      require(err == null, s"stream failed to start: $err")
      val startMs = System.currentTimeMillis() + 500L
      val windowStart = startMs + warmFiles.toLong * IntervalMs
      val gen = new ProcessBuilder(o.python, "perfbench/gen_stream.py",
        "--staging", staging, "--input", input, "--first", "1", "--count", (total - 1).toString,
        "--start-ms", startMs.toString, "--interval-ms", IntervalMs.toString,
        "--log", s"$dir/releases.log").inheritIO().start()
      try {
        Thread.sleep(math.max(0L, windowStart - System.currentTimeMillis()))
        Bench.foreignCpu()
        val steal0 = Bench.stealTicks()
        val cpu0 = cpuNs
        require(gen.waitFor() == 0, "stream generator failed")
        released = Files.readAllLines(Paths.get(s"$dir/releases.log")).asScala.toVector.map { l =>
          val Array(n, due, at) = l.split(" ")
          (n, due.toDouble, at.toDouble)
        }
        val names = (fileName(0) +: released.map(_._1)).toSet
        def committed = {
          val b = batchOfFile(ckpt)
          names.count(n => b.get(n).exists(id => commitMs(ckpt, id).isDefined))
        }
        waitUntil(60000)(committed == names.size || err != null)
        val cpu = cpuNs - cpu0
        val foreign = Bench.foreignCpu()
        val steal = stealSince(steal0)
        val idle = if (!traced) 0.0 else {
          val c0 = cpuNs
          Thread.sleep(IdleWindowMs)
          (cpuNs - c0) / 1e6 / IdleWindowMs
        }
        window = (cpu, windowStart.toDouble, steal, foreign, idle)
      } finally if (gen.isAlive) { gen.destroy(); gen.waitFor() }
    } finally {
      spark.streams.active.foreach(_.stop())
      runner.join(60000)
      if (traced) su.layers.get.detach()
    }
    require(err == null && rc == 0, s"stream run failed: rc=$rc $err")

    val batchOf = batchOfFile(ckpt)
    val commitOf = (n: String) => batchOf.get(n).flatMap(commitMs(ckpt, _))
    val measured = released.drop(warmFiles)
    val latencies = measured.flatMap { case (n, due, _) => commitOf(n).map(_ - due) }
    val lastCommit = measured.flatMap { case (n, _, _) => commitOf(n) }.maxOption.getOrElse(window._2)
    val failedFiles = (1 + released.size) - (fileName(0) +: released.map(_._1)).count(n => commitOf(n).isDefined)
    val batches = measured.flatMap { case (n, _, _) => batchOf.get(n) }.distinct.size
    val records = total.toLong * FileRecords
    val correct = check(expectedDigest(spark, "stream_trickle", o.seed, records),
      actualDigest(spark, "stream_trickle", out), s"stream_trickle${if (traced) " traced" else ""}")
    Segment(latencies, batches, window._1, lastCommit - window._2,
      measured.size.toLong * FileRecords, total, failedFiles, released.map(r => r._3 - r._2),
      window._5, correct, input, records, window._3, window._4)
  }

  /** Latencies are CPU-bound durations and are taken net of steal; the
    * throughput is paced by the generator's schedule and is not. */
  def e2e(g: Segment, setupS: Double): Map[String, Double] = Map(
    "throughput_rps" -> g.measuredRecords / (g.windowMs / 1000),
    "cpu_ms_per_krec" -> (g.cpuNs / 1e6) / (g.measuredRecords / 1000.0),
    "latency_p50_ms" -> netOfSteal(Stats.median(g.latenciesMs), g.steal),
    "latency_p90_ms" -> netOfSteal(Stats.percentile(g.latenciesMs, 0.9), g.steal),
    "setup_s" -> setupS)

  /** Median latency of the first and the second half of the measured
    * files: equal halves mean the backlog stayed flat at the offered rate. */
  def halves(g: Segment): (Double, Double) = {
    val (a, b) = g.latenciesMs.splitAt(g.latenciesMs.size / 2)
    (Stats.median(a), Stats.median(b))
  }

  def run(o: Opts): String = {
    val su = setup(o, spec("stream_trickle"), o.trace)
    val measuredFiles = math.max(1, o.seconds * 1000 / IntervalMs)
    val plain = segment(su, o, s"${o.work}/stream", measuredFiles, WarmupFiles, traced = false)
    val (firstHalf, secondHalf) = halves(plain)
    log(f"host: steal_frac=${plain.steal}%.4f foreign_cores=${plain.foreign}%.3f " +
      f"raw_latency_p50_ms=${Stats.median(plain.latenciesMs)}%.1f setup_raw_s=${su.setupRawS}%.3f " +
      s"latency_samples=${plain.latenciesMs.size} micro_batches=${plain.batches} " +
      f"files=${plain.files} generator_late_max_ms=${plain.lateMs.max}%.1f " +
      f"latency_p50_first_half_ms=$firstHalf%.1f latency_p50_second_half_ms=$secondHalf%.1f")
    val e2eUntraced = e2e(plain, su.setupS)
    var correct = plain.correct
    val metrics =
      if (!o.trace) e2eUntraced
      else {
        val layers = su.layers.get
        Spans.enabled = true
        val traced = Spans("runtime.stream")(
          segment(su, o, s"${o.work}/stream_traced", measuredFiles, WarmupFiles, traced = true))
        reportOverhead(e2eUntraced, e2e(traced, su.setupS))
        val lp = Spans("layers")(layerPasses(su, traced.input, s"${o.work}/typed.parquet", traced.records))
        val batchRun = Spans("runtime.batch_main_runs")(timedPasses(su.spark,
          mainArgs(spec("stream_trickle"), traced.input, s"${o.work}/batch_out.parquet"), LayerReps))
        Spans.enabled = false
        val progress = layers.progress.asScala.toVector.filter(_.numInputRows > 0)
        def dur(k: String) = Stats.median(progress.map(p =>
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
        val out = actualDigest(su.spark, "stream_trickle", s"${o.work}/stream_traced/out.parquet").count
        correct &&= traced.correct && batchRun.failed == 0
        perLayer(su, o, lp, traced.input, traced.records, out,
          Stats.median(batchRun.wallNs)) ++ Map(
          "stream.batches" -> progress.size.toDouble,
          "stream.rows_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble)),
          "stream.latest_offset_ms" -> dur("latestOffset"),
          "stream.planning_ms" -> dur("queryPlanning"),
          "stream.add_batch_ms" -> dur("addBatch"),
          "stream.wal_commit_ms" -> dur("walCommit"),
          "stream.idle_cores" -> traced.idleCores,
          "gen.late_ms" -> traced.lateMs.max,
          "spark.plan_ms" -> (layers.planNs.get / 1e6 + progress.map(p =>
            Option(p.durationMs.get("queryPlanning")).map(_.doubleValue).getOrElse(0.0)).sum))
      }
    resultJson(correct, plain.files, plain.failedFiles, metrics)
  }
}
