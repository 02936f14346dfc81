package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Bench
import graft.pipeline.Pipeline
import graft.runtime.{GoldenFile, GraftExtensions, GraftScript, Main}
import graft.serde.KeyValueMapping
import graft.types.AvroDecode

/** The benchmark's JVM. Modes:
  *  - `run`: one workload end to end, result JSON written to `--result`;
  *  - `smoke`: every workload at a small size, then checks that a
  *    deliberately corrupted output fails the output check.
  * Started by `perfbench/run.py` from the root of the checkout. */
object Harness {

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, python: String, result: String, traces: String)

  final case class Spec(script: String, inSerde: String, outSerde: String, golden: String)

  private val W = "perfbench/workloads"
  private val EventSchema = s"$W/avro_restructure/event.avsc"
  private val OutSchema = s"$W/avro_restructure/restructured.avsc"
  private val LegacySchema = s"$W/avro_restructure/legacy.avsc"

  def spec(workload: String): Spec = workload match {
    case "avro_restructure" | "stream_trickle" => Spec(s"$W/avro_restructure/pipeline.graft",
      s"long,avro=$EventSchema@${Events.InId}", s"long,avro=$OutSchema@${Events.OutId}",
      s"$W/avro_restructure/golden.json")
    case "time_strings" => Spec("examples/time/pipeline.graft", "string,string", "long,long",
      "examples/time/golden.json")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Worker threads: below the host's four cores, so the benchmark's own
    * driver thread and the OS do not take a worker's core. */
  val Threads = 3
  /** Input files per batch input; one split each, eight per worker
    * thread, so one slowed thread cannot hold up a stage. */
  val Splits = 24
  /** Records per batch pass, sized for about one second per pass. */
  val AvroRecords = 120000L
  val TimeRecords = 240000L
  /** Untimed passes before the timed ones, for JIT and caches. */
  val WarmupPasses = 3
  /** Repetitions of each isolated layer pass in a traced run. */
  val LayerReps = 3
  /** Stream: records per released file and release interval (1,000
    * records/s offered), and files released before the measured window
    * opens. */
  val FileRecords = 120
  val IntervalMs = 120
  val WarmupFiles = 20
  val IdleWindowMs = 2000

  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
  def log(msg: String): Unit = println(s"[perfbench] $msg")
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("mode"), m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1", m("work"),
      m.getOrElse("python", "python3"), m.getOrElse("result", ""), m.getOrElse("traces", ".bench_build/traces"))
  }

  /** Steal counters when the harness starts, a few hundred ms after the
    * JVM did. */
  private var stealAtStart = (-1L, -1L)

  def main(argv: Array[String]): Unit = {
    stealAtStart = Bench.stealTicks()
    val o = parse(argv)
    val code =
      try o.mode match {
        case "run" =>
          writeResult(o.result, run(o))
          if (o.trace) Spans.write(s"${o.traces}/${o.workload}-${o.seed}.json")
          0
        case "smoke" => if (Smoke.all(o)) 0 else 1
        case other => System.err.println(s"unknown mode $other"); 2
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  private def writeResult(path: String, json: String): Unit =
    Files.writeString(Paths.get(path), json)

  // ------------------------------------------------------------- set-up

  final case class Setup(spark: SparkSession, pipeline: Pipeline, kvIn: KeyValueMapping,
      kvOut: KeyValueMapping, setupS: Double, setupRawS: Double, layers: Option[Layers])

  def session(work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.files.minPartitionNum", Splits.toString)
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM start to the return of the golden pre-pass: the session with
    * GraftExtensions, the serde schemas, the script, then the golden
    * pre-pass, each through the program's public call. */
  def setup(o: Opts, s: Spec, traced: Boolean): Setup = {
    Spans.enabled = traced
    val spark = Spans("runtime.session")(session(o.work))
    val layers = if (Spans.enabled) Some(new Layers(spark)) else None
    layers.foreach(_.attach())
    val (kvIn, kvOut) = Spans("serde.schema_parse")(
      (KeyValueMapping.fromString(s.inSerde), KeyValueMapping.fromString(s.outSerde)))
    val pipeline = Spans("runtime.script_parse")(GraftScript.parseFile(s.script))
    Spans("runtime.golden")(GoldenFile.verify(spark, pipeline, s.golden)) match {
      case Left(msg) => throw new IllegalStateException(s"golden pre-pass failed: $msg")
      case Right(_) =>
    }
    val setupRawS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val setupS = netOfSteal(setupRawS, stealSince(stealAtStart))
    layers.foreach(_.detach())
    Spans.enabled = false
    Setup(spark, pipeline, kvIn, kvOut, setupS, setupRawS, layers)
  }

  // -------------------------------------------------------------- inputs

  /** Writes records [from, until) as `parts` parquet files of Kafka-shaped
    * (key, value) binary frames, built by `frame` in Spark tasks. */
  def writeFrames(spark: SparkSession, path: String, from: Long, until: Long, parts: Int,
      frame: () => Long => (Array[Byte], Array[Byte])): Unit = {
    import spark.implicits._
    spark.range(0, parts.toLong, 1, parts).mapPartitions { it =>
      val f = frame()
      it.flatMap { p =>
        val lo = from + (until - from) * p / parts
        val hi = from + (until - from) * (p + 1) / parts
        Iterator.range(0, (hi - lo).toInt).map(k => f(lo + k))
      }
    }.toDF("key", "value").write.mode("overwrite").parquet(path)
  }

  def frameFn(workload: String, seed: Long): () => Long => (Array[Byte], Array[Byte]) =
    workload match {
      case "time_strings" => () => i => Stamps.frame(seed, i)
      case _ =>
        val (in, legacy) = (read(EventSchema), read(LegacySchema))
        () => { val w = new Events.Writer(in, legacy); i => w.frame(seed, i) }
    }

  // -------------------------------------------------------------- checks

  /** Digest of the expected output of records [0, n), from the model. */
  def expectedDigest(spark: SparkSession, workload: String, seed: Long, n: Long): Digest = {
    import spark.implicits._
    val parts = math.max(1L, math.min(Splits.toLong, n / 1000)).toInt
    val exp: Long => Option[String] = workload match {
      case "time_strings" => i => { val (k, v) = Stamps.record(seed, i); Stamps.expected(k, v) }
      case _ => i => Events.expected(Events.event(seed, i))
    }
    spark.range(0, n, 1, parts).mapPartitions { it =>
      Iterator(Digest.of(it.flatMap(i => exp(i)).map(Some(_))))
    }.collect().foldLeft(Digest.empty)(_ + _)
  }

  /** Digest of an output directory, each frame read back independently. */
  def actualDigest(spark: SparkSession, workload: String, path: String): Digest = {
    import spark.implicits._
    val dec: () => (Array[Byte], Array[Byte]) => Option[String] = workload match {
      case "time_strings" => () => Stamps.actual
      case "probe" =>
        val out = read("examples/demo/desired.avsc")
        () => { val s = Frames.parse(out); (k, v) => Probe.actual(k, v, s) }
      case _ =>
        val out = read(OutSchema)
        () => { val s = Frames.parse(out); (k, v) => Events.actual(k, v, s) }
    }
    spark.read.parquet(path).select(col("key"), col("value")).as[(Array[Byte], Array[Byte])]
      .mapPartitions { it => val d = dec(); Iterator(Digest.of(it.map { case (k, v) => d(k, v) })) }
      .collect().foldLeft(Digest.empty)(_ + _)
  }

  def check(expected: Digest, actual: Digest, what: String): Boolean = {
    val ok = actual.bad == 0 && actual == expected
    if (!ok) log(s"CHECK FAILED $what: expected $expected, got $actual")
    ok
  }

  // ------------------------------------------------------------- batch

  /** Share of this VM's busy CPU ticks that the hypervisor stole since
    * `from` (a [[graft.Bench.stealTicks]] reading); 0 when unreadable. */
  def stealSince(from: (Long, Long)): Double = {
    val now = Bench.stealTicks()
    if (from._1 < 0 || now._1 < 0 || now._2 <= from._2) 0.0
    else (now._1 - from._1).toDouble / (now._2 - from._2)
  }

  /** Wall time net of steal: the time the work took on the CPU share the
    * hypervisor left this VM. Co-tenants on the physical host took 3% to
    * 28% of it from one run to the next, which moved raw wall times by as
    * much; the raw times and the steal share are logged beside. */
  def netOfSteal(wall: Double, steal: Double): Double = wall * (1 - steal)

  final case class Pass(wallNs: Double, steal: Double, cpuNs: Long, ok: Boolean, foreign: Double)

  final case class Passes(all: Vector[Pass]) {
    private def ok = all.filter(_.ok)
    def wallNs: Vector[Double] = ok.map(_.wallNs)
    def steal: Vector[Double] = ok.map(_.steal)
    def netMs: Vector[Double] = ok.map(p => netOfSteal(p.wallNs, p.steal) / 1e6)
    def cpuNs: Long = all.map(_.cpuNs).sum
    def failed: Int = all.count(!_.ok)
    def foreign: Vector[Double] = all.map(_.foreign)
  }

  def mainArgs(s: Spec, in: String, out: String): Array[String] =
    Array("-i", in, "-o", out, "-d", s.inSerde, "-s", s.outSerde, "-l", s.script)

  /** One timed `Main.run`: wall time, steal share, process CPU time and the
    * foreign CPU since the previous pass. */
  def timedPass(spark: SparkSession, argv: Array[String]): Pass = {
    val st0 = Bench.stealTicks()
    val cpu0 = cpuNs
    val t0 = System.nanoTime()
    val rc = Spans("runtime.main_run")(Main.run(spark, argv))
    val dt = (System.nanoTime() - t0).toDouble
    Pass(dt, stealSince(st0), cpuNs - cpu0, rc == 0, Bench.foreignCpu())
  }

  def timedPasses(spark: SparkSession, argv: Array[String], passes: Int): Passes = {
    Bench.foreignCpu()
    Passes(Vector.fill(passes)(timedPass(spark, argv)))
  }

  /** Untraced and traced passes in turn, so that JIT warm-up and host
    * load fall on both sides alike. */
  def pairedPasses(spark: SparkSession, argv: Array[String], passes: Int,
      layers: Layers): (Passes, Passes) = {
    Bench.foreignCpu()
    val pairs = Vector.fill(passes) {
      val plain = timedPass(spark, argv)
      layers.attach()
      Spans.enabled = true
      val traced = Spans("timed")(timedPass(spark, argv))
      layers.detach()
      Spans.enabled = false
      (plain, traced)
    }
    (Passes(pairs.map(_._1)), Passes(pairs.map(_._2)))
  }

  def batchMetrics(p: Passes, n: Long, setupS: Double): Map[String, Double] = {
    val ms = p.netMs
    Map(
      "throughput_rps" -> n / (Stats.median(ms) / 1000),
      "cpu_ms_per_krec" -> (p.cpuNs / 1e6) / ((p.wallNs.size + p.failed) * n / 1000.0),
      "latency_p50_ms" -> Stats.median(ms),
      "latency_p90_ms" -> Stats.percentile(ms, 0.9),
      "setup_s" -> setupS)
  }

  /** The decode-rejection probe: `examples/demo` (no null filter) over
    * eight frames, one with a foreign schema id. Untimed. True when the
    * program drops that frame and writes the other seven correctly. */
  def probe(spark: SparkSession, work: String): Boolean = {
    import spark.implicits._
    val (in, legacy) = (read(s"$W/probe/event.avsc"), read(LegacySchema))
    val inPath = s"$work/probe_in.parquet"
    val outPath = s"$work/probe_out.parquet"
    (0 until Probe.Records).map(i => Probe.frame(in, legacy, i)).toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(inPath)
    val argv = Array("-i", inPath, "-o", outPath,
      "-d", s"long,avro=$W/probe/event.avsc@${Events.InId}",
      "-s", s"long,avro=examples/demo/desired.avsc@${Events.OutId}",
      "-l", "examples/demo/pipeline.graft")
    spark.sparkContext.setLogLevel("OFF")
    val outcome =
      try {
        if (Main.run(spark, argv) != 0) Left("exit code non-zero")
        else {
          val exp = Digest.of(Probe.expected.iterator.map(Some(_)))
          if (check(exp, actualDigest(spark, "probe", outPath), "probe")) Right(())
          else Left("wrong output")
        }
      } catch { case e: Throwable => Left(rootCause(e)) }
      finally spark.sparkContext.setLogLevel("WARN")
    outcome.left.foreach(m => log(s"decode-rejection probe failed: $m"))
    outcome.isRight
  }

  private def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").linesIterator.take(1).mkString}"
  }

  def records(workload: String): Long =
    if (workload == "time_strings") TimeRecords else AvroRecords

  def run(o: Opts): String =
    if (o.workload == "stream_trickle") StreamRun.run(o) else runBatch(o)

  def runBatch(o: Opts): String = {
    val s = spec(o.workload)
    val su = setup(o, s, o.trace)
    val spark = su.spark
    val n = records(o.workload)
    val in = s"${o.work}/in.parquet"
    val out = s"${o.work}/out.parquet"
    val phases = new Phases
    phases("generate")(writeFrames(spark, in, 0, n, Splits, frameFn(o.workload, o.seed)))
    val argv = mainArgs(s, in, out)
    phases("warm-up")(for (_ <- 1 to WarmupPasses) require(Main.run(spark, argv) == 0, "warm-up pass failed"))
    val passes = math.max(3, o.seconds)
    val (untraced, traced) = phases("timed") {
      if (o.trace) { val (u, t) = pairedPasses(spark, argv, passes, su.layers.get); (u, Some(t)) }
      else (timedPasses(spark, argv, passes), None)
    }
    val e2e = batchMetrics(untraced, n, su.setupS)
    val expected = phases("expected")(expectedDigest(spark, o.workload, o.seed, n))
    val actual = phases("check")(actualDigest(spark, o.workload, out))
    var correct = check(expected, actual, o.workload)
    var failed = untraced.failed
    var attempted = passes
    if (o.workload == "avro_restructure") {
      attempted += 1
      if (!phases("probe")(probe(spark, o.work))) failed += 1
    }
    log(f"phases: setup ${su.setupS}%.1fs $phases")
    log(f"host: steal_frac=${Stats.median(untraced.steal)}%.4f " +
      f"foreign_cores=${Stats.median(untraced.foreign)}%.3f " +
      f"raw_wall_p50_ms=${Stats.median(untraced.wallNs) / 1e6}%.1f setup_raw_s=${su.setupRawS}%.3f " +
      s"passes=${untraced.wallNs.size} records_per_pass=$n")
    val metrics = traced match {
      case None => e2e
      case Some(t) =>
        correct &&= t.failed == 0
        reportOverhead(e2e, batchMetrics(t, n, su.setupS))
        Spans.enabled = true
        val lp = Spans("layers")(layerPasses(su, in, s"${o.work}/typed.parquet", n))
        Spans.enabled = false
        perLayer(su, o, lp, in, n, expected.count, Stats.median(t.wallNs)) ++
          StreamRun.zeroStreamMetrics
    }
    resultJson(correct, attempted, failed, metrics)
  }

  def reportOverhead(untraced: Map[String, Double], traced: Map[String, Double]): Unit = {
    val keys = untraced.keys.toSeq.sorted
    def obj(m: Map[String, Double]) = keys.map(k => f""""$k": ${m(k)}%.6f""").mkString("{", ", ", "}")
    val pct = keys.map(k => f""""$k": ${(traced(k) / untraced(k) - 1) * 100}%.2f""").mkString("{", ", ", "}")
    println(s"""trace_overhead: {"untraced": ${obj(untraced)}, "traced": ${obj(traced)}, "overhead_pct": $pct}""")
  }

  // --------------------------------------------------------- layer passes

  final case class LayerTimes(read: Double, decode: Double, chain: Double, full: Double,
      readTyped: Double, encode: Double)

  /** Isolated passes to the noop sink, each the median of [[LayerReps]]
    * repetitions, built from the same public calls `Main` makes. */
  def layerPasses(su: Setup, in: String, typed: String, n: Long): LayerTimes = {
    val spark = su.spark
    def src = spark.read.parquet(in)
    def noop(name: String)(df: => DataFrame): Double = Stats.median((1 to LayerReps).map { _ =>
      Spans(name) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
    })
    val read = noop("runtime.source_pass")(src)
    val decode = noop("serde.decode_pass")(su.kvIn.decode(src))
    val chain = noop("pipeline.chain_pass")(su.pipeline.compile(su.kvIn.decode(src)))
    val full = noop("pipeline.full_noop_pass")(su.kvOut.encode(su.pipeline.compile(su.kvIn.decode(src))))
    su.pipeline.compile(su.kvIn.decode(src)).write.mode("overwrite").parquet(typed)
    val readTyped = noop("runtime.typed_source_pass")(spark.read.parquet(typed))
    val encode = noop("serde.encode_pass")(su.kvOut.encode(spark.read.parquet(typed)))
    LayerTimes(read, decode, chain, full, readTyped, encode)
  }

  def decodeExprsInPlan(su: Setup, in: String): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = su.kvOut.encode(su.pipeline.compile(su.kvIn.decode(su.spark.read.parquet(in))))
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case p => p.expressions.map(_.collect { case d: AvroDecode => d }.size).sum }.sum
  }

  def perLayer(su: Setup, o: Opts, lp: LayerTimes, in: String, n: Long, out: Long,
      mainRunNs: Double): Map[String, Double] = {
    val spark = su.spark
    val layers = su.layers.get
    def span(name: String) = Spans.durationsMs(name).headOption.getOrElse(0.0)
    val rejected = su.kvIn.decode(spark.read.parquet(in)).where(col("value").isNull).count()
    val perRec = (ns: Double) => ns / n
    Map(
      "runtime.session_s" -> span("runtime.session") / 1000,
      "runtime.script_parse_ms" -> span("runtime.script_parse"),
      "runtime.golden_s" -> span("runtime.golden") / 1000,
      "runtime.source_ns_per_rec" -> perRec(lp.read),
      "runtime.sink_ns_per_rec" -> perRec(mainRunNs - lp.full),
      "serde.schema_parse_ms" -> span("serde.schema_parse"),
      "serde.decode_ns_per_rec" -> perRec(lp.decode - lp.read),
      "serde.encode_ns_per_rec" -> perRec(lp.encode - lp.readTyped),
      "serde.decode_exprs_in_plan" -> decodeExprsInPlan(su, in).toDouble,
      "serde.decode_rejected" -> rejected.toDouble,
      "pipeline.chain_ns_per_rec" -> perRec(lp.chain - lp.decode),
      "pipeline.fusion_gap_ns_per_rec" -> perRec(lp.full - lp.chain - (lp.encode - lp.readTyped)),
      "pipeline.in" -> n.toDouble,
      "pipeline.dropped" -> (n - out).toDouble,
      "pipeline.out" -> out.toDouble,
      "spark.plan_ms" -> layers.planNs.get / 1e6,
      "spark.codegen_compile_ms" -> layers.compileMs,
      "spark.jobs" -> layers.jobs.get.toDouble,
      "spark.tasks" -> layers.tasks.get.toDouble,
      "spark.task_cpu_s" -> layers.taskCpuNs.get / 1e9,
      "spark.task_gc_s" -> layers.taskGcMs.get / 1e3,
      "spark.task_skew" -> layers.taskSkew,
      "spark.bytes_read" -> layers.bytesRead.get.toDouble,
      "spark.bytes_written" -> layers.bytesWritten.get.toDouble,
      "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Wall time of the run's untimed phases, for the log. */
  final class Phases {
    private val done = ArrayBuffer.empty[(String, Double)]
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally done += name -> (System.nanoTime() - t0) / 1e9
    }
    override def toString: String = done.map { case (n, s) => f"$n ${s}%.1fs" }.mkString(" ")
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int, metrics: Map[String, Double]): String = {
    metrics.foreach { case (k, v) => require(!v.isNaN && !v.isInfinite, s"metric $k is $v") }
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }

  def moveFile(from: String, to: String): Unit =
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
}
