package graft

import scala.jdk.CollectionConverters._

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR, one
  * JSON result line. Each query is forced through the `noop` sink so
  * every output column is actually computed (a bare `count()` would let
  * the optimizer prune the projections being measured).
  *
  * SURVIVES BEING KILLED (round-20 delivery; round 19's driver bench
  * was timeout-killed mid-suite and yielded NOTHING parseable — rc=124
  * left the round with no bench number at all): the board artifact
  * `target/bench_headline.json` is REWRITTEN after every completed
  * query with everything measured so far (stamped `"partial":true`
  * until the run finalizes), a compact partial headline prints to
  * stdout after every completed pass, and a wall-clock budget
  * (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default 3000s) stops measuring in
  * time to emit the full final output INSIDE a typical outer timeout
  * instead of being killed mid-pass. A killed run therefore still
  * leaves (a) the last per-query board file and (b) the last per-pass
  * stdout line; a budget-stopped run leaves the complete final output
  * over the passes it finished.
  *
  * Timing honesty: the FIRST measured run of each query includes that
  * query's Catalyst planning and Janino/whole-stage-codegen compilation
  * (one untimed run of the first query pays only the generic JVM/session
  * warm-up). The headline `value`/`queries` therefore report the COLD
  * cost — what a fresh job pays. Cold is unrepeatable inside one JVM
  * (after the first run the plan/codegen/JIT caches are warm by
  * definition), so it is a single pass; a `cold_suspect` list flags
  * entries whose cold time exceeds 3x their warm median by >2s — the
  * signature of a co-tenant stall, not a plan cost.
  *
  * Noise control (this sandbox is co-tenant; a loaded neighbor inflated
  * one recorded warm entry 40x in round 5, and in round 6 two of three
  * warm passes stalled at loadavg 2.8): the warm regime runs TWO full
  * passes (round 19's three-pass suite at 233 queries is what outran
  * the driver's timeout; r18 already proved best-of-2 sufficient) plus
  * TWO extra passes over the sub-second queries (relative jitter hits
  * those hardest and they are cheap — min-of-4 for them, min-of-2 for
  * the rest) and reports the per-query MIN as `queries_warm`
  * (co-tenant noise is strictly additive, so min is the honest warm
  * estimator; the headline `total_warm` sums it), the per-query MEDIAN
  * as `queries_warm_median`, the raw passes as `warm_passes`, and the
  * per-query MIN-REPRODUCIBILITY `(secondFastest-fastest)/median` as
  * `warm_spread`; queries whose spread exceeds 30% are listed in
  * `noisy_warm` so an outlier is visible in the artifact itself.
  * `loadavg` records the 1-minute load before the run and after every
  * pass.
  *
  * Output: the FULL diagnostic JSON line first, then an ultra-compact
  * integer-ms warm line, then — absolutely last (r21; the driver
  * parses the FINAL stdout line, and sbt's success banner is
  * suppressed in build.sbt so nothing prints after it) — the COMPACT
  * headline line matching the driver contract ({"metric", "value",
  * "unit":"sec", "queries", ..., "sf"}; cold/warm totals + per-query
  * cold and warm-min, ms precision; also persisted to
  * target/bench_headline.json, with the totals repeated at its tail
  * end so a caller keeping only the final ~2 KB still sees them). */
object Bench {

  /** Machine-detectable board pollution (round-19 delivery, round-20
    * recalibration): a board is DEGRADED when there is evidence of
    * CO-TENANT load — load that is not this bench's own work.
    *
    * Round-20 finding: mid-run 1-minute loadavg cannot carry that
    * evidence on ANY machine. Loadavg counts runnable threads, and a
    * `local[32]` pass over the heavy graph queries (PageRank,
    * triangles, k-core) legitimately drives it past any flat
    * threshold — an otherwise-idle rig (before-sample 0.81, zero
    * co-tenants) stamped its own board degraded at loadavg 6.16, the
    * same failure shape the round-19 ADVICE flagged for small `cpus`.
    * Self-load and pollution are indistinguishable in a total.
    *
    * So mid-run pollution is now measured as FOREIGN CPU: system-wide
    * CPU cores in use minus this JVM's own cores in use, sampled from
    * `com.sun.management.OperatingSystemMXBean` at every query
    * boundary (each sample is the average over the preceding query —
    * the exact window whose measurement it could have polluted). The
    * bench's own work cancels out of the subtraction by construction,
    * at every cpu count; what remains is the co-tenant. The idle sbt
    * parent JVM that forked this process is technically foreign but
    * contributes ~0.03 cores, far under threshold.
    *
    * Degraded iff: the BEFORE loadavg sample (taken ahead of any Spark
    * work, so self-load-free and still trustworthy) exceeds `cpus/8`,
    * OR median foreign CPU exceeds `cpus/8` (sustained co-tenant:
    * 4 cores on the 32-cpu rig — the r18/r19 polluted boards ran
    * neighbors at 4.5-8.3 cores, well over), OR p90 foreign CPU
    * exceeds `cpus/3` (a burst big enough to distort the best-of-2
    * warm minimum for the queries it lands on). Failed samples (-1
    * sentinel: unreadable /proc/loadavg, MXBean not yet primed) are
    * ignored — an unreadable counter is not evidence of load. */
  def isDegraded(loads: Seq[Double], foreign: Seq[Double], cpus: Int,
      stealFrac: Double = -1.0): Boolean = {
    val okLoads = loads.filter(_ >= 0)
    val before = okLoads.headOption.getOrElse(0.0)
    val f = foreign.filter(_ >= 0).sorted
    def at(q: Double): Double =
      if (f.isEmpty) 0.0 else f(math.min(f.size - 1, (f.size * q).toInt))
    before > cpus / 8.0 || at(0.5) > cpus / 8.0 || at(0.9) > cpus / 3.0 ||
      stealFrac > 0.40
  }

  /** Hypervisor steal, the third pollution channel (round-20 finding):
    * this rig's host steals a CHRONIC ~25-30% of all CPU the guest
    * demands (/proc/stat cumulative: 13,819s stolen vs 17,844s user
    * since boot), varying by time window — invisible to loadavg AND to
    * the foreign-CPU subtraction, because the thief is outside the VM.
    * It is the dominant cross-round variance source: round 18's five
    * boards of byte-identical code spanned total_warm 257-409s, and
    * the "1.33x uniform slowdown" that degraded every round-19 board
    * has exactly this signature. Boards therefore RECORD the run's
    * steal fraction (steal / (user+nice+sys+steal) over the suite
    * window) so rounds can be compared steal-adjusted, and the
    * degraded stamp fires only past 0.40 — a window substantially
    * worse than the chronic baseline, where per-query numbers stop
    * meaning anything. Returns (stealTicks, demandedTicks) cumulative
    * since boot; -1 sentinels when /proc/stat is unreadable. */
  def stealTicks(): (Long, Long) =
    try {
      val v = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      val steal = if (v.length > 7) v(7) else 0L
      (steal, v(0) + v(1) + v(2) + steal)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Foreign CPU cores in use right now: system-wide CPU load minus
    * this JVM's, scaled to host cores. Each call reports the average
    * since the previous call (the MXBean's native window), so sampling
    * at query boundaries yields per-query pollution evidence. Returns
    * -1 when the MXBean can't say (first call, unsupported platform). */
  def foreignCpu(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val sys = os.getCpuLoad
        val self = os.getProcessCpuLoad
        if (sys < 0 || self < 0 || sys.isNaN || self.isNaN) -1.0
        else math.max(0.0, sys - self) * Runtime.getRuntime.availableProcessors()
      case _ => -1.0
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Boards.cpus
    // Wall-clock budget: stop STARTING new queries once exceeded and
    // finalize with the passes completed, so the full final output is
    // emitted inside the caller's timeout instead of the caller's
    // SIGKILL landing mid-pass (round 19's rc=124). The default sits
    // under the typical 1h outer cap with margin for session teardown.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "3000")
      .toDouble
    val warmPassCount =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_PASSES", "2").toInt
    val startNanos = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - startNanos) / 1e9
    val spark = Boards.session()

    // Pollution samples for the degraded stamp, one per completed query
    // (average foreign CPU over that query's window). Declared ahead of
    // run(); the first foreignCpu() call primes the MXBean, whose first
    // reading has no window and returns the -1 sentinel.
    val foreignSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    foreignCpu()
    val stealStart = stealTicks()
    def stealFracNow(): Double = {
      val (s, d) = stealTicks()
      if (s < 0 || stealStart._1 < 0 || d <= stealStart._2) -1.0
      else (s - stealStart._1).toDouble / (d - stealStart._2)
    }

    def run(name: String): Double = {
      // Clock starts BEFORE query construction: for most queries that is
      // pure plan building (~ms), but e.g. q_ann_ivf runs its k-means
      // training jobs during construction and those belong in the bill.
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Pollution sample for THIS query's window (average since the
      // previous boundary) — feeds the degraded stamp.
      foreignSamples += foreignCpu()
      // UNTIMED cleanup: 233 queries x 3 passes of accumulated pins is
      // storage the next query's bill shouldn't carry
      Boards.unpersistAll(spark)
      dt
    }
    // ms precision: sub-millisecond digits are pure noise on a co-tenant
    // box, and the shorter numbers keep the 233-query headline small
    // enough to survive the driver's bounded tail capture (round 13 lost
    // warm timings for ~100 queries to truncation of full-precision
    // doubles).
    def fmt(results: Seq[(String, Double)]): String =
      results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    def total(results: Seq[(String, Double)]): Double =
      results.map(_._2).filter(_ >= 0).sum
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // Remove any previous run's headline up front: if this run dies
    // before its first incremental write, a caller must find NO file
    // rather than silently reading a stale round's numbers.
    val headlinePath = java.nio.file.Paths.get("target", "bench_headline.json")
    try java.nio.file.Files.deleteIfExists(headlinePath)
    catch { case _: java.io.IOException => () }

    val loads = scala.collection.mutable.ArrayBuffer(loadAvg())
    // Builder-side A/B subset runs (optimization rounds): a
    // comma-separated SPARK_GRAFT_BENCH_ONLY restricts the measured set
    // so a touched query can be re-timed before/after IN THE SAME
    // MACHINE WINDOW (this rig's hypervisor steal varies 25-40% across
    // hours — cross-window comparisons are mush). Unset for the driver:
    // default behavior is byte-identical to before.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd subset name would silently run an EMPTY benchmark and
    // write an empty .subset board — fail loudly with the unknown names
    // instead (the PlanDump/QueryProfile validation convention).
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.benchQueries.toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.benchQueries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))

    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.sorted.apply(ok.length / 2)
    }
    def minOk(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def quote(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")

    // ---- incremental board state -------------------------------------
    // Mutable sample store, flushed to the headline artifact after every
    // completed query: `cold` holds pass-1 times; `warmPasses` the
    // completed (or in-progress) warm passes. buildBoard() renders a
    // valid board from WHATEVER is here — that is the whole crash story.
    val cold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val warmPasses =
      scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.LinkedHashMap[String, Double]]
    var passesDone = 0
    var budgetExhausted = false

    def samples(n: String): Seq[Double] =
      warmPasses.toSeq.flatMap(_.get(n))

    /** Render the board over everything measured so far. `partial`
      * marks a board written mid-run; the driver's parse treats the
      * LAST complete line / latest file state as the result, so a
      * killed run inherits the newest partial. ONE rendering function
      * for every output (per-query flushes, per-pass stdout lines, the
      * final diagnostic + compact + file artifacts), so they cannot
      * drift apart. */
    def buildBoard(partial: Boolean): String = {
      val measuredCold = cold.toSeq
      val warmNames = names.filter(n => samples(n).nonEmpty)
      val warm = warmNames.map(n => n -> minOk(samples(n)))
      val warmMedian = warmNames.map(n => n -> median(samples(n)))
      val warmMap = warm.toMap
      val medianMap = warmMedian.toMap
      // warm_spread measures the MIN ESTIMATOR's reproducibility — the
      // gap between the two fastest passes, relative to the median:
      // the reported warm value IS the min, so what matters is whether
      // a second pass reproduced it; scatter in the slow tail is
      // exactly the co-tenant stall mass min-of-N already discards.
      val spread = warmNames.map { n =>
        val ok = samples(n).filter(_ >= 0).sorted
        val m = medianMap(n)
        n -> (if (ok.size < 2 || m <= 0) -1.0 else (ok(1) - ok(0)) / m)
      }
      val noisyWarm = spread.collect { case (n, s) if s > 0.3 => n }
      val coldSuspect = measuredCold.collect { case (n, c)
        if c >= 0 && warmMap.getOrElse(n, -1.0) > 0 &&
          c > 3 * warmMap(n) && c - warmMap(n) > 2.0 => n }
      // cpus is part of the artifact's identity: a 4-thread builder
      // spot run and the driver's 32-thread board differ 1.3-2x on
      // shuffle-heavy queries (compare boards only at equal cpus).
      s""""metric":"total","value":${f"${total(measuredCold)}%.3f"},"unit":"sec",""" +
        s""""cpus":$cpus,""" +
        s""""partial":$partial,"passes_done":$passesDone,""" +
        s""""budget_exhausted":$budgetExhausted,""" +
        s""""queries":${fmt(measuredCold)},"total_warm":${f"${total(warm)}%.3f"},""" +
        s""""queries_warm":${fmt(warm)},""" +
        s""""noisy_warm":${quote(noisyWarm)},"cold_suspect":${quote(coldSuspect)},""" +
        s""""degraded":${isDegraded(loads.toSeq, foreignSamples.toSeq, cpus.toInt, stealFracNow())},""" +
        s""""loadavg":[${loads.mkString(",")}],""" + {
          // Evidence behind the stamp: median/p90/max foreign cores
          // (count of valid samples alongside, so "0 pollution" off 3
          // samples is distinguishable from 0 off 700).
          val f = foreignSamples.filter(_ >= 0).sorted
          def at(q: Double) =
            if (f.isEmpty) -1.0 else f(math.min(f.size - 1, (f.size * q).toInt))
          s""""foreign_cpu":{"n":${f.size},"median":${f"${at(0.5)}%.2f"},""" +
            s""""p90":${f"${at(0.9)}%.2f"},""" +
            s""""max":${f"${if (f.isEmpty) -1.0 else f.last}%.2f"}},""" +
            s""""steal_frac":${f"${stealFracNow()}%.3f"},""" +
            // totals REPEATED at the board's tail end: a caller that
            // keeps only the final ~2 KB of stdout still sees them
            // (the leading "value"/"total_warm" sit ~15 KB upstream)
            s""""total_cold_sec":${f"${total(measuredCold)}%.3f"},""" +
            s""""total_warm_sec":${f"${total(warm)}%.3f"}"""
        }
    }

    def writeHeadline(partial: Boolean): String = {
      val headline = s"""{${buildBoard(partial)},"sf":"$sfDir"}"""
      try {
        java.nio.file.Files.createDirectories(headlinePath.getParent)
        java.nio.file.Files.write(headlinePath,
          headline.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: java.io.IOException =>
        System.err.println(s"bench: could not write $headlinePath: $e")
      }
      headline
    }

    /** One pass over `queryNames`, flushing the board artifact after
      * every query and honoring the budget BETWEEN queries (an
      * in-flight query is never abandoned — a partially-run Spark job
      * yields no useful time anyway). Returns false when the budget
      * ended the pass early. */
    def measurePass(queryNames: Seq[String],
        into: scala.collection.mutable.LinkedHashMap[String, Double]): Boolean = {
      for (n <- queryNames) {
        if (elapsedSec > budgetSec) {
          budgetExhausted = true
          System.err.println(f"[bench] budget ${budgetSec}%.0fs exhausted " +
            f"at ${elapsedSec}%.0fs — stopping before $n")
          return false
        }
        into(n) = run(n)
        writeHeadline(partial = true)
      }
      true
    }

    // Generic JVM/session/parquet warm-up OUTSIDE the bench set, so no
    // measured query's own plan gets pre-compiled (warming names.head
    // would make its "cold" entry secretly warm). Every registered
    // query is benched, so the warm-up is a bare scan-count — it spins
    // up the JVM, session, codegen, and parquet reader without planning
    // any benched projection/aggregate.
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up scan failed: ${e.getMessage}")
    }

    var ok = measurePass(names, cold)
    loads += loadAvg()
    passesDone += 1
    println(writeHeadline(partial = true))
    var p = 0
    while (ok && p < warmPassCount) {
      val pass = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      warmPasses += pass
      ok = measurePass(names, pass)
      loads += loadAvg()
      passesDone += 1
      println(writeHeadline(partial = true))
      p += 1
    }
    // Sub-second queries are the ones co-tenant jitter distorts most in
    // RELATIVE terms (a 200ms stall is 40% of a 0.5s query, noise on a
    // 5s one) — and they are cheap to re-measure. Two extra passes over
    // just those: min-of-4 for the small rows, min-of-2 for the rest,
    // at a bounded wall cost (< 2x the sub-second part of one pass).
    val subSecond = names.filter { n =>
      val s = samples(n)
      s.nonEmpty && minOk(s) >= 0 && minOk(s) < 1.0
    }
    p = 0
    while (ok && p < 2) {
      val pass = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      warmPasses += pass
      ok = measurePass(subSecond, pass)
      loads += loadAvg()
      passesDone += 1
      println(writeHeadline(partial = true))
      p += 1
    }

    // ---- finalize ----------------------------------------------------
    val core = buildBoard(partial = false)
    val warmNames = names.filter(n => samples(n).nonEmpty)
    val warmMedian = warmNames.map(n => n -> median(samples(n)))
    val warmMap = warmNames.map(n => n -> minOk(samples(n))).toMap
    val spread = warmNames.map { n =>
      val s = samples(n).filter(_ >= 0).sorted
      val m = median(samples(n))
      n -> (if (s.size < 2 || m <= 0) -1.0 else (s(1) - s(0)) / m)
    }
    println(s"{$core," +
      s""""queries_warm_median":${fmt(warmMedian)},""" +
      s""""warm_passes":[${warmPasses.map(m => fmt(m.toSeq)).mkString(",")}],""" +
      s""""warm_spread":${fmt(spread)},""" +
      s""""loadavg_before":${loads.head},"loadavg_after":${loads.last},""" +
      s""""sf":"$sfDir"}""")
    // Ultra-compact warm line (integer ms, ~3.5 KB): human/tail-grab
    // forensics — printed BEFORE the headline since r21 so the
    // DRIVER-PARSEABLE line (schema {"metric","value","unit":"sec",
    // "queries",...,"sf"}) is the literal last stdout line. Round 13's
    // caller kept ~2 KB of tail; the trailing total_*_sec duplicates in
    // buildBoard keep the totals inside that window either way.
    val warmMs = warmNames.map { n =>
      val v = warmMap(n)
      "\"" + n + "\":" + (if (v < 0) "-1" else math.round(v * 1000).toString)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"warm_ms","unit":"ms","warm_ms":$warmMs,""" +
      s""""total_warm_sec":${f"${total(warmNames.map(n => n -> warmMap(n)))}%.3f"},"sf":"$sfDir"}""")
    // Compact headline ABSOLUTELY LAST (r21 — VERDICT r20 item 2: the
    // driver parses the final stdout line; every round before this one
    // ended with either the warm_ms line, whose schema the driver's
    // contract does not match, or sbt's "[success]" banner, which is
    // not JSON at all — PERF_r{10..20}.json all have parsed=None. The
    // banner is suppressed via showSuccess := false in build.sbt). It
    // carries its own adjudication evidence (loadavg, noisy_warm,
    // cold_suspect, degraded): round 8's driver tail truncated the full
    // diagnostic line, leaving a 1.5x warm inflation with no in-artifact
    // proof it was machine noise.
    val headline = writeHeadline(partial = false)
    // ROUND-STAMPED full artifact, in the repo (target/ is gitignored
    // and bench_headline.json is overwritten every run). Round number =
    // latest driver-committed BENCH_r{N}.json + 1 (this run IS that
    // round's bench); the sf tag keeps builder-side sf0.01 spot runs
    // from clobbering the driver's sf0.1 board.
    try {
      val roundRe = "BENCH_r(\\d+)\\.json".r
      // Files.list holds a directory handle — close it (Using) instead
      // of leaking one per bench run
      val round = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get("."))) { s =>
        s.iterator().asScala
          .flatMap(p => roundRe.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toInt))
          .foldLeft(0)(math.max)
      } + 1
      // Subset A/B boards must never masquerade as a full round board
      val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString +
        (if (only.isDefined) ".subset" else "")
      val dir = java.nio.file.Paths.get("bench_full")
      java.nio.file.Files.createDirectories(dir)
      // Never clobber an existing round file: before the driver commits
      // BENCH_r{N}.json every re-run infers the SAME round number, and
      // a silent overwrite would replace the exact per-query board this
      // file exists to preserve — suffix re-runs instead.
      val base = s"BENCH_r${round}_full_$sfTag"
      val path = Iterator.from(0)
        .map(i => dir.resolve(if (i == 0) s"$base.json" else s"$base.run$i.json"))
        .find(p => !java.nio.file.Files.exists(p)).get
      java.nio.file.Files.write(path,
        headline.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write bench_full artifact: $e")
    }
    // stop the session BEFORE the final print (and silence teardown
    // warnings): nothing — not a Spark shutdown WARN, not sbt's banner
    // — may land on stdout/stderr after the driver-parseable line
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(headline)
  }
}
