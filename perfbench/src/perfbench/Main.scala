package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{MatchBlocking, MatchPipeline}
import graft.schema.EmployeeNormalizer
import graft.streaming.MatchServing

/** Timing and outcome of one pass (one whole round of operations). */
final case class PassStat(wallS: Double, cpuS: Double, gcS: Double,
                          latenciesMs: Seq[Double], ops: Int, failed: Int)

/** Benchmark harness of the flagship matcher. Runs one workload in this JVM
  * and writes its result JSON; `perfbench/run.py` builds the classes, lays the
  * inputs out and launches this.
  *
  *   perfbench.Main --workload W --seconds S --trace 0|1 --cpus N
  *                  --inputs DIR --answers DIR --out DIR
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(opt("workload"), opt("seconds").toDouble, opt("trace") == "1",
      opt("cpus").toInt, opt("inputs"), opt("answers"), opt("out"))
    run.execute()
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Run(workload: String, seconds: Double, traced: Boolean, cpus: Int,
                inputs: String, answers: String, out: String) {
  import Main.median

  require(Set("ref_stream", "wide_exact", "wide_blocked")(workload), s"unknown workload $workload")
  private val blocked = workload == "wide_blocked"
  private val streamed = workload == "ref_stream"

  private val tracer = new Tracer(traced, s"$workload-${System.currentTimeMillis()}")
  private val exec = new ExecListener
  private val serving = new ServingListener
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val runFaults = mutable.ArrayBuffer.empty[String]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (traced) s.sparkContext.addSparkListener(exec)
    s.streams.addListener(serving)
    s
  }

  // ---- inputs ----

  private def readUsers(): DataFrame =
    spark.read.schema("username STRING").option("header", "true").csv(s"$inputs/usernames.csv")
  private val requestDir = s"$inputs/requests"
  /** Request file name -> the usernames in it. */
  private lazy val requests: Map[String, Set[String]] =
    Check.readTsv(s"$inputs/requests.tsv").groupBy(_(0)).map { case (f, rs) => f -> rs.map(_(1)).toSet }
  private lazy val userSet: Set[String] = requests.values.flatten.toSet
  private var roster: DataFrame = _
  private var rosterRows = 0L

  /** Reads and normalizes the roster and keeps it in memory: what a serving
    * process does once per roster version. */
  private def prepareRoster(): Double = {
    if (roster != null) roster.unpersist(blocking = true)
    val t0 = System.nanoTime()
    tracer.span("normalize") {
      val raw = spark.read.option("header", "true").csv(s"$inputs/roster.csv")
      roster = EmployeeNormalizer.normalize(raw).persist(StorageLevel.MEMORY_ONLY)
      rosterRows = roster.count()
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ---- expected answers (fixture-derived) ----

  private lazy val exactAnswer = Check.readAnswer(s"$answers/exact.tsv")
  private lazy val blockedAnswer = Check.readAnswer(s"$answers/blocked.tsv")
  private lazy val candScores = Check.readPairScores(s"$answers/cand.tsv")
  private def expectedFor(blockedPath: Boolean) = if (blockedPath) blockedAnswer else exactAnswer

  private def collectOut(df: DataFrame): Seq[Out] =
    df.select("username", "emp_id", "emp_name", "confidence_score", "match_type").collect().toSeq
      .map(r => Out(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))

  // ---- one pass of each workload ----

  private def measured(tag: String, span: String = "pass")(body: => Seq[String])
      : (Double, Double, Double, Seq[String]) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.TagKey, tag)
    val gc0 = ExecListener.gcMs
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val faults = try tracer.span(span)(body) catch {
      case e: Exception => log(s"$tag threw: $e"); Seq(s"threw $e")
    } finally sc.setLocalProperty(ExecListener.TagKey, null)
    ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9,
      (ExecListener.gcMs - gc0) / 1e3, faults)
  }

  /** The exact or the blocked path on every username, collected; the faults of
    * its answer come back as the pass result. */
  private var lastRows: Seq[Out] = Nil
  private def widePass(tag: String): PassStat = {
    var rows: Seq[Out] = Nil
    val (wall, cpu, gc, threw) = measured(tag) {
      rows = matchCall(if (blocked) "blocking" else "pipeline", readUsers())
      Nil
    }
    val faults = if (threw.nonEmpty) threw
      else Check.answer(rows, userSet, expectedFor(blocked), if (blocked) Some(candScores) else None)
    if (faults.nonEmpty) log(s"$tag failed: ${faults.take(5).mkString("; ")}")
    lastRows = rows
    PassStat(wall, cpu, gc, Seq(wall * 1000), 1, if (faults.nonEmpty) 1 else 0)
  }

  /** One call into MatchPipeline or MatchBlocking, split into the call itself
    * (its eager jobs), planning (traced runs only) and the action. */
  private def matchCall(layer: String, users: DataFrame): Seq[Out] = {
    val df = tracer.span(s"$layer.call") {
      if (layer == "blocking") MatchBlocking.matchOutput(users, roster)
      else MatchPipeline.matchOutput(users, roster)
    }
    if (traced) tracer.span(s"$layer.plan")(df.queryExecution.executedPlan)
    tracer.span(s"$layer.execute")(collectOut(df))
  }

  private var passNo = 0
  /** Serves every request file through MatchServing, one file per trigger.
    * Each batch is one operation, checked against the expected answer of the
    * request file whose usernames it holds. */
  private def servingPass(tag: String, source: String = requestDir, blockedPath: Boolean,
                          span: String = "pass"): (PassStat, Seq[Batch]) = {
    val dir = s"$out/serve/$tag"
    serving.currentPass = tag
    val (wall, cpu, gc, threw) = measured(tag, span) {
      MatchServing.matchStreaming(spark, source, roster, s"$dir/out", s"$dir/ckpt",
        blocked = blockedPath)
      Nil
    }
    val passSpan = tracer.lastClosed
    val batches = if (threw.nonEmpty) Nil else serving.await(tag)
    batches.foreach(b => tracer.addEpoch("serving.batch", passSpan, b.startEpochMs,
      b.durations.getOrElse("triggerExecution", 0L)))
    val served = if (threw.nonEmpty) Map.empty[Long, Seq[Out]] else {
      val df = MatchServing.readServed(spark, s"$dir/out")
      df.select("batch_id", "username", "emp_id", "emp_name", "confidence_score", "match_type")
        .collect().toSeq
        .groupBy(_.getLong(0))
        .map { case (b, rs) => b -> rs.map(r =>
          Out(r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5))) }
    }
    // a request file is served right when exactly one batch holds its
    // usernames and that batch's answer passes the check
    val files = new java.io.File(source).list().filter(_.endsWith(".parquet")).toSet
    val asked = requests.filter { case (f, _) => files(f) }
    val byUsers = asked.map { case (f, us) => us -> f }
    val servedFiles = mutable.Set.empty[String]
    val okFiles = mutable.Set.empty[String]
    served.toSeq.sortBy(_._1).foreach { case (b, rows) =>
      val users = rows.map(_.username).toSet
      val file = byUsers.get(users)
      val faults = file match {
        case None => Seq("holds no request file's usernames")
        case Some(f) if !servedFiles.add(f) => okFiles -= f; Seq(s"$f served twice")
        case Some(_) => Check.answer(rows, users, expectedFor(blockedPath))
      }
      if (faults.isEmpty) okFiles ++= file
      else log(s"$tag batch $b failed: ${faults.take(5).mkString("; ")}")
    }
    if (batches.size != served.size) log(s"$tag: ${batches.size} progress reports for ${served.size} batches")
    val lat = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    (PassStat(wall, cpu, gc, lat, asked.size, asked.size - okFiles.size), batches)
  }

  // ---- the run ----

  def execute(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    spark
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // set-up, part 1: reading and normalizing the roster, three times
    val prepS = median(Seq.fill(3)(prepareRoster()))
    // set-up, part 2: an untimed warm-up (two served request files; one whole
    // wide pass), so that code generation, JIT and the session's lazy state
    // are paid before timing
    val w0 = System.nanoTime()
    tracer.enabled = false
    if (streamed) servingPass("warmup", s"$inputs/warmup", blockedPath = false)
    else matchCall(if (blocked) "blocking" else "pipeline", readUsers())
    tracer.enabled = traced
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + prepS + warmS
    log(f"setup: session $sessionS%.2f s, roster $prepS%.3f s (median of 3), warm-up $warmS%.2f s")

    val passes = mutable.ArrayBuffer.empty[PassStat]
    val servedBatches = mutable.ArrayBuffer.empty[Batch]
    val t0 = System.nanoTime()
    while (passes.isEmpty || System.nanoTime() - t0 < seconds * 1e9) {
      val tag = s"pass-$passNo"
      passNo += 1
      if (streamed) {
        val (p, b) = servingPass(tag, blockedPath = false)
        passes += p; servedBatches ++= b
      } else passes += widePass(tag)
    }
    val attempted = passes.map(_.ops).sum
    val failed = passes.map(_.failed).sum
    log(f"${passes.size} passes, walls ${passes.map(p => f"${p.wallS}%.3f").mkString(" ")}, " +
      f"cpu ${passes.map(p => f"${p.cpuS}%.2f").mkString(" ")}")

    if (!traced) {
      put("setup_s", setupS, "s")
      put("match_wall_s", median(passes.map(_.wallS)), "s")
      put("cpu_s", median(passes.map(_.cpuS)), "s")
      put("latency_p50_ms", median(passes.flatMap(_.latenciesMs)), "ms")
    } else {
      put("trace.match_wall_s", median(passes.map(_.wallS)), "s")
      put("normalize.wall_s", median(tracer.durationsS("normalize")), "s")
      layerProbes(servedBatches.toSeq)
    }
    if (traced) tracer.write(s"$out/spans.jsonl", s"$out/spans_summary.txt")
    spark.stop() // drains the listener bus
    if (traced) execMetrics(passes.toSeq)

    val correct = runFaults.isEmpty && failed < attempted
    runFaults.foreach(f => log(s"run fault: $f"))
    writeResult(correct, attempted, failed)
  }

  // ---- traced run: per-layer metrics ----

  private def layerProbes(servedBatches: Seq[Batch]): Unit = {
    val users = userSet.toSeq.sorted
    val names = roster.select("first_name", "last_name", "employee_name").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    Kernels.measure(users, names).foreach { case (n, v) => put(n, v, "ns") }

    // score: the exact path's pair scoring into the noop sink
    val scoredPlan = Plans.capturing(spark) {
      tracer.span("score.scored_pairs")(Plans.noopWrite(MatchPipeline.scoredPairs(readUsers(), roster)))
    }
    put("score.pairs", Plans.nestedLoopRows(scoredPlan).toDouble, "count")
    put("score.scored_pairs_s", median(tracer.durationsS("score.scored_pairs")), "s")

    // topk: the bounded-heap aggregate over a checkpointed scored frame
    val scored = MatchPipeline.scoredPairs(readUsers(), roster)
      .select("username", "emp_id", "employee_name", "score")
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    tracer.span("topk.agg") {
      Plans.noopWrite(scored.groupBy("username").agg(graft.functions.topk_match(
        scored("score"), scored("emp_id"), scored("employee_name"), MatchPipeline.TopK).as("tk")))
    }
    put("topk.agg_s", median(tracer.durationsS("topk.agg")), "s")
    scored.unpersist(blocking = true)

    // pipeline: from the passes on wide_exact; else per request file
    // (ref_stream: what each served batch calls) or once on every username
    if (streamed) requests.keys.toSeq.sorted.foreach { f =>
      val rows = matchCall("pipeline", spark.read.parquet(s"$requestDir/$f"))
      val faults = Check.answer(rows, requests(f), exactAnswer)
      if (faults.nonEmpty) runFaults += s"pipeline probe $f: ${faults.head}"
    } else if (blocked) {
      val faults = Check.answer(matchCall("pipeline", readUsers()), userSet, exactAnswer)
      if (faults.nonEmpty) runFaults += s"pipeline probe: ${faults.head}"
    }
    Seq("call", "plan", "execute").foreach(p =>
      put(s"pipeline.${p}_s", median(tracer.durationsS(s"pipeline.$p")), "s"))

    // blocking: from the passes on wide_blocked, else one call
    val blockedRows = if (blocked) lastRows else {
      val rows = matchCall("blocking", readUsers())
      if (!streamed) {
        val faults = Check.answer(rows, userSet, blockedAnswer, Some(candScores))
        if (faults.nonEmpty) runFaults += s"blocking probe: ${faults.head}"
      }
      rows
    }
    Seq("call", "execute").foreach(p =>
      put(s"blocking.${p}_s", median(tracer.durationsS(s"blocking.$p")), "s"))
    val cand = tracer.span("blocking.candidate_pairs") {
      val cp = MatchBlocking.candidatePairs(readUsers(), roster)
      Plans.noopWrite(cp)
      cp
    }
    val nCand = cand.count()
    put("blocking.candidate_pairs_s", median(tracer.durationsS("blocking.candidate_pairs")), "s")
    put("blocking.candidates", nCand.toDouble, "count")
    put("blocking.candidate_ratio", nCand.toDouble / (userSet.size.toDouble * rosterRows), "ratio")
    put("blocking.recall", Check.recall(blockedRows, exactAnswer), "ratio")

    // serving: from the passes on ref_stream, else one batch (the first wide
    // request file) served on the workload's own path
    val batches = if (streamed) servedBatches else {
      val (p, b) = servingPass("serving-probe", s"$inputs/warmup", blocked, "serving.probe")
      if (p.failed > 0) runFaults += s"serving probe: ${p.failed} failed batches"
      b
    }
    put("serving.batches", batches.size.toDouble, "count")
    def dur(key: String): Double = median(batches.map(_.durations.getOrElse(key, 0L).toDouble))
    put("serving.add_batch_ms", dur("addBatch"), "ms")
    put("serving.query_planning_ms", dur("queryPlanning"), "ms")
    put("serving.wal_commit_ms", dur("walCommit"), "ms")
    put("serving.commit_ms", dur("commitOffsets"), "ms")
    put("serving.latest_offset_ms", dur("latestOffset"), "ms")
  }

  /** exec.*: medians over the timed passes of the listener's per-pass sums. */
  private def execMetrics(passes: Seq[PassStat]): Unit = {
    val aggs = (0 until passNo).map(i => exec.byTag.getOrElse(s"pass-$i", new exec.Agg))
    def m(f: exec.Agg => Double): Double = median(aggs.map(f))
    put("exec.jobs", m(_.jobs.toDouble), "count")
    put("exec.stages", m(_.stages.toDouble), "count")
    put("exec.tasks", m(_.tasks.toDouble), "count")
    put("exec.task_run_s", m(_.runMs / 1e3), "s")
    put("exec.task_cpu_s", m(_.cpuNs / 1e9), "s")
    put("exec.task_max_s", m(_.maxTaskMs / 1e3), "s")
    put("exec.shuffle_read_bytes", m(_.shuffleRead.toDouble), "B")
    put("exec.shuffle_write_bytes", m(_.shuffleWrite.toDouble), "B")
    put("exec.spill_bytes", m(_.spill.toDouble), "B")
    put("exec.gc_s", median(passes.map(_.gcS)), "s")
  }

  private def writeResult(correct: Boolean, attempted: Int, failed: Int): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
    val w = new java.io.PrintWriter(s"$out/result.json")
    try w.println(json) finally w.close()
  }
}
