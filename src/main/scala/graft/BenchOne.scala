package graft

/** Developer utility: time ONE named SparkEntry query without paying for the
  * full bench sweep. Prints per-rep wall and process-CPU seconds plus the
  * min of each — the same estimators Bench.scala reports — so a local
  * optimization loop can iterate on a single regression.
  *
  *   sbt "runMain graft.BenchOne dd_corpus_dedup /root/testdata/sf0.1 3"
  *
  * Optional args(3)/args(4) override the warmup rep count (default 1) and
  * warmup dir (default sf0.01) — used to diagnose JIT-depth sensitivity
  * (q15 round-9: CPU decayed 4.7 -> 1.2 over 10 reps, so "min of 3 after
  * one warmup" measured mid-warmup state, not operator cost).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val warmupReps = if (args.length > 3) args(3).toInt else 1
    val warmupDir = if (args.length > 4) args(4) else "/root/testdata/sf0.01"
    // same sizing contract as Bench.main — a host provisioned differently
    // would otherwise silently diverge from the sweep's numbers
    val spark = GraftSession.fromEnv(32)
    val fn = SparkEntry.queries(name)
    // same warmup contract as Bench: JIT + janino compile off the clock
    (1 to warmupReps).foreach(_ => Measure.warmUp(name)(fn(spark, warmupDir)))
    // SPARK_GRAFT_STAGES=1: per-stage skew report for the LAST rep — wall
    // (submit->complete), summed task run time, task count, and the max
    // single-task time. A stage whose max-task ~= wall while sum >> max is
    // the serialized tail the effective-core ratio is hiding.
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long, Long, Long)]()
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val taskMax = scala.collection.concurrent.TrieMap.empty[Int, Long]
        private val taskSum = scala.collection.concurrent.TrieMap.empty[Int, Long]
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = te.taskInfo.duration
          taskMax.updateWith(te.stageId) { p => Some(math.max(p.getOrElse(0L), d)) }
          taskSum.updateWith(te.stageId) { p => Some(p.getOrElse(0L) + d) }
        }
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
          val where = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("BenchOne"))
            .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(80)
          stageLog.add((si.stageId, where, si.numTasks,
            wall, taskSum.getOrElse(si.stageId, 0L), taskMax.getOrElse(si.stageId, 0L)))
        }
      })
    }
    val r = Measure.run(spark, reps, beforeRep = _ => stageLog.clear())(fn(spark, sfDir))
    r.reps.zipWithIndex.foreach { case (rep, i) =>
      println(f"[$name rep${i + 1}] wall=${rep.wall}%.3f cpu=${rep.cpu}%.3f")
    }
    r.get
    println(f"[$name] min_wall=${r.minWall}%.3f min_cpu=${r.minCpu}%.3f")
    if (!stageLog.isEmpty) {
      println("[stages: id tasks wallMs taskSumMs taskMaxMs name] (last rep, wall desc)")
      import scala.jdk.CollectionConverters._
      stageLog.asScala.toSeq.sortBy(-_._4).take(20).foreach {
        case (id, nm, n, wall, sum, mx) =>
          println(f"[stage $id%4d] tasks=$n%4d wall=$wall%6d sum=$sum%7d max=$mx%6d  $nm")
      }
    }
    spark.stop()
  }
}
