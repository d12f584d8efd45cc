package graft

/** Developer utility: write `.explain("formatted")` for named SparkEntry
  * queries to files — the before/after plan evidence for optimization
  * rounds (plans/r20/<query>_before.txt pattern).
  *
  *   sbt "runMain graft.PlanDump plans/r20 _before nm_match_topk,dd_lsh_eval"
  *   sbt "runMain graft.PlanDump plans/r20 _before ALL"
  *
  * Uses the same session sizing as Bench (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus) so plan shapes match what the bench runs.
  * The sf dir comes from SPARK_GRAFT_SF_DIR (default sf0.1). Plans are the
  * pre-execution formatted physical plans (AdaptiveSparkPlan isFinalPlan=
  * false where AQE applies) — deterministic and runnable without executing
  * the query, except for operators that materialize eagerly during
  * DataFrame construction (localCheckpoint-based candidates), which run
  * their upstream jobs as a side effect of planning.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args(2) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv(32)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(e) =>
          s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      val w = new java.io.PrintWriter(s"$outDir/$name$suffix.txt", "UTF-8")
      try w.println(txt) finally w.close()
      println(s"[plandump] $name -> $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
