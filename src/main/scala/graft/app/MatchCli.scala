package graft.app

import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer

/**
 * Thin CLI driver for the flagship match pipeline — the engine's equivalent
 * of the reference's HTTP upload endpoint (/root/reference/main.py:136-221):
 * two CSVs in, ranked-match CSV out.
 *
 * Usage: MatchCli <employees.csv> <usernames.csv> <outDir> [--separators]
 * [--multi-part]
 * (--separators reproduces the reference's blank row between username
 * groups, main.py:209; the default single-file output preserves the
 * reference's one-CSV contract — pass --multi-part for the distributed
 * many-part write at scale)
 */
object MatchCli {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length == 3,
      "usage: MatchCli <employees.csv> <usernames.csv> <outDir> [--separators] [--multi-part]")
    val Array(employeesPath, usernamesPath, outDir) = positional
    val separators = flags.contains("--separators")
    val singleFile = !flags.contains("--multi-part")
    val spark = graft.GraftSession.fromEnv(32, master = sys.env.get("SPARK_MASTER"))

    val employeesRaw = spark.read.option("header", "true").csv(employeesPath)
    val employees = EmployeeNormalizer.normalize(employeesRaw)

    val usernamesRaw = spark.read.option("header", "true").csv(usernamesPath)
    val lowered = usernamesRaw.toDF(usernamesRaw.columns.map(_.toLowerCase).toIndexedSeq: _*)
    require(lowered.columns.contains("username"),
      "usernames CSV must contain a 'username' column (main.py:153)")

    val out = MatchPipeline.matchOutput(lowered.select("username"), employees)
    MatchPipeline.writeCsv(out, outDir, separators, singleFile = singleFile)
    println(s"[match] wrote ${out.count()} rows to $outDir")
    spark.stop()
  }
}
