package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_SHUFFLE (read by GraftSession) lets the beyond-bench-scale
    // replay re-run the dump at a scaled partition count to prove the answers
    // are partition-count-invariant — the hash-level version of the
    // BENCH_SCALING.md caveat that fixed-32 partitions can't exercise how a
    // real cluster scales partitions with data.
    val spark = GraftSession.fromEnv(4)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERIES: optional comma-separated restriction, used by the
    // beyond-bench-scale replay (tools/scale_check.sh) to dump only the
    // queries whose tables the scaled corpus materializes. Unset (the
    // driver's invocation) dumps everything — the driver contract is
    // unchanged. oracle_sql.json is restricted to the same set so
    // tools/oracle_check.py checks exactly what was dumped.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd name would silently vanish from BOTH the dump and
    // oracle_sql.json, so the replay reports all-OK while checking fewer
    // queries than intended — fail fast instead.
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
