package graft
import java.nio.file.{Files, Paths}

/** Dev-loop companion to [[Verify]]: dump ONE query (or a comma list) plus
  * its oracle SQL, so a new query's DuckDB parity can be checked without
  * sweeping all of SparkEntry.queries.
  *   sbt "runMain graft.VerifyOne dd_span_removal /root/testdata/sf0.01 /tmp/v1"
  *   python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/v1
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: VerifyOne <q1[,q2,...]> <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(names, sfDir, outDir) = args.take(3)
    val spark = GraftSession.fromEnv(4)
    new java.io.File(outDir).mkdirs()
    val picked = names.split(",").toSeq
    picked.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => picked.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
