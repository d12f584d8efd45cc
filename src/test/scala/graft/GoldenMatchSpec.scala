package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer

/** End-to-end golden fixture (FIXTURES.md A6): the full reference workload
  * (employee.csv x usernames.csv) must reproduce the checked-in golden CSV
  * row-for-row. The golden file was reviewed against the reference's
  * assets/example.png semantics: 4-row groups, %.2f%% scores, dense-rank tie
  * labels, USER NOT FOUND sentinels, deterministic emp_id tiebreak
  * (SURVEY.md §7.4.1). */
class GoldenMatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("reference workload reproduces the golden output exactly") {
    val employees = EmployeeNormalizer.normalize(
      spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
    val usernames = spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/usernames.csv")
    val out = MatchPipeline.matchOutput(usernames.select("username"), employees)
      .select(concat_ws(",", col("username"), col("emp_id"), col("emp_name"),
        col("confidence_score"), col("match_type")).as("line"))
      .collect().map(_.getString(0)).sorted

    val goldenUrl = getClass.getResource("/golden_matches.csv")
    val golden = scala.io.Source.fromURL(goldenUrl).getLines()
      .drop(1) // header
      .toArray.sorted

    assert(out.length === golden.length,
      s"row count ${out.length} != golden ${golden.length}")
    out.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"row $i differs")
    }
  }
}
