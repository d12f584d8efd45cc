package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer

/** End-to-end match pipeline against the reference's own fixture CSVs
  * (employee.csv x usernames.csv under SparkTestBase.ReferenceDir). */
class MatchPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val employees = EmployeeNormalizer.normalize(
    spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
  lazy val usernames =
    spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/usernames.csv")

  test("normalizer canonicalizes the reference roster") {
    assert(employees.columns.toSeq ===
      Seq("emp_id", "first_name", "last_name", "employee_name"))
    assert(employees.count() === 154)
    val r1 = employees.filter($"emp_id" === "1").first()
    assert(r1.getAs[String]("employee_name") === "Rajesh Reddy")
  }

  test("normalizer alias + derivation branches") {
    // alias: staff_id/surname/fullname; split-derivation from full name
    val df = Seq(("9", "Ada Lovelace"), ("10", "Cher")).toDF("staff_id", "fullname")
    val norm = EmployeeNormalizer.normalize(df)
    val ada = norm.filter($"emp_id" === "9").first()
    assert(ada.getAs[String]("first_name") === "Ada")
    assert(ada.getAs[String]("last_name") === "Lovelace")
    val cher = norm.filter($"emp_id" === "10").first()
    assert(cher.getAs[String]("first_name") === "Cher")
    assert(cher.getAs[String]("last_name") === "")
    // missing emp_id -> empty canonical frame (main.py:131-133)
    val bad = EmployeeNormalizer.normalize(Seq(("Ada", "Lovelace")).toDF("first name", "last name"))
    assert(bad.count() === 0)
    assert(bad.columns.toSeq === Seq("emp_id", "first_name", "last_name", "employee_name"))
  }

  test("exact pattern username scores 100 and ranks HIGH CONFIDENCE") {
    val out = MatchPipeline.matchOutput(Seq("kul_sanjay").toDF("username"), employees)
    val rows = out.collect()
    // kul_sanjay is not one of the 8 exact patterns (that would be
    // "kulkarni_sanjay"), but Sanjay Kulkarni must surface in the top-4 via
    // fuzzy+token evidence, and some match must clear the threshold
    assert(rows.exists(_.getAs[String]("match_type") == "HIGH CONFIDENCE"))
    assert(rows.exists(_.getAs[String]("emp_name") == "Sanjay Kulkarni"), rows.mkString("\n"))
  }

  test("pattern short-circuit: synthetic f.l username") {
    val out = MatchPipeline.matchOutput(Seq("swati.patel").toDF("username"), employees)
    val rows = out.collect()
    val high = rows.filter(r => r.getAs[String]("confidence_score") == "100.00%")
    assert(high.exists(_.getAs[String]("emp_name") == "Swati Patel"))
    assert(high.forall(_.getAs[String]("match_type") == "HIGH CONFIDENCE"))
  }

  test("no-match probe emits USER NOT FOUND sentinel") {
    val out = MatchPipeline.matchOutput(Seq("testme", "zzz_qqq_999").toDF("username"), employees)
    val nf = out.filter($"match_type" === "USER NOT FOUND").collect()
    assert(nf.length === 2)
    assert(nf.forall(_.getAs[String]("emp_id") == "N/A"))
    assert(nf.forall(_.getAs[String]("confidence_score") == "0.00%"))
  }

  test("per-username groups respect top-k=4 and threshold>=50") {
    val out = MatchPipeline.matchOutput(usernames, employees)
    val counts = out.filter($"match_type" =!= "USER NOT FOUND")
      .groupBy("username").count().collect()
    assert(counts.forall(_.getAs[Long]("count") <= 4))
    // full run covers all 110 usernames (matched or sentinel)
    assert(out.select("username").distinct().count() === 110)
  }

  test("dense-rank tie semantics: equal scores share a label") {
    import graft.scoring.MatchScore
    // two employees with identical names force a tie
    val emp = Seq(("1", "Harsh", "Mehta", "Harsh Mehta"),
                  ("2", "Harsh", "Mehta", "Harsh Mehta"),
                  ("3", "Neha", "Singh", "Neha Singh"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val out = MatchPipeline.matchOutput(Seq("harsh.mehta").toDF("username"), emp).collect()
    val highs = out.filter(_.getAs[String]("match_type") == "HIGH CONFIDENCE")
    assert(highs.length === 2, out.mkString("\n"))
  }

  test("empty roster (e.g. missing emp_id column) -> every username is USER NOT FOUND") {
    val emptyRoster = EmployeeNormalizer.normalize(
      Seq(("Ada", "Lovelace")).toDF("first name", "last name")) // no emp_id -> empty frame
    val out = MatchPipeline.matchOutput(Seq("swati.patel", "testme").toDF("username"), emptyRoster)
    val rows = out.collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[String]("match_type") == "USER NOT FOUND"))
  }

  test("null/empty usernames are USER NOT FOUND, never a match") {
    // a blank CSV cell parses as null; it must not leak a null composite
    // score through least() as a 100 match (see MatchScore coalesce guard)
    val probe = Seq(Some("swati.patel"), None, Some("")).toDF("username")
    val out = MatchPipeline.matchOutput(probe, employees).collect()
    val nullRows = out.filter(r => r.getAs[String]("username") == null)
    val emptyRows = out.filter(r => r.getAs[String]("username") == "")
    assert(nullRows.nonEmpty && nullRows.forall(_.getAs[String]("match_type") == "USER NOT FOUND"))
    assert(emptyRows.nonEmpty && emptyRows.forall(_.getAs[String]("match_type") == "USER NOT FOUND"))
    assert(out.exists(_.getAs[String]("confidence_score") == "100.00%")) // real probe still matches
  }

  test("dead emp-id bonus (E5) stays 0 by default, +10 behind the flag") {
    import graft.scoring.MatchScore
    // identical invariants either way; only the flag differs — resurrects the
    // reference's advertised-but-dead heuristic (main.py:54)
    def score(flag: Boolean): Double = {
      val expr = MatchScore.scoreFromInvariants(
        lit("emp42user"), lit("emp42user"), lit(""),
        lit("X000"), lit("Y"), lit("e"), lit(""),
        lit("zz"), lit("qq"), lit("zz qq"),
        lit("A000"), lit("B000"), lit("C"), lit("D"), lit("z"),
        array((1 to 8).map(i => lit(s"p$i")): _*),
        enableEmpIdBonus = flag, empId = lit("emp42"))
      spark.range(1).select(expr.as("s")).head().getDouble(0)
    }
    val dflt = score(flag = false)
    val withFlag = score(flag = true)
    assert(withFlag === dflt + 10.0,
      s"flagged $withFlag vs default $dflt: emp-id bonus must add exactly 10")
  }

  test("duplicate usernames yield ONE result group (pinned divergence)") {
    // the reference emits one group per input ROW (main.py:158); windows
    // partitioned by username VALUE would merge duplicates into a corrupted
    // group with doubled candidates. matchOutput pins distinct() semantics:
    // N identical input rows -> exactly the single-row result group.
    val once = MatchPipeline.matchOutput(Seq("swati.patel").toDF("username"), employees)
      .orderBy("emp_id").collect()
    val dup = MatchPipeline.matchOutput(
        Seq("swati.patel", "swati.patel", "swati.patel").toDF("username"), employees)
      .orderBy("emp_id").collect()
    assert(dup.toSeq === once.toSeq,
      "duplicate input usernames changed the result group")
  }

  test("writeCsv orders by numeric score desc and respects singleFile") {
    val out = MatchPipeline.matchOutput(usernames, employees)
    val dir = java.nio.file.Files.createTempDirectory("graft_writecsv").toString
    try {
      MatchPipeline.writeCsv(out, s"$dir/single", singleFile = true)
      val files = new java.io.File(s"$dir/single").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(files.length === 1, "singleFile=true must produce one part file")
      val back = spark.read.option("header", "true").csv(s"$dir/single")
      // per username, scores must be numerically non-increasing — '9.00%'
      // after '59.80%' would prove the old lexicographic-sort defect
      val rows = back.select("username", "confidence_score").collect()
        .map(r => (r.getString(0), r.getString(1).stripSuffix("%").toDouble))
      rows.groupBy(_._1).foreach { case (u, grp) =>
        // read order within a part file is write order only when the file is
        // one split; fine at this size
        val scores = grp.map(_._2).toSeq
        assert(scores === scores.sortBy(-_), s"group $u not score-descending: $scores")
      }
      MatchPipeline.writeCsv(out, s"$dir/multi")
      assert(new java.io.File(s"$dir/multi").listFiles().exists(_.getName.endsWith(".csv")))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("scores are within [0,100] across the full cross product") {
    val scored = MatchPipeline.scoredPairs(usernames, employees)
    val mm = scored.agg(min("score"), max("score")).first()
    assert(mm.getDouble(0) >= 0.0)
    assert(mm.getDouble(1) <= 100.0)
  }

  test("auto path selection: pile-up crossover decision on both bench fixtures") {
    // the 64-name synthetic roster crosses the >= 16 threshold between
    // sf0.001 (200 rows / 62 names ~ 3.2 -> blocked) and sf0.01
    // (2000 / 64 ~ 31 -> exact); the high-cardinality wide roster stays
    // blocked at every scale (~1 employee per distinct name)
    val narrow001 = SparkEntry.roster(spark, SparkTestBase.Sf0001)
    val narrow01 = SparkEntry.roster(spark, SparkTestBase.Sf001)
    val wide01 = SparkEntry.rosterWide(spark, SparkTestBase.Sf001)
    assert(MatchPipeline.pileupFactor(narrow001) < MatchPipeline.ExactWinsPileupFactor)
    assert(MatchPipeline.pileupFactor(narrow01) >= MatchPipeline.ExactWinsPileupFactor)
    assert(MatchPipeline.pileupFactor(wide01) < MatchPipeline.ExactWinsPileupFactor)
    // the reference's own roster is name-diverse -> blocked (the scale path)
    assert(MatchPipeline.pileupFactor(employees) < MatchPipeline.ExactWinsPileupFactor)

    // auto == whichever branch it picks, row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, String, String, String)].collect().sorted.toSeq
    val u001 = SparkEntry.usernames(spark, SparkTestBase.Sf0001)
    assert(rows(MatchPipeline.auto(u001, narrow001)) ===
      rows(graft.pipeline.MatchBlocking.matchOutput(u001, narrow001)),
      "below the crossover auto must BE the blocked path")
    val u01 = SparkEntry.usernames(spark, SparkTestBase.Sf001)
    assert(rows(MatchPipeline.auto(u01, narrow01)) ===
      rows(MatchPipeline.matchOutput(u01, narrow01)),
      "above the crossover auto must BE the exact path")
  }
}
