package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Fuzz
import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer
import graft.scoring.MatchScore

/** The threshold prune of the exact match path (MatchScore.withScore):
  * the fuzzy-term bounds are sound on every fixture pair, the composite
  * bound is >= the exact score wherever the prune can fire, and
  * matchOutput is the unpruned output row for row. */
class ScoreBoundSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def prof(s: String) = Fuzz.boundProfileArrayData(UTF8String.fromString(s))

  test("per-term bounds are >= ratio, partial_ratio and token_set_ratio on all fuzz_golden pairs") {
    val src = scala.io.Source.fromFile("fixtures/fuzz_golden.csv")
    val rows = try src.getLines().drop(1).map(_.split(",", -1)).toVector finally src.close()
    assert(rows.size === 110 * 154)
    val bad = rows.flatMap { f =>
      val (u, e) = (f(0).toLowerCase, f(1).toLowerCase)
      val (pu, pe) = (prof(u), prof(e))
      Seq(("ratio", f(2).toInt, Fuzz.ratioUB(pu, pe)),
        ("partial_ratio", f(3).toInt, Fuzz.partialRatioUB(pu, pe)),
        ("token_set_ratio", f(4).toInt, Fuzz.tokenSetRatioUB(pu, pe)))
        .collect { case (term, pinned, ub) if ub < pinned => s"$term($u, $e): $ub < $pinned" }
    }
    assert(bad.isEmpty, s"${bad.size} bound violations; first 5: ${bad.take(5).mkString("; ")}")
  }

  test("per-term bounds on edge cases: empty, identical, non-ASCII, over 64 chars") {
    val long = "abcdefghij" * 7 + "xyz"
    // more than 127 copies of one char overflow a histogram lane: every
    // term involving such a profile is bounded by 100
    val overflow = "a" * 130 + " b"
    val strs = Seq("", " ", "a", "john", "john smith", "john.smith", "smith john",
      "josé garcía", "josé.garcía", "üñî", "😀x",
      "x😀", long, long.reverse, long + " smith", "a_b-c d", "99 bottles", overflow)
    for (a <- strs; b <- strs) {
      val (pa, pb) = (prof(a), prof(b))
      assert(Fuzz.ratioUB(pa, pb) >= Fuzz.ratio(a, b), s"ratio($a, $b)")
      assert(Fuzz.partialRatioUB(pa, pb) >= Fuzz.partialRatio(a, b), s"partial_ratio($a, $b)")
      assert(Fuzz.tokenSetRatioUB(pa, pb) >= Fuzz.tokenSetRatio(a, b), s"token_set_ratio($a, $b)")
      if (a == b) assert(Fuzz.ratioUB(pa, pb) === 100)
      if (a == overflow) assert(Fuzz.partialRatioUB(pa, pb) === 100)
    }
  }

  /** Every (username, employee) pair of the two frames with its exact
    * score, its pattern flag, its composite bound and its score under the
    * threshold prune at each of `thresholds`. */
  private def boundedPairs(users: DataFrame, roster: DataFrame,
                           thresholds: Seq[Double]): DataFrame = {
    val pairs = MatchPipeline.prepareUsernames(users)
      .crossJoin(MatchPipeline.prepareEmployees(roster))
    val scored = MatchScore.withScore(pairs, "e")
      .withColumn("is_pattern", array_contains(col("e_patterns"), col("u_norm")))
      .withColumn("ub", MatchScore.compositeUpperBound("e"))
    thresholds.zipWithIndex.foldLeft(scored) { case (df, (t, i)) =>
      MatchScore.withScore(df.withColumnRenamed("score", "exact"), "e", Some(t))
        .withColumnRenamed("score", s"pruned_$i")
        .withColumnRenamed("exact", "score")
    }
  }

  /** Asserts the prune's contract on every pair: the bound is >= the exact
    * score wherever the prune can fire (the pattern short-circuit comes
    * first), and the pruned score equals the exact one at or above each
    * threshold and stays below it otherwise. Returns the share of pairs the
    * prune drops at 50. */
  private def checkPrune(users: DataFrame, roster: DataFrame): Double = {
    val ts = Seq(50.0, 0.0, 30.0, 80.0, 100.0)
    val df = boundedPairs(users, roster, ts).cache()
    try {
      val unsound = df.filter(!col("is_pattern") && col("ub") < col("score"))
      assert(unsound.isEmpty, unsound.select("username", "employee_name", "score", "ub")
        .take(5).mkString("; "))
      for ((t, i) <- ts.zipWithIndex) {
        val p = col(s"pruned_$i")
        val wrong = df.filter(
          (col("score") >= t && !(p === col("score"))) || (col("score") < t && !(p < t)))
        assert(wrong.isEmpty, s"threshold $t: " + wrong
          .select("username", "employee_name", "score", s"pruned_$i").take(5).mkString("; "))
      }
      val n = df.count()
      df.filter(!col("is_pattern") && col("ub") < 50.0).count().toDouble / n
    } finally df.unpersist()
  }

  private def referenceInputs: (DataFrame, DataFrame) = (
    spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/usernames.csv").select("username"),
    EmployeeNormalizer.normalize(spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/employee.csv")))

  /** The slices of fixtures/match_synth_wide.csv: (n_part, usernames,
    * roster, fixture pairs). */
  private def wideSlices: Seq[(String, DataFrame, DataFrame, DataFrame)] = {
    val fx = spark.read.option("header", "true")
      .schema("username STRING, emp_id STRING, employee_name STRING, score DOUBLE, " +
        "score_fmt STRING, is_cand INT, n_part STRING")
      .csv("fixtures/match_synth_wide.csv")
    val parts = fx.select("n_part").distinct().as[String].collect().sorted.toSeq
    parts.map { n =>
      val slice = fx.filter(col("n_part") === n)
      (n, slice.select("username").distinct(),
        EmployeeNormalizer.normalize(slice.select(col("emp_id").as("STAFF_ID"),
          col("employee_name").as("Full Name")).distinct()),
        slice)
    }
  }

  /** Bound >= the fixture's exact score on every non-pattern pair. */
  private def checkAgainstFixture(users: DataFrame, roster: DataFrame,
                                  fixture: DataFrame): Unit = {
    val got = boundedPairs(users, roster, Nil)
      .select("username", "emp_id", "employee_name", "ub", "is_pattern")
    val joined = fixture.select("username", "emp_id", "employee_name", "score")
      .join(got, Seq("username", "emp_id", "employee_name"))
    assert(joined.count() === fixture.count(), "fixture pairs missing from the cross product")
    val bad = joined.filter(!col("is_pattern") && col("ub") < col("score"))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("composite bound is >= the exact score on every reference pair; prune is exact") {
    val (users, roster) = referenceInputs
    val fx = spark.read.option("header", "true")
      .schema("username STRING, emp_id STRING, first_name STRING, last_name STRING, " +
        "employee_name STRING, score DOUBLE, score_fmt STRING")
      .csv("fixtures/match_golden.csv")
    checkAgainstFixture(users, roster, fx)
    val share = checkPrune(users, roster)
    info(f"reference input: the prune drops ${share * 100}%.1f%% of ${110 * 154} pairs at 50")
    assert(share > 0.2, f"prune rate $share%.3f below the 20.8%% floor of a max-bonus bound")
  }

  test("composite bound is >= the exact score on every match_synth_wide pair; prune is exact") {
    for ((n, users, roster, fx) <- wideSlices) {
      checkAgainstFixture(users, roster, fx)
      val share = checkPrune(users, roster)
      info(f"match_synth_wide n_part=$n: the prune drops ${share * 100}%.1f%% of ${fx.count()} pairs at 50")
      assert(share > 0.2)
    }
  }

  test("bound edge cases: null, empty, identical, non-ASCII, over 64 chars, pattern usernames") {
    val long = "abcdefghijklmnopqrstuvwxyz" * 3
    val users = Seq(None, Some(""), Some("  "), Some("john smith"), Some("john.smith"),
      Some("smithjohn"), Some("smith_john"), Some("josé.garcía"), Some("😀jo"),
      Some(long), Some(long + ".smith"), Some("zzz_qqq_999"), Some("j.smith42"))
      .toDF("username")
    val roster = Seq(
      ("1", "John", "Smith", "John Smith"), ("2", "José", "García", "José García"),
      ("3", "", "", ""), ("4", null, "Smith", "Smith"), ("5", "John", null, "John"),
      ("6", long, "Smith", s"$long Smith"), ("7", "😀", "Jo", "😀 Jo"),
      ("8", null, null, null))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    checkPrune(users, roster)
    // pattern pairs keep their short-circuit 100 whatever their bound
    val pattern = boundedPairs(Seq("smithjohn").toDF("username"), roster, Seq(50.0))
      .filter(col("emp_id") === "1").head()
    assert(pattern.getAs[Double]("pruned_0") === 100.0)
    // identical username and name: the bound leaves the pair unpruned
    val same = boundedPairs(Seq("john smith").toDF("username"), roster, Nil)
      .filter(col("emp_id") === "1").head()
    assert(same.getAs[Double]("ub") >= 100.0)
    // null inputs give a null bound: nothing is pruned, the score stays 0
    val nul = boundedPairs(Seq("john").toDF("username"), roster, Seq(50.0))
      .filter(col("emp_id") === "8").head()
    assert(nul.isNullAt(nul.fieldIndex("ub")) && nul.getAs[Double]("pruned_0") === 0.0)
  }

  /** The unpruned form of matchOutput: the top-k of the exact scoredPairs,
    * through the same output projection. */
  private def unprunedOutput(usernames: DataFrame, roster: DataFrame,
                             threshold: Double = MatchPipeline.ScoreThreshold): DataFrame = {
    val users = usernames.select(col("username").cast("string").as("username")).distinct()
    MatchPipeline.outputRows(
      MatchPipeline.rankedTopKOf(MatchPipeline.scoredPairs(users, roster), MatchPipeline.TopK),
      threshold)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("username", "emp_id", "emp_name", "confidence_score", "match_type")
      .collect().map(_.mkString("|")).toSeq.sorted

  test("matchOutput equals the unpruned output on the reference and match_synth_wide inputs") {
    val (users, roster) = referenceInputs
    val ref = rows(MatchPipeline.matchOutput(users, roster))
    assert(ref === rows(unprunedOutput(users, roster)))
    assert(ref.size === 403)
    for ((n, u, e, _) <- wideSlices)
      assert(rows(MatchPipeline.matchOutput(u, e)) === rows(unprunedOutput(u, e)), s"n_part=$n")
  }

  private val notFound = "|N/A|USER NOT FOUND|0.00%|USER NOT FOUND"

  test("an all-pruned username still gets its sentinel; an empty roster gives only sentinels") {
    val (_, roster) = referenceInputs
    val probe = Seq("zzz_qqq_999").toDF("username")
    // every one of its pairs is pruned at 50
    val pairs = boundedPairs(probe, roster, Nil)
    assert(pairs.filter(col("ub") >= 50.0 || col("is_pattern") || col("ub").isNull).isEmpty)
    assert(rows(MatchPipeline.matchOutput(probe, roster)) ===
      Seq("zzz_qqq_999|N/A|USER NOT FOUND|0.00%|USER NOT FOUND"))
    // exactly one sentinel per distinct username, on both paths
    val empty = roster.limit(0)
    val users = Seq(Some("zzz_qqq_999"), Some("john.smith"), Some("john.smith"), None, Some(""))
      .toDF("username")
    val expected = Seq("", "john.smith", "null", "zzz_qqq_999").map(_ + notFound).sorted
    assert(rows(MatchPipeline.matchOutput(users, empty)) === expected)
    assert(rows(graft.pipeline.MatchBlocking.matchOutput(users, empty)) === expected)
  }

  test("threshold 0 with a roster smaller than k: every pair is output, no presence row") {
    val users = Seq("john.smith", "neha", "zzz_qqq_999").toDF("username")
    val roster = Seq(("1", "John", "Smith", "John Smith"), ("2", "Neha", "Singh", "Neha Singh"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val out = rows(MatchPipeline.matchOutput(users, roster, threshold = 0.0))
    assert(out === rows(unprunedOutput(users, roster, 0.0)))
    assert(out.size === 6 && !out.exists(_.endsWith(notFound)), out.mkString("\n"))
  }

  test("null username and null-named employee: pruned output equals the unpruned one") {
    val users = Seq(None, Some("john.smith"), Some("smith"), Some("zzz_qqq_999")).toDF("username")
    val roster = Seq(("1", "John", "Smith", "John Smith"), ("4", null, "Smith", "Smith"),
      ("8", null, null, null), ("9", null, null, null))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    for (t <- Seq(50.0, 0.0)) {
      val out = rows(MatchPipeline.matchOutput(users, roster, threshold = t))
      assert(out === rows(unprunedOutput(users, roster, t)), s"threshold $t")
      // the null username: one sentinel at 50; at 0 its 4 zero-score pairs
      val nul = out.filter(_.startsWith("null|"))
      if (t > 0) assert(nul === Seq("null" + notFound))
      else assert(nul.size === 4 && nul.forall(_.endsWith("|0.00%|HIGH CONFIDENCE")), nul)
    }
  }

  test("duplicate (emp_id, employee_name) rows in one name tuple at the k cap") {
    val users = Seq("john.smith", "jsmith").toDF("username")
    // one name tuple, six employees: the cap keeps the 4 smallest rows,
    // duplicates included, in (emp_id, employee_name) order
    val roster = Seq("3", "1", "0", "1", "0", "1")
      .map(id => (id, "John", "Smith", "John Smith"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val out = rows(MatchPipeline.matchOutput(users, roster))
    assert(out === rows(unprunedOutput(users, roster)))
    assert(out.filter(_.startsWith("john.smith|")).map(_.split('|')(1)) === Seq("0", "0", "1", "1"))
  }
}
