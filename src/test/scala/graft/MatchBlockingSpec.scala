package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{MatchBlocking, MatchPipeline}
import graft.schema.EmployeeNormalizer

/** Recall of the blocked (candidate-key) match path vs the exact cross-join
  * pipeline on the full reference workload. Blocking is the 100 TB scale
  * path (SURVEY.md §4.2) and is allowed to miss purely-fuzzy matches — this
  * spec pins HOW MUCH it may miss, and that the score-100 pattern tier is
  * captured exactly. */
class MatchBlockingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val employees = EmployeeNormalizer.normalize(
    spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
  private lazy val usernames = spark.read.option("header", "true")
    .csv(s"${SparkTestBase.ReferenceDir}/usernames.csv").select("username")

  private def foundPairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.filter(col("match_type") =!= "USER NOT FOUND")
      .select("username", "emp_id").as[(String, String)].collect().toSet

  test("blocked match path recalls >= 90% of exact matches; pattern tier is exact") {
    val exact = foundPairs(MatchPipeline.matchOutput(usernames, employees))
    val blocked = foundPairs(MatchBlocking.matchOutput(usernames, employees))
    val recall = blocked.intersect(exact).size.toDouble / exact.size
    info(f"blocking recall: $recall%.4f (${blocked.intersect(exact).size}/${exact.size})")
    assert(recall >= 0.90, f"recall $recall%.4f below 0.90")

    // every 100.00% (pattern short-circuit) row must survive blocking: the
    // username itself is one of its blocking keys
    val exactPattern = MatchPipeline.matchOutput(usernames, employees)
      .filter(col("confidence_score") === "100.00%")
      .select("username", "emp_id").as[(String, String)].collect().toSet
    assert(exactPattern.subsetOf(blocked),
      s"pattern-tier pairs lost by blocking: ${exactPattern -- blocked}")
  }

  test("every blocked output row carries its pair's exact fixture score") {
    // the blocked path scores its candidates through the same thresholded
    // form as the exact path (MatchScore.withScore): rows that reach the
    // output are at or above the threshold, where the prune never fires
    val fx = spark.read.option("header", "true")
      .schema("username STRING, emp_id STRING, first_name STRING, last_name STRING, " +
        "employee_name STRING, score DOUBLE, score_fmt STRING")
      .csv("fixtures/match_golden.csv")
      .select(col("username"), col("emp_id"), col("employee_name").as("emp_name"),
        concat(col("score_fmt"), lit("%")).as("fixture_score"))
    val found = MatchBlocking.matchOutput(usernames, employees)
      .filter(col("match_type") =!= "USER NOT FOUND")
    val joined = found.join(fx, Seq("username", "emp_id", "emp_name"), "left")
    assert(joined.count() === found.count())
    val bad = joined.filter(!(col("confidence_score") <=> col("fixture_score")))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("top-1 agreement vs the exact path on the degenerate synthetic roster (sf0.01)") {
    // The reference-workload recall above exercises a FAVORABLE roster (154
    // distinct names). The sf0.01 synthetic inputs are the adversarial case
    // the frequency cap exists for — 64 distinct names x hundreds of
    // duplicates, so most name-derived keys are over the cap and dropped.
    // This pins how often the blocked path still lands the SAME best match
    // as the exact path at bench scale (the metric a user of the
    // approximate path actually cares about). Hot keys keep their
    // cap-smallest emp_ids instead of dropping whole (round-7): before
    // that, every digit-suffix username (`cold358`) was USER NOT FOUND
    // here — its only keys were the over-cap name tokens — and agreement
    // floored at 0.667.
    def top1(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("username"))
        .orderBy(regexp_replace(col("confidence_score"), "%", "")
          .cast("double").desc, col("emp_id").asc, col("emp_name").asc)
      df.filter(col("match_type") =!= "USER NOT FOUND")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("username", "emp_id").as[(String, String)].collect().toMap
    }
    val exact = top1(SparkEntry.queries("nm_match_topk")(spark, SparkTestBase.Sf001))
    val blocked = top1(SparkEntry.queries("nm_match_topk_blocked")(spark, SparkTestBase.Sf001))
    val agree = exact.count { case (u, e) => blocked.get(u).contains(e) }
    val agreement = agree.toDouble / exact.size
    info(f"top-1 agreement on sf0.01 synthetic: $agreement%.4f ($agree/${exact.size})")
    assert(agreement >= 0.80, f"top-1 agreement $agreement%.4f below floor")
  }

  test("duplicate-emp_id roster: blocked top-k tiebreak matches the exact path") {
    // The reference roster reuses EMP_IDs, so (score, emp_id) is not a total
    // order. Five employees share id 14 and the same (first, last) — all
    // score 100 on the pattern tier for `anna.bell` — so top-k membership is
    // decided ONLY by the employee_name tiebreak. Round-7 the blocked window
    // omitted that key and could keep either same-id row at the boundary.
    val roster = Seq("c", "a", "e", "b", "d").map(sfx =>
      ("14", "anna", "bell", s"anna bell $sfx"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val probes = Seq("anna.bell").toDF("username")
    val exact = MatchPipeline.matchOutput(probes, roster)
      .select("username", "emp_id", "emp_name", "confidence_score", "match_type")
      .collect().map(_.toSeq).toSet
    val blocked = MatchBlocking.matchOutput(probes, roster)
      .select("username", "emp_id", "emp_name", "confidence_score", "match_type")
      .collect().map(_.toSeq).toSet
    assert(blocked === exact, "blocked path kept different same-id rows than exact")
    // TopK=4 (reference NUM_TOP_GROUP_MATCHES + NUM_ADDITIONAL): the 5-way
    // tie is cut at the boundary by employee_name asc alone
    val kept = blocked.map(_(2).asInstanceOf[String])
    assert(kept === Set("anna bell a", "anna bell b", "anna bell c", "anna bell d"),
      s"top-4 not the name-asc smallest: $kept")
  }

  test("wide high-cardinality roster (sf0.01): candidates collapse, top-1 agrees") {
    // The WIDE synthetic workload (VERDICT r9 #7) is the regime blocking
    // exists for: ~|part| distinct names, so name-derived keys are
    // discriminative and the candidate set is a small fraction of |U|*|E|
    // (the 64-name roster above is the adversarial pile-up case). Pins the
    // collapse ratio AND that the blocked path still lands the exact
    // path's best match.
    val u = SparkEntry.usernamesWide(spark, SparkTestBase.Sf001)
    val e = SparkEntry.rosterWide(spark, SparkTestBase.Sf001)
    val cand = MatchBlocking.candidatePairs(u, e, metricTag = "wide_spec").count()
    val cross = u.count() * e.count()
    info(f"wide candidates: $cand of $cross (${cand.toDouble / cross * 100}%.1f%%)")
    assert(cand.toDouble / cross < 0.2, s"wide roster did not collapse: $cand/$cross")

    def top1(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("username"))
        .orderBy(regexp_replace(col("confidence_score"), "%", "")
          .cast("double").desc, col("emp_id").asc, col("emp_name").asc)
      df.filter(col("match_type") =!= "USER NOT FOUND")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("username", "emp_id").as[(String, String)].collect().toMap
    }
    val exact = top1(SparkEntry.queries("nm_match_topk_wide")(spark, SparkTestBase.Sf001))
    val blocked = top1(SparkEntry.queries("nm_match_topk_blocked_wide")(spark, SparkTestBase.Sf001))
    val agree = exact.count { case (un, id) => blocked.get(un).contains(id) }
    info(s"wide top-1 agreement: $agree/${exact.size}")
    assert(exact.nonEmpty && agree.toDouble / exact.size >= 0.80,
      s"wide top-1 agreement $agree/${exact.size} below floor")
  }

  test("candidate volume is a small fraction of the cross product") {
    val candidates = MatchBlocking.candidatePairs(usernames, employees).count()
    val crossProduct = usernames.count() * employees.count()
    val fraction = candidates.toDouble / crossProduct
    info(f"candidates: $candidates of $crossProduct (${fraction * 100}%.1f%%)")
    assert(fraction < 0.5, f"blocking prunes nothing: $fraction%.2f")
  }

  test("frequency cap leaves the reference workload untouched (no hot keys)") {
    // the reference roster's hottest key holds far fewer employees than the
    // default cap, so capped and uncapped candidate sets are identical —
    // recall is unchanged by construction
    // distinct metric tags: both generations land in ONE comparison query,
    // and Spark rejects duplicate observe names within a plan
    val uncapped = MatchBlocking.candidatePairs(usernames, employees,
      maxEmployeesPerKey = Int.MaxValue, metricTag = "uncapped")
    val capped = MatchBlocking.candidatePairs(usernames, employees,
      metricTag = "capped")
    assert(capped.exceptAll(uncapped).isEmpty && uncapped.exceptAll(capped).isEmpty,
      "default cap changed the reference candidate set")
  }

  test("hot-key salvage: a true match ranked past the cap survives via its sub-bucket") {
    // Roster built so the probe's ONLY shared keys are hot: 2 first names x
    // 3 last-name families x 10 digit variants. With cap=10, `john` (30
    // employees), `joh`, and `zet` (20) are all over cap. The true match
    // ("john.zeta" -> john zeta07, id 927) sorts PAST the cap-smallest ids
    // of every hot key it shares (john-quin/john-rook ids 900-919 sort
    // first), so round-7's cap-smallest behavior dropped it: its survival
    // here is entirely the name-prefix sub-split ((john, zet) holds just
    // the 10 john-zeta employees, under cap).
    val roster = (for {
      (f, fi) <- Seq("john", "mary").zipWithIndex
      (fam, mi) <- Seq("quin", "rook", "zeta").zipWithIndex
      d <- 0 until 10
    } yield {
      val id = (900 + fi * 100 + mi * 10 + d).toString
      val last = fam + "%02d".format(d)
      (id, f, last, s"$f $last")
    }).toDF("emp_id", "first_name", "last_name", "employee_name")
    val probes = Seq("john.zeta").toDF("username")
    val cand = MatchBlocking.candidatePairs(probes, roster, maxEmployeesPerKey = 10)
      .as[(String, String)].collect().toSet
    val johnZetaIds = (920 to 929).map(_.toString).toSet
    assert(johnZetaIds.subsetOf(cand.map(_._2)),
      s"sub-bucket (john, zet) must admit all john-zeta ids; got ${cand.map(_._2)}")
    // and the whole candidate set stays bounded: <= cap per sub-bucket probed
    assert(cand.size <= 10 * 8, s"salvage exploded candidate volume: ${cand.size}")
  }

  test("phonetic-only probe through a hot key degrades to cap-smallest, never zero") {
    // `jhon99` shares NO literal gram with any roster name — its only
    // shared keys are phonetic (soundex J500 of the misspelled `jhon`).
    // With gram-only sub-signatures the salvage stranded such probes in
    // zero sub-buckets (worse than the pre-salvage cap-smallest); the
    // phonetic members of the signature set land it in the (J500, J500)
    // sub-bucket, which caps to the 10 smallest ids — graceful, non-empty.
    val roster = (1 to 30).map(i =>
      (f"$i%03d", "john", f"zeta$i%02d", f"john zeta$i%02d"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val probes = Seq("jhon99").toDF("username")
    val cand = MatchBlocking.candidatePairs(probes, roster, maxEmployeesPerKey = 10)
      .as[(String, String)].collect().toSet
    assert(cand.nonEmpty, "phonetic-only probe starved by hot-key salvage")
    val expected = (1 to 10).map(i => f"$i%03d").toSet
    assert(cand.map(_._2) === expected,
      s"expected the cap-smallest ids through the phonetic sub-bucket: $cand")
  }

  test("metaphone-only probe through a hot key degrades to cap-smallest, never zero") {
    // `night01` vs a `knight` roster shares NEITHER a literal gram NOR a
    // soundex code (N230 vs K523) — only the metaphone key NT (metaphone
    // drops K-before-N and silent GH). The signature set must therefore
    // carry metaphone too, or this entire blocking tier dies through hot
    // keys (the gap the round-8 review caught after the soundex fix).
    val roster = (1 to 30).map(i =>
      (f"$i%03d", "knight", f"zeta$i%02d", f"knight zeta$i%02d"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val probes = Seq("night01").toDF("username")
    val cand = MatchBlocking.candidatePairs(probes, roster, maxEmployeesPerKey = 10)
      .as[(String, String)].collect().toSet
    assert(cand.nonEmpty, "metaphone-only probe starved by hot-key salvage")
    val expected = (1 to 10).map(i => f"$i%03d").toSet
    assert(cand.map(_._2) === expected,
      s"expected the cap-smallest ids through the metaphone sub-bucket: $cand")
  }

  test("frequency cap bounds candidate volume on a pathologically skewed roster") {
    // 3000 employees sharing ONE name: every name-derived blocking key holds
    // 3000 employees, so uncapped blocking degenerates toward the cross
    // product (the round-2 bench regression). Each hot key keeps only its
    // cap-smallest emp_ids, so the volume stays bounded WITHOUT starving
    // the probes of candidates (pre-round-7 the keys dropped whole and
    // every probe here was USER NOT FOUND).
    val skewed = spark.range(1, 3001).selectExpr(
      "CAST(id AS STRING) AS emp_id",
      "'john' AS first_name", "'smith' AS last_name",
      "'john smith' AS employee_name")
    val probes = Seq("john.smith", "smith_john", "johnsmith", "jsmith99",
      "unrelated.user").toDF("username")
    val uncapped = MatchBlocking.candidatePairs(probes, skewed,
      maxEmployeesPerKey = Int.MaxValue).count()
    val capped = MatchBlocking.candidatePairs(probes, skewed).count()
    info(s"skewed roster candidates: uncapped=$uncapped capped=$capped")
    // uncapped: every name-matching probe pairs with all 3000 employees
    assert(uncapped >= 4 * 3000L, s"skew fixture not degenerate: $uncapped")
    // capped: every key keeps the same cap-smallest employees, so each
    // name-matching probe contributes at most ~cap distinct candidates
    assert(capped > 0, "cap starved an all-hot-key roster of all candidates")
    assert(capped <= 4L * MatchBlocking.DefaultMaxEmployeesPerKey,
      s"cap failed to bound candidate volume: $capped")
  }
}
