package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer
import graft.streaming.MatchServing

/** Streaming match serving == batch match: micro-batch boundaries must not
  * change any verdict (a username's answer depends only on the roster), and
  * restarts / replays must not duplicate output rows. */
class MatchServingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("streamed username batches' union equals one batch-mode matchOutput") {
    val employees = EmployeeNormalizer.normalize(
      spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
    val usernames = spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/usernames.csv")
      .select(col("Username").as("username"))

    val base = java.nio.file.Files.createTempDirectory("graft_serve").toString
    try {
      // several source files -> maxFilesPerTrigger=1 forces >1 micro-batch
      usernames.repartition(4).write.parquet(s"$base/src")
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt")

      val streamed = spark.read.parquet(s"$base/out")
      assert(streamed.select("batch_id").distinct().count() > 1,
        "expected multiple micro-batches")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("username", "emp_id", "emp_name", "confidence_score", "match_type")
        .as[(String, String, String, String, String)].collect().sorted.toSeq
      val got = key(streamed)
      val want = key(MatchPipeline.matchOutput(usernames, employees))
      assert(got === want, "micro-batch boundaries changed match results")

      // restart on the same checkpoint: no new files -> no new output
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt")
      assert(key(spark.read.parquet(s"$base/out")) === want,
        "restart replayed already-served batches")

      // worst-case at-least-once replay (fresh checkpoint, same batch ids):
      // per-batch overwrite dirs absorb it — identical content, no dupes.
      // NOTE the scaladoc's same-config requirement: this only holds because
      // the source file set, listing order, and maxFilesPerTrigger are
      // unchanged; a different trigger config must use a clean outDir
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt2")
      assert(key(spark.read.parquet(s"$base/out")) === want,
        "full replay must overwrite, never duplicate")

      // reader contract: partition discovery + pinned LONG batch_id
      val served = MatchServing.readServed(spark, s"$base/out")
      assert(served.schema("batch_id").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(served.columns.toSet === Set("username", "emp_id", "emp_name",
        "confidence_score", "match_type", "batch_id"))

      // maxFilesPerTrigger > 1: fewer micro-batches, identical verdicts
      // (fresh out/ckpt dirs — a changed trigger config must not reuse them)
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out_mft2", s"$base/ckpt_mft2", maxFilesPerTrigger = 2)
      val mft2 = spark.read.parquet(s"$base/out_mft2")
      // fresh read: `streamed`'s file listing is stale after the replays
      val nBatches1 = spark.read.parquet(s"$base/out")
        .select("batch_id").distinct().count()
      assert(mft2.select("batch_id").distinct().count() < nBatches1,
        "maxFilesPerTrigger=2 should coalesce source files into fewer batches")
      assert(key(mft2) === want,
        "maxFilesPerTrigger must not change any verdict")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("blocked serving path: stream == batch, and blocked == unblocked on the fixture") {
    val employees = EmployeeNormalizer.normalize(
      spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
    val usernames = spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/usernames.csv")
      .select(col("Username").as("username"))

    val base = java.nio.file.Files.createTempDirectory("graft_serve_blk").toString
    try {
      usernames.repartition(4).write.parquet(s"$base/src")
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt", blocked = true)

      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("username", "emp_id", "emp_name", "confidence_score", "match_type")
        .as[(String, String, String, String, String)].collect().sorted.toSeq

      val streamed = spark.read.parquet(s"$base/out")
      assert(streamed.select("batch_id").distinct().count() > 1,
        "expected multiple micro-batches")
      // stream == batch on the SAME mode: a username's blocked verdict
      // depends only on (username, roster) — candidate keys are row-local
      // and the roster-side frequency cap is probe-independent, so
      // micro-batch boundaries cannot change it
      val got = key(streamed)
      val wantBlocked = key(graft.pipeline.MatchBlocking.matchOutput(usernames, employees))
      assert(got === wantBlocked,
        "micro-batch boundaries changed blocked-path results")
      // blocked vs unblocked on the reference fixture: blocking is allowed
      // to miss purely-fuzzy matches (the MatchBlockingSpec contract), so
      // the serving parity pin is the SAME >= 90% recall floor plus exact
      // agreement on every (username, emp_id) pair both paths surface
      def found(rows: Seq[(String, String, String, String, String)]) =
        rows.filter(_._5 != "USER NOT FOUND").map(r => (r._1, r._2)).toSet
      val wantExact = key(MatchPipeline.matchOutput(usernames, employees))
      val recall = found(got).intersect(found(wantExact)).size.toDouble /
        found(wantExact).size
      info(f"blocked serving recall vs exact: $recall%.4f")
      assert(recall >= 0.90, f"recall $recall%.4f below 0.90")
      // scores are candidate-set independent and must agree bit-for-bit;
      // the rank LABEL may legitimately differ (dense_rank runs over the
      // surviving candidates, so a dropped higher-ranked fuzzy candidate
      // shifts labels below it)
      val exactByPair = wantExact.map(r => (r._1, r._2) -> r).toMap
      got.filter(r => exactByPair.contains((r._1, r._2))).foreach { r =>
        val e = exactByPair((r._1, r._2))
        assert((r._3, r._4) === ((e._3, e._4)),
          s"blocked serving name/score differs on a pair both paths found: $r vs $e")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }
}
