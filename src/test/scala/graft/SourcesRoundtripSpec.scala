package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.schema.EmployeeNormalizer

/** Source/sink format breadth: the canonical roster must survive a write +
  * read roundtrip through every format the engine's sinks target. CSV/JSON
  * are schema-on-read (string-typed canonical shape makes them lossless
  * here); parquet/ORC carry the schema. */
class SourcesRoundtripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val roster = EmployeeNormalizer.normalize(
    spark.read.option("header", "true").csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
    df.select("emp_id", "first_name", "last_name", "employee_name")
      .as[(String, String, String, String)].collect().toSet

  test("canonical roster roundtrips through parquet, orc, json, and csv") {
    val expected = asSet(roster)
    assert(expected.nonEmpty)
    val base = java.nio.file.Files.createTempDirectory("graft_formats").toString
    try {
      for (fmt <- Seq("parquet", "orc", "json", "csv")) {
        val path = s"$base/$fmt"
        val writer = roster.write.mode("overwrite").format(fmt)
        (if (fmt == "csv") writer.option("header", "true") else writer).save(path)
        val reader = spark.read.format(fmt)
        val back =
          if (fmt == "csv") reader.option("header", "true").schema(roster.schema).load(path)
          else reader.load(path)
        assert(asSet(back) === expected, s"roundtrip through $fmt lost rows")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("corpus JSONL interchange: gzip parts roundtrip; malformed lines are captured, not fatal") {
    import graft.sources.Interchange
    val docs = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    try {
      Interchange.writeJsonl(docs, s"$dir/docs")
      // parts are gzip-compressed (text JSONL is ~5x smaller on the wire)
      val parts = new java.io.File(s"$dir/docs").listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".json.gz")),
        parts.map(_.getName).mkString(","))
      // cache before auditing: Spark refuses plans whose referenced columns
      // are ONLY _corrupt_record straight off raw JSON (documented contract)
      val back = Interchange.readJsonl(spark, s"$dir/docs", docs.schema).cache()
      assert(back.filter(col("_corrupt_record").isNotNull).count() === 0)
      assert(back.select("doc_id", "text").as[(Long, String)].collect().toSet
        === docs.as[(Long, String)].collect().toSet, "JSONL roundtrip lost rows")
      back.unpersist()
      // a bad shard must surface as _corrupt_record rows, not kill the job
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/docs/part-bad.json"),
        "{\"doc_id\": 1, \"text\": \"ok line\"}\nnot json at all{{{\n".getBytes)
      val mixed = Interchange.readJsonl(spark, s"$dir/docs", docs.schema).cache()
      assert(mixed.filter(col("_corrupt_record").isNotNull).count() === 1)
      assert(mixed.filter(col("_corrupt_record").isNull).count() === docs.count() + 1)
      mixed.unpersist()
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("compaction: many small files collapse to the byte-size target, losslessly") {
    import graft.sources.Compaction
    val docs = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    try {
      docs.repartition(32).write.parquet(s"$dir/small") // the ingest debris shape
      def files(d: String) = new java.io.File(d).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(files(s"$dir/small").length === 32)
      val bytes = Compaction.inputBytes(spark, s"$dir/small")
      assert(bytes > 0)
      // target a quarter of the input -> expect 4 output files
      val n = Compaction.compact(spark, s"$dir/small", s"$dir/big", (bytes + 3) / 4)
      assert(n === 4, s"expected 4 target files, planned $n")
      assert(files(s"$dir/big").length === 4)
      // lossless: same rows, same contents
      val back = spark.read.parquet(s"$dir/big")
      assert(back.count() === docs.count())
      assert(back.select("doc_id", "text").as[(Long, String)].collect().toSet
        === docs.select("doc_id", "text").as[(Long, String)].collect().toSet)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("shuffled export: total order across files without a single-task sort") {
    import graft.sources.ShuffledExport
    val docs = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shuf").toString
    try {
      ShuffledExport.writeShuffled(docs, "text", s"$dir/out", seed = 7L, numFiles = 8)
      val parts = new java.io.File(s"$dir/out").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts.length > 1, "expected a multi-file export")
      // per-file: rows sorted by shuffle_key; across files: key ranges disjoint
      val ranges = parts.map { f =>
        val keys = spark.read.parquet(f.getAbsolutePath)
          .select("shuffle_key").as[String].collect()
        assert(keys.sameElements(keys.sorted), s"${f.getName} not sorted within file")
        (keys.min, keys.max)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo, _)) => assert(hi <= lo, "file key ranges overlap")
        case _ =>
      }
      // nothing lost, nothing duplicated
      val back = spark.read.parquet(s"$dir/out")
      assert(back.count() === docs.count())
      assert(back.select("doc_id").distinct().count() === docs.count())
      // the permutation is a function of the seed: a different seed must
      // produce a different training order (identical 10-doc prefixes would
      // mean the seed is not reaching the key)
      ShuffledExport.writeShuffled(docs, "text", s"$dir/out2", seed = 8L, numFiles = 8)
      val head7 = spark.read.parquet(s"$dir/out").orderBy("shuffle_key")
        .select("doc_id").as[Long].head(10).toSeq
      val head8 = spark.read.parquet(s"$dir/out2").orderBy("shuffle_key")
        .select("doc_id").as[Long].head(10).toSeq
      assert(head7 !== head8, "different seeds produced the same training order")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("hive-partitioned layout: a partition predicate prunes at plan time, not scan time") {
    // the 100 TB layout contract: a corpus written partitionBy(key) must
    // turn an equality predicate on the key into a PartitionFilter (metadata
    // pruning — untouched partitions contribute ZERO files to the scan),
    // not a PushedFilter evaluated against row groups of every file
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val events = graft.sources.Tables.events(spark, SparkTestBase.Sf0001)
    events.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isDefined,
      s"partition predicate did not become a PartitionFilter:\n$plan")
    // parity: pruning must not change the answer
    val expected = events.filter(col("event_type") === "click").count()
    assert(pruned.count() === expected)
    assert(expected > 0)
  }
}
