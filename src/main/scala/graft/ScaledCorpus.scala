package graft

/** Materialize a beyond-bench-scale corpus directory for the HASH-VERIFIED
  * oracle replay (VERDICT r16 #3): the BenchScaling replication recipe
  * (token-tagged documents, letter-tagged part names, key-offset lineitem,
  * sign-flipped embeddings), written as a self-contained
  * `documents/part/lineitem/embeddings.parquet` directory that `Verify` +
  * `tools/oracle_check.py` treat exactly like a driver `sf` dir.
  * BENCH_SCALING.md's CPU curves say the hot plans scale; this corpus lets
  * the DuckDB oracle say the ANSWERS stay right above sf0.1.
  *
  * Tables whose output dir already carries a `_SUCCESS` marker are
  * SKIPPED (per-table resume): an interrupted build — or a re-run after
  * the recipe gained a table, as embeddings did in r19 — continues from
  * where it stopped instead of re-paying finished writes. The resume is
  * GUARDED by a manifest (ADVICE r19): `_scaled_manifest.json` records
  * (baseDir, replicas, recipe version), written BEFORE the table builds
  * so an interrupted run still resumes; a dir whose manifest is missing
  * or disagrees with the current invocation gets its `_SUCCESS` markers
  * cleared and every table rebuilt — previously a re-run into the same
  * explicit workRoot with a different replicas/baseDir silently kept
  * stale tables at the wrong scale.
  *
  * Usage: sbt "runMain graft.ScaledCorpus <baseSfDir> <outDir> <replicas>"
  * (replicas = 3 for the x3 ≈ sf0.3-equivalent point).
  */
object ScaledCorpus {

  /** Bumped whenever a write* recipe changes semantically, so corpora
    * built under an older recipe rebuild instead of resuming (r20: the
    * embeddings sign derivation moved to splitmix64 — see
    * [[BenchScaling.writeScaledEmbeddings]]). */
  val RecipeVersion = "r20-splitmix64-embeddings"

  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, replicasStr) = args
    val replicas = replicasStr.toInt
    val manifestFile = new java.io.File(s"$outDir/_scaled_manifest.json")
    val manifest =
      s"""{"baseDir": "$baseDir", "replicas": $replicas, "recipe": "$RecipeVersion"}"""
    if (!manifestFile.exists() ||
        java.nio.file.Files.readString(manifestFile.toPath).trim != manifest) {
      if (manifestFile.getParentFile != null &&
          manifestFile.getParentFile.exists()) {
        val stale = Seq("documents", "part", "lineitem", "embeddings")
          .map(t => new java.io.File(s"$outDir/$t.parquet/_SUCCESS"))
          .filter(_.exists())
        if (stale.nonEmpty) {
          println(s"[scaled-corpus] manifest ${if (manifestFile.exists()) "mismatch" else "missing"} " +
            s"in $outDir — clearing ${stale.size} _SUCCESS marker(s) to force a full rebuild")
          stale.foreach(_.delete())
        }
      }
      manifestFile.getParentFile.mkdirs()
      java.nio.file.Files.writeString(manifestFile.toPath, manifest)
    }
    val spark = GraftSession.fromEnv(16, defaultShuffle = Some(32))
    def build(table: String)(write: => Unit): Unit =
      if (new java.io.File(s"$outDir/$table.parquet/_SUCCESS").exists())
        println(s"[scaled-corpus] skip $table (complete write present)")
      else write
    build("documents") {
      BenchScaling.writeScaledDocuments(spark, baseDir, outDir, replicas)
    }
    build("part") {
      BenchScaling.writeScaledPart(spark, baseDir, outDir, replicas)
    }
    build("lineitem") {
      BenchScaling.writeScaledLineitem(spark, baseDir, outDir, replicas)
    }
    build("embeddings") {
      BenchScaling.writeScaledEmbeddings(spark, baseDir, outDir, replicas)
    }
    println(s"[scaled-corpus] wrote documents/part/lineitem/embeddings " +
      s"x$replicas from $baseDir to $outDir")
    spark.stop()
  }
}
