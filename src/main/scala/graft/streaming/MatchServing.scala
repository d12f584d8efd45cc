package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType, StringType}

import graft.pipeline.{MatchBlocking, MatchPipeline}

/**
 * Streaming form of the flagship match pipeline — the engine's equivalent
 * of the reference's always-on serving loop (`main.py:136-221` accepts an
 * upload per request): a file-source stream of username batches is matched
 * against a FIXED, pre-normalized roster, writing one ranked-match output
 * per batch.
 *
 * Design notes for the serving shape:
 *  - The roster is the small side and is broadcast inside the batch
 *    pipeline ([[MatchPipeline.scoredPairs]] pins BroadcastNestedLoopJoin),
 *    so each micro-batch costs O(|batch| x |roster|) kernel evaluations and
 *    shuffles only the batch's own usernames — latency scales with the
 *    request batch, never the corpus of past requests.
 *  - A username's verdict depends ONLY on (username, roster): micro-batch
 *    boundaries cannot change results, and the union of per-batch outputs
 *    equals one batch-mode run over all input (pinned in MatchServingSpec).
 *  - IDEMPOTENT OUTPUT under at-least-once replay: per-batch hive-style
 *    `batch_id=<id>` partition directories with overwrite, the same
 *    exactly-once-by-idempotence recipe as [[CorpusIngest]]. SAME-CONFIG
 *    REQUIREMENT (shared with CorpusIngest): overwrite-by-batch_id only
 *    absorbs a replay that reproduces the batch-to-file assignment — same
 *    source file set, listing order, and `maxFilesPerTrigger`. A
 *    fresh-checkpoint replay with a different `maxFilesPerTrigger`, or
 *    over a shrunk source dir, produces a different batch partitioning and
 *    can leave STALE `batch_id=` dirs from the earlier run mixed into
 *    `outDir`; when changing the trigger config or re-serving a pruned
 *    source, point at a clean `outDir` (or delete it) instead of relying
 *    on overwrite.
 *  - `matchOutput` deduplicates usernames per batch; duplicates ACROSS
 *    batches re-serve (same answer) by design — it is a serving loop, not
 *    an ingest: each request deserves its response.
 *  - LATENCY per micro-batch = one broadcast-NLJ scoring pass over
 *    |batch| x |roster| plus one username-partitioned top-k: seconds for
 *    thousand-row request files against a 10^4-row roster on a small
 *    cluster. The exact path broadcasts ONE roster-side frame per batch
 *    (the distinct names, each carrying its employees) and fans a name out
 *    to its employees only for pairs scoring >= the threshold; a username
 *    with none gets its sentinel from a presence row, with no anti join
 *    or extra broadcast (MatchPipeline scaladoc). `maxFilesPerTrigger`
 *    trades latency for throughput: 1 = lowest per-request latency,
 *    higher values amortize fixed per-batch planning cost across request
 *    files (results are invariant either way — micro-batch boundaries
 *    cannot change a verdict).
 */
object MatchServing {

  /** The username-batch source schema (CSV-shaped: one string column). */
  val UsernameSchema: StructType =
    StructType(Seq(StructField("username", StringType, nullable = true)))

  /** Reader-side contract for the served output: partition discovery over
    * the `batch_id=<id>` dirs yields the match columns plus a `batch_id`
    * pinned to LONG (raw discovery would infer INT for small ids and
    * silently widen once ids pass 2^31 — readers get one stable type). */
  def readServed(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(outDir).withColumn("batch_id", col("batch_id").cast("long"))
  }

  /**
   * @param blocked route each micro-batch through
   *   [[MatchBlocking.matchOutput]] (key-blocked candidate generation —
   *   the scale plan for big rosters, where the broadcast-NLJ cross
   *   product is the cost) instead of the exact
   *   [[MatchPipeline.matchOutput]]. Same output contract either way;
   *   per-batch results equal the same-mode batch run (spec-pinned).
   *   NOTE (MatchBlocking scaladoc): the blocked path localCheckpoints
   *   its roster key table and candidate pairs PER CALL, i.e. per
   *   micro-batch here — blocks are bounded and GC-reclaimed, but a
   *   memory-tight long-lived serving driver should prefer larger
   *   `maxFilesPerTrigger` batches to amortize them.
   */
  def matchStreaming(spark: SparkSession, sourceDir: String,
                     employees: DataFrame, outDir: String,
                     checkpointDir: String,
                     maxFilesPerTrigger: Int = 1,
                     blocked: Boolean = false): Unit = {
    val stream = spark.readStream.schema(UsernameSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val matchBatch: DataFrame => DataFrame =
      if (blocked) MatchBlocking.matchOutput(_, employees)
      else MatchPipeline.matchOutput(_, employees)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        matchBatch(batch)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
