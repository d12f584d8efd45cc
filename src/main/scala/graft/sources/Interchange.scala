package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Corpus interchange beyond parquet: JSON-Lines, the lingua franca
 * training corpora are shipped in. Thin, deliberately opinionated wrappers
 * over Spark's built-in JSON source:
 *
 *  - JSONL reads take an EXPLICIT schema — schema inference scans the data
 *    once before the real read (a full extra pass at 100 TB) and can drift
 *    between corpus versions (a batch where some field happens to be all
 *    null infers differently). Malformed lines land in a `_corrupt_record`
 *    column instead of failing the job (PERMISSIVE), so a bad shard is
 *    observable and filterable rather than fatal.
 *  - Writes go through the normal distributed writer: one file per
 *    partition, no single-file coalesce — corpus-sized outputs must not
 *    funnel through one task.
 */
object Interchange {

  /** Distributed JSONL write (gzip-compressed parts by default: JSONL is
    * text — ~5× smaller on the wire, still splittable per-file). */
  def writeJsonl(df: DataFrame, path: String,
                 compression: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** Schema-enforced JSONL read; malformed lines are captured, not fatal.
    * The returned frame carries `_corrupt_record` (null for clean rows) —
    * callers audit/drop it explicitly. CAVEAT: Spark rejects a plan whose
    * referenced columns are ONLY `_corrupt_record` straight off raw JSON
    * ([UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN]) — cache or
    * persist the frame first when auditing corrupt counts alone. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
}
