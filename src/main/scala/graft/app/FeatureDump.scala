package graft.app

import org.apache.spark.sql.functions._
import graft.ml.MatchModel

/** Fixture-generation utility: dump the 5 training features
  * (MatchModel.buildFeatures, raw-string path per train_model.py:16-23)
  * for a labeled-pairs CSV, keyed by its `id` column.
  *
  *   sbt "runMain graft.app.FeatureDump <pairs.csv> <outDir>"
  *
  * Used by tools/gen_model_agreement_fixture.py to replay the reference's
  * trained sklearn forest (TRAINED_MODELS/model_(4k).pkl) over the exact
  * feature matrix this engine computes, producing the prediction-agreement
  * fixture pinned by MatchModelSpec.
  */
object FeatureDump {
  def main(args: Array[String]): Unit = {
    val Array(inCsv, outDir) = args.take(2)
    val spark = graft.GraftSession.fromEnv(8)
    val pairs = spark.read.option("header", "true").csv(inCsv)
    MatchModel.buildFeatures(pairs)
      .select(col("id"), col("levenshtein"), col("partial_ratio"),
        col("token_set_ratio"), col("soundex_match"), col("metaphone_match"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(outDir)
    spark.stop()
  }
}
