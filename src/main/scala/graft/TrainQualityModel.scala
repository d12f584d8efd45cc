package graft

import org.apache.spark.sql.functions._

/** Dev tool (pairs with [[Bench]]/[[BenchOne]]): train the learned quality
  * filter on a fixture dir and print the frozen weights as the literal the
  * tx_quality_model query + oracle pin. Usage:
  * `runMain graft.TrainQualityModel /root/testdata/sf0.01` */
object TrainQualityModel {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.fromEnv(8)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the label: the DSIR gate's own verdict (llr_fp >= -10*2^30, the
    // tx_dsir convention) — the model learns a cheap scan-side
    // approximation of the expensive selector
    val model = graft.operators.Dsir.trainModel(docs, "text",
      col("lang") === "en", 4096)
    val labeled = docs.withColumn("__dsir_sel",
      coalesce(graft.functions.dsir_score(
        graft.operators.Dsir.featureBuckets(col("text"), model.buckets),
        model.llr), lit(0L)) >= lit(-10L << 30))
    val (w, acc) = graft.ml.QualityModel.train(labeled, "text", "doc_id",
      col("__dsir_sel"))
    // Double.toString round-trips: pasting these literals reproduces the
    // exact doubles in both Spark and DuckDB
    println(s"[train_quality] acc=$acc")
    println(s"[train_quality] QualityLr(${w.intercept}, ${w.wTokens}, " +
      s"${w.wAvgLen}, ${w.wPunct}, ${w.wStop})")
    spark.stop()
  }
}
