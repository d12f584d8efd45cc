package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.MatchModel

/** ML parity band vs the reference training run (SURVEY.md §5.2.5, §7.4.7):
  * same features, 100-tree forest, seed 32, 70/30 split — accuracy must land
  * in the reference's ~0.90 neighborhood (band >= 0.85; RNG streams differ
  * from sklearn so row-level parity is impossible by construction). */
class MatchModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // the reference's 4k training pairs in their file order: the fixture
  // carries every (username, employee_name, label) row of
  // training_data_(4k).csv, numbered by `id` (tools/gen_model_agreement_fixture.py).
  // One partition, like the single training file: randomSplit's split
  // depends on how rows are partitioned.
  private def pairs4k =
    spark.read.option("header", "true").csv("fixtures/model4k_agreement.csv")
      .orderBy(col("id").cast("int")).coalesce(1)
      .select(col("username"), col("employee_name"), col("label").cast("int").as("label"))

  // the reference's 40k training CSV (TRAINING_DATA/training_data(40000).csv)
  // is not committed; copied to this path it runs the 40k test, and while
  // it is absent the test is registered as ignored, so reports show it as
  // skipped
  private val Csv40k = "fixtures/training_data(40000).csv"
  private def testIfPresent(path: String, name: String)(body: => Unit): Unit =
    if (new java.io.File(path).exists()) test(name)(body) else ignore(name)(body)

  test("RandomForest on the 4k labeled pairs reaches the reference accuracy band") {
    val (_, acc) = MatchModel.trainAndEvaluate(pairs4k)
    assert(acc >= 0.85, f"accuracy $acc%.4f below the 0.85 reference band")
  }

  testIfPresent(Csv40k, "RandomForest on the 40k labeled pairs reaches the published ~90% accuracy band") {
    // the reference ships model_40000(Accu~90).pkl trained from
    // training_data(40000).csv (train_model.py with the 40k input); the
    // binary .pkl itself is sklearn-only, so parity is pinned at the
    // accuracy level: same 5 features, 100 trees, seed 32, 70/30 split.
    // NOTE the dataset's structure: 40 000 pairs but only 10 distinct
    // employee_names, and each username appears twice (once label 1, once
    // label 0 against a different name) — a random row split therefore
    // leaks near-duplicate feature rows across train/test, which is what
    // makes ~90% reachable at all. We reproduce the reference's protocol,
    // leakage included, and band against its published number.
    val pairs = spark.read.option("header", "true").csv(Csv40k)
      .select(col("username"), col("employee_name"), col("label").cast("int").as("label"))
    val (_, acc) = MatchModel.trainAndEvaluate(pairs)
    assert(acc >= 0.85 && acc <= 0.95,
      f"accuracy $acc%.4f outside the published ~0.90 band [0.85, 0.95]")
  }

  test("classification report on the 4k test split (M4): per-class floors + agreement") {
    // the reference prints sklearn's classification_report on the 4k held-out
    // split (train_model.py:46) and publishes only the headline ~0.90; the
    // engine reproduces the full report surface and pins per-class floors —
    // prediction agreement with the recorded labels (= accuracy, the
    // row-level agreement floor) plus precision/recall/F1 per class.
    val (_, predictions) = MatchModel.trainAndPredict(pairs4k)
    val report = MatchModel.classificationReport(predictions).collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    info(report.toSeq.sortBy(_._1).map { case (k, (p, r, f, s)) =>
      f"$k: p=$p%.4f r=$r%.4f f1=$f%.4f n=$s" }.mkString("; "))
    assert(report.keySet === Set("0", "1", "accuracy", "macro avg", "weighted avg"))
    val (p0, r0, f0, s0) = report("0"); val (p1, r1, f1c, s1) = report("1")
    // support: the 30% split of 4 050 rows (seed 32) — both classes present
    assert(s0 + s1 === report("accuracy")._4 && s0 > 300 && s1 > 600)
    // agreement floor vs the recorded labels + per-class floors: measured
    // r10 values are acc 0.983, per-class p/r/f1 0.972-0.990 (above the
    // reference's ~0.90 headline); floors at 0.93/0.95 leave RNG-stream
    // margin while still catching any real feature/forest regression
    assert(report("accuracy")._3 >= 0.95)
    Seq(p0, r0, f0, p1, r1, f1c).foreach(m => assert(m >= 0.93, s"per-class metric $m < 0.93"))
    // weighted-avg f1 must sit in the same band as the headline accuracy
    assert(math.abs(report("weighted avg")._3 - report("accuracy")._3) < 0.05)
  }

  test("cross-runtime prediction agreement with the reference's trained forest") {
    // fixtures/model4k_agreement.csv (tools/gen_model_agreement_fixture.py)
    // replays the reference's SHIPPED sklearn forest — TRAINED_MODELS/
    // model_(4k).pkl, trees extracted from the public joblib/sklearn disk
    // formats — over this engine's own feature matrix, and records sklearn's
    // canonical test split (RandomState(32) permutation, train_model.py:36).
    // The extraction is cross-validated against the 40k model's published
    // number (its filename claims ~90; the replay reads 92.25% on its own
    // split). Training MLlib on the complementary train rows and comparing
    // row-level predictions on that exact split is the strongest
    // cross-runtime pin available without sklearn at runtime: different RNG
    // streams, same algorithm family, same features -> row agreement stays
    // high. Measured r11: agreement 0.979 on the 1 215-row split; floor 0.95
    // leaves forest-randomness margin while catching any real feature or
    // forest regression.
    val fx = spark.read.option("header", "true").csv("fixtures/model4k_agreement.csv")
    val feats = MatchModel.buildFeatures(fx).withColumn("label", col("label").cast("double"))
    val model = MatchModel.pipeline().fit(feats.filter(col("split") === "train"))
    val pred = model.transform(feats.filter(col("split") === "test"))
    val row = pred.agg(
      avg((col("prediction") === col("ref_pred").cast("double")).cast("double")).as("agree"),
      count(lit(1)).as("n")).head()
    val (agreement, n) = (row.getDouble(0), row.getLong(1))
    info(f"agreement with the reference forest on its $n-row canonical test split: $agreement%.4f")
    assert(n === 1215L)
    assert(agreement >= 0.95, f"cross-runtime agreement $agreement%.4f below 0.95 floor")
  }

  test("model persistence roundtrip (M5)") {
    import spark.implicits._
    val pairs = Seq(
      ("john.smith", "John Smith", 1), ("jsmith", "John Smith", 1),
      ("xqzvw", "John Smith", 0), ("adoe", "Alice Doe", 1),
      ("zz9", "Alice Doe", 0), ("alice_doe", "Alice Doe", 1),
      ("bobk", "Bob Kumar", 1), ("qqq", "Bob Kumar", 0)
    ).toDF("username", "employee_name", "label")
    val feats = MatchModel.buildFeatures(pairs).withColumn("label", col("label").cast("double"))
    val model = MatchModel.pipeline(numTrees = 5).fit(feats)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    MatchModel.save(model, dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    val a = model.transform(feats).select("prediction").collect().map(_.getDouble(0)).toSeq
    val b = loaded.transform(feats).select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(a === b)
  }

  test("feature builder emits the 5 reference features with raw-string semantics") {
    import spark.implicits._
    val df = Seq(("john.smith", "John Smith")).toDF("username", "employee_name")
    val raw = MatchModel.buildFeatures(df).select(MatchModel.FeatureCols.map(col): _*).head()
    // training path computes on RAW strings (train_model.py:16-23): case
    // differences lower the ratio scores vs the normalized serving path
    val norm = MatchModel.buildFeatures(df, normalize = true)
      .select(MatchModel.FeatureCols.map(col): _*).head()
    assert(raw.getInt(0) < norm.getInt(0), "raw-path ratio must see the case mismatch")
    assert(norm.getInt(2) === 100) // token_set on normalized strings
  }
}
