package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/**
 * Deduplication operators for the large-scale training-data surface
 * (SURVEY.md §7.5). Every variant is expressed so the expensive comparison is
 * bounded by BUCKET collisions (hash / LSH band / simhash block), never an
 * all-pairs cross join — the property that keeps these O(n·k) at 100 TB.
 *
 * Candidate generation shape (shared by all near-dup variants):
 *
 *   1. one pass computes each row's signature and explodes it to NARROW
 *      (id, bucket-key) rows — fat payloads (text, vectors) do NOT enter
 *      this shuffle, and the signature kernel runs exactly once per row;
 *   2. groupBy(bucket-key) + collect_list(id) gathers each bucket, and pairs
 *      are generated INSIDE the bucket (array combinatorics in codegen) —
 *      no self-join, hence no duplicated signature computation (Spark does
 *      not reuse exchanges across self-join sides) and no key-explode of
 *      payloads;
 *   3. candidate (id_a, id_b) pairs are de-duplicated (a pair can collide in
 *      several buckets) while still narrow, and only then are payloads
 *      joined back by id for exact verification.
 *
 * Degenerate buckets (a boilerplate string shared by millions of docs) are
 * frequency-capped via `maxBucketSize` — but not dropped outright: every
 * variant carries a SECOND content-derived signature per row, and an
 * over-cap bucket is sub-split by it so that true near-dup pairs (which
 * agree on the secondary signature with high probability) keep being
 * generated inside capped sub-groups while the coincidental members spread
 * out (see [[candidatesFromKeyed]]). Only a sub-group that is STILL over
 * the cap — essentially one text duplicated cap+ times, which shares every
 * signature — is dropped, surfaced via the observed `dropped_hot_buckets`
 * metrics so the hole is visible. The default cap is high (10k members ~
 * 50M generated pairs per group) because the explode-first generator keeps
 * per-row memory O(s) even at the cap.
 *
 * Canonicalize first: run [[TextAnalysis.normalizeText]] over the text
 * column before any of these (exact hash, minhash, simhash) so
 * composed/decomposed and compatibility-variant renderings of the same
 * text land in the same buckets — mixed-source crawls otherwise keep
 * them as distinct documents.
 */
object Dedup {

  /** Exact dedup: first row (min orderCol) per identical `textCol` wins.
    * Hash-groupBy, single shuffle; map-side partial aggregation applies. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup keeping full surviving rows (the "apply" form). */
  def exactKeepRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /**
   * Distinct candidate pairs for buckets of (id, bucket key) rows.
   *
   * Pair generation never materializes the s² pair set in one value: the
   * sorted bucket array is exploded to one row PER MEMBER first, and each
   * member then pairs only with the suffix that follows it (upper triangle,
   * so a < b by construction). Peak per-row memory is O(s) — one copy of the
   * bucket array plus one suffix slice — even for a bucket at the cap.
   *
   * HOT-BUCKET SALVAGE: when the caller supplies `subKeyCol` — a SECOND
   * content-derived signature carried on each keyed row (an extra minhash
   * with a different seed, another simhash block, a different-seed
   * hyperplane bucket) — buckets above `maxBucketSize` are SUB-SPLIT by
   * that signature instead of dropped outright: pairs are generated inside
   * each (bucket, sub-signature) group that fits the cap. True near-dup
   * pairs agree on the secondary signature with high probability (a single
   * extra minhash collides with probability = their Jaccard; near-identical
   * embeddings fall in the same seed' bucket), while the coincidental
   * members that made the bucket hot spread across sub-groups — so the
   * expensive s² blowup is still avoided but most true pairs survive. A
   * sub-group still above the cap (the pathological case: one text
   * duplicated cap+ times shares EVERY signature) is dropped and surfaced
   * through the `dedup_candidates_<tag>` observed metric
   * (`dropped_hot_buckets` = dropped groups, `dropped_hot_bucket_rows` =
   * member rows in them, `salvaged_hot_bucket_rows` = hot-bucket rows that
   * survived into capped sub-groups). Without `subKeyCol` the old
   * semantics hold: over-cap buckets drop whole.
   *
   * Plan shape: ONE hash exchange on the bucket key — the bucket-size
   * window, the sub-group window, and the final per-group gather are all
   * key-prefix refinements satisfied by the same partitioning (pinned in
   * PlanShapeSpec via dd_minhash_lsh).
   *
   * CAVEAT (verified on Spark 4.1.2): AQE drops observed metrics attached
   * below an exchange — listeners receive an empty map. When the counts
   * matter in a production (AQE) plan, run [[candidateMetricsFromKeyed]]
   * (surfaced as [[minhashLshAudit]] / the `dd_cand_audit` query) — the
   * same counts as a regular one-row aggregate AQE cannot drop; the
   * observe path still works under spark.sql.adaptive.enabled=false
   * (OperatorsSpec pins both behaviors' reality and audit == observe
   * parity). The metric name is
   * DETERMINISTIC per composition site (the caller-supplied `metricTag`),
   * so listeners can subscribe to a stable name across plan rebuilds. Spark
   * rejects a query containing two `observe` nodes with the same name
   * (DUPLICATED_METRICS_NAME), so a query that composes the SAME variant
   * twice (e.g. two minhash passes unioned) must pass distinct tags — each
   * public entry point exposes `metricTag` for exactly that.
   */
  private[graft] def candidatesFromKeyed(keyed: DataFrame, keyCols: Seq[String],
                                         maxBucketSize: Int,
                                         metricTag: String = "pairs",
                                         subKeyCol: Option[String] = None): DataFrame = {
    val keyExprs = keyCols.map(col)
    val wBucket = Window.partitionBy(keyExprs: _*)
    // the effective pair-group: the whole bucket when it fits the cap, the
    // (bucket, secondary-signature) sub-split when it is hot. NULL sub key
    // = "whole bucket" — it groups with itself only, since cold rows never
    // mix with hot rows of the same bucket (bsz is a bucket-level constant).
    val subExpr = subKeyCol match {
      case Some(s) => when(col("__bsz") > maxBucketSize, col(s))
      case None => lit(null).cast("long")
    }
    val wGroup = Window.partitionBy((keyExprs :+ col("__sub")): _*).orderBy(col("id"))
    val whole = wGroup.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    keyed
      .withColumn("__bsz", count(lit(1)).over(wBucket))
      .withColumn("__sub", subExpr)
      .withColumn("__gsz", count(lit(1)).over(whole))
      .withColumn("__rn", row_number().over(wGroup))
      .observe(s"dedup_candidates_$metricTag",
        sum(when(col("__gsz") > maxBucketSize && col("__rn") === 1, 1L)
          .otherwise(0L)).as("dropped_hot_buckets"),
        sum(when(col("__gsz") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_hot_bucket_rows"),
        sum(when(col("__bsz") > maxBucketSize && col("__gsz") <= maxBucketSize, 1L)
          .otherwise(0L)).as("salvaged_hot_bucket_rows"))
      .filter(col("__gsz") <= maxBucketSize)
      .groupBy((keyExprs :+ col("__sub")): _*)
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(sort_array(col("ids")).as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      .filter(col("id_a") =!= col("id_b")) // guards duplicate ids in a caller's input
      .distinct()
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs with exact-Jaccard
   * verification. Signature: `numHashes` minhashes over word `shingleW`-
   * shingles; `bands` bands of `numHashes/bands` rows each. Verified pairs
   * carry the exact word-shingle Jaccard for thresholding.
   */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 jaccardThreshold: Double = 0.8,
                 maxBucketSize: Int = 10000,
                 metricTag: String = "minhash"): DataFrame = {
    val cand = minhashCandidates(df, textCol, idCol, shingleW, numHashes,
      bands, maxBucketSize, metricTag)
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
    cand
      .join(texts.withColumnsRenamed(Map("id" -> "id_a", "text" -> "text_a")), "id_a")
      .join(texts.withColumnsRenamed(Map("id" -> "id_b", "text" -> "text_b")), "id_b")
      .withColumn("jaccard", ngram_jaccard(col("text_a"), col("text_b"), lit(shingleW)))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The banding stage of [[minhashLsh]]: distinct UNVERIFIED candidate
    * pairs from the (band, band_key) equi-join, hot buckets sub-split by
    * the extra-seed salvage minhash. Shared by [[minhashLsh]] (which
    * verifies with exact Jaccard) and [[lshEval]] (which measures how much
    * verification the banding wastes). */
  private def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                                shingleW: Int, numHashes: Int, bands: Int,
                                maxBucketSize: Int, metricTag: String): DataFrame =
    candidatesFromKeyed(
      minhashKeyed(df, textCol, idCol, shingleW, numHashes, bands),
      Seq("band", "band_key"), maxBucketSize, metricTag,
      subKeyCol = Some("sub_key"))

  /** The narrow (id, sub_key, band, band_key) frame the LSH band join runs
    * on — one signature pass, exploded to `bands` rows per doc. Shared by
    * [[minhashCandidates]] (pair generation) and [[minhashLshAudit]] (the
    * AQE-proof cap audit over the same buckets). */
  private def minhashKeyed(df: DataFrame, textCol: String, idCol: String,
                           shingleW: Int, numHashes: Int, bands: Int): DataFrame = {
    // the band fold derives its band count as numHashes/rowsPerBand, so a
    // non-dividing `bands` would silently change the b/r collision tuning
    // (and bands > numHashes would divide by zero) — fail fast instead
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    // numHashes + 1 minhash values: the first numHashes feed the band fold
    // (identical buckets to a plain numHashes signature — each position is
    // an independent seeded hash), and the EXTRA one is the hot-bucket
    // salvage sub-key: a different-seed minhash two near-dups collide on
    // with probability = their Jaccard, uncorrelated with any band
    df.select(
        col(idCol).as("id"),
        minhash_sig(col(textCol), lit(shingleW), lit(numHashes + 1)).as("sigx"))
      .select(col("id"),
        element_at(col("sigx"), numHashes + 1).as("sub_key"),
        posexplode(bandKeys(slice(col("sigx"), 1, numHashes), bands, rows))
          .as(Seq("band", "band_key")))
  }

  /** AQE-PROOF cap audit: the drop/salvage counts [[candidatesFromKeyed]]
    * attaches as observed metrics, recomputed as a REGULAR one-row
    * aggregation — observed metrics attached below an exchange vanish
    * under adaptive execution (the caveat on [[candidatesFromKeyed]]), so
    * a production plan that needs the counts (an admission gate deciding
    * whether a banding config drops too much before committing the
    * full-corpus pass) runs this query alongside the dedup itself.
    *
    * Semantics are IDENTICAL to the observe: a pair group is the whole
    * bucket when the bucket fits `maxBucketSize`, the (bucket, sub-key)
    * sub-split when the bucket is hot; `dropped_hot_buckets` counts
    * residually-hot groups, `dropped_hot_bucket_rows` their member rows,
    * `salvaged_hot_bucket_rows` hot-bucket rows that survived into capped
    * sub-groups (OperatorsSpec pins audit == observe on the same frame).
    *
    * Scale shape: rows collapse to (bucket, sub) group COUNTS first — one
    * map-side-combined aggregation over the narrow keyed frame — bucket
    * sizes come from a window over the already-aggregated group frame
    * (an exchange over distinct groups, not rows), and the final global
    * aggregate is a single row. Nothing data-sized reaches the driver.
    */
  private[graft] def candidateMetricsFromKeyed(keyed: DataFrame, keyCols: Seq[String],
                                               maxBucketSize: Int,
                                               subKeyCol: Option[String] = None): DataFrame = {
    val keyExprs = keyCols.map(col)
    val subC = subKeyCol.map(col).getOrElse(lit(null).cast("long"))
    val groups = keyed
      .groupBy((keyExprs :+ subC.as("__sub")): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__bsz", sum(col("__n")).over(Window.partitionBy(keyExprs: _*)))
    // cold buckets (__bsz <= cap) contribute nothing — their raw-sub split
    // here is coarser-grained in candidatesFromKeyed (one NULL-sub group),
    // but no cold group is counted by any branch, so the counts agree
    val hot = col("__bsz") > maxBucketSize
    groups.agg(
      coalesce(sum(when(hot && col("__n") > maxBucketSize, 1L).otherwise(0L)), lit(0L))
        .as("dropped_hot_buckets"),
      coalesce(sum(when(hot && col("__n") > maxBucketSize, col("__n")).otherwise(0L)), lit(0L))
        .as("dropped_hot_bucket_rows"),
      coalesce(sum(when(hot && col("__n") <= maxBucketSize, col("__n")).otherwise(0L)), lit(0L))
        .as("salvaged_hot_bucket_rows"))
  }

  /** [[candidateMetricsFromKeyed]] over [[minhashLsh]]'s band buckets: one
    * row of drop/salvage counts for the banding config, visible under AQE.
    * Run it next to the dedup pass itself (same signature kernel, but only
    * the narrow keyed rows flow — the audit never touches payloads). */
  def minhashLshAudit(df: DataFrame, textCol: String, idCol: String,
                      shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      maxBucketSize: Int = 10000): DataFrame =
    candidateMetricsFromKeyed(
      minhashKeyed(df, textCol, idCol, shingleW, numHashes, bands),
      Seq("band", "band_key"), maxBucketSize, subKeyCol = Some("sub_key"))

  /**
   * LSH TUNING EVAL: grades a MinHash banding configuration against the
   * EXACT set-similarity ground truth of [[ngramJaccardPairs]] on the same
   * corpus, same shingles, same threshold. One output row:
   *
   *   - `n_candidates`  distinct pairs the banding generated (the cost:
   *                     each costs one exact-Jaccard verification)
   *   - `n_verified`    candidates that passed `J >= tau` (the yield)
   *   - `n_true_pairs`  ALL pairs with `J >= tau` (prefix-filter join —
   *                     provable 100% recall, the denominator MinHash
   *                     pipelines usually cannot measure)
   *   - `n_caught`      verified ∩ truth (= n_verified up to each path's
   *                     own hot-bucket cap; kept separate so cap-induced
   *                     asymmetries are visible, not silently conflated)
   *   - `verify_precision` = n_verified / n_candidates — the fraction of
   *                     verification work that produced a pair; low means
   *                     bands are too coarse (b too high / r too low)
   *   - `recall`        = n_caught / n_true_pairs — what the banding missed;
   *                     low means r too high for the corpus' similarity mass
   *
   * Both ratios divide exact BIGINT counts, so the doubles are bit-identical
   * across engines (NULL when the denominator is 0, never Inf/NaN).
   *
   * Documents with an empty shingle set are excluded from BOTH sides up
   * front: the exact path structurally never pairs them (no prefix) while
   * banded empty signatures would collide with each other, and a
   * ground-truth comparison must grade both paths on the same universe.
   *
   * Scale shape: the candidate side is the [[minhashLsh]] banding (narrow
   * keyed rows, one exchange, capped buckets); the truth side is the
   * [[ngramJaccardPairs]] prefix join; counts are map-side-combined single
   * aggregates crossed into one row — nothing data-sized reaches the
   * driver. This is a TUNING harness: at 100 TB run it on a stratified
   * sample (e.g. [[graft.operators.TextAnalysis.stratifiedSample]]) —
   * recall/precision of a banding scheme are properties of the similarity
   * distribution, which a sample estimates; the full-corpus exact join is
   * exactly the cost LSH exists to avoid.
   */
  def lshEval(df: DataFrame, textCol: String, idCol: String,
              shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
              jaccardThreshold: Double = 0.5,
              maxBucketSize: Int = 10000,
              metricTag: String = "lsh_eval"): DataFrame = {
    // the three expensive legs are each consumed by MORE than one of the
    // four count aggregates below, and Spark re-executes a subtree per
    // consumer (the retention/gapFill lesson) — without the checkpoints
    // the banding pipeline ran 3x and the exact-truth join 2x per eval
    val nonEmpty = df.filter(size(shingle_set(col(textCol), lit(shingleW))) > 0)
    // the banding->verify chain and the exact-truth leg are INDEPENDENT
    // eager pipelines over the same corpus: build them on concurrent
    // driver threads (guide §2.6) so the truth leg's prefix join
    // back-fills the cores the banding chain's tail leaves idle —
    // identical results per leg, ~half the sequential wall
    val ((cand, verified), truth) = graft.util.Par.run2(
      () => {
        val c = minhashCandidates(nonEmpty, textCol, idCol, shingleW, numHashes,
          bands, maxBucketSize, metricTag)
        // serialized checkpoint storage: see graft.util.Cp
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        // verify on precomputed sorted shingle sets (the ngramJaccardPairs
        // trick): a sorted-merge intersect count per candidate beats
        // re-tokenizing both texts
        val sets = nonEmpty.select(col(idCol).as("id"),
          shingle_set(col(textCol), lit(shingleW)).as("ss"))
        // SIZE-RATIO PREFILTER before the merge count (r21, guide §3
        // pre-join pruning): J(A,B) >= tau requires |A ∩ B| >= tau/(1+tau)
        // * (|A|+|B|) and |A ∩ B| <= min(|A|,|B|), so min(|A|,|B|) >=
        // tau * max(|A|,|B|) is NECESSARY — a banding candidate failing it
        // can never verify, and two int compares are far cheaper than the
        // sorted-merge intersect it skips. (The prefix-join verify legs
        // need no such guard: PPJoin's positional filter already implies
        // the size bound at generation.) Survivor set is bit-identical.
        val v = c
          .join(sets.withColumnsRenamed(Map("id" -> "id_a", "ss" -> "ss_a")), "id_a")
          .join(sets.withColumnsRenamed(Map("id" -> "id_b", "ss" -> "ss_b")), "id_b")
          .filter(least(size(col("ss_a")), size(col("ss_b"))).cast("double") >=
            lit(jaccardThreshold) * greatest(size(col("ss_a")), size(col("ss_b"))))
          .withColumn("inter", sorted_intersect_count(col("ss_a"), col("ss_b")))
          .withColumn("jaccard", col("inter").cast("double") /
            (size(col("ss_a")) + size(col("ss_b")) - col("inter")))
          .filter(col("jaccard") >= jaccardThreshold)
          .select("id_a", "id_b")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        (c, v)
      },
      () => ngramJaccardPairs(nonEmpty, textCol, idCol, shingleW,
        jaccardThreshold, maxBucketSize, metricTag + "_truth")
        .select("id_a", "id_b")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nVer = verified.agg(count(lit(1)).as("n_verified"))
    val nTrue = truth.agg(count(lit(1)).as("n_true_pairs"))
    val nCaught = verified.join(truth, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_caught"))
    nCand.crossJoin(nVer).crossJoin(nTrue).crossJoin(nCaught)
      .withColumn("verify_precision",
        when(col("n_candidates") === 0, lit(null).cast("double"))
          .otherwise(col("n_verified").cast("double") / col("n_candidates")))
      .withColumn("recall",
        when(col("n_true_pairs") === 0, lit(null).cast("double"))
          .otherwise(col("n_caught").cast("double") / col("n_true_pairs")))
  }

  /**
   * EXACT n-gram-Jaccard near-duplicate pairs via PREFIX FILTERING — the
   * set-similarity self-join of the AllPairs / PPJoin family (Bayardo et
   * al., WWW'07; Xiao et al., WWW'08). Unlike [[minhashLsh]] this variant
   * is exact: every pair with shingle-set Jaccard >= `jaccardThreshold`
   * is emitted (up to the explicit hot-bucket cap), with no probabilistic
   * recall loss — the verification pass a MinHash pipeline needs anyway,
   * but with a candidate generator whose recall is provable.
   *
   * How: order the universe of shingles by GLOBAL document frequency
   * (rare first, ties by shingle value), and index each document only by
   * the first `|S| - ceil(tau * |S|) + 1` shingles of its set in that
   * order (its "prefix"). Any pair with J >= tau has
   * `|A ∩ B| >= ceil(tau * max(|A|,|B|))`, and by the prefix-filter lemma
   * the two prefixes must then share at least one shingle — so the
   * shingle-bucket equi-join over prefixes misses nothing. Rare-first
   * ordering is the load-bearing scale choice: prefix buckets are keyed
   * by the RAREST shingles of each document, so bucket sizes are
   * self-limiting and boilerplate n-grams (the hot keys of naive shingle
   * blocking) are pushed out of every prefix. PPJoin's POSITIONAL filter
   * then prunes during generation (see the inline comment), and
   * verification intersects precomputed sorted shingle arrays instead of
   * re-tokenizing raw text per pair — measured together at sf0.1 these
   * cut the operator from ~29 to single-digit CPU-seconds on a
   * vocabulary-heavy corpus where prefixes alone prune poorly.
   *
   * Scale shape: one narrow (id, shingle) explode feeds a map-side-combined
   * document-frequency aggregate; the frequency join, per-document prefix
   * windows, and candidate buckets all shuffle narrow rows only — text
   * payloads are joined back by id exclusively for colliding pairs.
   * Buckets above `maxBucketSize` (possible only when a rare-in-name,
   * hot-in-fact shingle survives into many prefixes — e.g. a corpus that
   * is mostly copies of one document) are dropped whole and surfaced via
   * the `dedup_candidates_<tag>` observed metric, the same explicit
   * recall/cost trade as every other variant here.
   *
   * Documents with an EMPTY shingle set (null/empty/whitespace-only text)
   * never enter: they have no prefix, so they pair with nothing — the
   * empty-vs-empty `J = 1.0` convention of [[TextAlgos.ngramJaccard]] is
   * out of scope for this operator (mirror-dropped by the oracle).
   *
   * `jaccardThreshold` must be exactly representable in binary (0.5, 0.25,
   * 0.75, ...) for the DuckDB oracle's `ceil` to agree bit-for-bit; any
   * tau in (0, 1] is semantically fine for engine-only use.
   */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleW: Int = 3, jaccardThreshold: Double = 0.5,
                        maxBucketSize: Int = 10000,
                        metricTag: String = "ngram"): DataFrame = {
    require(jaccardThreshold > 0 && jaccardThreshold <= 1,
      s"jaccardThreshold ($jaccardThreshold) must be in (0, 1]")
    val toks = df.select(col(idCol).as("id"),
      explode(shingle_set(col(textCol), lit(shingleW))).as("sh"))
    val dfreq = toks.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("id")
    val wOrd = wDoc.orderBy(col("df").asc, col("sh").asc)
    // rn = the shingle's position in the doc's FULL rare-first order (not
    // just within the prefix): the positional filter's suffix bound below
    // needs positions relative to the whole set
    val prefix = toks.join(dfreq, "sh")
      .withColumn("sz", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(jaccardThreshold)) + 1)
      .select("id", "sh", "rn", "sz")
    // Pair generation inline rather than via [[candidatesFromKeyed]]: each
    // bucket member must carry (rn, sz) so PPJoin's POSITIONAL filter can
    // run during generation. Two docs colliding on a shingle at positions
    // (rn_a, rn_b) of the common global order share at most
    // min(sz_a - rn_a, sz_b - rn_b) + 1 shingles (everything common sits at
    // or after the collision when it is the pair's first), and J >= tau
    // needs |A ∩ B| >= tau/(1+tau) * (|A|+|B|) — a true pair passes the
    // bound at its first collision, so keeping any-occurrence-passes loses
    // nothing, while late-prefix collisions of dissimilar docs (the bulk,
    // on vocabulary-heavy corpora) die before the distinct. Same
    // O(s)-per-row explode-the-suffix shape as candidatesFromKeyed.
    val alphaNum = jaccardThreshold / (1.0 + jaccardThreshold)
    val wBucket = Window.partitionBy("sh")
    val cand = prefix
      .withColumn("__bsz", count(lit(1)).over(wBucket))
      .withColumn("__brn", row_number().over(wBucket.orderBy(col("id"))))
      .observe(s"dedup_candidates_$metricTag",
        sum(when(col("__bsz") > maxBucketSize && col("__brn") === 1, 1L)
          .otherwise(0L)).as("dropped_hot_buckets"),
        sum(when(col("__bsz") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_hot_bucket_rows"))
      .filter(col("__bsz") <= maxBucketSize)
      .drop("__brn")
      .groupBy("sh")
      .agg(collect_list(struct(col("id"), col("rn"), col("sz"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(sort_array(col("ms")).as("ms"))
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
      .filter(col("a.id") =!= col("b.id"))
      .filter(least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) + lit(1) >=
        ceil((col("a.sz") + col("b.sz")) * lit(alphaNum)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify on the precomputed shingle SETS (sorted long arrays), not the
    // raw texts: a sorted-merge intersect count per surviving pair beats
    // re-tokenizing and re-hashing both documents per pair by ~an order
    // of magnitude
    val sets = df.select(col(idCol).as("id"),
      shingle_set(col(textCol), lit(shingleW)).as("ss"))
    cand
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "ss" -> "ss_a")), "id_a")
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "ss" -> "ss_b")), "id_b")
      .withColumn("inter", sorted_intersect_count(col("ss_a"), col("ss_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ss_a")) + size(col("ss_b")) - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * ASYMMETRIC containment join: all directed pairs (A, B) with
   * `|A ∩ B| / |A| >= tau` over distinct word-shingle sets — "at least
   * tau of A's content appears inside B". The doc-in-doc detector that
   * symmetric Jaccard structurally misses: a page quoting a full article,
   * a bundle concatenating many documents, a boilerplate wrapper around a
   * copied body all have tiny Jaccard (the union is dominated by the big
   * side) but containment ~1 in one direction — and corpus curation wants
   * exactly that direction (drop A, keep B).
   *
   * Prefix filtering is ONE-SIDED here, the structural difference from
   * [[ngramJaccardPairs]]: the required overlap `ceil(tau * |A|)` depends
   * only on the PROBE side, so A indexes just its rare-first prefix of
   * `|A| - ceil(tau * |A|) + 1` shingles, while B — whose matching A's
   * size is unknown at index time — must index its FULL set (the known
   * lower bound of containment indexing). The probe/index equi-join on the
   * shingle is therefore probe-prefix × full-index; rare-first order keeps
   * probe buckets keyed by each document's rarest content, and PPJoin's
   * positional bound prunes at generation: a first collision at positions
   * (rn_a, rn_b) of the common global order caps the overlap at
   * `min(sz_a - rn_a, sz_b - rn_b) + 1`, which must still reach
   * `ceil(tau * sz_a)`.
   *
   * Scale shape: one narrow (id, shingle) explode; map-side-combined
   * document-frequency census; both join sides are narrow (id, sh, rn, sz)
   * rows — text payloads are joined back by id only for verified-candidate
   * pairs, on precomputed sorted shingle arrays. Index buckets are the
   * shingle's document frequency itself, so `maxBucketSize` caps them
   * directly: over-cap shingles leave the INDEX (boilerplate that would
   * pair everything with everything), surfaced via the observed
   * `dedup_candidates_<tag>` metric on the single-consumer index subtree.
   * Empty-set documents enter neither side. `tau` must be binary-exact
   * (0.5, 0.75, ...) for bit-identical SQL-oracle `ceil` agreement.
   */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleW: Int = 3, tau: Double = 0.75,
                       maxBucketSize: Int = 10000,
                       metricTag: String = "containment"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau ($tau) must be in (0, 1]")
    val toks = df.select(col(idCol).as("id"),
      explode(shingle_set(col(textCol), lit(shingleW))).as("sh"))
    val dfreq = toks.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("id")
    val ranked = toks.join(dfreq, "sh")
      .withColumn("sz", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(
        wDoc.orderBy(col("df").asc, col("sh").asc)))
    val probe = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(tau)) + 1)
      .select(col("id").as("id_a"), col("sh"),
        col("rn").as("rn_a"), col("sz").as("sz_a"))
    val index = ranked
      .observe(s"dedup_candidates_$metricTag",
        sum(when(col("df") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_index_rows"),
        max(when(col("df") > maxBucketSize, col("df"))).as("max_dropped_bucket"))
      .filter(col("df") <= maxBucketSize)
      .select(col("id").as("id_b"), col("sh"),
        col("rn").as("rn_b"), col("sz").as("sz_b"))
    val cand = probe.join(index, "sh")
      .filter(col("id_a") =!= col("id_b"))
      .filter(least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) + lit(1) >=
        ceil(col("sz_a") * lit(tau)))
      .select("id_a", "id_b")
      .distinct()
    val sets = df.select(col(idCol).as("id"),
      shingle_set(col(textCol), lit(shingleW)).as("ss"))
    cand
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "ss" -> "ss_a")), "id_a")
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "ss" -> "ss_b")), "id_b")
      .withColumn("containment",
        sorted_intersect_count(col("ss_a"), col("ss_b")).cast("double") /
          size(col("ss_a")))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /**
   * ExactSubstr-style duplicated-SPAN profiling (the Lee et al.
   * "Deduplicating Training Data Makes Language Models Better" signal,
   * re-expressed relationally): for every document, the fraction of its
   * tokens covered by word-`k`-grams that also occur in at least
   * `minDocs - 1` OTHER documents. Document-level dedup ([[exact]],
   * [[minhashLsh]]) misses partial copying — a page that quotes three
   * paragraphs of another keeps a low doc-level similarity while its
   * training impact is the verbatim span; this operator measures exactly
   * that, per document, as merged MAXIMAL spans (overlapping/adjacent
   * duplicated grams coalesce, so a 50-token verbatim quote counts 50
   * tokens once, not 43 overlapping 8-grams).
   *
   * Relational plan (vs the reference suffix-array formulation — a global
   * sort over the corpus concatenation that has no distributed analogue
   * without a terabyte-wide sort):
   *
   *   1. one narrow explode of (id, pos, gram) position-grams;
   *   2. gram census on DISTINCT (gram, id) — map-side combined; a gram is
   *      "duplicated" when its document frequency >= `minDocs`;
   *   3. LEFT-SEMI join of positions against the duplicated vocabulary —
   *      semi joins cannot blow up on hot grams (a boilerplate gram in
   *      millions of docs contributes one census row and marks, never
   *      multiplies, its positions);
   *   4. per-document gaps-and-islands interval merge under ONE doc_id
   *      window: a new span starts where the gap since the previous
   *      duplicated start exceeds `k`; covered tokens per span =
   *      max(start) - min(start) + k.
   *
   * All arithmetic is integral until the single final division, so the
   * output double is bit-exact across engines. Documents shorter than `k`
   * tokens carry no grams and report zero duplication (the under-length
   * convention of the reference metric).
   *
   * Grams travel as their 64-bit FNV hashes ([[word_shingles]], mirrored
   * bit-for-bit by the DuckDB oracle kernels), never as ~`k`-word strings:
   * the census and semi-join shuffle 8-byte keys. A 64-bit collision
   * falsely marks the colliding positions duplicated — birthday math puts
   * that at a handful of tokens corpus-wide even at 10^10 grams, noise
   * well under the signal this metric feeds (filter thresholds ~0.3).
   */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 1 && minDocs >= 2, s"need k >= 1 (got $k), minDocs >= 2 (got $minDocs)")
    val base = df
      .select(col(idCol).as("id"), col(textCol).as("text"),
        size(filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0))
          .cast("long").as("n_tokens"))
    val grams = base.filter(col("n_tokens") >= k)
      .select(col("id"), posexplode(word_shingles(col("text"), lit(k))))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("gram"))
    val dupVocab = grams.select("gram", "id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("gram")
    val hits = grams.join(dupVocab, Seq("gram"), "left_semi")
    val wOrd = Window.partitionBy("id").orderBy("pos")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = hits
      .withColumn("brk",
        when(lag(col("pos"), 1).over(wOrd).isNull
          .or(col("pos") - lag(col("pos"), 1).over(wOrd) > k), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy("id", "island")
      .agg((max(col("pos")) - min(col("pos")) + k).as("covered"))
    val perDoc = spans.groupBy("id")
      .agg(sum(col("covered")).as("dup_tokens"), count(lit(1)).as("n_spans"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("dup_fraction"))
  }

  /**
   * Duplicated-span REMOVAL — the transform [[dupSpans]] only measures:
   * excise every cross-document-duplicated span from the corpus, keeping
   * ONE canonical occurrence (Lee et al. 2022's ExactSubstr dedup acts,
   * not just reports: training-data spans duplicated across documents are
   * cut so the corpus carries each verbatim passage once).
   *
   * Canonical-occurrence rule, per POSITION: the gram starting at token
   * `pos` of doc `d` is removable iff `d` is not the MINIMUM doc id among
   * the >= `minDocs` documents containing that gram — so the min-id doc
   * of every duplicated gram run keeps its text verbatim, and every other
   * occurrence is cut. Removable positions merge into maximal spans by
   * the same gaps-and-islands rule as [[dupSpans]] (gap > `k` breaks; a
   * span covers [min_pos, max_pos + k - 1]), and the covered TOKENS are
   * excised row-locally from the document's own token list.
   *
   * Token-level surgery: `cleaned_text` is the document's surviving
   * original-case whitespace tokens joined by single spaces (original
   * inter-token whitespace is not preserved — the corpus is re-tokenized
   * downstream anyway). Gram positions index the lowercased token list,
   * which aligns 1:1 with the original-case list because lowercasing
   * never changes whitespace.
   *
   * Scale shape: the census and position join shuffle narrow
   * (id, pos, gram-hash) rows — the duplicated-vocabulary build side has
   * ONE row per gram, so a boilerplate gram in millions of documents
   * marks, never multiplies, its positions; span merging is one window
   * over removable positions only; and the final surgery is a row-local
   * nested-HOF projection after the (narrow) span frame joins back by id
   * (with an id-bucketed corpus layout that last exchange disappears).
   * Text never enters a shuffle except as the output itself.
   *
   * Output: (idCol, n_tokens, n_removed_tokens, cleaned_text).
   */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 1 && minDocs >= 2, s"need k >= 1 (got $k), minDocs >= 2 (got $minDocs)")
    val (base, grams) = tokensAndGrams(df, textCol, idCol, k)
    val dupVocab = grams.select("gram", "id").distinct()
      .groupBy("gram")
      .agg(count(lit(1)).as("ndocs"), min(col("id")).as("canon"))
      .filter(col("ndocs") >= minDocs)
      .select("gram", "canon")
    val removable = grams.join(dupVocab, "gram").filter(col("id") =!= col("canon"))
    exciseSpans(base, removable, k, idCol)
  }

  /**
   * SPAN-LEVEL decontamination — the surgical form of
   * [[TextAnalysis.contamination]]'s whole-document quarantine: excise
   * every training-document span whose `k`-gram appears ANYWHERE in the
   * eval set, keeping the rest of the document (the
   * remove-the-passage-not-the-page discipline of Lee et al. 2022 /
   * GPT-3-style n-gram decontamination: a long document with one leaked
   * benchmark sentence keeps its clean 99%).
   *
   * Unlike [[removeDupSpans]] there is NO canonical keeper: a
   * contaminated gram is cut from EVERY training occurrence (the eval set
   * is the authority, not a corpus peer). Span semantics are otherwise
   * identical — removable positions merge by the gaps-and-islands rule
   * (gap > `k` breaks; a span covers [min_pos, max_pos + k - 1]) and the
   * covered tokens are excised row-locally.
   *
   * Scale shape: the eval-gram build side is ONE row per DISTINCT eval
   * gram (8-byte FNV hashes, never strings) — eval suites are tiny next
   * to a training corpus, so the semi-join probe side broadcasts or
   * shuffles narrow (id, pos, hash) rows; everything downstream of the
   * probe is the [[removeDupSpans]] machinery. Text never enters a
   * shuffle except as the output itself.
   *
   * Output: (idCol, n_tokens, n_removed_tokens, cleaned_text) — one row
   * per TRAINING document; `cleaned_text` equals the input tokens
   * re-joined when nothing matched.
   */
  def decontaminateSpans(train: DataFrame, evalDocs: DataFrame,
                         textCol: String, idCol: String,
                         k: Int = 8): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    val (base, grams) = tokensAndGrams(train, textCol, idCol, k)
    val evalGrams = evalDocs
      .filter(size(filter(split(col(textCol), "\\s+"), t => length(t) > 0)) >= k)
      .select(explode(word_shingles(col(textCol), lit(k))).as("gram"))
      .distinct()
    val removable = grams.join(evalGrams, Seq("gram"), "left_semi")
    exciseSpans(base, removable, k, idCol)
  }

  /** Shared narrow projection for span surgery: `base` keeps each doc's
    * original-case token list; `grams` is the (id, pos, k-gram-hash)
    * explosion of docs long enough to carry one. */
  private def tokensAndGrams(df: DataFrame, textCol: String, idCol: String,
                             k: Int): (DataFrame, DataFrame) = {
    val base = df
      .select(col(idCol).as("id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("toks"),
        col(textCol).as("__text"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val grams = base.filter(col("n_tokens") >= k)
      .select(col("id"), posexplode(word_shingles(col("__text"), lit(k))))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("gram"))
    (base, grams)
  }

  /** The gaps-and-islands merge + row-local token surgery shared by
    * [[removeDupSpans]] and [[decontaminateSpans]]: removable (id, pos)
    * rows become maximal spans (gap > k breaks, span = [min, max+k-1]),
    * and the covered tokens are cut from the doc's own token list. */
  private def exciseSpans(base: DataFrame, removable: DataFrame, k: Int,
                          idCol: String): DataFrame = {
    val wOrd = Window.partitionBy("id").orderBy("pos")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = removable
      .withColumn("brk",
        when(lag(col("pos"), 1).over(wOrd).isNull
          .or(col("pos") - lag(col("pos"), 1).over(wOrd) > k), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy("id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k.toLong) - 1L).as("e"))
    val perDoc = spans.groupBy("id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"),
        sum(col("e") - col("s") + 1L).as("n_removed"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed_tokens"),
        when(col("spans").isNull, array_join(col("toks"), " "))
          .otherwise(array_join(
            filter(col("toks"), (_, i) =>
              !exists(col("spans"), sp =>
                i.cast("long") >= sp.getField("s") &&
                  i.cast("long") <= sp.getField("e"))),
            " "))
          .as("cleaned_text"))
  }

  /**
   * Incremental near-dup admission: dedup a NEW batch against an EXISTING
   * corpus without re-pairing the corpus with itself — the form a 100 TB
   * pipeline actually runs on every ingest (the corpus's minhash band index
   * is computed once — in production, persisted — and each ingest joins only
   * the delta against it; cost scales with the batch, not the corpus).
   *
   * Returns one row per batch document: (id, dup_of, jaccard, is_new) where
   * `dup_of` is the corpus document with the highest verified exact
   * shingle-Jaccard >= `jaccardThreshold` (ties broken by minimum corpus
   * id); `is_new = true` (null dup_of) when no corpus document matches.
   *
   * Scale shape: both sides reduce to NARROW (band, band_key, id) rows
   * before any join; corpus band buckets above `maxBucketSize` are dropped
   * (same recall/cost trade as [[minhashLsh]], observable via the
   * `dedup_candidates_<tag>` metric); candidate (batch, corpus) id pairs
   * are deduplicated while still narrow, and text payloads are joined back
   * by id only for rows that actually collide — the corpus text column is
   * never shuffled wholesale.
   */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, textCol: String,
                       idCol: String,
                       shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
                       jaccardThreshold: Double = 0.8,
                       maxBucketSize: Int = 10000,
                       metricTag: String = "incremental"): DataFrame =
    incrementalDedupIndexed(
      buildBandIndex(corpus, textCol, idCol, shingleW, numHashes, bands,
        maxBucketSize, metricTag),
      corpus.select(col(idCol), col(textCol)),
      batch, textCol, idCol, shingleW, numHashes, bands, jaccardThreshold)

  /**
   * The corpus's minhash band index as a PERSISTABLE frame — the artifact
   * a production ingest loop computes once, writes as parquet, and joins
   * every delta against ([[incrementalDedup]]'s "in production,
   * persisted" made concrete). One narrow row per (band, band_key,
   * corpus id), with over-cap band buckets already dropped (the
   * [[minhashLsh]] recall/cost trade, surfaced via the
   * `dedup_candidates_<tag>` metric at build time): a boilerplate bucket
   * with millions of corpus members would otherwise explode every batch
   * document that touches it — and dropping at BUILD time means the paid
   * cost is paid once, not per ingest. Parquet-roundtrip-stable: the
   * columns are (int, long, long), no floats, no arrays.
   */
  def buildBandIndex(corpus: DataFrame, textCol: String, idCol: String,
                     shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
                     maxBucketSize: Int = 10000,
                     metricTag: String = "incremental"): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    bandRows(corpus, textCol, idCol, "id", shingleW, numHashes, bands)
      .groupBy("band", "band_key")
      .agg(collect_list(col("id")).as("ids"))
      .observe(s"dedup_candidates_$metricTag",
        sum(when(size(col("ids")) > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_hot_buckets"),
        sum(when(size(col("ids")) > maxBucketSize, size(col("ids")).cast("long"))
          .otherwise(0L)).as("dropped_hot_bucket_rows"))
      .filter(size(col("ids")) <= maxBucketSize)
      .select(col("band"), col("band_key"), explode(col("ids")).as("dup_of"))
  }

  /** [[incrementalDedup]] against a PRE-BUILT [[buildBandIndex]] frame
    * (freshly built or read back from parquet — identical results,
    * spec-pinned) plus the corpus (id, text) side for exact verification.
    * Ingest cost scales with the batch: the batch bands, the index join,
    * and text fetches for colliding ids only. */
  def incrementalDedupIndexed(index: DataFrame, corpusTexts: DataFrame,
                              batch: DataFrame, textCol: String, idCol: String,
                              shingleW: Int = 3, numHashes: Int = 32,
                              bands: Int = 8,
                              jaccardThreshold: Double = 0.8): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val cand = bandRows(batch, textCol, idCol, "id", shingleW, numHashes, bands)
      .join(index, Seq("band", "band_key"))
      .select("id", "dup_of").distinct()
    val batchTexts = batch.select(col(idCol).as("id"), col(textCol).as("text_a"))
    val corpusSide = corpusTexts.select(col(idCol).as("dup_of"), col(textCol).as("text_b"))
    val verified = cand
      .join(batchTexts, "id")
      .join(corpusSide, "dup_of")
      .withColumn("jaccard", ngram_jaccard(col("text_a"), col("text_b"), lit(shingleW)))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id"), col("dup_of"), col("jaccard"))
    val best = verified.withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("jaccard").desc, col("dup_of").asc)))
      .filter(col("rn") === 1).drop("rn")
    batch.select(col(idCol).as("id")).join(best, Seq("id"), "left")
      .select(col("id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNull.as("is_new"))
  }

  /** Narrow (outId, band, band_key) explosion shared by the index build
    * and the batch probe — one definition, no banding drift. */
  private def bandRows(df: DataFrame, textCol: String, idCol: String,
                       outId: String, shingleW: Int, numHashes: Int,
                       bands: Int): DataFrame =
    df.select(
        col(idCol).as(outId),
        minhash_sig(col(textCol), lit(shingleW), lit(numHashes)).as("sig"))
      .select(col(outId),
        posexplode(bandKeys(col("sig"), bands, numHashes / bands))
          .as(Seq("band", "band_key")))

  /** Engine-defined band fold (TextAlgos.lshBands) rather than Spark's
    * murmur3 `hash()`: bit-identical across engines, so the DuckDB oracle
    * can recompute the exact buckets. */
  private def bandKeys(sig: Column, bands: Int, rows: Int) =
    lsh_bands(sig, lit(rows))

  /**
   * SimHash near-dup candidates: 64-bit fingerprints are split into 4
   * 16-bit blocks; docs sharing any block are candidates (pigeonhole: any
   * pair within Hamming distance 3 shares at least one block). Candidates
   * are verified with the true Hamming distance — a codegen'd bit_count.
   * The fingerprint rides along with the id, so verification needs no
   * payload re-join at all.
   */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 3, maxBucketSize: Int = 10000,
                     metricTag: String = "simhash"): DataFrame =
    hammingNearDup64(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sim")),
      maxHamming, maxBucketSize, metricTag)

  /**
   * The Hamming-bucketed near-dup CORE over pre-computed 64-bit
   * fingerprints — shared by [[simhashNearDup]] (text) and
   * [[Multimodal.imageNearDup]] (perceptual image hashes), so any 64-bit
   * fingerprint family gets the same bucketed, never-all-pairs scale
   * shape. `hashed` is a narrow (id: long, sim: long) frame.
   *
   * Blocks: the fingerprint splits into 4 16-bit blocks; rows sharing any
   * (block index, block value) are candidates (pigeonhole: a pair within
   * Hamming distance 3 agrees on at least one block). Per exploded row,
   * the NEXT block ((i+1) mod 4) of the same fingerprint is the
   * hot-bucket salvage sub-key: Hamming<=3 pairs agree on it unless one
   * of the (at most 3) flipped bits lands exactly there — a recall trade
   * strictly better than dropping the bucket whole. Candidates verify by
   * true Hamming distance (codegen'd bit_count); the fingerprint rides
   * with the id, so verification needs no payload re-join at all.
   */
  private[graft] def hammingNearDup64(hashed: DataFrame, maxHamming: Int,
                                      maxBucketSize: Int,
                                      metricTag: String): DataFrame = {
    val keyed = hashed
      .select(struct(col("id"), col("sim")).as("id"),
        posexplode(array((0 until 4).map(i =>
          struct(
            shiftrightunsigned(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL)).as("bv"),
            shiftrightunsigned(col("sim"), ((i + 1) % 4) * 16).bitwiseAND(lit(0xFFFFL)).as("sk"))): _*))
          .as(Seq("block_idx", "bs")))
      .select(col("id"), col("block_idx"), col("bs.bv").as("block_val"),
        col("bs.sk").as("sub_key"))
    candidatesFromKeyed(keyed, Seq("block_idx", "block_val"), maxBucketSize,
      metricTag, subKeyCol = Some("sub_key"))
      .select(
        col("id_a.id").as("id_a"), col("id_b.id").as("id_b"),
        bit_count(col("id_a.sim").bitwiseXOR(col("id_b.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Recall evaluation of the [[hammingNearDup64]] block machinery — the
   * Hamming-family counterpart of [[lshEval]]: exact all-pairs truth
   * (every pair within `maxHamming`) vs the bucketed path, over the same
   * pre-computed (id: long, sim: long) fingerprint frame the production
   * operators consume ([[simhashNearDup]], the three
   * [[Multimodal]] modalities). Quantifies the hot-bucket cap + salvage
   * sub-key recall trade empirically instead of asserting it.
   *
   * At maxHamming <= 3 with UNCAPPED buckets the pigeonhole guarantee
   * makes the bucketed path exhaustive (recall exactly 1.0 — spec-pinned);
   * a binding `maxBucketSize` trades recall for cost, and this operator
   * measures exactly how much was traded.
   *
   * Scale shape: truth is a genuine all-pairs comparison — O(n²) by
   * definition, which is WHY the production path is bucketed. Run the
   * eval on a bounded sample (the lshEval contract); fingerprints are 8
   * bytes each, so a 100k-row sample is a broadcast-sized frame. Output:
   * one row (n_exact, n_bucketed, n_caught, recall).
   */
  def hammingEval(hashed: DataFrame, maxHamming: Int = 3,
                  maxBucketSize: Int = 10000,
                  metricTag: String = "hamming_eval"): DataFrame = {
    // both legs re-consume the fingerprint frame; checkpoint so the
    // (possibly expensive) upstream hash computation runs once. The
    // checkpoint inherits the UPSTREAM partitioning (sized for the codec
    // decode, e.g. 39 fixture-encode tasks), but the checkpointed rows are
    // 16 bytes each and sample-bounded by this operator's contract — so
    // every downstream leg was paying ~n_upstream shuffle-map file commits
    // (the serialized IndexShuffleBlockResolver lock: 452/900 busy
    // executor samples in writeMetadataFileAndCommit, r21 profile) to move
    // kilobytes. Coalesce the checkpointed blocks size-adaptively (~4k
    // rows/task, capped at the inherited count) — a narrow dependency, no
    // shuffle, and the count() is a millisecond scan of local blocks.
    val hWide = hashed.select(col("id"), col("sim"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val h = {
      val nParts = hWide.rdd.getNumPartitions
      val parts = math.max(1L, math.min(nParts.toLong, hWide.count() / 4096L + 1L)).toInt
      if (parts < nParts) hWide.coalesce(parts) else hWide
    }
    val bucketed = hammingNearDup64(h, maxHamming, maxBucketSize, metricTag)
      .select("id_a", "id_b")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val exact = h.select(col("id").as("id_a"), col("sim").as("sim_a"))
      .crossJoin(h.select(col("id").as("id_b"), col("sim").as("sim_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select("id_a", "id_b")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nBuck = bucketed.agg(count(lit(1)).as("n_bucketed"))
    // caught = bucketed ∩ exact — equal to n_bucketed by construction
    // (verification filters to true Hamming), kept as an honest join so a
    // hypothetical id-ordering bug would surface as caught < bucketed
    val nCaught = bucketed.join(exact, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_caught"))
    nExact.crossJoin(nBuck).crossJoin(nCaught)
      .withColumn("recall",
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_caught").cast("double") / col("n_exact")))
  }

  /**
   * Recall of the [[hammingNearDup64]] detector against PLANTED ground
   * truth — the grading mode for fixtures whose true pairs are KNOWN by
   * construction (each base id `i` was planted a variant at
   * `i + variantOffset`) but whose fingerprints are NOT closed-form, e.g.
   * genuinely lossy JPEG re-encodes: [[hammingEval]] grades the bucketed
   * path against exact all-pairs truth at the SAME threshold (recall of
   * the machinery), while this grades end-to-end detection of pairs that
   * are SUPPOSED to match (recall of hash + threshold + machinery
   * together — a planted pair whose lossy wiggle pushed it past
   * `maxHamming` counts as a miss here, which is the point).
   *
   * Truth is a 1:1 equi-join on the offset key — never all-pairs — and
   * the measured per-pair Hamming distances come back as evidence:
   * (n_planted, n_detected, recall, mean_hamming, max_hamming), one row.
   * A planted pair appears iff BOTH sides fingerprinted (decode failures
   * are [[Multimodal.extractFeatures]]' `decode_ok` audit, not this
   * grader's).
   *
   * Scale shape: the fingerprint frame is (id, 8 bytes); truth join and
   * detector both shuffle narrow rows only. The detector leg is the
   * production bucketed path at production settings — what you'd actually
   * serve, graded.
   */
  def plantedPairEval(hashed: DataFrame, variantOffset: Long,
                      maxHamming: Int = 3, maxBucketSize: Int = 10000,
                      metricTag: String = "planted_eval"): DataFrame = {
    require(variantOffset > 0, s"variantOffset must be positive, got $variantOffset")
    // same post-checkpoint size-adaptive coalesce as [[hammingEval]]: the
    // fingerprint rows are 16 bytes, the upstream partitioning is codec-
    // sized, and both legs below only move kilobytes per task
    val hWide0 = hashed.select(col("id"), col("sim"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val h = {
      val nParts = hWide0.rdd.getNumPartitions
      val parts = math.max(1L, math.min(nParts.toLong, hWide0.count() / 4096L + 1L)).toInt
      if (parts < nParts) hWide0.coalesce(parts) else hWide0
    }
    val planted = h.select(col("id").as("id_a"), col("sim").as("sim_a"))
      .join(h.select((col("id") - variantOffset).as("id_a"),
        col("sim").as("sim_b")), Seq("id_a"))
      .filter(col("id_a") < variantOffset) // base ids only, one pair each
      .select(col("id_a"), (col("id_a") + variantOffset).as("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
          .as("hamming"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val detected = hammingNearDup64(h, maxHamming, maxBucketSize, metricTag)
      .select("id_a", "id_b")
      .join(planted.select("id_a", "id_b"), Seq("id_a", "id_b"))
    val nPlanted = planted.agg(count(lit(1)).as("n_planted"),
      avg(col("hamming")).as("mean_ham"), max(col("hamming")).as("max_hamming"))
    val nDet = detected.agg(count(lit(1)).as("n_detected"))
    nPlanted.crossJoin(nDet)
      .select(col("n_planted"), col("n_detected"),
        when(col("n_planted") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_detected").cast("double") / col("n_planted"), 5))
          .as("recall"),
        round(col("mean_ham"), 5).as("mean_hamming"), col("max_hamming"))
  }

  /**
   * Connected components over verified near-dup pairs: every document gets
   * the MINIMUM id reachable through the duplicate graph as its `cluster`
   * label — the step that turns pairwise matches into dedup groups (keep one
   * representative per cluster).
   *
   * Iterative min-label propagation WITH pointer-doubling: each round every
   * node adopts the smallest label among itself and its neighbors, then
   * follows that label one hop through the current label map
   * (label(label(v))) — so the distance a node's label has traveled toward
   * its component minimum roughly doubles per round, converging in
   * O(log diameter) rounds instead of O(diameter). A 1000-node chain
   * converges in ~11 rounds, well under the default cap (pinned in
   * OperatorsSpec). Each round is three hash joins + one aggregation, all
   * on narrow (id, label) rows; labels are always node ids of the same
   * component, so the hop join is total. Deterministic output regardless
   * of execution order.
   *
   * Set env `GRAFT_CC_DEBUG` to print per-round convergence progress when
   * tuning (pairs with the `graft.BenchOne` timing utility).
   *
   * EAGERNESS / RETENTION: with `checkpoint = true` (default) the edge set
   * and each round's labels are `localCheckpoint()`ed — the loop executes
   * at call time (the convergence probe forces it anyway) and the
   * checkpoint blocks for the FINAL labels stay cached for the lifetime of
   * the returned plan (intermediates are freed by the ContextCleaner once
   * unreferenced). Long-lived drivers composing dedup repeatedly can pass
   * `checkpoint = false` to keep the plan lineage-pure — at the cost of
   * re-executing the upstream pair-generation DAG every round and plans
   * that grow with each iteration (viable only for small maxIters).
   */
  def clusters(ids: DataFrame, pairs: DataFrame, idCol: String,
               pairA: String = "id_a", pairB: String = "id_b",
               maxIters: Int = 20,
               failOnNonConvergence: Boolean = false,
               checkpoint: Boolean = true): DataFrame = {
    // SERIALIZED checkpoint storage (r21): the default deserialized
    // MEMORY_AND_DISK stores object arrays whose memory accounting walks
    // every stored row graph (SizeEstimator — a top profile frame on the
    // checkpoint-heavy paths); UnsafeRow-backed frames serialize as flat
    // byte copies, so SER storage skips the walks for a cheap per-consumer
    // deserialize. Measured on the blocked match path: −37% CPU adjacent.
    def cp(df: DataFrame): DataFrame =
      if (checkpoint)
        df.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else df
    // materialize the edge set ONCE: every iteration joins against it
    // (twice per round — propagation + convergence probe), and without the
    // checkpoint Spark re-executes the whole upstream pair-generation DAG
    // (for corpusDedup: the full minhash/band/jaccard pipeline) each time
    // pre-partitioned by dst: localCheckpoint preserves the partitioning in
    // the LogicalRDD, so every round's propagation join on dst reuses it —
    // the edge set is the largest relation in the loop and this saves its
    // exchange in EVERY round (the distinct()'s (src,dst) hash would not)
    // symmetric expansion via ONE explode, not a self-union (r21, guide
    // §2.4): `pairs.select(a,b) unionByName pairs.select(b,a)` re-executes
    // the ENTIRE pair-generation DAG once per branch — Spark does not
    // de-duplicate a common subplan across union branches (the measured
    // rankedTopK lesson), so every clusters() caller paid the candidate
    // pipeline (for the media modalities: fixture encode + codec decode +
    // hash) TWICE. Exploding a 2-element array emits the identical row
    // multiset in a single pass.
    val edges = cp(pairs
      .select(explode(array(
        struct(col(pairA).as("src"), col(pairB).as("dst")),
        struct(col(pairB).as("src"), col(pairA).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .repartition(col("dst")))
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("cluster"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborLabels = edges
        .join(labels.withColumnsRenamed(Map("id" -> "dst", "cluster" -> "n_cluster")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("n_cluster")).as("min_n"))
      // the round-start label rides along as `prev` so convergence is a
      // filter over the (already materialized) round result — NOT an extra
      // join of next vs labels, which was a full per-round shuffle join
      val m = labels.join(neighborLabels, Seq("id"), "left")
        .select(col("id"), col("cluster").as("prev"),
          least(col("cluster"), coalesce(col("min_n"), col("cluster"))).as("cluster"))
      // pointer-doubling shortcut: label(label(v)) via the PREVIOUS round's
      // label map — this is what upgrades O(d) propagation to O(log d).
      // Round 1 skips it: labels are still the identity map, so the hop
      // join would be a no-op on the largest round's row count.
      val roundPlan =
        if (i == 0) m
        else m
          .join(labels.select(col("id").as("cluster"), col("cluster").as("hop")),
            Seq("cluster"), "left")
          .select(col("id"), col("prev"),
            least(col("cluster"), coalesce(col("hop"), col("cluster"))).as("cluster"))
      // convergence probe FUSED into the materialization (r21, guide §1.2):
      // the changed-row count rides the eager checkpoint job as an observed
      // metric — eager localCheckpoint executes the Dataset's own
      // queryExecution, whose CollectMetricsExec accumulator is readable
      // afterwards via queryExecution.observedMetrics (verified incl. the
      // empty-frame case: zero tasks leave the initial buffer, count = 0).
      // This halves the loop's job count (was: checkpoint job + filter/
      // limit(1)/count probe job per round); the per-row `cluster != prev`
      // compare is one predicate over rows the job already materializes.
      // Convergence decision is unchanged: changed == 0 both ways. The
      // lineage-pure checkpoint = false path keeps the explicit early-exit
      // probe — with no eager action there is nothing to observe.
      //
      // STRING-form observe, NOT the Observation API: on
      // Spark 4.1.2 the first Observation registration materializes the
      // session's lazy `observationManager`, a NON-TRANSIENT field whose
      // class is not java-serializable — after which ANY closure that
      // captures the SparkSession (e.g. an MLlib model whose
      // trainingSummary holds the session, serialized by the model's own
      // transform() UDF) dies with Task-not-serializable for the rest of
      // the session's lifetime. The plain named observe never touches the
      // manager; each round is its own query (the previous round's
      // checkpoint truncates lineage), so the fixed metric name cannot
      // collide within a plan. Pinned by OperatorsSpec "clusters leaves
      // the session serializable".
      val (next, changed) =
        if (checkpoint) {
          val obsDf = roundPlan.observe("cc_changed",
            count(when(col("cluster") =!= col("prev"), 1)).as("changed"))
          val n = cp(obsDf)
          (n, obsDf.queryExecution.observedMetrics("cc_changed").getAs[Long](0))
        } else {
          (roundPlan,
            roundPlan.filter(col("cluster") =!= col("prev")).limit(1).count())
        }
      labels = next.select("id", "cluster")
      converged = changed == 0
      i += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc] round $i changed=$changed")
    }
    // Exiting the loop non-converged means some label has NOT reached its
    // component minimum (graph diameter > maxIters) — the output is silently
    // wrong for those chains, so it must never pass unnoticed.
    if (!converged) {
      val msg = s"Dedup.clusters did not converge after $maxIters iterations " +
        "(graph diameter exceeds maxIters); labels are NOT component minima. " +
        "Raise maxIters or pre-contract long chains."
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels
  }

  /**
   * End-to-end near-duplicate corpus dedup — the composition a training-data
   * pipeline actually runs: MinHash-LSH verified pairs -> connected
   * components -> keep the minimum-id representative of each duplicate
   * cluster. Returns one row per input document: (id, cluster, is_kept);
   * downstream drops `is_kept = false` rows.
   */
  def corpusDedup(df: DataFrame, textCol: String, idCol: String,
                  shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
                  jaccardThreshold: Double = 0.8,
                  maxBucketSize: Int = 10000,
                  maxIters: Int = 20,
                  failOnNonConvergence: Boolean = false,
                  checkpoint: Boolean = true): DataFrame = {
    val pairs = minhashLsh(df, textCol, idCol, shingleW, numHashes, bands,
      jaccardThreshold, maxBucketSize, metricTag = "corpus_dedup")
    clusters(df.select(col(idCol)), pairs, idCol, maxIters = maxIters,
      failOnNonConvergence = failOnNonConvergence, checkpoint = checkpoint)
      .select(col("id").as(idCol), col("cluster"),
        (col("id") === col("cluster")).as("is_kept"))
  }

  /**
   * [[corpusDedup]] with QUALITY-AWARE representative selection: a training
   * pipeline should keep the BEST document of each near-dup cluster, not
   * the smallest-id one (min-id is the cheapest deterministic choice; near
   * duplicates differ precisely in the damage — truncation, boilerplate
   * injection, encoding noise — so the kept copy should be the one the
   * quality signal scores highest). `quality` is any deterministic
   * per-document score over `df`'s columns (the driver gate composes
   * [[TextAnalysis.withQualityFeatures]]' quality_score); representative =
   * max quality, min id tiebreak.
   *
   * Scale shape: clustering is [[corpusDedup]] unchanged; selection adds
   * ONE window over narrow (id, cluster, quality) rows — a single hash
   * exchange on the cluster label, payloads never move (quality is
   * computed scan-side, before the exchange).
   *
   * Output: (id, cluster, quality, is_kept) — one row per input document.
   */
  def corpusDedupQuality(df: DataFrame, textCol: String, idCol: String,
                         quality: Column,
                         shingleW: Int = 3, numHashes: Int = 32, bands: Int = 8,
                         jaccardThreshold: Double = 0.8,
                         maxBucketSize: Int = 10000,
                         maxIters: Int = 20,
                         failOnNonConvergence: Boolean = false,
                         checkpoint: Boolean = true): DataFrame = {
    val pairs = minhashLsh(df, textCol, idCol, shingleW, numHashes, bands,
      jaccardThreshold, maxBucketSize, metricTag = "corpus_dedup_quality")
    val labels = clusters(df.select(col(idCol)), pairs, idCol,
      maxIters = maxIters, failOnNonConvergence = failOnNonConvergence,
      checkpoint = checkpoint)
    val scored = df.select(col(idCol).as("id"), quality.as("quality"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("id").asc)
    labels.join(scored, "id")
      .withColumn("__rn", row_number().over(w))
      .select(col("id").as(idCol), col("cluster"), col("quality"),
        (col("__rn") === 1).as("is_kept"))
  }

  /**
   * Soft deduplication: instead of DROPPING near-duplicates, keep every
   * document and down-weight its sampling mass by its duplication degree
   * — weight 1/|cluster| — so each near-dup cluster contributes one
   * document-equivalent of training mass in expectation while the tail
   * content a hard dedup would delete along with its cluster survives
   * (the reweight-don't-remove strategy of SoftDedup, He et al. 2024,
   * arXiv:2401.00588).
   *
   * Weights are emitted as exact dyadic fixed-point numerators
   * (`weight_fp = floor(2^scaleBits / |cluster|)`,
   * `eff_tokens_fp = floor(tokens * 2^scaleBits / |cluster|)`) — the
   * engine's DSIR-lattice convention — so any downstream rollup
   * (effective token mass per source, corpus-wide effective size) is
   * integer arithmetic: exact, associative, engine-independent.
   *
   * Scale shape: [[clusters]]' logarithmic pointer-doubling over the
   * candidate edge set; cluster sizes are one narrow (cluster, count)
   * aggregate joined back on the cluster key; the only contact with the
   * full corpus is a (id, tokens) projection joined by id. No exchange
   * ever carries document text.
   *
   * Output: one row per document —
   * (idCol, cluster, csize, weight_fp, eff_tokens_fp).
   */
  def softDedupWeights(docs: DataFrame, edges: DataFrame, idCol: String,
                       tokens: Column, scaleBits: Int = 20,
                       maxIters: Int = 20,
                       checkpoint: Boolean = true): DataFrame = {
    require(scaleBits > 0 && scaleBits < 40, s"scaleBits out of range: $scaleBits")
    val scale = 1L << scaleBits
    val labels = clusters(docs.select(col(idCol)), edges, idCol,
      maxIters = maxIters, checkpoint = checkpoint)
    val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "cluster")
      .join(docs.select(col(idCol).as("id"), tokens.cast("long").as("__tok")), "id")
      .select(col("id").as(idCol), col("cluster"), col("csize"),
        expr(s"div($scale, csize)").as("weight_fp"),
        expr(s"div(__tok * $scale, csize)").as("eff_tokens_fp"))
  }

  /**
   * Embedding-cosine near-duplicates above `threshold`, bucketed by random
   * hyperplane signs (LSH) so the pairwise check happens only inside
   * buckets. `planes` sign bits -> 2^planes buckets.
   */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double = 0.95, planes: Int = 8,
                       dim: Int = 64, seed: Long = 42L,
                       maxBucketSize: Int = 10000,
                       metricTag: String = "embedding"): DataFrame = {
    // a second hyperplane bucket with seed+1 is the hot-bucket salvage
    // sub-key: near-identical embeddings land in the same bucket under any
    // seed with high probability, while the coincidental members of a hot
    // bucket spread across 2^planes sub-groups
    val keyed = SimilaritySearch.withHyperplaneBucket(
        df.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", planes, dim, seed)
      .withColumn("sub_key", hyperplane_bucket(col("vec"), lit(planes), lit(seed + 1)))
      .select(col("id"), col("bucket"), col("sub_key"))
    val cand = candidatesFromKeyed(keyed, Seq("bucket"), maxBucketSize, metricTag,
      subKeyCol = Some("sub_key"))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.withColumnsRenamed(Map("id" -> "id_a", "vec" -> "vec_a")), "id_a")
      .join(vecs.withColumnsRenamed(Map("id" -> "id_b", "vec" -> "vec_b")), "id_b")
      .withColumn("cosine", cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Leakage-safe train/val/test split: assignment is decided per
   * NEAR-DUP CLUSTER, not per document, so two near-duplicates can never
   * land on opposite sides of the train/eval boundary — the contamination
   * [[graft.operators.TextAnalysis.contentHashSplit]] cannot prevent
   * (near-duplicates differ in content, hence in content hash, hence can
   * split apart; Lee et al. 2022 measure exactly this train/test leakage
   * in web corpora). The split key is the cluster label (the cluster's
   * minimum id — stable under re-sharding as long as ids are), pushed
   * through the same md5-byte assignment as the content split.
   *
   * Scale shape: [[clusters]]' logarithmic pointer-doubling over the
   * candidate edge set, then one narrow (id, cluster) projection with the
   * split decided by a scan-local expression — no extra exchange beyond
   * the clustering itself.
   *
   * Output: (id, cluster, split).
   */
  def clusterSafeSplit(ids: DataFrame, pairs: DataFrame, idCol: String,
                       trainFrac: Double = 0.9, valFrac: Double = 0.05,
                       pairA: String = "id_a", pairB: String = "id_b"): DataFrame =
    clusters(ids, pairs, idCol, pairA, pairB)
      .withColumn("split",
        TextAnalysis.hashSplit(col("cluster").cast("string"), trainFrac, valFrac))

  /**
   * Corpus snapshot diff — the incremental-crawl delta every recurring
   * ingestion pipeline computes before re-processing: classify every
   * document across two corpus snapshots as `added` / `removed` /
   * `changed` / `unchanged` by content hash.
   *
   * Scale shape: each side is projected to (id, md5, length) BEFORE the
   * join, so the id-keyed full-outer equi-join shuffles ~50-byte rows —
   * document payloads never move. At 100 TB this is two column-pruned
   * parquet scans (id + text only) and one narrow hash join; with both
   * snapshots bucketed by id ([[graft.sources.Bucketing]]) the exchange
   * disappears entirely.
   *
   * Output: (doc_id, status, old_len, new_len) — lengths NULL on the
   * side the document is missing from.
   */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    // presence is its OWN marker, never inferred from the hash: md5(NULL)
    // is NULL, so a hash-based presence test would report a present-but-
    // null-text document as added/removed — re-ingesting or dropping a
    // document that never moved. NULL text hashes as the empty document
    // (coalesce), matching the oracle's COALESCE; old/new_len stay NULL
    // for null text, so the distinction remains visible downstream.
    def proj(df: DataFrame, p: String) = df.select(
      col(idCol).as("doc_id"),
      md5(coalesce(col(textCol), lit(""))).as(s"__${p}_hash"),
      length(col(textCol)).cast("long").as(s"${p}_len"),
      lit(true).as(s"__${p}_present"))
    proj(oldDf, "old").join(proj(newDf, "new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__old_present").isNull, lit("added"))
          .when(col("__new_present").isNull, lit("removed"))
          .when(col("__old_hash") =!= col("__new_hash"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_len"), col("new_len"))
  }
}
