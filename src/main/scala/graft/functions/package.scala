package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnShim

/**
 * Column-API facade over the engine's native Catalyst expressions — the
 * Scala-side equivalent of `org.apache.spark.sql.functions` for this library.
 *
 * Usage:
 * {{{
 *   import graft.functions._
 *   df.withColumn("score", fuzz_ratio($"username", $"employee_name"))
 * }}}
 *
 * `registerAll(spark)` additionally exposes every function to SQL
 * (`SELECT fuzz_ratio(a, b) FROM t`).
 */
package object functions {

  private def c(e: Expression): Column = ColumnShim.col(e)
  private def e(col: Column): Expression = ColumnShim.expr(col)

  // ---- fuzzy similarity (reference main.py:56-61) ----
  def fuzz_ratio(a: Column, b: Column): Column = c(FuzzRatio(e(a), e(b)))
  def fuzz_partial_ratio(a: Column, b: Column): Column = c(FuzzPartialRatio(e(a), e(b)))
  def fuzz_token_set_ratio(a: Column, b: Column): Column = c(FuzzTokenSetRatio(e(a), e(b)))
  def fuzz_token_sort_ratio(a: Column, b: Column): Column = c(FuzzTokenSortRatio(e(a), e(b)))
  def fuzz_composite(u: Column, f: Column, l: Column, en: Column): Column =
    c(FuzzComposite(e(u), e(f), e(l), e(en)))
  /** Sorted-distinct rapidfuzz-processed tokens of a string — the hoistable
    * employee-side half of a token-set term (see `Fuzz.compositeFuzzPre`). */
  def fuzz_preproc_tokens(s: Column): Column = c(FuzzPreprocTokens(e(s)))
  /** Histograms, lengths and token hashes of a string: the hoistable input
    * of `Fuzz.compositeFuzzUB`. */
  def fuzz_bound_profile(s: Column): Column = c(FuzzBoundProfile(e(s)))

  // ---- phonetics (reference main.py:63-66) ----
  def soundex_jf(a: Column): Column = c(SoundexJf(e(a)))
  def metaphone(a: Column): Column = c(MetaphoneExpr(e(a)))

  // ---- text analysis / dedup surface ----
  def unicode_normalize(a: Column, form: Column): Column = c(UnicodeNormalize(e(a), e(form)))
  def lang_id(a: Column): Column = c(LangId(e(a)))
  def simhash64(a: Column): Column = c(SimHash64(e(a)))
  def rolling_fingerprint(a: Column, window: Column): Column = c(RollingFingerprint(e(a), e(window)))
  def minhash_sig(a: Column, w: Column, k: Column): Column = c(MinHashSig(e(a), e(w), e(k)))
  def lsh_bands(sig: Column, rowsPerBand: Column): Column = c(LshBands(e(sig), e(rowsPerBand)))
  def ngram_jaccard(a: Column, b: Column, w: Column): Column = c(NGramJaccard(e(a), e(b), e(w)))
  def shingle_set(a: Column, w: Column): Column = c(ShingleSet(e(a), e(w)))
  /** |a ∩ b| of two SORTED-DISTINCT long arrays (shingle_set outputs).
    * PRECONDITION, not checked: both inputs ascending and duplicate-free —
    * the merge walk silently undercounts otherwise. Internal Column surface
    * only; deliberately NOT SQL-registered (registerAll), where arbitrary
    * user arrays would violate the precondition with no error. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    c(SortedIntersectCount(e(a), e(b)))
  def ngram_array(a: Column, n: Column): Column = c(NgramArray(e(a), e(n)))
  def word_shingles(a: Column, w: Column): Column = c(WordShingles(e(a), e(w)))

  // ---- exact fixed-point math ----
  def log2fp(a: Column): Column = c(Log2Fp(e(a)))
  def mix64(a: Column): Column = c(Mix64(e(a)))
  def dsir_score(a: Column, llr: Array[Long]): Column = c(DsirScore(e(a), llr))

  // ---- bloom sketch ----
  def bloom_agg(h: Column, numBits: Column, numHashes: Column): Column =
    c(BloomAgg(e(h), e(numBits), e(numHashes)).toAggregateExpression())
  def bloom_might_contain(h: Column, bloom: Array[Byte]): Column =
    c(BloomMightContain(e(h), bloom))

  // ---- vectors / embeddings ----
  def cosine_sim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  def hyperplane_bucket(v: Column, planes: Column, seed: Column): Column =
    c(HyperplaneBucket(e(v), e(planes), e(seed)))
  /** Top-`n` nearest-centroid ids (cosine argmax order, cid-asc tiebreak)
    * as array<bigint> — the fused IVF assign/probe kernel. */
  def nearest_centroids(v: Column, cents: Array[(Long, Array[Float])], n: Int): Column =
    c(NearestCentroids(e(v), cents.map(_._1), cents.map(_._2), n))
  def pq_encode(v: Column, books: Array[Array[Array[Double]]]): Column =
    c(PqEncode(e(v), books))
  /** Residual (by_residual=true) PQ codes of (v − centroid(cell)). */
  def pq_encode_res(v: Column, cell: Column, cents: Array[(Long, Array[Float])],
                    books: Array[Array[Array[Double]]]): Column =
    c(PqEncodeResidual(e(v), e(cell), cents.map(_._1), cents.map(_._2), books))
  /** cosine(v, centroid(cell)) — the residual-ADC constant term. */
  def centroid_dot(v: Column, cell: Column, cents: Array[(Long, Array[Float])]): Column =
    c(CentroidDot(e(v), e(cell), cents.map(_._1), cents.map(_._2)))
  def pq_adc_tables(v: Column, books: Array[Array[Array[Double]]]): Column =
    c(PqAdcTables(e(v), books))
  def pq_adc(tables: Column, codes: Column): Column = c(PqAdc(e(tables), e(codes)))
  def zorder_key(a: Column, b: Column, bits: Column): Column =
    c(ZOrderKey(e(a), e(b), e(bits)))
  /** Variadic Morton key over an array<bigint> of dimension values. */
  def zorder_key_n(dims: Column, bits: Column): Column =
    c(ZOrderKeyN(e(dims), e(bits)))

  // ---- aggregates ----
  /** Bounded-heap top-k aggregate: k best (ord, id) pairs per group,
    * ordered (ord desc, id asc), as array<struct<ord,id>>. */
  def topk_by(ord: Column, id: Column, k: Int): Column =
    c(TopKByOrd(e(ord), e(id), e(lit(k))).toAggregateExpression())

  /** Match-pipeline top-k aggregate: the k first (score, emp_id,
    * employee_name) rows of the window order (score desc nulls last,
    * emp_id asc nulls first, employee_name asc nulls first), best-first,
    * as array<struct>. Internal to [[graft.pipeline.MatchPipeline]] /
    * [[graft.pipeline.MatchBlocking]]; not SQL-registered. */
  def topk_match(score: Column, empId: Column, empName: Column, k: Int): Column =
    c(TopKMatchRows(e(score), e(empId), e(empName), e(lit(k))).toAggregateExpression())

  /** Misra-Gries heavy-hitters summary: at most k (item, est) counters per
    * group, ordered (est desc, item asc), as array<struct<item,est>>.
    * Mergeable with the n/(k+1) additive error bound — see
    * [[HeavyHittersAgg]]. */
  def heavy_hitters(item: Column, k: Int): Column =
    c(HeavyHittersAgg(e(item), e(lit(k))).toAggregateExpression())

  /** Register every engine function with the session's SQL function registry.
    * Idempotent; cheap enough to call at the top of every query builder. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def reg2(name: String, b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    reg2("fuzz_ratio", a => FuzzRatio(a(0), a(1)))
    reg2("fuzz_partial_ratio", a => FuzzPartialRatio(a(0), a(1)))
    reg2("fuzz_token_set_ratio", a => FuzzTokenSetRatio(a(0), a(1)))
    reg2("fuzz_token_sort_ratio", a => FuzzTokenSortRatio(a(0), a(1)))
    reg2("fuzz_composite", a => FuzzComposite(a(0), a(1), a(2), a(3)))
    reg2("soundex_jf", a => SoundexJf(a(0)))
    reg2("metaphone", a => MetaphoneExpr(a(0)))
    reg2("unicode_normalize", a => UnicodeNormalize(a(0), a(1)))
    reg2("lang_id", a => LangId(a(0)))
    reg2("simhash64", a => SimHash64(a(0)))
    reg2("rolling_fingerprint", a => RollingFingerprint(a(0), a(1)))
    reg2("minhash_sig", a => MinHashSig(a(0), a(1), a(2)))
    reg2("lsh_bands", a => LshBands(a(0), a(1)))
    reg2("ngram_jaccard", a => NGramJaccard(a(0), a(1), a(2)))
    reg2("shingle_set", a => ShingleSet(a(0), a(1)))
    // sorted_intersect_count is NOT registered: it requires sorted-distinct
    // inputs (shingle_set outputs) and silently miscounts on arbitrary
    // arrays — internal Column-function surface only
    reg2("word_shingles", a => WordShingles(a(0), a(1)))
    reg2("cosine_sim", a => CosineSim(a(0), a(1)))
    reg2("hyperplane_bucket", a => HyperplaneBucket(a(0), a(1), a(2)))
    reg2("zorder_key", a => ZOrderKey(a(0), a(1), a(2)))
    reg2("zorder_key_n", a => ZOrderKeyN(a(0), a(1)))
    reg2("log2fp", a => Log2Fp(a(0)))
    reg2("mix64", a => Mix64(a(0)))
    reg2("topk_by", a => TopKByOrd(a(0), a(1), a(2)).toAggregateExpression())
    reg2("heavy_hitters", a => HeavyHittersAgg(a(0), a(1)).toAggregateExpression())
  }
}
