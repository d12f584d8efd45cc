package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the engine's similarity/phonetic/dedup
 * kernels. Each one participates in whole-stage codegen via `defineCodeGen`
 * delegating to the static kernels in [[Fuzz]], [[Phonetics]], [[TextAlgos]]
 * — no Scala-closure UDFs in the hot path, so the cross-join scoring stays
 * inside a single WholeStageCodegen span.
 *
 * Reference semantics: /root/reference/main.py:56-66 (fuzz + phonetics).
 */
abstract class BinaryStringIntExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  // kernels are pure: literal inputs let Catalyst's ConstantFolding
  // precompute the call at plan time instead of once per row
  override def foldable: Boolean = children.forall(_.foldable)
  /** Fully-qualified static call target, e.g. "graft.functions.Fuzz.ratio". */
  protected def kernel: String
  protected def compute(a: String, b: String): Int
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernel($a.toString(), $b.toString())")
}

/** thefuzz `fuzz.ratio` — indel ratio 0..100 (main.py:56). */
case class FuzzRatio(left: Expression, right: Expression) extends BinaryStringIntExpression {
  override protected def kernel: String = "graft.functions.Fuzz.ratio"
  override protected def compute(a: String, b: String): Int = Fuzz.ratio(a, b)
  override def prettyName: String = "fuzz_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** thefuzz `fuzz.partial_ratio` (main.py:57). */
case class FuzzPartialRatio(left: Expression, right: Expression) extends BinaryStringIntExpression {
  override protected def kernel: String = "graft.functions.Fuzz.partialRatio"
  override protected def compute(a: String, b: String): Int = Fuzz.partialRatio(a, b)
  override def prettyName: String = "fuzz_partial_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** thefuzz `fuzz.token_set_ratio` (main.py:58-61). */
case class FuzzTokenSetRatio(left: Expression, right: Expression) extends BinaryStringIntExpression {
  override protected def kernel: String = "graft.functions.Fuzz.tokenSetRatio"
  override protected def compute(a: String, b: String): Int = Fuzz.tokenSetRatio(a, b)
  override def prettyName: String = "fuzz_token_set_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** thefuzz `fuzz.token_sort_ratio` (generic surface). */
case class FuzzTokenSortRatio(left: Expression, right: Expression) extends BinaryStringIntExpression {
  override protected def kernel: String = "graft.functions.Fuzz.tokenSortRatio"
  override protected def compute(a: String, b: String): Int = Fuzz.tokenSortRatio(a, b)
  override def prettyName: String = "fuzz_token_sort_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** The five-term fuzzy composite of the match score
  * ([[Fuzz.compositeFuzz]]) as ONE codegen expression: (u, f, l, en) ->
  * weighted double sum. Bit-identical to the unfused
  * `fuzz_ratio(u,en)*0.2 + fuzz_partial_ratio(u,en)*0.2 +
  * fuzz_token_set_ratio(u,en)*0.2 + fuzz_token_set_ratio(u,l)*0.3 +
  * fuzz_token_set_ratio(u,f)*0.2` tree — including null semantics: any
  * null input nulls every term of that sum, so one null-safe quaternary
  * expression reproduces it exactly. Fused so the username-side token
  * preprocessing runs once per row instead of once per token-set term. */
case class FuzzComposite(first: Expression, second: Expression,
                         third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType, StringType, StringType)
  override def dataType: DataType = DoubleType
  override def foldable: Boolean = children.forall(_.foldable)
  // u stays a UTF8String into the kernel: compositeFuzzU8 memoizes the
  // username-side decode + token preprocessing per thread (the BNLJ scoring
  // loop repeats u across the whole broadcast side — see Fuzz.tlUMemo)
  override def nullSafeEval(u: Any, f: Any, l: Any, en: Any): Any =
    Fuzz.compositeFuzzU8(
      u.asInstanceOf[UTF8String], f.asInstanceOf[UTF8String].toString,
      l.asInstanceOf[UTF8String].toString, en.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, f, l, en) =>
      s"graft.functions.Fuzz.compositeFuzzU8($u, $f.toString(), $l.toString(), $en.toString())")
  override def prettyName: String = "fuzz_composite"
  override protected def withNewChildrenInternal(
      f1: Expression, f2: Expression, f3: Expression, f4: Expression): Expression =
    copy(f1, f2, f3, f4)
}

/** `preprocTokens(s)` (rapidfuzz default_process + tokenize + sort + dedup)
  * as a column: the employee-side half of every token-set term, hoisted to
  * the broadcast side so it runs once per ROSTER ROW instead of once per
  * scored pair (`Fuzz.compositeFuzzPre`). */
case class FuzzPreprocTokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def foldable: Boolean = child.foldable
  override def nullSafeEval(a: Any): Any =
    Fuzz.preprocTokensArrayData(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Fuzz.preprocTokensArrayData($a)")
  override def prettyName: String = "fuzz_preproc_tokens"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** [[Fuzz.boundProfile]] as a column: the character histograms, lengths and
  * token hashes `Fuzz.compositeFuzzUB` reads, hoisted to once per row on each
  * side of the scoring join. */
case class FuzzBoundProfile(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def foldable: Boolean = child.foldable
  override def nullSafeEval(a: Any): Any =
    Fuzz.boundProfileArrayData(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Fuzz.boundProfileArrayData($a)")
  override def prettyName: String = "fuzz_bound_profile"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

abstract class UnaryStringStringExpression extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  // pure kernel: constant-foldable on literal input
  override def foldable: Boolean = child.foldable
  protected def kernel: String
  protected def compute(a: String): String
  override def nullSafeEval(a: Any): Any =
    UTF8String.fromString(compute(a.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"org.apache.spark.unsafe.types.UTF8String.fromString($kernel($a.toString()))")
}

/** jellyfish-compatible American Soundex (main.py:63,65; digits-safe). */
case class SoundexJf(child: Expression) extends UnaryStringStringExpression {
  override protected def kernel: String = "graft.functions.Phonetics.soundex"
  override protected def compute(a: String): String = Phonetics.soundex(a)
  override def prettyName: String = "soundex_jf"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Metaphone (Philips 1990), jellyfish-style (main.py:64,66). */
case class MetaphoneExpr(child: Expression) extends UnaryStringStringExpression {
  override protected def kernel: String = "graft.functions.Phonetics.metaphone"
  override protected def compute(a: String): String = Phonetics.metaphone(a)
  override def prettyName: String = "metaphone"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) of a text column — the
  * pre-dedup canonicalization kernel ([[TextAlgos.unicodeNormalize]]). */
case class UnicodeNormalize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullSafeEval(a: Any, f: Any): Any =
    UTF8String.fromString(TextAlgos.unicodeNormalize(
      a.asInstanceOf[UTF8String].toString, f.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, f) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextAlgos.unicodeNormalize($a.toString(), $f.toString()))")
  override def prettyName: String = "unicode_normalize"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Deterministic language-ID heuristic over a text column. */
case class LangId(child: Expression) extends UnaryStringStringExpression {
  override protected def kernel: String = "graft.functions.TextAlgos.langId"
  override protected def compute(a: String): String = TextAlgos.langId(a)
  override def prettyName: String = "lang_id"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 64-bit SimHash of a text column (near-dup dedup). */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any = TextAlgos.simhash64(a.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextAlgos.simhash64($a.toString())")
  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Rolling-hash document fingerprint (window = `window` chars). */
case class RollingFingerprint(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, w: Any): Any =
    TextAlgos.rollingFingerprint(a.asInstanceOf[UTF8String].toString, w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w) => s"graft.functions.TextAlgos.rollingFingerprint($a.toString(), $w)")
  override def prettyName: String = "rolling_fingerprint"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** MinHash signature (k hashes over word w-shingles) as array<bigint>. */
case class MinHashSig(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any, w: Any, k: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgos.minhash(t.asInstanceOf[UTF8String].toString, w.asInstanceOf[Int], k.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w, k) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.minhash($t.toString(), $w, $k))")
  override def prettyName: String = "minhash_sig"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** LSH band keys of a minhash signature: FNV-style fold of each band of
  * `sig.length / bands-implied` rows (TextAlgos.lshBands). Used instead of
  * Spark's murmur3 `hash()` so the banding is engine-defined and exactly
  * replicable by the DuckDB oracle. */
case class LshBands(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(sig: Any, rows: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgos.lshBands(sig.asInstanceOf[ArrayData].toLongArray(), rows.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sig, rows) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.lshBands($sig.toLongArray(), $rows))")
  override def prettyName: String = "lsh_bands"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Distinct word-w-shingle hashes of a text, ascending (TextAlgos.shingleSet).
  * The narrow-row feed of prefix-filter set-similarity dedup. */
/** Word n-gram STRINGS as one fused kernel ([[TextAlgos.ngrams]]) — the
  * scan-side producer for the contamination / boilerplate family. The
  * equivalent HOF Column tree (`transform(sequence, i ->
  * array_join(slice(toks, i, n)))`) is excluded from subexpression
  * elimination and pays per-element Catalyst dispatch on every gram
  * (the r11 PQ lesson, measured again on tx_contamination); the kernel is
  * one pass with one StringBuilder. */
case class NgramArray(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullSafeEval(a: Any, n: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgos.ngramsUtf8(a.asInstanceOf[UTF8String].toString, n.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, n) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.ngramsUtf8($a.toString(), $n))")
  override def prettyName: String = "ngram_array"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class ShingleSet(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullSafeEval(a: Any, w: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgos.shingleSet(a.asInstanceOf[UTF8String].toString, w.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.shingleSet($a.toString(), $w))")
  override def prettyName: String = "shingle_set"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** ORDERED word-w-shingle hashes of a text, duplicates preserved
  * (TextAlgos.shingles) — position i is the hash of tokens [i, i+w).
  * The positional companion of [[ShingleSet]]: set semantics serve
  * similarity (Jaccard/minhash), ordered semantics serve sequence models
  * (n-gram LM scoring needs shingle i aligned with its history token i). */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullSafeEval(a: Any, w: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextAlgos.shingles(a.asInstanceOf[UTF8String].toString, w.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.shingles($a.toString(), $w))")
  override def prettyName: String = "word_shingles"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** |a ∩ b| of two SORTED distinct long arrays — the [[ShingleSet]]-output
  * intersection cardinality as one codegen merge pass. Replaces
  * `size(array_intersect(a, b))` in the dedup verify legs, which built a
  * hash relation and materialized the intersection array per candidate
  * pair only for `size` to count it. Inputs MUST be sorted distinct
  * (ShingleSet guarantees it); KernelPropsSpec pins equivalence with the
  * set-intersection form. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextAlgos.sortedIntersectCount(
      a.asInstanceOf[ArrayData].toLongArray(), b.asInstanceOf[ArrayData].toLongArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextAlgos.sortedIntersectCount($a.toLongArray(), $b.toLongArray())")
  override def prettyName: String = "sorted_intersect_count"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Exact word-w-shingle Jaccard similarity of two texts. */
case class NGramJaccard(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any, w: Any): Any =
    TextAlgos.ngramJaccard(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString, w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, w) => s"graft.functions.TextAlgos.ngramJaccard($a.toString(), $b.toString(), $w)")
  override def prettyName: String = "ngram_jaccard"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** Cosine similarity of two float/double array columns (embedding search).
  * Accumulates in double, sequentially, so results are deterministic. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    VectorMath.cosine(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorMath.cosine($a.toFloatArray(), $b.toFloatArray())")
  override def prettyName: String = "cosine_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** LSH bucket = sign bits of `planes` pseudo-random hyperplane projections,
  * fused into one pass over the vector. The equivalent Column-tree form
  * (planes x dims element_at terms) generates thousands of expression nodes
  * and spends seconds in codegen compilation; this kernel is O(planes*dim)
  * with zero allocation. */
case class HyperplaneBucket(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), IntegerType, LongType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any, p: Any, s: Any): Any =
    VectorMath.hyperplaneBucket(v.asInstanceOf[ArrayData].toFloatArray(),
      p.asInstanceOf[Int], s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, p, s) =>
      s"graft.functions.VectorMath.hyperplaneBucket($v.toFloatArray(), $p, $s)")
  override def prettyName: String = "hyperplane_bucket"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** Z-order (Morton) key: bit-interleave of two non-negative dimension
  * values, `bits` low bits each (a & mask is the caller-visible clamp) —
  * dimension a on even bit positions, b on odd. Sorting by this key
  * clusters BOTH dimensions simultaneously, so parquet row-group min/max
  * stats prune 2-d box predicates — the standard lakehouse data-skipping
  * layout (see [[graft.sources.ZOrderLayout]]). Pure integer arithmetic,
  * replayed exactly by the DuckDB oracle. */
case class ZOrderKey(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, bits: Any): Any =
    VectorMath.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long], bits.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, bits) =>
      s"graft.functions.VectorMath.zorder2($a, $b, $bits)")
  override def prettyName: String = "zorder_key"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** Variadic (N-dimensional) Z-order key: Morton interleave of the low
  * `bits` bits of an array of non-negative dimension values — dim j's bit
  * i lands at position i*d + j, the d=2 case coinciding bit-for-bit with
  * [[ZOrderKey]]. This is the multi-column Z-order Delta's `OPTIMIZE
  * ZORDER BY (a, b, c)` and Iceberg's z-ordered sort compute; d * bits
  * must stay <= 63. Pure integer arithmetic, oracle-replayable. */
case class ZOrderKeyN(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(vals: Any, bits: Any): Any =
    VectorMath.zorderN(vals.asInstanceOf[ArrayData], bits.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (vals, bits) =>
      s"graft.functions.VectorMath.zorderN($vals, $bits)")
  override def prettyName: String = "zorder_key_n"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Top-`n` nearest centroids of a vector (cosine argmax order, centroid-id
  * ASC tiebreak) fused into one kernel pass — the IVF cell-assignment /
  * probe-selection kernel. The equivalent Column-tree form
  * (`sort_array(array(struct(-cosine, cid), ...))` over nlist literal
  * structs) is correct at nlist=16 but sorts an nlist-element struct array
  * PER ROW: at production nlist (1024-4096) that is the same
  * per-row-expression-tree pathology as the PQ HOF trees ([[PqEncode]]) —
  * measured scaling linearly-with-an-nlist-sized-sort where this kernel's
  * bounded insertion is O(nlist * n) flat in allocation. Centroids ride as
  * codegen reference objects (driver-sized: nlist vectors). Ordering is
  * exactly the struct-sort's (java.lang.Double.compare on -cosine, then
  * cid ASC) — KernelPropsSpec pins the equivalence. NULL input -> NULL
  * (the struct form produced the min-cid cell for a NULL vector, but every
  * such row dies downstream on a NULL cosine/ADC — the end results agree;
  * the IVF oracles pin it). */
case class NearestCentroids(child: Expression, cids: Array[Long],
                            cvecs: Array[Array[Float]], n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorMath.nearestCentroids(v.asInstanceOf[ArrayData].toFloatArray(), cids, cvecs, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", cids, "long[]")
    val vecsRef = ctx.addReferenceObj("centVecs", cvecs, "float[][]")
    nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.functions.VectorMath.nearestCentroids($v.toFloatArray(), $idsRef, $vecsRef, $n);""")
  }
  override def prettyName: String = "nearest_centroids"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ code assignment fused into one kernel pass: L2-normalize, then per
  * subspace the argmin-squared-distance codebook entry (code-asc tiebreak).
  * The equivalent Column-tree form (m x ksub aggregate/zip_with HOF terms,
  * each duplicating the normalization subtree — lambda HOFs are excluded
  * from subexpression elimination) measured ~36 ms PER ROW at m=8 ksub=16;
  * this kernel is O(dim * ksub) with two allocations. NULL for null input
  * or a zero-norm vector (no cosine neighbors), matching the HOF form the
  * ss_knn_pq oracle was pinned against. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorMath.pqEncode(v.asInstanceOf[ArrayData].toFloatArray(), books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val code = nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.functions.VectorMath.pqEncode($v.toFloatArray(), $b);
      ${ev.isNull} = ${ev.value} == null;""")
    code
  }
  override def prettyName: String = "pq_encode"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Residual PQ code assignment ([[VectorMath.pqEncodeResidual]]) fused
  * into one kernel pass — FAISS's `by_residual=true` encode: the codes
  * quantize (normalized vector − normalized assigned centroid), so the
  * codebooks only have to cover the within-cell spread, not the whole
  * sphere. Inputs: (vector, assigned cell id); centroids and codebooks
  * ride as codegen reference objects (driver-sized). Null contract as
  * [[PqEncode]], plus null for a cell id not in the quantizer. */
case class PqEncodeResidual(vec: Expression, cell: Expression,
                            cids: Array[Long], cvecs: Array[Array[Float]],
                            books: Array[Array[Array[Double]]])
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = vec
  override def right: Expression = cell
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), LongType)
  override def dataType: DataType = ArrayType(IntegerType)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, c: Any): Any =
    VectorMath.pqEncodeResidual(v.asInstanceOf[ArrayData].toFloatArray(),
      c.asInstanceOf[Long], cids, cvecs, books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", cids, "long[]")
    val vecsRef = ctx.addReferenceObj("centVecs", cvecs, "float[][]")
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, c) => s"""
      ${ev.value} = graft.functions.VectorMath.pqEncodeResidual($v.toFloatArray(), $c, $idsRef, $vecsRef, $b);
      ${ev.isNull} = ${ev.value} == null;""")
  }
  override def prettyName: String = "pq_encode_res"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, cell = r)
}

/** cosine(vector, centroid(cell)) as a kernel ([[VectorMath.centroidDot]])
  * — the per-(query, probe-cell) constant of the residual-ADC sum. */
case class CentroidDot(vec: Expression, cell: Expression,
                       cids: Array[Long], cvecs: Array[Array[Float]])
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = vec
  override def right: Expression = cell
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, c: Any): Any =
    VectorMath.centroidDot(v.asInstanceOf[ArrayData].toFloatArray(),
      c.asInstanceOf[Long], cids, cvecs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", cids, "long[]")
    val vecsRef = ctx.addReferenceObj("centVecs", cvecs, "float[][]")
    val tmp = ctx.freshName("cdot")
    nullSafeCodeGen(ctx, ev, (v, c) => s"""
      java.lang.Double $tmp = graft.functions.VectorMath.centroidDot($v.toFloatArray(), $c, $idsRef, $vecsRef);
      ${ev.isNull} = $tmp == null;
      ${ev.value} = ${ev.isNull} ? -1.0 : $tmp.doubleValue();""")
  }
  override def prettyName: String = "centroid_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, cell = r)
}

/** Per-query ADC lookup tables fused into one kernel: L2-normalize, then
  * tables[j][code] = dot(query subvector j, codebook entry) — the
  * asymmetric-distance preparation computed once per query row. Same
  * HOF-tree pathology and null contract as [[PqEncode]]. */
case class PqAdcTables(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ArrayType(DoubleType))
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorMath.pqAdcTables(v.asInstanceOf[ArrayData].toFloatArray(), books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.functions.VectorMath.pqAdcTables($v.toFloatArray(), $b);
      ${ev.isNull} = ${ev.value} == null;""")
  }
  override def prettyName: String = "pq_adc_tables"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC score: sum_j tables[j][codes[j]] in subspace order — m array reads
  * per candidate pair inside the join's codegen stage. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(t: Any, k: Any): Any =
    VectorMath.pqAdc(t.asInstanceOf[ArrayData], k.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.functions.VectorMath.pqAdc($t, $k)")
  override def prettyName: String = "pq_adc"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

object VectorMath {

  /** Deterministic pseudo-random hyperplane weight in [-1, 1): splitmix64 of
    * (seed, plane, dim index) — stable across executors and rounds. */
  def planeWeight(seed: Long, plane: Int, d: Int): Double = {
    var z = seed + 0x9e3779b97f4a7c15L * (plane.toLong * 131071L + d + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Sign-bit LSH bucket of `planes` hyperplane projections. */
  def hyperplaneBucket(a: Array[Float], planes: Int, seed: Long): Int = {
    var bucket = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < a.length) { dot += a(d).toDouble * planeWeight(seed, p, d); d += 1 }
      if (dot >= 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  /** Top-`n` centroid ids by (-cosine ASC, cid ASC) — bounded insertion
    * into an n-slot buffer, one cosine per centroid, two allocations.
    * Comparison is java.lang.Double.compare, mirroring the struct-sort
    * column form this kernel replaces (mixed ±0.0 cannot arise: a zero
    * cosine is always +0.0 here, so its negation is uniformly -0.0). */
  def nearestCentroids(v: Array[Float], cids: Array[Long],
                       cvecs: Array[Array[Float]], n: Int): ArrayData = {
    val k = math.min(n, cids.length)
    val negs = new Array[Double](k)
    val ids = new Array[Long](k)
    var filled = 0
    var i = 0
    while (i < cids.length) {
      val neg = -cosine(v, cvecs(i))
      val cid = cids(i)
      var pos = filled
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(negs(pos - 1), neg)
        cmp > 0 || (cmp == 0 && ids(pos - 1) > cid)
      }) pos -= 1
      if (pos < k) {
        var j = math.min(filled, k - 1)
        while (j > pos) { negs(j) = negs(j - 1); ids(j) = ids(j - 1); j -= 1 }
        negs(pos) = neg
        ids(pos) = cid
        if (filled < k) filled += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(ids, filled))
  }

  /** Deterministic sequential-accumulation cosine similarity. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def l2(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Morton interleave of the low `bits` bits of two non-negative longs:
    * a's bit i lands at position 2i, b's at 2i+1. bits <= 31 keeps the
    * result in a positive BIGINT. */
  def zorder2(a: Long, b: Long, bits: Int): Long = {
    // same silent-scramble hazard as [[zorderN]]: bits=32 sets the sign
    // bit, bits>32 wraps shifts mod 64 — fail fast instead
    require(bits >= 1 && bits <= 31, s"z-order needs 1 <= bits <= 31, got $bits")
    val mask = (1L << bits) - 1
    val x = a & mask
    val y = b & mask
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >>> i) & 1L) << (2 * i)
      z |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** N-dimensional Morton interleave of the low `bits` bits of `d` non-
    * negative longs: dim j's bit i lands at position i*d + j, so low bit
    * positions cycle through the dimensions — for d=2 this is EXACTLY
    * [[zorder2]] (dim 0 on even positions, dim 1 on odd; pinned by
    * KernelPropsSpec). Requires d * bits <= 63 to keep the key a positive
    * BIGINT (the Delta/Iceberg multi-column Z-order constraint). */
  def zorderN(vals: Array[Long], bits: Int): Long = {
    val d = vals.length
    // enforced HERE, not just in the layout API: Long << wraps shifts mod
    // 64, so an unchecked d*bits > 63 would silently fold high-dimension
    // bits onto the low interleave positions — scrambled keys, no error
    require(d * bits <= 63,
      s"z-order needs dims*bits <= 63, got $d x $bits")
    val mask = (1L << bits) - 1
    var z = 0L
    var j = 0
    while (j < d) {
      val x = vals(j) & mask
      var i = 0
      while (i < bits) {
        z |= ((x >>> i) & 1L) << (i * d + j)
        i += 1
      }
      j += 1
    }
    z
  }

  /** [[zorderN]] over Catalyst array data (the expression entry point). */
  def zorderN(vals: ArrayData, bits: Int): Long =
    zorderN(vals.toLongArray(), bits)

  /** L2-normalized double copy; null when the norm is 0 — bit-identical to
    * the HOF form sqrt(aggregate(x, 0, acc + x*x)) then x/norm (sequential
    * index-order accumulation, double casts per element). */
  private def normalized(a: Array[Float]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    val norm = math.sqrt(s)
    if (!(norm > 0.0)) return null
    val out = new Array[Double](a.length)
    i = 0
    while (i < a.length) { out(i) = a(i).toDouble / norm; i += 1 }
    out
  }

  /** PQ codes (argmin squared L2 per subspace, code-asc tiebreak) of the
    * normalized vector; null for zero-norm input. Distances accumulate in
    * index order like the HOF aggregate the oracle was pinned against. */
  def pqEncode(a: Array[Float], books: Array[Array[Array[Double]]]): ArrayData = {
    val nv = normalized(a)
    if (nv == null) return null
    encodeCodes(nv, books)
  }

  /** The per-subspace argmin tail shared by [[pqEncode]] (codes of the
    * normalized vector) and [[pqEncodeResidual]] (codes of the residual). */
  private def encodeCodes(nv: Array[Double],
                          books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val sub = books(0)(0).length
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * sub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c0 = 0
      while (c0 < books(j).length) {
        val cv = books(j)(c0)
        var d = 0.0
        var i = 0
        while (i < sub) { val t = nv(base + i) - cv(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c0 }
        c0 += 1
      }
      codes(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Residual PQ codes (FAISS `by_residual=true`): L2-normalize, subtract
    * the NORMALIZED centroid of the row's assigned `cell`, then the same
    * per-subspace argmin as [[pqEncode]]. Null for null / zero-norm input,
    * an unknown cell id, or a zero-norm centroid. */
  def pqEncodeResidual(a: Array[Float], cell: Long, cids: Array[Long],
                       cvecs: Array[Array[Float]],
                       books: Array[Array[Array[Double]]]): ArrayData = {
    val nv = normalized(a)
    if (nv == null) return null
    var ci = -1
    var i = 0
    while (i < cids.length && ci < 0) { if (cids(i) == cell) ci = i; i += 1 }
    if (ci < 0) return null
    val cnv = normalized(cvecs(ci))
    if (cnv == null || cnv.length != nv.length) return null
    i = 0
    while (i < nv.length) { nv(i) -= cnv(i); i += 1 }
    encodeCodes(nv, books)
  }

  /** cosine(vector, centroid(cell)) — the per-(query, cell) constant term
    * of the residual-ADC decomposition q·x ~= q·c + q·r. Null (boxed) for
    * an unknown cell id; sequential index-order accumulation as
    * [[cosine]]. */
  def centroidDot(a: Array[Float], cell: Long, cids: Array[Long],
                  cvecs: Array[Array[Float]]): java.lang.Double = {
    var ci = -1
    var i = 0
    while (i < cids.length && ci < 0) { if (cids(i) == cell) ci = i; i += 1 }
    if (ci < 0) return null
    cosine(a, cvecs(ci))
  }

  /** ADC lookup tables: tables[j][code] = dot(normalized subvector j,
    * codebook entry), index-order accumulation; null for zero-norm input. */
  def pqAdcTables(a: Array[Float], books: Array[Array[Array[Double]]]): ArrayData = {
    val nv = normalized(a)
    if (nv == null) return null
    val m = books.length
    val sub = books(0)(0).length
    val tables = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * sub
      val row = new Array[Double](books(j).length)
      var c0 = 0
      while (c0 < books(j).length) {
        val cv = books(j)(c0)
        var d = 0.0
        var i = 0
        while (i < sub) { d += nv(base + i) * cv(i); i += 1 }
        row(c0) = d
        c0 += 1
      }
      tables(j) = new org.apache.spark.sql.catalyst.util.GenericArrayData(row)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(tables)
  }

  /** sum_j tables[j][codes[j]], left-associated in subspace order (the same
    * fold order as the Column form it replaces). */
  def pqAdc(tables: ArrayData, codes: ArrayData): Double = {
    var s = 0.0
    var j = 0
    val m = codes.numElements()
    while (j < m) {
      s += tables.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    s
  }
}
