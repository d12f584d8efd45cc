package graft.scoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import graft.functions._

/**
 * The composite username-vs-employee match score as Catalyst columns — the
 * re-expression of the reference's `compute_match_score`
 * (the reference's main.py:25-90). The score itself is defined ONCE, in
 * Scala, by [[PairScore]]; this object derives the hoisted invariants it
 * reads and wraps it as codegen expressions ([[scoreFromInvariants]],
 * [[compositeUpperBound]], [[withScore]]), which the nested-loop
 * `scoredPairs` and the blocked path evaluate. The exact path's top-k
 * operator calls [[PairScore]] directly on a decoded roster.
 *
 * Weighting (main.py:76-89), evaluated in the same order:
 *   0.2*ratio(u, full) + 0.2*partial(u, full) + 0.2*token_set(u, full)
 * + 0.3*token_set(u, last) + 0.2*token_set(u, first)
 * + 6*soundex_eq(u, last) + 7*metaphone_eq(u, last)
 * + 3*soundex_eq(u, first) + 3*metaphone_eq(u, first)
 * + split_bonus(10) + initial_bonus(5+5) + number_match_bonus(always 0)
 * capped at 100; pre-empted by 100.0 when the username equals one of the 8
 * exact first/last patterns (main.py:36-47).
 *
 * The pattern short-circuit skips every fuzzy kernel exactly like the
 * reference's early `return`, and the expressions generate code, so the
 * score runs inside the cross-join stage's whole-stage codegen with no UDF
 * serialization boundary.
 *
 * Thresholded form ([[withScore]] with a threshold): a second branch sits
 * between the pattern short-circuit and the kernels, `if (isPattern) 100
 * else if (ub < t) ub else <exact score>`. `ub`
 * ([[compositeUpperBound]]) is the composite with each fuzzy term replaced
 * by an integer upper bound from character histograms — an LCS matches at
 * most min(count_a(c), count_b(c)) copies of each char, so ratio <=
 * rint(200*cap/(|a|+|b|)), partial_ratio <= rint(200*B/(m+B)) with
 * B = min(m, cap), and token_set <= 100 when the token sets may share a
 * token, else the ratio bound of the space-joined tokens — summed with the
 * same weights and left-to-right adds as the exact composite, plus the same
 * exact bonuses. Rounding is monotone, so ub >= the exact score bit for
 * bit, and a pruned pair is below the threshold with or without the prune.
 *
 * Documented divergences (SURVEY.md §7.4): the reference IndexErrors on empty
 * username/first_name (main.py:69) and on `"name."` (main.py:73); we guard
 * those to bonus 0. The emp-id bonus is dead code in the reference
 * (`0 if ... else 0`, main.py:54) — reproduced as constant 0 behind a flag.
 */
object MatchScore {

  /** Precomputable per-username invariants (hoist BEFORE the cross join:
    * O(U) work instead of O(U*E)). */
  def usernameInvariants(username: Column): Map[String, Column] = {
    val u = lower(trim(username.cast("string")))
    val parts = split(u, "[._\\-\\s]")
    Map(
      "u_norm" -> u,
      "u_part1" -> coalesce(try_element_at(parts, lit(1)), lit("")),
      "u_part2" -> when(size(parts) > 1, try_element_at(parts, lit(2))).otherwise(lit("")),
      "u_sdx" -> soundex_jf(u),
      "u_mp" -> metaphone(u),
      "u_initial" -> substring(u, 1, 1),
      // first char after the first '.', if any ('' when absent)
      "u_dot2_initial" -> {
        val dotParts = split(u, "\\.")
        when(size(dotParts) > 1, substring(try_element_at(dotParts, lit(2)), 1, 1)).otherwise(lit(""))
      },
      "u_prof" -> fuzz_bound_profile(u),
      // byte length for the pattern short-circuit's length guard
      "u_bytes" -> octet_length(u)
    )
  }

  /** Precomputable per-employee invariants (hoist on the broadcast side:
    * O(E) work instead of O(U*E)). */
  def employeeInvariants(firstName: Column, lastName: Column, employeeName: Column): Map[String, Column] = {
    val f = lower(trim(firstName.cast("string")))
    val l = lower(trim(lastName.cast("string")))
    val en = lower(trim(employeeName.cast("string")))
    Map(
      "e_first" -> f,
      "e_last" -> l,
      "e_full" -> en,
      "e_sdx_first" -> soundex_jf(f),
      "e_sdx_last" -> soundex_jf(l),
      "e_mp_first" -> metaphone(f),
      "e_mp_last" -> metaphone(l),
      "e_first_initial" -> substring(f, 1, 1),
      // the 8 exact username patterns (main.py:36-45) are employee-side
      // invariants: building them once per employee (not once per PAIR) and
      // probing with array_contains removes 8 string allocations from every
      // cross-join row
      "e_patterns" -> array(
        concat(f, lit("."), l), concat(l, lit("."), f),
        concat(f, lit("_"), l), concat(l, lit("_"), f),
        concat(f, l), concat(l, f),
        concat(f, lit(" "), l), concat(l, lit(" "), f)),
      // every pattern is |f|+|l| or |f|+|l|+1 bytes long: the length guard
      // of PairScore.isPattern compares this before probing the patterns
      "e_fl_bytes" -> patternBaseBytes(f, l),
      // sorted-distinct token arrays of each B side of the three token-set
      // terms (r21): rapidfuzz default_process + tokenize + sort + dedup
      // hoisted to once per EMPLOYEE instead of once per scored pair — the
      // dominant residual per-pair cost after the r20 kernel pass. The
      // composite consumes these through Fuzz.compositeFuzzPre; scores are
      // bit-identical (the token-set merge sees the same arrays).
      "e_first_toks" -> fuzz_preproc_tokens(f),
      "e_last_toks" -> fuzz_preproc_tokens(l),
      "e_full_toks" -> fuzz_preproc_tokens(en),
      // bound profiles (character histograms + token hashes) read by the
      // threshold prune in withScore, one per roster row
      "e_first_prof" -> fuzz_bound_profile(f),
      "e_last_prof" -> fuzz_bound_profile(l),
      "e_full_prof" -> fuzz_bound_profile(en)
    )
  }

  /**
   * Score from the hoisted invariant columns: [[PairScore.score]] as one
   * codegen expression ([[PairScoreExpr]]). `u_*` columns come from
   * [[usernameInvariants]], `e_*` from [[employeeInvariants]].
   *
   * `bound = Some((ub, t))` adds the threshold prune between the pattern
   * short-circuit and the kernels: a pair whose `ub` (an upper bound on its
   * composite, [[compositeUpperBound]]) is below `t` scores `ub` and never
   * reaches the fuzzy kernels. See [[withScore]] for why that is exact for
   * every consumer that keeps only rows scoring >= `t`.
   */
  def scoreFromInvariants(
      u: Column, uPart1: Column, uPart2: Column, uSdx: Column, uMp: Column,
      uInitial: Column, uDot2Initial: Column,
      f: Column, l: Column, en: Column,
      eSdxFirst: Column, eSdxLast: Column, eMpFirst: Column, eMpLast: Column,
      eFirstInitial: Column, ePatterns: Column,
      enableEmpIdBonus: Boolean = false, empId: Column = lit(""),
      // hoisted B-side token arrays (e_first_toks / e_last_toks /
      // e_full_toks from employeeInvariants). The defaults recompute them
      // inline — bit-identical, just without the per-pair hoist — so
      // convenience callers need not thread the columns.
      fToks: Column = null, lToks: Column = null, enToks: Column = null,
      bound: Option[(Column, Double)] = None,
      // hoisted byte lengths (u_bytes from usernameInvariants, e_fl_bytes
      // from employeeInvariants); the defaults derive them inline
      uBytes: Column = null, flBytes: Column = null): Column = {
    // dead heuristic in the reference (main.py:54): 0 either way; optional
    // resurrected version behind the flag
    val numberBonus =
      if (enableEmpIdBonus)
        when(u.contains(lower(trim(empId.cast("string")))), lit(10)).otherwise(lit(0))
      else lit(0)
    def or(c: Column, dflt: => Column) = if (c == null) dflt else c
    val (ub, t) = bound.getOrElse((lit(null).cast("double"), Double.NegativeInfinity))
    ColumnShim.col(PairScoreExpr(Seq(
      u, uPart1, uPart2, uSdx, uMp, uInitial, uDot2Initial, f, l, en,
      eSdxFirst, eSdxLast, eMpFirst, eMpLast, eFirstInitial, ePatterns, numberBonus.cast("double"),
      or(fToks, fuzz_preproc_tokens(f)), or(lToks, fuzz_preproc_tokens(l)),
      or(enToks, fuzz_preproc_tokens(en)),
      or(uBytes, octet_length(u)), or(flBytes, patternBaseBytes(f, l)), ub)
      .map(ColumnShim.expr), t))
  }

  /** Upper bound on the uncapped composite of a pair frame laid out as in
    * [[withScore]]: [[PairScore.compositeBound]] as one codegen expression,
    * the composite with its fuzzy terms replaced by `Fuzz.compositeFuzzUB`
    * over the hoisted bound profiles (integer bounds from character
    * histograms, summed with the kernel's weights and order) and the same
    * exact bonuses. It is >= the composite, so >= the score, on every pair,
    * and null exactly where the composite is. */
  def compositeUpperBound(side: String): Column = {
    def e(n: String) = col(s"${side}_$n")
    ColumnShim.col(CompositeBoundExpr(Seq(
      u("prof"), e("full_prof"), e("last_prof"), e("first_prof"),
      u("norm"), u("part1"), u("part2"), u("sdx"), u("mp"), u("initial"), u("dot2_initial"),
      e("first"), e("last"), e("sdx_first"), e("sdx_last"), e("mp_first"), e("mp_last"),
      e("first_initial")).map(ColumnShim.expr)))
  }

  private def u(name: String): Column = col(s"u_$name")

  /** |f| + |l| in bytes: the length of the separator-free patterns. */
  private def patternBaseBytes(f: Column, l: Column): Column = octet_length(f) + octet_length(l)

  /**
   * Adds `score` to a frame of (username, employee) pairs carrying the
   * [[usernameInvariants]] columns and the [[employeeInvariants]] columns
   * with their `e` prefix replaced by `side` — the one scoring form of the
   * exact and the blocked match paths.
   *
   * With `threshold = Some(t)` the score is thresholded (filter, then
   * verify): the bound column is projected once per pair, and a pair whose
   * bound is below `t` scores its bound instead of running the fuzzy
   * kernels. Its exact score is <= its bound < t, so the pair is below the
   * threshold either way, and it still sorts after every pair scoring
   * >= t. A consumer that keeps only rows scoring >= t, plus a constant
   * sentinel for a username without one, therefore sees identical output;
   * top-k heaps, dense ranks and the rn = 1 sentinel all stay exact. Pairs
   * scoring >= t, and every pair when `threshold = None`, carry the exact
   * score bit for bit.
   */
  def withScore(pairs: DataFrame, side: String, threshold: Option[Double] = None): DataFrame = {
    def e(n: String) = col(s"${side}_$n")
    // the bound gets a column of its own, projected once per pair
    threshold.fold(pairs)(_ => pairs.withColumn("__ub", compositeUpperBound(side)))
      .withColumn("score", scoreFromInvariants(
        u("norm"), u("part1"), u("part2"), u("sdx"), u("mp"), u("initial"), u("dot2_initial"),
        e("first"), e("last"), e("full"),
        e("sdx_first"), e("sdx_last"), e("mp_first"), e("mp_last"),
        e("first_initial"), e("patterns"),
        fToks = e("first_toks"), lToks = e("last_toks"), enToks = e("full_toks"),
        bound = threshold.map(t => (col("__ub"), t)),
        uBytes = u("bytes"), flBytes = e("fl_bytes")))
      .drop("__ub")
  }
}
