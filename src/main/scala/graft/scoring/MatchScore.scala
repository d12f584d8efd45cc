package graft.scoring

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions._

/**
 * The composite username-vs-employee match score as ONE Catalyst Column
 * expression tree — the declarative re-expression of the reference's
 * `compute_match_score` (/root/reference/main.py:25-90).
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
 * Being a pure expression tree (CaseWhen over codegen'd kernels), the
 * pattern short-circuit skips every fuzzy/phonetic kernel exactly like the
 * reference's early `return` — in both interpreted and whole-stage-codegen
 * paths — and the whole score inlines into the cross-join stage with no UDF
 * serialization boundary.
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
      }
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
      // sorted-distinct token arrays of each B side of the three token-set
      // terms (r21): rapidfuzz default_process + tokenize + sort + dedup
      // hoisted to once per EMPLOYEE instead of once per scored pair — the
      // dominant residual per-pair cost after the r20 kernel pass. The
      // composite consumes these through fuzz_composite_pre; scores are
      // bit-identical (the token-set merge sees the same arrays).
      "e_first_toks" -> fuzz_preproc_tokens(f),
      "e_last_toks" -> fuzz_preproc_tokens(l),
      "e_full_toks" -> fuzz_preproc_tokens(en)
    )
  }

  /**
   * Score from the hoisted invariant columns. `u_*` columns come from
   * [[usernameInvariants]], `e_*` from [[employeeInvariants]].
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
      fToks: Column = null, lToks: Column = null, enToks: Column = null): Column = {

    val isPattern = array_contains(ePatterns, u)

    val splitBonus = when(
      (uPart1 === f && uPart2 === l) || (uPart2 === f && uPart1 === l), lit(10)
    ).otherwise(lit(0))

    // dead heuristic in the reference (main.py:54): 0 either way; optional
    // resurrected version behind the flag
    val numberBonus =
      if (enableEmpIdBonus)
        when(u.contains(lower(trim(empId.cast("string")))), lit(10)).otherwise(lit(0))
      else lit(0)

    val initialBonus =
      when(length(u) > 0 && length(f) > 0 && uInitial === eFirstInitial, lit(5)).otherwise(lit(0)) +
      when(uDot2Initial =!= "" && uDot2Initial === eFirstInitial, lit(5)).otherwise(lit(0))

    // the five fuzzy terms are fused into one codegen kernel call
    // (Fuzz.compositeFuzzPre): bit-identical weighted sum — including null
    // propagation (each token array is null exactly when its source string
    // is) — with the username-side token preprocessing memoized per thread
    // and the employee-side token preprocessing hoisted to the broadcast
    // side instead of re-derived per pair
    val composite =
      fuzz_composite_pre(u, en,
        if (fToks == null) fuzz_preproc_tokens(f) else fToks,
        if (lToks == null) fuzz_preproc_tokens(l) else lToks,
        if (enToks == null) fuzz_preproc_tokens(en) else enToks) +
      (uSdx === eSdxLast).cast("int") * lit(6) +
      (uMp === eMpLast).cast("int") * lit(7) +
      (uSdx === eSdxFirst).cast("int") * lit(3) +
      (uMp === eMpFirst).cast("int") * lit(3) +
      splitBonus + initialBonus + numberBonus

    // coalesce guards NULL inputs: a null composite would otherwise slip
    // through least() (which skips nulls) and score 100. Null/absent names
    // score 0 — same outcome as the reference's unmatchable rows.
    when(isPattern, lit(100.0))
      .otherwise(least(coalesce(composite, lit(0.0)), lit(100.0)))
  }
}
