package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.scoring.MatchScore

/**
 * The end-to-end username->employee match pipeline — the engine's flagship
 * query, re-expressing the reference's POST-/ pipeline
 * (/root/reference/main.py:136-221) as one declarative Spark plan:
 *
 *   usernames ⟕ [similarity cross join] broadcast(distinct employee names,
 *                                                  each with its employees)
 *     -> score (MatchScore expression tree, thresholded: see below)
 *     -> explode each name's employees, only for pairs scoring >= 50
 *     -> ∪ one presence row per username (null emp_id and score)
 *     -> per-username top-k (bounded-heap `topk_match` aggregate, k=4)
 *     -> dense-rank confidence labels (ties share a rank — golden semantics
 *        pinned by the reference's assets/example.png)
 *     -> rows scoring >= 50, and NOT-FOUND sentinels derived from the rn=1
 *        row in the same pass (a presence row at rn=1: no qualifying pair)
 *
 * Threshold prune (filter, then verify): the output keeps only rows
 * scoring >= the threshold, plus a sentinel built from constants for a
 * username with none. So [[matchOutput]] scores its pairs through
 * [[MatchScore.withScore]] with the threshold: a pair whose upper bound
 * (character-histogram caps on the fuzzy terms plus the exact bonuses) is
 * below the threshold never runs the fuzzy kernels, and every pair below
 * the threshold (about 95% on the wide synthetic input) is dropped at the
 * fan-out, before the top-k heap. Qualifying rows sort before every
 * dropped one, so the top-k heap and the dense ranks of qualifying rows
 * come out exactly as without the prune, and the presence rows supply the
 * sentinels the dropped rows would have. [[scoredPairs]] stays exact.
 *
 * Scale design (100 TB usernames, roster-sized employees):
 *  - the employee side is hoisted+broadcast, so the cross join is a
 *    BroadcastNestedLoopJoin with NO shuffle of the big side;
 *  - per-username and per-employee invariants (phonetic codes, splits,
 *    bound profiles) are computed O(U)+O(E) times before the join, not
 *    O(U*E) times inside it;
 *  - past the size-aware spread of small inputs (see [[scoredPairs]]), the
 *    username side is shuffled only by the top-k aggregate's hash
 *    partitioning on `username`; partial aggregation bounds that at k rows
 *    per username per map task, and the dense-rank window reuses it;
 *  - deterministic tiebreak (score desc, emp_id asc, employee_name asc) —
 *    the reference's pandas unstable sort makes ties unspecified
 *    (SURVEY.md §7.4.1).
 */
object MatchPipeline {

  val TopK = 4               // NUM_TOP_GROUP_MATCHES + NUM_ADDITIONAL (main.py:19-21)
  val ScoreThreshold = 50.0  // main.py:22

  /** Dense-rank -> confidence label decode (main.py:181-186). */
  def rankLabel(r: Column): Column =
    when(r === 1, "HIGH CONFIDENCE")
      .when(r === 2, "2nd HIGH CONFIDENCE")
      .when(r === 3, "3rd HIGH CONFIDENCE")
      .when(r === 4, "NOT SURE")
      .otherwise("")   // dict.get default, main.py:196

  /** Usernames with hoisted scoring invariants. */
  def prepareUsernames(usernames: DataFrame): DataFrame =
    usernames.select(col("username").cast("string").as("username"))
      .select(col("username") +: invariantCols(MatchScore.usernameInvariants(col("username"))): _*)

  /** Canonical employees with hoisted scoring invariants. */
  def prepareEmployees(employees: DataFrame): DataFrame =
    employees.select(col("*") +: invariantCols(MatchScore.employeeInvariants(
      col("first_name"), col("last_name"), col("employee_name"))): _*)

  /** Named invariant columns for ONE select: a withColumn per invariant
    * re-analyzes the whole growing plan each time, analysis that every
    * matchOutput call (every served batch) pays before any task runs. */
  private def invariantCols(inv: Map[String, Column]): Seq[Column] =
    inv.toSeq.map { case (name, c) => c.as(name) }

  /** Scored candidate pairs: every (username, employee) with its score.
    *
    * The cross join is COMPUTE-bound, not IO-bound: each stream row fans out
    * into |roster| kernel evaluations, so task parallelism — not data volume
    * — decides wall clock. An explicit `repartition` on the stream side pins
    * fine compute slices across cores: without it, AQE sees a few KB of
    * shuffled usernames and coalesces the exchange down to one partition,
    * serializing the entire O(U*E) scoring loop onto one thread (measured
    * 48s -> ~2s at sf0.1 on local[32]). The shuffled rows are small (a
    * username and its hoisted invariants, a few hundred bytes), so the
    * repartition costs nothing relative to the scoring it spreads — on a
    * SMALL input. A 100 TB username table arriving already spread over
    * thousands of scan/shuffle partitions needs no rebalancing, so the
    * exchange is SIZE-AWARE: it is skipped when the input's planned (pre-
    * AQE) partition count is already >= 2x defaultParallelism AND that
    * count cannot shrink under AQE (scan splits or an explicit
    * numPartitions repartition — shapes pinned in PlanShapeSpec). An
    * explicit numPartitions repartition is never AQE-coalesced, so the
    * small-input fix cannot regress. */
  def scoredPairs(usernames: DataFrame, employees: DataFrame): DataFrame =
    scoredPairsCapped(usernames, employees, None, None)

  /** [[scoredPairs]] with an optional per-name-tuple cap on the fan-out
    * roster and an optional score threshold — the form [[matchOutput]]
    * consumes (see the FAN-OUT CAP and SCORE-GATED FAN-OUT comments inside,
    * and [[MatchScore.withScore]] for the threshold prune). With a
    * threshold, only pairs scoring >= it are emitted, each with its exact
    * score. `fanoutTopK = None, threshold = None` is the full, exact pair
    * relation: (username, emp_id, employee_name, score). */
  private def scoredPairsCapped(usernames: DataFrame, employees: DataFrame,
                                fanoutTopK: Option[Int],
                                threshold: Option[Double]): DataFrame = {
    val spark = usernames.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    // static planned partition count: queryExecution.sparkPlan is the
    // pre-adaptive physical plan, so reading it triggers no execution (the
    // adaptive plan's .rdd would run every upstream stage eagerly)
    val plannedPlan = usernames.queryExecution.sparkPlan
    val planned = plannedPlan.outputPartitioning.numPartitions
    // The skip is only trustworthy when `planned` cannot shrink under AQE
    // at runtime: scan-derived splits (no exchange supplies the count) or
    // an explicit numPartitions repartition (REPARTITION_BY_NUM — never
    // AQE-coalesced). An optimizer-inserted or column-only exchange plans
    // at the static spark.sql.shuffle.partitions default and CAN coalesce
    // to one task on a small input — serializing the whole O(U x E)
    // scoring stage under a vanilla 200-partition session — so those force
    // the explicit repartition whatever count they print. Inspecting the
    // exchange's shuffleOrigin (not comparing counts, the r12 form) means
    // a genuinely data-driven input whose count happens to EQUAL the conf
    // value is no longer force-shuffled — at 100 TB that was a full extra
    // exchange of the big side.
    val aqeCollapsible = {
      import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
      plannedPlan.collectFirst { case e: ShuffleExchangeExec => e }
        .exists(_.shuffleOrigin != REPARTITION_BY_NUM)
    }
    // 4 waves of fine-grained tasks: with one task per core a single
    // straggler (GC pause, CPU steal) stretches the whole stage; finer
    // slices rebalance.
    //
    // The username invariants are derived BEFORE that exchange. Whole-stage
    // codegen defers a deterministic projection's outputs to their first
    // use, and the nested-loop join first uses its stream side inside its
    // loop over the broadcast roster: derived in the join's stage, every
    // username invariant (metaphone, soundex, splits, bound profile) runs
    // once per PAIR (about a quarter of the wide scoring stage's samples
    // in a JFR profile). Derived before the exchange, the shuffle writes
    // them once per username and the join reads plain fields. An input
    // that skips the exchange still derives them per pair.
    val u =
      if (planned >= 2 * parallelism && !aqeCollapsible) prepareUsernames(usernames)
      else prepareUsernames(usernames).repartition(4 * parallelism)
    // DISTINCT-NAME MEMOIZATION (r20, guide §1.2 "the distributed
    // algorithm"): the score is a pure function of (username, e_first,
    // e_last, e_full) — emp_id never enters it — so the expensive kernels
    // run once per (username, DISTINCT name tuple). One groupBy over the
    // roster yields those tuples, each carrying its employees as `n_emps`:
    // (emp_id, employee_name) structs sorted ascending, nulls first (the
    // top-k tiebreak order). On the bench's 64-name/20k-employee roster
    // this is ~300x fewer kernel evaluations (OPTIMIZATION_r20.md). The
    // username side crosses ONE BroadcastNestedLoopJoin and no exchange;
    // the broadcast build is roster-bounded. Grouping keeps null name
    // parts together, so a null-named employee pairs with every username
    // (score 0 via null propagation) as in a direct cross join.
    val inv = MatchScore.employeeInvariants(
      col("first_name"), col("last_name"), col("employee_name"))
    val emps = sort_array(collect_list(struct(col("emp_id"), col("employee_name"))))
    // FAN-OUT CAP (r20, top-k callers only): every employee of a name tuple
    // shares that tuple's score, so within one username's (score desc,
    // emp_id asc, employee_name asc) total order the k-th best row OF A
    // TUPLE is preceded by k-1 same-score rows of that same tuple — an
    // employee past the k-th of its tuple can never reach any username's
    // top-k. Keeping each tuple's k smallest (emp_id, employee_name) rows
    // is EXACT for top-k consumption. Duplicate rows within a tuple are
    // interchangeable in every column the top-k output can reference.
    val names = employees
      .groupBy(inv("e_first").as("n_first"), inv("e_last").as("n_last"),
        inv("e_full").as("n_full"))
      .agg(fanoutTopK.fold(emps)(k => slice(emps, 1, k)).as("n_emps"))
    // invariants recomputed on the distinct tuples (n_first, n_last and
    // n_full among them, re-normalized: lower/trim are idempotent)
    val nameInv = MatchScore.employeeInvariants(col("n_first"), col("n_last"), col("n_full"))
      .toSeq.map { case (name, c) => c.as(name.replaceFirst("^e_", "n_")) }
    val scored = MatchScore.withScore(
      u.crossJoin(broadcast(names.select(col("n_emps") +: nameInv: _*))), "n", threshold)
    // SCORE-GATED FAN-OUT: one generator emits a name's employees. With a
    // threshold it emits them only for pairs that reach it, so the ~95% of
    // pairs below it stop here, before any row copy or top-k heap probe;
    // [[matchOutput]] restores their usernames' sentinels from presence
    // rows. A generator, not a filter: Catalyst pushes a `score >= t`
    // filter into the nested-loop join's condition, where the bound would
    // be evaluated a second time on every pruned pair.
    val fan = threshold.fold(col("n_emps"))(t => when(col("score") >= t, col("n_emps")))
    scored.select(col("username"), col("score"), explode(fan).as("__emp"))
      .select(col("username"), col("__emp.emp_id").as("emp_id"),
        col("__emp.employee_name").as("employee_name"), col("score"))
  }

  /** Per-username top-k of a scored (username, emp_id, employee_name,
    * score) frame via the bounded-heap aggregate [[graft.functions.topk_match]]
    * (r21, guide §1.2 "the distributed algorithm"): the former
    * Sort + WindowGroupLimit + row_number window sorted the ENTIRE scored
    * stream per task (2.5M wide-ish rows on the wide bench leg, ~24% of
    * that query's CPU in sort comparators / row copies) only to keep 4
    * rows per username. The heap aggregate keeps the k first rows of the
    * IDENTICAL total order (score DESC, emp_id ASC, employee_name ASC —
    * employee_name is the final tiebreak because the reference roster
    * reuses EMP_IDs, FIXTURES.md) at one double-compare per rejected row,
    * with partial aggregation bounding the exchange at O(usernames x k)
    * exactly like WindowGroupLimit did. Multiset equivalence is pinned by
    * MatchTopKAggSpec; `rn` is the position in the aggregate's
    * window-order output, so rn/rank/match_type decode unchanged.
    *
    * dense_rank still orders by score ONLY: equal scores share a
    * rank/label (golden tie semantics from assets/example.png). The rank
    * window runs over <= k rows per username on the aggregate's own
    * username partitioning — no additional exchange. */
  private[graft] def rankedTopKOf(scored: DataFrame, topK: Int): DataFrame = {
    val byUserScore = Window.partitionBy(col("username")).orderBy(col("score").desc)
    scored
      .groupBy(col("username"))
      .agg(graft.functions.topk_match(
        col("score"), col("emp_id"), col("employee_name"), topK).as("__tk"))
      .select(col("username"), posexplode(col("__tk")).as(Seq("__pos", "__m")))
      .select(col("username"),
        col("__m.emp_id").as("emp_id"),
        col("__m.employee_name").as("employee_name"),
        col("__m.score").as("score"),
        (col("__pos") + 1).cast("int").as("rn"))
      .withColumn("rank", dense_rank().over(byUserScore))
      .withColumn("match_type", rankLabel(col("rank")))
  }

  /** `scored` (username, emp_id, employee_name, score) plus one PRESENCE
    * row per username of `users`: null emp_id, employee_name and score. A
    * null score sorts after every real row in the top-k order and never
    * reaches a threshold, so a presence row cannot displace or re-rank a
    * real row; it surfaces at rn = 1 exactly when its username has no
    * scored row, and [[outputRows]] turns it into that username's
    * sentinel. The one sentinel mechanism of [[matchOutput]] (empty
    * roster, every pair below the threshold) and of
    * [[MatchBlocking.matchOutput]] (no candidates). */
  private[graft] def withPresenceRows(scored: DataFrame, users: DataFrame): DataFrame = {
    val nul = lit(null).cast("string")
    scored.select("username", "emp_id", "employee_name", "score")
      .unionByName(users.select(col("username"), nul.as("emp_id"), nul.as("employee_name"),
        lit(null).cast("double").as("score")))
  }

  /** The output projection of a [[rankedTopKOf]] frame: its rows scoring
    * >= `threshold`, and a USER NOT FOUND sentinel, built from constants
    * only, for each username whose BEST row (rn = 1) is below it or is a
    * presence row ([[withPresenceRows]]) — a username with no qualifying
    * match gets its sentinel in the same pass. Shared by [[matchOutput]]
    * and [[MatchBlocking.matchOutput]]. */
  private[graft] def outputRows(ranked: DataFrame, threshold: Double): DataFrame = {
    val qualifies = col("score") >= threshold
    ranked
      .filter(qualifies || col("rn") === 1)
      .select(
        col("username"),
        when(qualifies, col("emp_id")).otherwise("N/A").as("emp_id"),
        when(qualifies, col("employee_name")).otherwise("USER NOT FOUND").as("emp_name"),
        when(qualifies, format_string("%.2f%%", col("score"))).otherwise("0.00%").as("confidence_score"),
        when(qualifies, col("match_type")).otherwise("USER NOT FOUND").as("match_type"))
  }

  /**
   * Full output contract of the reference (username, emp_id, emp_name,
   * confidence_score, match_type), including USER NOT FOUND sentinel rows.
   * Blank separator rows (main.py:209) are a CSV-presentation concern and are
   * added only by [[writeCsv]].
   *
   * Duplicate-input semantics (PINNED, documented divergence): input
   * usernames are `distinct()`-ed at entry, so a username appearing N times
   * yields ONE result group. The reference iterates input rows
   * (main.py:158), emitting N identical groups for N identical rows; under
   * a window partitioned by username VALUE those rows would instead merge
   * into one partition with each candidate duplicated N times — silently
   * corrupting top-k membership. Deduping preserves the per-group content
   * exactly and keeps the window semantics well-defined; callers wanting
   * the reference's repeated groups can re-join the output against their
   * raw input. Pinned by MatchPipelineSpec ("duplicate usernames").
   */
  def matchOutput(usernames: DataFrame, employees: DataFrame,
                  topK: Int = TopK, threshold: Double = ScoreThreshold): DataFrame = {
    val users = usernames
      .select(col("username").cast("string").as("username")).distinct()
    // only qualifying pairs reach the top-k heap; a username without one
    // (every pair below the threshold, or an empty roster) keeps its
    // presence row, which becomes its sentinel
    val scored = scoredPairsCapped(users, employees, Some(topK), Some(threshold))
    outputRows(rankedTopKOf(withPresenceRows(scored, users), topK), threshold)
  }

  /** Name-pile-up factor above which the EXACT broadcast-NLJ path beats
    * candidate blocking: [[graft.pipeline.MatchBlocking]]'s cardinality
    * analysis (its scaladoc "When blocking pays off") — when thousands of
    * employees share each distinct name, most blocking keys collide, the
    * candidate set approaches the full cross product, and the blocked
    * path pays its key-explode shuffles on top. Measured on the pinned
    * bench pair: the 64-name roster at sf0.1 (pile-up ~312) runs exact
    * 2.2x cheaper than blocked, while the wide ~20k-name roster (pile-up
    * ~1) runs blocked 2.5x cheaper than exact. 16 sits in the decade of
    * slack between the two regimes (3.2 vs 31 on the narrow fixture's
    * smallest/middle scales). */
  val ExactWinsPileupFactor = 16.0

  /** The [[auto]] decision, exposed for specs and for SQL replay: average
    * employees per distinct (first, last) name — one driver aggregate
    * over the roster, which is broadcast-small by the pipeline's own
    * contract (the same assumption the exact path's broadcast makes). */
  def pileupFactor(employees: DataFrame): Double = {
    val r = employees.agg(
      count(lit(1)).as("n"),
      countDistinct(concat_ws(" ",
        lower(col("first_name")), lower(col("last_name")))).as("d")).head()
    r.getLong(0).toDouble / math.max(1L, r.getLong(1))
  }

  /** AUTO path selection: the exact broadcast-NLJ [[matchOutput]] when the
    * roster's name pile-up says blocking keys would collide into a near
    * cross product, [[MatchBlocking.matchOutput]] (the 100 TB candidate
    * path) on high-cardinality rosters. Same output contract either way;
    * the blocked branch is approximate by its documented nature (~94%
    * pair recall on the reference workload), which is exactly why the
    * choice is a DOCUMENTED stat threshold rather than a silent cost
    * model: the crossover is pinned by MatchPipelineSpec on both bench
    * fixtures and replayed by the nm_match_topk_auto oracle. */
  def auto(usernames: DataFrame, employees: DataFrame,
           topK: Int = TopK, threshold: Double = ScoreThreshold): DataFrame =
    if (pileupFactor(employees) >= ExactWinsPileupFactor)
      matchOutput(usernames, employees, topK, threshold)
    else
      MatchBlocking.matchOutput(usernames, employees, topK, threshold)

  /** CSV sink. With `separators = true`, reproduces the reference's blank
    * row between username groups (main.py:209-221) by unioning one all-empty
    * row per username, sort-keyed to land after its group — presentation
    * only, so it stays out of the relational [[matchOutput]] result.
    *
    * Ordering is (username, NUMERIC score desc, emp_id) — the formatted
    * percent string sorts lexicographically ('9.00%' > '59.80%'), so the
    * sort key re-parses it to a double, matching the reference's
    * score-descending group order. `singleFile = true` funnels the write
    * through one task (the reference's one-CSV HTTP contract); the default
    * keeps the distributed multi-part write — a global orderBy range-
    * partitions the output, so the part files' DATA rows concatenate in
    * sorted order. Note `header = true` writes a header line into EVERY
    * part file, so consumers concatenating parts must strip the repeated
    * headers (or pass `singleFile = true` for one header total). */
  def writeCsv(out: DataFrame, path: String, separators: Boolean = false,
               singleFile: Boolean = false): Unit = {
    val scoreNum = regexp_replace(col("confidence_score"), "%", "").cast("double")
    val rows =
      if (!separators) out.orderBy(col("username"), scoreNum.desc, col("emp_id"), col("emp_name"))
      else {
        // materialize the caller's pipeline ONCE: both union branches (data
        // + separator rows) otherwise each re-execute the full upstream
        // lineage — Spark does not de-duplicate a common subplan across
        // union branches (the measured rankedTopK lesson), so a
        // presentation-only blank row would double the flagship query
        val once = out.localCheckpoint()
        val data = once.withColumn("__grp", col("username")).withColumn("__sep", lit(0))
        val nul = lit(null).cast("string")
        val seps = once.select(col("username").as("__grp")).distinct()
          .select(
            nul.as("username"), nul.as("emp_id"), nul.as("emp_name"),
            nul.as("confidence_score"), nul.as("match_type"),
            col("__grp"), lit(1).as("__sep"))
        data.unionByName(seps)
          .orderBy(col("__grp"), col("__sep"), scoreNum.desc, col("emp_id"), col("emp_name"))
          .drop("__grp", "__sep")
      }
    val sink = if (singleFile) rows.coalesce(1) else rows
    sink.write.mode("overwrite").option("header", "true").csv(path)
  }
}
