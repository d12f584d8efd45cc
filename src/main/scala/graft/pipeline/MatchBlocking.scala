package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.scoring.MatchScore

/**
 * Candidate blocking for the similarity join — the 100 TB escape hatch from
 * the O(U*E) cross join (SURVEY.md §4.2 "candidate blocking", kept OUT of the
 * default pipeline because it is approximate).
 *
 * Instead of scoring every (username, employee) pair, each side derives a
 * small set of cheap BLOCKING KEYS, and only pairs sharing a key are scored:
 *
 *   username keys:  normalized username (hits the 8 exact patterns),
 *                   its soundex + metaphone codes, its two split parts
 *   employee keys:  the 8 exact pattern strings, first/last tokens,
 *                   soundex + metaphone of first/last
 *
 * The key join is a plain shuffled equi-join (hash-partitioned on the key),
 * so the pair count is bounded by key collisions rather than |U|*|E| — the
 * property that lets a billion-username corpus meet a million-employee roster
 * without a nested loop. Every pattern-match (score=100) pair shares the
 * username itself as a key, so the short-circuit tier is captured EXACTLY;
 * what can be missed are pairs whose >= 50 score comes purely from fuzzy
 * ratios with no token/phonetic agreement. Recall against the exact pipeline
 * is pinned by MatchBlockingSpec on the full reference workload.
 *
 * When blocking pays off: candidate volume is sum over keys of
 * |U_key| * |E_key|, so the win depends on NAME CARDINALITY. A roster of a
 * million distinct surnames spreads employees across millions of keys and the
 * blocked join scores a vanishing fraction of U*E; a roster of 20k employees
 * sharing 64 distinct names (the synthetic bench fixture) piles thousands of
 * emp_ids onto each key and blocking approaches the cross product while also
 * paying the key-explode shuffles — the exact broadcast path wins there.
 * Hot keys are FREQUENCY-CAPPED with SALVAGE (`maxEmployeesPerKey` in
 * [[candidatePairs]]): a key above a per-key employee count is sub-split by
 * a name-prefix signature (dedup's over-cap-bucket pattern) so probes that
 * share name material still reach their employees through a discriminative
 * sub-bucket; only residually-hot sub-buckets degrade to cap-smallest ids
 * (MatchBlockingSpec pins recall with the cap active).
 */
object MatchBlocking {

  /** Distinct candidate (username, emp_id) pairs sharing >= 1 blocking key.
    *
    * Key tiers (each tier rescues a class of true matches the previous one
    * misses; measured recall on the reference workload is pinned by
    * MatchBlockingSpec):
    *  1. the whole normalized username vs the 8 employee pattern strings —
    *     captures the score-100 short-circuit tier EXACTLY;
    *  2. split parts + soundex + metaphone vs name tokens and their codes —
    *     separator-structured usernames (`kul_sanjay`) and misspellings that
    *     preserve phonetics;
    *  3. every char `gram`-gram of the username vs the `gram`-char prefix of
    *     first/last — embedded and truncated tokens (`iamkulkarni`,
    *     `bhatiaX`, `deepz`). `gram`=3 favors recall; raise to 4 at larger
    *     rosters to shrink bucket collision volume (the recall/cost knob);
    *  4. the trailing-digit-stripped username vs the first+last-initial
    *     composite — `harshm37`-style usernames land on `harshm` directly
    *     instead of fanning out through the (often hot) bare first-name
    *     token, so on low-name-cardinality rosters they keep a
    *     DISCRIMINATIVE key that no cap can take away.
    *
    * EAGER: construction localCheckpoint()s the roster key table (and the
    * hot-key census) — calling this method runs Spark jobs immediately,
    * even for callers that only want the plan (explain, spec assertions).
    * The checkpointed blocks live in executor storage until the backing
    * RDDs become unreferenced on the driver and ContextCleaner reclaims
    * them after a driver GC — see [[matchOutput]]'s lifecycle note for
    * long-lived callers.
    */
  /** Per-key employee cap (see [[candidatePairs]]): a key held by more
    * employees than this sub-splits by name-prefix signature, and residual
    * over-cap sub-buckets keep their cap-smallest emp_ids. The reference
    * workload's hottest key holds < 20 employees, so the default changes
    * nothing there; a pathological roster (thousands of employees sharing
    * one name) stays bounded at `cap * |sub-keys probed|` candidates. */
  val DefaultMaxEmployeesPerKey = 200

  def candidatePairs(usernames: DataFrame, employees: DataFrame,
                     gram: Int = 3,
                     maxEmployeesPerKey: Int = DefaultMaxEmployeesPerKey,
                     metricTag: String = "match_blocking"): DataFrame = {
    val u = MatchPipeline.prepareUsernames(usernames)
    val e = MatchPipeline.prepareEmployees(employees)
    val uGrams = expr(
      s"transform(sequence(1, greatest(length(u_norm) - ${gram - 1}, 1)), i -> substring(u_norm, i, $gram))")
    // uSigs: the probe-side sub-bucket signatures for HOT keys — every
    // `gram`-gram (literal name material) PLUS the phonetic codes
    // (soundex AND metaphone — both are blocking-key tiers, so both must
    // be salvageable) of the whole username and its split parts. The
    // phonetic members matter: a probe like `jhon99` shares only the
    // soundex key with a misspelled roster name, and `night01` vs a
    // `knight` roster shares only the metaphone key (K-before-N and GH
    // drop) — grams alone would strand either in zero sub-buckets where
    // the pre-salvage design still reached the cap-smallest ids. With the
    // phonetic sigs they land in the (hotkey, code) sub-bucket, which
    // degrades to cap-smallest only when the roster is phonetically
    // degenerate — graceful, never silently dead. Empty sigs (soundex of
    // a missing part2) are filtered: they could only meet an
    // empty-name-token employee — no shared material, pure join noise.
    //
    // NOT materialized on uKeys: the signature array (~17 grams + 6 codes
    // per username) would ride every exploded key row (~17x) through two
    // generators even though it is consumed only on the rare hot rows.
    // The expression is instead evaluated AFTER the hot-flag join, inside
    // the hot branch of the conditional expansion — CaseWhen evaluates
    // branches lazily, so cold rows (the overwhelming majority) never run
    // the part-phonetic kernels and the probe side carries five narrow
    // invariant strings instead of the array.
    val uSigs = filter(array_distinct(concat(
      uGrams,
      array(col("u_sdx"), graft.functions.soundex_jf(col("u_part1")),
        graft.functions.soundex_jf(col("u_part2")),
        col("u_mp"), graft.functions.metaphone(col("u_part1")),
        graft.functions.metaphone(col("u_part2"))))),
      g => length(g) > 0)
    val uKeys = u.select(col("username"),
        col("u_norm"), col("u_part1"), col("u_part2"), col("u_sdx"), col("u_mp"),
        explode(array_distinct(concat(
          array(col("u_norm"), col("u_sdx"), col("u_mp"), col("u_part1"), col("u_part2"),
            // tier 4: trailing digits stripped — `harshm37` -> `harshm`
            regexp_replace(col("u_norm"), "\\d+$", "")),
          uGrams))).as("block_key"))
      .filter(length(col("block_key")) > 0)
    // localCheckpoint: the roster-side key table feeds THREE consumers
    // below (hot-key census, cold anti join, hot semi join) and Spark
    // re-executes a common subplan per consumer — without this the
    // phonetic/pattern kernels over the roster run three times. The
    // roster is the small side by contract (same assumption as the
    // broadcast in matchOutput), so materializing |E| x ~17 narrow rows
    // is cheap. The USERNAME side is never checkpointed — at scale it is
    // the big side — and it has exactly ONE consumer (the single-pass
    // conditional expansion below), so its kernels evaluate once anyway.
    val eKeys = e.select(col("emp_id"), col("e_first"), col("e_last"),
        col("e_sdx_first"), col("e_sdx_last"), col("e_mp_first"), col("e_mp_last"),
        explode(array_distinct(concat(col("e_patterns"), array(
          col("e_first"), col("e_last"),
          substring(col("e_first"), 1, gram), substring(col("e_last"), 1, gram),
          col("e_sdx_first"), col("e_sdx_last"),
          col("e_mp_first"), col("e_mp_last"),
          // tier 4: first + last-initial composite — the discriminative
          // landing spot for digit-stripped usernames like `harshm`
          concat(col("e_first"), substring(col("e_last"), 1, 1))))))
          .as("block_key"))
      .filter(length(col("block_key")) > 0)
      // spread BEFORE checkpointing: the roster scan is one input split at
      // bench scale, so an unpartitioned checkpoint pins every downstream
      // roster-side map (hot-key census, cold anti join, and — the
      // expensive one — the hot sub-key explode) onto ONE task (measured
      // 2.1 s of the sf0.1 wall). Partitioning by block_key also lets the
      // census groupBy and the cold/hot key joins reuse the layout instead
      // of re-exchanging, and an explicit numPartitions is AQE-proof.
      .repartition(employees.sparkSession.sparkContext.defaultParallelism,
        col("block_key"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // FREQUENCY CAP with HOT-KEY SALVAGE (dedup's over-cap-bucket sub-split,
    // mirrored — Dedup.candidatesFromKeyed): a blocking key shared by more
    // than `maxEmployeesPerKey` employees contributes |U_key| * |E_key|
    // candidate pairs while ranking signal comes from the SCORE, not key
    // multiplicity. Hot keys are not dropped whole, and do not keep a
    // fixed id-order subset either (that made employees ranked past the cap
    // UNREACHABLE through the key for every probe); instead a hot key is
    // SUB-SPLIT by a secondary signature both sides can derive — the
    // `gram`-char prefix, soundex, and metaphone of each employee name
    // token vs every `gram`-gram plus the phonetic codes of the username
    // and its split parts — so a
    // probe that shares name material (literal OR phonetic) with an
    // employee meets it in a discriminative sub-bucket regardless of id
    // rank. Residually-hot sub-buckets (thousands of literally identical
    // names) fall back to cap-smallest emp_ids — graceful degradation,
    // same shape as dedup's salvage-then-cap.
    // Probe-side fan-out is bounded: only keys on the (broadcast) hot
    // list expand, into |u_sigs| sub-keys each, inside ONE conditional
    // generator — the probe side is a single pass over uKeys, so the
    // username-side kernels (soundex, metaphone, grams) evaluate once,
    // not once per cold/hot branch (the username side is the BIG side at
    // scale and is never checkpointed).
    // Metrics (one observe per composition site; pass distinct tags when
    // composing twice): `<tag>_hot_keys` = keys that sub-split,
    // `<tag>_capped_subkeys` = residual sub-buckets still at the cap.
    // The hot-key list is localCheckpointed: it feeds THREE joins below,
    // and without it the census aggregate re-runs per consumer whenever
    // the planner does not deduplicate the broadcast exchange — which also
    // made `n_hot_keys` fire 1-3x depending on exchange reuse. The
    // checkpoint runs the census exactly once (the metric is now
    // deterministic) and the list itself is tiny by construction — only
    // keys a >cap-employee roster pile-up produced.
    val hotKeys = broadcast(eKeys.groupBy("block_key")
      .agg(count(lit(1)).as("__kc"))
      .filter(col("__kc") > maxEmployeesPerKey)
      .select(col("block_key"), lit(true).as("__hot"))
      .observe(s"${metricTag}_hot_keys", count(lit(1)).as("n_hot_keys"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // separator between key and signature: '\u0001' never occurs in
    // normalized name material, so sub-keys cannot collide with plain keys
    val sep = "\u0001"
    val eCold = eKeys.join(hotKeys, Seq("block_key"), "left_anti")
      .select("emp_id", "block_key")
    val eHot = eKeys.join(hotKeys, Seq("block_key"), "left_semi")
      .select(col("emp_id"), explode(array_distinct(array(
          concat(col("block_key"), lit(sep), substring(col("e_first"), 1, gram)),
          concat(col("block_key"), lit(sep), substring(col("e_last"), 1, gram)),
          concat(col("block_key"), lit(sep), col("e_sdx_first")),
          concat(col("block_key"), lit(sep), col("e_sdx_last")),
          concat(col("block_key"), lit(sep), col("e_mp_first")),
          concat(col("block_key"), lit(sep), col("e_mp_last")))))
        .as("block_key"))
      // empty-sig sub-keys (missing name token) are join noise — the probe
      // side filters them too, keeping the fixture mirror aligned
      .filter(!col("block_key").endsWith(sep))
    val bySubKey = Window.partitionBy(col("block_key")).orderBy(col("emp_id").asc)
    // explicit-numPartitions repartition ahead of the cap window: the
    // checkpointed eKeys collapses to few partitions and the window's
    // sub-key exchange is byte-small, so AQE coalesces it to ONE task —
    // serializing the sub-key explode + rank over the (hot) majority of
    // the roster key table (measured 2.3 s of a 5.5 s wall at sf0.1).
    // A REPARTITION_BY_NUM exchange is never AQE-coalesced, the window
    // reuses its partitioning (same key), and the roster side is small by
    // contract, so the extra narrow shuffle is noise at any scale.
    // DENSE_RANK, not distinct + row_number (r10): a roster that reuses
    // emp_ids (the reference does) must not let one id consume two cap
    // slots — dense_rank over emp_id asc gives duplicate ids the same
    // slot, admitting exactly the cap-smallest DISTINCT ids (the fixture
    // mirror's sorted-set-prefix semantics) WITHOUT a second full
    // exchange of the sub-key table to pre-dedup; duplicate admitted rows
    // are cleaned by the final candidate distinct like everywhere else.
    val par = usernames.sparkSession.sparkContext.defaultParallelism
    val eHotCapped = eHot.repartition(par, col("block_key"))
      .withColumn("__rk", dense_rank().over(bySubKey))
      .filter(col("__rk") <= maxEmployeesPerKey)
      // rows whose rank hit the cap: >= the number of capped sub-buckets
      // (equal when ids are unique); a census of where salvage saturates
      .observe(s"${metricTag}_capped_subkeys",
        sum(when(col("__rk") === maxEmployeesPerKey, 1L).otherwise(0L))
          .as("n_capped_subkeys"))
      .drop("__rk")
    // single probe-side pass: cold keys pass through unchanged, hot keys
    // expand to their signature sub-keys inside one generator; uSigs is
    // evaluated HERE, lazily in the hot branch (see its definition note)
    val uAll = uKeys
      .join(hotKeys, Seq("block_key"), "left")
      .select(col("username"), explode(
          when(col("__hot"),
            transform(uSigs, g => concat(col("block_key"), lit(sep), g)))
          .otherwise(array(col("block_key"))))
        .as("block_key"))
    uAll.join(eCold.unionByName(eHotCapped), "block_key")
      .select("username", "emp_id")
      .distinct()
  }

  /** [[MatchPipeline.matchOutput]] semantics over blocked candidates only.
    * Approximate: a username whose every true match lacks any shared key
    * degrades to USER NOT FOUND.
    *
    * localCheckpoint LIFECYCLE: each call materializes three small
    * checkpoints (roster key table + hot-key census in [[candidatePairs]],
    * candidate pairs here). The calls are eager — the jobs run at
    * DataFrame-construction time — and the checkpointed blocks are NOT
    * freed when this method returns: they are reclaimed by Spark's
    * ContextCleaner only after the backing RDDs become unreferenced AND a
    * driver GC runs. A one-shot batch job never notices. A long-lived
    * driver calling this per micro-batch (a MatchServing-style loop)
    * accumulates blocks between driver GCs; they are bounded by roster +
    * candidate size per batch and are reclaimed automatically, but a
    * memory-tight deployment should either reuse one matchOutput result
    * per roster version (the roster-side work is probe-independent) or
    * trigger periodic driver GC to cap executor storage. */
  def matchOutput(usernames: DataFrame, employees: DataFrame,
                  topK: Int = MatchPipeline.TopK,
                  threshold: Double = MatchPipeline.ScoreThreshold,
                  maxEmployeesPerKey: Int = DefaultMaxEmployeesPerKey): DataFrame = {
    // same duplicate-input pinning as MatchPipeline.matchOutput: one result
    // group per distinct username value
    val users = usernames
      .select(col("username").cast("string").as("username")).distinct()
    // checkpoint the narrow (username, emp_id) pairs once: one eager job
    // runs the key-explode join DAG and counts its rows for the spread
    // sizing below, and the scoring join reads the checkpointed rows
    // instead of running that DAG again. This makes matchOutput eager at
    // the candidate stage, which is the right trade for the scale path
    // this operator exists for.
    // The candidate COUNT (consumed by the spread sizing below) rides the
    // checkpoint job as a string-named observed metric (the Dedup.clusters
    // convergence-probe pattern, r21 guide §1.2): the eager localCheckpoint
    // executes this Dataset's own queryExecution, so the CollectMetrics
    // accumulator is readable afterwards — one job instead of checkpoint +
    // separate count() scan. String form, never Observation: registering an
    // Observation materializes the session's non-serializable
    // observationManager (see Dedup.clusters).
    val candObs = candidatePairs(users, employees, maxEmployeesPerKey = maxEmployeesPerKey)
      .observe("match_blocking_cand_count", count(lit(1)).as("n"))
    val cand = candObs
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // SIZE-AWARE spread of the scoring stage (the MatchPipeline.scoredPairs
    // pattern): the checkpointed candidates are a few narrow MB even when
    // the kernel work they fan into is seconds of CPU, so AQE coalesces the
    // scoring join down to one task (measured: the post-checkpoint score +
    // rank stages ran 1-task at sf0.1). An explicit numPartitions
    // repartition by username is never AQE-coalesced, satisfies the join
    // AND the rank window partitioning (no further exchange), and is
    // skipped when the candidates already arrive spread (the 100 TB case).
    // The partition count scales with the CANDIDATE VOLUME (~10k pairs
    // per task — a pair costs ~20µs of kernel, so that is ~200ms of real
    // work per task against the ~100ms fixed per-task setup cost of this
    // deep plan; capped at 4*par): the degenerate 64-name regime's
    // hundreds of thousands of pairs still fan out wide, while the
    // high-cardinality regime's few-k candidates stop paying 3+ stages of
    // near-empty tasks (measured r10 at sf0.1: 128-partition stages
    // scoring 28.6k pairs put ~10 CPU-s of task overhead on a 1 CPU-s
    // scoring job). The count job is a narrow scan of the checkpointed
    // blocks — milliseconds, and candidatePairs is already eager. A
    // genuinely large candidate set never reaches this branch small: it
    // either arrives spread (the passthrough above) or counts its way
    // back to 4*par.
    val par = users.sparkSession.sparkContext.defaultParallelism
    val candSpread =
      if (cand.queryExecution.sparkPlan.outputPartitioning.numPartitions >= 2 * par) cand
      else {
        val nCand = candObs.queryExecution
          .observedMetrics("match_blocking_cand_count").getAs[Long](0)
        val parts = math.max(4L, math.min(4L * par, nCand / 10000L + 1)).toInt
        cand.repartition(parts, col("username"))
      }
    val u = MatchPipeline.prepareUsernames(users)
    val e = MatchPipeline.prepareEmployees(employees)
    val scored = MatchScore.withScore(
        candSpread.join(u, "username").join(broadcast(e), "emp_id"), "e", Some(threshold))
      .select("username", "emp_id", "employee_name", "score")
    // same three-key total order as MatchPipeline.rankedTopKOf (score desc,
    // emp_id asc, employee_name asc — the shared bounded-heap aggregate):
    // employee_name is the FINAL tiebreak because emp_id alone is not a
    // total order — the reference roster reuses EMP_IDs, so a same-id score
    // tie at the top-k boundary would otherwise keep a nondeterministic
    // name on this path while the exact path is pinned.
    // a username with zero candidates keeps only its presence row, which
    // becomes its sentinel
    MatchPipeline.outputRows(
      MatchPipeline.rankedTopKOf(MatchPipeline.withPresenceRows(scored, users), topK), threshold)
  }
}
