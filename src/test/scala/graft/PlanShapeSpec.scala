package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions — the properties that decide whether these
  * operators survive a 1000-executor / 100 TB scale-up (SURVEY.md §4.2):
  * filters and projections must reach the parquet scan, dimension joins must
  * broadcast, the similarity join must broadcast the roster (never shuffle
  * the username side into a sort-merge join), and rank-limit windows must
  * install the pre-shuffle WindowGroupLimit so each map task emits at most k
  * rows per group. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.Sf0001

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The physical plan with AQE disabled while it materializes. Under AQE
    * (on by default) `executedPlan` is an opaque AdaptiveSparkPlanExec
    * LEAF: `collect` sees no children, so every typed inspection of
    * exchanges/joins on a shuffling query would be vacuously true.
    * `sparkPlan` is no better for exchanges — EnsureRequirements hasn't
    * run there, so requirement-driven shuffles don't exist yet. `df` is
    * by-name so the query builds (and its QueryExecution caches) under
    * the flag. */
  private def preparedPlan(df: => DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q2: predicate pushdown and column pruning reach the parquet scan") {
    val df = SparkEntry.queries("q2_filter_pushdown")(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThan(l_quantity,10.0)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    // only the 6 referenced columns are read, not all 11
    val readSchema = scans.head.metadata("ReadSchema")
    assert(!readSchema.contains("l_returnflag"),
      s"scan reads unprojected columns: $readSchema")
    assert(readSchema.contains("l_discount"), readSchema)
  }

  test("q3: dimension joins broadcast; no sort-merge on the fact side") {
    val p = plan(SparkEntry.queries("q3_join_agg")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("match pipeline: usernames map through one top-k operator, never a join") {
    // the roster is a broadcast variable read by the operator: no join of
    // any kind, so the username side is never shuffle-sorted against it
    val p = plan(SparkEntry.queries("nm_match_topk")(spark, sf))
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("Join"), s"the match must not join usernames with the roster:\n$p")
  }

  test("scoredPairs always spreads usernames round robin") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val employees = Seq(("1", "amit", "jain", "Amit Jain"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val narrow = Seq("amit123", "jain_a").toDF("username")
    // a local relation, and a column-only repartition (planned at the conf
    // default, coalescible to one task by AQE on a small input)
    for (in <- Seq(narrow, narrow.repartition(col("username")))) {
      val p = plan(graft.pipeline.MatchPipeline.scoredPairs(in, employees))
      assert(p.contains("RoundRobinPartitioning"), s"usernames were not spread:\n$p")
    }
  }

  test("pre-partitioned usernames still score on 4 x defaultParallelism tasks") {
    // an explicit numPartitions input reads as already spread in
    // sparkPlan, but matchOutput's distinct() exchange (added later by
    // EnsureRequirements) is AQE-coalesced on a small input: without the
    // spread the top-k operator's input is ONE partition
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object aqe extends AdaptiveSparkPlanHelper
    val par = spark.sparkContext.defaultParallelism
    val employees = graft.schema.EmployeeNormalizer.normalize(spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
    val usernames = spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/usernames.csv").select("username")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val out = graft.pipeline.MatchPipeline.matchOutput(usernames.repartition(2 * par), employees)
      val rows = out.collect().map(_.toString).sorted
      // the final adaptive plan: query stages are leaves to plain collect
      val op = aqe.collect(out.queryExecution.executedPlan) { case m: MapPartitionsExec => m }
      assert(op.size === 1, out.queryExecution.executedPlan)
      assert(op.head.child.outputPartitioning.numPartitions === 4 * par,
        out.queryExecution.executedPlan)
      val want = graft.pipeline.MatchPipeline.matchOutput(usernames, employees)
        .collect().map(_.toString).sorted
      assert(rows.toSeq === want.toSeq)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("filter-verify top-k: no nested-loop join, no topk_match aggregate, no window") {
    // the usernames cross two exchanges (distinct, then the round-robin
    // spread) into one per-username operator that scores, ranks and labels
    // against the broadcast roster: no join, no broadcast exchange, no
    // top-k aggregate, no dense-rank window and no score expression in the
    // plan (AQE off so every exchange is visible)
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val employees = graft.schema.EmployeeNormalizer.normalize(spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/employee.csv"))
    val usernames = spark.read.option("header", "true")
      .csv(s"${SparkTestBase.ReferenceDir}/usernames.csv").select("username")
    val p = preparedPlan(graft.pipeline.MatchPipeline.matchOutput(usernames, employees))
    assert(p.collect { case j: BaseJoinExec => j }.isEmpty, p)
    assert(p.collect { case e: BroadcastExchangeExec => e }.isEmpty, p)
    assert(p.collect { case e: ShuffleExchangeExec => e }.size === 2, p)
    assert(p.collect { case w: WindowExec => w }.isEmpty, p)
    val aggs = p.collect { case a: BaseAggregateExec => a }.flatMap(_.aggregateExpressions)
    assert(!aggs.exists(_.aggregateFunction.isInstanceOf[graft.functions.TopKMatchRows]), p)
    assert(p.collect { case m: MapPartitionsExec => m }.size === 1, p)
    val scores = p.flatMap(_.expressions).flatMap(_.collect {
      case e: graft.scoring.PairScoreCall => e
    })
    assert(scores.isEmpty, p)
  }

  test("per-group top-k installs the pre-shuffle WindowGroupLimit") {
    val p = plan(SparkEntry.queries("q4_topk_pergroup")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan(SparkEntry.queries("q6_global_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregations run partial (map-side) before the exchange") {
    val p = plan(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate pair:\n$p")
  }

  test("as-of join: union-window form, one hash exchange, no nested loop") {
    val df = SparkEntry.queries("ev_asof_join")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$p")
  }

  test("PII redaction is a single codegen stage: no exchange, pruned scan") {
    val p = plan(SparkEntry.queries("tx_redact")(spark, sf))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("sequence packing shuffles once on pack_group (parallel windows, no global sort)") {
    val p = plan(SparkEntry.queries("tx_pack")(spark, sf))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$p")
    assert(p.contains("Exchange hashpartitioning(pack_group"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked in:\n$p")
  }

  test("range join: equi-join on (key, bin), never a nested loop") {
    val df = SparkEntry.queries("ev_range_join")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("IVF kNN: queries broadcast into the cell join; corpus never exchanges before it") {
    val df = SparkEntry.queries("ss_knn_ivf")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus branch must be scan -> project(cell) -> join with NO
    // exchange: cell assignment is a scan-local expression, and the only
    // shuffles key the pruned candidate set by query for dedup/top-k
    // (preparedPlan: requirement-driven exchanges only exist post-
    // EnsureRequirements, and AQE would hide them from collect)
    val joins = preparedPlan(SparkEntry.queries("ss_knn_ivf")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("cell")) => j
    }
    assert(joins.nonEmpty, p)
    val corpusSide = joins.head.left // streamed side
    val exchangesBelowJoin = corpusSide.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchangesBelowJoin.isEmpty,
      s"corpus shuffled before the cell join:\n$corpusSide")
  }

  test("PQ kNN: partial WindowGroupLimit bounds the ADC shuffle; encode is scan-local") {
    val df = SparkEntry.queries("ss_knn_pq")(spark, sf)
    val p = plan(df)
    // the ADC prune must push its rank limit BELOW the exchange: each map
    // task emits at most `rerank` rows per query, so the shuffle carries
    // O(queries x rerank) rows — never the full |corpus| x |queries| score
    // matrix. "Partial" is the pre-shuffle instance.
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    // the cross join is queries-broadcast (corpus never shuffled to score)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // code assignment is an expression in the corpus scan stage: no
    // exchange below the join on the corpus side (preparedPlan — see its
    // scaladoc; the BNLJ feeds the narrow ADC projection)
    val joins = preparedPlan(SparkEntry.queries("ss_knn_pq")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.nonEmpty, p)
    val exchangesBelow = joins.head.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchangesBelow.isEmpty, s"corpus shuffled before the ADC join:\n${joins.head.left}")
    // COLD-VECTOR contract (r12): no hash shuffle in the whole query may
    // carry an array column — the ADC prune exchange moves
    // (query_id, vec_id, __adc) rows and the final top-k moves heap
    // buffers; raw vectors reach the plan only through the rerank-bounded
    // broadcast joins
    assertNoVectorShuffle(df)
  }

  test("ANN family: no hash shuffle carries raw vectors (cold-vector contract)") {
    // brute/ivf/classify reduce map-side into bounded heaps (the exchange
    // moves agg buffers); lsh projects (query, corpus, cosine) before its
    // pair-dedup exchange; pq/ivfpq are pinned in their own tests
    Seq("ss_knn_brute", "ss_knn_lsh", "ss_knn_ivf", "ss_knn_classify")
      .foreach { q => assertNoVectorShuffle(SparkEntry.queries(q)(spark, sf)) }
  }

  /** Every ShuffleExchange's INPUT row schema must be free of array
    * columns — vectors ride broadcasts, never hash shuffles. Typed
    * inspection of the physical plan (a formatted-explain string match
    * would be vacuous: Exchange `Input` lines print attribute NAMES, not
    * types). AQE is disabled while the plan materializes so executedPlan
    * exposes the real ShuffleExchangeExec nodes instead of an opaque
    * AdaptiveSparkPlan leaf; `df` is by-name so construction happens
    * under the flag too. */
  private def assertNoVectorShuffle(df: => DataFrame): Unit = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offending = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.output.exists(_.dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType]) => e
      }
      assert(offending.isEmpty,
        s"a hash shuffle carries array (vector?) columns:\n" +
          offending.map(_.child.output.mkString(", ")).mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Guard for the guard: the detector itself must SEE shuffles — an
    * exchange that genuinely moves an array column has to be flagged,
    * otherwise every assertNoVectorShuffle pin above is vacuous. */
  test("assertNoVectorShuffle detects a vector-carrying exchange (self-test)") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("id", "vec")
    val fat = vecs.repartition(org.apache.spark.sql.functions.col("id"))
    val caught = intercept[org.scalatest.exceptions.TestFailedException] {
      assertNoVectorShuffle(fat)
    }
    assert(caught.getMessage.contains("array"))
  }

  test("IVF-PQ: cell equi-join prunes, codes assigned scan-local, ADC shuffle bounded") {
    val df = SparkEntry.queries("ss_knn_ivfpq")(spark, sf)
    val p = plan(df)
    // coarse prune is a hash equi-join on cell (queries broadcast), never a
    // nested loop; the ADC rank limit still pushes below the exchange
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // cell + code assignment are expressions in the corpus scan stage
    // (preparedPlan — see its scaladoc). The rerank vector-fetch joins are
    // BroadcastHashJoins too, so pick the CELL join by its equi-key; its
    // streamed left is the pure corpus chain and must hold no exchange
    val joins = preparedPlan(SparkEntry.queries("ss_knn_ivfpq")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("cell")) => j
    }
    assert(joins.nonEmpty, p)
    val exchangesBelow = joins.head.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchangesBelow.isEmpty,
      s"corpus shuffled before the IVF-PQ cell join:\n${joins.head.left}")
    // same cold-vector contract as plain PQ
    assertNoVectorShuffle(df)
  }

  test("IVF-SQ8: cell equi-join prunes — no full-corpus crossJoin remains") {
    val df = SparkEntry.queries("ss_knn_ivfsq8")(spark, sf)
    val p = plan(df)
    // the flat SQ8 variant's corpus x queries BroadcastNestedLoopJoin is
    // replaced by a hash equi-join on cell (queries broadcast); the
    // approximate-pass rank limit still pushes below the exchange
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // cell assignment + dequantization are expressions in the corpus scan
    // stage: no exchange below the cell join's streamed (corpus) side
    val joins = preparedPlan(SparkEntry.queries("ss_knn_ivfsq8")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("cell")) => j
    }
    assert(joins.nonEmpty, p)
    val exchangesBelow = joins.head.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchangesBelow.isEmpty,
      s"corpus shuffled before the IVF-SQ8 cell join:\n${joins.head.left}")
  }

  test("grown IVF-SQ8 serve keeps the cell equi-join shape over the persisted index") {
    // the coded/grown path must not regress to the flat variant's
    // corpus x queries nested loop: the PERSISTED cell column equi-joins
    // the broadcast probe list, and the corpus side reads the parquet
    // index without a shuffle below the join
    val df = SparkEntry.queries("ss_knn_ivfsq8_grow")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    val joins = preparedPlan(SparkEntry.queries("ss_knn_ivfsq8_grow")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("cell")) => j
    }
    assert(joins.nonEmpty, p)
    val exchangesBelow = joins.head.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchangesBelow.isEmpty,
      s"persisted index shuffled before the grown cell join:\n${joins.head.left}")
  }

  test("residual IVF-PQ keeps the same shuffle shape as the raw-vector variant") {
    val df = SparkEntry.queries("ss_knn_ivfpq_res")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // residual encode + cell assignment stay scan-local: no exchange below
    // the cell equi-join's corpus side
    val joins = preparedPlan(SparkEntry.queries("ss_knn_ivfpq_res")(spark, sf)).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("cell")) => j
    }
    assert(joins.nonEmpty, p)
    val exchangesBelow = joins.head.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchangesBelow.isEmpty,
      s"corpus shuffled before the residual IVF-PQ cell join:\n${joins.head.left}")
    // THE r13 contract: residual tables/cdot ride the broadcast side only —
    // still no array column in any hash shuffle
    assertNoVectorShuffle(df)
  }

  test("boilerplate n-grams: distinct-count aggregates partially before the exchange") {
    val df = SparkEntry.queries("tx_boilerplate_ngrams")(spark, sf)
    val p = plan(df)
    // two-phase: partial_count(distinct doc_id) on the map side
    assert(p.contains("partial_count"), p)
    assert(p.contains("Exchange hashpartitioning(gram"), p)
  }

  test("similarity kernels stay inside whole-stage codegen") {
    val df = SparkEntry.queries("nm_fuzz_vectors")(spark, sf)
    // executedPlan renders codegen'd spans with the "*(id)" marker; the
    // custom fuzz expressions must not force a fallback (unstarred) project
    val p = plan(df)
    assert(p.contains("*(1) Project"), p)
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty, p)
  }

  test("incremental dedup: band equi-joins only, rank-limited best match, pruned scans") {
    val df = SparkEntry.queries("dd_incremental")(spark, sf)
    val p = plan(df)
    // candidates come from the (band, band_key) equi-join — an all-pairs
    // batch x corpus nested loop must never appear
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // best-match-per-batch-doc is rank-limited before the exchange
    assert(p.contains("WindowGroupLimit"), p)
    // the corpus scan reads only (doc_id, text) — never the full row
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("ngram jaccard dedup: narrow equi-joins only, map-side df combine, pruned scan") {
    val p = plan(SparkEntry.queries("dd_ngram_jaccard")(spark, sf))
    // candidates come from the prefix-shingle equi-join — never a nested loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the global document-frequency aggregate combines map-side: the
    // shingle-universe shuffle carries (sh, partial count), not raw rows
    assert(p.contains("partial_count"), s"df aggregate must be partial:\n$p")
    // the documents scan reads only (doc_id, text)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("rare words: narrow hash-only shuffles, map-side census combine, pruned scan") {
    val p = plan(SparkEntry.queries("tx_rare_words")(spark, sf))
    // the vocabulary census combines map-side: the shuffle carries
    // (word-hash, partial count), never text
    assert(p.contains("partial_count"), s"census aggregate must be partial:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // only (doc_id, text) is ever read from documents
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("LM score: map-side count combine, broadcast vocab scalar, no cartesian, pruned scan") {
    val p = plan(SparkEntry.queries("tx_lm_score")(spark, sf))
    // both count censuses combine map-side: shuffles carry (hash, count)
    assert(p.contains("partial_count"), s"count censuses must be partial:\n$p")
    // the one-row vocab size rides a broadcast, never a cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("containment join: equi-join candidates, map-side census, no cartesian, pruned scan") {
    val p = plan(SparkEntry.queries("dd_containment")(spark, sf))
    // probe-prefix x index candidates come from a shingle EQUI-join, and
    // payload verification joins by id -- never an all-pairs product
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), s"df census must combine map-side:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("dup spans: semi-join vocabulary marking, map-side census, no cartesian, pruned scan") {
    val p = plan(SparkEntry.queries("dd_dup_spans")(spark, sf))
    // hot grams must MARK positions (left-semi), never multiply them; the
    // census combines map-side; nothing all-pairs anywhere in the plan
    assert(p.contains("LeftSemi"), s"dup vocabulary must join left-semi:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), s"gram census must combine map-side:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("robust outliers: ONE scan, ONE exchange, stacked windows, no joins") {
    val p = plan(SparkEntry.queries("dq_outliers")(spark, sf))
    // all four window layers share the source partitioning: a single
    // corpus scan and a single shuffle, no stat-table join-backs
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    assert(p.split("Exchange").length - 1 === 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"), p)
  }

  test("bm25: term filter precedes agg, map-side combine, TakeOrdered top-k, pruned scan") {
    val p = plan(SparkEntry.queries("tx_bm25")(spark, sf))
    // global top-k must be per-partition heaps + driver merge, not a sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), s"tf/df aggs must combine map-side:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("dedup candidate gen: bucket windows, salvage sub-split and gather share ONE exchange") {
    import org.apache.spark.sql.functions._
    val keyed = spark.range(100).select(
      (col("id") % 5).as("k"), col("id"), (col("id") % 7).as("sub_key"))
    val df = graft.operators.Dedup.candidatesFromKeyed(keyed, Seq("k"),
      maxBucketSize = 10, subKeyCol = Some("sub_key"))
    val p = plan(df)
    // the bucket-size window (k), the sub-group window/row_number
    // (k, __sub) and the final gather groupBy (k, __sub) are key-prefix
    // refinements of hashpartitioning(k): exactly one exchange feeds all of
    // them; the only other exchange is the terminal pair distinct()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 2, s"expected 2 exchanges (bucket key + pair distinct), got $exchanges in:\n$p")
  }

  test("chunking is shuffle-free: tokenize + explode inside one codegen stage") {
    val p = plan(SparkEntry.queries("tx_chunk")(spark, sf))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("stratified sample: one narrow shuffle + pre-shuffle WindowGroupLimit") {
    val df = SparkEntry.queries("tx_sample_stratified")(spark, sf)
    val p = plan(df)
    // rank-limit rewrites to WindowGroupLimit: each map task emits at most
    // k rows per stratum BEFORE the exchange — the property that keeps the
    // sample's shuffle k-bounded per stratum instead of corpus-sized
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked in:\n$p")
  }

  test("brute kNN: bounded-heap topk_by aggregates partially before the exchange, no sort") {
    val p = plan(SparkEntry.queries("ss_knn_brute")(spark, sf))
    // TypedImperativeAggregate plans as ObjectHashAggregate; the partial
    // instance below the exchange reduces each map task's scored slice to a
    // k-element heap, so the shuffle carries O(queries x k) rows — the
    // property that keeps brute-force scoring viable on a 100 TB corpus
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final topk_by aggregate pair:\n$p")
    assert(p.contains("partial_topk_by"), s"map-side heap missing:\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.toLowerCase.contains("sortexec"),
      s"top-k must not fall back to the sort/window path:\n$p")
  }

  test("heavy hitters: map-side partial MG summaries before the exchange") {
    val p = plan(SparkEntry.queries("tx_heavy_hitters")(spark, sf))
    // the sketch path must shuffle O(groups x k) summary state, never raw
    // tokens: the partial heavy_hitters instance sits below the exchange
    assert(p.contains("partial_heavy_hitters"), s"map-side MG summary missing:\n$p")
    // the exact top-3 window rank-limits before its exchange
    assert(p.contains("WindowGroupLimit"), p)
    // the small boolean frames ride broadcast — no sort-merge join anywhere
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("keyterms: vocabulary joined on term, per-doc top-5 rank-limited, corpus count broadcast") {
    val p = plan(SparkEntry.queries("tx_keyterms")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
    // N_docs is a 1-row aggregate: must broadcast, never shuffle the tf side
    // into a nested loop against it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // only (doc_id, text) is read from documents for tokenization
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q16: no Expand in any aggregate; quantile window sorts distinct prices") {
    val df = SparkEntry.queries("q16_sketches")(spark, sf)
    val p = plan(df)
    // the exact distinct count must stay a SEPARATE two-level aggregation:
    // folding it into the sketch aggregate makes the distinct-agg rewrite
    // Expand every row 2x and drag the wide sketch partial buffers through
    // the (flag, partkey) shuffle — measured 3x the CPU of the extra scan
    // (r08). Three cheap scans beat one fat shuffle.
    assert(!p.contains("Expand"),
      s"mixed distinct+sketch aggregate reintroduced the Expand shuffle:\n$p")
    // the quantile windows sort AFTER the (flag, price) pre-aggregation:
    // distinct prices per group, never raw rows (the 100 TB guard)
    assert(p.contains("partial_count"), s"histogram must pre-aggregate:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggregate pairs per branch:\n$p")
    assert(p.contains("partial_approx_count_distinct"),
      s"sketch aggregate must combine map-side:\n$p")
  }

  test("blocked matching: roster key table materializes once; hot list broadcasts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val users = Seq("john.zeta", "mary_quin").toDF("username")
    val roster = (1 to 30).map(i => (i.toString, "john", f"zeta$i%02d", f"john zeta$i%02d"))
      .toDF("emp_id", "first_name", "last_name", "employee_name")
    val df = graft.pipeline.MatchBlocking.candidatePairs(users, roster,
      maxEmployeesPerKey = 10)
    val p = plan(df)
    // the roster-side key explode is localCheckpoint'd (plans as an RDD
    // scan), so its phonetic kernels run once for the census/cold/hot
    // consumers instead of three times
    assert(p.contains("Scan ExistingRDD"),
      s"roster key table must be checkpointed, not recomputed per consumer:\n$p")
    // the over-cap key census reaches the probe side via broadcast — the
    // username side must never shuffle on the census
    assert(p.contains("BroadcastExchange"), s"hot-key list must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"candidate joins must stay broadcast/hash, never sort-merge:\n$p")
  }

  test("funnel: step chain is joinless — stacked windows on one user exchange") {
    val p = plan(SparkEntry.queries("ev_funnel")(spark, sf))
    // the k-step chain must NOT plan as a k-way self-join (the shape that
    // shuffles the event table k times); one user-hash exchange feeds the
    // stacked window mins, one single-partition exchange feeds the k-row
    // summary
    assert(!p.contains("Join"), s"funnel must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    assert(p.split("Exchange").length - 1 === 2,
      s"expected user-hash + summary exchanges only:\n$p")
    // ts reads as timestamp or timestamp_ntz depending on the generator's
    // parquet encoding (see sources.Tables) — pin the column SET either way
    assert(p.contains("ReadSchema: struct<ts:timestamp") &&
      p.contains("user_id:bigint,event_type:string>"), p)
  }

  test("funnel: exchange count is O(1) in the number of steps") {
    import org.apache.spark.sql.functions.col
    // the k-way self-join shape pays k shuffles of the event table; the
    // stacked-window shape must stay at 2 exchanges for ANY k
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"))
    val k5 = graft.operators.EventAnalytics.funnel(events,
      Seq("signup", "view", "click", "purchase", "error"))
    val p = plan(k5)
    assert(!p.contains("Join"), s"5-step funnel must stay joinless:\n$p")
    assert(p.split("Exchange").length - 1 === 2,
      s"5-step funnel grew exchanges beyond the k=3 shape:\n$p")
  }

  test("abtest: joinless two-step chain, one user exchange, pruned scan") {
    val p = plan(SparkEntry.queries("ev_abtest")(spark, sf))
    assert(!p.contains("Join"), s"abtest must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    assert(p.split("Exchange").length - 1 === 2,
      s"expected user-hash + summary exchanges only:\n$p")
  }

  test("retention: joinless, ONE event scan, cohort sizes via cell window") {
    val p = plan(SparkEntry.queries("ev_retention")(spark, sf))
    // a cohort-size self-join would RE-SCAN the event table for its second
    // consumer (Spark does not reuse the subtree across join inputs); the
    // window over the tiny cell frame keeps the fact table at one scan
    assert(!p.contains("Join"), s"retention must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    assert(p.contains("ReadSchema: struct<ts:timestamp") &&
      p.contains("user_id:bigint>"), p)
  }

  test("gap-fill: joinless, ONE pushed-filter scan, gap runs via lead explode") {
    val p = plan(SparkEntry.queries("ev_gapfill")(spark, sf))
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(event_type,purchase)"),
      s"event-type filter must reach the parquet scan:\n$p")
    assert(p.contains("Generate explode"),
      s"gap runs must be per-row sequence() explode:\n$p")
    // the spine-vs-daily join shape re-scans the event table; the lead()
    // run-explode keeps one scan and gives forward fill for free
    assert(!p.contains("Join"), s"gap-fill must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    assert(p.contains("ReadSchema: struct<ts:timestamp") &&
      p.contains("user_id:bigint,event_type:string,value:double>"), p)
  }

  test("rolling anomaly: joinless, ONE pushed-filter scan, ONE user exchange") {
    val p = plan(SparkEntry.queries("ev_anomaly")(spark, sf))
    assert(!p.contains("Join"), s"anomaly must be joinless:\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"event-type filter must reach the parquet scan:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    // all three trailing stats share the single user-hash exchange + sort
    assert(p.split("Exchange").length - 1 === 1,
      s"expected ONE user-hash exchange:\n$p")
    assert(p.split("\\bSort\\b").length - 1 === 1,
      s"the three window stats must share one sort:\n$p")
  }

  test("snapshot diff: hash/len projected BELOW the join — payloads never shuffle") {
    val p = plan(SparkEntry.queries("dd_snapshot_diff")(spark, sf))
    // the md5 projection must run on the scan side of each exchange; if
    // `text` appears in any Exchange input schema the fat payload is being
    // shuffled and the operator is wrong at 100 TB
    val exchangeInputs = preparedPlan(SparkEntry.queries("dd_snapshot_diff")(spark, sf))
      .collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.output.map(_.name)
      }
    // the detector must actually see the join's exchanges (vacuity guard)
    assert(exchangeInputs.nonEmpty, p)
    exchangeInputs.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text crosses an exchange: $cols\n$p")
    }
    assert(p.contains("FullOuter"), s"must be a full-outer id join:\n$p")
  }

  test("quality-aware corpus dedup: quality computed scan-side, text never shuffles") {
    // the representative-selection window partitions by cluster over
    // narrow (id, cluster, quality) rows; the quality score must be
    // computed BELOW every exchange — if `text` appears in any Exchange
    // input schema the payload is crossing the wire and the selection is
    // wrong at 100 TB. (The clustering core's own checkpointed exchanges
    // are narrow (id, label) by construction — pinned via dd_corpus_dedup.)
    val df = SparkEntry.queries("dd_corpus_dedup_quality")(spark, sf)
    val p = plan(df)
    val exchangeInputs = preparedPlan(
      SparkEntry.queries("dd_corpus_dedup_quality")(spark, sf))
      .collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.output.map(_.name)
      }
    assert(exchangeInputs.nonEmpty, p)
    exchangeInputs.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text crosses an exchange: $cols\n$p")
    }
  }

  test("dsir: text never crosses an exchange, LLR and threshold joins broadcast") {
    // checkpoint=false exposes the full pipeline as ONE plan: every
    // shuffle must carry (id, bucket) / census rows, never the document
    // text; the 4096-row LLR table and the one-row threshold must both
    // arrive via broadcast, not hash shuffles
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val prepared = preparedPlan(
      graft.operators.Dsir.importanceWeights(docs, "text", "doc_id",
        isTarget = col("lang") === "en", buckets = 4096, topK = 100,
        checkpoint = false))
    val exchanges = prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name)
    }
    exchanges.foreach { cols =>
      assert(!cols.contains("text"), s"document text crosses an exchange: $cols")
    }
    val p = prepared.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"LLR/threshold joins must broadcast:\n$p")
  }

  test("bloom decontamination: scan-side prefilter, shuffle-keyed confirm, no text in exchanges") {
    val p = plan(SparkEntry.queries("tx_contamination_bloom")(spark, sf))
    // the membership probe must run as a Filter (scan side), not inside
    // the join — survivors only reach the exchange
    assert(p.contains("bloom_might_contain"),
      s"bloom prefilter missing from the plan:\n$p")
    // the confirm join is the deliberate shuffle-keyed form (this
    // operator exists for eval sets past the broadcast threshold)
    assert(p.contains("ShuffledHashJoin"), s"confirm join must shuffle-hash:\n$p")
    val prepared = preparedPlan(SparkEntry.queries("tx_contamination_bloom")(spark, sf))
    prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"document text crosses an exchange: $cols")
    }
  }

  test("domain KL: fixed-domain censuses, broadcast joins, no text in exchanges") {
    val p = plan(SparkEntry.queries("tx_domain_kl")(spark, sf))
    // the bucket census and totals must arrive via broadcast, never a
    // hash shuffle of the domain frame
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"census joins must broadcast:\n$p")
    val prepared = preparedPlan(SparkEntry.queries("tx_domain_kl")(spark, sf))
    prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"document text crosses an exchange: $cols")
    }
  }

  test("scd2: ONE key exchange shared by both windows, type filter pushed") {
    val prepared = preparedPlan(SparkEntry.queries("ev_scd2")(spark, sf))
    val scans = prepared.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.map(_.metadata("PushedFilters")).exists(_.contains("event_type")),
      "the event-type filter must reach the parquet scan")
    val exchanges = prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length === 1,
      s"scd2 is ONE key exchange; change detect, versioning and intervals share it:\n$prepared")
    val windows = prepared.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.length === 2, "lag-detect and lead/version windows both present")
  }

  test("temperature mix: corpus scanned exactly once, totals via k-row window") {
    val prepared = preparedPlan(SparkEntry.queries("tx_temperature_mix")(spark, sf))
    val scans = prepared.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length === 1,
      s"the agg + totals must share ONE documents scan (no recompute branch):\n$prepared")
    assert(scans.head.schema.fieldNames.toSet === Set("text", "source"),
      "scan pruned to the two needed columns")
  }

  test("soft dedup: no exchange carries document text") {
    val prepared = preparedPlan(SparkEntry.queries("dd_soft_dedup")(spark, sf))
    prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"document text crosses an exchange: $cols")
    }
  }

  test("attribution: joinless, ONE scan, windows share one user exchange") {
    val p = plan(SparkEntry.queries("ev_attribution")(spark, sf))
    assert(!p.contains("Join"), s"attribution must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    // both last-touch windows (type + ts) share one user-hash exchange and
    // one sort; the channel aggregate adds the only other exchange, and the
    // count-distinct rewrite keeps its (channel, user) phase map-side
    assert(p.split("Exchange").length - 1 === 2,
      s"expected user-hash + channel exchanges only:\n$p")
    assert(p.split("\\bSort\\b").length - 1 === 1,
      s"the two last-touch windows must share one sort:\n$p")
    assert(p.contains("partial_count(distinct"),
      s"distinct-user count must combine map-side:\n$p")
  }

  test("user paths: joinless, ONE scan, lead windows on one user exchange") {
    val p = plan(SparkEntry.queries("ev_user_paths")(spark, sf))
    assert(!p.contains("Join"), s"transitions must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    assert(p.split("Exchange").length - 1 === 2,
      s"expected user-hash + pair-key exchanges only:\n$p")
    assert(p.contains("partial_count(distinct"),
      s"distinct-user count must combine map-side:\n$p")
  }

  test("growth accounting: joinless, ONE event scan, calendar clip post-aggregate") {
    val p = plan(SparkEntry.queries("ev_growth")(spark, sf))
    // the max-active-week clip must NOT come from a second event scan or a
    // broadcast join — it is a global window over the k-row weekly frame
    assert(!p.contains("Join"), s"growth accounting must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1,
      s"expected exactly ONE event scan (no max-week re-scan):\n$p")
    assert(p.contains("partial_sum"),
      s"weekly counts must combine map-side:\n$p")
  }

  test("char diversity: shuffle-free single-stage projection, pruned scan") {
    val p = plan(SparkEntry.queries("tx_char_diversity")(spark, sf))
    assert(!p.contains("Exchange"), s"char diversity must not shuffle:\n$p")
    assert(!p.contains("Generate"),
      s"the histogram must fold in-row, never explode per character:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }

  test("q21 exists-chain: ONE lineitem scan computes both quantified flags") {
    val p = plan(SparkEntry.queries("q21_exists_chain")(spark, sf))
    // the semi+anti composition must fuse into one per-order flags
    // aggregate — the literal EXISTS/NOT-EXISTS plan scans lineitem twice
    assert("FileScan parquet \\[l_".r.findAllIn(p).size === 1,
      s"lineitem must be scanned exactly once:\n$p")
    assert(p.contains("partial_max(CASE WHEN"),
      s"the flags aggregate must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"only equi-joins allowed:\n$p")
  }

  test("cohort LTV: joinless, ONE event scan, cell windows share the cohort exchange") {
    val p = plan(SparkEntry.queries("ev_ltv")(spark, sf))
    assert(!p.contains("Join"), s"LTV must be joinless:\n$p")
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    // user window + cell aggregate + ONE cohort exchange shared by the
    // size and cumulative windows
    assert(p.split("Exchange").length - 1 === 3,
      s"expected user, cell-agg and cohort exchanges only:\n$p")
  }

  test("q22 scalar-subquery: 1-row avg broadcasts, anti-join filter pushed, pruned scans") {
    val p = plan(SparkEntry.queries("q22_dormant_custs")(spark, sf))
    // the global average reaches the probe side as a 1-row broadcast
    // plane constant, never a shuffled join
    assert(p.contains("IdentityBroadcastMode"),
      s"avg must broadcast as a 1-row frame:\n$p")
    assert(p.contains("LeftAnti"), s"urgent-order exclusion must be anti:\n$p")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"priority filter must reach the orders scan:\n$p")
    // the avg subtree prunes to the single column it needs
    assert(p.contains("ReadSchema: struct<c_acctbal:double>"),
      s"avg-side customer scan must read only c_acctbal:\n$p")
  }

  test("q23 cube: one scan, Expand feeds map-side partial aggregation") {
    val p = plan(SparkEntry.queries("q23_cube")(spark, sf))
    assert(p.split("FileScan").length - 1 === 1, s"expected exactly 1 scan:\n$p")
    // all four grouping sets come from one Expand whose output is combined
    // map-side before the only exchange
    assert(p.contains("Expand"), s"cube must plan via Expand:\n$p")
    assert(p.contains("partial_count"),
      s"grouping sets must combine map-side:\n$p")
    assert(p.split("Exchange").length - 1 === 1,
      s"expected ONE exchange after the partial aggregate:\n$p")
  }

  test("curate e2e: exactly TWO corpus scans (census + fused score projection), none downstream") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    // the corpus lives at a UNIQUELY-NAMED copy: the listener bus is async
    // and the session is shared, so a straggler execution from another
    // suite reading the fixture would otherwise land in this counter
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_curate_corpus").toString
    val tag = new java.io.File(corpusDir).getName
    spark.read.parquet(s"$sf/documents.parquet").write
      .mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    // eval side pinned in memory BEFORE the listener registers. Its
    // checkpoint job's event can still reach the async listener bus after
    // registration, so only executions created after this watermark count:
    // every corpus-file relation counted below is a genuine corpus pass
    val evalDf = docs.filter(pmod(col("doc_id"), lit(97)) === 0).localCheckpoint()
    val watermark = spark.range(0).queryExecution.id
    @volatile var corpusScans = 0
    val listener = new QueryExecutionListener {
      private def count(qe: QueryExecution): Int =
        if (qe.id <= watermark) 0 else qe.analyzed.collect {
          case l: LogicalRelation => l.relation match {
            case fs: HadoopFsRelation
              if fs.location.rootPaths.exists(_.toString.contains(tag)) => 1
            case _ => 0
          }
        }.sum
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        corpusScans += count(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        corpusScans += count(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = graft.operators.Curation.curateBatch(corpus, evalDf,
        "text", "doc_id", stratum = col("lang"),
        isTarget = col("lang") === "en",
        thresholdFp = -10L << 30, shardTokens = 500L)
      assert(out.count() > 0)
      // every stage after the fused projection runs off localCheckpoints:
      // the OUTPUT plan must not contain a single file relation
      val tail = out.queryExecution.analyzed.collect {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => l
      }
      assert(tail.isEmpty,
        s"post-checkpoint pipeline still reads files: ${tail.mkString(", ")}")
      // listener events are delivered async — poll until the count is
      // stable, then pin the whole-pipeline scan budget
      var last = -1
      var spins = 0
      while (corpusScans != last && spins < 40) {
        last = corpusScans; spins += 1; Thread.sleep(250)
      }
      assert(corpusScans === 2,
        s"curation pipeline read the corpus $corpusScans times, budget is 2 " +
          "(DSIR census + the fused score/sketch/signature projection)")
    } finally {
      spark.listenerManager.unregister(listener)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(corpusDir))
    }
  }

  test("k-anonymity enforcement: every publish/continue split broadcasts, rows never hash-shuffle") {
    import org.apache.spark.sql.functions.{col, date_format, lit}
    // checkpoint=false exposes the WHOLE ladder as one inspectable plan
    val ev = graft.sources.Tables.events(spark, sf)
    val p = preparedPlan(graft.operators.DataQuality.kAnonymityEnforce(ev,
      "event_id" -> col("event_id"), "user_id" -> col("user_id"), k = 5,
      ladder = Seq(
        Seq("event_type" -> col("event_type"),
          "day" -> date_format(col("ts"), "yyyy-MM-dd")),
        Seq("event_type" -> col("event_type"),
          "day" -> date_format(col("ts"), "yyyy-MM")),
        Seq("event_type" -> col("event_type"), "day" -> lit("*"))),
      checkpoint = false)).toString
    // the census sides are bounded by the quasi domain and must broadcast
    // back into every publish join and residual anti join — a sort-merge
    // or shuffled-hash join here would hash-shuffle the ROW payloads per
    // ladder level, the shape that dies at 100 TB event volume
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"ladder joins must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast publish joins:\n$p")
    // exact distinct-subject counting plans as the two-phase partial
    // aggregate chain (a lone count_distinct needs no Expand — that form
    // appears only for mixed distinct/plain aggregates, as in the audit);
    // the only exchanges carry narrow (quasi..., subject) census rows
    assert(p.contains("HashAggregate"),
      s"census must plan as hash aggregates:\n$p")
  }

  test("epoch stream: repeat explosion runs on the narrow frame — text joins in ONCE, post-explode") {
    val q = SparkEntry.queries("tx_epoch_stream")(spark, sf)
    val gens = q.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.size === 1, s"expected exactly one explode, got ${gens.size}")
    // the explode's input must be the narrow assignment frame: if `text`
    // were below the Generate, every document's bytes would multiply by
    // its repeat count BEFORE the id join — the exchange that dies first
    // at 100 TB
    assert(!gens.head.child.output.map(_.name).contains("text"),
      s"text flowed into the repeat explosion:\n${gens.head.child.output.mkString(", ")}")
  }

  test("no-split packing: ONE exchange (the group repartition), no window, no sort beyond the fold's") {
    val p = preparedPlan(SparkEntry.queries("tx_pack_nosplit")(spark, sf)).toString
    // the whole operator is: narrow projection -> repartition by group ->
    // sortWithinPartitions -> streaming fold. A second exchange or a
    // Window node would mean the O(1)-state fold regressed to a shuffle-
    // or window-based plan
    assert(p.split("Exchange").length - 1 === 1,
      s"expected exactly ONE exchange (the pack-group repartition):\n$p")
    assert(!p.contains("Window"), s"no window may appear in the NFD fold:\n$p")
    assert(p.contains("MapPartitions") || p.contains("mapPartitions") ||
      p.contains("SerializeFromObject"),
      s"expected the typed streaming fold:\n$p")
  }

  test("pmi collocations: totals broadcast, vocab equi-joins, TakeOrdered top-k") {
    val p = plan(SparkEntry.queries("tx_pmi_collocations")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrdered, not a full sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row totals frame must broadcast:\n$p")
    // pair->unigram joins are key equi-joins (hash or sort-merge), and the
    // only nested-loop join permitted is the broadcast 1-row totals frame
    val nlCount = p.split("BroadcastNestedLoopJoin").length - 1
    assert(nlCount <= 2, s"unexpected nested-loop joins:\n$p")
    assert(p.contains("partial_count"),
      s"token census must combine map-side:\n$p")
  }
}
