package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, SimilaritySearch, TextAnalysis, TopK}

/** Dedup / similarity-search / top-k operator semantics (SURVEY.md §7.5). */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val docText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"

  private lazy val docs = Seq(
    (1L, docText),
    (2L, docText),                                        // exact dup of 1
    (3L, docText.replace("theta", "sigma")),              // near dup of 1
    (4L, "completely different text about spark engines and shuffles and joins"),
    (5L, "yet another unrelated document mentioning parquet files and codegen")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val agg = Dedup.exact(docs, "text", "doc_id").collect()
    assert(agg.length === 4) // 5 docs, one exact pair
    val dupRow = agg.find(_.getLong(2) == 2L).get
    assert(dupRow.getLong(1) === 1L) // keep_id = min(doc_id)
    val kept = Dedup.exactKeepRows(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 5L))
  }

  test("minhash LSH surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
      shingleW = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing from $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near dup pair missing from $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) && Set(a, b).intersect(Set(1L, 2L, 3L)).nonEmpty },
      s"unrelated doc paired: $pairs")
  }

  test("prefix-filter ngram Jaccard: EXACTLY the brute-force all-pairs result") {
    // a corpus with exact dups, near dups at several edit distances, and
    // unrelated docs — wide enough that prefixes genuinely prune (no doc
    // pair shares every shingle) but every >=0.5 pair must still surface
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    val corpus = (0 until 24).map { i =>
      val base = words.drop(i % 4).take(8).mkString(" ")
      val text =
        if (i < 8) base                                     // 4 exact-dup groups
        else if (i < 16) base.replace(words(i % 4 + 2), s"w$i") // near dups
        else s"totally unrelated document number $i with its own private words ${i * 7} ${i * 13}"
      (i.toLong, text)
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "text", "doc_id",
        shingleW = 3, jaccardThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val expected = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      j = graft.functions.TextAlgos.ngramJaccard(ta, tb, 3) if j >= 0.5
    } yield (ia, ib, j)).toSet
    assert(expected.nonEmpty, "fixture must produce qualifying pairs")
    assert(got === expected,
      s"prefix filtering must lose nothing vs brute force:\n missing=${expected -- got}\n extra=${got -- expected}")
  }

  test("prefix-filter ngram Jaccard: empty/whitespace docs pair with nothing") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, ""), (3L, "   "),
      (4L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "text", "doc_id").as[(Long, Long, Double)]
      .collect().toSet
    assert(got === Set((1L, 4L, 1.0)), s"got $got")
  }

  test("rare-word stats: exact hapax fractions against the corpus vocabulary") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick red dog"),
      (3L, "zxqv wvut"),          // pure gibberish: every word is a hapax
      (4L, ""),                   // empty doc: 0 words, NULL fraction
      (5L, "the the the")         // one distinct word, shared with 1 & 2
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.rareWordStats(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    // df: the=3, quick=2, brown/fox/red/dog/zxqv/wvut=1
    assert(got === Set(
      (1L, 4L, 2L, Some(0.5)),
      (2L, 4L, 2L, Some(0.5)),
      (3L, 2L, 2L, Some(1.0)),
      (4L, 0L, 0L, None),
      (5L, 1L, 0L, Some(0.0))))
  }

  test("containment join: directed doc-in-doc pairs, exact fractions, no symmetric leak") {
    val df = Seq(
      (1L, "p q"),       // {p,q}
      (2L, "p q r s"),   // {p,q,r,s}
      (3L, "x y z p"),   // {x,y,z,p}
      (4L, "q")          // {q}
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .containmentPairs(df, "text", "doc_id", shingleW = 1, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // containment(A->B) = |A inter B| / |A|; tau = 0.5
    assert(got === Set(
      (1L, 2L, 1.0), (1L, 3L, 0.5), (1L, 4L, 0.5),   // A into B/C/D
      (2L, 1L, 0.5),                                 // B half-contained in A
      (4L, 1L, 1.0), (4L, 2L, 1.0)))                 // D fully inside A and B
  }

  test("dup spans: islands merge on overlap AND exact adjacency, break past gap k") {
    val df = Seq(
      (1L, "a b c d e"),  // grams at 0..3 all duplicated -> ONE span, whole doc
      (2L, "x a b c y"),  // hits at 1,2 -> one 3-token span of 5
      (3L, "c d q d e"),  // hits at 0 and 3: gap 3 > k=2 -> TWO spans, 2+2 of 5
      (4L, "zz"),         // under-length (1 token < k): no grams, zero dup
      (5L, ""),           // empty: n_tokens 0, fraction 0.0 (not NaN)
      (6L, "p q"),        // exactly k tokens: one gram, duplicated via doc 8
      (8L, "p q p q")     // hits at 0,2: gap == k -> adjacent spans MERGE to 4
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupSpans(df, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got === Set(
      (1L, 5L, 5L, 1L, 1.0),
      (2L, 5L, 3L, 1L, 0.6),
      (3L, 5L, 4L, 2L, 0.8),
      (4L, 1L, 0L, 0L, 0.0),
      (5L, 0L, 0L, 0L, 0.0),
      (6L, 2L, 2L, 1L, 1.0),
      (8L, 4L, 4L, 1L, 1.0)))
  }

  test("span removal: min-id doc keeps its text verbatim, every other occurrence is cut") {
    val df = Seq(
      (1L, "THE QUICK brown fox jumps"),                    // canonical (min id)
      (2L, "intro words the quick brown fox jumps outro"),  // quotes doc 1
      (3L, "unique content here only"),                     // untouched
      (4L, "the quick brown fox jumps"),                    // verbatim dup of doc 1
      (5L, ""),                                             // empty
      (6L, "xy")                                            // under-length: no grams
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.removeDupSpans(df, "text", "doc_id", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got === Set(
      // canonical occurrence survives with ORIGINAL case — positions index
      // the lowercased gram tokens but surgery runs on the raw tokens
      (1L, 5L, 0L, "THE QUICK brown fox jumps"),
      // doc 2's removable positions 2,3,4 merge into one island covering
      // tokens [2, 6] — the 5-token verbatim quote goes, the frame stays
      (2L, 8L, 5L, "intro words outro"),
      (3L, 4L, 0L, "unique content here only"),
      (4L, 5L, 5L, ""),
      (5L, 0L, 0L, ""),
      (6L, 1L, 0L, "xy")))
    // surviving-token arithmetic: cleaned token count == n_tokens - removed
    got.foreach { case (_, n, rm, txt) =>
      val kept = txt.split("\\s+").count(_.nonEmpty)
      assert(kept === n - rm, s"token arithmetic broken: $n - $rm != $kept")
    }
  }

  test("contamination matrix: exact per-(doc, suite) counts from one gram explosion, suite isolation") {
    val train = Seq(
      (1L, "aa bb cc dd"), // "aa bb cc" hits s1; "bb cc dd" hits s2
      (2L, "xx yy zz"),    // clean everywhere
      (3L, "aa bb cc")     // hits s1 only
    ).toDF("doc_id", "text")
    val s1 = Seq((100L, "aa bb cc qq")).toDF("doc_id", "text")
    val s2 = Seq((200L, "ww bb cc dd")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationMatrix(train,
        Seq("s1" -> s1, "s2" -> s2), "text", "doc_id", n = 3)
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "s1", 1L), (1L, "s2", 1L), (3L, "s1", 1L)),
      s"got $got")
    // duplicate suite names are a caller error, not silent double counting
    intercept[IllegalArgumentException] {
      TextAnalysis.contaminationMatrix(train, Seq("s" -> s1, "s" -> s2),
        "text", "doc_id")
    }
    // single-suite matrix degenerates to contamination exactly
    val single = TextAnalysis.contaminationMatrix(train, Seq("s1" -> s1),
        "text", "doc_id", n = 3)
      .select("doc_id", "n_shared_grams").as[(Long, Long)].collect().toSet
    val ref = TextAnalysis.contamination(train, s1, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toSet
    assert(single === ref)
  }

  test("span decontamination: eval grams cut from every occurrence, clean docs verbatim, islands merge") {
    val evalDocs = Seq((100L, "SECRET leak phrase plus more words")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta secret LEAK phrase gamma delta epsilon"), // one hit at pos 2
      (2L, "one two three four"),                                // clean
      (3L, "secret leak phrase"),                                // whole doc is the gram
      (4L, "secret leak phrase a b c d e SECRET leak phrase"),   // two islands, gap > k
      (5L, "xy")                                                 // shorter than k
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateSpans(train, evalDocs, "text", "doc_id", k = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 8L, 3L, "alpha beta gamma delta epsilon")),
      "single span [2,4] must cut exactly the gram tokens (case-insensitive match)")
    assert(got(2L) === ((2L, 4L, 0L, "one two three four")), "clean doc passes verbatim")
    assert(got(3L) === ((3L, 3L, 3L, "")), "a fully-contaminated doc empties")
    assert(got(4L) === ((4L, 11L, 6L, "a b c d e")),
      "two islands separated by gap > k cut independently")
    assert(got(5L) === ((5L, 1L, 0L, "xy")), "sub-k docs carry no grams")
    // no canonical keeper: the same contaminated text in two train docs is
    // cut from BOTH (removeDupSpans would have kept the min-id occurrence)
    val twin = Seq(
      (1L, "secret leak phrase tail one"),
      (2L, "secret leak phrase tail two")).toDF("doc_id", "text")
    val both = Dedup.decontaminateSpans(twin, evalDocs, "text", "doc_id", k = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r._4).toMap
    assert(both(1L) === "tail one" && both(2L) === "tail two")
  }

  test("lsh eval: identical pair caught, empty docs excluded from both sides") {
    val df = Seq(
      // identical pair: J = 1 -> in truth; identical minhash sigs -> the
      // banding MUST catch it (collides in every band)
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      // disjoint shingles vs everything: in no truth pair; a band collision
      // would need 4 consecutive equal minhashes of disjoint sets
      (3L, "completely different words in this other document entirely now"),
      // empty/whitespace docs: excluded up front — without the shared
      // universe filter their identical empty signatures would band-collide
      // and verify at the J(empty,empty)=1 convention, poisoning precision
      (4L, ""), (5L, "   ")
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.lshEval(df, "text", "doc_id").collect()
    assert(r.length === 1)
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ===
      ((1L, 1L, 1L, 1L)))
    assert(row.getDouble(4) === 1.0) // verify_precision
    assert(row.getDouble(5) === 1.0) // recall
  }

  test("robust outliers: exact odd/even medians, MAD flag, per-group isolation") {
    val df = Seq(
      // group A, odd count: lengths 1,2,3,4,100 -> med 3, dev {2,1,0,1,97},
      // mad 1 -> only the 100 exceeds 3 MADs
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), (4L, "a", 4L), (5L, "a", 100L),
      // group B, even count: 10,20,30,40 -> med 25.0, dev {15,5,5,15},
      // mad (5+15)/2 = 10 -> nothing beyond 30
      (6L, "b", 10L), (7L, "b", 20L), (8L, "b", 30L), (9L, "b", 40L)
    ).toDF("doc_id", "source", "n_tokens")
    val got = graft.operators.DataQuality
      .robustOutliers(df, "n_tokens", "source", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSet
    assert(got === Set(
      (1L, "a", 1L, 3.0, 1.0, false), (2L, "a", 2L, 3.0, 1.0, false),
      (3L, "a", 3L, 3.0, 1.0, false), (4L, "a", 4L, 3.0, 1.0, false),
      (5L, "a", 100L, 3.0, 1.0, true),
      (6L, "b", 10L, 25.0, 10.0, false), (7L, "b", 20L, 25.0, 10.0, false),
      (8L, "b", 30L, 25.0, 10.0, false), (9L, "b", 40L, 25.0, 10.0, false)))
  }

  test("bm25: rational-idf scores bit-exact, only matching docs scored, rank order") {
    val df = Seq(
      (1L, "Apple banana apple"),            // dl 3; apple tf 2, banana tf 1
      (2L, "apple cherry"),                  // dl 2; apple tf 1
      (3L, "banana banana banana banana"),   // dl 4; banana tf 4
      (4L, "durian")                         // no query term: never scored
    ).toDF("doc_id", "text")
    val got = graft.operators.Bm25
      .search(df, "text", "doc_id", Seq("apple", "banana"), topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // mirror of the operator's arithmetic, same association order
    val avgdl = 10.0 / 4.0
    val idf = ((4L - 2L).toDouble + 0.5) / (2L.toDouble + 0.5) // both terms: df 2
    def s(tf: Long, dl: Long): Double =
      idf * ((tf.toDouble * (1.2 + 1.0)) / (tf.toDouble + 1.2 *
        ((1.0 - 0.75) + 0.75 * (dl.toDouble / avgdl))))
    assert(got === Seq(
      (1L, 1L, s(2, 3) + s(1, 3)),
      (3L, 2L, 0.0 + s(4, 4)),
      (2L, 3L, s(1, 2) + 0.0)))
  }

  test("bigram LM score: exact nano-probabilities on a hand-counted corpus") {
    val df = Seq(
      (1L, "a b c"),
      (2L, "a b d"),
      (3L, "x"),     // one token: no bigram positions
      (4L, ""),      // empty: no tokens at all
      (5L, "a b c d")
    ).toDF("doc_id", "text")
    // c1: a=3 b=3 c=2 d=2 x=1, V=5; c2: ab=3 bc=2 bd=1 cd=1
    // nano(prev, bigram) = (c2+1)*1e9 div (c1(prev)+5):
    //   ab -> 4e9 div 8 = 500000000; bc -> 3e9 div 8 = 375000000
    //   bd -> 2e9 div 8 = 250000000; cd -> 2e9 div 7 = 285714285
    val got = graft.operators.TextAnalysis.bigramLmScore(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSet
    assert(got === Set(
      (1L, 2L, Some(437500000L), Some(375000000L), Some(0.4375)),
      (2L, 2L, Some(375000000L), Some(250000000L), Some(0.375)),
      (3L, 0L, None, None, None),
      (4L, 0L, None, None, None),
      (5L, 3L, Some(386904761L), Some(285714285L), Some(0.386904761))))
  }

  test("ngram jaccard cap: over-cap prefix buckets drop whole and surface the metric") {
    import java.util.concurrent.ConcurrentHashMap
    val seen = new ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) => seen.put(name, row) }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 5 identical docs (4 distinct shingles, every df = 5) with cap 3:
      // each doc's 3-shingle prefix lands in buckets of 5 members — all over
      // the cap, all dropped whole. This is the documented pathological
      // trade (a corpus that is copies of one document): ZERO pairs out,
      // and the hole is visible through the deterministic metric name.
      val dup = (1L to 5L).map((_, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text")
      val out = Dedup.ngramJaccardPairs(dup, "text", "doc_id", maxBucketSize = 3)
      assert(out.count() === 0L)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.containsKey("dedup_candidates_ngram") && System.nanoTime() < deadline)
        Thread.sleep(50)
      val row = seen.get("dedup_candidates_ngram")
      assert(row != null, s"metric not delivered; saw: ${seen.keySet()}")
      assert(row.getAs[Long]("dropped_hot_buckets") === 3L, row.toString)
      assert(row.getAs[Long]("dropped_hot_bucket_rows") === 15L, row.toString)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.listenerManager.unregister(listener)
    }
  }

  test("simhash near-dup finds exact duplicates at hamming 0") {
    val pairs = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 },
      s"exact dup not at hamming 0: ${pairs.mkString(",")}")
  }

  test("embedding near-dup pairs identical vectors at cosine 1") {
    val v1 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v2 = Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat)
    val emb = Seq((1L, v1), (2L, v1), (3L, v2)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(emb, "embedding", "vec_id", threshold = 0.95)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c > 0.9999 },
      s"identical vectors not paired: ${pairs.mkString(",")}")
    assert(!pairs.exists { case (a, b, _) => Set(a, b).contains(3L) })
  }

  test("candidate pairs: exact upper triangle from an unsorted bucket") {
    val keyed = Seq((0, 3L), (0, 1L), (0, 2L), (1, 9L)).toDF("k", "id")
    val got = Dedup.candidatesFromKeyed(keyed, Seq("k"), maxBucketSize = 500)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("hot-bucket salvage: true pairs sharing the sub-key survive the cap") {
    // bucket 0 is HOT (10 members > cap 5). Ids 1 and 2 are the "true pair"
    // — they share the secondary signature, as near-dups do with high
    // probability — while the coincidental members that made the bucket hot
    // carry distinct sub-keys. Pre-salvage semantics dropped the whole
    // bucket (losing the pair); now the pair survives inside its capped
    // sub-group, and no cross-sub-group pair is fabricated.
    val keyed = (Seq((0, 1L, 100L), (0, 2L, 100L)) ++
      (3L to 10L).map(i => (0, i, 200L + i))).toDF("k", "id", "sub_key")
    val got = Dedup.candidatesFromKeyed(keyed, Seq("k"), maxBucketSize = 5,
      subKeyCol = Some("sub_key")).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
    // control: without the sub-key the hot bucket still drops whole
    assert(Dedup.candidatesFromKeyed(keyed, Seq("k"), maxBucketSize = 5)
      .count() === 0L)
  }

  test("hot-bucket salvage: a sub-group still over the cap is dropped") {
    // the pathological hot bucket: every member shares the secondary
    // signature too (one text duplicated cap+ times) — sub-splitting cannot
    // help, so the group drops exactly as before
    val keyed = (1L to 10L).map(i => (0, i, 7L)).toDF("k", "id", "sub_key")
    assert(Dedup.candidatesFromKeyed(keyed, Seq("k"), maxBucketSize = 5,
      subKeyCol = Some("sub_key")).count() === 0L)
    // and a cold bucket is untouched by the sub-key column
    val cold = Seq((0, 1L, 5L), (0, 2L, 6L)).toDF("k", "id", "sub_key")
    assert(Dedup.candidatesFromKeyed(cold, Seq("k"), maxBucketSize = 5,
      subKeyCol = Some("sub_key")).as[(Long, Long)].collect().toSet
      === Set((1L, 2L)))
  }

  test("candidate generation stays bounded on a 5000-member hot bucket") {
    // The old pair generator built s² structs inside ONE array value; at
    // s=5000 that is 25M structs in a single row. The explode-first upper-
    // triangle form keeps per-row memory O(s) and must complete comfortably.
    val keyed = spark.range(5000).select(lit(0).as("k"), col("id"))
    val n = Dedup.candidatesFromKeyed(keyed, Seq("k"), maxBucketSize = 5000).count()
    assert(n === 5000L * 4999L / 2L)
    // at the default cap the hot bucket is dropped (all-dups belong to the exact pass)
    assert(Dedup.candidatesFromKeyed(keyed, Seq("k"), maxBucketSize = 500).count() === 0L)
  }

  test("dedup clustering: connected components get the min reachable id") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // components: {1,2,3} via chain 1-2, 2-3; {4,5}; singletons 6, 7
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("ngram kernel == the HOF Column form it replaced (fixture + edges)") {
    import graft.operators.TextAnalysis
    val edges = Seq(
      (9001L, ""), (9002L, "   "), (9003L, "one"), (9004L, "one two"),
      (9005L, "one two three"), (9006L, "  a\tb c  d  "),
      (9007L, "Mixed CASE Tokens here"), (9008L, "x " * 50)
    ).toDF("doc_id", "text")
    val corpus = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
      .select("doc_id", "text").unionByName(edges)
    for (n <- Seq(2, 3)) {
      val both = corpus.select(col("doc_id"),
        TextAnalysis.gramArray(col("text"), n).as("k"),
        TextAnalysis.gramArrayHof(col("text"), n).as("h"))
      val diff = both.filter(not(col("k") <=> col("h"))).count()
      assert(diff === 0L, s"kernel diverged from the HOF reference at n=$n")
    }
    // null text: kernel is null (nullSafeEval), HOF was empty — both drop
    // under explode and coalesce-guarded counts (the two consumer shapes)
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(nulls.select(explode(TextAnalysis.gramArray(col("text"), 3))).count() === 0L)
  }

  test("curriculum shards: score-ordered fill, stratum isolation, straddle semantics") {
    import graft.operators.TextAnalysis
    // en: scores 1.0 (a,b) then 0.0 (c); tokens 6/5/4 with 8-token shards:
    // a at off 0 (shard 0), b at off 6 (shard 0, straddles), c at off 11 (shard 1)
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6", "en"),              // clean 6 tokens, score 1.0
      (2L, "v1 v2 v3 v4 v5", "en"),                 // clean 5 tokens, score 1.0
      (3L, "!! ?? ;; :: ,,", "en"),                 // pure punct -> score 0.0
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9", "fr")      // other stratum restarts at 0
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.curriculumShards(docs, "text", "doc_id",
        TextAnalysis.qualityScore(col("text")), col("lang"), shardTokens = 8L)
      .as[(Long, String, Double, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, "en", 1.0, 6L, 0L, 0L)))
    assert(got(2L) === ((2L, "en", 1.0, 5L, 0L, 6L)), "straddling doc stays in the shard its offset opens")
    assert(got(3L)._3 === 0.0 && got(3L)._5 === 1L, "low-score doc packs last, next shard")
    assert(got(4L)._5 === 0L && got(4L)._6 === 0L, "each stratum fills independently from offset 0")
  }

  test("shard slices fail fast when the texts frame does not cover the assignment") {
    val texts = Seq((1L, "a b c")).toDF("doc_id", "text")
    val assign = Seq(
      (1L, "s", 3L, 0L, 0L),
      (2L, "s", 2L, 0L, 3L) // no text row for doc 2 -> must raise, not vanish
    ).toDF("doc_id", "stratum", "n_tokens", "shard_id", "shard_offset")
    val ex = intercept[Exception] {
      TextAnalysis.shardSlicesFromAssignment(assign, texts, "text", "doc_id",
        shardTokens = 10L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("no text row for doc_id=2")),
      s"expected the coverage-gap error, got: ${messages(ex).mkString(" | ")}")
    // a covering frame slices cleanly through the same path
    val ok = TextAnalysis.shardSlicesFromAssignment(assign,
        texts.union(Seq((2L, "d e")).toDF("doc_id", "text")),
        "text", "doc_id", shardTokens = 10L)
      .orderBy("doc_id").as[(Long, String, Long, Long, Long, String)].collect()
    assert(ok.map(_._6).toSeq === Seq("a b c", "d e"))
  }

  test("curriculum shard writer: shard texts equal the single-window fold, exact sizes, one file per shard") {
    val df = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
    val S = 100L
    val shards = TextAnalysis.curriculumShardTexts(df, "text", "doc_id",
        TextAnalysis.qualityScore(col("text")), col("lang"), shardTokens = S)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    // single-window oracle fold, per stratum: sort by (score DESC, id),
    // lay tokens end to end, cut every S
    val rows = df.select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("score"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        Option(r.getString(3)).getOrElse("")))
    var checked = 0
    rows.groupBy(_._2).foreach { case (stratum, ds) =>
      val toks = ds.sortBy(d => (-d._3, d._1))
        .flatMap(_._4.trim.split("\\s+").filter(_.nonEmpty)).toSeq
      val folds = toks.grouped(S.toInt).toSeq
      val got = shards.keys.filter(_._1 == stratum).map(_._2).toSet
      assert(got === folds.indices.map(_.toLong).toSet,
        s"stratum $stratum shard ids diverged")
      folds.zipWithIndex.foreach { case (fold, i) =>
        val (txt, n) = shards((stratum, i.toLong))
        assert(n === fold.length.toLong, s"shard ($stratum,$i) token count")
        assert(txt === fold.mkString(" "),
          s"shard ($stratum,$i) content diverged from the single-window fold")
        // every shard exactly S tokens except the stratum's last
        if (i < folds.size - 1)
          assert(n === S, s"non-final shard ($stratum,$i) not full")
        checked += 1
      }
    }
    assert(checked > 3, "fixture must produce several shards (straddlers included)")

    // writer contract: one text file per (stratum, shard_id) dir, content
    // byte-equal to the assembled shard text
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      TextAnalysis.writeCurriculumShards(df, "text", "doc_id",
        TextAnalysis.qualityScore(col("text")), col("lang"), S, out)
      shards.foreach { case ((stratum, sid), (txt, _)) =>
        val dir = new java.io.File(s"$out/stratum=$stratum/shard_id=$sid")
        val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
        assert(parts.length === 1, s"expected ONE file per shard, got ${parts.length} in $dir")
        val content = new String(
          java.nio.file.Files.readAllBytes(parts.head.toPath), "UTF-8").stripLineEnd
        assert(content === txt, s"shard file ($stratum,$sid) content diverged")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(out))
    }
  }

  test("k-anonymity: exact distinct-subject cells, risk strictly below k") {
    val rows = Seq(
      // cell A: 5 distinct users over 6 rows -> safe at k=5
      (1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "A"), (5L, "A"),
      // cell B: 4 distinct users -> at risk
      (1L, "B"), (2L, "B"), (3L, "B"), (4L, "B")
    ).toDF("user_id", "cell")
    val got = graft.operators.DataQuality.kAnonymityAudit(rows,
        Seq("cell" -> col("cell")), col("user_id"), k = 5)
      .as[(String, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got("A") === (("A", 5L, 6L, false)), "k subjects exactly is safe")
    assert(got("B") === (("B", 4L, 4L, true)))
  }

  test("k-anonymity enforcement: ladder publishes at the first passing level; output re-audits clean") {
    import org.apache.spark.sql.functions.{lit => flit}
    // quasi = (city, band); ladder: exact -> city generalized to region -> '*'
    // k=2 on distinct subjects
    val rows = Seq(
      // (id, subject, city, region, band)
      (1L, 10L, "nyc", "east", "a"), (2L, 11L, "nyc", "east", "a"), // L0 cell passes
      (3L, 12L, "bos", "east", "b"), (4L, 13L, "pvd", "east", "b"), // L0 cells of 1 -> pass at L1 (east,b)
      (5L, 14L, "sfo", "west", "c"),                                // alone at every level w/ band c until '*'
      (6L, 14L, "lax", "west", "d")                                 // same SUBJECT as 5 -> ('*') cell has
                                                                    // only subjects {14} -> suppressed? see below
    ).toDF("id", "subj", "city", "region", "band")
    val got = graft.operators.DataQuality.kAnonymityEnforce(rows,
        "id" -> col("id"), "subj" -> col("subj"), k = 2,
        ladder = Seq(
          Seq("q1" -> col("city"), "q2" -> col("band")),
          Seq("q1" -> col("region"), "q2" -> col("band")),
          Seq("q1" -> flit("*"), "q2" -> col("band"))))
      .as[(Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 10L, 0L, "nyc", "a")))
    assert(got(2L) === ((2L, 11L, 0L, "nyc", "a")))
    assert(got(3L) === ((3L, 12L, 1L, "east", "b")), "1-subject L0 cells must coarsen, not suppress")
    assert(got(4L) === ((4L, 13L, 1L, "east", "b")))
    // rows 5 and 6 share ONE subject: no level's cell ever reaches 2
    // distinct subjects (distinct-subject counting, not row counting)
    assert(got(5L) === ((5L, 14L, 3L, "*", "*")))
    assert(got(6L) === ((6L, 14L, 3L, "*", "*")))

    // re-audit the sf0.001 events enforcement: every published cell >= k
    val ev = graft.sources.Tables.events(spark, SparkTestBase.Sf0001)
    val enforced = graft.operators.DataQuality.kAnonymityEnforce(ev,
      "event_id" -> col("event_id"), "user_id" -> col("user_id"), k = 5,
      ladder = Seq(
        Seq("event_type" -> col("event_type"),
          "day" -> date_format(col("ts"), "yyyy-MM-dd")),
        Seq("event_type" -> col("event_type"),
          "day" -> date_format(col("ts"), "yyyy-MM")),
        Seq("event_type" -> col("event_type"), "day" -> flit("*"))))
      .localCheckpoint()
    assert(enforced.count() === ev.count(), "enforcement must keep every row")
    val published = enforced.filter(col("gen_level") < 3)
    val reaudit = graft.operators.DataQuality.kAnonymityAudit(published,
      Seq("event_type" -> col("event_type"), "day" -> col("day")),
      col("user_id"), k = 5)
    assert(reaudit.filter(col("at_risk")).count() === 0L,
      "published output re-audits with zero under-k cells")
    assert(published.count() > 0L)
  }

  test("k-anonymity enforcement: over-threshold census falls back to a plain equi-join, same rows") {
    import org.apache.spark.sql.functions.{lit => flit}
    val ev = graft.sources.Tables.events(spark, SparkTestBase.Sf0001)
    val ladder = Seq(
      Seq("event_type" -> col("event_type"),
        "day" -> date_format(col("ts"), "yyyy-MM-dd")),
      Seq("event_type" -> col("event_type"),
        "day" -> date_format(col("ts"), "yyyy-MM")),
      Seq("event_type" -> col("event_type"), "day" -> flit("*")))
    def run(bound: Long) = graft.operators.DataQuality.kAnonymityEnforce(ev,
        "event_id" -> col("event_id"), "user_id" -> col("user_id"), k = 5,
        ladder = ladder, maxBroadcastCells = bound)
      .as[(Long, Long, Long, String, String)].collect().sortBy(_._1)
    // bound 0 forces EVERY level over the gate -> plain equi-joins; the
    // hinted path (default bound) must produce bit-identical output
    val gated = run(0L)
    assert(gated.toSeq === run(Long.MaxValue).toSeq,
      "fallback equi-join path must match the broadcast-hint path row for row")
    assert(gated.length === ev.count().toInt)
  }

  test("soft dedup: exact 1/|cluster| lattice weights, tail content kept") {
    val docs5 = Seq(
      (1L, 30L), (2L, 12L), (3L, 6L),   // cluster {1,2,3}
      (4L, 9L),                         // singleton
      (5L, 0L)                          // singleton, empty doc
    ).toDF("doc_id", "ntok")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.softDedupWeights(docs5, edges, "doc_id", col("ntok"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // every document survives — soft dedup never drops rows
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    val scale = 1L << 20
    // cluster {1,2,3}: weight floor(2^20/3); effective tokens floor(t*2^20/3)
    for (id <- Seq(1L, 2L, 3L)) {
      val (_, cluster, csize, w, _) = got(id)
      assert(cluster === 1L && csize === 3L && w === scale / 3)
    }
    assert(got(1L)._5 === 30L * scale / 3)
    assert(got(3L)._5 === 6L * scale / 3)
    // singletons keep full weight; the empty doc keeps zero effective mass
    assert(got(4L) === ((4L, 4L, 1L, scale, 9L * scale)))
    assert(got(5L) === ((5L, 5L, 1L, scale, 0L)))
    // conservation: a cluster's total weight never exceeds one doc-equivalent
    val clusterMass = got.values.filter(_._3 == 3L).map(_._4).sum
    assert(clusterMass <= scale && clusterMass > scale - 3)
  }

  test("dedup clustering converges on a long chain (diameter > 2)") {
    val n = 12
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs, "doc_id").as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(1L), s"chain must collapse to one cluster: $got")
  }

  test("dedup clustering: diameter-1000 chain converges under the default cap") {
    // pointer-doubling covers distance ~2^k after k rounds, so a path graph
    // of diameter 999 must converge in ~11 rounds — strict mode at the
    // default maxIters=20 throws if the O(log d) contract regresses to O(d)
    val n = 1000L
    val ids = spark.range(0, n).select(col("id").as("doc_id"))
    val chain = spark.range(0, n - 1).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val got = Dedup.clusters(ids, chain, "doc_id", failOnNonConvergence = true)
    assert(got.select("cluster").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
    assert(got.count() === n)
  }

  test("dedup clustering: checkpoint=false returns the same labels") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs, "doc_id", checkpoint = false)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("clusters leaves the session serializable (no ObservationManager materialization)") {
    // Spark 4.1.2: SparkSession.observationManager is a lazy, NON-transient
    // field of a non-serializable class, materialized by the first
    // org.apache.spark.sql.Observation registration. A clusters() that used
    // an Observation for its convergence probe poisoned the whole session:
    // every later closure capturing the session — e.g. an MLlib model whose
    // trainingSummary holds it, serialized by the model's own transform()
    // UDF — died with Task-not-serializable (the r21 QualityModelSpec/
    // MatchModelSpec order-dependent failure). The probe now rides a plain
    // string-named observe, which never touches the manager; this pins the
    // session staying java-serializable right after a checkpointed clusters
    // run, which is what the MLlib model-capture path requires.
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    val oos = new java.io.ObjectOutputStream(java.io.OutputStream.nullOutputStream())
    try oos.writeObject(spark) finally oos.close()
  }

  test("the measurement loop's row count leaves the session serializable") {
    // Measure.run reads its row count through a string-named observe and a
    // QueryExecutionListener, never an Observation (see the test above)
    val r = Measure.run(spark, reps = 1, rowsMetric = Some("measure_rows_probe"))(
      spark.range(5).toDF())
    assert(r.failure.isEmpty, r.failure.toString)
    assert(r.rows === Some(5L))
    assert(r.reps.size === 1)
    val oos = new java.io.ObjectOutputStream(java.io.OutputStream.nullOutputStream())
    try oos.writeObject(spark) finally oos.close()
  }

  test("mmr rerank: duplicates demoted, lambda=1 reduces to relevance order") {
    // query along e1; c1/c2 are near-identical top hits, c3 is orthogonal-ish
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, v(1.0, 0.0, 0.0)),
      (2L, v(0.999, 0.01, 0.0)),   // near-copy of 1, slightly worse rel
      (3L, v(0.6, 0.8, 0.0)),      // diverse, lower rel
      (4L, v(0.5, -0.85, 0.0))     // diverse the other way
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, v(1.0, 0.0, 0.0))).toDF("query_id", "query_vec")

    // lambda 0.3 favors diversity: the near-copy's huge sim-to-selected
    // penalty (~1.0) must push it out of the top 3 entirely
    // (hand-computed: rank2 = c4 at -0.2028.., rank3 = c3 at -0.24)
    val diversified = SimilaritySearch.mmrRerank(corpus, queries,
        k = 3, topN = 4, lambda = 0.3)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect()
    assert(diversified.head._2 === 1L, "rank 1 is always the max-relevance hit")
    assert(diversified.map(_._2).toSeq === Seq(1L, 4L, 3L),
      s"the near-copy (2) must fall out of the diversified page: ${diversified.toSeq}")
    assert(diversified.map(_._4).toSeq === Seq(1L, 2L, 3L))

    val relevanceOnly = SimilaritySearch.mmrRerank(corpus, queries,
        k = 3, topN = 4, lambda = 1.0)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect()
    assert(relevanceOnly.map(_._2).toSeq === Seq(1L, 2L, 3L),
      "lambda = 1 is plain top-k by relevance")
  }

  test("brute-force kNN: self-match ranks first at cosine 1") {
    val corpus = spark.read.parquet(s"${SparkTestBase.Sf0001}/embeddings.parquet")
    val queries = corpus.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val nQueries = queries.count()
    val res = SimilaritySearch.bruteForceKnn(corpus, queries, 5).cache()
    assert(res.count() === nQueries * 5)
    val top1 = res.filter(col("rn") === 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    top1.foreach { case (q, v, c) =>
      assert(q === v, s"query $q top-1 is $v, not itself")
      assert(math.abs(c - 1.0) < 1e-9)
    }
    res.unpersist()
  }

  test("heavy_hitters: Misra-Gries guarantees hold across partition merges") {
    import graft.functions.heavy_hitters
    // n = 119 tokens, k = 4 counters -> additive error bound floor(119/5) = 23.
    // Heavy items (true > 23): a (50), b (30). c (19) and the 20 singletons
    // may or may not be tracked; a and b MUST be, underestimated by <= 23.
    val stream = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(19)("c") ++
      (1 to 20).map(i => s"d$i")
    val n = stream.size
    val bound = n / 5
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // repartition(7) forces partial summaries + the merge path (and the
    // serialize/deserialize roundtrip through the exchange)
    val est = stream.toDF("token").repartition(7)
      .agg(heavy_hitters(col("token"), 4).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"))
      .as[(String, Long)].collect().toMap
    assert(est.size <= 4, s"capacity 4 exceeded: $est")
    est.foreach { case (item, e) =>
      assert(e <= truth(item), s"$item overestimated: $e > ${truth(item)}")
      assert(truth(item) - e <= bound,
        s"$item error ${truth(item) - e} exceeds bound $bound")
    }
    Seq("a", "b").foreach { heavy =>
      assert(est.contains(heavy), s"heavy item $heavy missing from $est")
    }
    // untracked items must all be at or below the error bound
    truth.filterNot { case (i, _) => est.contains(i) }.foreach { case (i, c) =>
      assert(c <= bound, s"untracked $i has true count $c > bound $bound")
    }
  }

  test("tx_heavy_hitters / tx_keyterms driver queries: contract booleans and exact ranks") {
    val hh = SparkEntry.queries("tx_heavy_hitters")(spark, SparkTestBase.Sf0001)
      .select("underest_ok", "error_ok", "coverage_ok")
      .as[(Boolean, Boolean, Boolean)].collect()
    assert(hh.nonEmpty)
    assert(hh.forall { case (u, e, c) => u && e && c },
      "sketch contract boolean false at sf0.001")
    // hand-computed keyterms on a 3-doc corpus: score = tf * N / df
    val docs = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z z w"))
      .toDF("doc_id", "text").createOrReplaceTempView("kt_docs")
    try {
      val toks = spark.table("kt_docs")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "term")
        .withColumn("score", col("tf").cast("double") * lit(3.0) / col("df").cast("double"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
      val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "term", "score").as[(Long, String, Double)].collect().toSet
      // d1: x = 2*3/1 = 6; d2: y = z = 1.5, term-asc tiebreak -> y; d3: z = 4.5
      assert(top === Set((1L, "x", 6.0), (2L, "y", 1.5), (3L, "z", 4.5)))
    } finally spark.catalog.dropTempView("kt_docs")
  }

  test("top-k NULL-cosine contract: heap and window paths agree; all-NULL queries absent") {
    // NULL embeddings score NULL cosine against everything. The contract
    // (SimilaritySearch.topKPerQuery): NULL scores are dropped BEFORE rank
    // selection on BOTH the bounded-heap (Long id) and window-fallback
    // (non-Long id) paths — a NULL is never a rank-k filler, and a query
    // whose every candidate scores NULL vanishes from the output.
    val corpus = Seq(
      (1L, Option(Seq(1.0f, 0.0f))),
      (2L, Option(Seq(0.9f, 0.1f))),
      (3L, Option(Seq(0.5f, 0.5f))),
      (4L, Option(Seq(0.1f, 0.9f))),
      (11L, Option.empty[Seq[Float]]), // NULL candidates: must not occupy slots
      (12L, Option.empty[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Option(Seq(1.0f, 0.0f))),
      (200L, Option.empty[Seq[Float]]) // all-NULL query: must be absent
    ).toDF("query_id", "query_vec")
    val heap = SimilaritySearch.bruteForceKnn(corpus, queries, k = 5)
    // a string corpus id forces the window-fallback path
    val win = SimilaritySearch.bruteForceKnn(
        corpus.withColumn("vec_id", col("vec_id").cast("string")), queries, k = 5)
      .withColumn("vec_id", col("vec_id").cast("long"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.select(col("query_id"), col("vec_id"), col("rn"),
          round(col("cosine"), 9).as("c"))
        .as[(Long, Long, Int, Double)].collect().toSeq.sorted
    val h = rows(heap)
    assert(h === rows(win), "heap and window paths must agree on NULL handling")
    // k=5 over 4 scorable + 2 NULL candidates: exactly the 4 real ranks
    assert(h.map(r => (r._1, r._2, r._3)) ===
      Seq((100L, 1L, 1), (100L, 2L, 2), (100L, 3L, 3), (100L, 4L, 4)))
    assert(heap.filter(col("cosine").isNull).count() === 0)
    assert(heap.filter(col("query_id") === 200L).count() === 0)
  }

  test("LSH kNN: self-match always survives bucketing; scores agree with brute force") {
    val corpus = spark.read.parquet(s"${SparkTestBase.Sf0001}/embeddings.parquet")
    val queries = corpus.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val lsh = SimilaritySearch.lshKnn(corpus, queries, 5, planes = 4, dim = 64)
    val self = lsh.filter(col("query_id") === col("vec_id"))
      .select("query_id", "cosine").as[(Long, Double)].collect()
    assert(self.length === queries.count(),
      "a query's own vector shares its bucket by construction and must appear")
    self.foreach { case (_, c) => assert(math.abs(c - 1.0) < 1e-9) }
  }

  test("SQ8 kNN: near-lossless recall@5 vs brute, self-match first, scales dim-bounded") {
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet(s"${SparkTestBase.Sf0001}/embeddings.parquet")
    val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val dim = emb.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).head().getInt(0)
    val scales = SimilaritySearch.sq8Scales(emb)
    assert(scales.length === dim && scales.forall(s => s >= 0 && !s.isNaN))
    val sq8 = SimilaritySearch.sq8Knn(emb, queries, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val brute = SimilaritySearch.bruteForceKnn(emb, queries, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    val recall = (sq8 & brute).size.toDouble / brute.size
    // int8 per-dim quantization + exact re-rank of 32 is near-lossless —
    // far above the 0.9 the trained-codebook paths pin
    assert(recall >= 0.95, s"SQ8 recall@5 $recall vs brute")
    // every query (a corpus member) finds itself first at cosine ~1
    val firsts = SimilaritySearch.sq8Knn(emb, queries, 5)
      .filter(col("rn") === 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    firsts.foreach { case (q, v, c) =>
      assert(v === q && math.abs(c - 1.0) < 1e-9, s"query $q self-match lost: ($v, $c)")
    }
  }

  test("SQ8 coded path: int8 codes round-trip bit-exactly — coded search == flat search") {
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet(s"${SparkTestBase.Sf0001}/embeddings.parquet")
    val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scales = SimilaritySearch.sq8Scales(emb)
    val coded = SimilaritySearch.sq8EncodeCorpus(emb, scales)
    // the persisted artifact is genuinely int8: array<tinyint>, 1/4 the
    // bytes of the float32 vectors
    val codesType = coded.schema("__sq8").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(codesType === org.apache.spark.sql.types.ByteType)
    // code * scale reconstructs the dequant double bit-for-bit, so the
    // coded search returns the EXACT same frame as the flat one — full
    // row equality including the unrounded cosine doubles
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cosine", "rn")
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val flat = rows(SimilaritySearch.sq8Knn(emb, queries, 5))
    val viaCodes = rows(SimilaritySearch.sq8KnnCoded(coded, scales, queries, 5))
    assert(flat.nonEmpty && viaCodes === flat,
      "coded reconstruction diverged from the raw-vector dequant")
    // parquet roundtrip of the codes table serves identically (the
    // persisted-index contract, not just the in-memory frame)
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_idx").toString
    try {
      coded.write.mode("overwrite").parquet(dir)
      val served = rows(SimilaritySearch.sq8KnnCoded(
        spark.read.parquet(dir), scales, queries, 5))
      assert(served === flat, "parquet-roundtripped codes diverged")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF-SQ8 kNN: recall floor vs brute; probing every cell recovers flat SQ8") {
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet(s"${SparkTestBase.Sf001}/embeddings.parquet")
    val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val brute = pairs(SimilaritySearch.bruteForceKnn(emb, queries, 5))
    val ivfsq8 = pairs(SimilaritySearch.ivfSq8Knn(emb, queries, 5))
    val recall = (brute & ivfsq8).size.toDouble / brute.size
    info(f"IVF-SQ8 recall@5 (nprobe 4/16, rerank=32): $recall%.3f")
    // the loss is ~all cell pruning (SQ8 scoring is near-lossless), so the
    // floor sits at the coarse quantizer's recall on the adversarial
    // random fixture — well above IVF-PQ's 0.30 composed floor
    assert(recall >= 0.35, f"IVF-SQ8 recall@5 $recall%.3f below floor")
    // nprobe = nCentroids disables the coarse prune: identical to flat SQ8
    val allCells = pairs(SimilaritySearch.ivfSq8Knn(emb, queries, 5, nprobe = 16))
    val flat = pairs(SimilaritySearch.sq8Knn(emb, queries, 5))
    assert(allCells === flat, "probing every cell must reduce IVF-SQ8 to flat SQ8")
  }

  test("ss_recall_eval grade equals the set-based IVF-SQ8 recall, floor 0.35") {
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet(s"${SparkTestBase.Sf001}/embeddings.parquet")
    val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val brute = pairs(SimilaritySearch.bruteForceKnn(emb, queries, 5))
    val ivfsq8 = pairs(SimilaritySearch.ivfSq8Knn(emb, queries, 5))
    val graded = SparkEntry.queries("ss_recall_eval")(spark, SparkTestBase.Sf001)
      .select("query_id", "n_hit", "recall")
      .as[(Long, Long, Double)].collect()
    assert(graded.map(_._1).toSet === brute.map(_._1))
    graded.foreach { case (q, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 5, s"query $q n_hit $nHit out of [0,5]")
      assert(recall === nHit / 5.0, s"query $q recall $recall != n_hit/5")
      assert(nHit === (brute.filter(_._1 == q) & ivfsq8).size,
        s"query $q grade disagrees with the set-based hit count")
    }
    val mean = graded.map(_._3).sum / graded.length
    assert(mean >= 0.35, f"graded mean recall $mean%.3f below the IVF-SQ8 floor")
  }

  test("multi-probe LSH kNN: recall@5 >= 0.9 vs brute force on the embeddings fixture") {
    val corpus = spark.read.parquet(s"${SparkTestBase.Sf001}/embeddings.parquet")
    val queries = corpus.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceKnn(corpus, queries, 5))
    val multi = pairs(SimilaritySearch.lshKnn(corpus, queries, 5, planes = 4, dim = 64))
    val single = pairs(SimilaritySearch.lshKnn(corpus, queries, 5, planes = 4, dim = 64,
      multiProbe = false))
    val recallMulti = (exact & multi).size.toDouble / exact.size
    val recallSingle = (exact & single).size.toDouble / exact.size
    assert(recallMulti >= 0.9, f"multi-probe recall@5 $recallMulti%.3f < 0.9")
    assert(recallMulti >= recallSingle,
      f"multi-probe ($recallMulti%.3f) must not lose recall vs single-probe ($recallSingle%.3f)")
  }

  test("IVF kNN: self-match guaranteed; recall@5 measured vs brute force") {
    val corpus = spark.read.parquet(s"${SparkTestBase.Sf001}/embeddings.parquet")
    val queries = corpus.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(SimilaritySearch.bruteForceKnn(corpus, queries, 5))
    val ivf = SimilaritySearch.ivfKnn(corpus, queries, 5, nCentroids = 16, nprobe = 4)
    val ivfPairs = pairs(ivf)
    // a query IS a corpus vector; its own cell is always its #1 probe, so
    // the self pair (cosine 1) can never be pruned
    val self = ivf.filter(col("query_id") === col("vec_id")).count()
    assert(self === queries.count(), "IVF lost a self-match")
    val recall = (exact & ivfPairs).size.toDouble / exact.size
    info(f"IVF recall@5 (nprobe 4/16, random-vector fixture): $recall%.3f")
    // random 64-d vectors are the adversarial case for any partition-based
    // index (true neighbors sit at cosine ~0.3, barely inside any cell);
    // the pinned floor documents that reality — clustered embeddings
    // probe far better
    assert(recall >= 0.30, f"IVF recall@5 $recall%.3f below floor")
    // more probes must not lose recall
    val ivfWide = pairs(SimilaritySearch.ivfKnn(corpus, queries, 5, nCentroids = 16, nprobe = 16))
    val recallWide = (exact & ivfWide).size.toDouble / exact.size
    assert(recallWide >= recall)
    assert(recallWide >= 0.999, "nprobe = nCentroids probes every cell: IVF == brute force")

    // trained quantizer: k-means cells capture neighborhoods at least as
    // well as the arbitrary corpus-prefix cells (the oracle-facing default)
    val trained = SimilaritySearch.kmeansCentroids(corpus, 16)
    val ivfTrained = SimilaritySearch.ivfKnn(corpus, queries, 5,
      nCentroids = 16, nprobe = 4, centroids = Some(trained))
    val selfTrained = ivfTrained.filter(col("query_id") === col("vec_id")).count()
    assert(selfTrained === queries.count(), "trained IVF lost a self-match")
    val recallTrained = (exact & pairs(ivfTrained)).size.toDouble / exact.size
    info(f"IVF recall@5 trained k-means vs prefix: $recallTrained%.3f vs $recall%.3f")
    assert(recallTrained >= recall,
      f"trained quantizer ($recallTrained%.3f) must not lose recall vs prefix ($recall%.3f)")
    // the production quantizer's own executable contract (r10 VERDICT #8):
    // the absolute floor the prefix quantizer is graded on, not just the
    // relative bound above
    assert(recallTrained >= 0.30, f"trained IVF recall@5 $recallTrained%.3f below floor")
    // seed pin: the index build is reproducible — same seed, same centroids
    // bit-for-bit (this is what makes the k-means path operationally safe
    // to rebuild: a re-run cannot silently reshuffle cells)
    val trained2 = SimilaritySearch.kmeansCentroids(corpus, 16)
    assert(trained.map(_._1).toSeq === trained2.map(_._1).toSeq)
    assert(trained.map(_._2.toSeq).toSeq === trained2.map(_._2.toSeq).toSeq,
      "seed-pinned k-means must reproduce identical centroids run-to-run")
  }

  test("nearest-centroids kernel == the struct-sort Column form it replaced") {
    // the fused NearestCentroids expression must reproduce, id-for-id and
    // in order, what sort_array(array(struct(-cosine, cid)...)) computed —
    // on the real fixture (incl. whatever tie/zero-norm rows it holds)
    import graft.functions.{nearest_centroids, cosine_sim}
    val corpus = spark.read.parquet(s"${SparkTestBase.Sf001}/embeddings.parquet")
    val cents = SimilaritySearch.ivfCentroids(corpus, 16)
    def structSort(vec: org.apache.spark.sql.Column, n: Int) =
      slice(sort_array(array(cents.toIndexedSeq.map { case (cid, cvec) =>
        struct((-cosine_sim(vec, typedLit(cvec))).as("neg"), lit(cid).as("cid"))
      }: _*)), 1, n).getField("cid")
    Seq(1, 4, 16).foreach { n =>
      val mismatches = corpus.filter(col("embedding").isNotNull)
        .select(nearest_centroids(col("embedding"), cents, n).as("kernel"),
          structSort(col("embedding"), n).as("sorted"))
        .filter(not(col("kernel") === col("sorted")))
        .count()
      assert(mismatches === 0L, s"kernel diverged from struct-sort at n=$n")
    }
  }

  test("kNN label propagation: unanimous neighborhood wins; vote ties break to smallest label") {
    import graft.operators.SimilaritySearch
    // corpus: 4 vectors near axis e1 labeled 1, 4 near e2 labeled 2
    def axis(i: Int, jitterAt: Int, eps: Float): Array[Float] = {
      val v = Array.fill(8)(0f); v(i) = 1f; v(jitterAt) = eps; v
    }
    // interleaved jitter magnitudes so the 45-degree query's neighbor order
    // alternates labels (cosine decreases with jitter): 2 of each in top-4
    val eps1 = Seq(0.02f, 0.04f, 0.06f, 0.07f)
    val eps2 = Seq(0.01f, 0.03f, 0.05f, 0.08f)
    val corpus = (
      (1 to 4).map(j => (j.toLong, axis(0, 4, eps1(j - 1)), 1)) ++
      (5 to 8).map(j => (j.toLong, axis(1, 5, eps2(j - 5)), 2))
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (100L, axis(0, 6, 0.02f)),   // firmly in the label-1 cluster
      (101L, {                     // equidistant: 45 degrees between e1/e2
        val v = Array.fill(8)(0f); v(0) = 1f; v(1) = 1f; v
      })
    ).toDF("query_id", "query_vec")
    val out = SimilaritySearch.knnClassify(corpus, queries, k = 4)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Int]("pred_label"), r.getAs[Long]("n_votes"))).toMap
    assert(out(100L) === ((1, 4L)), s"unanimous cluster vote expected: $out")
    // query 101 pulls 2 neighbors from each cluster (k=4): 2-2 tie -> label 1
    assert(out(101L) === ((1, 2L)), s"tie must break to the smallest label: $out")
  }

  test("bounded-heap top-k aggregate equals the rank-limit window form") {
    import graft.functions.topk_by
    val li = spark.read.parquet(s"${SparkTestBase.Sf0001}/lineitem.parquet")
    val viaAgg = li.groupBy("l_returnflag")
      .agg(topk_by(col("l_extendedprice"), col("l_orderkey"), 5).as("topk"))
      .select(col("l_returnflag"), explode(col("topk")).as("p"))
      .select(col("l_returnflag"), col("p.ord"), col("p.id"))
      .as[(String, Double, Long)].collect().toSet
    val viaWindow = TopK.topK(
        li.select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey")),
        5, Seq(col("l_returnflag")),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc))
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
      .as[(String, Double, Long)].collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("topk_by works from SQL and survives partial aggregation") {
    import graft.functions.topk_by
    val df = spark.range(1000).select(
      (col("id") % 7).cast("string").as("g"),
      col("id").cast("double").as("ord"), col("id").as("id"))
      .repartition(8) // force multi-partition partial aggregation + merge
    val out = df.groupBy("g").agg(topk_by(col("ord"), col("id"), 2).as("topk"))
      .select(col("g"), col("topk").getItem(0).getField("id").as("best"))
      .as[(String, Long)].collect().toMap
    (0 until 7).foreach { g =>
      val expected = (0L until 1000L).filter(_ % 7 == g).max
      assert(out(g.toString) === expected, s"group $g")
    }
  }

  test("per-group and global top-k") {
    val li = spark.read.parquet(s"${SparkTestBase.Sf0001}/lineitem.parquet")
    val grouped = TopK.topK(li, 2, Seq(col("l_returnflag")),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc))
    val counts = grouped.groupBy("l_returnflag").count().as[(String, Long)].collect()
    counts.foreach { case (_, n) => assert(n <= 2) }
    val expectTop = li.orderBy(col("l_extendedprice").desc, col("l_orderkey").asc)
      .select("l_orderkey").limit(3).as[Long].collect().toSeq
    val gotTop = TopK.globalTopK(li, 3, Seq(col("l_extendedprice").desc, col("l_orderkey").asc))
      .select("l_orderkey").as[Long].collect().toSeq
    assert(gotTop === expectTop)
  }

  test("multimodal: deterministic REAL decode of every fixture modality over mapPartitions") {
    // synthetic(50) covers all four container types: PNG (id%3=0), WAV
    // (id%3=1), animated GIF (id%6=2), MP4 (id%6=5) — every row must ride a
    // genuine codec path (there is no fake/hash fallback anymore)
    val media = Multimodal.synthetic(spark, 50)
    assert(media.select("mime").distinct().as[String].collect().toSet ===
      Set("image/png", "audio/wav", "image/gif", "video/mp4"))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 50)
    assert(feats.forall(_.decode_ok))
    assert(feats.forall(_.feat_dim === Multimodal.MediaDecoder.FeatDim))
    val again = Multimodal.extractFeatures(Multimodal.synthetic(spark, 50)).collect()
    val byId = again.map(f => f.media_id -> f.features.toSeq).toMap
    feats.foreach(f => assert(byId(f.media_id) === f.features.toSeq, s"media ${f.media_id} not deterministic"))
  }

  test("multimodal: REAL PNG decode via javax.imageio through the pipeline") {
    // render a 32x32 PNG in memory: left half black, right half white --
    // the 4x4 luminance grid must read ~0 in columns 0-1 and ~1 in 2-3
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val media = Seq((1L, "image", png, 1L), (2L, "image", Array[Byte](1, 2, 3), 2L))
      .toDF("media_id", "modality", "payload", "n_bytes")
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap

    val real = feats(1L)
    assert(real.decode_ok, "PNG payload must decode")
    assert(real.features.length === Multimodal.MediaDecoder.FeatDim)
    for (row <- 0 until 4; c <- 0 until 2)
      assert(real.features(row * 4 + c) < 0.05, s"cell ($row,$c) should be black")
    for (row <- 0 until 4; c <- 2 until 4)
      assert(real.features(row * 4 + c) > 0.95, s"cell ($row,$c) should be white")

    // an unrecognized byte blob is a decode FAILURE, never a fake vector
    assert(!feats(2L).decode_ok)
    assert(feats(2L).features.isEmpty)

    // corrupt PNG header (magic ok, body broken) -> decode failure, not a crash
    val broken = png.take(20)
    val bad = Multimodal.extractFeatures(
      Seq((3L, "image", broken, 3L)).toDF("media_id", "modality", "payload", "n_bytes"))
      .collect().head
    assert(!bad.decode_ok, "truncated PNG must report decode failure")
  }

  test("image near-dup: re-encode and pixel-replication collide at Hamming 0, bucketed pairs verified") {
    import graft.operators.Multimodal.MediaDecoder
    def render(w: Int, h: Int, px: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // a 24x24 gradient-ish pattern (not grayscale: exercises the rgb mix)
    def pat(x: Int, y: Int): Int = ((x * 11) % 256 << 16) | ((y * 7) % 256 << 8) | ((x + y) % 256)
    val base = render(24, 24, pat)
    val h0 = MediaDecoder.imageAHash64(enc(base, "png"))
    assert(h0.nonEmpty, "base PNG must hash")
    // lossless re-encode: identical pixels, identical hash
    assert(MediaDecoder.imageAHash64(enc(base, "bmp")) === h0)
    // pixel-replicating resizes: cell sums and counts scale together
    for (s <- Seq(2, 3)) {
      val up = render(24 * s, 24 * s, (x, y) => pat(x / s, y / s))
      assert(MediaDecoder.imageAHash64(enc(up, "png")) === h0, s"${s}x replication changed the hash")
    }
    // a genuinely different image must not collide within the tolerance
    val inv = render(24, 24, (x, y) => ~pat(x, y) & 0xFFFFFF)
    val hInv = MediaDecoder.imageAHash64(enc(inv, "png")).get
    assert(java.lang.Long.bitCount(h0.get ^ hInv) > 3, "inverted image within Hamming 3")
    // GENERAL lossy JPEG (non-flat blocks, default writer settings): the
    // decode is real and the wiggle flips at most a few near-threshold
    // bits — same pixels collide with the PNG twin within the operator's
    // Hamming tolerance, never exactly by contract
    val hJpg = MediaDecoder.imageAHash64(enc(base, "jpg"))
    assert(hJpg.nonEmpty, "JPEG payload must decode and hash")
    assert(java.lang.Long.bitCount(h0.get ^ hJpg.get) <= 3,
      "JPEG of the same pixels drifted past the near-dup tolerance")
    // corrupt / non-image payloads don't fingerprint
    assert(MediaDecoder.imageAHash64(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaDecoder.imageAHash64(enc(base, "png").take(20)).isEmpty)
    assert(MediaDecoder.imageAHash64(enc(base, "jpg").take(20)).isEmpty,
      "truncated JPEG must be excluded, not crash or fake a hash")

    // operator: every planted pair — BMP twin (id+1000), JPEG twin
    // (id+2000), and the twins with each other — surfaces at Hamming 0
    // through the block-bucketed path; nothing exceeds the cap
    val fixture = graft.operators.Multimodal.syntheticImageVariants(spark, 30)
    val pairs = graft.operators.Multimodal.imageNearDup(fixture)
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    for (id <- 0L until 30L) {
      assert(byPair.get((id, id + 1000L)).contains(0),
        s"planted BMP variant pair ($id, ${id + 1000}) missing or nonzero")
      assert(byPair.get((id, id + 2000L)).contains(0),
        s"planted JPEG variant pair ($id, ${id + 2000}) missing or nonzero")
      assert(byPair.get((id + 1000L, id + 2000L)).contains(0),
        s"BMP/JPEG twin pair (${id + 1000}, ${id + 2000}) missing or nonzero")
    }
    assert(pairs.forall(p => p._3 <= 3 && p._1 < p._2))

    // the closed-form-oracle guard: the fixture's block-uniform
    // quality-0.75 JPEG rows must round-trip PIXEL-EXACT against the base
    // noise pattern (flat 8x8 blocks carry only an exactly-quantized DC),
    // otherwise the id+2000 arm of the SQL hash replay would be a lie —
    // this is the assertion that catches a JRE codec change
    val payloads = fixture.as[(Long, Array[Byte])].collect().toMap
    for (id <- 0L until 30L) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payloads(id + 2000L)))
      assert(img.getWidth === 64 && img.getHeight === 64)
      for (y <- 0 until 64; x <- 0 until 64) {
        val b = id * 257L + ((y / 8) * 8 + (x / 8)) * 193L + 7L
        val v = ((b * b) % 256).toInt
        assert((img.getRGB(x, y) & 0xFFFFFF) === ((v << 16) | (v << 8) | v),
          s"JPEG round-trip not pixel-exact at id=$id ($x,$y)")
      }
    }
  }

  test("audio near-dup: lossless re-encode and sample replication collide at Hamming 0, distinct clips don't") {
    import graft.operators.Multimodal.MediaDecoder
    import javax.sound.sampled.AudioFileFormat.Type.{AIFF, WAVE}
    def wav(samples: Array[Int], rate: Float = 8000f,
            fmt: javax.sound.sampled.AudioFileFormat.Type = WAVE): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        pcm(2 * i) = (s & 0xFF).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val af = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), af, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, fmt, bos)
      bos.toByteArray
    }
    val base = Array.tabulate(320)(i => (math.sin(i * 0.37) * 12000).toInt)
    val h0 = MediaDecoder.audioAHash64(wav(base))
    assert(h0.nonEmpty, "base WAV must hash")
    // lossless container swap: identical PCM, identical hash
    assert(MediaDecoder.audioAHash64(wav(base, fmt = AIFF)) === h0)
    // sample replication: window sums and counts scale together
    for (r <- Seq(2, 3)) {
      val up = base.flatMap(s => Array.fill(r)(s))
      assert(MediaDecoder.audioAHash64(wav(up)) === h0, s"${r}x replication changed the hash")
    }
    // a genuinely different clip must not collide
    val other = Array.tabulate(320)(i => (math.sin(i * 0.11 + 2) * 9000).toInt)
    val hOther = MediaDecoder.audioAHash64(wav(other)).get
    assert(java.lang.Long.bitCount(h0.get ^ hOther) > 3)
    // corrupt / non-audio payloads don't fingerprint
    assert(MediaDecoder.audioAHash64(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaDecoder.audioAHash64(wav(base).take(30)).isEmpty)

    // operator: every planted (id, id+1000) WAV/AIFF variant pair surfaces
    // at Hamming 0 through the bucketed path
    val pairs = graft.operators.Multimodal.audioNearDup(
        graft.operators.Multimodal.syntheticAudioVariants(spark, 30))
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    for (id <- 0L until 30L)
      assert(byPair.get((id, id + 1000L)).contains(0),
        s"planted variant pair ($id, ${id + 1000}) missing or nonzero")
    assert(pairs.forall(p => p._3 <= 3 && p._1 < p._2))
  }

  test("video near-dup: re-timed (frame-replicated) copies collide at Hamming 0; stills have no temporal hash") {
    import graft.operators.Multimodal.MediaDecoder
    def gif(frames: Seq[Int => Int], w: Int = 8, h: Int = 8): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        wr.setOutput(ios); wr.prepareWriteSequence(null)
        frames.foreach { px =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until h; x <- 0 until w) {
            val v = px(y * w + x) & 0xFF; img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        wr.endWriteSequence()
      } finally { wr.dispose(); ios.close() }
      bos.toByteArray
    }
    // 64 base frames = one frame per window, so replication keeps window
    // boundaries aligned (the documented exact-invariance shape; shorter
    // clips are only Hamming-close under re-timing)
    val baseFrames: Seq[Int => Int] =
      (0 until 64).map(f => (_: Int) => (f * 37 + 11) % 256)
    val h0 = MediaDecoder.videoTHash64(gif(baseFrames))
    assert(h0.nonEmpty, "multi-frame GIF must hash")
    // re-timed copies: each frame written 2x/3x — windows scale together
    for (r <- Seq(2, 3))
      assert(MediaDecoder.videoTHash64(gif(baseFrames.flatMap(Seq.fill(r)(_)))) === h0,
        s"${r}x frame replication changed the hash")
    // a different clip must not collide
    val other: Seq[Int => Int] = (0 until 64).map(f => (_: Int) => (f * 91 + 3) % 256)
    val hOther = MediaDecoder.videoTHash64(gif(other)).get
    assert(java.lang.Long.bitCount(h0.get ^ hOther) > 3)
    // stills and non-GIF payloads have no temporal profile
    assert(MediaDecoder.videoTHash64(gif(baseFrames.take(1))).isEmpty)
    assert(MediaDecoder.videoTHash64(Array[Byte](1, 2, 3)).isEmpty)

    val pairs = graft.operators.Multimodal.videoNearDup(
        graft.operators.Multimodal.syntheticVideoVariants(spark, 30))
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    for (id <- 0L until 30L)
      assert(byPair.get((id, id + 1000L)).contains(0),
        s"planted variant pair ($id, ${id + 1000}) missing or nonzero")
    assert(pairs.forall(p => p._3 <= 3 && p._1 < p._2))
  }

  test("hamming eval: recall exactly 1.0 uncapped (pigeonhole); forced hot-bucket cap trades measured recall") {
    import graft.operators.{Dedup, Multimodal}
    // real modality fingerprints, uncapped: at maxHamming <= 3 any pair
    // within tolerance shares a 16-bit block, so the bucketed path is
    // exhaustive — recall is EXACTLY 1.0, not approximately
    val hashed = Multimodal.imageHashes64(
      Multimodal.syntheticImageVariants(spark, 30))
    val ev = Dedup.hammingEval(hashed).collect().head
    assert(ev.getAs[Long]("n_exact") >= 30L, "planted pairs missing from truth")
    assert(ev.getAs[Long]("n_bucketed") === ev.getAs[Long]("n_exact"))
    assert(ev.getAs[Long]("n_caught") === ev.getAs[Long]("n_exact"))
    assert(ev.getAs[Double]("recall") === 1.0)
    // forced cap: 50 identical fingerprints form a hot bucket in every
    // block AND share the salvage sub-key, so the cap drops the whole
    // group (C(50,2) = 1225 true pairs lost); a far-away 2-row cluster
    // (Hamming 1, > 3 from the hot group) still buckets and survives —
    // the eval reports exactly that trade
    val synth = spark.range(50).select(col("id"), lit(0L).as("sim"))
      .unionByName(Seq((100L, -1L), (101L, -2L)).toDF("id", "sim"))
    val capped = Dedup.hammingEval(synth, maxBucketSize = 10,
      metricTag = "eval_capped").collect().head
    assert(capped.getAs[Long]("n_exact") === 1226L)
    assert(capped.getAs[Long]("n_bucketed") === 1L)
    assert(capped.getAs[Double]("recall") === 1.0 / 1226.0)
    // and lifting the cap on the same frame restores recall 1.0
    val uncapped = Dedup.hammingEval(synth, metricTag = "eval_uncapped")
      .collect().head
    assert(uncapped.getAs[Long]("n_bucketed") === 1226L)
    assert(uncapped.getAs[Double]("recall") === 1.0)
  }

  test("media embed kNN bridge: variants carry bit-identical features and retrieve their source first") {
    import graft.operators.{Multimodal, SimilaritySearch}
    val media = Multimodal.syntheticVideoVariants(spark, 20)
      .withColumn("modality", lit("video"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val feats = Multimodal.extractFeatures(media).toDF().localCheckpoint()
    assert(feats.filter(!col("decode_ok")).count() === 0, "every clip decodes")
    // the frame-doubled variant samples the same frames: features are
    // BIT-identical, not merely close
    val byId = feats.select("media_id", "features")
      .as[(Long, Array[Float])].collect().toMap
    for (id <- 0L until 20L)
      assert(byId(id).toSeq === byId(id + 1000L).toSeq,
        s"variant $id features drifted from source")
    val corpus = feats.filter(col("media_id") < 1000)
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    val queries = feats.filter(col("media_id") >= 1000)
      .select(col("media_id").as("query_id"), col("features").as("query_vec"))
    val top1 = SimilaritySearch.bruteForceKnn(corpus, queries, 3)
      .filter(col("rn") === 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(top1.length === 20)
    top1.foreach { case (q, v, c) =>
      assert(v === q - 1000L, s"variant $q retrieved $v, not its source")
      assert(math.abs(c - 1.0) < 1e-12, s"identical vectors must score ~1, got $c")
    }
    // the APPROXIMATE composition holds the invariant too: a query that IS
    // a corpus vector (bit-identical features) shares its source's nearest
    // cell, so IVF-SQ8's probe list always contains the source's cell and
    // the exact re-rank puts the source first — media retrieval rides the
    // quantized scale path without losing the planted matches
    val ivfTop1 = SimilaritySearch.ivfSq8Knn(corpus, queries, 3,
        nCentroids = 8, nprobe = 2)
      .filter(col("rn") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(ivfTop1.length === 20)
    ivfTop1.foreach { case (q, v) =>
      assert(v === q - 1000L, s"IVF-SQ8: variant $q retrieved $v, not its source")
    }
  }

  test("media dedup composition: variants cluster with their source, exactly one kept per cluster") {
    import graft.operators.{Dedup, Multimodal}
    val media = Multimodal.syntheticAudioVariants(spark, 20)
    val pairs = Multimodal.audioNearDup(media)
    val labels = Dedup.clusters(media.select(col("media_id")), pairs, "media_id")
      .select(col("id"), col("cluster"), (col("id") === col("cluster")).as("is_kept"))
      .as[(Long, Long, Boolean)].collect()
    assert(labels.length === 40)
    val byId = labels.map(l => l._1 -> l).toMap
    for (id <- 0L until 20L) {
      assert(byId(id)._2 === id, s"source $id must label its own cluster (min id)")
      assert(byId(id + 1000L)._2 === id, s"variant of $id clustered elsewhere")
      assert(byId(id)._3 && !byId(id + 1000L)._3, s"keep verdicts wrong for $id")
    }
    // exactly one representative per cluster
    val kept = labels.filter(_._3).map(_._2)
    assert(kept.distinct.length === kept.length)
    assert(labels.groupBy(_._2).forall { case (_, g) => g.count(_._3) === 1 })
  }

  test("epoch stream: multiplicities equal n_repeats; keys are id-free, repeat-salted, totally ordered on disk") {
    val docs = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
    def allocOf(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.temperatureMix(df, "text", col("source"), budgetTokens = 200000L)
    val assign = TextAnalysis.epochMaterialize(docs, "text", "doc_id",
      col("source"), allocOf(docs))
    val stream = TextAnalysis.epochStream(docs, "text", "doc_id",
      col("source"), allocOf(docs), seed = 3L).localCheckpoint()
    // per-document multiplicity == n_repeats; total rows == sum(n_repeats)
    val counts = stream.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val reps = assign.select("doc_id", "n_repeats").as[(Long, Option[Long])].collect()
    reps.foreach { case (id, r) =>
      assert(counts.getOrElse(id, 0L) === r.filter(_ > 0).getOrElse(0L),
        s"doc $id multiplicity diverged from its repeat count")
    }
    assert(stream.count() === reps.flatMap(_._2).filter(_ > 0).sum)
    // each copy of a document gets its OWN key (repeat salt), and keys are
    // a pure function of (seed, content): renumbering every id reproduces
    // the exact key multiset
    val maxPerKey = stream.groupBy("doc_id", "shuffle_key").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerKey === 1L, "two copies of a doc shared a shuffle key")
    val keys = stream.select("shuffle_key").as[String].collect().sorted.toSeq
    val renumbered = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    val keys2 = TextAnalysis.epochStream(renumbered, "text", "doc_id",
        col("source"), allocOf(renumbered), seed = 3L)
      .select("shuffle_key").as[String].collect().sorted.toSeq
    assert(keys === keys2, "shuffle keys must not depend on document ids")
    // a different seed is an independent permutation
    val keys3 = TextAnalysis.epochStream(docs, "text", "doc_id",
        col("source"), allocOf(docs), seed = 4L)
      .select("shuffle_key").as[String].collect().sorted.toSeq
    assert(keys3 !== keys, "seed must change the permutation")

    // writer: files hold a TOTAL order — within-file sorted, and every key
    // in part i precedes every key in part i+1
    val out = java.nio.file.Files.createTempDirectory("graft_epoch_stream").toString
    try {
      TextAnalysis.writeEpochStream(docs, "text", "doc_id", col("source"),
        allocOf(docs), out, seed = 3L, numFiles = 4)
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      assert(parts.length > 1, "fixture should span multiple range files")
      val perPart = parts.map(p =>
        spark.read.parquet(p.getAbsolutePath).select("shuffle_key").as[String].collect().toSeq)
      perPart.foreach(ks => assert(ks === ks.sorted, "within-file order broken"))
      val nonEmpty = perPart.filter(_.nonEmpty).toSeq
      nonEmpty.zip(nonEmpty.drop(1)).foreach { case (a, b) =>
        assert(a.last <= b.head, "cross-file range order broken")
      }
      assert(perPart.map(_.size).sum === keys.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("epoch stream writer: content-identical key ties order deterministically by (id, rep)") {
    // two docs with IDENTICAL text (and one distinct) in one stratum: the
    // twins produce identical md5 shuffle keys at every rep, so without
    // the secondary sort their on-disk order would be engine-nondeterministic
    val docs = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (9L, "iota kappa lambda mu nu xi omicron pi", "s"))
      .toDF("doc_id", "text", "source")
    def alloc = TextAnalysis.temperatureMix(docs, "text", col("source"),
      budgetTokens = 100L)
    def run(out: String): Seq[(String, Long, Long)] = {
      TextAnalysis.writeEpochStream(docs, "text", "doc_id", col("source"),
        alloc, out, seed = 5L, numFiles = 2)
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      parts.toSeq.flatMap(p => spark.read.parquet(p.getAbsolutePath)
        .select("shuffle_key", "doc_id", "rep")
        .as[(String, Long, Long)].collect().toSeq)
    }
    val out1 = java.nio.file.Files.createTempDirectory("graft_epoch_tie1").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft_epoch_tie2").toString
    try {
      val a = run(out1)
      // the twins share every key; their relative order must follow doc_id
      val twinKeys = a.groupBy(_._1).filter(_._2.size > 1)
      assert(twinKeys.nonEmpty, "fixture must produce key ties")
      twinKeys.values.foreach { g =>
        assert(g.map(_._2) === g.map(_._2).sorted,
          s"tie not ordered by doc_id: $g")
      }
      // and the whole materialized order reproduces run-to-run
      assert(run(out2) === a, "writer order must be deterministic")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out2))
    }
  }

  test("q16 emits exact answers plus in-query sketch error-bound booleans") {
    // q16 is now hash-oracled: the output carries EXACT columns (distinct
    // count, discrete p50/p99 at rank ceil(q*n)) plus booleans asserting
    // the sketch contracts (HLL++ rsd 0.05 -> 15% band; percentile_approx
    // accuracy 1000 -> the exact 0.495/0.505 and 0.985/0.995 rank bands).
    // Re-derive the exact columns here by brute sorting in Scala — an
    // implementation-independent check of the histogram+window construct.
    val li = spark.read.parquet(s"${SparkTestBase.Sf0001}/lineitem.parquet")
      .select("l_returnflag", "l_partkey", "l_extendedprice")
      .collect()
      .groupBy(_.getString(0))
    val out = SparkEntry.queries("q16_sketches")(spark, SparkTestBase.Sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === li.keySet)
    for ((flag, r) <- out) {
      val rows = li(flag)
      val prices = rows.map(_.getDouble(2)).sorted
      def atRank(q: Double): Double = prices(math.ceil(q * prices.length).toInt - 1)
      assert(r.getAs[Long]("exact_parts") === rows.map(_.getLong(1)).distinct.length.toLong,
        s"$flag: exact distinct parts")
      assert(r.getAs[Double]("p50_exact") === atRank(0.5), s"$flag: exact p50")
      assert(r.getAs[Double]("p99_exact") === atRank(0.99), s"$flag: exact p99")
      assert(r.getAs[Boolean]("hll_ok"), s"$flag: HLL estimate outside 15% band")
      assert(r.getAs[Boolean]("p50_ok"), s"$flag: approx p50 outside rank band")
      assert(r.getAs[Boolean]("p99_ok"), s"$flag: approx p99 outside rank band")
    }
  }

  test("line-level quality: terminal-punct, bullet, duplicate-line fractions") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      // 4 non-empty lines: 2 end in terminal punct, 2 bullets, no dups
      (1L, "A sentence.\n- item one\n- item two\nAnother sentence!"),
      // repeated footer: 3 lines, 1 dup pair -> dup ratio 1/3; no bullets;
      // "Footer" unterminated -> term ratio 1/3
      (2L, "Prose ends here.\nFooter\nFooter"),
      // numbered list counts as bullets; blank lines don't count at all
      (3L, "1. first\n\n2) second\n\n"),
      (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.withLineQualityFeatures(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_lines") === 4L)
    assert(got(1L).getAs[Double]("term_punct_line_ratio") === 0.5)
    assert(got(1L).getAs[Double]("bullet_line_ratio") === 0.5)
    assert(got(1L).getAs[Double]("dup_line_ratio") === 0.0)
    assert(got(2L).getAs[Double]("dup_line_ratio") === 1.0 / 3)
    assert(got(2L).getAs[Double]("term_punct_line_ratio") === 1.0 / 3)
    assert(got(2L).getAs[Double]("bullet_line_ratio") === 0.0)
    assert(got(3L).getAs[Long]("n_lines") === 2L)
    assert(got(3L).getAs[Double]("bullet_line_ratio") === 1.0)
    assert(got(4L).getAs[Long]("n_lines") === 0L)
    assert(got(4L).getAs[Double]("dup_line_ratio") === 0.0)
    assert(got(5L).isNullAt(got(5L).fieldIndex("n_lines")), "NULL text -> NULL features")
    assert(got(5L).isNullAt(got(5L).fieldIndex("term_punct_line_ratio")))
  }

  test("char diversity: exact Simpson index / top-char share from sorted-run fold") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "aaaa"), // one char: simpson 0, top 1
      (2L, "abab"), // 2+2: 1 - 8/16 = 0.5, top 0.5
      (3L, "abcd"), // uniform: 1 - 4/16 = 0.75, top 0.25
      (4L, "aab"),  // 2+1: 1 - 5/9, top 2/3
      (5L, ""),     // empty -> dropped
      (6L, null.asInstanceOf[String]) // NULL -> dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charDiversity(docs, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got(1L).getAs[Long]("n_chars") === 4L)
    assert(got(1L).getAs[Long]("distinct_chars") === 1L)
    assert(got(1L).getAs[Double]("simpson_index") === 0.0)
    assert(got(1L).getAs[Double]("top_char_ratio") === 1.0)
    assert(got(2L).getAs[Double]("simpson_index") === 0.5)
    assert(got(2L).getAs[Double]("top_char_ratio") === 0.5)
    assert(got(3L).getAs[Double]("simpson_index") === 0.75)
    assert(got(3L).getAs[Long]("distinct_chars") === 4L)
    assert(got(4L).getAs[Double]("simpson_index") === 1.0 - 5.0 / 9.0)
    assert(got(4L).getAs[Double]("top_char_ratio") === 2.0 / 3.0)
  }

  test("unicode normalization: NFC/NFKC vectors, case, whitespace, null safety") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "café"),          // e + combining acute
      (2L, "ﬁnal  Report"),   // fi ligature + double space
      (3L, "Ｈｅllo"),     // fullwidth H, e
      (4L, "  plain text "),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")

    // NFKC (the dedup default): compatibility folding — ligature and
    // fullwidth variants collapse to ASCII, accents compose
    val nfkc = TextAnalysis.normalizeText(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(nfkc(1L).getAs[String]("text_norm") === "café")
    assert(nfkc(2L).getAs[String]("text_norm") === "final report")
    assert(nfkc(3L).getAs[String]("text_norm") === "hello")
    assert(nfkc(4L).getAs[String]("text_norm") === "plain text")
    assert((1L to 4L).forall(nfkc(_).getAs[Boolean]("changed")))
    assert(nfkc(5L).getAs[String]("text_norm") === null)
    assert(!nfkc(5L).getAs[Boolean]("changed"), "NULL text must report changed=false")

    // NFC keeps compatibility characters (the oracle-facing form)
    val nfc = TextAnalysis.normalizeText(docs, "text", form = "NFC", lowercase = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(nfc(1L).getAs[String]("text_norm") === "café")
    assert(nfc(2L).getAs[String]("text_norm") === "ﬁnal Report")
    assert(nfc(3L).getAs[String]("text_norm") === "Ｈｅllo")

    // the canonicalization makes composed/decomposed twins dedup-identical
    val twins = Seq((1L, "café menu"), (2L, "café   MENU")).toDF("doc_id", "text")
    val norms = TextAnalysis.normalizeText(twins, "text")
      .select("text_norm").distinct().count()
    assert(norms === 1L, "decomposed twin must normalize to the composed form")
  }

  test("repetition ratio: duplicate 3-gram fraction with exact known values") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a b c a b c a b c"),      // 7 grams: abc bca cab abc bca cab abc -> 3 distinct -> 4/7 dup
      (2L, "all words are different here now"), // 4 grams, all distinct -> 0
      (3L, "x y"),                    // < 3 tokens -> 0
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.withRepetitionRatio(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_gram_ratio")).toMap
    assert(math.abs(got(1L) - 4.0 / 7.0) < 1e-12, got(1L).toString)
    assert(got(2L) === 0.0 && got(3L) === 0.0 && got(4L) === 0.0)
  }

  test("PII redaction: every pattern family redacts; counts are on the original text") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "mail me at jo.doe+x@mail.example.org now"),
      (2L, "ssn 123-45-6789 phone 415-555-1234"),
      (3L, "card 4111111111111111 twice 5500005555555559"),
      (4L, "email 1234567890123@x.co has a card-length local part"),
      (5L, "clean text with no pii at all")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("text_redacted") === "mail me at <EMAIL> now")
    assert(got(1L).getAs[Long]("n_email") === 1L)
    assert(got(2L).getAs[String]("text_redacted") === "ssn <SSN> phone <PHONE>")
    assert(got(2L).getAs[Long]("n_ssn") === 1L && got(2L).getAs[Long]("n_phone") === 1L)
    assert(got(3L).getAs[String]("text_redacted") === "card <CARD> twice <CARD>")
    assert(got(3L).getAs[Long]("n_card") === 2L)
    // counts are evidence on the ORIGINAL text: the 13-digit email local
    // part counts as a card hit, but the email redaction consumes it first
    assert(got(4L).getAs[Long]("n_card") === 1L && got(4L).getAs[Long]("n_email") === 1L)
    assert(got(4L).getAs[String]("text_redacted").contains("<EMAIL>"))
    assert(!got(4L).getAs[String]("text_redacted").contains("<CARD>"))
    assert(Seq("n_email", "n_ssn", "n_card", "n_phone")
      .map(got(5L).getAs[Long](_)).sum === 0L)
    assert(got(5L).getAs[String]("text_redacted") === "clean text with no pii at all")
  }

  test("sequence packing: exact group cumsum offsets, stable under repartitioning") {
    import graft.operators.TextAnalysis
    // doc i has (i % 7) + 1 tokens; capacity 10, 4 pack groups
    val docs = spark.range(0, 100).select(col("id").as("doc_id"),
      trim(expr("repeat('w ', CAST(id % 7 + 1 AS INT))")).as("text"))
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long, Long)] =
      TextAnalysis.packSequences(df, "text", "doc_id", capacity = 10, numGroups = 4)
        .select("doc_id", "n_tokens", "pack_group", "tok_offset", "bin_id", "bin_offset")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val got = run(docs)
    // recompute the expected offsets with a plain Scala fold per group
    val expected = (0L until 100L).map(i => (i, i % 7 + 1, i % 4))
      .groupBy(_._3).toSeq.flatMap { case (g, ds) =>
        ds.sortBy(_._1).scanLeft((0L, 0L, g, 0L)) { case ((_, _, _, acc), (id, n, _)) =>
          (id, n, g, acc + n)
        }.drop(1).map { case (id, n, grp, cumIncl) =>
          val off = cumIncl - n
          // collision-free encoding: bin-within-group * numGroups + group
          (id, n, grp, off, (off / 10) * 4L + grp, off % 10)
        }
      }.sorted
    assert(got === expected)
    // physical partitioning must not change the assignment
    assert(run(docs.repartition(13)) === got)
    // bins never cross pack groups — and the encoding stays collision-free
    // for ANY bin count (a fixed per-group stride folds groups together
    // once bins-per-group exceed it)
    assert(got.forall { case (_, _, g, _, bin, _) => bin % 4L === g })
    assert(got.map(r => (r._5, r._3)).distinct.groupBy(_._1).forall(_._2.size == 1))
  }

  test("no-split packing: exact NFD replay, capacity respected, <= 2x-optimal bins, repartition-stable") {
    // doc i has (i % 13) + 1 tokens plus one 30-token oversize; capacity 12
    val docs = spark.range(0, 80).select(col("id").as("doc_id"),
        trim(expr("repeat('w ', CAST(id % 13 + 1 AS INT))")).as("text"))
      .union(Seq((1000L, ("w " * 30).trim)).toDF("doc_id", "text"))
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      TextAnalysis.packSequencesNoSplit(df, "text", "doc_id",
          capacity = 12, numGroups = 4)
        .select("doc_id", "pack_group", "n_tokens", "bin_id", "bin_offset")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val got = run(docs)
    // exact driver replay of the per-group NFD fold
    val ids = (0L until 80L).map(i => (i, i % 13 + 1)) :+ (1000L, 30L)
    val expected = ids.groupBy(_._1 % 4).toSeq.flatMap { case (g, ds) =>
      var bin = 0L; var fill = 0L; var first = true
      ds.sortBy(d => (-d._2, d._1)).map { case (id, n) =>
        if (first) { first = false }
        else if (fill + n > 12) { bin += 1; fill = 0L }
        val off = fill; fill += n
        (id, g, n, bin * 4 + g, off)
      }
    }.sorted
    assert(got === expected, "engine NFD fold diverges from the driver replay")
    // invariants: no document split (one row per doc), no bin over
    // capacity except a lone oversized doc, and oversized docs are alone
    assert(got.map(_._1).distinct.size === got.size)
    got.groupBy(_._4).foreach { case (bin, rows) =>
      val total = rows.map(_._3).sum
      if (total > 12)
        assert(rows.size === 1 && rows.head._3 > 12,
          s"bin $bin over capacity without being a lone oversized doc: $rows")
    }
    // NFD guarantee per group: bins <= 2 * ceil(tokens / capacity) + 1
    // (+1 absorbs the oversized doc's dedicated bin)
    got.groupBy(_._2).foreach { case (g, rows) =>
      val bins = rows.map(_._4).distinct.size
      val opt = (rows.map(_._3).sum + 11) / 12
      assert(bins <= 2 * opt + 1, s"group $g used $bins bins vs optimal $opt")
    }
    // physical partitioning must not change the assignment
    assert(run(docs.repartition(13)) === got)
  }

  test("multimodal: REAL WAV decode via javax.sound.sampled through the pipeline") {
    // synthesize a 16-bit mono PCM WAV in memory: first half a full-scale
    // 440 Hz sine (RMS ~ 1/sqrt(2)), second half silence — the 16-window
    // RMS profile must read ~0.707 in windows 0-7 and ~0 in windows 8-15
    val sampleRate = 8000f
    val nFrames = 8000
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val s =
        if (i < nFrames / 2)
          (math.sin(2 * math.Pi * 440.0 * i / sampleRate) * 32767).toInt
        else 0
      pcm(i * 2) = (s & 0xFF).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val media = Seq((1L, "audio", wav, wav.length.toLong))
      .toDF("media_id", "modality", "payload", "n_bytes")
    val real = Multimodal.extractFeatures(media).collect().head
    assert(real.decode_ok, "WAV payload must decode")
    assert(real.features.length === Multimodal.MediaDecoder.FeatDim)
    for (w <- 0 until 8)
      assert(math.abs(real.features(w) - 0.707f) < 0.02, s"window $w should be sine RMS")
    for (w <- 8 until 16)
      assert(real.features(w) < 0.01, s"window $w should be silence")

    // corrupt WAV (RIFF/WAVE magic intact, body truncated) -> decode
    // failure, not a crash and not the stub path
    val broken = wav.take(32)
    val bad = Multimodal.extractFeatures(
      Seq((2L, "audio", broken, 32L)).toDF("media_id", "modality", "payload", "n_bytes"))
      .collect().head
    assert(!bad.decode_ok, "truncated WAV must report decode failure")
  }

  test("multimodal: REAL MP4 container metadata parse through the pipeline") {
    // hand-build a minimal ISO-BMFF file: ftyp + moov(mvhd v0 + trak(tkhd v0))
    // with timescale 600, duration 7200 (12 s), one 640x360 track
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 8 + 92)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(16); bb.put("ftypisom".getBytes("US-ASCII")); bb.putInt(0)
    bb.putInt(8 + 108 + 8 + 92); bb.put("moov".getBytes("US-ASCII"))
    bb.putInt(108); bb.put("mvhd".getBytes("US-ASCII"))
    bb.putInt(0)            // version 0 + flags
    bb.putInt(0); bb.putInt(0)            // ctime, mtime
    bb.putInt(600); bb.putInt(7200)       // timescale, duration -> 12 s
    bb.position(bb.position() + 108 - 8 - 20) // rate..next_track_id: zeros
    bb.putInt(8 + 92); bb.put("trak".getBytes("US-ASCII"))
    bb.putInt(92); bb.put("tkhd".getBytes("US-ASCII"))
    bb.putInt(0)                          // version 0 + flags
    bb.putInt(0); bb.putInt(0); bb.putInt(1); bb.putInt(0); bb.putInt(7200)
    bb.position(bb.position() + 8 + 2 + 2 + 2 + 2 + 36) // reserved..matrix
    bb.putInt(640 << 16); bb.putInt(360 << 16)          // 16.16 fixed w/h
    val mp4 = bb.array()

    val media = Seq((1L, "video", mp4, mp4.length.toLong))
      .toDF("media_id", "modality", "payload", "n_bytes")
    val real = Multimodal.extractFeatures(media).collect().head
    assert(real.decode_ok, "MP4 container must parse")
    assert(real.features(0) === 12.0f, "duration seconds from mvhd")
    assert(real.features(1) === 640.0f && real.features(2) === 360.0f, "tkhd 16.16 dims")
    assert(real.features(3) === 1.0f, "track count")

    // corrupt container (ftyp magic intact, moov truncated) -> decode failure
    val bad = Multimodal.extractFeatures(
      Seq((2L, "video", mp4.take(40), 40L)).toDF("media_id", "modality", "payload", "n_bytes"))
      .collect().head
    assert(!bad.decode_ok, "truncated MP4 must report decode failure")
  }

  test("multimodal: REAL animated-GIF frame decode — temporal luminance profile") {
    // write a 4-frame 8x8 animated GIF in memory (black, white, black,
    // white) with the ImageIO sequence writer; the 16 frame-sampled slots
    // map 4 per frame, so the profile must alternate ~0 / ~1 in runs of 4
    def solidFrame(rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until 4)
      writer.writeToSequence(new javax.imageio.IIOImage(
        solidFrame(if (f % 2 == 0) 0x000000 else 0xFFFFFF), null, null), null)
    writer.endWriteSequence()
    writer.dispose(); ios.close()
    val gif = bos.toByteArray

    val media = Seq((1L, "video", gif, gif.length.toLong))
      .toDF("media_id", "modality", "payload", "n_bytes")
    val real = Multimodal.extractFeatures(media).collect().head
    assert(real.decode_ok, "animated GIF must frame-decode")
    assert(real.features.length === Multimodal.MediaDecoder.FeatDim)
    for (i <- 0 until 16) {
      val expectWhite = (i / 4) % 2 == 1
      if (expectWhite) assert(real.features(i) > 0.95, s"slot $i should sample a white frame")
      else assert(real.features(i) < 0.05, s"slot $i should sample a black frame")
    }

    // a single-frame GIF degrades to the still-image 4x4 grid contract
    val bos1 = new java.io.ByteArrayOutputStream()
    val half = solidFrame(0x000000)
    for (y <- 0 until 8; x <- 4 until 8) half.setRGB(x, y, 0xFFFFFF)
    javax.imageio.ImageIO.write(half, "gif", bos1)
    val still = Multimodal.extractFeatures(
      Seq((2L, "image", bos1.toByteArray, 1L)).toDF("media_id", "modality", "payload", "n_bytes"))
      .collect().head
    assert(still.decode_ok)
    for (row <- 0 until 4; c <- 0 until 2)
      assert(still.features(row * 4 + c) < 0.05, s"cell ($row,$c) should be black")
    for (row <- 0 until 4; c <- 2 until 4)
      assert(still.features(row * 4 + c) > 0.95, s"cell ($row,$c) should be white")

    // header-truncated GIF (magic intact, cut inside the logical screen
    // descriptor / palette, zero complete frames) -> decode failure. A cut
    // mid-animation still yields the complete leading frames (ImageIO
    // reader leniency, documented on decodeGifFrames) — that case is a
    // successful partial decode, not a failure.
    val bad = Multimodal.extractFeatures(
      Seq((3L, "video", gif.take(20), 3L)).toDF("media_id", "modality", "payload", "n_bytes"))
      .collect().head
    assert(!bad.decode_ok, "header-truncated GIF must report decode failure")
  }

  test("dropped-hot-bucket metrics surface under a stable name via QueryExecutionListener") {
    import java.util.concurrent.ConcurrentHashMap
    val seen = new ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) => seen.put(name, row) }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // KNOWN SPARK LIMITATION (verified on 4.1.2): with AQE enabled, observed
    // metrics attached BELOW an exchange come back as an empty map — stage
    // re-planning drops the CollectMetrics accumulator linkage. The metric
    // contract therefore holds under spark.sql.adaptive.enabled=false (or
    // for observe nodes above the final exchange); documented in Dedup.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 3 identical docs in one band bucket, cap 2 -> the bucket is dropped
      // and the deterministic metric name reports it
      val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "alpha beta gamma delta"), (4L, "totally different words here"))
        .toDF("doc_id", "text")
      Dedup.minhashLsh(docs, "text", "doc_id", maxBucketSize = 2).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.containsKey("dedup_candidates_minhash") && System.nanoTime() < deadline)
        Thread.sleep(50)
      val row = seen.get("dedup_candidates_minhash")
      assert(row != null, s"metric not delivered; saw: ${seen.keySet()}")
      assert(row.getAs[Long]("dropped_hot_buckets") >= 1L, row.toString)
      assert(row.getAs[Long]("dropped_hot_bucket_rows") >= 3L, row.toString)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.listenerManager.unregister(listener)
    }
  }

  test("AQE-proof cap audit: exact drop/salvage counts with adaptive execution ON") {
    // the observe-metric counts vanish under AQE (previous test pins that
    // reality); candidateMetricsFromKeyed is the production-plan answer —
    // a plain aggregate AQE cannot drop. Hand-built buckets, cap 3:
    //   A: 6 rows, subs x=4 (dropped: 1 group / 4 rows), y=2 (salvaged: 2)
    //   B: 3 rows — cold; its sub-splits must count NOTHING
    //   C: 5 rows, one sub z=5 — residually hot (dropped: 1 group / 5 rows)
    val keyed = Seq(
      ("A", "x", 1L), ("A", "x", 2L), ("A", "x", 3L), ("A", "x", 4L),
      ("A", "y", 5L), ("A", "y", 6L),
      ("B", "p", 7L), ("B", "q", 8L), ("B", "r", 9L),
      ("C", "z", 10L), ("C", "z", 11L), ("C", "z", 12L), ("C", "z", 13L), ("C", "z", 14L))
      .toDF("bucket", "sub", "id")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val row = Dedup.candidateMetricsFromKeyed(keyed, Seq("bucket"), 3, Some("sub"))
        .collect().head
      assert(row.getAs[Long]("dropped_hot_buckets") === 2L, row.toString)
      assert(row.getAs[Long]("dropped_hot_bucket_rows") === 9L, row.toString)
      assert(row.getAs[Long]("salvaged_hot_bucket_rows") === 2L, row.toString)
      // no sub key -> the pre-salvage semantics: whole hot buckets drop
      val whole = Dedup.candidateMetricsFromKeyed(keyed, Seq("bucket"), 3, None)
        .collect().head
      assert(whole.getAs[Long]("dropped_hot_buckets") === 2L, whole.toString)
      assert(whole.getAs[Long]("dropped_hot_bucket_rows") === 11L, whole.toString)
      assert(whole.getAs[Long]("salvaged_hot_bucket_rows") === 0L, whole.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("minhashLshAudit (AQE on) reproduces the observe metrics (AQE off) exactly") {
    import java.util.concurrent.ConcurrentHashMap
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta"), (4L, "totally different words here"))
      .toDF("doc_id", "text")
    // observe side: AQE off (the only mode where the metrics are delivered)
    val seen = new ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) => seen.put(name, row) }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Dedup.minhashLsh(docs, "text", "doc_id", maxBucketSize = 2,
        metricTag = "audit_parity").count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.containsKey("dedup_candidates_audit_parity") && System.nanoTime() < deadline)
        Thread.sleep(50)
      val observed = seen.get("dedup_candidates_audit_parity")
      assert(observed != null, s"metric not delivered; saw: ${seen.keySet()}")
      // audit side: AQE ON — the regular aggregate must agree field-for-field
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val audit = Dedup.minhashLshAudit(docs, "text", "doc_id", maxBucketSize = 2)
        .collect().head
      for (f <- Seq("dropped_hot_buckets", "dropped_hot_bucket_rows",
                    "salvaged_hot_bucket_rows"))
        assert(audit.getAs[Long](f) === observed.getAs[Long](f),
          s"$f: audit=${audit.getAs[Long](f)} observe=${observed.getAs[Long](f)}")
      assert(audit.getAs[Long]("dropped_hot_bucket_rows") >= 3L, audit.toString)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.listenerManager.unregister(listener)
    }
  }

  test("content-hash split: version-stable, disjoint, fraction-correct") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"${SparkTestBase.Sf001}/documents.parquet")
    val split = TextAnalysis.contentHashSplit(docs, "text")
      .select("doc_id", "text", "split").cache()
    // the selling point: assignment is a function of CONTENT only — re-id
    // every row and each text keeps its split (no leakage across corpus
    // versions that renumber documents)
    val reIdd = TextAnalysis.contentHashSplit(
        docs.withColumn("doc_id", col("doc_id") + 1000000), "text")
      .select(col("text"), col("split").as("split2"))
    val moved = split.join(reIdd, "text")
      .filter(col("split") =!= col("split2")).count()
    assert(moved === 0, "re-identified documents changed split")
    // fractions: byte-resolution targets 230/13/13 of 256
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts.keySet === Set("train", "val", "test"))
    assert(math.abs(counts("train") / n - 230.0 / 256) < 0.05, counts.toString)
    // frac sum of 1.0 leaves test EMPTY (0xff boundary included in val)
    val all = TextAnalysis.contentHashSplit(docs, "text", trainFrac = 0.95, valFrac = 0.05)
    assert(all.filter(col("split") === "test").count() === 0)
    split.unpersist()
  }

  test("cluster-safe split: near-dup clusters never straddle the train/eval boundary") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // three near-dup families whose members have DIFFERENT content (so a
    // content-hash split could separate them) plus singletons
    val docs = (
      (1 to 6).map(i => (i.toLong, s"family-one shared prefix variant $i")) ++
      (11 to 14).map(i => (i.toLong, s"family-two shared prefix v$i")) ++
      Seq((21L, "a lone document"), (22L, "another unrelated text"))
    ).toDF("doc_id", "text")
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)) ++
      Seq((11L, 12L), (12L, 13L), (13L, 14L))).toDF("id_a", "id_b")
    val out = Dedup.clusterSafeSplit(docs.select("doc_id"), edges, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // THE invariant: one split per cluster
    out.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.map(_._3).distinct.length === 1, s"cluster $cl straddles splits: $rows")
    }
    // cluster labels are the min member id; singletons self-label
    assert(out.filter(_._2 == 1L).map(_._1).sorted.toSeq === (1L to 6L))
    assert(out.filter(_._2 == 11L).map(_._1).sorted.toSeq === (11L to 14L))
    assert(out.filter(r => r._1 >= 21L).forall(r => r._2 === r._1))
    // the contrast that motivates the operator: the per-document content
    // split CAN separate members of a near-dup family (leakage), the
    // cluster split by construction cannot
    val byContent = TextAnalysis.contentHashSplit(docs, "text", 0.5, 0.25)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val family1 = (1L to 6L).map(byContent).distinct
    assert(family1.length > 1,
      "fixture should demonstrate content-split leakage (different variants, different hashes)")
  }

  test("corpus dedup keeps exactly one representative per duplicate cluster") {
    val docs = spark.read.parquet(s"${SparkTestBase.Sf001}/documents.parquet")
    val out = Dedup.corpusDedup(docs, "text", "doc_id", jaccardThreshold = 0.5)
    val rows = out.select("doc_id", "cluster", "is_kept")
      .as[(Long, Long, Boolean)].collect()
    assert(rows.length === docs.count(), "one row per input document")
    // exactly one kept doc per cluster, and it is the cluster's min id
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val kept = members.filter(_._3)
      assert(kept.length === 1, s"cluster $cluster kept ${kept.length}")
      assert(kept.head._1 === cluster, "representative must be the min id")
      assert(members.map(_._1).min === cluster)
    }
  }

  test("quality-aware corpus dedup keeps the best-quality representative, id tiebreak") {
    // family A (ids 1,2): same prose, but doc 1 is punctuation-damaged ->
    // doc 2 must be kept even though doc 1 has the smaller id.
    // family B (ids 11,12): identical text -> identical quality -> min-id
    // tiebreak keeps 11. id 21: singleton keeps itself.
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, base + " !!!! #### $$$$ %%%% &&&& !!!! #### $$$$"),
      (2L, base),
      (11L, "an entirely different second family sentence with many plain words inside"),
      (12L, "an entirely different second family sentence with many plain words inside"),
      (21L, "a lone document that matches nothing else in this tiny corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.corpusDedupQuality(docs, "text", "doc_id",
        graft.operators.TextAnalysis.qualityScore(col("text")),
        jaccardThreshold = 0.5)
      .select("doc_id", "cluster", "quality", "is_kept")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.length === 5, "one row per input document")
    // exactly one kept doc per cluster
    out.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.count(_._4) === 1, s"cluster $cl kept != 1")
    }
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === 1L && byId(2L)._2 === 1L, "family A must cluster")
    assert(byId(2L)._3 > byId(1L)._3, "fixture must give doc 2 higher quality")
    assert(!byId(1L)._4 && byId(2L)._4,
      "cluster A must keep the higher-quality doc 2, not min-id doc 1")
    assert(byId(11L)._4 && !byId(12L)._4, "equal quality -> min-id tiebreak")
    assert(byId(21L)._4, "singleton keeps itself")
  }

  test("dedup clustering warns/throws on non-convergence (diameter > maxIters)") {
    // a 30-node chain has diameter 29: min-label propagation cannot finish
    // in 3 rounds, so the strict flag must throw instead of silently
    // returning non-minimal labels
    val ids = spark.range(0, 30).select(col("id").cast("long").as("doc_id"))
    val chain = spark.range(0, 29).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val ex = intercept[IllegalStateException] {
      Dedup.clusters(ids, chain, "doc_id", maxIters = 3,
        failOnNonConvergence = true).count()
    }
    assert(ex.getMessage.contains("did not converge"))
    // default path: completes (with a logged warning) and still labels the
    // prefix reachable within maxIters correctly
    val lenient = Dedup.clusters(ids, chain, "doc_id", maxIters = 3)
    assert(lenient.count() === 30)
    // and with enough iterations the same graph fully converges to label 0
    val full = Dedup.clusters(ids, chain, "doc_id", maxIters = 40)
    assert(full.select("cluster").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("semantic dedup: identical vectors cluster to the min id; distinct vectors stay kept") {
    val v1 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v2 = Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat)
    val emb = Seq((1L, v1), (2L, v1), (3L, v2)).toDF("vec_id", "embedding")
    val out = Dedup.clusters(emb.select(col("vec_id")),
        Dedup.embeddingNearDup(emb, "embedding", "vec_id", threshold = 0.95,
          metricTag = "sem_test"),
        "vec_id")
      .select(col("id"), col("cluster"), (col("id") === col("cluster")).as("is_kept"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)), out.toString)
  }

  test("band index: parquet roundtrip gives identical incremental verdicts; ingest never rebuilds") {
    val docs = spark.read.parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    val direct = canon(Dedup.incrementalDedup(corpus, batch, "text", "doc_id",
      jaccardThreshold = 0.5, metricTag = "idx_direct"))
    assert(direct.exists(!_._4) && direct.exists(_._4),
      "fixture must exercise both dup and novel batch docs")
    val dir = java.nio.file.Files.createTempDirectory("graft_band_index").toString
    try {
      // build ONCE, persist, read back — the production ingest artifact
      Dedup.buildBandIndex(corpus, "text", "doc_id", metricTag = "idx_build")
        .write.parquet(s"$dir/index")
      val persisted = spark.read.parquet(s"$dir/index")
      val viaIndex = canon(Dedup.incrementalDedupIndexed(persisted,
        corpus.select(col("doc_id"), col("text")), batch, "text", "doc_id",
        jaccardThreshold = 0.5))
      assert(viaIndex === direct,
        "persisted-index admission diverged from the direct path")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("incremental dedup: batch near-dup resolves to min-id corpus match; novel doc is_new") {
    val batch = Seq(
      (10L, docText.replace("kappa", "rho")),   // near dup of corpus docs 1/2
      (11L, "entirely novel content sharing no shingles with any corpus document whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(docs, batch, "text", "doc_id",
      jaccardThreshold = 0.5).collect()
    assert(out.length === 2, "one row per batch document")
    val dup = out.find(_.getAs[Long]("id") == 10L).get
    // docs 1 and 2 are identical, so jaccard ties — dup_of must be the min id
    assert(!dup.getAs[Boolean]("is_new") && dup.getAs[Long]("dup_of") === 1L,
      s"expected dup_of=1, got $dup")
    assert(dup.getAs[Double]("jaccard") >= 0.5)
    val novel = out.find(_.getAs[Long]("id") == 11L).get
    assert(novel.getAs[Boolean]("is_new") && novel.isNullAt(novel.fieldIndex("dup_of")))
    // empty batch: no rows, no failure
    assert(Dedup.incrementalDedup(docs, batch.filter($"doc_id" < 0), "text", "doc_id")
      .count() === 0)
  }

  test("chunking: stride windows tile every token; non-overlap reconstructs the doc") {
    import graft.operators.TextAnalysis
    val toks10 = (1 to 10).map(i => s"t$i")
    val d = Seq((1L, toks10.mkString(" ")), (2L, "   "), (3L, "solo")).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkDocuments(d, "text", "doc_id", chunkTokens = 4, stride = 4)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc1 = rows.filter(_.getAs[Long]("doc_id") == 1L)
    // stride == chunkTokens: chunks partition the token sequence exactly
    assert(doc1.map(_.getAs[String]("chunk_text")).mkString(" ") === toks10.mkString(" "))
    assert(doc1.map(_.getAs[Long]("n_chunk_tokens")).toSeq === Seq(4L, 4L, 2L))
    assert(doc1.map(_.getAs[Long]("chunk_start")).toSeq === Seq(0L, 4L, 8L))
    assert(!rows.exists(_.getAs[Long]("doc_id") == 2L), "whitespace-only doc emits no chunks")
    val solo = rows.filter(_.getAs[Long]("doc_id") == 3L)
    assert(solo.length === 1 && solo.head.getAs[String]("chunk_text") === "solo")
    // stride < chunkTokens: overlapping starts advance by stride until n
    val ov = TextAnalysis.chunkDocuments(d.filter($"doc_id" === 1L), "text", "doc_id",
      chunkTokens = 4, stride = 2).orderBy("chunk_idx").collect()
    assert(ov.map(_.getAs[Long]("chunk_start")).toSeq === Seq(0L, 2L, 4L, 6L, 8L))
    assert(ov.last.getAs[Long]("n_chunk_tokens") === 2L)
  }

  test("chunking matches a plain-Scala reference on randomized docs and geometries") {
    import graft.operators.TextAnalysis
    val rng = new scala.util.Random(20260812L)
    val docs = (1L to 100L).map { i =>
      val n = rng.nextInt(51) // 0..50 tokens
      (i, (1 to n).map(j => s"w${rng.nextInt(9)}_$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((chunk, stride) <- Seq((8, 8), (8, 3), (5, 5), (16, 1))) {
      val got = TextAnalysis.chunkDocuments(df, "text", "doc_id", chunk, stride)
        .select("doc_id", "chunk_idx", "chunk_start", "n_chunk_tokens", "chunk_text")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val want = docs.flatMap { case (id, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        if (toks.isEmpty) Seq.empty
        else (0 until toks.length by stride).zipWithIndex.map { case (start, idx) =>
          (id, idx.toLong, start.toLong,
            math.min(chunk, toks.length - start).toLong,
            toks.slice(start, start + chunk).mkString(" "))
        }
      }.toSet
      assert(got === want, s"chunk=$chunk stride=$stride diverged from reference")
    }
  }

  test("stratified sample: at most k per stratum, selection stable under physical layout") {
    import graft.operators.TextAnalysis
    val d = (1L to 200L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text")
    val stratum = pmod(col("doc_id"), lit(3))
    val s1 = TextAnalysis.stratifiedSample(d, "text", "doc_id", stratum, k = 10)
    val counts = s1.groupBy("stratum").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet === Set(0L, 1L, 2L) && counts.values.forall(_ == 10L), counts.toString)
    // content-keyed: identical selection from any partitioning / row order
    val picked = s1.select("doc_id").as[Long].collect().toSet
    val s2 = TextAnalysis.stratifiedSample(
      d.repartition(13).sortWithinPartitions(desc("doc_id")), "text", "doc_id", stratum, k = 10)
    assert(s2.select("doc_id").as[Long].collect().toSet === picked)
    // k larger than a stratum: the whole stratum survives
    val all = TextAnalysis.stratifiedSample(d, "text", "doc_id", stratum, k = 1000)
    assert(all.count() === 200L)
  }

  test("null-text edges: token counts are NULL (never -1), sampling stays deterministic") {
    import graft.operators.TextAnalysis
    val d = Seq((1L, null.asInstanceOf[String], "A"), (2L, "two words", "A"),
      (3L, "   ", "A")).toDF("id", "text", "grp")
    val counts = d.select(col("id"), TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.subwordCount(col("text")).as("ns")).collect()
      .map(r => r.getAs[Long]("id") ->
        (Option(r.get(r.fieldIndex("n"))), Option(r.get(r.fieldIndex("ns"))))).toMap
    // Spark's size(null) is -1; the kernels must surface NULL like SQL would
    assert(counts(1L) === ((None, None)), counts.toString)
    assert(counts(2L) === ((Some(2), Some(2))), counts.toString)
    assert(counts(3L) === ((Some(0), Some(0))), counts.toString)
    // a NULL-text doc emits no chunks, but IS sampled at its stratum's rate
    assert(TextAnalysis.chunkDocuments(d, "text", "id", 4, 4)
      .filter(col("id") === 1L).count() === 0)
    assert(TextAnalysis.mixtureSample(d, "text", col("grp"), Map("A" -> 1.0))
      .count() === 3, "rate 1.0 must keep the NULL-text doc too")
    assert(TextAnalysis.stratifiedSample(d, "text", "id", col("grp"), 10)
      .count() === 3)
  }

  test("samplers never clobber a pre-existing stratum column (__stratum sweep)") {
    // every sampler evaluates the caller's stratum EXPRESSION against the
    // original columns under the internal __stratum name; a frame that
    // already carries an unrelated `stratum` column must not leak into the
    // grouping, the rate lookup, or the budget lookup
    import graft.operators.TextAnalysis
    val d = (1L to 100L).map(i => (i, s"doc $i body", "GARBAGE", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "stratum", "lang")
    val byLang = col("lang")
    val strat = TextAnalysis.stratifiedSample(d, "text", "doc_id", byLang, k = 7)
    assert(strat.select("stratum").distinct().as[String].collect().toSet === Set("en", "de"))
    assert(strat.count() === 14)
    val mix = TextAnalysis.mixtureSample(d, "text", byLang, Map("de" -> 0.0))
    assert(mix.select("stratum").distinct().as[String].collect().toSet === Set("en"),
      "rate lookup must key on the expression, not the stale column")
    assert(mix.count() === 50)
    val qq = TextAnalysis.qualityQuantileFilter(
      d.withColumn("score", col("doc_id").cast("double")), "score", "doc_id", byLang, 1.0)
    assert(qq.select("stratum").distinct().as[String].collect().toSet === Set("en", "de"))
    val tb = TextAnalysis.tokenBudgetFill(
      d.withColumn("score", col("doc_id").cast("double")), "text", "doc_id",
      "score", byLang, Map("de" -> 0L))
    assert(tb.select("stratum").distinct().as[String].collect().toSet === Set("en"),
      "budget lookup must key on the expression, not the stale column")
  }

  test("mixture resampling: per-stratum rates, nested samples, content-keyed") {
    import graft.operators.TextAnalysis
    val d = (1L to 2000L).map(i => (i, s"mixture doc $i payload"))
      .toDF("doc_id", "text")
    val stratum = concat(lit("s"), pmod(col("doc_id"), lit(2)))
    def kept(rates: Map[String, Double]) =
      TextAnalysis.mixtureSample(d, "text", stratum, rates)
        .select("doc_id").as[Long].collect().toSet
    val half = kept(Map("s0" -> 0.5, "s1" -> 0.0))
    // rate accuracy: ~50% of s0 (binomial, 1000 trials), exactly 0 of s1
    assert(math.abs(half.count(_ % 2 == 0) - 500) < 75, s"s0 kept ${half.count(_ % 2 == 0)}")
    assert(!half.exists(_ % 2 == 1), "rate-0 stratum leaked rows")
    // unmapped strata keep defaultRate = 1.0
    assert(kept(Map("s0" -> 0.5)).count(_ % 2 == 1) === 1000)
    // nested: the 25% sample is a subset of the 50% sample
    val quarter = kept(Map("s0" -> 0.25, "s1" -> 0.0))
    assert(quarter.subsetOf(half), "lower-rate sample must nest inside higher-rate")
    // content-keyed: re-identified rows keep the same texts
    val reIdd = TextAnalysis.mixtureSample(
        d.withColumn("doc_id", col("doc_id") + 5000000L), "text",
        concat(lit("s"), pmod(col("doc_id") - 5000000L, lit(2))),
        Map("s0" -> 0.5, "s1" -> 0.0))
      .select((col("doc_id") - 5000000L).as("doc_id")).as[Long].collect().toSet
    assert(reIdd === half, "selection changed when only row ids changed")
  }

  test("token budget fill: best-first admission, partial-overflow of the last doc, per-stratum budgets") {
    import graft.operators.TextAnalysis
    def doc(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, "A", 3.0, doc(5)), (2L, "A", 2.0, doc(5)), (3L, "A", 1.0, doc(5)),
      (4L, "B", 9.0, doc(20)),  // single doc larger than B's whole budget
      (5L, "B", 8.0, doc(1)),
      (6L, "C", 0.0, doc(7))    // stratum with no explicit budget
    ).toDF("id", "grp", "score", "text")
    val kept = TextAnalysis.tokenBudgetFill(d, "text", "id", "score", col("grp"),
        Map("A" -> 10L, "B" -> 10L))
      .select("id", "tokens_before").as[(Long, Long)].collect().toMap
    // A: docs 1 (before 0) and 2 (before 5) admitted; doc 3 (before 10) not
    assert(kept.keySet === Set(1L, 2L, 4L, 6L), kept.toString)
    assert(kept(2L) === 5L)
    // B: rank-1 doc overflows the budget alone but is still admitted;
    // doc 5 (before 20 >= 10) is cut
    assert(kept(4L) === 0L)
    // C: defaultBudget admits everything
    assert(kept(6L) === 0L)
  }

  test("quality quantile filter keeps exactly the per-stratum top fraction") {
    import graft.operators.TextAnalysis
    // stratum A: 11 rows, scores 0..10 -> percent_rank = (pos-1)/10; keeping
    // pr <= 0.25 means scores 10, 9, 8. Stratum B: one row, pr 0, kept.
    val d = ((0 until 11).map(i => (i.toLong, "A", i.toDouble)) :+ (100L, "B", 5.0))
      .toDF("id", "grp", "score")
    val kept = TextAnalysis.qualityQuantileFilter(d, "score", "id", col("grp"), keepFrac = 0.25)
      .select("id", "grp", "score").collect()
    val aScores = kept.filter(_.getAs[String]("grp") == "A").map(_.getAs[Double]("score")).toSet
    assert(aScores === Set(10.0, 9.0, 8.0), s"got $aScores")
    assert(kept.exists(_.getAs[String]("grp") == "B"), "singleton stratum must be kept")
    // keepFrac = 1.0 keeps everything
    assert(TextAnalysis.qualityQuantileFilter(d, "score", "id", col("grp"), 1.0).count() === 12L)
  }

  test("snapshot diff classifies added/removed/changed/unchanged by content hash") {
    val oldSnap = Seq(
      (1L, "stable doc"),
      (2L, "will change"),
      (3L, "will be removed"),
      (5L, "")                       // empty text on one side only
    ).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "stable doc"),
      (2L, "has changed"),
      (4L, "newly crawled"),
      (5L, "")                       // empty == empty -> unchanged
    ).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set(
      (1L, "unchanged", Some(10L), Some(10L)),
      (2L, "changed", Some(11L), Some(11L)),
      (3L, "removed", Some(15L), None),
      (4L, "added", None, Some(13L)),
      (5L, "unchanged", Some(0L), Some(0L))))
  }

  test("PMI collocations: exact counts, monotone-lift ranking, min-pair gate") {
    import graft.operators.TextAnalysis
    // "new york" appears 5x (the glued pair); "the cat"/"the dog" spread
    // "the" over two partners; "rare pair" appears once (gated out at 5)
    val docs = (
      Seq.fill(5)("new york") ++
      Seq.fill(5)("the cat sat") ++
      Seq.fill(5)("the dog ran") ++
      Seq("rare pair")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "text", minPairCount = 5L, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // corpus: T_u = 10 + 15 + 15 + 2 = 42 tokens,
    //         T_p = 5 + 10 + 10 + 1 = 26 adjacent pairs
    // new york: pair 5, c(new)=5, c(york)=5 -> (5/26)*(42/5)*(42/5)
    val liftNewYork = ((5.0 / 26) * (42.0 / 5)) * (42.0 / 5)
    // the cat: pair 5, c(the)=10, c(cat)=5 -> half new york's lift
    val liftTheCat = ((5.0 / 26) * (42.0 / 10)) * (42.0 / 5)
    // new/york, cat/sat, dog/ran all tie at the max lift (pair 5, both
    // unigrams 5): the deterministic (lift DESC, w1, w2) cut orders them
    // lexically, then the two "the" pairs at half that lift
    assert(got.map(g => (g._1, g._2)).toSeq === Seq(
      ("cat", "sat"), ("dog", "ran"), ("new", "york"),
      ("the", "cat"), ("the", "dog")))
    val ny = got.find(g => g._1 == "new").get
    assert((ny._3, ny._4, ny._5) === (5L, 5L, 5L))
    assert(ny._6 === liftNewYork)
    assert(got.find(g => g._2 == "cat").filter(_._1 == "the").forall(_._6 === liftTheCat))
    // "rare pair" (count 1) never surfaces
    assert(!got.exists(g => g._1 == "rare"))
  }

  test("snapshot diff matches a brute classification on randomized frames") {
    val rng = new scala.util.Random(20260814L)
    val ids = 1L to 200L
    // ~half the ids on each side, ~half of the survivors text-bumped —
    // all four classes appear with high probability at n=200
    val oldM = ids.filter(_ => rng.nextBoolean())
      .map(i => i -> s"doc$i v${rng.nextInt(2)}").toMap
    val newM = ids.filter(_ => rng.nextBoolean())
      .map(i => i -> s"doc$i v${rng.nextInt(2)}").toMap
    val got = Dedup.snapshotDiff(
        oldM.toSeq.toDF("doc_id", "text"), newM.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    val want = (oldM.keySet ++ newM.keySet).map { id =>
      (oldM.get(id), newM.get(id)) match {
        case (None, Some(b))           => (id, "added", None, Some(b.length.toLong))
        case (Some(a), None)           => (id, "removed", Some(a.length.toLong), None)
        case (Some(a), Some(b)) =>
          (id, if (a == b) "unchanged" else "changed",
            Some(a.length.toLong), Some(b.length.toLong))
        case (None, None)              => sys.error("unreachable")
      }
    }
    assert(got === want)
    assert(Set("added", "removed", "changed", "unchanged")
      .subsetOf(got.map(_._2)), "fixture must exercise all four classes")
  }

  test("PMI collocations match a brute reference on a randomized corpus") {
    import graft.operators.TextAnalysis
    val rng = new scala.util.Random(20260814L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (1L to 120L).map { i =>
      val n = rng.nextInt(8) // 0..7 tokens; empties exercise the guard
      (i, (1 to n).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val toks = docs.map(_._2.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    val uni = toks.flatten
    val tu = uni.size.toLong
    val uc = uni.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairsAll = toks.filter(_.size >= 2).flatMap(ts => ts.zip(ts.tail))
    val tp = pairsAll.size.toLong
    val want = pairsAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2L).toSeq
      .map { case ((w1, w2), pn) =>
        // the operator's exact fixed-association double tree
        val lift = ((pn.toDouble / tp) * (tu.toDouble / uc(w1))) * (tu.toDouble / uc(w2))
        (w1, w2, pn, uc(w1), uc(w2), lift)
      }
      .sortBy(t => (-t._6, t._1, t._2)).take(10)
    val got = TextAnalysis.pmiCollocations(
        docs.toDF("doc_id", "text"), "text", minPairCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(want.nonEmpty && got === want)
  }
}
