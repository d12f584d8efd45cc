package graft.functions

/**
 * Fuzzy string-similarity kernels, re-derived from the published semantics of
 * thefuzz/rapidfuzz (the reference's scoring library; see
 * /root/reference/main.py:56-61 and /root/reference/requirements.txt:3).
 *
 * All methods are pure, allocation-light static kernels so that Catalyst
 * codegen can call them directly from generated Java (top-level Scala objects
 * emit static forwarders).
 *
 * Semantics notes (pinned; unit-tested in FuzzSpec):
 *  - `ratio` is the *indel* ratio: `100 * 2*LCS(a,b) / (|a|+|b|)`, half-even
 *    rounded to Int — NOT `100*(1 - editDistance/maxLen)`. Both empty -> 100.
 *  - `partialRatio` takes the max `ratio` of the shorter string against every
 *    alignment window of the longer one (including windows hanging off either
 *    end, per rapidfuzz's alignment range).
 *  - `tokenSetRatio` pre-processes both sides (lowercase; non-alphanumeric ->
 *    space; trim), tokenizes on whitespace, and scores
 *    max(ratio(sect, sect+diffA), ratio(sect, sect+diffB), ratio(c1, c2)).
 */
object Fuzz {

  /** Length of the longest common subsequence.
    *
    * Hot path: when the shorter string is ASCII and <= 64 chars (every name
    * and username in the domain), uses the Hyyro bit-parallel LLCS — the
    * whole DP row lives in ONE 64-bit word, one add/or/and per text char —
    * instead of the O(|a|*|b|) two-row DP. ~10x on name-length inputs, zero
    * heap allocation beyond the 128-entry mask table. Falls back to the DP
    * for long or non-ASCII inputs.
    */
  def llcs(a: CharSequence, b: CharSequence): Int = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.length == 0) return 0
    val masks = asciiMasksTL(s)
    if (masks != null) try llcsBit(s.length, masks, t) finally releaseMasks()
    else llcsDp(s, t)
  }

  /** Reusable per-thread mask table (r20): [[asciiMasks]] allocates and
    * zeroes a 1 KiB long[128] PER CALL, and the composite score makes up to
    * ~10 llcs calls per scored pair — on the 2.5M-pair wide-roster bench
    * leg that is tens of GB of short-lived garbage doing nothing (guide
    * §1.2 "per-task work"). The buffer records which slots it dirtied
    * (<= 64 pattern chars) and clears exactly those at the START of the
    * next fill, so a reused table is always equivalent to a fresh one —
    * same masks, same LLCS, bit-identical scores. NOT safe to hold across
    * a nested llcs/asciiMasksTL call on the same thread; every use here is
    * build-then-consume before the next build (partialRatio holds it only
    * across llcsBit calls, which never re-fill). The `held` flag enforces
    * that discipline: a re-entrant asciiMasksTL while a caller still holds
    * the buffer throws instead of silently corrupting LLCS scores (the
    * failure mode a future nested llcs call would otherwise introduce);
    * holders release in a finally, so the one-store/one-branch cost is all
    * the hot path pays. */
  private final class MaskBuf {
    val masks = new Array[Long](128)
    val used = new Array[Char](64)
    var n = 0
    var held = false
  }
  private val tlMask: ThreadLocal[MaskBuf] =
    ThreadLocal.withInitial(() => new MaskBuf)

  /** [[asciiMasks]] semantics over the thread-local buffer: identical mask
    * content for ASCII patterns <= 64 chars, null otherwise (a partial fill
    * before the null return stays recorded in `used`, so the next call
    * clears it). */
  private def asciiMasksTL(p: CharSequence): Array[Long] = {
    val b = tlMask.get()
    if (b.held) throw new IllegalStateException(
      "asciiMasksTL re-entered while its thread-local mask buffer is held: " +
        "a nested llcs/partialRatio call would corrupt LLCS scores")
    var i = 0
    while (i < b.n) { b.masks(b.used(i)) = 0L; i += 1 }
    b.n = 0
    val m = p.length
    if (m > 64) return null
    i = 0
    while (i < m) {
      val c = p.charAt(i)
      if (c >= 128) return null
      b.masks(c) |= 1L << i
      b.used(b.n) = c
      b.n += 1
      i += 1
    }
    b.held = true
    b.masks
  }

  /** Releases the thread-local mask buffer (no-op when the last
    * asciiMasksTL returned null — `held` is only set on success). */
  private def releaseMasks(): Unit = tlMask.get().held = false

  /** Per-char match masks of an ASCII pattern (bit i set in masks(c) iff
    * pattern(i)==c), or null when the pattern is non-ASCII or longer than
    * one machine word. */
  private[graft] def asciiMasks(p: CharSequence): Array[Long] = {
    val m = p.length
    if (m > 64) return null
    val masks = new Array[Long](128)
    var i = 0
    while (i < m) {
      val c = p.charAt(i)
      if (c >= 128) return null
      masks(c) |= 1L << i
      i += 1
    }
    masks
  }

  /** Bit-parallel LLCS (pattern length m <= 64, masks from [[asciiMasks]]).
    * V starts all-ones; each text char folds its match mask in with one
    * add-carry; the LCS length is the count of cleared bits among the low m.
    */
  private[graft] def llcsBit(m: Int, masks: Array[Long], text: CharSequence): Int =
    llcsBitRange(m, masks, text, 0, text.length)

  /** [[llcsBit]] over text[from, until) — the alignment-window form, so
    * [[partialRatio]] scans windows without allocating a subSequence view
    * per window (r20: ~n+m short-lived objects per scored pair). */
  private[graft] def llcsBitRange(m: Int, masks: Array[Long],
                                  text: CharSequence, from: Int, until: Int): Int = {
    var v = -1L
    var j = from
    while (j < until) {
      val c = text.charAt(j)
      val mask = if (c < 128) masks(c) else 0L
      val u = v & mask
      v = (v + u) | (v & ~mask)
      j += 1
    }
    val low = if (m == 64) -1L else (1L << m) - 1L
    m - java.lang.Long.bitCount(v & low)
  }

  /** O(|s|*|t|) two-row DP fallback (s is the shorter string). */
  private[graft] def llcsDp(s: CharSequence, t: CharSequence): Int = {
    val sl = s.length
    val tl = t.length
    val prev = new Array[Int](sl + 1)
    val curr = new Array[Int](sl + 1)
    var i = 0
    while (i < tl) {
      val tc = t.charAt(i)
      var j = 0
      while (j < sl) {
        curr(j + 1) =
          if (s.charAt(j) == tc) prev(j) + 1
          else math.max(prev(j + 1), curr(j))
        j += 1
      }
      System.arraycopy(curr, 0, prev, 0, sl + 1)
      i += 1
    }
    prev(sl)
  }

  /** Unnormalized indel distance: insertions + deletions only. */
  def indelDistance(a: CharSequence, b: CharSequence): Int =
    a.length + b.length - 2 * llcs(a, b)

  private def rint100(x: Double): Int = math.rint(x).toInt

  /** thefuzz `fuzz.ratio`: half-even-rounded 100*2*LCS/(|a|+|b|). */
  def ratio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val lensum = a.length + b.length
    if (lensum == 0) return 100
    if (a == b) return 100
    rint100(200.0 * llcs(a, b) / lensum)
  }

  /** Exact double-precision ratio (used internally by partial/token scorers
    * before the final rounding, mirroring rapidfuzz's float pipeline). */
  def ratioD(a: CharSequence, b: CharSequence): Double = {
    val lensum = a.length + b.length
    if (lensum == 0) return 100.0
    200.0 * llcs(a, b) / lensum
  }

  /** thefuzz `fuzz.partial_ratio`: best window alignment of the shorter
    * string inside the longer one. The shorter string's match masks are
    * built ONCE and reused for every alignment window, so the whole scan is
    * O((n+m)*m) single-word ops instead of O((n+m)*m^2) DP cells. */
  def partialRatio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    if (a.length == 0 && b.length == 0) return 100
    if (a.length == 0 || b.length == 0) return 0
    if (a == b) return 100
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val m = s.length
    val n = l.length
    val masks = asciiMasksTL(s)
    var best = 0.0
    try {
      // alignment range includes partially-overlapping windows at both ends
      var start = -(m - 1)
      while (start <= n - 1 && best < 100.0) {
        val from = math.max(0, start)
        val until = math.min(n, start + m)
        val lcs =
          if (masks != null) llcsBitRange(m, masks, l, from, until)
          else llcsDp(l.subSequence(from, until), s)
        val sc = 200.0 * lcs / (m + (until - from))
        if (sc > best) best = sc
        start += 1
      }
    } finally releaseMasks()
    rint100(best)
  }

  /** rapidfuzz `default_process`: lowercase, replace non-alphanumerics
    * (incl. '_') with space, trim. */
  def fullProcess(s: String): String = {
    if (s == null) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else sb.append(' ')
      i += 1
    }
    sb.toString.trim
  }

  /** Whitespace tokenizer equivalent to `processed.split(" +")` on
    * [[fullProcess]] output (trimmed; ' ' is the only separator char by
    * construction) — hand-rolled because String.split with a multi-char
    * pattern compiles a regex PER CALL, which dominated the token-set
    * kernels' per-pair cost (r20; guide §1.2). */
  private def tokens(processed: String): Array[String] = {
    val len = processed.length
    if (len == 0) return Array.empty
    var n = 1
    var i = 0
    var inGap = false
    while (i < len) {
      val g = processed.charAt(i) == ' '
      if (g && !inGap) n += 1
      inGap = g
      i += 1
    }
    val out = new Array[String](n)
    var k = 0
    var from = 0
    i = 0
    while (i <= len) {
      if (i == len || processed.charAt(i) == ' ') {
        if (i > from) { out(k) = processed.substring(from, i); k += 1 }
        from = i + 1
      }
      i += 1
    }
    if (k == n) out
    else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k).asInstanceOf[Array[String]]
  }

  /** Sorted + de-duplicated in place-ish (allocation-light). */
  private def sortedDistinct(ts: Array[String]): Array[String] = {
    java.util.Arrays.sort(ts.asInstanceOf[Array[AnyRef]])
    var n = 0
    var i = 0
    while (i < ts.length) {
      if (i == 0 || ts(i) != ts(i - 1)) { ts(n) = ts(i); n += 1 }
      i += 1
    }
    if (n == ts.length) ts else java.util.Arrays.copyOf(ts.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[String]]
  }

  /** thefuzz `fuzz.token_sort_ratio`. */
  def tokenSortRatio(a: String, b: String): Int = {
    val ta = tokens(fullProcess(a))
    val tb = tokens(fullProcess(b))
    if (ta.isEmpty || tb.isEmpty) return 0
    java.util.Arrays.sort(ta.asInstanceOf[Array[AnyRef]])
    java.util.Arrays.sort(tb.asInstanceOf[Array[AnyRef]])
    rint100(ratioD(ta.mkString(" "), tb.mkString(" ")))
  }

  /** Sorted-distinct token array of `fullProcess(s)` — side A's
    * preprocessing of [[tokenSetRatio]], exposed so composite scorers can
    * compute it ONCE and share it across several B sides
    * ([[compositeFuzz]]). */
  private[graft] def preprocTokens(s: String): Array[String] =
    sortedDistinct(tokens(fullProcess(s)))

  /** thefuzz `fuzz.token_set_ratio` (reference main.py:58-61): one sorted
    * merge produces the intersection and both difference strings directly —
    * no set objects, no repeated hashing. */
  def tokenSetRatio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    tokenSetRatioPre(preprocTokens(a), b)
  }

  /** [[tokenSetRatio]] with side A pre-tokenized: bit-identical to
    * `tokenSetRatio(a, b)` when `ta == preprocTokens(a)` and `b` non-null. */
  private[graft] def tokenSetRatioPre(ta: Array[String], b: String): Int =
    tokenSetRatioPre2(ta, sortedDistinct(tokens(fullProcess(b))))

  /** [[tokenSetRatio]] with BOTH sides pre-tokenized: bit-identical when
    * `ta == preprocTokens(a)` and `tb == preprocTokens(b)` — the merge
    * consumes only the sorted-distinct token arrays, so hoisting either
    * side's preprocessing out of a scoring loop cannot change a score. */
  private[graft] def tokenSetRatioPre2(ta: Array[String], tb: Array[String]): Int = {
    if (ta.isEmpty || tb.isEmpty) return 0
    val sect = new java.lang.StringBuilder
    val diffA = new java.lang.StringBuilder
    val diffB = new java.lang.StringBuilder
    var i = 0
    var j = 0
    var sectN = 0
    while (i < ta.length && j < tb.length) {
      val c = ta(i).compareTo(tb(j))
      if (c == 0) { appendTok(sect, ta(i)); sectN += 1; i += 1; j += 1 }
      else if (c < 0) { appendTok(diffA, ta(i)); i += 1 }
      else { appendTok(diffB, tb(j)); j += 1 }
    }
    while (i < ta.length) { appendTok(diffA, ta(i)); i += 1 }
    while (j < tb.length) { appendTok(diffB, tb(j)); j += 1 }
    if (sectN > 0 && (diffA.length == 0 || diffB.length == 0)) return 100
    val sectStr = sect.toString
    val combined1 = joinNonEmpty(sectStr, diffA.toString)
    val combined2 = joinNonEmpty(sectStr, diffB.toString)
    val r1 = ratioD(sectStr, combined1)
    val r2 = ratioD(sectStr, combined2)
    val r3 = ratioD(combined1, combined2)
    rint100(math.max(r1, math.max(r2, r3)))
  }

  /** The five fuzzy terms of the match composite
    * ([[graft.scoring.MatchScore.scoreFromInvariants]]) fused into one call:
    *
    *   ratio(u,en)*0.2 + partialRatio(u,en)*0.2 + tokenSetRatio(u,en)*0.2
    *     + tokenSetRatio(u,l)*0.3 + tokenSetRatio(u,f)*0.2
    *
    * evaluated with the IDENTICAL arithmetic the unfused Catalyst tree
    * produced — one int->double promotion and one multiply per term, adds
    * folded left to right — so composite scores are bit-for-bit unchanged
    * (FuzzGoldenSpec re-checks every fixture pair through this path).
    *
    * The fusion exists to SHARE the username-side token preprocessing:
    * `fullProcess(u)` + tokenize + sort + dedup runs ONCE here and feeds
    * all three token-set terms, where the unfused tree re-derived it per
    * term — 3x the tokenization allocation on every cross-join row of the
    * scoring stage (guide §1.2 "per-task work").
    *
    * Inputs must be non-null: the [[FuzzComposite]] expression wrapping
    * this is null-safe (any null input -> SQL NULL), exactly like the sum
    * of null-safe binary kernels it replaces. */
  def compositeFuzz(u: String, f: String, l: String, en: String): Double = {
    val r = ratio(u, en)
    val p = partialRatio(u, en)
    val tu = preprocTokens(u)
    val t1 = tokenSetRatioPre(tu, en)
    val t2 = tokenSetRatioPre(tu, l)
    val t3 = tokenSetRatioPre(tu, f)
    r * 0.2 + p * 0.2 + t1 * 0.2 + t2 * 0.3 + t3 * 0.2
  }

  /** Per-thread memo of the username-side derivations of [[compositeFuzzU8]]:
    * the exact match pipeline's scoring loop is a broadcast nested-loop join
    * — ONE stream username scored against every broadcast name before the
    * next stream row — so consecutive calls share `u` and the UTF8String ->
    * String decode + [[preprocTokens]] (lowercase, tokenize, sort, dedup)
    * are loop invariants this memo hoists out of the O(U x E) inner loop
    * (r21, guide §1.2 "per-task work"). One entry suffices; a miss costs one
    * byte-compare. The cached UTF8String is a defensive copy because codegen
    * hands in views over reused row buffers. */
  private final class UMemo {
    var lastU8: org.apache.spark.unsafe.types.UTF8String = null
    var uStr: String = null
    var uToks: Array[String] = null
  }
  private val tlUMemo: ThreadLocal[UMemo] = ThreadLocal.withInitial(() => new UMemo)

  /** [[compositeFuzz]] with the username passed as UTF8String and its
    * derivations memoized per thread — bit-identical scores (the memo caches
    * pure functions of `u` only; [[tokenSetRatioPre]] never mutates the
    * shared token array). */
  def compositeFuzzU8(u: org.apache.spark.unsafe.types.UTF8String,
                      f: String, l: String, en: String): Double = {
    val m = tlUMemo.get()
    if (m.lastU8 == null || !m.lastU8.equals(u)) {
      m.lastU8 = u.clone()
      m.uStr = m.lastU8.toString
      m.uToks = preprocTokens(m.uStr)
    }
    val uStr = m.uStr
    val r = ratio(uStr, en)
    val p = partialRatio(uStr, en)
    val t1 = tokenSetRatioPre(m.uToks, en)
    val t2 = tokenSetRatioPre(m.uToks, l)
    val t3 = tokenSetRatioPre(m.uToks, f)
    r * 0.2 + p * 0.2 + t1 * 0.2 + t2 * 0.3 + t3 * 0.2
  }

  /** [[preprocTokens]] as an ArrayData factory for the hoisting expression
    * ([[graft.functions.FuzzPreprocTokens]]): evaluated once per EMPLOYEE
    * row on the broadcast side instead of once per scored pair. */
  def preprocTokensArrayData(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = preprocTokens(s.toString)
    val out = new Array[AnyRef](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ArrayData(array<string>) -> Array[String] (the kernel-side decode of a
    * hoisted token column). */
  def toStringArray(a: org.apache.spark.sql.catalyst.util.ArrayData): Array[String] = {
    val n = a.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) { out(i) = a.getUTF8String(i).toString; i += 1 }
    out
  }

  /** [[compositeFuzzU8]] with the EMPLOYEE-side token preprocessing hoisted:
    * `fToks`/`lToks`/`enToks` must be `preprocTokens` of the same f/l/en the
    * unfused form would have processed (the [[FuzzPreprocTokens]] column,
    * computed once per roster row on the broadcast side) — then every score
    * is bit-identical: the token-set merge consumes only the sorted-distinct
    * arrays, and ratio/partialRatio still see the raw `en`. Drops the
    * per-pair fullProcess/tokenize/sort/dedup of all three B sides — the
    * dominant residual cost of the 2.5M-pair wide scoring leg after r20's
    * kernel pass (thread-dump evidence in OPTIMIZATION_r21.md). */
  def compositeFuzzPre(u: org.apache.spark.unsafe.types.UTF8String, en: String,
                       fToks: org.apache.spark.sql.catalyst.util.ArrayData,
                       lToks: org.apache.spark.sql.catalyst.util.ArrayData,
                       enToks: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val m = tlUMemo.get()
    if (m.lastU8 == null || !m.lastU8.equals(u)) {
      m.lastU8 = u.clone()
      m.uStr = m.lastU8.toString
      m.uToks = preprocTokens(m.uStr)
    }
    val uStr = m.uStr
    val r = ratio(uStr, en)
    val p = partialRatio(uStr, en)
    val t1 = tokenSetRatioPre2(m.uToks, toStringArray(enToks))
    val t2 = tokenSetRatioPre2(m.uToks, toStringArray(lToks))
    val t3 = tokenSetRatioPre2(m.uToks, toStringArray(fToks))
    r * 0.2 + p * 0.2 + t1 * 0.2 + t2 * 0.3 + t3 * 0.2
  }

  // ---- integer upper bounds of the composite's fuzzy terms ----------------
  //
  // Filter-then-verify for the thresholded match: a pair whose bound on the
  // composite is below the threshold cannot qualify, so its three LLCS scans
  // and three token-set merges never run. Every bound rests on one fact:
  // an LCS pairs equal chars, so it matches at most min(count_a(c),
  // count_b(c)) copies of each char c — the "bag distance" cap
  // LCS <= sum over c of min(count_a(c), count_b(c)). Counting chars in
  // buckets (several chars per bucket) only raises each min, so the sum
  // stays an upper bound.
  //
  // A bound profile of a string s is a long array, computed once per row
  // on either side of the join:
  //   [0]        s.length (bits 0-15; UTF-16 units, as the kernels count),
  //              the length of preprocTokens(s) joined by ' ' (bits 16-31),
  //              the token count n (bits 32-47), and bit 63 set when any
  //              field overflows (the profile then bounds nothing)
  //   [1, 5)     bucket counts of s, one byte lane per bucket
  //   [5, 9)     bucket counts of the joined token string
  //   [9, 9+n)   String.hashCode of each token
  // Lanes hold counts up to 127, so the per-pair sum of minima runs as
  // SWAR arithmetic on four longs per histogram.

  /** Histogram buckets: 'a'..'z', one for digits, one for ' ', and one
    * catch-all for every other char (punctuation, upper case, non-ASCII);
    * 29 of the 32 byte lanes. */
  private def bucket(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= '0' && c <= '9') 26
    else if (c == ' ') 27
    else 28

  private final val RawHist = 1
  private final val JoinedHist = 5
  private final val TokHashes = 9
  private final val Overflow = 1L << 63

  /** Counts `s`'s chars into the byte lanes of `lanes` (32 of them). */
  private def countInto(lanes: Array[Int], s: String): Unit = {
    var i = 0
    while (i < s.length) { lanes(bucket(s.charAt(i))) += 1; i += 1 }
  }

  /** Packs 32 lane counts into out(at until at+4); false when one exceeds 127. */
  private def packLanes(lanes: Array[Int], out: Array[Long], at: Int): Boolean = {
    var k = 0
    while (k < 32) {
      if (lanes(k) > 127) return false
      out(at + k / 8) |= lanes(k).toLong << (8 * (k % 8))
      k += 1
    }
    true
  }

  /** The bound profile of `s` (layout above). */
  private[graft] def boundProfile(s: String): Array[Long] = {
    val toks = preprocTokens(s)
    val out = new Array[Long](TokHashes + toks.length)
    val raw = new Array[Int](32)
    countInto(raw, s)
    val joined = new Array[Int](32)
    var joinedLen = 0
    var i = 0
    while (i < toks.length) {
      if (i > 0) { joined(bucket(' ')) += 1; joinedLen += 1 }
      countInto(joined, toks(i))
      joinedLen += toks(i).length
      out(TokHashes + i) = toks(i).hashCode
      i += 1
    }
    val fits = s.length <= 0xFFFF && joinedLen <= 0xFFFF && toks.length <= 0xFFFF &&
      packLanes(raw, out, RawHist) && packLanes(joined, out, JoinedHist)
    out(0) = if (!fits) Overflow
      else s.length.toLong | (joinedLen.toLong << 16) | (toks.length.toLong << 32)
    out
  }

  /** [[boundProfile]] as the column value of [[graft.functions.FuzzBoundProfile]]. */
  def boundProfileArrayData(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(boundProfile(s.toString))

  private type Prof = org.apache.spark.sql.catalyst.util.ArrayData

  private def overflows(a: Prof, b: Prof): Boolean =
    (a.getLong(0) | b.getLong(0)) < 0L
  private def rawLen(p: Prof): Int = (p.getLong(0) & 0xFFFF).toInt
  private def joinedLen(p: Prof): Int = ((p.getLong(0) >>> 16) & 0xFFFF).toInt
  private def tokCount(p: Prof): Int = ((p.getLong(0) >>> 32) & 0xFFFF).toInt

  private final val LaneHigh = 0x8080808080808080L
  private final val EvenLanes = 0x00FF00FF00FF00FFL

  /** Sum over buckets of the smaller count of the histograms at `at`: the
    * LCS cap of the two strings. Per long: (x | high bits) - y keeps each
    * lane's high bit exactly where x >= y (lanes are <= 127, so no borrow
    * crosses a lane); that picks min(x, y) per lane, and pairs of lanes are
    * summed into 16-bit fields that a final multiply adds up. */
  private def sumMin(a: Prof, b: Prof, at: Int): Int = {
    var acc = 0L
    var i = at
    while (i < at + 4) {
      val x = a.getLong(i)
      val y = b.getLong(i)
      val xGe = ((((x | LaneHigh) - y) & LaneHigh) >>> 7) * 0xFF
      val mn = (y & xGe) | (x & ~xGe)
      acc += (mn & EvenLanes) + ((mn >>> 8) & EvenLanes)
      i += 1
    }
    ((acc * 0x0001000100010001L) >>> 48).toInt
  }

  /** The kernel's 200*LCS/lensum with the LCS replaced by its cap. Identical
    * strings give 100, like the kernel's shortcut. */
  private def ratioCap(cap: Int, lensum: Int): Int =
    if (lensum == 0) 100 else rint100(200.0 * cap / lensum)

  /** Upper bound on `ratio(a, b)` from the two strings' bound profiles. */
  def ratioUB(a: Prof, b: Prof): Int =
    if (overflows(a, b)) 100
    else ratioCap(sumMin(a, b, RawHist), rawLen(a) + rawLen(b))

  /** Upper bound on `partialRatio(a, b)`. */
  def partialRatioUB(a: Prof, b: Prof): Int =
    if (overflows(a, b)) 100
    else partialCap(sumMin(a, b, RawHist), rawLen(a), rawLen(b))

  /** A window of length w scores 200*LCS/(m+w) with LCS <= min(w, B),
    * B = min(m, cap); that is largest at w = B, giving 200*B/(m+B). Empty
    * strings score as in the kernel. */
  private def partialCap(cap: Int, la: Int, lb: Int): Int = {
    if (la == 0 && lb == 0) return 100
    if (la == 0 || lb == 0) return 0
    val m = math.min(la, lb)
    val b = math.min(m, cap)
    rint100(200.0 * b / (m + b))
  }

  /** Upper bound on `tokenSetRatio(a, b)`: 0 when either side has no token
    * (the kernel's answer), 100 when the token sets may intersect (equal
    * tokens have equal hashes), and otherwise the ratio bound of the two
    * space-joined token strings — with no common token the kernel's
    * intersection is empty and only ratio(joinedA, joinedB) can be non-zero. */
  def tokenSetRatioUB(a: Prof, b: Prof): Int = {
    if (overflows(a, b)) return 100
    val na = tokCount(a)
    val nb = tokCount(b)
    if (na == 0 || nb == 0) return 0
    var i = 0
    while (i < na) {
      val h = a.getLong(TokHashes + i)
      var j = 0
      while (j < nb) { if (b.getLong(TokHashes + j) == h) return 100; j += 1 }
      i += 1
    }
    ratioCap(sumMin(a, b, JoinedHist), joinedLen(a) + joinedLen(b))
  }

  /** Upper bound on [[compositeFuzzPre]] for the same (u, en, l, f), from
    * their bound profiles: each term replaced by its integer bound, then the
    * kernel's exact weighted sum (same promotions, same left-to-right adds).
    * Rounding to nearest is monotone, so the result is >= the kernel's
    * double bit for bit. Reads only the hoisted profiles: nothing is
    * decoded to a String per pair. */
  def compositeFuzzUB(u: Prof, en: Prof, l: Prof, f: Prof): Double = {
    // ratio and partial_ratio share one cap of the raw strings
    val ok = !overflows(u, en)
    val cap = if (ok) sumMin(u, en, RawHist) else 0
    val r = if (ok) ratioCap(cap, rawLen(u) + rawLen(en)) else 100
    val p = if (ok) partialCap(cap, rawLen(u), rawLen(en)) else 100
    val t1 = tokenSetRatioUB(u, en)
    val t2 = tokenSetRatioUB(u, l)
    val t3 = tokenSetRatioUB(u, f)
    r * 0.2 + p * 0.2 + t1 * 0.2 + t2 * 0.3 + t3 * 0.2
  }

  private def appendTok(sb: java.lang.StringBuilder, t: String): Unit = {
    if (sb.length > 0) sb.append(' ')
    sb.append(t)
  }

  private def joinNonEmpty(x: String, y: String): String =
    if (x.isEmpty) y else if (y.isEmpty) x else x + " " + y

  /** Unit-cost Levenshtein distance (for the engine's generic similarity
    * surface; Spark's built-in `levenshtein` matches this). */
  def levenshtein(a: CharSequence, b: CharSequence): Int = {
    val m = a.length
    val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    val prev = new Array[Int](n + 1)
    val curr = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      curr(0) = i
      val ac = a.charAt(i - 1)
      var k = 1
      while (k <= n) {
        val cost = if (ac == b.charAt(k - 1)) 0 else 1
        curr(k) = math.min(math.min(curr(k - 1) + 1, prev(k) + 1), prev(k - 1) + cost)
        k += 1
      }
      System.arraycopy(curr, 0, prev, 0, n + 1)
      i += 1
    }
    prev(n)
  }
}
