package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.functions.{MatchRow, MatchTopKHeap}
import graft.scoring.{DecodedNames, DecodedUser, PairScore}

/** A roster prepared for [[MatchPipeline.matchPrepared]]: its distinct names
  * with their invariants and their first `topK` employees, collected by one
  * eager job and broadcast. Build it with [[MatchPipeline.prepareRoster]];
  * one handle serves any number of calls (a serving loop builds it once). */
final class PreparedRoster private[pipeline] (
    private[pipeline] val names: Broadcast[RosterRows], val topK: Int)

/** The collected name rows of a [[PreparedRoster]], decoded into column
  * arrays at most once per executor JVM: the decoded form is transient, so
  * it is rebuilt after deserialization and shared by every task that reads
  * the broadcast. */
private[pipeline] final class RosterRows(rows: Array[InternalRow]) extends Serializable {
  @transient lazy val decoded: DecodedNames = new DecodedNames(rows)
}

/**
 * The filter-verify top-k operator of the exact match: for one username,
 *
 *  - Bound: the score bound of every name ([[PairScore.bound]]); names whose
 *    bound reaches the threshold are the candidates;
 *  - Verify: candidates in descending bound order get their exact score
 *    ([[PairScore.exact]]) until the bound falls below the heap's k-th
 *    score ([[MatchTopKHeap.floor]]). Every name not visited has a score at
 *    most its bound, below the k-th best already held, so it cannot enter
 *    the top k; ties at the k-th score are visited (`>=`), since a tie can
 *    still win on (emp_id, employee_name). A qualifying name offers its
 *    employees to the heap, whose order is the window order of the old
 *    top-k aggregate (score desc, emp_id asc nulls first, employee_name asc
 *    nulls first);
 *  - Output: the heap best-first with dense-rank labels, or one USER NOT
 *    FOUND sentinel when nothing qualifies.
 *
 * The candidates sit in a binary max-heap on their bound, not a sorted
 * array: a username visits a few hundred of its thousands of candidates
 * (37,209 exact evaluations for 2,494,375 bounded pairs on the wide
 * perfbench input), so popping beats sorting.
 */
private[pipeline] object MatchTopK {

  /** The username columns the operator reads, in order: the username, then
    * its [[graft.scoring.MatchScore.usernameInvariants]]. */
  val UserLayout: Seq[String] = Seq("username", "u_norm", "u_part1", "u_part2", "u_sdx", "u_mp",
    "u_initial", "u_dot2_initial", "u_prof", "u_bytes")

  val OutputSchema: StructType = StructType(
    Seq("username", "emp_id", "emp_name", "confidence_score", "match_type")
      .map(StructField(_, StringType)))

  /** Dense rank r (from 1) -> confidence label (main.py:181-186); "" past
    * the last (dict.get default, main.py:196). */
  val Labels: Seq[String] = Seq("HIGH CONFIDENCE", "2nd HIGH CONFIDENCE",
    "3rd HIGH CONFIDENCE", "NOT SURE")

  private val NotFound = "USER NOT FOUND"

  /** The operator over one partition of [[UserLayout]] rows. Adds the pairs
    * it bounds and the pairs it verifies to the two accumulators. */
  def run(roster: Broadcast[RosterRows], k: Int, threshold: Double,
          bounded: LongAccumulator, verified: LongAccumulator)
         (users: Iterator[Row]): Iterator[Row] = {
    val names = roster.value.decoded
    // candidate heap storage, reused by every username of the partition
    val bnd = new Array[Double](names.size)
    val idx = new Array[Int](names.size)
    users.flatMap { r =>
      val username = r.getString(0)
      val u = decodeUser(r)
      var m = 0
      var i = 0
      while (i < names.size) {
        val b = PairScore.bound(u, names, i)
        if (b >= threshold) { bnd(m) = b; idx(m) = i; m += 1 }
        i += 1
      }
      i = m / 2 - 1
      while (i >= 0) { siftDown(bnd, idx, m, i); i -= 1 }
      val heap = new MatchTopKHeap(k)
      var visits = 0
      while (m > 0 && bnd(0) >= heap.floor) {
        val n = idx(0)
        m -= 1
        bnd(0) = bnd(m); idx(0) = idx(m)
        siftDown(bnd, idx, m, 0)
        visits += 1
        val s = PairScore.exact(u, names, n)
        if (s >= threshold) {
          val ids = names.empIds(n)
          val nms = names.empNames(n)
          var j = 0
          while (j < ids.length) {
            if (heap.wouldAccept(false, s, ids(j), nms(j))) heap.add(new MatchRow(s, ids(j), nms(j)))
            j += 1
          }
        }
      }
      bounded.add(names.size)
      verified.add(visits)
      output(username, heap.sorted)
    }
  }

  /** Restores the max-heap on `bnd` over positions [0, m) below `from`;
    * `idx` moves with `bnd`. */
  private def siftDown(bnd: Array[Double], idx: Array[Int], m: Int, from: Int): Unit = {
    val b = bnd(from)
    val x = idx(from)
    var i = from
    var c = 2 * i + 1
    while (c < m) {
      if (c + 1 < m && bnd(c + 1) > bnd(c)) c += 1
      if (bnd(c) > b) {
        bnd(i) = bnd(c); idx(i) = idx(c)
        i = c; c = 2 * i + 1
      } else c = m
    }
    bnd(i) = b; idx(i) = x
  }

  private def decodeUser(r: Row): DecodedUser = {
    def s(i: Int) = if (r.isNullAt(i)) null else UTF8String.fromString(r.getString(i))
    new DecodedUser(s(1), s(2), s(3), s(4), s(5), s(6), s(7),
      if (r.isNullAt(8)) null else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](8).toArray),
      if (r.isNullAt(9)) -1 else r.getInt(9))
  }

  /** The top rows best-first, each with its `%.2f%%` score and the label of
    * its dense rank (equal scores share one), or the sentinel. */
  private def output(username: String, top: Array[MatchRow]): Iterator[Row] =
    if (top.isEmpty) Iterator.single(Row(username, "N/A", NotFound, "0.00%", NotFound))
    else {
      var rank = 0
      var prev = Double.NaN
      top.iterator.map { m =>
        val s = m.score.doubleValue()
        if (s != prev) { rank += 1; prev = s }
        Row(username, str(m.empId), str(m.empName),
          String.format(java.util.Locale.US, "%.2f%%", m.score),
          if (rank <= Labels.size) Labels(rank - 1) else "")
      }
    }

  private def str(s: UTF8String): String = if (s == null) null else s.toString
}
