package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group top-k state: at most k (ord, id) pairs, evicting the
  * worst (smallest ord; ties broken toward larger id so the kept set matches
  * `ORDER BY ord DESC, id ASC LIMIT k`). */
final class TopKHeap(val k: Int) {
  // "worst first" priority: dequeue order = ascending ord, descending id
  private val worstFirst = Ordering.fromLessThan[(Double, Long)] { (a, b) =>
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
  }
  val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  def add(ord: Double, id: Long): Unit = {
    if (heap.size < k) heap.enqueue((ord, id))
    else if (worstFirst.lt((ord, id), heap.head)) { heap.dequeue(); heap.enqueue((ord, id)) }
  }

  /** Best-first (ord desc, id asc) snapshot. */
  def sorted: Array[(Double, Long)] =
    heap.toArray.sortBy { case (ord, id) => (-ord, id) }
}

/**
 * Bounded-heap top-k as a custom Catalyst aggregate (SURVEY.md §2.10 U3):
 * `topk_by(ord, id, k)` keeps the k best (ord, id) pairs per group ordered by
 * (ord DESC, id ASC) and returns them as `array<struct<ord, id>>`.
 *
 * Being a [[TypedImperativeAggregate]], it participates in PARTIAL
 * aggregation: each map task reduces its slice to a k-element heap before
 * the exchange, so the shuffle carries O(groups x k) rows per partition —
 * the same pre-shuffle bound WindowGroupLimit gives the rank-limit window
 * form, but as a single aggregation with no sort. The q20 driver query
 * hash-matches the window form's oracle, proving the two equivalent.
 */
case class TopKByOrd(ordChild: Expression, idChild: Expression, kChild: Expression,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap] with ExpectsInputTypes {

  private lazy val k: Int = {
    require(kChild.foldable, "topk_by: k must be a literal")
    val v = kChild.eval().asInstanceOf[Number].intValue()
    require(v > 0, s"topk_by: k must be positive, got $v")
    v
  }

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType, IntegerType)
  override def children: Seq[Expression] = Seq(ordChild, idChild, kChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val ordV = ordChild.eval(input)
    val idV = idChild.eval(input)
    if (ordV != null && idV != null) {
      buffer.add(ordV.asInstanceOf[Double], idV.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    other.heap.foreach { case (ord, id) => buffer.add(ord, id) }
    buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sorted.map { case (ord, id) =>
      new GenericInternalRow(Array[Any](ord, id))
    })

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val items = buffer.heap.toArray
    out.writeInt(buffer.k)
    out.writeInt(items.length)
    items.foreach { case (ord, id) => out.writeDouble(ord); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val heap = new TopKHeap(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) { heap.add(in.readDouble(), in.readLong()); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByOrd =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByOrd =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(ordChild = newChildren(0), idChild = newChildren(1), kChild = newChildren(2))
  override def prettyName: String = "topk_by"
}

/** One buffered match row: score may be NULL (sorts last under DESC NULLS
  * LAST); the two strings may be NULL (sort FIRST under ASC NULLS FIRST).
  * UTF8Strings are defensive copies — input rows are reused buffers. */
final class MatchRow(val score: java.lang.Double,
                     val empId: org.apache.spark.unsafe.types.UTF8String,
                     val empName: org.apache.spark.unsafe.types.UTF8String)

/** Bounded top-k state for the match pipeline's per-username ranking: at
  * most k MatchRows, kept in EXACTLY the window total order
  * `ORDER BY score DESC NULLS LAST, emp_id ASC NULLS FIRST,
  * employee_name ASC NULLS FIRST` that [[graft.pipeline.MatchPipeline]]'s
  * row_number window used — same comparator, so the kept multiset is the
  * same k-prefix (ties beyond the boundary are interchangeable rows whose
  * every visible column is identical). */
final class MatchTopKHeap(val k: Int) {
  import org.apache.spark.unsafe.types.UTF8String

  /** Negative when `a` precedes `b` in the window order. UTF8String
    * compareTo is the binary ordering Spark's SortOrder uses for
    * non-collated strings. */
  private def cmp(a: MatchRow, b: MatchRow): Int = {
    val s =
      if (a.score == null && b.score == null) 0
      else if (a.score == null) 1 // DESC NULLS LAST
      else if (b.score == null) -1
      else java.lang.Double.compare(b.score, a.score) // DESC
    if (s != 0) return s
    val e = cmpStr(a.empId, b.empId)
    if (e != 0) return e
    cmpStr(a.empName, b.empName)
  }
  private def cmpStr(a: UTF8String, b: UTF8String): Int =
    if (a == null && b == null) 0
    else if (a == null) -1 // ASC NULLS FIRST
    else if (b == null) 1
    else a.compareTo(b)

  // worst-first priority queue: PriorityQueue dequeues the GREATEST element
  // under its Ordering, so "greater" must mean "later in the window order"
  // (= worse) for head to be the current k-th best.
  private val worstFirst: Ordering[MatchRow] = (a, b) => cmp(a, b)
  val heap = scala.collection.mutable.PriorityQueue.empty[MatchRow](worstFirst)

  def add(r: MatchRow): Unit = {
    if (heap.size < k) heap.enqueue(r)
    else if (cmp(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r) }
  }

  /** Allocation-free admission probe: would `add` keep this row? The fast
    * reject (heap full, score strictly worse than the current k-th best) is
    * one primitive double comparison — the path almost every scored pair
    * takes, with no boxing (`scoreIsNull` carries SQL null separately). */
  def wouldAccept(scoreIsNull: Boolean, score: Double,
                  empId: org.apache.spark.unsafe.types.UTF8String,
                  empName: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    if (heap.size < k) return true
    val w = heap.head
    val s =
      if (scoreIsNull && w.score == null) 0
      else if (scoreIsNull) 1
      else if (w.score == null) -1
      else java.lang.Double.compare(w.score.doubleValue(), score)
    if (s != 0) return s < 0
    val e = cmpStr(empId, w.empId)
    if (e != 0) return e < 0
    cmpStr(empName, w.empName) < 0
  }

  /** The score a row must reach to be admitted: the current k-th best score
    * once the heap holds k rows (a null k-th counts as -Infinity), else
    * -Infinity. */
  def floor: Double =
    if (heap.size < k || heap.head.score == null) Double.NegativeInfinity
    else heap.head.score.doubleValue()

  /** Window-order (best-first) snapshot — position i is the row with
    * row_number i+1. */
  def sorted: Array[MatchRow] = {
    val a = heap.toArray
    java.util.Arrays.sort(a, (x: MatchRow, y: MatchRow) => cmp(x, y))
    a
  }
}

/**
 * The match pipeline's per-username top-k as a bounded-heap aggregate:
 * `topk_match(score, emp_id, employee_name, k)` keeps the k first rows of
 * the window order (score DESC, emp_id ASC, employee_name ASC — the
 * [[graft.pipeline.MatchPipeline.rankedTopKOf]] total order) and returns
 * them best-first as `array<struct<score,emp_id,employee_name>>`.
 *
 * Replaces Sort + WindowGroupLimit + Window(row_number): the sort of the
 * full scored-pair stream (2.5M rows on the wide bench leg) becomes one
 * O(1)-amortized heap probe per row — most rows lose a single score
 * comparison against the current k-th best and are dropped before any
 * string work. Partial aggregation bounds the exchange at O(groups x k)
 * exactly like WindowGroupLimit did. Multiset equivalence with the window
 * form is pinned by MatchTopKAggSpec.
 */
case class TopKMatchRows(scoreChild: Expression, empIdChild: Expression,
                         empNameChild: Expression, kChild: Expression,
                         mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MatchTopKHeap] with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String

  private lazy val k: Int = {
    require(kChild.foldable, "topk_match: k must be a literal")
    val v = kChild.eval().asInstanceOf[Number].intValue()
    require(v > 0, s"topk_match: k must be positive, got $v")
    v
  }

  override def inputTypes: Seq[DataType] = Seq(DoubleType, StringType, StringType, IntegerType)
  override def children: Seq[Expression] = Seq(scoreChild, empIdChild, empNameChild, kChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("emp_id", StringType),
      StructField("employee_name", StringType))),
    containsNull = false)

  override def createAggregationBuffer(): MatchTopKHeap = new MatchTopKHeap(k)

  // primitive fast path: after binding, the children are BoundReferences
  // into the aggregate input row, so the score can be read unboxed —
  // Expression.eval would allocate a java.lang.Double PER SCORED ROW
  // (2.5M/task on the wide bench leg) just to compare-and-reject it
  private lazy val scoreOrd: Int = scoreChild match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
      if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buffer: MatchTopKHeap, input: InternalRow): MatchTopKHeap = {
    var sNull = false
    var sVal = 0.0
    if (scoreOrd >= 0) {
      sNull = input.isNullAt(scoreOrd)
      if (!sNull) sVal = input.getDouble(scoreOrd)
    } else {
      val s = scoreChild.eval(input)
      sNull = s == null
      if (!sNull) sVal = s.asInstanceOf[Double]
    }
    val id = empIdChild.eval(input)
    val nm = empNameChild.eval(input)
    // defensive copies (and the boxed score) only on rows that enter the
    // heap; the reject path — the overwhelming majority once the heap is
    // warm — allocates nothing
    if (buffer.wouldAccept(sNull, sVal,
        id.asInstanceOf[UTF8String], nm.asInstanceOf[UTF8String])) {
      buffer.add(new MatchRow(
        if (sNull) null else java.lang.Double.valueOf(sVal),
        if (id == null) null else id.asInstanceOf[UTF8String].clone(),
        if (nm == null) null else nm.asInstanceOf[UTF8String].clone()))
    }
    buffer
  }

  override def merge(buffer: MatchTopKHeap, other: MatchTopKHeap): MatchTopKHeap = {
    other.heap.foreach(buffer.add)
    buffer
  }

  override def eval(buffer: MatchTopKHeap): Any =
    new GenericArrayData(buffer.sorted.map { r =>
      new GenericInternalRow(Array[Any](
        if (r.score == null) null else r.score.doubleValue(), r.empId, r.empName))
    })

  override def serialize(buffer: MatchTopKHeap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.k)
    out.writeInt(buffer.heap.size)
    buffer.heap.foreach { r =>
      out.writeBoolean(r.score != null)
      if (r.score != null) out.writeDouble(r.score)
      writeStr(out, r.empId)
      writeStr(out, r.empName)
    }
    out.flush()
    bos.toByteArray
  }

  private def writeStr(out: DataOutputStream, s: UTF8String): Unit =
    if (s == null) out.writeInt(-1)
    else { val b = s.getBytes; out.writeInt(b.length); out.write(b) }

  private def readStr(in: DataInputStream): UTF8String = {
    val n = in.readInt()
    if (n < 0) null
    else { val b = new Array[Byte](n); in.readFully(b); UTF8String.fromBytes(b) }
  }

  override def deserialize(bytes: Array[Byte]): MatchTopKHeap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val heap = new MatchTopKHeap(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val score: java.lang.Double = if (in.readBoolean()) in.readDouble() else null
      heap.add(new MatchRow(score, readStr(in), readStr(in)))
      i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMatchRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMatchRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreChild = newChildren(0), empIdChild = newChildren(1),
      empNameChild = newChildren(2), kChild = newChildren(3))
  override def prettyName: String = "topk_match"
}
