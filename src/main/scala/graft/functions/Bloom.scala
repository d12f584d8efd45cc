package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * Classic Bloom filter over 64-bit element hashes, built as a MERGEABLE
 * Catalyst aggregate so the sketch composes exactly like the engine's
 * other mergeable state (TopKByOrd, HeavyHittersAgg): each map task folds
 * its slice into a local bit array, partials OR together, and the global
 * result is independent of partitioning and row order (bit-OR is
 * commutative/associative/idempotent).
 *
 * Probe positions use Kirsch–Mitzenmacher double hashing (2006): with
 * h1 = h and h2 = mix64(h) | 1 (odd, so it generates the full power-of-two
 * ring), position i is (h1 + i*h2) mod numBits — k probe positions from
 * two hash values, with the classic construction's false-positive bound.
 * No false NEGATIVES ever: membership tests of inserted hashes are
 * guaranteed true, which is what lets [[BloomMightContain]] serve as a
 * sound PREFILTER in front of an exact confirmation join
 * (TextAnalysis.contaminationBloom).
 */
object Bloom {

  /** numBits for a target false-positive rate at `n` elements, rounded up
    * to a power of two (so the modulo is a mask): m = -n ln p / (ln 2)^2. */
  def bitsFor(n: Long, fpp: Double): Int = {
    require(n > 0 && fpp > 0 && fpp < 1, s"bitsFor($n, $fpp)")
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    Integer.highestOneBit(math.max(64, math.min(m, 1L << 30)).toInt - 1) << 1
  }

  def setBit(words: Array[Long], idx: Int): Unit =
    words(idx >>> 6) |= (1L << (idx & 63))

  def getBit(words: Array[Long], idx: Int): Boolean =
    (words(idx >>> 6) & (1L << (idx & 63))) != 0L

  /** Insert hash `h` (k double-hashed probes; `mask` = numBits - 1). */
  def add(words: Array[Long], mask: Int, numHashes: Int, h: Long): Unit = {
    val h2 = TextAlgos.mix64(h) | 1L
    var i = 0
    var p = h
    while (i < numHashes) {
      setBit(words, (p & mask).toInt)
      p += h2
      i += 1
    }
  }

  /** Membership probe — false positives possible, false negatives never.
    * Called from generated code (static forwarder), keep the signature
    * JVM-primitive. */
  def mightContain(words: Array[Long], mask: Int, numHashes: Int, h: Long): Boolean = {
    val h2 = TextAlgos.mix64(h) | 1L
    var i = 0
    var p = h
    while (i < numHashes) {
      if (!getBit(words, (p & mask).toInt)) return false
      p += h2
      i += 1
    }
    true
  }

  /** Wire layout of an aggregated sketch: [numBits int][numHashes int][words]. */
  def serialize(numBits: Int, numHashes: Int, words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numBits).putInt(numHashes)
    words.foreach(bb.putLong)
    bb.array()
  }

  /** (numBits, numHashes, words) of a serialized sketch. */
  def deserialize(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBits = bb.getInt
    val numHashes = bb.getInt
    val words = new Array[Long]((bytes.length - 8) / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    (numBits, numHashes, words)
  }
}

/** Mutable per-partition Bloom state for [[BloomAgg]]. */
final class BloomBuffer(val numBits: Int, val numHashes: Int) {
  val words = new Array[Long](numBits >>> 6)
  val mask: Int = numBits - 1
}

/**
 * `bloom_agg(hash, numBits, numHashes)` — fold 64-bit hashes into a Bloom
 * sketch, returned as the serialized `binary` of [[Bloom.serialize]].
 * Partial aggregation means the exchange carries ONE numBits/8-byte
 * partial per map task, never the element stream — the 100 TB build cost
 * of the decontamination prefilter is a single scan plus a
 * bytes-per-partition-sized reduce.
 */
case class BloomAgg(hashChild: Expression, bitsChild: Expression, hashesChild: Expression,
                    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuffer] with ExpectsInputTypes {

  private lazy val numBits: Int = {
    require(bitsChild.foldable, "bloom_agg: numBits must be a literal")
    val v = bitsChild.eval().asInstanceOf[Number].intValue()
    require(v >= 64 && (v & (v - 1)) == 0,
      s"bloom_agg: numBits must be a power of two >= 64, got $v")
    v
  }
  private lazy val numHashes: Int = {
    require(hashesChild.foldable, "bloom_agg: numHashes must be a literal")
    val v = hashesChild.eval().asInstanceOf[Number].intValue()
    require(v >= 1 && v <= 32, s"bloom_agg: numHashes must be in [1, 32], got $v")
    v
  }

  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType, IntegerType)
  override def children: Seq[Expression] = Seq(hashChild, bitsChild, hashesChild)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomBuffer = new BloomBuffer(numBits, numHashes)

  override def update(buffer: BloomBuffer, input: InternalRow): BloomBuffer = {
    val h = hashChild.eval(input)
    if (h != null) Bloom.add(buffer.words, buffer.mask, buffer.numHashes, h.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomBuffer, other: BloomBuffer): BloomBuffer = {
    var i = 0
    while (i < buffer.words.length) { buffer.words(i) |= other.words(i); i += 1 }
    buffer
  }

  override def eval(buffer: BloomBuffer): Any =
    Bloom.serialize(buffer.numBits, buffer.numHashes, buffer.words)

  override def serialize(buffer: BloomBuffer): Array[Byte] =
    Bloom.serialize(buffer.numBits, buffer.numHashes, buffer.words)

  override def deserialize(bytes: Array[Byte]): BloomBuffer = {
    val (nb, nh, words) = Bloom.deserialize(bytes)
    val buf = new BloomBuffer(nb, nh)
    System.arraycopy(words, 0, buf.words, 0, words.length)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(hashChild = cs(0), bitsChild = cs(1), hashesChild = cs(2))
  override def prettyName: String = "bloom_agg"
}

/**
 * Membership probe against a DRIVER-HELD sketch: the parsed bit array
 * rides into every task as a codegen reference object (the PqEncode
 * pattern — driver-sized state, no per-row parse, whole-stage codegen
 * kept intact). Used as the scan-side prefilter of
 * TextAnalysis.contaminationBloom: rows whose probe returns false are
 * DEFINITELY absent from the sketch's build set and never reach the
 * confirmation join's exchange.
 */
case class BloomMightContain(child: Expression, bloom: Array[Byte])
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val parsed: (Int, Int, Array[Long]) = Bloom.deserialize(bloom)
  @transient private lazy val mask: Int = parsed._1 - 1
  @transient private lazy val numHashes: Int = parsed._2
  @transient private lazy val words: Array[Long] = parsed._3

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(h: Any): Any =
    Bloom.mightContain(words, mask, numHashes, h.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bloomWords", words, "long[]")
    nullSafeCodeGen(ctx, ev, h => s"""
      ${ev.value} = graft.functions.Bloom.mightContain($w, $mask, $numHashes, $h);""")
  }
  override def prettyName: String = "bloom_might_contain"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
