package graft.scoring

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Fuzz

/**
 * The pair score in Scala: the ONE definition of the composite
 * username-vs-employee score that every match path evaluates. The Catalyst
 * forms of [[MatchScore]] ([[PairScoreExpr]], [[CompositeBoundExpr]]) and the
 * filter-verify top-k operator of [[graft.pipeline.MatchPipeline]] all call
 * the functions below:
 *
 *  - [[isPattern]]: the byte-length guard, then the 8 exact patterns;
 *  - [[plusBonuses]]: the phonetic, split, initial and emp-id bonuses added
 *    to the fuzzy terms left to right, each int promoted to double at its
 *    add, exactly as the Catalyst tree `fuzz + a + b + ...` evaluated them;
 *  - [[cap]]: `least(coalesce(composite, 0), 100)`.
 *
 * SQL NULL: a composite is a double in which NaN stands for NULL. No finite
 * composite is NaN, and NaN propagates through the adds as NULL propagates
 * through `+`, so a pair with a null input scores 0 (unless it is a pattern
 * pair), as the reference's unmatchable rows do. String inputs are NULL as a
 * null reference, byte lengths as -1.
 */
object PairScore {

  final val Null = Double.NaN

  /** `(|u| = |f|+|l| or |f|+|l|+1 bytes) and array_contains(patterns, u)`:
    * a pattern is f and l joined by nothing or by one ASCII separator, so two
    * int compares rule out most pairs before any string compare. */
  def isPattern(u: UTF8String, uBytes: Int, flBytes: Int, patterns: ArrayData): Boolean = {
    if (u == null || patterns == null || uBytes < 0 || flBytes < 0 ||
      (uBytes != flBytes && uBytes != flBytes + 1)) return false
    var i = 0
    while (i < patterns.numElements()) {
      if (!patterns.isNullAt(i) && patterns.getUTF8String(i) == u) return true
      i += 1
    }
    false
  }

  /** SQL `a = b` is TRUE. */
  private def eq(a: UTF8String, b: UTF8String): Boolean = a != null && b != null && a == b
  private def nonEmpty(s: UTF8String): Boolean = s != null && s.numBytes() > 0

  /** The uncapped composite: the fuzzy terms `fuzz` plus the phonetic, split,
    * initial and emp-id bonuses, added left to right. The exact score and the
    * bound both go through here and differ only in `fuzz`: every add is
    * monotone, so fuzz <= fuzz' gives composite <= composite'. */
  def plusBonuses(fuzz: Double,
      u: UTF8String, uPart1: UTF8String, uPart2: UTF8String, uSdx: UTF8String, uMp: UTF8String,
      uInitial: UTF8String, uDot2Initial: UTF8String, f: UTF8String, l: UTF8String,
      eSdxFirst: UTF8String, eSdxLast: UTF8String, eMpFirst: UTF8String, eMpLast: UTF8String,
      eFirstInitial: UTF8String, numberBonus: Double): Double = {
    if (uSdx == null || uMp == null || eSdxFirst == null || eSdxLast == null ||
      eMpFirst == null || eMpLast == null) return Null
    val split = if ((eq(uPart1, f) && eq(uPart2, l)) || (eq(uPart2, f) && eq(uPart1, l))) 10 else 0
    val initial =
      (if (nonEmpty(u) && nonEmpty(f) && eq(uInitial, eFirstInitial)) 5 else 0) +
      (if (nonEmpty(uDot2Initial) && eq(uDot2Initial, eFirstInitial)) 5 else 0)
    fuzz +
      (if (uSdx == eSdxLast) 6 else 0) +
      (if (uMp == eMpLast) 7 else 0) +
      (if (uSdx == eSdxFirst) 3 else 0) +
      (if (uMp == eMpFirst) 3 else 0) +
      split + initial + numberBonus
  }

  /** `least(coalesce(composite, 0), 100)`. */
  def cap(composite: Double): Double =
    if (composite.isNaN) 0.0 else if (composite > 100.0) 100.0 else composite

  /** The five fuzzy terms from hoisted columns ([[Fuzz.compositeFuzzPre]]),
    * NULL when an input is. */
  private def fuzzPre(u: UTF8String, en: UTF8String,
                      fToks: ArrayData, lToks: ArrayData, enToks: ArrayData): Double =
    if (u == null || en == null || fToks == null || lToks == null || enToks == null) Null
    else Fuzz.compositeFuzzPre(u, en.toString, fToks, lToks, enToks)

  /** Upper bound on the five fuzzy terms from bound profiles
    * ([[Fuzz.compositeFuzzUB]]), NULL when an input is. */
  private def fuzzBound(uProf: ArrayData, enProf: ArrayData,
                        lProf: ArrayData, fProf: ArrayData): Double =
    if (uProf == null || enProf == null || lProf == null || fProf == null) Null
    else Fuzz.compositeFuzzUB(uProf, enProf, lProf, fProf)

  /** The score of one pair from its hoisted columns ([[PairScoreExpr]]): 100
    * for a pattern pair; else `ub` when `ub < t` (the threshold prune, see
    * [[MatchScore.withScore]]; t = -Infinity disables it); else the capped
    * composite. */
  def score(u: UTF8String, uPart1: UTF8String, uPart2: UTF8String, uSdx: UTF8String,
      uMp: UTF8String, uInitial: UTF8String, uDot2Initial: UTF8String,
      f: UTF8String, l: UTF8String, en: UTF8String,
      eSdxFirst: UTF8String, eSdxLast: UTF8String, eMpFirst: UTF8String, eMpLast: UTF8String,
      eFirstInitial: UTF8String, ePatterns: ArrayData, numberBonus: Double,
      fToks: ArrayData, lToks: ArrayData, enToks: ArrayData,
      uBytes: Int, flBytes: Int, ub: Double, t: Double): Double =
    if (isPattern(u, uBytes, flBytes, ePatterns)) 100.0
    else if (ub < t) ub
    else cap(plusBonuses(fuzzPre(u, en, fToks, lToks, enToks),
      u, uPart1, uPart2, uSdx, uMp, uInitial, uDot2Initial, f, l,
      eSdxFirst, eSdxLast, eMpFirst, eMpLast, eFirstInitial, numberBonus))

  /** Upper bound on the uncapped composite of one pair from its hoisted
    * columns ([[CompositeBoundExpr]]): >= the composite, NULL exactly where
    * it is. */
  def compositeBound(uProf: ArrayData, enProf: ArrayData, lProf: ArrayData, fProf: ArrayData,
      u: UTF8String, uPart1: UTF8String, uPart2: UTF8String, uSdx: UTF8String, uMp: UTF8String,
      uInitial: UTF8String, uDot2Initial: UTF8String, f: UTF8String, l: UTF8String,
      eSdxFirst: UTF8String, eSdxLast: UTF8String, eMpFirst: UTF8String, eMpLast: UTF8String,
      eFirstInitial: UTF8String): Double =
    plusBonuses(fuzzBound(uProf, enProf, lProf, fProf),
      u, uPart1, uPart2, uSdx, uMp, uInitial, uDot2Initial, f, l,
      eSdxFirst, eSdxLast, eMpFirst, eMpLast, eFirstInitial, 0.0)

  /** Upper bound on the score of (u, name i): 100 for a pattern pair or a
    * NULL composite bound (nothing is known), else the capped
    * [[compositeBound]]. */
  def bound(u: DecodedUser, r: DecodedNames, i: Int): Double =
    if (isPattern(u.norm, u.bytes, r.flBytes(i), r.patterns(i))) 100.0
    else {
      val ub = compositeBound(u.prof, r.fullProf(i), r.lastProf(i), r.firstProf(i),
        u.norm, u.part1, u.part2, u.sdx, u.mp, u.initial, u.dot2Initial, r.first(i), r.last(i),
        r.sdxFirst(i), r.sdxLast(i), r.mpFirst(i), r.mpLast(i), r.firstInitial(i))
      if (ub.isNaN) 100.0 else math.min(ub, 100.0)
    }

  /** The exact score of (u, name i): [[score]] without the prune. */
  def exact(u: DecodedUser, r: DecodedNames, i: Int): Double =
    score(u.norm, u.part1, u.part2, u.sdx, u.mp, u.initial, u.dot2Initial,
      r.first(i), r.last(i), r.full(i), r.sdxFirst(i), r.sdxLast(i), r.mpFirst(i), r.mpLast(i),
      r.firstInitial(i), r.patterns(i), 0.0, r.firstToks(i), r.lastToks(i), r.fullToks(i),
      u.bytes, r.flBytes(i), Null, Double.NegativeInfinity)
}

/** One username's invariants ([[MatchScore.usernameInvariants]]), decoded
  * once for the per-username operator. NULL strings are null references,
  * a NULL byte length is -1. */
final class DecodedUser(val norm: UTF8String, val part1: UTF8String, val part2: UTF8String,
                        val sdx: UTF8String, val mp: UTF8String, val initial: UTF8String,
                        val dot2Initial: UTF8String, val prof: ArrayData, val bytes: Int)

/** The distinct names of a roster with their invariants
  * ([[MatchScore.employeeInvariants]]) and their employees, decoded once into
  * plain column arrays: entry i of every array belongs to name i. */
final class DecodedNames(rows: Array[InternalRow]) {
  import DecodedNames._

  val size: Int = rows.length
  private def strs(c: Int): Array[UTF8String] =
    rows.map(r => if (r.isNullAt(c)) null else r.getUTF8String(c))
  private def arrays(c: Int): Array[ArrayData] =
    rows.map(r => if (r.isNullAt(c)) null else r.getArray(c))

  val first: Array[UTF8String] = strs(Layout.indexOf("e_first"))
  val last: Array[UTF8String] = strs(Layout.indexOf("e_last"))
  val full: Array[UTF8String] = strs(Layout.indexOf("e_full"))
  val sdxFirst: Array[UTF8String] = strs(Layout.indexOf("e_sdx_first"))
  val sdxLast: Array[UTF8String] = strs(Layout.indexOf("e_sdx_last"))
  val mpFirst: Array[UTF8String] = strs(Layout.indexOf("e_mp_first"))
  val mpLast: Array[UTF8String] = strs(Layout.indexOf("e_mp_last"))
  val firstInitial: Array[UTF8String] = strs(Layout.indexOf("e_first_initial"))
  val patterns: Array[ArrayData] = arrays(Layout.indexOf("e_patterns"))
  val flBytes: Array[Int] = {
    val c = Layout.indexOf("e_fl_bytes")
    rows.map(r => if (r.isNullAt(c)) -1 else r.getInt(c))
  }
  val firstToks: Array[ArrayData] = arrays(Layout.indexOf("e_first_toks"))
  val lastToks: Array[ArrayData] = arrays(Layout.indexOf("e_last_toks"))
  val fullToks: Array[ArrayData] = arrays(Layout.indexOf("e_full_toks"))
  val firstProf: Array[ArrayData] = arrays(Layout.indexOf("e_first_prof"))
  val lastProf: Array[ArrayData] = arrays(Layout.indexOf("e_last_prof"))
  val fullProf: Array[ArrayData] = arrays(Layout.indexOf("e_full_prof"))
  /** Each name's employees, (emp_id, employee_name) ascending, nulls first. */
  val empIds: Array[Array[UTF8String]] = emps(0)
  val empNames: Array[Array[UTF8String]] = emps(1)

  private def emps(field: Int): Array[Array[UTF8String]] = arrays(Layout.size).map { a =>
    Array.tabulate(a.numElements()) { j =>
      val e = a.getStruct(j, 2)
      if (e.isNullAt(field)) null else e.getUTF8String(field)
    }
  }
}

object DecodedNames {
  /** The columns of a decoded roster row, in order: these invariants of
    * [[MatchScore.employeeInvariants]], then the name's employees as
    * array<struct<emp_id, employee_name>>. */
  val Layout: Seq[String] = Seq("e_first", "e_last", "e_full", "e_sdx_first", "e_sdx_last",
    "e_mp_first", "e_mp_last", "e_first_initial", "e_patterns", "e_fl_bytes",
    "e_first_toks", "e_last_toks", "e_full_toks", "e_first_prof", "e_last_prof", "e_full_prof")
}

/** A static [[PairScore]] entry called on the values of `children`, in
  * order: a string or array child is passed as a reference (null for NULL),
  * an int child as an int (-1 for NULL), a double child as a double (NaN
  * for NULL). A NaN result is NULL. Generates code, so the match stages
  * keep whole-stage codegen. */
abstract class PairScoreCall extends Expression with ImplicitCastInputTypes {
  /** Fully qualified static method. */
  protected def entry: String
  /** Literal arguments after the children's. */
  protected def constArgs: Seq[String] = Nil
  /** The entry on interpreted argument values. */
  protected def call(a: IndexedSeq[Any]): Double

  override def dataType: DataType = DoubleType
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val args = children.map { c =>
      val v = c.eval(input)
      if (v != null) v else c.dataType match {
        case IntegerType => -1
        case DoubleType => PairScore.Null
        case _ => null
      }
    }.toIndexedSeq
    val r = call(args)
    if (r.isNaN) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val args = children.zip(evs).map { case (c, g) =>
      val nul = c.dataType match {
        case IntegerType => "-1"
        case DoubleType => "java.lang.Double.NaN"
        case _ => "null"
      }
      s"(${g.isNull} ? $nul : ${g.value})"
    } ++ constArgs
    val body = code"""
      ${evs.map(_.code).reduce(_ + _)}
      double ${ev.value} = $entry(${args.mkString(", ")});"""
    if (nullable) ev.copy(code = body +
      code"\nboolean ${ev.isNull} = java.lang.Double.isNaN(${ev.value});")
    else ev.copy(code = body, isNull = FalseLiteral)
  }
}

/** [[PairScore.score]] as a column. Children, in order: u, u_part1, u_part2,
  * u_sdx, u_mp, u_initial, u_dot2_initial, first, last, full, sdx_first,
  * sdx_last, mp_first, mp_last, first_initial, patterns, the emp-id bonus
  * (double), first_toks, last_toks, full_toks, u_bytes, fl_bytes and the
  * bound; `threshold` = -Infinity leaves the prune out. Never NULL. */
case class PairScoreExpr(children: Seq[Expression], threshold: Double) extends PairScoreCall {
  private def str = StringType
  private def arr = ArrayType(StringType)
  override def inputTypes: Seq[DataType] =
    Seq.fill(15)(str) ++ Seq(arr, DoubleType, arr, arr, arr, IntegerType, IntegerType, DoubleType)
  override def nullable: Boolean = false
  override protected def entry: String = "graft.scoring.PairScore.score"
  override protected def constArgs: Seq[String] = Seq(
    s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(threshold)}L)")
  override protected def call(a: IndexedSeq[Any]): Double = {
    def s(i: Int) = a(i).asInstanceOf[UTF8String]
    def d(i: Int) = a(i).asInstanceOf[ArrayData]
    PairScore.score(s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7), s(8), s(9), s(10), s(11),
      s(12), s(13), s(14), d(15), a(16).asInstanceOf[Double], d(17), d(18), d(19),
      a(20).asInstanceOf[Int], a(21).asInstanceOf[Int], a(22).asInstanceOf[Double], threshold)
  }
  override def prettyName: String = "match_score"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** [[PairScore.compositeBound]] as a column. Children, in order: u_prof,
  * full_prof, last_prof, first_prof, then u, u_part1, u_part2, u_sdx, u_mp,
  * u_initial, u_dot2_initial, first, last, sdx_first, sdx_last, mp_first,
  * mp_last, first_initial. */
case class CompositeBoundExpr(children: Seq[Expression]) extends PairScoreCall {
  override def inputTypes: Seq[DataType] =
    Seq.fill(4)(ArrayType(LongType)) ++ Seq.fill(14)(StringType)
  override def nullable: Boolean = true
  override protected def entry: String = "graft.scoring.PairScore.compositeBound"
  override protected def call(a: IndexedSeq[Any]): Double = {
    def s(i: Int) = a(i).asInstanceOf[UTF8String]
    def d(i: Int) = a(i).asInstanceOf[ArrayData]
    PairScore.compositeBound(d(0), d(1), d(2), d(3), s(4), s(5), s(6), s(7), s(8), s(9), s(10),
      s(11), s(12), s(13), s(14), s(15), s(16), s(17))
  }
  override def prettyName: String = "match_composite_bound"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
