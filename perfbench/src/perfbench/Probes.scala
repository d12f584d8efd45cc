package perfbench

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Fuzz, Phonetics}

/** ns per call of the kernels in graft.functions, on this one warm thread,
  * over a sample of the workload's (username, distinct name) pairs. */
object Kernels {
  private val BlockPerUser = 64
  private val WarmNs = 200000000L
  private val RoundNs = 100000000L
  private val Rounds = 5

  private def norm(s: String) = if (s == null) "" else s.trim.toLowerCase(Locale.ROOT)

  def measure(users: Seq[String], names: Seq[(String, String, String)]): Seq[(String, Double)] = {
    val us = users.map(norm).toArray
    val ns = names.map { case (f, l, e) => (norm(f), norm(l), norm(e)) }.distinct.sorted.toArray
    // username-major, as the nested-loop join calls them: per username a block
    // of names starting at a username-dependent offset
    val block = math.min(BlockPerUser, ns.length)
    val idx = for (i <- us.indices; j <- 0 until block) yield (i, (i * 7919 + j) % ns.length)
    val n = idx.size
    val pu = idx.map(p => us(p._1)).toArray
    val pu8 = pu.map(UTF8String.fromString)
    val pe = idx.map(p => ns(p._2)._3).toArray
    def toks(k: Int) = idx.map(p => Fuzz.preprocTokensArrayData(UTF8String.fromString(
      k match { case 0 => ns(p._2)._1; case 1 => ns(p._2)._2; case _ => ns(p._2)._3 }))).toArray
    val (ft, lt, et) = (toks(0), toks(1), toks(2))
    val words = (us ++ ns.flatMap(t => Seq(t._1, t._2))).distinct
    Seq(
      "fuzz.composite_ns" -> time(n)(k => Fuzz.compositeFuzzPre(pu8(k), pe(k), ft(k), lt(k), et(k))),
      "fuzz.ratio_ns" -> time(n)(k => Fuzz.ratio(pu(k), pe(k))),
      "fuzz.partial_ratio_ns" -> time(n)(k => Fuzz.partialRatio(pu(k), pe(k))),
      "fuzz.token_set_ns" -> time(n)(k => Fuzz.tokenSetRatio(pu(k), pe(k))),
      "phonetics.soundex_ns" -> time(words.length)(k => Phonetics.soundex(words(k)).length),
      "phonetics.metaphone_ns" -> time(words.length)(k => Phonetics.metaphone(words(k)).length))
  }

  @volatile private var sink = 0.0

  /** Median over rounds of ns per call of `f`, cycling through its n inputs. */
  private def time(n: Int)(f: Int => Double): Double = {
    var k = 0
    var acc = 0.0
    def runFor(budgetNs: Long): Double = {
      val t0 = System.nanoTime()
      var calls = 0L
      while (System.nanoTime() - t0 < budgetNs) {
        var b = 0
        while (b < 64) {
          acc += f(k)
          k += 1
          if (k == n) k = 0
          b += 1
        }
        calls += 64
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    runFor(WarmNs)
    val r = Main.median(Seq.fill(Rounds)(runFor(RoundNs)))
    sink += acc
    r
  }
}

/** Reads executed plans of the probes' writes, through the session's
  * QueryExecutionListener bus. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Writes `df` into the noop sink. */
  def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `action`, which must run exactly one query, and returns that
    * query's executed plan once the listener bus has delivered it. */
  def capturing(spark: SparkSession)(action: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      val qe = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      if (qe == null) throw new IllegalStateException("no query execution event for the action")
      qe.executedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  /** Rows out of the plan's broadcast nested-loop joins: the pairs scored. */
  def nestedLoopRows(plan: SparkPlan): Long =
    collect(plan) { case j: BroadcastNestedLoopJoinExec => j.metrics("numOutputRows").value }.sum
}
