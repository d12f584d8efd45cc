package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.util.control.NonFatal

/** The one measurement loop behind [[Bench]], [[BenchOne]] and
  * [[BenchScaling]]. Queries are materialized through the `noop` sink (a
  * plain `count()` would let Catalyst prune away the projections under
  * test), after an off-the-clock `System.gc()`, and each rep reports wall,
  * process CPU and stop-the-world GC seconds. */
object Measure {

  final case class Rep(wall: Double, cpu: Double, gc: Double)

  /** The reps that ran. `failure` is set when a rep threw, which ends the
    * measurement, so a query that fails fast never reads as fast. `rows` is
    * the row count observed on rep 1, when one was asked for. */
  final case class Result(reps: Seq[Rep], rows: Option[Long],
                          failure: Option[Throwable]) {
    def minWall: Double = reps.map(_.wall).min
    def minCpu: Double = reps.map(_.cpu).min
    /** This result, or its failure rethrown. */
    def get: Result = { failure.foreach(e => throw e); this }
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Cumulative stop-the-world GC milliseconds across all collectors: the
    * channel that separates operator cost from collector burn. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** An untimed pass that pays the janino compile and C2 JIT of the kernels.
    * A failure is printed to stderr and does not stop the caller. */
  def warmUp(label: String)(df: => DataFrame): Unit =
    try sink(df)
    catch { case NonFatal(e) => System.err.println(s"[warmup] $label failed: $e") }

  /** `reps` timed materializations of `df` (query construction included)
    * after an off-the-clock GC; `beforeRep(i)` runs untimed ahead of rep i.
    *
    * With `rowsMetric`, rep 1 alone carries a row-count `observe` under that
    * name (a metric name may appear once per plan, and this keeps even that
    * once out of the later reps). It is read back through a
    * QueryExecutionListener, never the `Observation` API, whose
    * registration leaves the session unserializable on Spark 4.1.2 (see
    * Dedup.clusters). */
  def run(spark: SparkSession, reps: Int, rowsMetric: Option[String] = None,
          beforeRep: Int => Unit = _ => ())(df: => DataFrame): Result = {
    // Settle the JVM before attributing CPU to this query: checkpoint-heavy
    // queries leave blocks and shuffle garbage that Spark's ContextCleaner
    // frees only after a GC notices them, which would otherwise land in the
    // NEXT query's window (observed as a broad ~1.6x CPU inflation).
    System.gc()
    val observed = new LinkedBlockingQueue[java.lang.Long]()
    val listener = rowsMetric.map { name =>
      new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          qe.observedMetrics.get(name).foreach(r => observed.put(r.getLong(0)))
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
    }
    listener.foreach(spark.listenerManager.register)
    try {
      val done = Seq.newBuilder[Rep]
      var failure = Option.empty[Throwable]
      var i = 1
      while (failure.isEmpty && i <= reps) {
        beforeRep(i)
        val g0 = gcMillis()
        val c0 = processCpuNs()
        val t0 = System.nanoTime()
        try {
          val q = df
          sink(if (i == 1) rowsMetric.fold(q)(q.observe(_, count(lit(1)).as("n"))) else q)
          done += Rep((System.nanoTime() - t0) / 1e9, (processCpuNs() - c0) / 1e9,
            (gcMillis() - g0) / 1e3)
        } catch { case NonFatal(e) => failure = Some(e) }
        i += 1
      }
      // listener delivery is asynchronous: wait for rep 1's count
      val rows = rowsMetric.filter(_ => failure.isEmpty)
        .map(_ => Option(observed.poll(60, TimeUnit.SECONDS)))
      if (rows.exists(_.isEmpty))
        failure = Some(new IllegalStateException(s"${rowsMetric.get} was never observed"))
      Result(done.result(), rows.flatten.map(_.longValue), failure)
    } finally listener.foreach(spark.listenerManager.unregister)
  }
}
