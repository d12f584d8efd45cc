package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into a layer. Spans of one run share
  * `runId`; `parent` is the enclosing span's id, -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` only evaluates its body. Spans
  * are kept in memory and written once, when the run ends. */
final class Tracer(var enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  // wall-clock anchor, to place spans reported with epoch timestamps
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  def current: Int = open.headOption.getOrElse(-1)

  /** Id of the span that closed last. */
  def lastClosed: Int = synchronized(spans.lastOption.map(_.id).getOrElse(-1))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Records a span measured elsewhere (a streaming batch, from its progress
    * report): start in epoch milliseconds, duration in milliseconds. */
  def addEpoch(name: String, parent: Int, startEpochMs: Long, durMs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      val t0 = nano0 + (startEpochMs - epochMs0) * 1000000L
      spans += Span(nextId, parent, name, t0, t0 + durMs * 1000000L)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def durationsS(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimesNs: Map[Int, Long] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** Writes every span as one JSON line, then a per-name summary (count,
    * total and self seconds) to `summaryPath`. */
  def write(spansPath: String, summaryPath: String): Unit = {
    val spans = all.sortBy(_.startNs)
    val self = selfTimesNs
    val w = new java.io.PrintWriter(spansPath)
    try spans.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs - nano0},"end_ns":${s.endNs - nano0},"self_ns":${self(s.id)}}""")
    } finally w.close()
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1)
    val sw = new java.io.PrintWriter(summaryPath)
    try {
      sw.println(f"${"span"}%-28s ${"count"}%6s ${"total_s"}%10s ${"self_s"}%10s")
      byName.foreach { case (name, ss) =>
        val total = ss.map(s => s.endNs - s.startNs).sum / 1e9
        val selfS = ss.map(s => self(s.id)).sum / 1e9
        sw.println(f"$name%-28s ${ss.size}%6d $total%10.4f $selfS%10.4f")
      }
    } finally sw.close()
  }
}

/** Spark's jobs, stages and tasks, aggregated per tag. The tag is the local
  * property [[ExecListener.TagKey]] that the harness sets around each pass;
  * threads started inside a pass (a streaming query's) inherit it. */
final class ExecListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, maxTaskMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  }
  // written only by the listener-bus thread; read after the bus is drained
  private val stageTag = mutable.HashMap.empty[Int, String]
  val byTag = mutable.HashMap.empty[String, Agg]

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(ExecListener.TagKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach(t => byTag.getOrElseUpdate(t, new Agg).jobs += 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    tagOf(e.properties).foreach { t =>
      stageTag(e.stageInfo.stageId) = t
      byTag.getOrElseUpdate(t, new Agg).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byTag.getOrElseUpdate(t, new Agg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
}

object ExecListener {
  val TagKey = "perfbench.pass"

  /** Total collection time of every garbage collector of this JVM, in ms. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** One data batch of a streaming query, from its progress report. */
final case class Batch(batchId: Long, startEpochMs: Long, durations: Map[String, Long])

/** Progress of the streaming queries a serving pass starts: each query is
  * bound to the pass that was current when it started. */
final class ServingListener extends StreamingQueryListener {
  import StreamingQueryListener._

  @volatile var currentPass = ""
  private val passOf = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  private val batches = new java.util.concurrent.ConcurrentHashMap[String, List[Batch]]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = passOf.put(e.runId, currentPass)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val pass = passOf.get(p.runId)
    if (pass != null && p.numInputRows > 0) {
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      batches.merge(pass, List(b), (a, n) => a ++ n)
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Option(passOf.get(e.runId)).foreach(terminated.add)

  /** The data batches of `pass`, once its query's termination has been
    * delivered (progress events precede it on the bus). */
  def await(pass: String, timeoutMs: Long = 30000): Seq[Batch] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(pass) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    if (!terminated.contains(pass)) throw new IllegalStateException(s"no termination event for $pass")
    Option(batches.get(pass)).getOrElse(Nil).sortBy(_.batchId)
  }
}
