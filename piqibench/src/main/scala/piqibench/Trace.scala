package piqibench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are epoch nanoseconds (wall clock aligned with
  * Spark's millisecond stage times). `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, run: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Counters charged to one span by the listeners. */
final class SpanCounters {
  var jobs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var failedTasks = 0L
  var scanBytes = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

object Intervals {
  /** Total length of the union of `xs` clipped to [lo, hi). */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it its direct
    * children cover. */
  def selfTime(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }
}

/**
 * Span recorder. `span(name)` times a call from the benchmark's own code and
 * tags every Spark job the call launches with the span id (a local property,
 * inherited by threads the call starts). A [[SparkListener]] charges jobs,
 * stage intervals, task CPU, shuffle writes, spill and failed tasks to the
 * tagged span; a [[QueryExecutionListener]] reads the bytes scanned from
 * the scan nodes' SQL metrics of every finished query. Spans stay in memory until written out.
 */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var enabled = false
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  private var run = 0L

  private val charged = new ConcurrentHashMap[Long, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()  // SQL execution → span
  private val accExec = new ConcurrentHashMap[Long, Long]()   // driver metric → SQL execution
  private val scanAcc = new ConcurrentHashMap[Long, Long]()   // scan-size metric → bytes

  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = epochBase + System.nanoTime()
  /** Counters of a span; complete once [[drain]] has returned. */
  def counters(span: Long): SpanCounters = charged.computeIfAbsent(span, _ => new SpanCounters)

  def startRun(id: Long): Unit = run = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setLocalProperty(Key, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.pop()
        sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
        spansBuf.synchronized(spansBuf += Span(id, name, parent, run, t0, t1))
      }
    }

  def spans: Seq[Span] = spansBuf.synchronized(spansBuf.toList)

  /** Block until every posted listener event has been handled, then charge
    * the scan sizes of finished queries to their spans: a scan posts its
    * size as a driver metric update under the SQL execution id its jobs
    * carry, which ties the metric to the span. */
  def drain(): Unit = {
    org.apache.spark.BenchListenerBus.drain(sc)
    scanAcc.asScala.foreach { case (acc, bytes) =>
      for (exec <- Option(accExec.get(acc)); span <- Option(execSpan.get(exec))) {
        val c = counters(span)
        c.synchronized(c.scanBytes += bytes)
      }
    }
    scanAcc.clear()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates => u.accumUpdates.foreach { case (acc, _) => accExec.put(acc, u.executionId) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Key))).map(_.toLong).foreach { span =>
      val c = counters(span)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, span))
      props.flatMap(p => Option(p.getProperty(ExecIdKey))).foreach(x => execSpan.put(x.toLong, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime) {
        val c = counters(span)
        c.synchronized(c.stageIntervals += ((a, b)))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = counters(span)
      c.synchronized {
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
        }
        if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) scanMetrics(qe.executedPlan).foreach { case (acc, bytes) => scanAcc.put(acc, bytes) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val Key = "piqibench.span"
  private val ExecIdKey = "spark.sql.execution.id"

  /** (metric id, value) of "size of files read" for every file scan of an
    * executed plan, looking through adaptive plans and query stages. */
  def scanMetrics(plan: SparkPlan): Seq[(Long, Long)] = plan match {
    case a: AdaptiveSparkPlanExec => scanMetrics(a.executedPlan)
    case q: QueryStageExec => scanMetrics(q.plan)
    case _: ReusedExchangeExec => Nil // counted where the exchange first ran
    case f: FileSourceScanExec => f.metrics.get("filesSize").map(m => m.id -> m.value).toSeq
    case p => (p.children ++ p.subqueries).flatMap(scanMetrics)
  }
}
