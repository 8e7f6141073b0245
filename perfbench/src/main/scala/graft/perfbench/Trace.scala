package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the calls the benchmark makes into each layer.
  * Disabled, `span` is a plain call. Spans nest through a stack on the
  * calling thread (the benchmark drives every layer from one thread). */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val origin = System.nanoTime()

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, layer, name, t0 - origin, System.nanoTime() - origin)
      }
    }

  /** Layer -> seconds of its spans minus the time of their child spans. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum)
    spans.groupBy(_.layer).view.mapValues(_.map { s =>
      (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)
    }.sum / 1e9).toMap
  }

  def toJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"run":"$runId","layer":"${s.layer}",""" +
      s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)
}

/** Scheduler and shuffle counters from Spark's public listener bus.
  * Listener delivery is asynchronous; [[Settle]] waits for it. */
final class StageProbe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val events = new AtomicLong
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); events.incrementAndGet() }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = events.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  }

  /** The worst stage's max / median task time, over stages of >= 2 tasks. */
  def taskSkew: Double = {
    val ratios = taskMs.values.asScala.map(_.asScala.toArray.sorted).filter(_.length >= 2).map { d =>
      d.last.toDouble / math.max(1L, d(d.length / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Physical-plan shape of every query run while [[PlanProbe.enabled]],
  * from the public QueryExecutionListener: AQE-final plans, descending
  * through the adaptive and query-stage wrappers. Registered through
  * `spark.sql.queryExecutionListeners`, so it also sees the queries of
  * cloned sessions. */
class PlanProbe extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (PlanProbe.enabled) {
      PlanProbe.executions.incrementAndGet()
      PlanProbe.flatten(qe.executedPlan).foreach { p =>
        val key = p.nodeName match {
          case n if n.startsWith("Exchange") => "exchanges"
          case "SortMergeJoin" => "sort_merge_joins"
          case "BroadcastHashJoin" => "broadcast_joins"
          case "BroadcastNestedLoopJoin" | "CartesianProduct" => "nested_loop_joins"
          case _ => ""
        }
        if (key.nonEmpty) PlanProbe.counts.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (PlanProbe.enabled) PlanProbe.executions.incrementAndGet()
}

object PlanProbe {
  @volatile var enabled = false
  val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val executions = new AtomicLong

  def count(key: String): Long = Option(counts.get(key)).map(_.get).getOrElse(0L)

  def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case r: ReusedExchangeExec => Nil
    case other => other.children.flatMap(flatten) ++ other.subqueries.flatMap(flatten)
  })
}

/** Per-micro-batch progress of every streaming query in the process.
  * Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * it also sees queries started from cloned sessions. */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    StreamProbe.progress.add(e.progress)
    StreamProbe.events.incrementAndGet()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    StreamProbe.events.incrementAndGet()
}

object StreamProbe {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val events = new AtomicLong

  def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var p = progress.poll()
    while (p != null) { out += p; p = progress.poll() }
    out.toSeq
  }

  def durationMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue()).getOrElse(0.0)
}

/** Waits until an asynchronously fed counter has stopped moving. */
object Settle {
  def apply(counters: (() => Long)*): Unit = {
    def snap = counters.map(_())
    var last = snap
    var quietSince = System.nanoTime()
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - quietSince < 250000000L && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val now = snap
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}
