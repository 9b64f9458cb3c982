package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of one run, kept in memory and written once at the end: name,
  * start, end, parent and run id. A disabled recorder (the untraced
  * run) records nothing. Times are epoch nanoseconds. */
final class Spans(val enabled: Boolean, runId: String) {
  import Spans.Span

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = epochBase + System.nanoTime()

  /** Time `f` as a span under `parent`; `f` receives the new span's id. */
  def apply[A](name: String, parent: Long = 0L)(f: Long => A): A = {
    val id = ids.incrementAndGet()
    val start = now()
    try f(id) finally add(name, parent, start, now(), id)
  }

  def add(name: String, parent: Long, start: Long, end: Long,
      id: Long = ids.incrementAndGet()): Unit =
    if (enabled) synchronized { spans += Span(id, parent, name, start, end) }

  def size: Int = synchronized(spans.size)

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val lines = synchronized(spans.toList).sortBy(_.start).map { s =>
      Json.obj("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Spans {
  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)
}

/** The graft.ops layer as Spark reports it: jobs, stages, tasks,
  * executor time, shuffle and spill from a SparkListener; Exchanges,
  * scans and planning phases from a QueryExecutionListener; codegen
  * compile time from Spark's CodegenMetrics. Registered only in the
  * traced run. Each Spark job is also recorded as a span under
  * [[parent]]. */
final class Ops(spans: Spans) extends SparkListener with QueryExecutionListener {
  @volatile var parent: Long = 0L
  private val c = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs") += 1
    jobStart(e.jobId) = (e.time, parent)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, p) =>
      spans.add(s"job ${e.jobId}", p, t * 1000000L, e.time * 1000000L)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    Option(e.taskMetrics).foreach { m =>
      c("executor_run_ms") += m.executorRunTime
      c("executor_cpu_ms") += m.executorCpuTime / 1e6
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val (exchanges, scans) = Ops.shape(qe.executedPlan)
    val planning = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized {
      c("exchanges") += exchanges
      c("scans") += scans
      c("planning_ms") += planning
    }
  }

  /** Plan counts of executions no QueryExecutionListener sees. */
  def addPlans(exchanges: Double, scans: Double, planningMs: Double): Unit = synchronized {
    c("exchanges") += exchanges
    c("scans") += scans
    c("planning_ms") += planningMs
  }

  /** Counters so far, after every event already posted is delivered,
    * with codegen compile time (an estimate: Spark keeps a sampled
    * histogram of it) added. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(c.toMap).withDefaultValue(0.0) + ("codegen_ms" -> Ops.codegenMs())
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.asInstanceOf[classic.SparkSession].listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.asInstanceOf[classic.SparkSession].listenerManager.unregister(this)
  }
}

object Ops {
  val Summed: Seq[(String, String)] = Seq(
    "ops.jobs" -> "count", "ops.stages" -> "count", "ops.tasks" -> "count",
    "ops.executor_run_ms" -> "ms", "ops.executor_cpu_ms" -> "ms",
    "ops.driver_share" -> "frac", "ops.shuffle_read_bytes" -> "bytes",
    "ops.shuffle_write_bytes" -> "bytes", "ops.spill_bytes" -> "bytes",
    "ops.exchanges" -> "count", "ops.scans" -> "count",
    "ops.planning_ms" -> "ms", "ops.codegen_ms" -> "ms",
    "ops.blocks_left" -> "count")

  /** (Exchanges, scans) in an executed plan, through adaptive stages. */
  def shape(plan: SparkPlan): (Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(p => p.children.isEmpty && !p.isInstanceOf[ReusedExchangeExec]))
  }

  /** Estimated total codegen compile time so far in this JVM. */
  def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  /** `after - before` for every counter, with driver share derived from
    * the wall time and the cores the run used. */
  def delta(before: Map[String, Double], after: Map[String, Double],
      wallMs: Double, cores: Int): Map[String, Double] = {
    val keys = Summed.map(_._1.stripPrefix("ops."))
    val d = keys.map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
    d + ("driver_share" -> (1.0 - d("executor_run_ms") / (wallMs * cores)))
  }
}
