package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Spans nest workload → day or query → layer call; the
  * Spark counters are filled in by [[Tracer]]'s listeners from the jobs,
  * stages and tasks that ran while the span was open. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
    val runId: String) {
  val depth: Int = parent.fold(0)(_.depth + 1)
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = -1L
  var endMs: Long = Long.MaxValue
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def wallS: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = counters(key) += v

  /** Wall time inside the span with no Spark job running. */
  def idleS: Double = {
    val clipped = jobIntervals.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    clipped.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    math.max(0.0, wallS - covered / 1000.0)
  }
}

/** Spans plus the listeners that attribute Spark work to them. One
  * operation is in flight at a time, so a job belongs to the span that is
  * open when it starts: the span id travels as a SparkContext local
  * property (inherited by the pool threads the engine creates inside the
  * call), with the open-span-at-that-time as the fallback. A disabled
  * tracer records nothing and registers no listener. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val PropKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private var open: Option[Span] = None
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Span]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .flatMap(id => byId.get(id.toInt)).orElse(at(e.time))
      s.foreach { span =>
        span.add("jobs", 1)
        jobSpan(e.jobId) = span
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for (span <- jobSpan.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
        span.jobIntervals += ((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        span.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          span.add("task_s", m.executorRunTime / 1000.0)
          span.add("gc_s", m.jvmGCTime / 1000.0)
          span.add("shuffle_bytes",
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          span.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          span.add("input_bytes", m.inputMetrics.bytesRead)
          span.add("output_bytes", m.outputMetrics.bytesWritten)
          span.add("output_records", m.outputMetrics.recordsWritten)
        }
      }
    }
  }

  /** Planning phases (analysis, optimization, physical planning) of every
    * action, charged to the span open when planning started. */
  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) at(phases.map(_.startTimeMs).min).foreach { span =>
        span.add("plan_s", phases.map(_.durationMs).sum / 1000.0)
        span.add("actions", 1)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
  }

  /** Innermost span open at wall-clock time `ms`. */
  private def at(ms: Long): Option[Span] =
    spans.reverseIterator.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(_.depth)

  /** Run `f` inside a span named `name`, child of the open span. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, open, runId)
        spans += s
        byId(s.id) = s
        open = Some(s)
        s
      }
      val sc = spark.sparkContext
      sc.setLocalProperty(PropKey, s.id.toString)
      try f
      finally {
        synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
          open = s.parent
        }
        sc.setLocalProperty(PropKey, s.parent.map(_.id.toString).orNull)
      }
    }

  /** The span most recently closed under `name`, for attaching counts the
    * benchmark measures itself (files, plan census). */
  def last(name: String): Option[Span] =
    if (!enabled) None else synchronized(spans.reverseIterator.find(_.name == name))

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Per span name (`query:q1` and `day:2024-03-01` group as `query` and
    * `day`): calls, total wall and self wall (wall minus the part its child
    * spans cover). */
  def layerTable: Seq[(String, Int, Double, Double)] = {
    val children = all.groupBy(_.parent.map(_.id))
    all.groupBy(_.name.takeWhile(_ != ':')).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(_.wallS).sum
      val self = ss.map(s => s.wallS - children.getOrElse(Some(s.id), Nil).map(_.wallS).sum).sum
      (name, ss.size, total, self)
    }
  }

  def spansJson: Seq[String] = all.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent.map(_.id).getOrElse(-1)},""" +
      s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""wall_s":${s.wallS},"idle_s":${s.idleS},"counters":{$cs}}"""
  }
}

/** Census of a final physical plan, subqueries and adaptive stages included. */
object PlanCensus extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }.toDouble,
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]).toDouble,
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble,
      "sorts" -> nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]).toDouble)
  }
}
