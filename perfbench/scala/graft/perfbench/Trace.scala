package graft.perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, SparkPlanInfo, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Half-open time interval in epoch milliseconds. */
final case class Span(start: Double, end: Double) {
  def length: Double = math.max(0.0, end - start)
}

object Spans {
  /** Merge overlapping spans into a sorted, disjoint list. */
  def union(spans: Iterable[Span]): List[Span] =
    spans.filter(_.length > 0).toList.sortBy(_.start).foldLeft(List.empty[Span]) {
      case (last :: rest, s) if s.start <= last.end => Span(last.start, math.max(last.end, s.end)) :: rest
      case (acc, s) => s :: acc
    }.reverse

  /** Length of `window` not covered by any of `covered`. */
  def uncovered(window: Span, covered: Iterable[Span]): Double =
    window.length - union(covered).map { s =>
      Span(math.max(s.start, window.start), math.min(s.end, window.end)).length
    }.sum
}

/** Millisecond wall clock with sub-millisecond resolution, in the same epoch
  * as Spark's listener timestamps. */
object Clock {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6
}

/** Per-stage task totals, summed from SparkListenerTaskEnd. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakMem = 0L
  var inRows = 0L
  var inBytes = 0L
  var outRows = 0L
  var outBytes = 0L
  var shWrite = 0L
  var shRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
}

final case class JobRec(id: Int, group: String, execId: Option[Long], resolve: Boolean,
    start: Double, stages: Seq[Int]) {
  @volatile var end: Double = Double.NaN
}

/** One finished query execution as the QueryExecutionListener saw it. The
  * listener's QueryExecution carries no execution id, so it is matched to
  * one through the SQL metric accumulators its final plan shares with the
  * plan the execution-start and adaptive-update events announced. */
final case class QeRec(metricIds: Seq[Long], phases: Map[String, Span], opsOutsideWscg: Int)

/** Collects Spark's own events from outside the program: a SparkListener for
  * jobs, stages and task metrics, a QueryExecutionListener for Catalyst phase
  * times and the final physical plan, and spans recorded around the table
  * resolver the benchmark hands to the facade. Everything is kept in memory
  * and joined to client operations by job group when the run ends.
  *
  * Only events that arrive while `enabled` is set are kept; an operation is
  * traced when it started after tracing was switched on (see Run.closedLoop). */
final class Trace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()
  private val execGroups = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val metricExec = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val resolves = new ConcurrentLinkedQueue[(String, Span)]()
  private val fenceJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var fence = new CountDownLatch(0)

  /** Local property that marks jobs started inside the resolver. */
  val ResolveMark = "graft.perfbench.resolve"
  /** Local property that marks the one-task job [[drain]] runs. */
  private val FenceMark = "graft.perfbench.fence"
  private val JobGroup = "spark.jobGroup.id"

  /** Wrap a table resolver so every call is timed and its jobs are marked. */
  def resolver(base: String => org.apache.spark.sql.DataFrame): String => org.apache.spark.sql.DataFrame =
    name => {
      val prev = sc.getLocalProperty(ResolveMark)
      sc.setLocalProperty(ResolveMark, "1")
      val t0 = Clock.nowMs
      try base(name)
      finally {
        sc.setLocalProperty(ResolveMark, prev)
        if (enabled)
          resolves.add((Option(sc.getLocalProperty(JobGroup)).getOrElse(""),
            Span(t0, Clock.nowMs)))
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    if (prop(FenceMark).contains("1")) fenceJobs.add(e.jobId)
    else if (enabled)
      jobs.put(e.jobId, JobRec(e.jobId, prop(JobGroup).getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong), prop(ResolveMark).contains("1"),
        e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    if (fenceJobs.remove(e.jobId)) fence.countDown()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    val m = e.taskMetrics
    val s = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outRows += m.outputMetrics.recordsWritten
      s.outBytes += m.outputMetrics.bytesWritten
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled =>
      s.jobGroupId.foreach(g => execGroups.put(s.executionId, g))
      indexMetrics(s.sparkPlanInfo, s.executionId)
    case u: SparkListenerSQLAdaptiveExecutionUpdate if enabled =>
      indexMetrics(u.sparkPlanInfo, u.executionId)
    case _ =>
  }

  private def indexMetrics(info: SparkPlanInfo, execId: Long): Unit = {
    info.metrics.foreach(m => metricExec.put(m.accumulatorId, execId))
    info.children.foreach(indexMetrics(_, execId))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> Span(v.startTimeMs.toDouble, v.endTimeMs.toDouble)
    }
    val plan = qe.executedPlan
    val outside = try Trace.opsOutsideWscg(plan) catch { case _: Throwable => 0 }
    qes.add(QeRec(Trace.nodes(plan).flatMap(_.metrics.values.map(_.id)).toSeq, phases, outside))
  }

  /** Wait until the listeners have seen every event posted so far. Listener
    * events are delivered asynchronously, and this listener and the
    * QueryExecutionListener both sit on Spark's shared event queue, which
    * delivers in order. So it runs a one-task job and waits for that job's
    * end event. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    fence = new CountDownLatch(1)
    sc.setLocalProperty(FenceMark, "1")
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(FenceMark, null)
    fence.await(timeoutMs, TimeUnit.MILLISECONDS)
  }

  /** Per-operation layer figures, keyed by operation id. `opOf` maps a job
    * group to the operation that owns it. */
  def layers(ops: Seq[OpResult], opOf: String => Option[String]): Map[String, Map[String, Double]] = {
    val jobsByOp = jobs.values.asScala.toSeq.flatMap(j => opOf(j.group).map(_ -> j)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val execToOp = mutable.Map[Long, String]()
    execGroups.asScala.foreach { case (ex, g) => opOf(g).foreach(op => execToOp(ex) = op) }
    jobs.values.asScala.foreach(j => j.execId.foreach(ex => opOf(j.group).foreach(op => execToOp(ex) = op)))
    def execOf(q: QeRec) = q.metricIds.iterator.flatMap(id => Option(metricExec.get(id))).nextOption()
    val qesByOp = qes.asScala.toSeq.flatMap(q => execOf(q).flatMap(execToOp.get).map(_ -> q)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val resolvesByOp = resolves.asScala.toSeq.flatMap { case (g, s) => opOf(g).map(_ -> s) }.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }

    ops.filter(_.traced).map { op =>
      val js = jobsByOp.getOrElse(op.id, Nil)
      val qs = qesByOp.getOrElse(op.id, Nil)
      val rs = resolvesByOp.getOrElse(op.id, Nil)
      val st = js.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
      def sum(f: StageTotals => Long) = st.map(f).sum.toDouble
      val jobSpans = js.map(j => Span(j.start, if (j.end.isNaN) op.endMs else j.end))
      def phase(name: String) = qs.flatMap(_.phases.get(name))
      val phaseSpans = qs.flatMap(_.phases.values)
      val opSpan = Span(op.startMs, op.endMs)
      // DataFrame construction: an in-process op times it directly; over
      // HTTP it runs from request start to the analysis of the last query
      // execution (the one that renders the response). Either way the
      // resolver, jobs and other executions' planning inside it are removed.
      val buildWindow = op.buildEndMs match {
        case Some(e) => Some(Span(op.startMs, e))
        case None => qs.flatMap(_.phases.get("analysis")).map(_.start).maxOption.map(Span(op.startMs, _))
      }
      val buildMs = buildWindow.map { w =>
        Spans.uncovered(w, rs ++ jobSpans ++ phaseSpans.filter(_.start < w.end))
      }.getOrElse(0.0)
      val children = rs ++ jobSpans ++ phaseSpans ++ buildWindow.toSeq
      op.id -> Map(
        "sources.resolve_calls" -> rs.size.toDouble,
        "sources.resolve_ms" -> rs.map(_.length).sum,
        "sources.resolve_jobs" -> js.count(_.resolve).toDouble,
        "sources.write_bytes" -> sum(_.outBytes),
        "sources.write_rows" -> sum(_.outRows),
        "operators.build_ms" -> buildMs,
        "catalyst.analysis_ms" -> phase("analysis").map(_.length).sum,
        "catalyst.optimization_ms" -> phase("optimization").map(_.length).sum,
        "catalyst.planning_ms" -> phase("planning").map(_.length).sum,
        "scheduler.jobs_per_op" -> js.size.toDouble,
        "scheduler.stages_per_op" -> js.flatMap(_.stages).distinct.size.toDouble,
        "scheduler.tasks_per_op" -> sum(_.tasks),
        "scheduler.job_wall_ms" -> Spans.union(jobSpans).map(_.length).sum,
        "scan.rows" -> sum(_.inRows),
        "scan.bytes" -> sum(_.inBytes),
        "shuffle.write_bytes" -> sum(_.shWrite),
        "shuffle.read_bytes" -> sum(_.shRead),
        "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
        "shuffle.spill_bytes" -> sum(_.spill),
        "codegen.ops_outside_wscg" -> qs.map(_.opsOutsideWscg).sum.toDouble,
        "exec.cpu_ms" -> sum(_.cpuNs) / 1e6,
        "exec.run_ms" -> sum(_.runMs),
        "exec.gc_ms" -> sum(_.gcMs),
        "exec.peak_memory_mb" -> st.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
        "server.self_ms" -> Spans.uncovered(opSpan, children))
    }.toMap
  }
}

object Trace {
  /** Every node of a physical plan, looking through adaptive plans, query
    * stages and expression subqueries. */
  def nodes(plan: SparkPlan): Iterator[SparkPlan] = {
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case p => p.children ++ p.subqueries
    }
    Iterator.single(plan) ++ kids.iterator.flatMap(nodes)
  }

  /** Physical operators that run outside whole-stage codegen, counted over
    * the final (adaptive) plan. Exchanges, query stages, command and write
    * wrappers carry no per-row code of their own and are not counted. */
  def opsOutsideWscg(plan: SparkPlan): Int = {
    def infra(p: SparkPlan): Boolean = p match {
      case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec | _: V2CommandExec |
           _: ExecutedCommandExec | _: DataWritingCommandExec | _: WriteFilesExec => true
      case _ => false
    }
    def outside(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => outside(a.executedPlan)
      case s: QueryStageExec => outside(s.plan)
      case w: WholeStageCodegenExec => inside(w.child)
      case _ => (if (infra(p)) 0 else 1) + p.children.map(outside).sum + subqueries(p)
    }
    def inside(p: SparkPlan): Int = p match {
      case i: InputAdapter => outside(i.child)
      case _ => p.children.map(inside).sum + subqueries(p)
    }
    def subqueries(p: SparkPlan): Int = p.subqueries.map(outside).sum
    outside(plan)
  }
}
