package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a CLI command, a streaming gate or a registry
  * query. `startMs`/`endMs` (wall clock, the clock Spark stamps its events
  * with) bound the op for span attribution; `wallS` is from `nanoTime`.
  */
final case class Op(name: String, module: String, startMs: Long,
    endMs: Long, wallS: Double, ok: Boolean, error: String,
    codegenCompiles: Long)

object Op {
  /** Runs `body` as one op. A throwing body is a failed op, not a crash. */
  def timed(name: String, module: String)(body: => Unit): Op = {
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error =
      try { body; "" }
      catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val wallS = (System.nanoTime() - t0) / 1e9
    Op(name, module, startMs, System.currentTimeMillis(), wallS,
      error.isEmpty, error,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
  }
}

/** Per-op breakdown from the traced pass. `busyS + gapS == wallS` holds by
  * construction: busy is the union of the op's job intervals (clipped to
  * the op), and the driver gap is the rest of the op's wall time.
  */
final case class OpSpan(op: Op, busyS: Double, gapS: Double, jobs: Int,
    stages: Int, tasks: Int, planningS: Double, executorRunS: Double,
    busiestStageSkew: Double, jobSpans: Seq[(Int, Long, Long)])

/** Records job, stage, task, planning and streaming-epoch spans through
  * listeners the benchmark registers itself. Every span is attributed to
  * the op whose interval contains its start; ops run one at a time, so
  * the attribution is exact. Spans stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val epochs = mutable.ArrayBuffer.empty[EpochRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks += (if (m == null)
        TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, i.failed)
      else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.diskBytesSpilled, i.failed))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val files = try PlanWalk.filesRead(qe.executedPlan) catch { case NonFatal(_) => 0L }
      synchronized {
        plans += PlanRec(phases.values.map(_.startTimeMs).min,
          phases.values.map(_.durationMs).sum, files)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      Tracer.this.synchronized {
        epochs += EpochRec(p.id.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          dur("triggerExecution"), dur("addBatch"), dur("walCommit"),
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Breaks each op down into its spans. Call after [[stop]]. */
  def spans(ops: Seq[Op]): Seq[OpSpan] = synchronized {
    def opOf(t: Long): Option[Op] = ops.find(o => t >= o.startMs && t <= o.endMs)
    val jobOp = jobStart.flatMap { case (j, t) => opOf(t).map(j -> _) }
    val taskOp = tasks.flatMap { t =>
      stageJob.get(t.stageId).flatMap(jobOp.get).orElse(opOf(t.launchMs)).map(_ -> t)
    }
    ops.map { op =>
      val js = jobOp.collect { case (j, o) if o eq op => j }.toSeq.sorted
      val intervals = js.map { j =>
        (j, math.max(jobStart(j), op.startMs), math.min(jobEnd.getOrElse(j, op.endMs), op.endMs))
      }
      val busyS = math.min(unionMs(intervals.map(i => (i._2, i._3))) / 1000.0, op.wallS)
      val ts = taskOp.collect { case (o, t) if o eq op => t }.toSeq
      val jobSet = js.toSet
      val st = stages.count(s => stageJob.get(s.stageId).exists(jobSet))
      // skew of the op's busiest stage: slowest task over mean task
      val skew = ts.groupBy(_.stageId).values.maxByOption(_.map(_.runMs).sum)
        .map(_.map(_.runMs.toDouble))
        .filter(_.sum > 0).map(run => run.max / (run.sum / run.size))
        .getOrElse(1.0)
      val plan = plans.filter(p => p.startMs >= op.startMs && p.startMs <= op.endMs)
      OpSpan(op, busyS, op.wallS - busyS, js.size, st, ts.size,
        plan.map(_.planningMs).sum / 1000.0, ts.map(_.runMs).sum / 1000.0,
        skew, intervals)
    }
  }

  /** Layer totals over the ops of one traced pass. */
  def layers(ops: Seq[Op], sp: Seq[OpSpan]): Map[String, Double] = synchronized {
    def in(t: Long) = ops.exists(o => t >= o.startMs && t <= o.endMs)
    val jobIds = jobStart.collect { case (j, t) if in(t) => j }.toSet
    val ts = tasks.filter(t => stageJob.get(t.stageId).exists(jobIds) || in(t.launchMs))
    val submitted = stages.map(s => s.stageId -> s.submissionMs).toMap
    val ep = epochs.filter(e => in(e.startMs))
    val epochJobs = jobStart.count { case (_, t) =>
      ep.exists(e => t >= e.startMs && t <= e.startMs + e.triggerMs)
    }
    val plan = plans.filter(p => in(p.startMs))
    def s(ms: Iterable[Long]) = ms.sum / 1000.0
    Map(
      "spark.jobs" -> sp.map(_.jobs).sum.toDouble,
      "spark.stages" -> sp.map(_.stages).sum.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "spark.driver_gap_s" -> sp.map(_.gapS).sum,
      "spark.planning_s" -> s(plan.map(_.planningMs)),
      "spark.files_read" -> plan.map(_.filesRead).sum.toDouble,
      "spark.codegen_compiles" -> ops.map(_.codegenCompiles).sum.toDouble,
      "spark.executor_run_s" -> s(ts.map(_.runMs)),
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> s(ts.map(_.gcMs)),
      "spark.task_wait_s" -> s(ts.map(t =>
        math.max(0L, t.launchMs - submitted.getOrElse(t.stageId, t.launchMs)))),
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> ts.map(_.outputBytes).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "streaming.epochs" -> ep.size.toDouble,
      "streaming.epoch_p50_s" -> Stats.median(ep.map(_.triggerMs / 1000.0).toSeq),
      "streaming.epoch_max_s" -> ep.map(_.triggerMs / 1000.0).maxOption.getOrElse(0.0),
      "streaming.addBatch_s" -> s(ep.map(_.addBatchMs)),
      "streaming.walCommit_s" -> s(ep.map(_.walCommitMs)),
      "streaming.state_commit_s" -> s(ep.map(_.stateCommitMs)),
      "streaming.state_rows" ->
        ep.groupBy(_.queryId).values.map(_.map(_.stateRows).max).sum.toDouble,
      "streaming.jobs_per_epoch" ->
        (if (ep.isEmpty) 0.0 else epochJobs.toDouble / ep.size))
  }
}

object Tracer {
  final case class StageRec(stageId: Int, submissionMs: Long,
      completionMs: Long, numTasks: Int)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, inputBytes: Long, outputBytes: Long,
      spillBytes: Long, failed: Boolean)
  final case class PlanRec(startMs: Long, planningMs: Long, filesRead: Long)
  final case class EpochRec(queryId: String, startMs: Long, triggerMs: Long,
      addBatchMs: Long, walCommitMs: Long, stateCommitMs: Long,
      stateRows: Long)

  /** Length of the union of closed intervals, in the intervals' unit. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def filesRead(plan: SparkPlan): Long =
      collectWithSubqueries(plan) {
        case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum
  }
}
