package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's ledger: one row per measured operation (a query
  * execution or a stream micro-batch), filled from outside the program.
  *
  *  - Before each operation the harness sets the Spark local property
  *    [[Tracer.Prop]] to the operation's index. Driver threads the
  *    program spawns (`Overlap.par2`) inherit it, and every job carries
  *    it in `SparkListenerJobStart.properties`, so jobs, stages, tasks
  *    and task metrics land on the operation that caused them.
  *  - A job's module is the first `graft.` frame of its long call site
  *    (`StageInfo.details`): the program module whose code ran the
  *    action. Jobs that SQL runs on its own threads (broadcasts, adaptive
  *    query stages) have no program frame; they take the call site of
  *    their SQL execution. A job's stages are billed to its module.
  *  - Planning phases and plan-node counts come from the
  *    `QueryExecution` of each action, read in a registered
  *    `QueryExecutionListener` (nothing is planned twice). They are
  *    matched to the operation whose time window holds the analysis.
  *  - Rows live in memory and are written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ops = mutable.ArrayBuffer.empty[TraceOp]
  private val stageOp = new ConcurrentHashMap[Int, TraceOp]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val execModule = new ConcurrentHashMap[Long, String]()

  private def opAt(ms: Long): Option[TraceOp] = ops.synchronized {
    ops.findLast(o => o.startMs <= ms && ms <= o.endMs)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val idx = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      idx.foreach { i =>
        val op = ops.synchronized(ops(i.toInt))
        val own = e.stageInfos.sortBy(-_.stageId).headOption
          .map(s => moduleOf(s.details)).getOrElse(NoModule)
        val module = if (own != NoModule) own else
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(execModule.get(id.toLong))).getOrElse(own)
        e.stageInfos.foreach { s =>
          stageOp.put(s.stageId, op)
          stageModule.putIfAbsent(s.stageId, module)
        }
        op.synchronized { op.jobs += 1; op.moduleJobs(module) += 1 }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execModule.put(s.executionId, moduleOf(s.details))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      Option(stageOp.get(s.stageId)).foreach { op =>
        val m = s.taskMetrics
        op.synchronized {
          op.stages += 1
          op.tasks += s.numTasks
          if (m != null) {
            op.taskMs += m.executorRunTime
            op.gcMs += m.jvmGCTime
            op.inputBytes += m.inputMetrics.bytesRead
            op.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            op.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            op.spillBytes += m.diskBytesSpilled
            op.moduleTaskMs(stageModule.getOrDefault(s.stageId, NoModule)) +=
              m.executorRunTime
          }
          for (a <- s.submissionTime; b <- s.completionTime)
            op.intervals += ((a, b))
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = phases.get("analysis").map(_.startTimeMs)
        .orElse(phases.values.map(_.startTimeMs).minOption)
      start.flatMap(opAt).foreach { op =>
        val nodes = planNodes(qe.executedPlan)
        op.synchronized {
          op.analyzeMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
          op.optimizeMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
          op.planMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
          op.exchanges += nodes.count(_.isInstanceOf[Exchange])
          op.scans += nodes.count(_.getClass.getSimpleName.endsWith("ScanExec"))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Open an operation: later jobs on this thread (and threads it
    * spawns) are attributed to it. */
  def begin(name: String, unit: Int): TraceOp = {
    val op = ops.synchronized {
      val o = new TraceOp(ops.size, name, unit)
      o.startMs = System.currentTimeMillis()
      ops += o
      o
    }
    spark.sparkContext.setLocalProperty(Prop, op.idx.toString)
    op
  }

  def end(op: TraceOp, wallS: Double): Unit = {
    spark.sparkContext.setLocalProperty(Prop, null)
    op.wallS = wallS
    op.endMs = System.currentTimeMillis()
  }

  /** Wait for queued listener events, detach, and return the ledger rows. */
  def finish(): Seq[String] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    ops.toSeq.map(_.toJson)
  }
}

object Tracer {
  val Prop = "perfbench.op"
  val NoModule = "(harness)"
  val MB = 1024.0 * 1024.0

  /** `graft.operators.Dedup$$anonfun$x.apply(Dedup.scala:12)` →
    * `operators.Dedup`; the first `graft.` frame of a long call site, or
    * [[NoModule]] for an action the harness itself ran (a query's final
    * `collect`). */
  def moduleOf(details: String): String =
    Option(details).toSeq.flatMap(_.split('\n')).map(_.trim)
      .find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
        .takeWhile(_ != '$').stripPrefix("graft."))
      .getOrElse(NoModule)

  /** Every node of a physical plan, through adaptive wrappers, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other =>
      other +: (other.children.flatMap(planNodes) ++
        other.subqueries.flatMap(planNodes))
  }
}

/** One ledger row: a measured operation and what it caused. */
final class TraceOp(val idx: Int, val name: String, val unit: Int) {
  var startMs = 0L
  var endMs = Long.MaxValue
  var wallS = 0.0
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analyzeMs = 0L
  var optimizeMs = 0L
  var planMs = 0L
  var exchanges = 0
  var scans = 0
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val moduleJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  val moduleTaskMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Child spans the harness closes inside the operation (name → s). */
  val spans = mutable.LinkedHashMap.empty[String, Double]
  /** Values the harness samples after the operation (sizes, ratios). */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  /** Operation wall outside any running stage: driver-side
    * composition, planning and scheduling gaps. */
  def idleS: Double = {
    val clipped = intervals.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, wallS - covered / 1000.0)
  }

  def toJson: String = Json(mutable.LinkedHashMap[String, Any](
    "op" -> name, "unit" -> unit, "wall_s" -> wallS,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_s" -> taskMs / 1000.0, "gc_s" -> gcMs / 1000.0,
    "input_mb" -> inputBytes / Tracer.MB, "shuffle_read_mb" -> shuffleReadBytes / Tracer.MB,
    "shuffle_write_mb" -> shuffleWriteBytes / Tracer.MB, "spill_mb" -> spillBytes / Tracer.MB,
    "idle_s" -> idleS, "analyze_s" -> analyzeMs / 1000.0,
    "optimize_s" -> optimizeMs / 1000.0, "plan_s" -> planMs / 1000.0,
    "exchanges" -> exchanges, "scans" -> scans,
    "module_jobs" -> moduleJobs, "module_task_s" ->
      moduleTaskMs.map { case (k, v) => k -> v / 1000.0 },
    "spans" -> spans, "extra" -> extra))
}
