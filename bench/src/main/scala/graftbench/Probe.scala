package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed time interval in epoch milliseconds, tagged with its layer. */
final case class Span(layer: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** What the listeners saw during one op. */
final class OpRecord {
  val spans = ArrayBuffer[Span]()          // plan phases, jobs, stages
  val taskIntervals = ArrayBuffer[(Long, Long)]()
  var jobs = 0; var eagerJobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shufR = 0L; var shufW = 0L; var spill = 0L; var input = 0L; var output = 0L
  var peakMem = 0L
  var exchanges = 0
  var maxJoinRows = 0L
  var codegenNs = 0L; var codegenClasses = 0L
}

/** Measures the engine's layers from outside: a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for planning
  * phases and final plans. It records only while `on` is set, so the
  * same session can run traced and untraced passes.
  *
  * Jobs are attributed to the op phase that launched them through a job
  * local property, because listener events arrive asynchronously.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private var cur = new OpRecord

  def begin(): Unit = synchronized { cur = new OpRecord }
  /** Drain the listener bus, then hand over what the op recorded. */
  def end(): OpRecord = {
    org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
    synchronized { cur }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    cur.jobs += 1
    val phase = Option(e.properties).map(_.getProperty(Probe.PhaseKey)).orNull
    if (phase == "fn") cur.eagerJobs += 1
    jobStart(e.jobId) = e.time
  }
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobStart.remove(e.jobId).foreach(t0 => cur.spans += Span("sched", s"job ${e.jobId}", t0, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    val i = e.stageInfo
    cur.stages += 1
    for (s <- i.submissionTime; c <- i.completionTime)
      cur.spans += Span("exec", s"stage ${i.stageId}", s.toDouble, c.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    cur.tasks += 1
    cur.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shufR += m.shuffleReadMetrics.totalBytesRead
      cur.shufW += m.shuffleWriteMetrics.bytesWritten
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.input += m.inputMetrics.bytesRead
      cur.output += m.outputMetrics.bytesWritten
      cur.peakMem = math.max(cur.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning phases and final-plan facts of one executed query. */
  def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      Probe.planLayer.get(phase).foreach { l =>
        cur.spans += Span(l, phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    }
    val nodes = Probe.nodes(qe.executedPlan)
    cur.exchanges += nodes.count {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    }
    val joinRows = nodes.collect { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    if (joinRows.nonEmpty) cur.maxJoinRows = math.max(cur.maxJoinRows, joinRows.max)
  }
}

object Probe {
  val PhaseKey = "graftbench.phase"
  private val planLayer = Map(
    "analysis" -> "plan.analysis", "optimization" -> "plan.optimizer",
    "planning" -> "plan.physical")

  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages but not into cached relations (their build is not this
    * query's work).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case m: InMemoryTableScanExec => Seq(m)
    case other => other +: other.children.flatMap(nodes)
  }
}
