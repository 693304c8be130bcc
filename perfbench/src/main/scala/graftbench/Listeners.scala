package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution totals of the jobs run under one job group. */
final class ExecLedger {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var schedDelayMs = 0.0
  var shuffleWriteB = 0.0
  var shuffleReadB = 0.0
  var spillB = 0.0
  var inputB = 0.0
  var peakExecMemB = 0.0
  var skewMax = 1.0

  def add(o: ExecLedger): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; shuffleWriteB += o.shuffleWriteB
    shuffleReadB += o.shuffleReadB; spillB += o.spillB; inputB += o.inputB
    peakExecMemB = peakExecMemB.max(o.peakExecMemB); skewMax = skewMax.max(o.skewMax)
  }
}

final case class JobRec(id: Int, group: String, start: Double, end: Double)
final case class StageRec(id: Int, attempt: Int, job: Int, name: String,
                          start: Double, end: Double)

/** Collects every job, stage and task of one SparkContext and files them
  * under the job group the benchmark set (`<query>:construct`,
  * `<query>:action`, `<pipeline>:batch`). Read it only after [[Layers.drain]]. */
final class LayerListener extends SparkListener {
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val ledgers = mutable.HashMap.empty[String, ExecLedger]
  private val jobStart = mutable.HashMap.empty[Int, Double]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]

  private def ledger(group: String) = ledgers.getOrElseUpdate(group, new ExecLedger)
  private def groupOfStage(stage: Int): String =
    stageJob.get(stage).flatMap(jobGroup.get).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    ledger(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    jobs += JobRec(e.jobId, g, jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = ledger(groupOfStage(e.stageId))
    l.tasks += 1
    if (!e.taskInfo.successful) l.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime.toDouble
      l.taskMs += run
      l.cpuNs += m.executorCpuTime.toDouble
      l.gcMs += m.jvmGCTime.toDouble
      l.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten.toDouble
      l.shuffleReadB += m.shuffleReadMetrics.totalBytesRead.toDouble
      l.spillB += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      l.inputB += m.inputMetrics.bytesRead.toDouble
      l.peakExecMemB = l.peakExecMemB.max(m.peakExecutionMemory.toDouble)
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        e.taskInfo.gettingResultTime
      l.schedDelayMs += (e.taskInfo.duration - run - overhead).max(0L).toDouble
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += run
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val l = ledger(groupOfStage(si.stageId))
    l.stages += 1
    stageTaskMs.remove((si.stageId, si.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val med = Stats.median(ts.toSeq)
        if (med > 0) l.skewMax = l.skewMax.max(ts.max / med)
      }
    }
    for (a <- si.submissionTime; b <- si.completionTime)
      stageRecs += StageRec(si.stageId, si.attemptNumber(), stageJob.getOrElse(si.stageId, -1),
        si.name, a.toDouble, b.toDouble)
  }

  /** Removes and returns the ledger of `group`. */
  def take(group: String): ExecLedger = synchronized(ledgers.remove(group).getOrElse(new ExecLedger))

  /** Removes every ledger and returns their sum. */
  def takeAll(): ExecLedger = synchronized {
    val sum = new ExecLedger
    ledgers.values.foreach(sum.add)
    ledgers.clear()
    sum
  }

  /** Removes and returns the job and stage records seen so far. */
  def takeSpans(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val r = (jobs.toSeq, stageRecs.toSeq)
    jobs.clear(); stageRecs.clear()
    r
  }
}

/** One Catalyst phase of one executed plan, epoch milliseconds. */
final case class PhaseRec(phase: String, start: Double, end: Double)

/** Reads analysis, optimization and planning times off every successful
  * QueryExecution's tracker, and the parquet scan time off its final
  * (post-AQE) plan. */
final class PlanListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private var scanMs = 0.0

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      PlanListener.scans(qe.executedPlan).foreach { s =>
        s.metrics.get("scanTime").foreach(m => scanMs += m.value.toDouble)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Removes and returns the phases and scan milliseconds seen so far. */
  def take(): (Seq[PhaseRec], Double) = synchronized {
    val r = (phases.toSeq, scanMs)
    phases.clear(); scanMs = 0
    r
  }
}

object PlanListener {
  /** Every file scan node of a plan, looking through adaptive wrappers,
    * query stages, reused exchanges and subqueries. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case s if s.nodeName.startsWith("Scan ") || s.getClass.getSimpleName == "FileSourceScanExec" =>
      Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}

/** The listeners of one SparkContext. */
final case class Layers(sc: SparkContext, exec: LayerListener, plan: PlanListener) {
  def drain(): Unit = org.apache.spark.perfbench.Drain(sc)
  /** Drains and discards everything recorded so far. */
  def reset(): Unit = { drain(); exec.takeAll(); exec.takeSpans(); plan.take() }
}

/** Registers the benchmark's listeners at most once per SparkContext. A
  * session rebuilt after its context stopped gets fresh listeners; asking
  * again for a live context returns the listeners it already has, so no
  * event is ever counted twice. */
object Layers {
  private val bySc = mutable.HashMap.empty[SparkContext, Layers]

  def of(spark: SparkSession): Layers = synchronized {
    val sc = spark.sparkContext
    bySc.filterInPlace((c, _) => !c.isStopped)
    bySc.getOrElseUpdate(sc, {
      val l = Layers(sc, new LayerListener, new PlanListener)
      sc.addSparkListener(l.exec)
      spark.listenerManager.register(l.plan)
      l
    })
  }

  /** Number of contexts that currently carry benchmark listeners. */
  def registered: Int = synchronized(bySc.size)
}
