package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage totals folded from task-end events. Times in ms, sizes in
  * bytes. */
final class StageAgg {
  var tasks, failed = 0
  var runMs, cpuNs, gcMs, shufWrite, shufRecs, spill, written = 0L
  var peakMem = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, start: Long, end: Long, stages: Seq[Int])
final case class StageRec(id: Int, name: String, submit: Long, end: Long)
final case class QeRec(plannedAt: Long, phasesMs: Map[String, Long],
    ruleRuns: Long, ruleEffective: Long, scanMs: Long, scanRows: Long)
final case class BatchRec(queryId: String, batchId: Long, start: Long,
    rows: Long, durations: Map[String, Long])

/** Stream progress recorder. Registered in every run of a workload with
  * stream ops, because `batch_p50_s` is an end-to-end metric. */
final class BatchListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  val terminated = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(BatchRec(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.id.toString)

  /** Block until the listener has seen `n` terminations: progress events
    * arrive asynchronously, after `awaitTermination` returns. */
  def awaitTerminated(n: Int, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated.size < n && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}

/** Everything the traced run records, from Spark's public listener APIs
  * only: a SparkListener (jobs, stages, tasks, blocks) and a
  * QueryExecutionListener (planning phases, rule counters,
  * scan metrics of the executed plan). Numbers are pulled out of each
  * QueryExecution as it arrives and the plan is dropped, so tracing keeps
  * no plan (and no checkpointed RDD) alive. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val stageAgg = mutable.Map.empty[Int, StageAgg]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  var rddBlockBytes = 0L
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, st) =>
      jobs += JobRec(e.jobId, t, e.time, st)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages(i.stageId) = StageRec(i.stageId, i.name, s, c)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.taskRunMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufRecs += m.shuffleWriteMetrics.recordsWritten
      a.spill += m.diskBytesSpilled
      a.written += m.outputMetrics.bytesWritten
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        rddBlockBytes += b.memSize + b.diskSize
    }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, p) => k -> p.durationMs }
    val graftRules = t.rules.filter(_._1.startsWith("graft.plans")).values
    var scanMs, scanRows = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case s: FileSourceScanExec =>
        scanMs += s.metrics.get("scanTime").map(_.value).getOrElse(0L)
        scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    walk(qe.executedPlan)
    // the last planning phase ends as the action starts: that instant
    // places the execution inside an op
    val plannedAt = if (t.phases.isEmpty) 0L else t.phases.values.map(_.endTimeMs).max
    val rec = QeRec(plannedAt, phases, graftRules.map(_.numInvocations).sum,
      graftRules.map(_.numEffectiveInvocations).sum, scanMs, scanRows)
    synchronized { qes += rec }
  }
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until every event posted before this call has been delivered:
    * run one tagged job and wait for its end event, which the shared
    * listener queue delivers after everything queued before it. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "listener drain marker")
    val ids = try {
      sc.parallelize(Seq(1), 1).count()
      sc.statusTracker.getJobIdsForGroup("perfbench-drain").toSet
    } finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    def seen = synchronized(ids.forall(i => jobs.exists(_.id == i)))
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
