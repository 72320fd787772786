package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op counters filled from Spark's listener events and from each
  * finished query's planning tracker and AQE-final plan. */
final class OpStats {
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  def add(k: String, v: Double): Unit = counts(k) = counts(k) + v
  def max(k: String, v: Double): Unit = counts(k) = math.max(counts(k), v)

  /** max ÷ median task time of the stage with the most task time. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }
}

/** One SparkListener plus one QueryExecutionListener. Jobs are tied to
  * the op that submitted them through the `perfbench.op` local property;
  * queries finish inside the op whose window they fall in, since the
  * client runs one op at a time and [[sync]] drains the listener bus
  * after each op. */
final class Collector(trace: Trace) extends SparkListener with QueryExecutionListener {
  import Collector._

  @volatile private var stats: OpStats = new OpStats
  // job -> (op, span, parent span, start)
  private val jobs = mutable.Map[Int, (Long, Long, Long, Double)]()
  private val markerJobs = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, (Long, Long)]()        // stage -> (op, job span)
  private val stageSpan = mutable.Map[(Int, Int), (Long, Double)]()
  private val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
  private val phases = mutable.ArrayBuffer[(String, Double, Double)]()

  /** Start collecting for a new op; returns the finished op's stats. */
  def take(): (OpStats, Seq[(String, Double, Double)]) = synchronized {
    val s = stats
    val p = phases.toList
    stats = new OpStats
    phases.clear()
    stageJob.clear()
    (s, p)
  }

  /** Block until every event posted so far has been delivered: run a
    * one-task marker job and wait for its end event, which the shared
    * listener queue delivers after all earlier events. */
  def sync(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val prevOp = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(MarkerKey, null); sc.setLocalProperty(OpKey, prevOp) }
    var got = markers.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    while (got != null && got != tag)
      got = markers.poll(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(MarkerKey).foreach(tag => markerJobs(e.jobId) = tag)
    prop(OpKey).foreach { op =>
      val span = trace.newId()
      val parent = prop(SpanKey).map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = (op.toLong, span, parent, e.time * 1000.0)
      e.stageIds.foreach(s => stageJob(s) = (op.toLong, span))
      stats.add("exec.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (op, span, parent, start) =>
      trace.record(span, parent, op, "spark.job", start, e.time * 1000.0)
    }
    markerJobs.remove(e.jobId).foreach(markers.put)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (stageJob.contains(si.stageId))
      stageSpan((si.stageId, si.attemptNumber())) =
        (trace.newId(), si.submissionTime.getOrElse(System.currentTimeMillis()) * 1000.0)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for ((op, jobSpan) <- stageJob.get(si.stageId);
         (span, start) <- stageSpan.remove((si.stageId, si.attemptNumber()))) {
      stats.add("exec.stages", 1)
      trace.record(span, jobSpan, op, "spark.stage", start,
        si.completionTime.getOrElse(System.currentTimeMillis()) * 1000.0)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    // the marker job carries no op; its end event is the sync point
    for ((op, _) <- stageJob.get(e.stageId)) {
      val ti = e.taskInfo
      val m = e.taskMetrics
      stats.add("exec.tasks", 1)
      if (e.reason != Success) stats.add("exec.task_failures", 1)
      if (m != null) {
        stats.add("exec.task_run_ms", m.executorRunTime)
        stats.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        stats.add("exec.sched_delay_ms", math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime))
        stats.add("sources.scan_bytes", m.inputMetrics.bytesRead)
        stats.add("sources.scan_rows", m.inputMetrics.recordsRead)
        stats.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        stats.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        // fetch wait is always 0 under local[n] (every block is local),
        // so the shuffle's time is its write time
        stats.add("shuffle.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        stats.add("spill.memory_bytes", m.memoryBytesSpilled)
        stats.add("spill.disk_bytes", m.diskBytesSpilled)
        stats.add("output.bytes", m.outputMetrics.bytesWritten)
        stats.add("output.rows", m.outputMetrics.recordsWritten)
        stats.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += ti.duration
      }
      stageSpan.get((e.stageId, e.stageAttemptId)).foreach { case (stageSpanId, _) =>
        trace.record(trace.newId(), stageSpanId, op, "spark.task",
          ti.launchTime * 1000.0, ti.finishTime * 1000.0)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(qe)

  /** Analysis of a DataFrame that runs through a different query (a
    * write runs its own command query over the analyzed plan). */
  def analyzed(qe: QueryExecution): Unit = synchronized {
    phase(qe, "analysis")
  }

  private def phase(qe: QueryExecution, name: String): Unit =
    qe.tracker.phases.get(name).foreach { ps =>
      stats.add(s"catalyst.${name}_ms", ps.durationMs)
      phases += ((s"catalyst.$name", ps.startTimeMs * 1000.0, ps.endTimeMs * 1000.0))
    }

  private def query(qe: QueryExecution): Unit = synchronized {
    val t = qe.tracker
    Seq("analysis", "optimization", "planning").foreach(phase(qe, _))
    t.rules.foreach { case (rule, rs) =>
      if (rule.startsWith("graft.plans")) {
        stats.add("plans.rule_ms", rs.totalTimeNs / 1e6)
        stats.add("plans.rule_effective", rs.numEffectiveInvocations)
      }
    }
    try fingerprint(qe.executedPlan) catch { case _: Exception => () }
  }

  private def fingerprint(p: SparkPlan): Unit = {
    p match {
      case _: Exchange => stats.add("plan.exchange", 1)
      case _: HashAggregateExec | _: ObjectHashAggregateExec => stats.add("plan.hash_agg", 1)
      case _: SortAggregateExec => stats.add("plan.sort_agg", 1)
      case _: BroadcastHashJoinExec => stats.add("plan.bhj", 1)
      case _: SortMergeJoinExec => stats.add("plan.smj", 1)
      case _: WholeStageCodegenExec => stats.add("plan.wscg", 1)
      case _ =>
    }
    // candidate pairs: the largest join output of the op. Dedup plans
    // join candidates first and verify after, so this counts the pairs
    // the verify step examines; where the verify is fused into the join
    // condition it counts only the surviving pairs.
    p match {
      case j: BaseJoinExec =>
        stats.max("operators.pairs_candidate",
          j.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0))
      case _ =>
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    kids.foreach(fingerprint)
  }

}

object Collector {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val MarkerKey = "perfbench.marker"
}
