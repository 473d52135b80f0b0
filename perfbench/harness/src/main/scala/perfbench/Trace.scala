package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: workload, pass, op, phase (build/plan/execute or
  * script), Spark job or stage. Times are epoch microseconds; `counters`
  * holds the exact counts measured at this boundary.
  */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val start: Long) {
  @volatile var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def max(key: String, v: Double): Unit = synchronized {
    counters(key) = math.max(counters.getOrElse(key, 0.0), v)
  }
  def toJson: Any = synchronized {
    Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_us" -> start, "end_us" -> end, "counters" -> counters.toMap)
  }
}

object Trace {
  def nowMicros(): Long = {
    val t = Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Local property naming the span a job belongs to (inherited by the
    * threads the program spawns, like the script runner's STORE pool). */
  val SpanProperty = "perfbench.span"

  /** Every node of an executed plan, walking into AQE plans (their final
    * plan once the query has run), query stages and subqueries. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val next = root match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.innerChildren.collect { case s: SparkPlan => s } ++ p.subqueries
    }
    root +: next.flatMap(nodes)
  }

  /** Node counts of an executed plan. */
  def planCounts(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    nodes(root).foreach {
      case _: ShuffleExchangeExec => c("plans.exchanges") += 1
      case b: BroadcastExchangeExec =>
        c("plans.broadcasts") += 1
        c("plans.broadcast_mb") += b.metrics.get("dataSize").map(_.value).getOrElse(0L) / 1e6
      case _: ExpandExec => c("plans.expands") += 1
      case _: SortAggregateExec => c("plans.sort_aggs") += 1
      case _: HashAggregateExec | _: ObjectHashAggregateExec => c("plans.hash_aggs") += 1
      case _: SortMergeJoinExec => c("plans.smj") += 1
      case _: BroadcastHashJoinExec => c("plans.bhj") += 1
      case _ =>
    }
    c.toMap
  }

  /** File-write statistics of a write command (files, bytes, rows), or None
    * for plans that write no files (the noop sink included). */
  def writeStats(root: SparkPlan): Option[Map[String, Double]] =
    nodes(root).collectFirst { case w: DataWritingCommandExec => w }.map { w =>
      val m = w.cmd.metrics
      def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
      Map("sink.files" -> v("numFiles"), "sink.output_mb" -> v("numOutputBytes") / 1e6,
        "sink.output_rows" -> v("numOutputRows"))
    }
}

/** In-memory span recorder plus the Spark and query-execution listeners that
  * attach jobs, stages and executed plans to the harness's op spans. Spans are
  * written out once, when the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicInteger(0)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[(Int, Int), Span]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  /** The op span the harness is running, for plan events (they carry no
    * job properties). Set and cleared around each op, after a bus drain. */
  @volatile var currentOp: Span = null

  def open(parent: Int, kind: String, name: String, start: Long = Trace.nowMicros()): Span =
    synchronized {
      val s = new Span(ids.incrementAndGet(), parent, kind, name, start)
      spans += s; s
    }
  def close(s: Span): Unit = s.end = Trace.nowMicros()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .flatMap(_.toIntOption).getOrElse(0)
    val job = open(parent, "job", s"job ${e.jobId}", e.time * 1000)
    jobSpan(e.jobId) = job
    e.stageInfos.foreach(si => stageJob(si.stageId) = job)
    job.add("exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.end = e.time * 1000)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val parent = stageJob.get(si.stageId).map(_.id).getOrElse(0)
    val start = si.submissionTime.getOrElse(System.currentTimeMillis()) * 1000
    val s = open(parent, "stage", s"stage ${si.stageId}.${si.attemptNumber()}", start)
    s.add("exec.stages", 1)
    stageSpan((si.stageId, si.attemptNumber())) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get((si.stageId, si.attemptNumber())).foreach { s =>
      s.end = si.completionTime.getOrElse(System.currentTimeMillis()) * 1000
      stageTaskMs.remove((si.stageId, si.attemptNumber())).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) s.max("exec.stage_skew", sorted.last / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val info = e.taskInfo
      s.add("exec.tasks", 1)
      if (!info.successful) s.add("exec.task_failures", 1)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        info.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        s.add("exec.task_run_s", m.executorRunTime / 1e3)
        s.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        s.add("exec.task_gc_s", m.jvmGCTime / 1e3)
        s.add("exec.result_mb", m.resultSize / 1e6)
        s.add("exec.spill_mb", m.diskBytesSpilled / 1e6)
        s.max("exec.peak_task_mem_mb", m.peakExecutionMemory / 1e6)
        val in = m.inputMetrics
        if (in.recordsRead > 0 || in.bytesRead > 0) s.add("sources.scan_tasks", 1)
        s.add("sources.input_mb", in.bytesRead / 1e6)
        s.add("sources.input_rows", in.recordsRead.toDouble)
        s.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        s.add("exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        s.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val op = currentOp
    if (op != null) {
      val plan = qe.executedPlan
      Trace.planCounts(plan).foreach { case (k, v) => op.add(k, v) }
      Trace.writeStats(plan).foreach { ws =>
        ws.foreach { case (k, v) => op.add(k, v) }
        op.add("sink.store_s", durationNs / 1e9)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def json: Seq[Any] = synchronized(spans.map(_.toJson).toSeq)
}
