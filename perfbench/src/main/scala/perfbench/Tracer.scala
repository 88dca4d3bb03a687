package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import Tracer.Mb

/** Layer counters of one operation, summed over the events it caused. */
final class OpCounters {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
  /** Job (start, end) wall-clock intervals in epoch ms. */
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Records spans and counters at the engine's layer boundaries, from the
  * outside: a SparkListener (jobs, stages, tasks), a QueryExecutionListener
  * (Catalyst phases, final physical plan) and a StreamingQueryListener
  * (micro-batches). Each operation runs under its own job group, so job
  * spans carry the operation span as parent; events without that tag
  * (streaming jobs run under their own group) go to the operation that is
  * open, which is unambiguous because the client runs one operation at a
  * time and drains the bus before the next. Spans stay in memory and are
  * written as JSONL by [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[String]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int], String)]
  private val submitted = mutable.Set.empty[Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var current: OpCounters = new OpCounters
  @volatile private var currentSpan: String = "setup"

  private def span(kind: String, id: String, parent: String, name: String,
      start: Long, end: Long, attrs: (String, Any)*): Unit = spans.synchronized {
    val extra = attrs.map { case (k, v) => s""","${Json.esc(k)}":${Json.value(v)}""" }.mkString
    spans += s"""{"kind":"$kind","id":"${Json.esc(id)}","parent":"${Json.esc(parent)}",""" +
      s""""name":"${Json.esc(name)}","start_ms":$start,"end_ms":$end$extra}"""
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
        .getOrElse(currentSpan)
      jobStart.synchronized {
        jobStart(e.jobId) = (e.time, e.stageIds, group)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, stages, group) = jobStart.synchronized(jobStart.remove(e.jobId))
        .getOrElse((e.time, Nil, currentSpan))
      val skipped = submitted.synchronized(stages.count(s => !submitted.contains(s)))
      val op = current
      op.synchronized {
        op.add("sched.jobs", 1); op.add("sched.stages_skipped", skipped)
        op.jobs += ((t0, e.time))
      }
      span("job", s"job-${e.jobId}", group, s"job ${e.jobId}", t0, e.time,
        "stages" -> stages.size, "stages_skipped" -> skipped,
        "succeeded" -> (e.jobResult == JobSucceeded))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.synchronized { submitted += e.stageInfo.stageId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      current.synchronized(current.add("sched.stages", 1))
      val job = jobStart.synchronized(stageJob.get(i.stageId)).map(j => s"job-$j").getOrElse("")
      span("stage", s"stage-${i.stageId}.${i.attemptNumber()}", job, i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), "tasks" -> i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = current
      op.synchronized {
        op.add("sched.tasks", 1)
        if (e.reason != org.apache.spark.Success) op.add("sched.tasks_failed", 1)
        val m = e.taskMetrics
        if (m != null) {
          op.add("exec.task_s", m.executorRunTime / 1e3)
          op.add("exec.cpu_s", m.executorCpuTime / 1e9)
          op.add("exec.gc_s", m.jvmGCTime / 1e3)
          op.max("exec.peak_mem_mb", m.peakExecutionMemory / Mb)
          val r = m.shuffleReadMetrics
          op.add("shuffle.read_mb", (r.remoteBytesRead + r.localBytesRead) / Mb)
          op.add("shuffle.fetch_wait_s", r.fetchWaitTime / 1e3)
          op.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
          op.add("spill.disk_mb", m.diskBytesSpilled / Mb)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val exchanges = scala.util.Try(Tracer.exchanges(qe.executedPlan)).getOrElse(0)
      val op = current
      op.synchronized {
        op.add("plan.analysis_s", ms("analysis") / 1e3)
        op.add("plan.optimization_s", ms("optimization") / 1e3)
        op.add("plan.planning_s", ms("planning") / 1e3)
        op.add("shuffle.exchanges", exchanges)
      }
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      span("query", s"qe-${qe.id}", currentSpan, "query execution", start,
        start + ms("analysis") + ms("optimization") + ms("planning"),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "exchanges" -> exchanges)
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = current
      op.synchronized { op.add("stream.batches", 1); op.add("stream.batch_s", p.batchDuration / 1e3) }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      span("batch", s"batch-${p.runId}-${p.batchId}", currentSpan, s"micro-batch ${p.batchId}",
        end - p.batchDuration, end, "input_rows" -> p.numInputRows)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Runs one operation as a span: under its own job group, with every
    * event it caused delivered before its counters are read.
    */
  def op(id: String, name: String, parent: String)(body: => OpResult): (OpResult, OpCounters) = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.BusDrain(sc)
    current = new OpCounters
    currentSpan = id
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val start = System.currentTimeMillis()
    val r = try body finally sc.clearJobGroup()
    val end = System.currentTimeMillis()
    org.apache.spark.perfbench.BusDrain(sc)
    val counters = current
    currentSpan = "idle"
    current = new OpCounters
    val resident = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Mb
    counters.synchronized {
      counters.max("storage.resident_mb_after_op", resident)
      val busy = Tracer.union(counters.jobs.toSeq, start, end)
      counters.add("sched.driver_gap_s", math.max(0.0, (end - start - busy) / 1e3))
    }
    val layers = counters.synchronized(counters.c.toSeq.sortBy(_._1))
    span("op", id, parent, name, start, end, ("ok" -> r.error.isEmpty) +:
      (r.parts.toSeq.map { case (k, v) => s"${k}_s" -> v } ++ layers): _*)
    (r, counters)
  }

  def pass(id: String, start: Long, end: Long): Unit = span("pass", id, "run", id, start, end)

  def write(path: String): Unit = spans.synchronized {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.foreach { s => w.write(s); w.newLine() } finally w.close()
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  private val GroupKey = "spark.jobGroup.id"
  private val Mb = 1024.0 * 1024.0

  /** Shuffle exchanges in the final physical plan, looking through AQE. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** Milliseconds of [from, to] covered by the union of the intervals. */
  def union(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def value(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => "\"" + esc(other.toString) + "\""
  }
}
