package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonAST.{JNull, JObject, JString, JValue}
import org.json4s.JsonDSL._

/** Observes traced passes from outside the program through Spark's public
  * listener hooks: jobs, stages, task metrics and micro-batch progress
  * (SparkListener), and the planning phases of every query executed on the
  * benchmark's session (QueryExecutionListener). `summarize` turns one
  * pass's events into per-layer sums and spans; events are attributed to the
  * query span named by their job group, or else to the query whose
  * wall-clock window holds them (the loop is closed, so windows never
  * overlap).
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val lock = new Object
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val plans = ArrayBuffer.empty[Plan]
  private val batches = ArrayBuffer.empty[Batch]
  private val tasks = new Tasks

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs += Job(e.jobId, group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks.count += 1
      if (e.reason != Success) tasks.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        tasks.runMs += m.executorRunTime
        tasks.cpuNs += m.executorCpuTime
        tasks.gcMs += m.jvmGCTime
        tasks.inputBytes += m.inputMetrics.bytesRead
        tasks.outputBytes += m.outputMetrics.bytesWritten
        tasks.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        tasks.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        tasks.spill += m.diskBytesSpilled
      }
    }
    // Micro-batch progress reaches the shared bus as a StreamingQueryListener
    // event whichever session runs the stream (the lifecycles run on
    // newSession clones), whereas a listener added through `spark.streams`
    // hears only its own session's queries.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => lock.synchronized {
        val pr = p.progress
        batches += Batch(pr.runId.toString, pr.batchId, java.time.Instant.parse(pr.timestamp).toEpochMilli,
          pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          pr.stateOperators.map(_.commitTimeMs).sum)
      }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = lock.synchronized {
      plans += Plan(funcName, qe.tracker.phases.collect {
        case (phase, s) if PlanPhases.contains(phase) => phase -> ((s.startTimeMs, s.endTimeMs))
      })
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    lock.synchronized(clear())
  }

  /** Jobs started since the last summary or count; clears the buffers. */
  def drainJobsCount(): Int = {
    BenchBus.drain(spark.sparkContext)
    lock.synchronized { val n = jobs.size; clear(); n }
  }

  private def clear(): Unit = {
    jobs.clear(); stages.clear(); plans.clear(); batches.clear(); tasks.reset()
  }

  /** Per-layer sums for one pass, and its spans. Clears the buffers. */
  def summarize(passId: String, passStartMs: Long, passEndMs: Long, passWallMs: Double, cpus: Int,
      execs: Seq[Harness.Exec]): (Seq[(String, Double)], Seq[JObject]) = {
    BenchBus.drain(spark.sparkContext)
    lock.synchronized {
      val spans = ArrayBuffer.empty[Span]
      spans += Span(passId, "pass", passId, passStartMs, passEndMs, null)
      execs.foreach { e =>
        spans += Span(e.span, "query", e.id, e.startMs, e.endMs, passId)
        spans += Span(e.span + ".construct", "construct", e.id, e.startMs, e.splitMs, e.span)
        spans += Span(e.span + ".execute", "execute", e.id, e.splitMs, e.endMs, e.span)
      }
      def queryAt(t: Long): Option[Harness.Exec] = execs.find(e => e.startMs <= t && t <= e.endMs)
      def phaseSpan(e: Harness.Exec, t: Long): String =
        e.span + (if (t <= e.splitMs) ".construct" else ".execute")
      def batchAt(t: Long): Option[Batch] = batches.find(b => b.start <= t && t <= b.end)
      def batchId(b: Batch): String = s"$passId.batch.${b.run}.${b.id}"
      def within(t: Long): String = queryAt(t).map(phaseSpan(_, t)).getOrElse(passId)

      jobs.foreach(j => if (j.end < 0) j.end = passEndMs)
      val owner: Map[Int, Harness.Exec] = jobs.flatMap { j =>
        execs.find(_.span == j.group).orElse(queryAt(j.start)).map(j.id -> _)
      }.toMap
      jobs.foreach { j =>
        spans += Span(s"$passId.job${j.id}", "job", s"job ${j.id}", j.start, j.end,
          batchAt(j.start).map(batchId).orElse(owner.get(j.id).map(phaseSpan(_, j.start))).getOrElse(passId))
      }
      val stageJob = jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
      stages.foreach { s =>
        spans += Span(s"$passId.stage${s.id}.${s.attempt}", "stage", s"stage ${s.id}", s.start, s.end,
          stageJob.get(s.id).map(j => s"$passId.job$j").getOrElse(within(s.start)))
      }
      plans.zipWithIndex.foreach { case (p, i) =>
        p.phases.foreach { case (phase, (s, e)) =>
          spans += Span(s"$passId.plan$i.$phase", "plan", s"${p.name}:$phase", s, e, within(s))
        }
      }
      batches.foreach { b =>
        spans += Span(batchId(b), "batch", s"batch ${b.id}", b.start, b.end, within(b.start))
      }

      def phaseSum(name: String): Double =
        plans.flatMap(_.phases.get(name)).map { case (s, e) => (e - s).toDouble }.sum
      def batchSum(key: String): Double = batches.map(_.durations.getOrElse(key, 0L)).sum.toDouble
      val triggers = batches.map(_.durations.getOrElse("triggerExecution", 0L)).sorted
      val driverGap = execs.map { e =>
        val covered = union(jobs.filter(j => owner.get(j.id).contains(e)).map(j => (j.start, j.end)), e.startMs, e.endMs)
        math.max(0.0, e.wallNs / 1e6 - covered)
      }.sum
      val constructJobs = jobs.count(j => owner.get(j.id).exists(e => j.start <= e.splitMs))

      val children = spans.groupBy(_.parent)
      val self = spans.groupBy(_.kind).map { case (kind, ss) =>
        kind -> ss.map(s => (s.end - s.start) -
          union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)).sum
      }
      val runMs = tasks.runMs.toDouble
      val metrics = Seq(
        "operators.construct_ms" -> execs.map(_.constructNs / 1e6).sum,
        "operators.construct_jobs" -> constructJobs.toDouble,
        "operators.execute_ms" -> execs.map(_.executeNs / 1e6).sum,
        "plans.analysis_ms" -> phaseSum("analysis"),
        "plans.optimization_ms" -> phaseSum("optimization"),
        "plans.planning_ms" -> phaseSum("planning"),
        "plans.executions" -> plans.size.toDouble,
        "scheduler.jobs" -> jobs.size.toDouble,
        "scheduler.stages" -> stages.size.toDouble,
        "scheduler.tasks" -> tasks.count.toDouble,
        "scheduler.failed_tasks" -> tasks.failed.toDouble,
        "scheduler.job_wall_ms" -> jobs.map(j => (j.end - j.start).toDouble).sum,
        "scheduler.driver_gap_ms" -> driverGap,
        "executor.run_ms" -> runMs,
        "executor.cpu_ms" -> tasks.cpuNs / 1e6,
        "executor.gc_ms" -> tasks.gcMs.toDouble,
        "executor.busy_ratio" -> runMs / (passWallMs * cpus),
        "executor.input_bytes" -> tasks.inputBytes.toDouble,
        "executor.output_bytes" -> tasks.outputBytes.toDouble,
        "shuffle.write_bytes" -> tasks.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> tasks.shuffleRead.toDouble,
        "shuffle.spill_bytes" -> tasks.spill.toDouble,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.trigger_ms" -> batchSum("triggerExecution"),
        "streaming.add_batch_ms" -> batchSum("addBatch"),
        "streaming.wal_commit_ms" -> batchSum("walCommit"),
        "streaming.commit_offsets_ms" -> batchSum("commitOffsets"),
        "streaming.query_planning_ms" -> batchSum("queryPlanning"),
        "streaming.latest_offset_ms" -> batchSum("latestOffset"),
        "streaming.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
        "streaming.batch_p90_ms" ->
          (if (triggers.isEmpty) 0.0 else triggers(math.ceil(0.9 * triggers.size).toInt - 1).toDouble)
      ) ++ SpanKinds.map(k => s"self.${k}_ms" -> self.getOrElse(k, 0L).toDouble)
      clear()
      (metrics, spans.toSeq.map(_.json))
    }
  }
}

object Recorder {
  private val PlanPhases = Set("analysis", "optimization", "planning")
  private val SpanKinds = Seq("query", "construct", "execute", "job", "stage", "plan", "batch")

  private final case class Job(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
    var end: Long = -1L
  }
  private final case class Stage(id: Int, attempt: Int, start: Long, end: Long)
  private final case class Plan(name: String, phases: Map[String, (Long, Long)])
  private final case class Batch(run: String, id: Long, start: Long, durations: Map[String, Long],
      stateCommitMs: Long) {
    def end: Long = start + durations.getOrElse("triggerExecution", 0L)
  }
  private final class Tasks {
    var count, failed, runMs, cpuNs, gcMs, inputBytes, outputBytes, shuffleWrite, shuffleRead, spill = 0L
    def reset(): Unit = {
      count = 0; failed = 0; runMs = 0; cpuNs = 0; gcMs = 0; inputBytes = 0; outputBytes = 0
      shuffleWrite = 0; shuffleRead = 0; spill = 0
    }
  }
  private final case class Span(id: String, kind: String, name: String, start: Long, end: Long, parent: String) {
    def json: JObject = ("id" -> id) ~ ("kind" -> kind) ~ ("name" -> name) ~
      ("start_ms" -> start) ~ ("end_ms" -> end) ~ ("parent" -> Option(parent).fold[JValue](JNull)(JString(_)))
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  private def union(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    intervals.toSeq.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}
