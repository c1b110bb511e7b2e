package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed operation the benchmark ran on its own thread (an index, a
  * retrieve, a graft), under the Spark job group `group`. REST requests run
  * on the server's threads and are not ops: their jobs are attributed to
  * the REST phase by time window. */
final case class Op(id: Int, kind: String, phase: String, group: String,
    startMs: Long, endMs: Long, ok: Boolean) {
  def wallMs: Double = (endMs - startMs).toDouble
}

/** A phase of a run: its window, for attributing ownerless jobs. */
final case class Phase(name: String, startMs: Long, endMs: Long)

/** In-memory span collector. A SparkListener records jobs, stages and task
  * metrics; a QueryExecutionListener records each SQL execution's
  * QueryPlanningTracker phase times. The benchmark reads [[opRecord]],
  * [[phaseRecord]] and [[spans]] once the run is over, and writes them out. */
final class Trace extends SparkListener with QueryExecutionListener {

  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Job(id: Int, group: Option[String], exec: Option[Long], startMs: Long,
      stageIds: Seq[Int], var endMs: Long = -1L)
  final case class Stage(id: Int, attempt: Int, name: String, submitMs: Long, doneMs: Long)
  final case class Exec(id: Long, func: String, startMs: Long, endMs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = mutable.ArrayBuffer.empty[Exec]

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = Job(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))),
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
      e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (sub <- s.submissionTime; done <- s.completionTime)
      stages += Stage(s.stageId, s.attemptNumber(), s.name, sub, done)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def record(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    // the span covers planning, then the action's own run time
    val end = start + ms("analysis") + ms("optimization") + ms("planning") + durationNs / 1000000L
    synchronized {
      execs += Exec(qe.id, func, start, end, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, durationNs)

  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(func, qe, 0L)

  // ------------------------------------------------------------- attribution

  /** Jobs and SQL executions owned by `op`: jobs by the job group the
    * benchmark set (and a start inside the op's window, since pool threads
    * keep the group they inherited when they were created), executions by
    * their jobs or, when they ran no job, by start time inside the window. */
  private def owned(op: Op): (Seq[Job], Seq[Exec]) = {
    val js = jobs.values.filter(j => j.group.contains(op.group) &&
      j.startMs >= op.startMs && j.startMs <= op.endMs).toSeq
    val jobExecs = js.flatMap(_.exec).toSet
    val es = execs.filter(x => jobExecs.contains(x.id) ||
      (x.startMs >= op.startMs && x.startMs <= op.endMs &&
        !jobs.values.exists(j => j.exec.contains(x.id))))
    (js, es.toSeq)
  }

  private def inWindow(startMs: Long, endMs: Long): Seq[Job] =
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Stage-level work for a set of jobs. */
  private def jobWork(js: Seq[Job]): Map[String, Double] = {
    val ids = js.flatMap(_.stageIds).toSet
    val st = stages.filter(s => ids.contains(s.id))
    val ts = tasks.filter(t => ids.contains(t.stage))
    val skew = ts.groupBy(_.stage).values.map { g =>
      val d = g.map(_.durMs.toDouble)
      val med = Harness.median(d.toSeq)
      if (med <= 0) 1.0 else d.max / med
    }.maxOption.getOrElse(1.0)
    Map(
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> st.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.job_busy_ms" -> unionMs(js.map(j => (j.startMs, j.endMs))).toDouble,
      "exec.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "exec.task_skew" -> skew)
  }

  /** Per-op layer record: Catalyst phase times, scheduler counts and the
    * driver gap (wall time not covered by any of the op's jobs). */
  def opRecord(op: Op): Map[String, Double] = synchronized {
    val (js, es) = owned(op)
    val w = jobWork(js)
    w ++ Map(
      "catalyst.sql_execs" -> es.size.toDouble,
      "catalyst.analysis_ms" -> es.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> es.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> es.map(_.planningMs).sum.toDouble,
      "scheduler.driver_gap_ms" -> math.max(0.0, op.wallMs - w("scheduler.job_busy_ms")))
  }

  /** Phase record for jobs the benchmark does not own (REST handler
    * threads): the peak number of concurrently running jobs and the share of
    * the phase during which at least one job ran. */
  def phaseRecord(p: Phase): Map[String, Double] = synchronized {
    val js = inWindow(p.startMs, p.endMs)
    val edges = js.flatMap(j => Seq((j.startMs, 1), (j.endMs, -1))).sortBy(e => (e._1, e._2))
    var cur = 0
    var peak = 0
    edges.foreach { case (_, d) => cur += d; peak = math.max(peak, cur) }
    val span = math.max(1L, p.endMs - p.startMs).toDouble
    jobWork(js) ++ Map(
      "scheduler.concurrent_jobs_max" -> peak.toDouble,
      "scheduler.busy_share" -> unionMs(js.map(j => (j.startMs, j.endMs))) / span)
  }

  /** Span tree as JSON-ready maps: op → SQL execution → job → stage. Jobs of
    * ops the benchmark does not own hang off their phase instead. */
  def spans(ops: Seq[Op], phases: Seq[Phase]): Seq[Map[String, Any]] = synchronized {
    def stageSpans(j: Job): Seq[Map[String, Any]] = stages.filter(s => j.stageIds.contains(s.id))
      .map { s =>
        val ts = tasks.filter(_.stage == s.id)
        Map("kind" -> "stage", "id" -> s.id, "attempt" -> s.attempt, "name" -> s.name,
          "start_ms" -> s.submitMs, "end_ms" -> s.doneMs, "tasks" -> ts.size,
          "task_run_ms" -> ts.map(_.runMs).sum, "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum,
          "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum, "spill_bytes" -> ts.map(_.spill).sum)
      }.toSeq
    def jobSpan(j: Job): Map[String, Any] = Map("kind" -> "job", "id" -> j.id,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "children" -> stageSpans(j))
    // Jobs hang off their SQL execution; jobs with none, or whose execution
    // the QueryExecutionListener did not report (nested executions), hang
    // off the op or phase directly.
    def execSpans(es: Seq[Exec], js: Seq[Job]): Seq[Map[String, Any]] = {
      val ids = es.map(_.id).toSet
      val (linked, loose) = js.partition(_.exec.exists(ids.contains))
      val byExec = linked.groupBy(_.exec.get)
      es.map { x =>
        Map("kind" -> "sql", "id" -> x.id, "func" -> x.func, "start_ms" -> x.startMs,
          "end_ms" -> x.endMs, "analysis_ms" -> x.analysisMs,
          "optimization_ms" -> x.optimizationMs, "planning_ms" -> x.planningMs,
          "children" -> byExec.getOrElse(x.id, Nil).map(jobSpan))
      } ++ loose.map(jobSpan)
    }
    val opSpans = ops.map { op =>
      val (js, es) = owned(op)
      Map("kind" -> "op", "id" -> op.id, "op" -> op.kind, "phase" -> op.phase,
        "start_ms" -> op.startMs, "end_ms" -> op.endMs, "ok" -> op.ok,
        "children" -> execSpans(es, js))
    }
    val ownedGroups = ops.map(_.group).toSet
    val phaseSpans = phases.map { p =>
      val js = inWindow(p.startMs, p.endMs).filterNot(_.group.exists(ownedGroups.contains))
      val ex = js.flatMap(_.exec).toSet
      Map("kind" -> "phase", "phase" -> p.name, "start_ms" -> p.startMs, "end_ms" -> p.endMs,
        "children" -> execSpans(execs.filter(x => ex.contains(x.id)).toSeq, js))
    }
    opSpans ++ phaseSpans
  }
}
