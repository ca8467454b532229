package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int])
final case class JobEndRec(id: Int, endMs: Long)
final case class StageRec(id: Int, attempt: Int, submitMs: Long, doneMs: Long, numTasks: Int)
final case class TaskRec(stageId: Int, attempt: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, overheadMs: Long, gettingResultMs: Long,
    inBytes: Long, shufW: Long, shufR: Long, spill: Long)
final case class QeRec(durMs: Double, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, stagingWrite: Boolean, fileScans: Int)
final case class ProgressRec(triggerMs: Long, commitMs: Long, stateRows: Long,
    stateBytes: Long)

/** Listeners the benchmark registers on Spark's public listener APIs
  * while one traced op runs. Records are taken per op after a drain
  * marker has passed through the listener bus, so every event of the op
  * (and nothing of the next one) is attributed to it.
  */
class Tracer(spark: SparkSession, scratchDir: String) {
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentLinkedQueue[JobEndRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val streamsStarted = new AtomicLong()
  private val streamsEnded = new AtomicLong()
  @volatile private var drainJobSeen = -1L
  @volatile private var drainQeSeen = -1L
  private var drainSeq = 0L
  val DrainGroup = "graftbench-drain"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == DrainGroup) {
        val d = Option(e.properties.getProperty("graftbench.drain")).map(_.toLong).getOrElse(-1L)
        drainJobSeen = math.max(drainJobSeen, d)
      } else jobs.add(JobRec(e.jobId, group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(JobEndRec(e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, ti.attemptNumber, ti.launchTime, ti.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime + m.resultSerializationTime,
        if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.logical
      val marker = plan.toString.indexOf("graftbench_drain_") match {
        case -1 => -1L
        case i => plan.toString.substring(i + 17).takeWhile(_.isDigit).toLong
      }
      if (marker >= 0) drainQeSeen = math.max(drainQeSeen, marker)
      else {
        val phases = qe.tracker.phases
        def ph(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
        val staging = (plan +: plan.children).exists {
          case c: InsertIntoHadoopFsRelationCommand =>
            val out = c.outputPath.toString
            out.contains(scratchDir) && (out.endsWith("/in") || out.endsWith("/all"))
          case _ => false
        }
        // file-scan relations the execution reads, subqueries included
        val scans = qe.optimizedPlan.collectWithSubqueries {
          case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => 1
        }.size
        qes.add(QeRec(durationNs / 1e6, ph("analysis"), ph("optimization"),
          ph("planning"), staging, scans))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (d.contains("addBatch"))
        progress.add(ProgressRec(d.getOrElse("triggerExecution", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Push a marker job through the bus and wait until both listeners saw
    * it and every started stream reported its end (5 s cap). */
  def drain(): Unit = {
    drainSeq += 1
    val sc = spark.sparkContext
    sc.setJobGroup(DrainGroup, "drain", interruptOnCancel = false)
    sc.setLocalProperty("graftbench.drain", drainSeq.toString)
    try spark.range(1).selectExpr(s"'graftbench_drain_$drainSeq' AS m")
      .write.format("noop").mode("overwrite").save()
    finally { sc.setLocalProperty("graftbench.drain", null); sc.clearJobGroup() }
    val deadline = System.nanoTime() + 5000000000L
    while ((drainJobSeen < drainSeq || drainQeSeen < drainSeq ||
        streamsEnded.get < streamsStarted.get) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  private def takeAll[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }

  /** Everything recorded since the previous take, as the op's layer
    * numbers and its job and stage spans. `wallMs` is the op's wall time,
    * `buildStartMs`/`buildEndMs` the window of the entry's DataFrame build.
    * Queries run in a child session (`newSession`) report to that
    * session's listener manager, so they are missing from the
    * `spark_plan` numbers. */
  def take(cores: Int, wallMs: Double, buildStartMs: Long,
      buildEndMs: Long): (Map[String, Double], Seq[Map[String, Any]]) = {
    val js = takeAll(jobs)
    val ends = takeAll(jobEnds).map(e => e.id -> e.endMs).toMap
    val mine = js.filter(_.group != DrainGroup)
    val stageSet = mine.flatMap(_.stageIds).toSet
    val ss = takeAll(stages).filter(s => stageSet(s.id))
    val ts = takeAll(tasks).filter(t => stageSet(t.stageId))
    val qs = takeAll(qes)
    val ps = takeAll(progress)
    // union of job intervals: the wall time in which the scheduler had work
    val intervals = mine.map(j => (j.startMs, ends.getOrElse(j.id, j.startMs))).sortBy(_._1)
    var jobWall = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) jobWall += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) jobWall += curE - curS
    val buildJobs = mine.count(j => j.startMs >= buildStartMs && j.startMs <= buildEndMs)
    val buildJobWall = intervals.filter { case (s, _) => s >= buildStartMs && s <= buildEndMs }
      .map { case (s, e) => e - s }.sum
    val planMs = qs.map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum.toDouble
    val taskRun = ts.map(_.runMs).sum.toDouble
    val schedDelay = ts.map { t =>
      math.max(0L, (t.finishMs - t.launchMs) - t.runMs - t.overheadMs - t.gettingResultMs)
    }.sum.toDouble
    val skews = ss.flatMap { s =>
      val d = ts.filter(t => t.stageId == s.id).map(t => (t.finishMs - t.launchMs).toDouble).sorted
      if (d.size < 2) None
      else {
        val med = d(d.size / 2)
        Some(if (med <= 0) 1.0 else d.last / med)
      }
    }.sorted
    val mb = 1024.0 * 1024.0
    val staged = qs.filter(_.stagingWrite)
    val batchMs = ps.map(_.triggerMs.toDouble).sorted
    // job spans are children of the op, stage spans children of their job
    val stageJob = mine.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val spans = mine.map(j => Map[String, Any]("name" -> "spark_exec.job", "id" -> s"job${j.id}",
        "parent" -> "op", "start_ms" -> j.startMs, "end_ms" -> ends.getOrElse(j.id, j.startMs))) ++
      ss.map(st => Map[String, Any]("name" -> "spark_exec.stage", "id" -> s"stage${st.id}.${st.attempt}",
        "parent" -> s"job${stageJob.getOrElse(st.id, -1)}", "start_ms" -> st.submitMs,
        "end_ms" -> st.doneMs, "tasks" -> st.numTasks))
    Map(
      "tables.scans" -> qs.map(_.fileScans).sum.toDouble,
      "queries.build_ms" -> (buildEndMs - buildStartMs).toDouble,
      "queries.build_jobs" -> buildJobs.toDouble,
      "queries.build_self_ms" -> math.max(0.0, (buildEndMs - buildStartMs) - buildJobWall.toDouble),
      "spark_plan.analysis_ms" -> qs.map(_.analysisMs).sum.toDouble,
      "spark_plan.optimization_ms" -> qs.map(_.optimizationMs).sum.toDouble,
      "spark_plan.planning_ms" -> qs.map(_.planningMs).sum.toDouble,
      "spark_plan.executions" -> qs.size.toDouble,
      "spark_exec.jobs" -> mine.size.toDouble,
      "spark_exec.stages" -> ss.size.toDouble,
      "spark_exec.tasks" -> ts.size.toDouble,
      "spark_exec.job_wall_ms" -> jobWall.toDouble,
      "spark_exec.driver_gap_ms" -> math.max(0.0, wallMs - planMs - jobWall),
      "spark_exec.scheduler_delay_ms" -> schedDelay,
      "spark_exec.task_run_ms" -> taskRun,
      "spark_exec.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark_exec.core_busy_frac" -> (if (wallMs > 0) taskRun / (cores * wallMs) else 0.0),
      "spark_exec.stage_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
      "spark_exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark_exec.input_mb" -> ts.map(_.inBytes).sum / mb,
      "spark_exec.shuffle_write_mb" -> ts.map(_.shufW).sum / mb,
      "spark_exec.shuffle_read_mb" -> ts.map(_.shufR).sum / mb,
      "spark_exec.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark_exec.task_retries" -> ts.count(_.attempt > 0).toDouble,
      "streaming.stage_ms" -> staged.map(_.durMs).sum,
      "streaming.staging_paid" -> staged.size.toDouble,
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_p50_ms" -> (if (batchMs.isEmpty) 0.0 else batchMs(batchMs.size / 2)),
      "streaming.commit_ms" -> ps.map(_.commitMs).sum.toDouble,
      "streaming.state_rows" -> ps.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> ps.map(_.stateBytes).sum / mb) -> spans
  }
}
