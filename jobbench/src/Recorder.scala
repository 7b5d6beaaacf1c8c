package jobbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer profile of one traced pass, seen through Spark's public
  * listener interfaces only: a `SparkListener` (jobs, stages, tasks and
  * their metrics), a `QueryExecutionListener` (planning phases) and a
  * `StreamingQueryListener` (micro-batches and state).
  *
  * Events are buffered in memory. [[finish]] waits until the listener
  * bus has delivered everything the pass posted, removes the listeners
  * and attributes each event to the call whose wall window holds it:
  * jobs by submission time, stages and tasks through their job, query
  * plans by the start of their first phase, micro-batches by trigger time.
  */
final class Recorder(spark: SparkSession, cores: Int) {
  import Recorder._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[(Long, Long)]
  private val batches = ArrayBuffer.empty[Batch]
  private val sentinelStages = mutable.Set.empty[Int]
  @volatile private var sentinelJob = -1
  @volatile private var sentinelDone = false
  @volatile private var streamsStarted = 0
  @volatile private var streamsEnded = 0
  @volatile private var lastStreamEventMs = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == SentinelGroup) {
        sentinelJob = e.jobId
        sentinelStages ++= e.stageIds
      } else {
        jobs(e.jobId) = Job(e.time, -1L, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobId == sentinelJob) sentinelDone = true
      else jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val s = e.stageInfo
      if (!stageSubmitMs.contains(s.stageId))
        stageSubmitMs(s.stageId) = s.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (!sentinelStages(e.stageId)) {
        val i = e.taskInfo
        val m = e.taskMetrics
        tasks += (if (m == null)
          Task(e.stageId, i.launchTime, i.successful, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else Task(e.stageId, i.launchTime, i.successful,
          m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) lock.synchronized {
        plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamsStarted += 1
      lastStreamEventMs = System.currentTimeMillis()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators
      lock.synchronized {
        batches += Batch(ts, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          p.id.toString)
      }
      lastStreamEventMs = System.currentTimeMillis()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      streamsEnded += 1
      lastStreamEventMs = System.currentTimeMillis()
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the listener bus, removes the listeners and returns, per call
    * (`step/name`), every profile metric.
    */
  def finish(calls: Seq[JobBench.CallRec]): Map[String, Map[String, Double]] = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    lock.synchronized(attribute(calls))
  }

  /** The shared listener queue is FIFO: once the sentinel job's end is
    * delivered, every earlier job, task and query event has been too.
    * Streaming events travel on their own queue and are done when every
    * started query has been seen to terminate. Both waits are bounded.
    */
  private def settle(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(SentinelGroup, "listener bus drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000L
    while (!sentinelDone && System.currentTimeMillis() < deadline) Thread.sleep(5)
    while ((streamsStarted != streamsEnded ||
      System.currentTimeMillis() - lastStreamEventMs < 100) &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    if (!sentinelDone || streamsStarted != streamsEnded)
      System.err.println("[jobbench] listener bus did not drain within 10 s; " +
        "the profile of this pass may be incomplete")
  }

  private def attribute(calls: Seq[JobBench.CallRec]): Map[String, Map[String, Double]] = {
    def owner(t: Long): Option[JobBench.CallRec] =
      calls.find(c => c.startMs <= t && t <= c.endMs)
    val jobCall = jobs.flatMap { case (id, j) => owner(j.start).map(id -> _) }
    val tasksByStage = tasks.groupBy(_.stage)
    val batchesByCall = batches.groupBy(b => owner(b.ts))
    val plansByCall = plans.groupBy(p => owner(p._1))

    calls.map { c =>
      val key = s"${c.step}/${c.name}"
      val myJobs = jobs.filter { case (id, _) => jobCall.get(id).contains(c) }
      val stages = myJobs.values.flatMap(_.stages).toSeq.distinct
      val ran = stages.filter(stageSubmitMs.contains)
      val ts = ran.flatMap(s => tasksByStage.getOrElse(s, Nil))
      val wallMs = math.max(1L, c.endMs - c.startMs)
      val runMs = ts.map(_.runMs).sum.toDouble
      val skew = ran.flatMap { s =>
        val rt = tasksByStage.getOrElse(s, Nil).filter(_.ok).map(_.runMs).sorted
        if (rt.length < 2) None
        else Some(rt.last.toDouble / math.max(1L, rt(rt.length / 2)))
      }
      val bs = batchesByCall.getOrElse(Some(c), Nil)
      val lastPerQuery = bs.groupBy(_.query).values.map(_.maxBy(_.ts))
      val ps = plansByCall.getOrElse(Some(c), Nil)
      key -> Map(
        "spark.planner.plan_ms" -> ps.map(_._2).sum.toDouble,
        "spark.planner.queries" -> ps.length.toDouble,
        "spark.scheduler.jobs" -> myJobs.size.toDouble,
        "spark.scheduler.stages" -> ran.length.toDouble,
        "spark.scheduler.stages_skipped" -> (stages.length - ran.length).toDouble,
        "spark.scheduler.tasks" -> ts.length.toDouble,
        "spark.scheduler.tasks_failed" -> ts.count(!_.ok).toDouble,
        "spark.scheduler.driver_gap_ms" ->
          (wallMs - covered(myJobs.values.toSeq, c.startMs, c.endMs)).toDouble,
        "spark.scheduler.task_wait_ms" -> ran.flatMap { s =>
          tasksByStage.getOrElse(s, Nil).map(t => math.max(0L, t.launch - stageSubmitMs(s)))
        }.sum.toDouble,
        "spark.executor.run_ms" -> runMs,
        "spark.executor.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "spark.executor.busy_ratio" -> runMs / (wallMs.toDouble * cores),
        "spark.executor.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "spark.shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
        "spark.memory.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "spark.memory.gc_ms" -> c.gcMs.toDouble,
        "spark.memory.peak_exec_bytes" ->
          (if (ts.isEmpty) 0.0 else ts.map(_.peakExec).max.toDouble),
        "sources.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
        "sources.input_records" -> ts.map(_.inRecs).sum.toDouble,
        "sources.scan_task_ms" -> ts.filter(_.inBytes > 0).map(_.runMs).sum.toDouble,
        "sources.output_bytes" -> ts.map(_.outBytes).sum.toDouble,
        "sources.output_records" -> ts.map(_.outRecs).sum.toDouble,
        "streaming.batches" -> bs.length.toDouble,
        "streaming.input_rows" -> bs.map(_.inputRows).sum.toDouble,
        "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
        "streaming.state_bytes" -> lastPerQuery.map(_.stateBytes).sum.toDouble,
        "streaming.batch_ms" -> bs.map(_.batchMs).sum.toDouble)
    }.toMap
  }

  /** Milliseconds of [from, to] during which at least one job ran. */
  private def covered(js: Seq[Job], from: Long, to: Long): Long = {
    val iv = js.map(j => (math.max(from, j.start), math.min(to, if (j.end < 0) to else j.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

object Recorder {
  val SentinelGroup = "jobbench-sentinel"

  private final case class Job(start: Long, end: Long, stages: Seq[Int])
  private final case class Batch(ts: Long, inputRows: Long, stateRows: Long,
                                 stateBytes: Long, batchMs: Long, query: String)
  private final case class Task(
      stage: Int, launch: Long, ok: Boolean, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
      peakExec: Long, inBytes: Long, inRecs: Long, outBytes: Long, outRecs: Long)
}

/** Bounds every call: one that runs past `callLimitMs` has its Spark jobs
  * cancelled and its streaming queries stopped, so it fails with an
  * exception the pass records instead of hanging the run.
  */
final class Watchdog(spark: SparkSession, callLimitMs: Long) extends Thread("jobbench-watchdog") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var pass: JobBench.Pass = _

  def watch(p: JobBench.Pass): Unit = pass = p
  def halt(): Unit = running = false

  override def run(): Unit = {
    var cancelled = -1L
    while (running) {
      val p = pass
      val started = if (p == null) 0L else p.callStartMs
      if (started > 0 && started != cancelled &&
        System.currentTimeMillis() - started > callLimitMs) {
        cancelled = started
        System.err.println(s"[jobbench] call exceeded ${callLimitMs / 1000} s; cancelling it")
        spark.sparkContext.cancelAllJobs()
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      }
      Thread.sleep(200)
    }
  }
}
