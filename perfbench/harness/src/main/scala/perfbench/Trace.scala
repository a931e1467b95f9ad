package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and the Spark events inside them.
  *
  * The benchmark is a single client, so spans never overlap: each is one
  * call into a layer, opened and closed around that call on the client
  * thread. Listeners only append raw, timestamped events to memory; the
  * summary runs once at the end, after the listener bus has drained, and
  * assigns every job (and through it every stage and task) to the span
  * whose interval holds the job's submission time. Inside a span, jobs
  * are further grouped by the source file of the call site Spark records
  * for them (`count at EpochPipeline.scala:186` → `EpochPipeline`).
  *
  * Micro-batch progress is recorded in untraced runs too: the end-to-end
  * batch times come from it. The scheduler and query-execution listeners
  * are attached only in a traced run. */
final class Trace(spark: SparkSession, detailed: Boolean) {
  import Trace._

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val jobStarts = new ConcurrentLinkedQueue[JobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskEnd]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  /** SQL execution id → the call site Spark recorded when it started. */
  private val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val scheduler = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId, s.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a SQL job's own stage names are often an adaptive-execution
      // thread's frames; its execution carries the caller's site. Other
      // jobs: the result stage is created last, so it has the highest id,
      // and its name is the call site.
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val stageSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val site = execution.flatMap(x => Option(executionSites.get(x))).getOrElse(stageSite)
      jobStarts.add(JobStart(e.jobId, e.time, e.stageIds, siteFile(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(e.jobId -> e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(if (m == null) TaskEnd(e.stageId, 0, 0, 0)
        else TaskEnd(e.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add(phases.map(_.endTimeMs).max ->
          phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, d,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum))
    }
  }


  /** Time `f` as one call of span `name`. */
  def span[T](name: String)(f: => T): T = {
    val s = Span(name, System.currentTimeMillis(), System.nanoTime())
    try f finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      spans.synchronized(spans += s)
    }
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = BusDrain.drain(spark.sparkContext)

  /** Start recording events. */
  def attach(): Unit = {
    spark.streams.addListener(progress)
    if (detailed) {
      spark.sparkContext.addSparkListener(scheduler)
      spark.listenerManager.register(planning)
    }
  }

  /** Stop recording, after every event already posted has arrived. */
  def detach(): Unit = {
    drain()
    spark.streams.removeListener(progress)
    if (detailed) {
      spark.sparkContext.removeSparkListener(scheduler)
      spark.listenerManager.unregister(planning)
    }
  }

  /** Wall time of every call of `name`, in seconds, in call order. */
  def wallTimes(name: String): Seq[Double] =
    spans.synchronized(spans.filter(_.name == name).map(_.wallS).toSeq)

  /** Micro-batch records whose progress timestamp falls inside a call of
    * span `name`, or of any span whose name starts with `prefix`. */
  def batchesIn(name: String = "", prefix: String = ""): Seq[Batch] = {
    val iv = spans.synchronized(spans.filter(s =>
      s.name == name || (prefix.nonEmpty && s.name.startsWith(prefix))).toSeq)
    batches.asScala.toSeq.filter(b => iv.exists(s => b.timeMs >= s.startMs && b.timeMs <= s.endMs))
  }

  /** Per-call counters of every span name, plus per-call-site-file
    * counters inside each span. Call after [[drain]]. */
  def summary(cores: Int): Map[String, Counters] = {
    val all = spans.synchronized(spans.toSeq)
    val ends = jobEnds.asScala.toMap
    val spanOf = (t: Long) => all.find(s => t >= s.startMs && t <= s.endMs)
    // stage → owning job: the first job that lists it
    val jobsByTime = jobStarts.asScala.toSeq.sortBy(_.jobId)
    val stageJob = scala.collection.mutable.Map.empty[Int, JobStart]
    jobsByTime.foreach(j => j.stageIds.foreach(st => stageJob.getOrElseUpdate(st, j)))
    val jobSpan = jobsByTime.flatMap(j => spanOf(j.timeMs).map(j -> _))
    val doneStages = stagesDone.asScala.toSeq
    val taskSeq = tasks.asScala.toSeq
    val planSeq = plans.asScala.toSeq

    def counters(calls: Seq[Span], jobs: Seq[JobStart], wallOverride: Option[Double]): Counters = {
      val n = math.max(calls.length, 1).toDouble
      val ids = jobs.map(_.jobId).toSet
      val stageIds = jobs.flatMap(_.stageIds).filter(st => stageJob.get(st).exists(j => ids(j.jobId))).toSet
      val ts = taskSeq.filter(t => stageIds(t.stageId))
      val intervals = jobs.map(j => (j.timeMs, ends.getOrElse(j.jobId, j.timeMs)))
      val jobCover = union(intervals) / 1000.0
      val wall = wallOverride.getOrElse(jobCover)
      val planS = planSeq.filter(p => calls.exists(s => p._1 >= s.startMs && p._1 <= s.endMs)).map(_._2).sum
      val taskS = ts.map(_.runMs).sum / 1000.0
      Counters(
        wallS = wall / n,
        selfS = math.max(0.0, wall - jobCover) / n,
        jobs = jobs.length / n,
        stages = doneStages.count(stageIds) / n,
        tasks = ts.length / n,
        taskS = taskS / n,
        gcS = ts.map(_.gcMs).sum / 1000.0 / n,
        shuffleMb = ts.map(_.shuffleBytes).sum / 1e6 / n,
        planS = planS / n,
        coreUtil = if (wall > 0) taskS / (wall * cores) else 0.0)
    }

    val byName = all.groupBy(_.name)
    byName.flatMap { case (name, calls) =>
      val jobs = jobSpan.filter(_._2.name == name).map(_._1)
      val whole = name -> counters(calls, jobs, Some(calls.map(_.wallS).sum))
      val sites = jobs.groupBy(_.site).map { case (site, js) =>
        s"$name.in_$site" -> counters(calls, js, None)
      }
      sites + whole
    }
  }
}

object Trace {
  final case class Span(name: String, startMs: Long, startNs: Long) {
    @volatile var endMs: Long = startMs
    @volatile var endNs: Long = startNs
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class JobStart(jobId: Int, timeMs: Long, stageIds: Seq[Int], site: String)
  final case class TaskEnd(stageId: Int, runMs: Long, gcMs: Long, shuffleBytes: Long)
  final case class Batch(timeMs: Long, rows: Long, durationMs: Map[String, Long],
      stateRows: Long, stateMemBytes: Long, stateCommitMs: Long)

  /** Per-call counters of one span (or one call-site group inside it).
    * Spilled bytes and failed tasks were 0 on every span of every workload
    * and are not kept. */
  final case class Counters(wallS: Double, selfS: Double,
      jobs: Double, stages: Double, tasks: Double, taskS: Double, gcS: Double,
      shuffleMb: Double, planS: Double, coreUtil: Double) {
    def fields: Seq[(String, Double)] = Seq(
      "wall_s" -> wallS, "self_s" -> selfS, "jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_s" -> taskS, "gc_s" -> gcS,
      "shuffle_mb" -> shuffleMb, "plan_s" -> planS, "core_util" -> coreUtil)
  }

  private val SiteFile = """at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r

  /** `collect at Photometry.scala:212` → `Photometry`; anything else →
    * `other`. */
  def siteFile(site: String): String =
    SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("other")

  /** Total length of the union of closed intervals, in the input unit. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
