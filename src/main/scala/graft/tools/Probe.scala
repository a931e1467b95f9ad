package graft.tools

import graft.{LocalSession, SparkEntry}
import graft.queries.RecallQueries
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Development profiler: one main for every per-query view of where the
  * time goes, in the session every other entry point uses.
  *
  *   sbt "runMain graft.tools.Probe <mode> [--reps N] <query…>"
  *
  *  - `time`    wall time, rows and jobs of every rep; queries run in
  *              sequence in one session, so cross-query effects show
  *  - `phases`  the last (warm) rep split into Catalyst analysis,
  *              optimization and physical planning, task time and jobs
  *  - `stages`  per stage of the last rep: tasks, summed and max task
  *              time, run/GC/deserialize time, plus the executor frames
  *              a 50 ms sampler saw
  *  - `explain` the formatted physical plan
  *  - `show`    the query's rows
  *  - `cert`    a recall certificate's summary row: the measured recall,
  *              drift and error values its checks threshold
  *  - `joblat`  fixed per-job latency of empty RDD jobs and tiny
  *              DataFrame jobs (no query; `--reps` timed iterations)
  *
  * `--reps` defaults to 2 (60 for `joblat`). Reads SPARK_GRAFT_SF_DIR
  * (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS, and
  * SPARK_GRAFT_CONF="k1=v1,k2=v2" for extra session settings. */
object Probe {
  private val Modes = Seq("time", "phases", "stages", "explain", "show", "cert", "joblat")

  def main(args: Array[String]): Unit = {
    val (mode, reps, names) = parseArgs(args.toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus(),
      sys.env.get("SPARK_GRAFT_CONF").map(confPairs).getOrElse(Nil))
    try run(spark, dir, mode, reps, names) finally spark.stop()
  }

  /** `<mode> [--reps N] <query…>` → (mode, reps, query names). */
  def parseArgs(args: Seq[String]): (String, Int, Seq[String]) = {
    val usage = s"usage: Probe <${Modes.mkString("|")}> [--reps N] <query…>"
    require(args.nonEmpty && Modes.contains(args.head), usage)
    val mode = args.head
    val (reps, names) = args.tail match {
      case Seq("--reps", n, rest @ _*) =>
        (LocalSession.positiveInt("--reps", Some(n), 0), rest)
      case rest => (if (mode == "joblat") 60 else 2, rest)
    }
    require(mode == "joblat" || names.nonEmpty, usage)
    (mode, reps, names)
  }

  /** SPARK_GRAFT_CONF's `k1=v1,k2=v2` → session settings. */
  def confPairs(raw: String): Seq[(String, String)] =
    raw.split(",").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value (in '$raw')")
      }
    }

  private final class StageStat {
    var tasks = 0
    var totalMs, maxMs, runMs, gcMs, deserMs = 0L
    var name = ""
  }

  /** Jobs and per-stage task statistics since the last `reset`. */
  private final class Meter extends SparkListener {
    val stages = mutable.LinkedHashMap.empty[Int, StageStat]
    var jobs = 0
    def reset(): Unit = synchronized { stages.clear(); jobs = 0 }
    private def stage(id: Int) = stages.getOrElseUpdate(id, new StageStat)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      s.totalMs += e.taskInfo.duration
      s.maxMs = math.max(s.maxMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stage(e.stageInfo.stageId).name = e.stageInfo.name.take(90) }
  }

  /** Counts the top non-JDK frame of every executor task thread, every
    * 50 ms, until `stop`. */
  private final class FrameSampler {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    @volatile private var on = true
    private val thread = new Thread(() => while (on) {
      Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
        if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
          val f = st.take(25).find(e => !e.getClassName.startsWith("java.") &&
            !e.getClassName.startsWith("scala.")).getOrElse(st.head)
          counts(f.getClassName.split('.').takeRight(2).mkString(".") +
            "." + f.getMethodName) += 1
        }
      }
      Thread.sleep(50)
    })
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { on = false; thread.join() }
  }

  def run(spark: SparkSession, dir: String, mode: String, reps: Int,
      names: Seq[String]): Unit = {
    val known = if (mode == "cert") RecallQueries.summaries else SparkEntry.queries
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"not a registered ${if (mode == "cert") "certificate"
      else "query"}: ${unknown.mkString(",")}")
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)

    /** One rep of `name`, run as `count()` runs it; the meter holds only
      * this rep's events afterwards. Returns the counting Dataset (whose
      * planning tracker covers the executed plan), wall seconds, rows. */
    def rep(name: String): (DataFrame, Double, Long) = {
      ListenerBusDrain.drain(sc)
      meter.reset()
      val t0 = System.nanoTime()
      val counted = SparkEntry.queries(name)(spark, dir).groupBy().count()
      val n = counted.collect().head.getLong(0)
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain.drain(sc)
      (counted, wall, n)
    }

    try mode match {
      case "time" =>
        println("query,rep,wall_s,rows,jobs")
        for (name <- names; i <- 1 to reps) {
          val (_, wall, n) = rep(name)
          println(f"$name,$i,$wall%.3f,$n,${meter.jobs}")
        }
      case "phases" =>
        println("query,wall_ms,analysis_ms,optimization_ms,planning_ms,task_ms,jobs")
        names.foreach { name =>
          val (counted, wall, _) = (1 to reps).map(_ => rep(name)).last
          val ph = counted.queryExecution.tracker.phases
          def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
          println(f"$name,${wall * 1e3}%.0f,${ms("analysis")},${ms("optimization")}," +
            f"${ms("planning")},${meter.stages.values.map(_.runMs).sum},${meter.jobs}")
        }
      case "stages" =>
        for (name <- names; i <- 1 to reps) {
          val sampler = if (i == reps) Some(new FrameSampler) else None
          val (_, wall, n) = try rep(name) finally sampler.foreach(_.stop())
          println(f"== $name rep $i: $wall%.2f s ($n rows)")
          sampler.foreach { frames =>
            println(f"${"stage"}%6s ${"tasks"}%6s ${"total_s"}%8s ${"max_s"}%7s " +
              f"${"run_s"}%7s ${"gc_s"}%6s ${"deser_s"}%7s  name")
            meter.stages.toSeq.sortBy(-_._2.totalMs).take(30).foreach { case (id, s) =>
              println(f"$id%6d ${s.tasks}%6d ${s.totalMs / 1e3}%8.2f ${s.maxMs / 1e3}%7.2f " +
                f"${s.runMs / 1e3}%7.2f ${s.gcMs / 1e3}%6.2f ${s.deserMs / 1e3}%7.2f  ${s.name}")
            }
            val taskS = meter.stages.values.map(_.totalMs).sum / 1e3
            val cores = sc.defaultParallelism
            println(f"stages=${meter.stages.size} total task time $taskS%.2f s " +
              f"(parallel efficiency ${taskS / wall / cores * 100}%.0f%% of $cores cores)")
            println("top sampled executor frames:")
            frames.counts.toSeq.sortBy(-_._2).take(15).foreach { case (f, c) =>
              println(f"  $c%5d  $f")
            }
          }
        }
      case "explain" => names.foreach { name =>
        println(s"== $name ==")
        SparkEntry.queries(name)(spark, dir).explain("formatted")
      }
      case "show" => names.foreach { name =>
        println(s"== $name @ $dir")
        SparkEntry.queries(name)(spark, dir).show(60, false)
      }
      case "cert" => names.foreach { name =>
        println(s"== $name summary @ $dir")
        RecallQueries.summaries(name)(spark, dir).show(false)
      }
      case "joblat" =>
        println("op,ms_per_op")
        def lat(op: String)(f: => Any): Unit = {
          (1 to 10).foreach(_ => f)
          val t0 = System.nanoTime()
          (1 to reps).foreach(_ => f)
          println(f"$op,${(System.nanoTime() - t0) / 1e6 / reps}%.2f")
        }
        val cores = sc.defaultParallelism
        val one = sc.parallelize(Seq(1), 1).cache()
        val wide = sc.parallelize(1 to cores, cores).cache()
        try {
          lat("rdd_1_partition_count")(one.count())
          lat(s"rdd_${cores}_partition_count")(wide.count())
          val range1 = spark.range(1).toDF("v")
          lat("df_range1_count")(range1.count())
          val globalAgg = spark.range(64).groupBy().sum("id")
          lat("df_tiny_global_agg")(globalAgg.collect())
          val shuffleAgg = spark.range(64)
            .withColumn("k", pmod(col("id"), lit(8L))).groupBy("k").count()
          lat("df_tiny_shuffle_agg")(shuffleAgg.collect())
        } finally { one.unpersist(); wide.unpersist() }
    } finally sc.removeSparkListener(meter)
  }
}
