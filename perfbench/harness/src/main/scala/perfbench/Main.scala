package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver. Usage (normally through `perfbench/run.py`):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --oracle <perfbench/oracle.py>
  *
  * Sets up the workload's seeded inputs several times, then runs rounds
  * of calls in a closed loop (one client) until `seconds` have passed.
  * There is no warm-up round: the first round is what a batch job run in
  * a fresh session pays, planning and code generation included, and it
  * is measured. `--trace 1` runs the same protocol with the scheduler and
  * planning listeners attached and reports per-layer counters instead of
  * end-to-end metrics. Prints one `PERFBENCH {json}` line. */
object Main {
  /** Set-up repeats at least this often, and, while each set-up is short,
    * until this much time has gone into it, so its median is steady. */
  val MinSetupReps = 3
  val MinSetupSeconds = 2.0
  val MaxSetupReps = 15

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val prov0 = Provenance.sample()
    val cores = Runtime.getRuntime.availableProcessors
    // built the way graft.Bench builds its session
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val w = Workload.byName(opts("workload"), opts("oracle"))
    val checks = new Checks

    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (setupS.length < MinSetupReps ||
        (setupS.sum < MinSetupSeconds && setupS.length < MaxSetupReps)) {
      val dir = work.resolve(s"input-${setupS.length}")
      setupS += time(w.setup(spark, dir, seed))
    }
    val plain = new Trace(spark, detailed = false)
    plain.attach()
    // a traced run keeps the untraced run's protocol, with the scheduler
    // and planning listeners attached for the whole measured phase
    val tr = if (traced) new Trace(spark, detailed = true) else plain
    if (traced) { plain.detach(); tr.attach() }
    val t0 = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    do {
      rounds += time(w.round(spark, tr, work, checks))
      Heap.sample()
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    tr.detach()

    val out = new Json
    if (!traced) {
      val ops = w.opMs(tr)
      val (items, busy) = w.work(tr)
      out.metric("setup_s", Workload.median(setupS.toSeq), "s")
      out.metric("ok_rate", 1.0 - checks.failed.toDouble / math.max(checks.attempted, 1), "ratio")
      out.metric("heap_peak_mb", Heap.peakMb, "MB")
      out.metric("op_ms", w.typicalOpMs(ops), "ms")
      out.metric("work_per_s", items / busy, "items/s")
      out.metric("round_s", Workload.median(rounds.toSeq), "s")
      out.metric("recall", w.recall, "ratio")
      out.field("samples", Json.obj(Seq("op_ms" -> ops.length, "rounds" -> rounds.length,
        "setup_s" -> setupS.length, "heap_peak_mb" -> rounds.length)
        .map { case (k, v) => k -> v.toString }))
      out.field("op_ms", Json.arr(ops))
    } else {
      tr.summary(cores).toSeq.sortBy(_._1).foreach { case (span, c) =>
        // the catalog sink's jobs inside the pipeline call are the
        // sources layer's write
        val name = if (span == "pipeline.run.in_CatalogSinks") "sources.writePartitioned" else span
        c.fields.foreach { case (k, v) => out.metric(s"$name.$k", v, unit(k)) }
      }
      val batches = tr.batchesIn(prefix = "queries.")
      if (batches.nonEmpty) {
        def med(f: Trace.Batch => Double) = Workload.median(batches.map(f))
        Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning").foreach { k =>
          out.metric(s"streaming.batch.${k}_ms", med(_.durationMs.getOrElse(k, 0L).toDouble), "ms")
        }
        out.metric("streaming.state.rows_total", batches.map(_.stateRows).max.toDouble, "count")
        out.metric("streaming.state.mem_mb", batches.map(_.stateMemBytes).max / 1e6, "MB")
        out.metric("streaming.state.commit_ms", med(_.stateCommitMs.toDouble), "ms")
      }
      // compared with round_s of an untraced run on the same seed, this
      // gives the tracing overhead (perfbench/steady.py --trace)
      out.metric("trace.round_s", Workload.median(rounds.toSeq), "s")
    }
    out.field("rounds_s", Json.arr(rounds.toSeq))
    out.field("attempted", checks.attempted.toString)
    out.field("failed", checks.failed.toString)
    out.field("failures", Json.arr(checks.failures.toSeq))
    out.field("setup_runs_s", Json.arr(setupS.toSeq))
    out.field("provenance", Provenance.json(prov0, Provenance.sample(), seed, cores))
    spark.stop()
    println("PERFBENCH " + out.render)
  }

  private def unit(counter: String): String = counter match {
    case c if c.endsWith("_s") => "s"
    case c if c.endsWith("_mb") => "MB"
    case "core_util" => "ratio"
    case _ => "count"
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}

/** Highest heap use seen right after a full garbage collection. One is
  * forced at the end of every measured round, outside the timed calls, so
  * the figure is the heap the program still holds between calls and does
  * not depend on when the collector happened to run. The first collection
  * lets Spark's context cleaner see the round's dead RDDs and drop their
  * cached blocks; the second, a moment later, measures what is left. */
object Heap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1e6
}

/** What a result needs so it can be attributed without a re-run. */
object Provenance {
  final case class Sample(memAvailableKb: Long, stealTicks: Long)

  def sample(): Sample = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p)), "US-ASCII")
      catch { case _: Exception => "" }
    val mem = read("/proc/meminfo").linesIterator.find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    // "cpu  user nice system idle iowait irq softirq steal ..."
    val steal = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(_.trim.split("\\s+").lift(8)).map(_.toLong).getOrElse(-1L)
    Sample(mem, steal)
  }

  def json(start: Sample, end: Sample, seed: Long, cores: Int): String = {
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX"))
    Json.obj(Seq(
      "seed" -> seed.toString,
      "nproc" -> cores.toString,
      "mem_available_kb_start" -> start.memAvailableKb.toString,
      "mem_available_kb_end" -> end.memAvailableKb.toString,
      "steal_ticks" -> (end.stealTicks - start.stealTicks).toString,
      "heap_flags" -> Json.arr(args.toSeq),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1e6).toString,
      "java_io_tmpdir" -> Json.str(System.getProperty("java.io.tmpdir")),
      "spark_local_dirs" -> Json.str(sys.env.getOrElse("SPARK_LOCAL_DIRS", ""))))
  }
}

/** Just enough JSON output for one result object. */
final class Json {
  private val metrics = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def metric(name: String, value: Double, unit: String): Unit =
    metrics += name -> Json.obj(Seq("value" -> Json.num(value), "unit" -> Json.str(unit)))
  def field(name: String, raw: String): Unit = fields += name -> raw
  def render: String = Json.obj(("metrics" -> Json.obj(metrics.toSeq)) +: fields.toSeq)
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[Any]): String = xs.map {
    case d: Double => num(d)
    case s: String => str(s)
    case other => other.toString
  }.mkString("[", ", ", "]")
}
