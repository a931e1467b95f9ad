package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.operators.{Dedup, Pq, Similarity}
import graft.pipeline.FilePipeline
import graft.sources.Fits
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, timestamp_micros}

/** One workload: seeded inputs, a round of calls into the program's layers,
  * output checks, and the end-to-end metrics it reports. */
trait Workload {
  /** Generate the inputs for `seed` under `dir` and compute the reference
    * answers the checks compare against. Called several times per run,
    * each time into a fresh directory; the last call's inputs are used. */
  def setup(spark: SparkSession, dir: Path, seed: Long): Unit

  /** One round of calls, each wrapped in a span; every output is checked
    * after its span closes. */
  def round(spark: SparkSession, trace: Trace, work: Path, checks: Checks): Unit

  /** Latency samples of the workload's unit operation, in ms. */
  def opMs(trace: Trace): Seq[Double]

  /** The typical latency reported from those samples: their median. */
  def typicalOpMs(samples: Seq[Double]): Double = Workload.median(samples)

  /** (items processed, seconds spent on them) for the throughput. */
  def work(trace: Trace): (Double, Double)

  /** Share of the expected answers the outputs held (planted stars,
    * exact top-10 neighbours, oracle rows). */
  def recall: Double
}

/** Tally of checked operations; a failed check counts as a failed
  * operation, and so does an exception. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  def apply(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!pass) {
      failed += 1
      if (failures.length < 20) failures += what
    }
  }
}

object Workload {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val files = Files.walk(p)
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally files.close()
  }

  def byName(name: String, oracleScript: String): Workload = name match {
    case "epoch_campaign" => new Epoch
    case "curation_ann" => new CurationAnn
    case "stream_dedup" => new StreamDedup(oracleScript)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workload._

/** Planted-star image sets through `FilePipeline.run` with a results
  * directory: decode (sources) → epoch photometry (pipeline) →
  * epoch-partitioned catalog (sources). */
final class Epoch extends Workload {
  /** One set of 3 dithered frames: an "ok" set costs ~170 jobs, so even
    * one set is launch-bound and fills a run (a 256² set takes ~28 s cold
    * on 4 cores). 192² is the smallest frame that holds 20 stars at the
    * separation crowding exclusion needs. */
  val Sets = 1
  val Frames = 3
  val Size = 192
  val Stars = 20

  /** A planted star counts as recovered when a catalog star lies within this
    * distance of it (px)... */
  val PosTol = 0.5
  /** ...and its fitted flux is within this fraction of the set's median
    * fitted-to-planted flux ratio. */
  val FluxTol = 0.10

  private var camp: Gen.Campaign = _
  private var pixelSums: Map[String, (Long, Double)] = _
  private var plantedN = 0L
  private var foundN = 0L

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    camp = Gen.campaign(seed, dir, Sets, Frames, Size, Stars)
    // reference per-file pixel count and sum, straight from the bytes
    pixelSums = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".fits")).map { p =>
        val b = java.nio.ByteBuffer.wrap(Files.readAllBytes(p))
        b.position(2 * 2880)
        var s = 0.0; var i = 0
        while (i < Size * Size) { s += b.getFloat(); i += 1 }
        p.getFileName.toString -> (Size.toLong * Size, s)
      }.toMap
  }

  def round(spark: SparkSession, trace: Trace, work: Path, checks: Checks): Unit = {
    val decoded = trace.span("sources.readFits") {
      Fits.readFits(spark, camp.glob)
        .groupBy(col("img_id")).agg(count(lit(1)), sum(col("v"))).collect()
    }
    checks("sources.readFits pixel sums") {
      decoded.length == pixelSums.size && decoded.forall { r =>
        val (n, s) = pixelSums(r.getString(0).split('/').last)
        r.getLong(1) == n && math.abs(r.getDouble(2) - s) <= 1e-9 * math.abs(s) + 1e-3
      }
    }
    val out = work.resolve(s"catalog-${System.nanoTime()}")
    val res = trace.span("pipeline.run") {
      FilePipeline.run(spark, camp.csv, camp.glob, Size, Size,
        resultsDir = Some(out.toString))
    }
    val cat = spark.read.parquet(out.toString)
      .select(col("epoch_id").cast("long"), col("xcentroid"), col("ycentroid"), col("flux"))
      .collect().groupBy(_.getLong(0))
    camp.stars.foreach { case (epoch, planted) =>
      val found = recovered(planted, cat.getOrElse(epoch, Array.empty[Row]))
      plantedN += planted.length
      foundN += found
      checks(s"pipeline.run epoch $epoch: status ${res.statuses.get(epoch)}, " +
          s"$found of ${planted.length} stars") {
        res.statuses.get(epoch).contains("ok") && found == planted.length
      }
    }
    deleteTree(out)
  }

  /** How many planted stars are found within [[PosTol]] after the epoch's
    * frame offset (the combine aligns to one of the dithered frames), with
    * a flux within [[FluxTol]] of the set's median flux ratio. */
  private def recovered(planted: Seq[Gen.Star], cat: Array[Row]): Int = {
    val pos = cat.map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    def nearest(x: Double, y: Double) =
      if (pos.isEmpty) None else Some(pos.minBy(p => math.hypot(p._1 - x, p._2 - y)))
    camp.dithers.map { case (dx, dy) =>
      val ratios = planted.flatMap(s => nearest(s.x + dx, s.y + dy)
        .filter(p => math.hypot(p._1 - s.x - dx, p._2 - s.y - dy) <= PosTol)
        .map(p => p._3 / (2 * math.Pi * Gen.PsfSigma * Gen.PsfSigma * s.amp)))
      if (ratios.isEmpty) 0
      else {
        val m = median(ratios)
        ratios.count(r => m > 0 && math.abs(r / m - 1) <= FluxTol)
      }
    }.max
  }

  def opMs(trace: Trace): Seq[Double] = trace.wallTimes("pipeline.run").map(_ * 1000)

  def work(trace: Trace): (Double, Double) = {
    val walls = trace.wallTimes("pipeline.run")
    (Sets.toDouble * Frames * Size * Size * walls.length, walls.sum)
  }

  def recall: Double = if (plantedN == 0) 0.0 else foundN.toDouble / plantedN
}

/** LLM-data curation: near-duplicate detection over a planted corpus, then
  * the IVF-PQ index chain (build → append ×2 → compact), one batch probe
  * and a closed loop of single-vector top-10 probes. */
final class CurationAnn extends Workload {
  val NDocs = 1000
  val NPairs = 50
  val Tokens = 60
  val NVec = 2000
  val Dim = 64
  val NProbes = 40
  val K = 10
  /** Single probes get faster through a run as code warms; twelve put
    * their median past the steep start of that curve. */
  val SingleProbes = 12
  /** Lowest acceptable recall@10 of the batch probe against brute force. */
  val MinRecall = 0.9

  private var docsPath: String = _
  private var vecPath: String = _
  private var planted: Set[(Long, Long)] = _
  private var exact: Map[Long, Set[Long]] = _
  private var probeVecs: Seq[(Long, Seq[Float])] = _
  private val recalls = ArrayBuffer.empty[Double]
  private var probeCursor = 0

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    val (docs, pairs) = Gen.documents(seed, NDocs, NPairs, Tokens)
    docsPath = dir.resolve("documents.parquet").toString
    docs.toDF("doc_id", "text").write.parquet(docsPath)
    planted = pairs
    vecPath = dir.resolve("embeddings.parquet").toString
    val vecs = Gen.vectors(seed + 1, NVec, Dim, NProbes, K).map { case (id, v) => (id, v.toSeq) }
    vecs.toDF("vec_id", "embedding").write.parquet(vecPath)
    probeVecs = vecs.take(NProbes)
    val corpus = spark.read.parquet(vecPath)
    exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < NProbes), "vec_id", "embedding", K)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  def round(spark: SparkSession, trace: Trace, work: Path, checks: Checks): Unit = {
    val docs = spark.read.parquet(docsPath)
    val pairs = trace.span("operators.minhashLshPairs") {
      Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 8, 0.9)
        .select("id_a", "id_b").collect()
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    checks("operators.minhashLshPairs finds exactly the planted pairs")(pairs == planted)
    val clusters = trace.span("operators.nearDupClusters") {
      Dedup.nearDupClusters(docs, "doc_id", "text", 3, 0.6)
        .select("doc_id", "cluster_id").collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    checks("operators.nearDupClusters groups exactly the planted pairs") {
      val grouped = clusters.groupBy(_._2).values.filter(_.size > 1)
        .map(_.keys.toSeq.sorted).map(s => (s.head, s.last)).toSet
      clusters.size == NDocs && grouped == planted &&
        clusters.groupBy(_._2).values.forall(_.size <= 2)
    }

    val corpus = spark.read.parquet(vecPath)
    val idx = work.resolve(s"ivfpq-${System.nanoTime()}")
    val base = idx.resolve("base").toString
    val compacted = idx.resolve("compacted").toString
    trace.span("operators.writeIvfPqIndex") {
      Pq.writeIvfPqIndex(corpus.filter(col("vec_id") % 4 =!= 0), "vec_id",
        "embedding", base, nCells = 16, nSub = 16, nCodes = 16, iters = 3, spill = 2)
    }
    trace.span("operators.appendIvfPqIndex") {
      Pq.appendIvfPqIndex(corpus.filter(col("vec_id") % 8 === 0), "vec_id",
        "embedding", base, spill = 2)
    }
    trace.span("operators.appendIvfPqIndex") {
      Pq.appendIvfPqIndex(corpus.filter(col("vec_id") % 8 === 4), "vec_id",
        "embedding", base, spill = 2)
    }
    trace.span("operators.compactIvfPqIndex") {
      Pq.compactIvfPqIndex(spark, base, compacted)
    }
    checks("operators.compactIvfPqIndex holds every vector") {
      spark.read.parquet(compacted).select("vec_id").distinct().count() == NVec
    }

    // a client sends its query vectors, as a local relation
    def probe(qs: Seq[(Long, Seq[Float])]): Array[Row] = {
      import spark.implicits._
      Pq.probeIvfPqIndex(spark, compacted, qs.toDF("vec_id", "embedding"), "vec_id",
        "embedding", K, nprobe = 6, refineWith = Some((corpus, "vec_id", "embedding")))
        .select("q_id", "vec_id").collect()
    }
    val batch = trace.span("operators.probeIvfPqIndex_batch")(probe(probeVecs))
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = (0L until NProbes).map(q =>
      (batch.getOrElse(q, Set.empty[Long]) intersect exact(q)).size.toDouble / K).sum / NProbes
    recalls += recall
    checks(f"operators.probeIvfPqIndex batch recall@$K $recall%.3f >= $MinRecall")(recall >= MinRecall)

    (0 until SingleProbes).foreach { _ =>
      val q = probeCursor % NProbes
      probeCursor += 1
      val got = trace.span("operators.probeIvfPqIndex")(probe(Seq(probeVecs(q))))
        .map(_.getLong(1)).toSet
      checks("operators.probeIvfPqIndex single probe") {
        got.size == K && !got.contains(q.toLong) &&
          (got intersect exact(q.toLong)).size.toDouble / K >= MinRecall
      }
    }
    deleteTree(idx)
  }

  def opMs(trace: Trace): Seq[Double] =
    trace.wallTimes("operators.probeIvfPqIndex").map(_ * 1000)

  def work(trace: Trace): (Double, Double) = {
    val dedup = trace.wallTimes("operators.minhashLshPairs") ++
      trace.wallTimes("operators.nearDupClusters")
    (NDocs.toDouble * trace.wallTimes("operators.minhashLshPairs").length, dedup.sum)
  }

  def recall: Double = median(recalls.toSeq)
}

/** The registered stateful streaming queries over a seeded directory in
  * the fixture schema, run through `SparkEntry.queries`. Each call stages
  * (first call only) and drains a file-source replay to completion; every
  * result must equal the query's `SparkEntry.oracleSql` run in DuckDB. */
final class StreamDedup(oracleScript: String) extends Workload {
  val Queries = Seq("q124_streaming_dedup", "q169b_streaming_neardup_bounded")
  val NDocs = 800
  val NPairs = 40
  val NEvents = 4000

  private var dataDir: String = _
  private var expected: Map[String, Seq[String]] = Map.empty
  private var expectedN = 0L
  private var matchedN = 0L

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    // near-duplicate pairs for q169b; q124's duplicate arrivals come from
    // its own replay, which stages every event twice
    val (docs, _) = Gen.documents(seed, NDocs, NPairs, 40)
    docs.map { case (id, t) => (id, t, "en", "seeded", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    Gen.events(seed + 1, NEvents, users = 200, days = 4)
      .map { case (id, us, u, t, v) => (id, us, u, t, v, "{}") }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    dataDir = dir.toString
    expected = Oracle.run(spark, oracleScript, dir,
      Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }

  def round(spark: SparkSession, trace: Trace, work: Path, checks: Checks): Unit =
    Queries.foreach { q =>
      val got = trace.span(s"queries.$q") {
        Oracle.canonical(SparkEntry.queries(q)(spark, dataDir))
      }
      val want = expected(q)
      expectedN += want.length
      matchedN += Oracle.overlap(want, got)
      checks(s"queries.$q equals its DuckDB oracle (${got.length} vs ${want.length} rows)")(got == want)
    }

  def opMs(trace: Trace): Seq[Double] =
    Queries.flatMap(q => trace.batchesIn(s"queries.$q"))
      .map(_.durationMs.getOrElse("triggerExecution", 0L).toDouble)

  /** Micro-batches get faster through a run as code warms up, so their
    * median falls on the steep part of that curve and jumps with small
    * shifts; the mean integrates the curve. */
  override def typicalOpMs(samples: Seq[Double]): Double = samples.sum / samples.length

  def work(trace: Trace): (Double, Double) = {
    val walls = Queries.flatMap(q => trace.wallTimes(s"queries.$q"))
    (Queries.flatMap(q => trace.batchesIn(s"queries.$q")).map(_.rows).sum.toDouble, walls.sum)
  }

  def recall: Double = if (expectedN == 0) 0.0 else matchedN.toDouble / expectedN
}
