package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded input generators. The same seed gives byte-identical inputs; the
  * program sees only the files written here. */
object Gen {

  /** A planted star: centre in the undithered frame, Gaussian amplitude. */
  final case class Star(x: Double, y: Double, amp: Double)

  /** PSF width of every planted star (Gaussian sigma, px). */
  val PsfSigma = 1.8

  /** `n` stars at least `minSep` px apart and `margin` px inside every edge,
    * by rejection sampling. Fails loudly rather than return a short field:
    * a field with fewer stars than asked would change what is measured. */
  def starField(rnd: Random, size: Int, n: Int, minSep: Double,
      margin: Double, ampLo: Double, ampHi: Double): Seq[Star] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Star]
    var tries = 0
    while (out.length < n) {
      tries += 1
      require(tries < 200000, s"cannot place $n stars on $size² at separation $minSep")
      val x = margin + rnd.nextDouble() * (size - 2 * margin)
      val y = margin + rnd.nextDouble() * (size - 2 * margin)
      if (out.forall(s => math.hypot(s.x - x, s.y - y) >= minSep))
        out += Star(x, y, ampLo + rnd.nextDouble() * (ampHi - ampLo))
    }
    out.toSeq
  }

  private def card(k: String, v: String): Array[Byte] =
    (k.padTo(8, ' ') + "= " + v).padTo(80, ' ').getBytes("US-ASCII")
  private def endCard: Array[Byte] = "END".padTo(80, ' ').getBytes("US-ASCII")
  private def pad(b: Array[Byte], fill: Byte): Array[Byte] =
    b ++ Array.fill[Byte]((2880 - b.length % 2880) % 2880)(fill)

  /** One FITS file: an empty primary HDU plus a float32 image extension (the
    * layout `FilePipeline.run` reads from HDU 1). Background 100 ADU with
    * unit Gaussian noise; every star shifted by `dither`. */
  def fitsFrame(rnd: Random, size: Int, stars: Seq[Star],
      dither: (Int, Int)): Array[Byte] = {
    val v = Array.fill(size * size)(100.0f + rnd.nextGaussian().toFloat)
    val r = math.ceil(6 * PsfSigma).toInt
    stars.foreach { s =>
      val sx = s.x + dither._1; val sy = s.y + dither._2
      for (y <- math.max(0, sy.toInt - r) to math.min(size - 1, sy.toInt + r);
           x <- math.max(0, sx.toInt - r) to math.min(size - 1, sx.toInt + r)) {
        val d2 = (x - sx) * (x - sx) + (y - sy) * (y - sy)
        v(y * size + x) += (s.amp * math.exp(-d2 / (2 * PsfSigma * PsfSigma))).toFloat
      }
    }
    val data = ByteBuffer.allocate(size * size * 4).order(ByteOrder.BIG_ENDIAN)
    v.foreach(data.putFloat)
    val primary = pad(card("SIMPLE", "T") ++ card("BITPIX", "8") ++
      card("NAXIS", "0") ++ endCard, ' '.toByte)
    val ext = pad(card("XTENSION", "'IMAGE   '") ++ card("BITPIX", "-32") ++
      card("NAXIS", "2") ++ card("NAXIS1", size.toString) ++
      card("NAXIS2", size.toString) ++ endCard, ' '.toByte)
    primary ++ ext ++ pad(data.array(), 0)
  }

  /** An image set as the pipeline's inputs: `sets` epochs of `frames`
    * dithered frames each, written as `set<i>_<j>.fits` under `dir`, plus the
    * headerless metadata CSV (filename, epoch id). Returns each epoch's
    * planted stars and the frame dithers. */
  final case class Campaign(csv: String, glob: String,
      stars: Map[Long, Seq[Star]], dithers: Seq[(Int, Int)])

  def campaign(seed: Long, dir: Path, sets: Int, frames: Int, size: Int,
      nStars: Int): Campaign = {
    val rnd = new Random(seed)
    // crowding exclusion drops stars closer than 5 FWHM (~21 px at this
    // PSF); 26 px keeps every planted star, so each set keeps enough stars
    // through the 5-brightest/10-faintest rank trim
    val minSep = 26.0
    val dithers = Seq((0, 0), (1, -1), (-1, 1), (2, 1)).take(frames)
    Files.createDirectories(dir)
    val csv = new StringBuilder
    val stars = (0 until sets).map { e =>
      val field = starField(rnd, size, nStars, minSep, margin = 16.0,
        ampLo = 1500.0, ampHi = 4000.0)
      dithers.zipWithIndex.foreach { case (d, j) =>
        val name = f"set$e%03d_$j.fits"
        Files.write(dir.resolve(name), fitsFrame(rnd, size, field, d))
        csv.append(s"$name,$e\n")
      }
      e.toLong -> field
    }.toMap
    val csvPath = dir.resolve("meta.csv")
    Files.write(csvPath, csv.toString.getBytes("US-ASCII"))
    Campaign(csvPath.toString, dir.toString + "/*.fits", stars, dithers)
  }

  /** Documents: `nDocs` texts of `tokens` words drawn from a large vocabulary
    * (random texts share no 3-shingles in practice), of which `nPairs`
    * are planted near-duplicates of an earlier document with one word
    * replaced (3-shingle Jaccard ≈ 0.94). Returns (rows, planted pairs
    * as (smaller id, larger id)). */
  def documents(seed: Long, nDocs: Int, nPairs: Int,
      tokens: Int): (Seq[(Long, String)], Set[(Long, Long)]) = {
    val rnd = new Random(seed)
    val vocab = 50000
    def word(): String = "w" + Integer.toString(rnd.nextInt(vocab), 36)
    val base = nDocs - nPairs
    val texts = Array.fill(base)(Array.fill(tokens)(word()))
    // each planted copy's source is a distinct base document
    val sources = rnd.shuffle((0 until base).toList).take(nPairs)
    val copies = sources.map { src =>
      val t = texts(src).clone()
      t(tokens / 4 + rnd.nextInt(tokens / 2)) = word()
      src -> t
    }
    // shuffle ids so a planted pair is not adjacent in id order
    val ids = rnd.shuffle((0 until nDocs).map(_.toLong).toList).toArray
    val rows = texts.indices.map(i => ids(i) -> texts(i).mkString(" ")) ++
      copies.zipWithIndex.map { case ((_, t), j) => ids(base + j) -> t.mkString(" ") }
    val pairs = copies.zipWithIndex.map { case ((src, _), j) =>
      val a = ids(src); val b = ids(base + j)
      (math.min(a, b), math.max(a, b))
    }.toSet
    (rows, pairs)
  }

  /** Vectors: `n` unit vectors of dimension `dim`. The first `nProbes`
    * ids are probes, and each probe has `k` planted neighbours (the probe
    * plus small noise), so its exact top-k is its planted set. Returns
    * (rows as (id, vector)). */
  def vectors(seed: Long, n: Int, dim: Int, nProbes: Int,
      k: Int): Seq[(Long, Array[Float])] = {
    val rnd = new Random(seed)
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val probes = Array.fill(nProbes)(Array.fill(dim)(rnd.nextGaussian()))
    val planted = for (p <- probes.toSeq; _ <- 0 until k)
      yield unit(p.map(_ + 0.15 * rnd.nextGaussian()))
    val rest = Seq.fill(n - nProbes - planted.length)(
      unit(Array.fill(dim)(rnd.nextGaussian())))
    val all = probes.toSeq.map(unit) ++ planted ++ rest
    all.zipWithIndex.map { case (v, i) => i.toLong -> v }
  }

  /** Events in the fixture schema with unique event ids, µs-aligned
    * timestamps over `days` days and dyadic values (exact in every
    * rounding the oracles apply). Duplicate arrivals are planted by the
    * streaming replay itself, which stages every event twice. */
  def events(seed: Long, n: Int, users: Int,
      days: Int): Seq[(Long, Long, Long, String, Double)] = {
    val rnd = new Random(seed)
    val types = Array("view", "click", "purchase", "search")
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val span = days * 86400L * 1000000L
    (0 until n).map { i =>
      (i.toLong, t0 + (rnd.nextDouble() * span).toLong,
        rnd.nextInt(users).toLong, types(rnd.nextInt(types.length)),
        rnd.nextInt(1 << 14) / 128.0)
    }
  }
}
