package graft.queries

import graft.{NamedQuery, Tables}
import graft.multimodal.{Codecs, Multimodal}
import org.apache.spark.sql.functions._

/** Driver-visible certification of the REAL media codecs (SURVEY.md
  * §2.10 multimodal): deterministic media payloads are synthesized from
  * fixture arithmetic, ENCODED to real container bytes (PGM / PCM WAV),
  * decoded back through the production [[Multimodal]] dispatch, and
  * feature-summarized — while the DuckDB oracle computes the same
  * features from the closed-form signal. A codec bug on either direction
  * breaks the hash match. Quantization uses explicit floor(x+0.5) in both
  * engines, so the byte round-trip is engine-exact; transcendental inputs
  * (sin) round at 6 dp after aggregation.
  */
object MediaOps {

  /** q104: PGM image round-trip. Pixel (y,x) of doc d is
    * ((x + y + d) mod 256)/255 — integer-exact through the 8-bit
    * quantizer — encoded as binary P5 and decoded by magic dispatch
    * (dimensions come from the FILE, not metadata). */
  private val q104 = NamedQuery(
    "q104_image_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 16 + 4).as("w"),
          (col("n_chars") % 12 + 4).as("h"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, wl, hl) =>
          val w = wl.toInt; val h = hl.toInt
          val px = Array.tabulate(w * h) { i =>
            (((i % w) + (i / w) + id) % 256).toDouble / 255.0
          }
          val payload = Codecs.encodePgm(w, h, px)
          val (dw, dh, dec) = Multimodal.decodeImage(payload, 0, 0)
          val n = dec.length
          (id, dw.toLong, dh.toLong, dec.sum / n,
            math.sqrt(dec.map(v => v * v).sum / n))
        })
        .toDF("doc_id", "w", "h", "mean_lum", "rms_lum")
        .select(col("doc_id"), col("w"), col("h"),
          round(col("mean_lum"), 6).as("mean_lum"),
          round(col("rms_lum"), 6).as("rms_lum"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 16 + 4 AS w,
        n_chars % 12 + 4 AS h FROM documents),
      g AS (SELECT d.doc_id, d.w, d.h,
              CAST((xx.x + yy.y + d.doc_id) % 256 AS DOUBLE) / 255.0 AS v
            FROM d, UNNEST(generate_series(0, d.h - 1)) AS yy(y),
                 UNNEST(generate_series(0, d.w - 1)) AS xx(x))
      SELECT doc_id, w, h, ROUND(AVG(v), 6) AS mean_lum,
        ROUND(SQRT(AVG(v * v)), 6) AS rms_lum
      FROM g GROUP BY 1, 2, 3"""))

  /** q105: PCM WAV round-trip. Doc d carries a 0.5-amplitude sine at
    * (d mod 20 + 1) cycles per 64 samples, PCM16-quantized; the oracle
    * models the quantizer (floor(s·32767 + 0.5)/32768) and recomputes
    * duration/RMS/peak/zero-crossing rate from the closed form. */
  private val q105 = NamedQuery(
    "q105_audio_features",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 400 + 50).as("ns"),
          (col("doc_id") % 20 + 1).as("k"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, k) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            0.5 * math.sin(2 * math.Pi * k * t / 64.0))
          val payload = Codecs.encodeWav(8000, samples)
          val f = Multimodal.features(payload)
          (id, f(0), f(1), f(2), f(3))
        })
        .toDF("doc_id", "duration", "rms", "peak", "zcr")
        .select(col("doc_id"), round(col("duration"), 6).as("duration"),
          round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"),
          round(col("zcr"), 6).as("zcr"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 400 + 50 AS ns,
        doc_id % 20 + 1 AS k FROM documents),
      s AS (SELECT d.doc_id, d.ns, tt.t,
              FLOOR(0.5 * SIN(2 * pi() * d.k * tt.t / 64.0) * 32767 + 0.5)
                / 32768.0 AS v
            FROM d, UNNEST(generate_series(0, d.ns - 1)) AS tt(t)),
      a AS (SELECT doc_id, ns, t, v,
              CASE WHEN LAG(v) OVER w IS NOT NULL
                    AND (v >= 0) <> (LAG(v) OVER w >= 0) THEN 1 ELSE 0 END AS flip
            FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY t))
      SELECT doc_id, ROUND(CAST(ns AS DOUBLE) / 8000.0, 6) AS duration,
        ROUND(SQRT(AVG(v * v)), 6) AS rms,
        ROUND(MAX(ABS(v)), 6) AS peak,
        ROUND(CAST(SUM(flip) AS DOUBLE) / ns, 6) AS zcr
      FROM a GROUP BY doc_id, ns"""))

  /** q115: baseline-JPEG round-trip under the hash gate. Doc d carries an
    * 8×8-block-constant mosaic (block (bx,by) = (7bx + 13by + d) mod 256):
    * such an image has ONLY DC energy, the DC quantizes exactly at step 1,
    * and the IDCT of a DC-only block is flat to ~1e-13 — so the encode →
    * entropy-decode → IDCT round trip reproduces every sample EXACTLY and
    * the DuckDB oracle can state the decoded image in closed form. The
    * Huffman/marker machinery this exercises (T.81 [[graft.multimodal.Jpeg]])
    * is the same code path general images take; their ±1-sample bound is
    * JpegSpec's cross-validation against the JDK codec. */
  private val q115 = NamedQuery(
    "q115_jpeg_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), ((col("n_chars") % 3 + 2) * 8).as("w"),
          ((col("doc_id") % 3 + 2) * 8).as("h"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, wl, hl) =>
          val w = wl.toInt; val h = hl.toInt
          val px = Array.tabulate(w * h) { i =>
            val bx = (i % w) / 8; val by = (i / w) / 8
            ((bx * 7 + by * 13 + id) % 256).toDouble / 255.0
          }
          val payload = graft.multimodal.Jpeg.encodeGray(w, h, px)
          val (dw, dh, dec) = Multimodal.decodeImage(payload, 0, 0)
          val n = dec.length
          (id, dw.toLong, dh.toLong, payload.length.toLong,
            dec.sum / n, math.sqrt(dec.map(v => v * v).sum / n))
        })
        .toDF("doc_id", "w", "h", "n_bytes", "mean_lum", "rms_lum")
        .select(col("doc_id"), col("w"), col("h"),
          round(col("mean_lum"), 6).as("mean_lum"),
          round(col("rms_lum"), 6).as("rms_lum"))
    },
    Some("""WITH d AS (SELECT doc_id, (n_chars % 3 + 2) * 8 AS w,
        (doc_id % 3 + 2) * 8 AS h FROM documents),
      g AS (SELECT d.doc_id, d.w, d.h,
              CAST(((xx.x // 8) * 7 + (yy.y // 8) * 13 + d.doc_id) % 256
                AS DOUBLE) / 255.0 AS v
            FROM d, UNNEST(generate_series(0, d.h - 1)) AS yy(y),
                 UNNEST(generate_series(0, d.w - 1)) AS xx(x))
      SELECT doc_id, w, h, ROUND(AVG(v), 6) AS mean_lum,
        ROUND(SQRT(AVG(v * v)), 6) AS rms_lum
      FROM g GROUP BY 1, 2, 3"""))

  /** q116: PNG round-trip under the hash gate. PNG is LOSSLESS, so unlike
    * q115's DC-only mosaics the planted image is arbitrary hash noise —
    * every byte of the deflate→filter→reconstruct path must be exact for
    * the closed-form oracle to match. */
  private val q116 = NamedQuery(
    "q116_png_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 24 + 5).as("w"),
          (col("doc_id") % 19 + 5).as("h"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, wl, hl) =>
          val w = wl.toInt; val h = hl.toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            ((x * 2654435761L + y * 40503L + id) % 256).toDouble / 255.0
          }
          val payload = graft.multimodal.Png.encodeGray(w, h, px)
          val (dw, dh, dec) = Multimodal.decodeImage(payload, 0, 0)
          val n = dec.length
          (id, dw.toLong, dh.toLong, dec.sum / n,
            math.sqrt(dec.map(v => v * v).sum / n))
        })
        .toDF("doc_id", "w", "h", "mean_lum", "rms_lum")
        .select(col("doc_id"), col("w"), col("h"),
          round(col("mean_lum"), 6).as("mean_lum"),
          round(col("rms_lum"), 6).as("rms_lum"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 24 + 5 AS w,
        doc_id % 19 + 5 AS h FROM documents),
      g AS (SELECT d.doc_id, d.w, d.h,
              CAST((xx.x * 2654435761 + yy.y * 40503 + d.doc_id) % 256
                AS DOUBLE) / 255.0 AS v
            FROM d, UNNEST(generate_series(0, d.h - 1)) AS yy(y),
                 UNNEST(generate_series(0, d.w - 1)) AS xx(x))
      SELECT doc_id, w, h, ROUND(AVG(v), 6) AS mean_lum,
        ROUND(SQRT(AVG(v * v)), 6) AS rms_lum
      FROM g GROUP BY 1, 2, 3"""))

  /** q117: FLAC round-trip under the hash gate. Doc d carries a sawtooth
    * of period (d mod 50 + 150) — piecewise-linear, so the encoder's cost
    * search picks a FIXED predictor and the gate runs the Rice residual
    * entropy decode, not just VERBATIM. FLAC is lossless: the decoded
    * samples are bit-equal and the DuckDB oracle states them in closed
    * form. */
  private val q117 = NamedQuery(
    "q117_flac_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 400 + 100).as("ns"),
          (col("doc_id") % 50 + 150).as("p"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, p) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            ((t % p.toInt) * 20 - 2000))
          val payload = graft.multimodal.Flac.encode(8000, Array(samples))
          val f = Multimodal.features(payload)
          (id, f(0), f(1), f(2), f(3))
        })
        .toDF("doc_id", "duration", "rms", "peak", "zcr")
        .select(col("doc_id"), round(col("duration"), 6).as("duration"),
          round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"),
          round(col("zcr"), 6).as("zcr"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 400 + 100 AS ns,
        doc_id % 50 + 150 AS p FROM documents),
      s AS (SELECT d.doc_id, d.ns, tt.t,
              CAST((tt.t % d.p) * 20 - 2000 AS DOUBLE) / 32768.0 AS v
            FROM d, UNNEST(generate_series(0, d.ns - 1)) AS tt(t)),
      a AS (SELECT doc_id, ns, t, v,
              CASE WHEN LAG(v) OVER w IS NOT NULL
                    AND (v >= 0) <> (LAG(v) OVER w >= 0) THEN 1 ELSE 0 END AS flip
            FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY t))
      SELECT doc_id, ROUND(CAST(ns AS DOUBLE) / 8000.0, 6) AS duration,
        ROUND(SQRT(AVG(v * v)), 6) AS rms,
        ROUND(MAX(ABS(v)), 6) AS peak,
        ROUND(CAST(SUM(flip) AS DOUBLE) / ns, 6) AS zcr
      FROM a GROUP BY doc_id, ns"""))

  /** q120: MPEG-1 Layer I round-trip under the hash gate. Layer I is
    * LOSSY (and the filterbank windows are derived, ~51 dB — Mp3Windows),
    * so unlike q117's bit-exact FLAC gate the certified columns are the
    * exact stream facts (delay-padded frame grid) plus an SNR-floor
    * boolean with a >10 dB margin: a broken header walk, allocation
    * parse, requantizer or filterbank flips the boolean and the hash.
    * Doc d carries a 0.4-amplitude tone at (d mod 200 + 200) Hz. */
  private val q120 = NamedQuery(
    "q120_mp3_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 1500 + 600).as("ns"),
          (col("doc_id") % 200 + 200).as("freq"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, freq) =>
          val rate = 32000
          val n = ns.toInt
          val tone = Array.tabulate(n)(t =>
            (0.4 * 32768.0 * math.sin(2 * math.Pi * freq * t / rate)).toInt)
          val payload = graft.multimodal.Mp3.encode(rate, Array(tone))
          val dec = graft.multimodal.Mp3.decode(payload)
          val nFrames = (ns + 481 + 383) / 384
          val okShape = dec.exists(x => x.sampleRate == rate &&
            x.channels == 1 && x.samples(0).length == nFrames * 384)
          val snrOk = dec.exists { x =>
            val out = x.samples(0)
            var sig = 0.0; var err = 0.0
            var i = 0
            while (i < n - 32) {
              val want = tone(i) / 32768.0
              val got = out(481 + i) / 32768.0
              sig += want * want; err += (got - want) * (got - want)
              i += 1
            }
            sig > 0 && 10.0 * math.log10(sig / math.max(err, 1e-300)) > 40.0
          }
          (id, nFrames * 384, okShape && snrOk)
        })
        .toDF("doc_id", "n_samples", "roundtrip_ok")
    },
    Some("""SELECT doc_id,
        CAST(((n_chars % 1500 + 600) + 481 + 383) // 384 * 384 AS BIGINT) AS n_samples,
        TRUE AS roundtrip_ok
      FROM documents"""))

  /** q126: MPEG-1 Layer II round-trip under the hash gate — q120's shape
    * (exact stream facts + SNR-floor boolean with >10 dB margin) over the
    * Layer II codec: 1152-sample frames, variable-width allocation codes,
    * scfsi-compressed scalefactors, GROUPED 3/5/9-level granule codes. A
    * broken grammar walk, grouped digit order, derived C/D requantizer or
    * filterbank flips the boolean and the hash. */
  private val q126 = NamedQuery(
    "q126_mp2_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 4000 + 1800).as("ns"),
          (col("doc_id") % 200 + 200).as("freq"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, freq) =>
          val rate = 32000
          val n = ns.toInt
          val tone = Array.tabulate(n)(t =>
            (0.4 * 32768.0 * math.sin(2 * math.Pi * freq * t / rate)).toInt)
          val payload = graft.multimodal.Mp2.encode(rate, Array(tone))
          val dec = graft.multimodal.Mp2.decode(payload)
          val nFrames = (ns + 481 + 1151) / 1152
          val okShape = dec.exists(x => x.sampleRate == rate &&
            x.channels == 1 && x.samples(0).length == nFrames * 1152)
          val snrOk = dec.exists { x =>
            val out = x.samples(0)
            var sig = 0.0; var err = 0.0
            var i = 0
            while (i < n - 32) {
              val want = tone(i) / 32768.0
              val got = out(481 + i) / 32768.0
              sig += want * want; err += (got - want) * (got - want)
              i += 1
            }
            sig > 0 && 10.0 * math.log10(sig / math.max(err, 1e-300)) > 40.0
          }
          (id, nFrames * 1152, okShape && snrOk)
        })
        .toDF("doc_id", "n_samples", "roundtrip_ok")
    },
    Some("""SELECT doc_id,
        CAST(((n_chars % 4000 + 1800) + 481 + 1151) // 1152 * 1152 AS BIGINT) AS n_samples,
        TRUE AS roundtrip_ok
      FROM documents"""))

  /** q146: MPEG-1 Layer III round-trip under the hash gate — q120/q126's
    * shape over the full hybrid-filterbank codec: polyphase analysis +
    * per-subband 36-point MDCT, aliasing-reduction butterflies,
    * nonuniform ix^(4/3) requantization, per-band scalefactors, the
    * big_values/count1/rzero spectrum partitioning and linbits escapes
    * (derived Huffman code tables — Mp3L3's documented deviation). A
    * broken side-info walk, scalefactor map, entropy path, requantizer,
    * butterfly, IMDCT or window flips the boolean and the hash. Gate is
    * 25 dB — measured over a stride-sampled lattice of the registered
    * (ns, freq) parameter grid (ns by 107, freq by 23 — 135 points, not
    * every pair the query can generate): min 36.5 dB, median 42 dB (an
    * 11.5 dB margin, matching the q120/q126 practice). Mp3L3Spec's tone
    * test re-measures the lattice and holds its minimum at ≥ 35 dB. */
  private val q146 = NamedQuery(
    "q146_mp3_layer3_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 1500 + 600).as("ns"),
          (col("doc_id") % 200 + 200).as("freq"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, freq) =>
          val rate = 32000
          val n = ns.toInt
          val tone = Array.tabulate(n)(t =>
            (0.4 * 32768.0 * math.sin(2 * math.Pi * freq * t / rate)).toInt)
          val payload = graft.multimodal.Mp3L3.encode(rate, Array(tone))
          val dec = graft.multimodal.Mp3L3.decode(payload)
          val nFrames = (ns + 1057 + 1151) / 1152
          val okShape = dec.exists(x => x.sampleRate == rate &&
            x.channels == 1 && x.samples(0).length == nFrames * 1152)
          val snrOk = dec.exists { x =>
            val out = x.samples(0)
            var sig = 0.0; var err = 0.0
            var i = 0
            while (i < n - 32) {
              val want = tone(i) / 32768.0
              val got = out(1057 + i) / 32768.0
              sig += want * want; err += (got - want) * (got - want)
              i += 1
            }
            sig > 0 && 10.0 * math.log10(sig / math.max(err, 1e-300)) > 25.0
          }
          (id, nFrames * 1152, okShape && snrOk)
        })
        .toDF("doc_id", "n_samples", "roundtrip_ok")
    },
    Some("""SELECT doc_id,
        CAST(((n_chars % 1500 + 600) + 1057 + 1151) // 1152 * 1152 AS BIGINT) AS n_samples,
        TRUE AS roundtrip_ok
      FROM documents"""))

  /** q147: H.264 I_PCM round-trip under the hash gate — the VIDEO frame
    * decode surface (Annex B NAL walk, Exp-Golomb SPS/PPS/slice-header
    * grammar, macroblock layer, frame cropping), certified at the
    * strongest gate in the codec family: I_PCM is lossless, so the
    * boolean is BIT-EXACT recovery of every luma and chroma sample.
    * Dimensions sweep non-multiples of 16 to exercise cropping. CAVLC
    * transform-coded macroblocks remain the documented descope (H264
    * scaladoc). */
  private val q147 = NamedQuery(
    "q147_h264_ipcm_decode",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val w = 34 + 2 * (id % 16).toInt
          val h = 18 + 2 * (id % 12).toInt
          def plane(pw: Int, ph: Int, f: (Int, Int) => Int) =
            Array.tabulate(pw * ph)(i => f(i % pw, i / pw).toByte)
          val l = plane(w, h, (x, y) => (3 * x + 5 * y + id.toInt) % 256)
          val cb = plane(w / 2, h / 2, (x, y) => (7 * x + y + id.toInt) % 256)
          val cr = plane(w / 2, h / 2, (x, y) => (x + 11 * y) % 256)
          val bytes = graft.multimodal.H264.encodeIFrame(w, h, l, cb, cr)
          val dec = graft.multimodal.H264.decodeIFrame(bytes)
          val nMbs = ((w + 15) / 16) * ((h + 15) / 16)
          val ok = dec.exists(f => f.width == w && f.height == h &&
            f.luma.sameElements(l) && f.cb.sameElements(cb) &&
            f.cr.sameElements(cr))
          (id, w.toLong, h.toLong, nMbs.toLong, ok)
        })
        .toDF("doc_id", "width", "height", "n_mbs", "lossless")
    },
    Some("""SELECT doc_id,
        CAST(34 + 2 * (doc_id % 16) AS BIGINT) AS width,
        CAST(18 + 2 * (doc_id % 12) AS BIGINT) AS height,
        CAST(((34 + 2 * (doc_id % 16) + 15) // 16) *
             ((18 + 2 * (doc_id % 12) + 15) // 16) AS BIGINT) AS n_mbs,
        TRUE AS lossless
      FROM documents"""))

  /** q144: ISO-BMFF (MP4) container-metadata extraction — the pre-decode
    * routing surface of a multimodal corpus: build a valid ftyp+moov+mdat
    * file per row (video avc1 + audio mp4a track), walk the box tree
    * back, and hash-gate every extracted field (brand, duration, per-
    * track codec/dimensions/sample counts, mdat payload size) against
    * the closed-form oracle. The media payload is opaque by design —
    * frame decode is the documented stub; the metadata is what a 100 TB
    * pipeline filters/samples/routes on before any decode happens. */
  private val q144 = NamedQuery(
    "q144_video_meta",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 1000 + 100).as("dur"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, dur) =>
          val w = 320 + 16 * (id % 4).toInt
          val h = 240 + 16 * (id % 4).toInt
          val bytes = graft.multimodal.Mp4.write(1000, dur, Seq(
            graft.multimodal.Mp4.TrackSpec("vide", "avc1", w, h,
              1000, dur, id % 10 + 1),
            graft.multimodal.Mp4.TrackSpec("soun", "mp4a", 0, 0,
              8000, dur * 8, id % 5 + 1)),
            Array.fill((id % 7 + 1).toInt)(0x5a.toByte))
          val m = graft.multimodal.Mp4.parseMeta(bytes).get
          val v = m.videoTracks.head; val a = m.audioTracks.head
          (id, m.brand, m.durationMs, m.tracks.length.toLong,
            v.codec, v.width.toLong, v.height.toLong, v.sampleCount,
            a.codec, a.timescale, a.sampleCount, m.mdatBytes)
        })
        .toDF("doc_id", "brand", "duration_ms", "n_tracks", "video_codec",
          "width", "height", "v_samples", "audio_codec", "a_timescale",
          "a_samples", "mdat_bytes")
    },
    Some("""SELECT doc_id, 'isom' AS brand,
        CAST(n_chars % 1000 + 100 AS BIGINT) AS duration_ms,
        CAST(2 AS BIGINT) AS n_tracks,
        'avc1' AS video_codec,
        CAST(320 + 16 * (doc_id % 4) AS BIGINT) AS width,
        CAST(240 + 16 * (doc_id % 4) AS BIGINT) AS height,
        CAST(doc_id % 10 + 1 AS BIGINT) AS v_samples,
        'mp4a' AS audio_codec,
        CAST(8000 AS BIGINT) AS a_timescale,
        CAST(doc_id % 5 + 1 AS BIGINT) AS a_samples,
        CAST(doc_id % 7 + 1 AS BIGINT) AS mdat_bytes
      FROM documents"""))

  /** q150: END-TO-END video frame decode under the hash gate — the full
    * multimodal video path composed from real parts: per row an MJPEG
    * MP4 is built (one complete JPEG per sample, real stsz/stsc/stco
    * sample tables via Mp4.writeWithSamples), then
    * [[Multimodal.videoFrames]] walks the container back, locates each
    * sample WITHOUT reading media bytes around it, and decodes every
    * frame through the production JPEG codec. Frames are 16×16 DC-only
    * mosaics, so the decode is exact and the per-frame mean luminance
    * has a closed form the oracle mirrors. A broken sample table,
    * chunk-offset layout, frame slice or JPEG path flips rows or
    * values and the hash. */
  private val q150 = NamedQuery(
    "q150_video_frames",
    (s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 5 + 2).as("nf"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, nfL) =>
          val nf = nfL.toInt
          val frames = (0 until nf).map { f =>
            val px = Array.tabulate(16 * 16) { i =>
              val bx = (i % 16) / 8; val by = (i / 16) / 8
              ((bx * 7 + by * 13 + f * 17 + id) % 256).toDouble / 255.0
            }
            graft.multimodal.Jpeg.encodeGray(16, 16, px)
          }
          val payload = graft.multimodal.Mp4.writeWithSamples(1000,
            nf * 40L, Seq((graft.multimodal.Mp4.TrackSpec("vide", "mjpa",
              16, 16, 1000, nf * 40L, nf.toLong), frames)))
          graft.multimodal.Multimodal.MediaRow(id, "video", payload,
            16, 16, 1)
        }).toDF()
      graft.multimodal.Multimodal.videoFrames(media)
        .toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_lum"), 6).as("mean_lum"))
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 5 + 2 AS nf FROM documents),
      f AS (SELECT d.doc_id, ff.f FROM d,
              UNNEST(generate_series(0, d.nf - 1)) AS ff(f)),
      b AS (SELECT doc_id, f,
              CAST((bx.x * 7 + by.y * 13 + f * 17 + doc_id) % 256
                AS DOUBLE) / 255.0 AS v
            FROM f, UNNEST([0, 1]) AS bx(x), UNNEST([0, 1]) AS by(y))
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        ROUND(AVG(v), 6) AS mean_lum
      FROM b GROUP BY doc_id, f"""))

  /** q151: H.264 carried IN MP4 the real-world way (ISO 14496-15):
    * parameter sets live in the sample entry's `avcC` configuration
    * record, samples are 4-byte length-prefixed NALs — no Annex B start
    * codes inside the container. Per row, nf I_PCM frames are packed
    * via H264.toAvcc + Mp4.writeWithSamples(avcC config box), then
    * decoded back through the full container path (parseMeta →
    * sampleTable → codecConfig → decodeAvccSample) and compared
    * BIT-EXACTLY (I_PCM is lossless) — a broken config record, length
    * prefix, sample table or escape/unescape round trip flips the
    * boolean and the hash. */
  private val q151 = NamedQuery(
    "q151_h264_in_mp4",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          import graft.multimodal.{H264, Mp4}
          val w = 34 + 2 * (id % 16).toInt
          val h = 18 + 2 * (id % 12).toInt
          val nf = (id % 3 + 1).toInt
          def plane(pw: Int, ph: Int, f: (Int, Int) => Int) =
            Array.tabulate(pw * ph)(i => f(i % pw, i / pw).toByte)
          val frames = (0 until nf).map { f =>
            val l = plane(w, h,
              (x, y) => ((3 * x + 5 * y + id + 29 * f) % 256).toInt)
            val cb = plane(w / 2, h / 2,
              (x, y) => ((7 * x + y + f) % 256).toInt)
            val cr = plane(w / 2, h / 2,
              (x, y) => ((x + 11 * y + 3 * f) % 256).toInt)
            (l, cb, cr)
          }
          val pairs = frames.map { case (l, cb, cr) =>
            H264.toAvcc(H264.encodeIFrame(w, h, l, cb, cr))
          }
          val payload = Mp4.writeWithSamples(1000, nf * 40L, Seq(
            (Mp4.TrackSpec("vide", "avc1", w, h, 1000, nf * 40L,
              nf.toLong), pairs.map(_._2))),
            Map(0 -> ("avcC", pairs.head._1)))
          val meta = Mp4.parseMeta(payload).get
          val cfg = Mp4.codecConfig(payload, 0, "avcC").get
          val table = Mp4.sampleTable(payload, 0).get
          val ok = meta.videoTracks.head.codec == "avc1" &&
            table.size == nf &&
            table.zipWithIndex.forall { case ((off, len), f) =>
              H264.decodeAvccSample(cfg,
                payload.slice(off.toInt, off.toInt + len)).exists { fr =>
                fr.width == w && fr.height == h &&
                  fr.luma.sameElements(frames(f)._1) &&
                  fr.cb.sameElements(frames(f)._2) &&
                  fr.cr.sameElements(frames(f)._3)
              }
            }
          (id, w.toLong, h.toLong, nf.toLong, ok)
        })
        .toDF("doc_id", "width", "height", "n_frames", "lossless")
    },
    Some("""SELECT doc_id,
        CAST(34 + 2 * (doc_id % 16) AS BIGINT) AS width,
        CAST(18 + 2 * (doc_id % 12) AS BIGINT) AS height,
        CAST(doc_id % 3 + 1 AS BIGINT) AS n_frames,
        TRUE AS lossless
      FROM documents"""))

  /** q152: MPEG-1 audio carried IN MP4 under the hash gate — the audio
    * twin of q150/q151: per row a Layer II elementary stream is encoded
    * (q126's codec), split into its exact frame grid by header
    * arithmetic ([[graft.multimodal.MpegAudio.splitFrames]] — the grid
    * must tile the stream EXACTLY), and written as one MP4 sample per
    * frame with real stss (every 3rd frame sync) and ctts (constant
    * +1152 composition offset) sidecars. The certified boolean then
    * walks everything back through the container: `audioSamples`
    * re-reads each frame byte-for-byte, `syncSamples` round-trips the
    * stss table, `sampleTimes` reproduces the stts decode grid and the
    * ctts presentation offsets, and the PRODUCTION audio dispatch
    * ([[graft.multimodal.Multimodal.decodeAudio]] — the Multimodal MP4
    * carriage branch) decodes the whole file to PCM at >30 dB SNR
    * (q126 measures >40 dB on this codec; 10 dB margin). A broken
    * sample table, timing box, frame grid or dispatch flips the
    * boolean (or the closed-form counts) and the hash. */
  private val q152 = NamedQuery(
    "q152_audio_in_mp4",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 3000 + 1800).as("ns"),
          (col("doc_id") % 150 + 200).as("freq"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, nsL, freq) =>
          import graft.multimodal.{Mp2, Mp4, MpegAudio, Multimodal}
          val rate = 32000
          val n = nsL.toInt
          val tone = Array.tabulate(n)(t =>
            (0.4 * 32768.0 * math.sin(2 * math.Pi * freq * t / rate)).toInt)
          val stream = Mp2.encode(rate, Array(tone))
          val nf = ((n + 481 + 1151) / 1152)
          val frames = MpegAudio.splitFrames(stream)
          val gridOk = frames.exists(fs => fs.length == nf &&
            fs.toArray.flatten.sameElements(stream))
          val fseq = frames.getOrElse(Seq.empty)
          val sync = (1L to nf.toLong by 3).toSeq
          val payload = Mp4.writeWithSamples(rate.toLong, nf * 1152L,
            Seq((Mp4.TrackSpec("soun", "mp4a", 0, 0, rate.toLong,
              nf * 1152L, nf.toLong), fseq)),
            syncs = Map(0 -> sync),
            cttsRuns = Map(0 -> Seq((nf.toLong, 1152L))))
          val samplesOk = Mp4.audioSamples(payload).exists(ss =>
            ss.length == nf && ss.zip(fseq).forall { case (a, b) =>
              a.sameElements(b) })
          val stssOk = Mp4.syncSamples(payload, 0).contains(sync)
          val wantTimes = (0 until nf).map(i => (1152L * i, 1152L * i + 1152L))
          val timesOk = Mp4.sampleTimes(payload, 0).contains(wantTimes)
          val snrOk = Multimodal.decodeAudio(payload).exists {
            case (r, mono) =>
              var sig = 0.0; var err = 0.0
              var i = 0
              while (i < n - 32) {
                val want = tone(i) / 32768.0
                val got = mono(481 + i)
                sig += want * want; err += (got - want) * (got - want)
                i += 1
              }
              r == rate && mono.length == nf * 1152 && sig > 0 &&
                10.0 * math.log10(sig / math.max(err, 1e-300)) > 30.0
          }
          (id, nf.toLong, sync.length.toLong,
            gridOk && samplesOk && stssOk && timesOk && snrOk)
        })
        .toDF("doc_id", "n_frames", "n_sync", "carriage_ok")
    },
    Some("""SELECT doc_id,
        CAST(((n_chars % 3000 + 1800) + 481 + 1151) // 1152 AS BIGINT) AS n_frames,
        CAST((((n_chars % 3000 + 1800) + 481 + 1151) // 1152 + 2) // 3 AS BIGINT) AS n_sync,
        TRUE AS carriage_ok
      FROM documents"""))

  /** q153: frequency-domain audio features under the hash gate — the
    * spectral twin of q105's time-domain features. Doc d carries a
    * 0.5-amplitude sine at (d mod 20 + 1) cycles per 64 samples,
    * PCM16-quantized through a real WAV round-trip (encode → production
    * [[graft.multimodal.Multimodal.decodeAudio]] dispatch), then
    * [[graft.multimodal.Multimodal.bandEnergies]] measures the 20 DFT
    * bins 2k' (k' = 1..20) over the first 128 samples — k cycles/64 is
    * exactly bin 2k at n = 128, so the dominant band is k by
    * construction (coherent, zero leakage up to quantization noise),
    * off-band energy is pure quantizer noise (~1e-9, rounds to 0), and
    * the tonality flag has ~7 orders of magnitude of margin. The oracle
    * evaluates the IDENTICAL straight-line sums (SUM(v·COS), SUM(v·SIN)
    * per bin) on the closed-form quantized signal — a wrong window,
    * bin map, normalization, or decode breaks the hash. */
  private val q153 = NamedQuery(
    "q153_spectral_bands",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 300 + 200).as("ns"),
          (col("doc_id") % 20 + 1).as("k"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, k) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            0.5 * math.sin(2 * math.Pi * k * t / 64.0))
          val payload = Codecs.encodeWav(8000, samples)
          val (_, mono) = Multimodal.decodeAudio(payload).get
          val bins = Array.tabulate(20)(i => 2 * (i + 1))
          val e = Multimodal.bandEnergies(mono, 128, bins)
          var dom = 0
          var i = 1
          while (i < e.length) { if (e(i) > e(dom)) dom = i; i += 1 }
          (id, (dom + 1).toLong, e(dom), e.sum - e(dom))
        })
        .toDF("doc_id", "dom_band", "e_dom_raw", "e_off_raw")
        .select(col("doc_id"), col("dom_band"),
          round(col("e_dom_raw"), 6).as("e_dom"),
          round(col("e_off_raw"), 6).as("e_off"),
          (col("e_dom_raw") > lit(1000.0) * col("e_off_raw")).as("tonal"))
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 20 + 1 AS k FROM documents),
      s AS (SELECT d.doc_id, d.k, tt.t,
              FLOOR(0.5 * SIN(2 * pi() * d.k * tt.t / 64.0) * 32767 + 0.5)
                / 32768.0 AS v
            FROM d, UNNEST(generate_series(0, 127)) AS tt(t)),
      e AS (SELECT s.doc_id, s.k, bb.b,
              (POWER(SUM(s.v * COS(2 * pi() * (2 * bb.b) * s.t / 128.0)), 2)
             + POWER(SUM(s.v * SIN(2 * pi() * (2 * bb.b) * s.t / 128.0)), 2))
                / 16384.0 AS en
            FROM s, UNNEST(generate_series(1, 20)) AS bb(b)
            GROUP BY s.doc_id, s.k, bb.b),
      a AS (SELECT doc_id, ARG_MAX(b, en) AS dom_band, MAX(en) AS e_dom_raw,
              SUM(en) - MAX(en) AS e_off_raw
            FROM e GROUP BY doc_id)
      SELECT doc_id, CAST(dom_band AS BIGINT) AS dom_band,
        ROUND(e_dom_raw, 6) AS e_dom, ROUND(e_off_raw, 6) AS e_off,
        e_dom_raw > 1000.0 * e_off_raw AS tonal
      FROM a"""))

  /** q154: sample-rate conversion under the hash gate. The q105 signal
    * rides the same real WAV round-trip, then
    * [[graft.multimodal.Multimodal.resampleLinear]] converts 8000 →
    * 6000 Hz (ratio 3/4: output i reads source position 4i/3, so j and
    * the interpolation fraction are exact rationals both engines
    * compute identically) and the features of the RESAMPLED signal are
    * summarized. The oracle rebuilds the quantized source in closed
    * form and evaluates the identical lerp `v_j + (v_{j+1} − v_j)·frac`
    * per output sample — a wrong output-length formula, source-position
    * map, or interpolation breaks the hash. */
  private val q154 = NamedQuery(
    "q154_audio_resample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 400 + 50).as("ns"),
          (col("doc_id") % 20 + 1).as("k"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, k) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            0.5 * math.sin(2 * math.Pi * k * t / 64.0))
          val payload = Codecs.encodeWav(8000, samples)
          val (_, mono) = Multimodal.decodeAudio(payload).get
          val out = Multimodal.resampleLinear(mono, 8000, 6000)
          val n = out.length
          (id, n.toLong, math.sqrt(out.map(v => v * v).sum / n),
            out.map(math.abs).max)
        })
        .toDF("doc_id", "n_out", "rms_raw", "peak_raw")
        .select(col("doc_id"), col("n_out"),
          round(col("rms_raw"), 6).as("rms"),
          round(col("peak_raw"), 6).as("peak"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 400 + 50 AS ns,
        doc_id % 20 + 1 AS k FROM documents),
      o AS (SELECT d.doc_id, d.ns, d.k, tt.i,
              CAST(tt.i * 8000 // 6000 AS BIGINT) AS j,
              (tt.i * 8000 % 6000) / 6000.0 AS frac
            FROM d, UNNEST(generate_series(0,
              CAST(d.ns * 6000 // 8000 AS BIGINT) - 1)) AS tt(i)),
      v AS (SELECT o.doc_id, o.ns, o.i,
              FLOOR(0.5 * SIN(2 * pi() * o.k * o.j / 64.0) * 32767 + 0.5)
                / 32768.0 AS vj,
              FLOOR(0.5 * SIN(2 * pi() * o.k
                  * LEAST(o.j + 1, o.ns - 1) / 64.0) * 32767 + 0.5)
                / 32768.0 AS vj1,
              o.frac
            FROM o),
      r AS (SELECT doc_id, i, vj + (vj1 - vj) * frac AS s FROM v)
      SELECT doc_id, COUNT(*) AS n_out,
        ROUND(SQRT(AVG(s * s)), 6) AS rms,
        ROUND(MAX(ABS(s)), 6) AS peak
      FROM r GROUP BY doc_id"""))

  /** q155: center crop under the hash gate — the q104 PGM image rides
    * the real encode → decode dispatch, then
    * [[graft.multimodal.Multimodal.centerCrop]] takes the centered
    * (w/2+1)×(h/2+1) window (offsets ⌊(dim−crop)/2⌋). The q104 pixel
    * pattern ((x + y + d) mod 256)/255 is integer-exact through the
    * 8-bit round trip, so beyond the rounded mean the gate carries an
    * EXACT integer checksum (Σ of the cropped 8-bit values) the oracle
    * reproduces in closed form from the crop offsets — any off-by-one
    * in offset, window, or row stride shifts the checksum. */
  private val q155 = NamedQuery(
    "q155_center_crop",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 16 + 4).as("w"),
          (col("n_chars") % 12 + 4).as("h"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, wl, hl) =>
          val w = wl.toInt; val h = hl.toInt
          val px = Array.tabulate(w * h) { i =>
            (((i % w) + (i / w) + id) % 256).toDouble / 255.0
          }
          val payload = Codecs.encodePgm(w, h, px)
          val (dw, dh, dec) = Multimodal.decodeImage(payload, 0, 0)
          val (cw, ch, crop) =
            Multimodal.centerCrop(dec, dw, dh, dw / 2 + 1, dh / 2 + 1)
          (id, cw.toLong, ch.toLong, crop.sum / crop.length,
            crop.map(v => math.round(v * 255)).sum)
        })
        .toDF("doc_id", "cw", "ch", "mean_raw", "checksum")
        .select(col("doc_id"), col("cw"), col("ch"),
          round(col("mean_raw"), 6).as("mean_lum"), col("checksum"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 16 + 4 AS w,
        n_chars % 12 + 4 AS h FROM documents),
      c AS (SELECT doc_id, w, h, w // 2 + 1 AS cw, h // 2 + 1 AS ch,
              (w - (w // 2 + 1)) // 2 AS ox,
              (h - (h // 2 + 1)) // 2 AS oy
            FROM d),
      p AS (SELECT c.doc_id, c.cw, c.ch,
              ((xx.x + c.ox) + (yy.y + c.oy) + c.doc_id) % 256 AS pv
            FROM c, UNNEST(generate_series(0, c.cw - 1)) AS xx(x),
                    UNNEST(generate_series(0, c.ch - 1)) AS yy(y))
      SELECT doc_id, CAST(cw AS BIGINT) AS cw, CAST(ch AS BIGINT) AS ch,
        ROUND(AVG(pv / 255.0), 6) AS mean_lum,
        CAST(SUM(pv) AS BIGINT) AS checksum
      FROM p GROUP BY doc_id, cw, ch"""))

  /** q156: letterbox pad under the hash gate — the q104 PGM image rides
    * the real encode → decode dispatch, then
    * [[graft.multimodal.Multimodal.letterbox]] centers it on a
    * (w + d mod 4 + 1)×(h + 3) canvas of white (fill 1.0 = 8-bit 255).
    * The gate carries TWO exact integer sums over the canvas's 8-bit
    * values: the plain checksum (sensitive to fill and canvas area) and
    * a position-weighted checksum Σ (x + tw·y)·v (sensitive to WHERE
    * the image landed — a one-pixel placement error shifts it). The
    * oracle walks the full canvas in closed form with the interior/pad
    * CASE split. */
  private val q156 = NamedQuery(
    "q156_letterbox_pad",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 16 + 4).as("w"),
          (col("n_chars") % 12 + 4).as("h"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, wl, hl) =>
          val w = wl.toInt; val h = hl.toInt
          val px = Array.tabulate(w * h) { i =>
            (((i % w) + (i / w) + id) % 256).toDouble / 255.0
          }
          val payload = Codecs.encodePgm(w, h, px)
          val (dw, dh, dec) = Multimodal.decodeImage(payload, 0, 0)
          val (tw, th, out) = Multimodal.letterbox(dec, dw, dh,
            dw + (id % 4).toInt + 1, dh + 3, 1.0)
          var sum = 0L
          var pos = 0L
          var i = 0
          while (i < out.length) {
            val v = math.round(out(i) * 255)
            sum += v
            pos += ((i % tw) + tw.toLong * (i / tw)) * v
            i += 1
          }
          (id, tw.toLong, th.toLong, sum, pos)
        })
        .toDF("doc_id", "tw", "th", "checksum", "pos_checksum")
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 16 + 4 AS w,
        n_chars % 12 + 4 AS h FROM documents),
      c AS (SELECT doc_id, w, h, w + doc_id % 4 + 1 AS tw, h + 3 AS th
            FROM d),
      g AS (SELECT c.*, (c.tw - c.w) // 2 AS ox, (c.th - c.h) // 2 AS oy
            FROM c),
      p AS (SELECT g.doc_id, g.tw, g.th, xx.x, yy.y,
              CASE WHEN xx.x >= g.ox AND xx.x < g.ox + g.w
                    AND yy.y >= g.oy AND yy.y < g.oy + g.h
                THEN ((xx.x - g.ox) + (yy.y - g.oy) + g.doc_id) % 256
                ELSE 255 END AS pv
            FROM g, UNNEST(generate_series(0, g.tw - 1)) AS xx(x),
                    UNNEST(generate_series(0, g.th - 1)) AS yy(y))
      SELECT doc_id, CAST(tw AS BIGINT) AS tw, CAST(th AS BIGINT) AS th,
        CAST(SUM(pv) AS BIGINT) AS checksum,
        CAST(SUM((x + tw * y) * pv) AS BIGINT) AS pos_checksum
      FROM p GROUP BY doc_id, tw, th"""))

  /** q157: KEYFRAME-ONLY video sampling under the hash gate — the
    * composed decodable-subset path q150 and q152 gate only piecewise
    * (q150 strides raw sample indices; q152 round-trips the stss table
    * without decoding through it). Per row an MJPEG MP4 is written with
    * a REAL stss sidecar declaring every 3rd sample a sync sample, then
    * [[graft.multimodal.Multimodal.videoFrames]] runs with
    * `keyframesOnly = true, stride = 2`: sampling restricts to the sync
    * set AND the stride counts KEYFRAMES (kept = sync frames 0, 6, …),
    * while `frame_idx` stays the ORIGINAL sample index. The oracle keeps
    * exactly the frames with f % 6 = 0 (sync ∧ even keyframe ordinal)
    * and mirrors q150's closed-form per-frame luminance — a sampler that
    * strides raw indices, ignores stss, or renumbers frames flips rows
    * or values and the hash. */
  private val q157 = NamedQuery(
    "q157_keyframe_sampling",
    (s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 5 + 3).as("nf"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, nfL) =>
          val nf = nfL.toInt
          val frames = (0 until nf).map { f =>
            val px = Array.tabulate(16 * 16) { i =>
              val bx = (i % 16) / 8; val by = (i / 16) / 8
              ((bx * 7 + by * 13 + f * 17 + id) % 256).toDouble / 255.0
            }
            graft.multimodal.Jpeg.encodeGray(16, 16, px)
          }
          val sync = (1L to nf.toLong by 3) // 1-based: samples 0,3,6 sync
          val payload = graft.multimodal.Mp4.writeWithSamples(1000,
            nf * 40L, Seq((graft.multimodal.Mp4.TrackSpec("vide", "mjpa",
              16, 16, 1000, nf * 40L, nf.toLong), frames)),
            syncs = Map(0 -> sync))
          graft.multimodal.Multimodal.MediaRow(id, "video", payload,
            16, 16, 1)
        }).toDF()
      graft.multimodal.Multimodal
        .videoFrames(media, stride = 2, keyframesOnly = true)
        .toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_lum"), 6).as("mean_lum"))
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 5 + 3 AS nf FROM documents),
      f AS (SELECT d.doc_id, ff.f FROM d,
              UNNEST(generate_series(0, d.nf - 1)) AS ff(f)
            WHERE ff.f % 6 = 0),
      b AS (SELECT doc_id, f,
              CAST((bx.x * 7 + by.y * 13 + f * 17 + doc_id) % 256
                AS DOUBLE) / 255.0 AS v
            FROM f, UNNEST([0, 1]) AS bx(x), UNNEST([0, 1]) AS by(y))
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        ROUND(AVG(v), 6) AS mean_lum
      FROM b GROUP BY doc_id, f"""))

  /** q158: the COMPOSED vision-preprocessing funnel under one hash —
    * q122's curation-funnel pattern for the pixel triad: real PGM decode
    * → [[graft.multimodal.Multimodal.centerCrop]] to (w/2+1)×(h/2+1) →
    * [[graft.multimodal.Multimodal.letterbox]] onto the FIXED 12×10
    * white canvas every training batch wants (max crop is 10×8, so the
    * canvas always contains the crop). q155/q156 gate the stages
    * piecewise; this gates their composition — both exact integer
    * checksums (plain + position-weighted) shift if either stage's
    * offsets, window, or stride is off by one RELATIVE to the other.
    * The oracle walks the canvas in closed form with the pad/interior
    * CASE split composed through both offset maps. */
  private val q158 = NamedQuery(
    "q158_vision_funnel",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 16 + 4).as("w"),
          (col("n_chars") % 12 + 4).as("h"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, wl, hl) =>
          val w = wl.toInt; val h = hl.toInt
          val px = Array.tabulate(w * h) { i =>
            (((i % w) + (i / w) + id) % 256).toDouble / 255.0
          }
          val payload = Codecs.encodePgm(w, h, px)
          val (dw, dh, dec) = Multimodal.decodeImage(payload, 0, 0)
          val (cw, ch, crop) =
            Multimodal.centerCrop(dec, dw, dh, dw / 2 + 1, dh / 2 + 1)
          val (tw, th, out) = Multimodal.letterbox(crop, cw, ch, 12, 10, 1.0)
          var sum = 0L
          var pos = 0L
          var i = 0
          while (i < out.length) {
            val v = math.round(out(i) * 255)
            sum += v
            pos += ((i % tw) + tw.toLong * (i / tw)) * v
            i += 1
          }
          (id, cw.toLong, ch.toLong, sum, pos)
        })
        .toDF("doc_id", "cw", "ch", "checksum", "pos_checksum")
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 16 + 4 AS w,
        n_chars % 12 + 4 AS h FROM documents),
      c AS (SELECT doc_id, w, h, w // 2 + 1 AS cw, h // 2 + 1 AS ch,
              (w - (w // 2 + 1)) // 2 AS ox1,
              (h - (h // 2 + 1)) // 2 AS oy1
            FROM d),
      g AS (SELECT c.*, (12 - c.cw) // 2 AS ox2, (10 - c.ch) // 2 AS oy2
            FROM c),
      p AS (SELECT g.doc_id, g.cw, g.ch, xx.x, yy.y,
              CASE WHEN xx.x >= g.ox2 AND xx.x < g.ox2 + g.cw
                    AND yy.y >= g.oy2 AND yy.y < g.oy2 + g.ch
                THEN ((xx.x - g.ox2 + g.ox1) + (yy.y - g.oy2 + g.oy1)
                      + g.doc_id) % 256
                ELSE 255 END AS pv
            FROM g, UNNEST(generate_series(0, 11)) AS xx(x),
                    UNNEST(generate_series(0, 9)) AS yy(y))
      SELECT doc_id, CAST(cw AS BIGINT) AS cw, CAST(ch AS BIGINT) AS ch,
        CAST(SUM(pv) AS BIGINT) AS checksum,
        CAST(SUM((x + 12 * y) * pv) AS BIGINT) AS pos_checksum
      FROM p GROUP BY doc_id, cw, ch"""))

  /** q159: the COMPOSED audio-canonicalization funnel under one hash —
    * the q105 tone rides the real WAV round-trip, is rate-converted
    * 8000 → 6000 Hz ([[graft.multimodal.Multimodal.resampleLinear]],
    * q154's stage), and the RESAMPLED signal feeds
    * [[graft.multimodal.Multimodal.bandEnergies]] (q153's stage, bins
    * 1–8 over the first 128 samples) — decode → resample → featurize,
    * the per-clip pipeline a training corpus actually runs, gated as a
    * composition rather than piecewise. The oracle rebuilds the exact
    * lerped signal (quantized source, exact-rational fractions) and
    * evaluates the identical straight-line DFT sums on it — a stage
    * wired in the wrong order, a length/offset slip between stages, or
    * a wrong window breaks the hash. */
  private val q159 = NamedQuery(
    "q159_audio_funnel",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 400 + 50).as("ns"),
          (col("doc_id") % 20 + 1).as("k"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, k) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            0.5 * math.sin(2 * math.Pi * k * t / 64.0))
          val payload = Codecs.encodeWav(8000, samples)
          val (_, mono) = Multimodal.decodeAudio(payload).get
          val out = Multimodal.resampleLinear(mono, 8000, 6000)
          val bins = Array.tabulate(8)(_ + 1)
          val e = Multimodal.bandEnergies(out, 128, bins)
          (id, out.length.toLong, e(1), e(3), e(5), e.sum)
        })
        .toDF("doc_id", "n_out", "e2_raw", "e4_raw", "e6_raw", "et_raw")
        .select(col("doc_id"), col("n_out"),
          round(col("e2_raw"), 6).as("e2"),
          round(col("e4_raw"), 6).as("e4"),
          round(col("e6_raw"), 6).as("e6"),
          round(col("et_raw"), 6).as("e_total"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 400 + 50 AS ns,
        doc_id % 20 + 1 AS k FROM documents),
      o AS (SELECT d.doc_id, d.ns, d.k, tt.i,
              CAST(tt.i * 8000 // 6000 AS BIGINT) AS j,
              (tt.i * 8000 % 6000) / 6000.0 AS frac
            FROM d, UNNEST(generate_series(0,
              CAST(d.ns * 6000 // 8000 AS BIGINT) - 1)) AS tt(i)),
      v AS (SELECT o.doc_id, o.i,
              FLOOR(0.5 * SIN(2 * pi() * o.k * o.j / 64.0) * 32767 + 0.5)
                / 32768.0 AS vj,
              FLOOR(0.5 * SIN(2 * pi() * o.k
                  * LEAST(o.j + 1, o.ns - 1) / 64.0) * 32767 + 0.5)
                / 32768.0 AS vj1,
              o.frac
            FROM o),
      r AS (SELECT doc_id, i, vj + (vj1 - vj) * frac AS s FROM v),
      n AS (SELECT doc_id, COUNT(*) AS n_out FROM r GROUP BY doc_id),
      e AS (SELECT r.doc_id, bb.b,
              (POWER(SUM(r.s * COS(2 * pi() * bb.b * r.i / 128.0)), 2)
             + POWER(SUM(r.s * SIN(2 * pi() * bb.b * r.i / 128.0)), 2))
                / 16384.0 AS en
            FROM r, UNNEST(generate_series(1, 8)) AS bb(b)
            WHERE r.i < 128
            GROUP BY r.doc_id, bb.b),
      p AS (SELECT doc_id,
              SUM(CASE WHEN b = 2 THEN en END) AS e2_raw,
              SUM(CASE WHEN b = 4 THEN en END) AS e4_raw,
              SUM(CASE WHEN b = 6 THEN en END) AS e6_raw,
              SUM(en) AS et_raw
            FROM e GROUP BY doc_id)
      SELECT n.doc_id, n.n_out, ROUND(p.e2_raw, 6) AS e2,
        ROUND(p.e4_raw, 6) AS e4, ROUND(p.e6_raw, 6) AS e6,
        ROUND(p.et_raw, 6) AS e_total
      FROM n JOIN p USING (doc_id)"""))

  /** q160: windowed-sinc sample-rate conversion under the hash gate —
    * q154's drill for the QUALITY path
    * ([[graft.multimodal.Multimodal.resampleSinc]]): the q105 tone rides
    * the real WAV round-trip, then the Hann-windowed sinc kernel
    * (taps = 8, anti-alias cutoff c = 6000/8000 = 0.75) converts
    * 8000 → 6000 Hz. Every phase is the exact rational
    * (i·8000 − j·6000)/6000 and the kernel is a finite closed form, so
    * the oracle evaluates the IDENTICAL 16-term dot product per output
    * sample on the closed-form quantized source (zero-padded outside
    * [0, ns)) — a wrong cutoff, window, tap range, or center map breaks
    * the hash. The SNR/quality claims (beats lerp by >10 dB mid-band,
    * >40 dB on a planted band-limited tone) are ResampleSpec's bars. */
  private val q160 = NamedQuery(
    "q160_sinc_resample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 400 + 50).as("ns"),
          (col("doc_id") % 20 + 1).as("k"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, k) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            0.5 * math.sin(2 * math.Pi * k * t / 64.0))
          val payload = Codecs.encodeWav(8000, samples)
          val (_, mono) = Multimodal.decodeAudio(payload).get
          val out = Multimodal.resampleSinc(mono, 8000, 6000, taps = 8)
          val n = out.length
          (id, n.toLong, math.sqrt(out.map(v => v * v).sum / n),
            out.map(math.abs).max)
        })
        .toDF("doc_id", "n_out", "rms_raw", "peak_raw")
        .select(col("doc_id"), col("n_out"),
          round(col("rms_raw"), 6).as("rms"),
          round(col("peak_raw"), 6).as("peak"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 400 + 50 AS ns,
        doc_id % 20 + 1 AS k FROM documents),
      o AS (SELECT d.doc_id, d.ns, d.k, tt.i,
              CAST(tt.i * 8000 // 6000 AS BIGINT) AS j0
            FROM d, UNNEST(generate_series(0,
              CAST(d.ns * 6000 // 8000 AS BIGINT) - 1)) AS tt(i)),
      t AS (SELECT o.doc_id, o.ns, o.k, o.i, o.j0 + dd.t AS j
            FROM o, UNNEST(generate_series(-7, 8)) AS dd(t)),
      w AS (SELECT doc_id, ns, k, i, j,
              (i * 8000 - j * 6000) / 6000.0 AS u
            FROM t),
      e AS (SELECT doc_id, ns, k, i, j, u,
              (CASE WHEN i * 8000 - j * 6000 = 0 THEN 0.75
                    ELSE 0.75 * SIN(pi() * 0.75 * u) / (pi() * 0.75 * u)
               END)
              * (0.5 + 0.5 * COS(pi() * u / 8)) AS kv,
              CASE WHEN j >= 0 AND j < ns
                THEN FLOOR(0.5 * SIN(2 * pi() * k * j / 64.0) * 32767 + 0.5)
                     / 32768.0
                ELSE 0.0 END AS xv
            FROM w),
      r AS (SELECT doc_id, i, SUM(xv * kv) AS s
            FROM e GROUP BY doc_id, i)
      SELECT doc_id, COUNT(*) AS n_out,
        ROUND(SQRT(AVG(s * s)), 6) AS rms,
        ROUND(MAX(ABS(s)), 6) AS peak
      FROM r GROUP BY doc_id"""))

  /** q163: the QUALITY-path audio funnel under one hash — q159's
    * composition with the windowed-sinc stage swapped in: decode →
    * [[graft.multimodal.Multimodal.resampleSinc]] (q160's kernel) →
    * [[graft.multimodal.Multimodal.bandEnergies]] (q153's bins). The
    * oracle rebuilds the sinc-resampled signal as the exact 16-term
    * kernel dot product per output sample, then evaluates the identical
    * straight-line DFT sums on it — certifying that the quality
    * resampler composes with feature extraction exactly as the lerp
    * path does (same window, same bins, same lengths). */
  private val q163 = NamedQuery(
    "q163_sinc_funnel",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") % 400 + 50).as("ns"),
          (col("doc_id") % 20 + 1).as("k"))
        .transform(graft.operators.Scale.fanOut(_, "doc_id"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, ns, k) =>
          val samples = Array.tabulate(ns.toInt)(t =>
            0.5 * math.sin(2 * math.Pi * k * t / 64.0))
          val payload = Codecs.encodeWav(8000, samples)
          val (_, mono) = Multimodal.decodeAudio(payload).get
          val out = Multimodal.resampleSinc(mono, 8000, 6000, taps = 8)
          val bins = Array.tabulate(8)(_ + 1)
          val e = Multimodal.bandEnergies(out, 128, bins)
          (id, out.length.toLong, e(1), e(3), e(5), e.sum)
        })
        .toDF("doc_id", "n_out", "e2_raw", "e4_raw", "e6_raw", "et_raw")
        .select(col("doc_id"), col("n_out"),
          round(col("e2_raw"), 6).as("e2"),
          round(col("e4_raw"), 6).as("e4"),
          round(col("e6_raw"), 6).as("e6"),
          round(col("et_raw"), 6).as("e_total"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars % 400 + 50 AS ns,
        doc_id % 20 + 1 AS k FROM documents),
      o AS (SELECT d.doc_id, d.ns, d.k, tt.i,
              CAST(tt.i * 8000 // 6000 AS BIGINT) AS j0
            FROM d, UNNEST(generate_series(0,
              CAST(d.ns * 6000 // 8000 AS BIGINT) - 1)) AS tt(i)),
      t AS (SELECT o.doc_id, o.ns, o.k, o.i, o.j0 + dd.t AS j
            FROM o, UNNEST(generate_series(-7, 8)) AS dd(t)),
      w AS (SELECT doc_id, ns, k, i, j,
              (i * 8000 - j * 6000) / 6000.0 AS u
            FROM t),
      e AS (SELECT doc_id, ns, k, i, j, u,
              (CASE WHEN i * 8000 - j * 6000 = 0 THEN 0.75
                    ELSE 0.75 * SIN(pi() * 0.75 * u) / (pi() * 0.75 * u)
               END)
              * (0.5 + 0.5 * COS(pi() * u / 8)) AS kv,
              CASE WHEN j >= 0 AND j < ns
                THEN FLOOR(0.5 * SIN(2 * pi() * k * j / 64.0) * 32767 + 0.5)
                     / 32768.0
                ELSE 0.0 END AS xv
            FROM w),
      r AS (SELECT doc_id, i, SUM(xv * kv) AS s
            FROM e GROUP BY doc_id, i),
      n AS (SELECT doc_id, COUNT(*) AS n_out FROM r GROUP BY doc_id),
      b AS (SELECT r.doc_id, bb.b,
              (POWER(SUM(r.s * COS(2 * pi() * bb.b * r.i / 128.0)), 2)
             + POWER(SUM(r.s * SIN(2 * pi() * bb.b * r.i / 128.0)), 2))
                / 16384.0 AS en
            FROM r, UNNEST(generate_series(1, 8)) AS bb(b)
            WHERE r.i < 128
            GROUP BY r.doc_id, bb.b),
      p AS (SELECT doc_id,
              SUM(CASE WHEN b = 2 THEN en END) AS e2_raw,
              SUM(CASE WHEN b = 4 THEN en END) AS e4_raw,
              SUM(CASE WHEN b = 6 THEN en END) AS e6_raw,
              SUM(en) AS et_raw
            FROM b GROUP BY doc_id)
      SELECT n.doc_id, n.n_out, ROUND(p.e2_raw, 6) AS e2,
        ROUND(p.e4_raw, 6) AS e4, ROUND(p.e6_raw, 6) AS e6,
        ROUND(p.et_raw, 6) AS e_total
      FROM n JOIN p USING (doc_id)"""))

  val all: Seq[NamedQuery] = Seq(q104, q105, q115, q116, q117, q120, q126,
    q144, q146, q147, q150, q151, q152, q153, q154, q155, q156, q157,
    q158, q159, q160, q163)
}
