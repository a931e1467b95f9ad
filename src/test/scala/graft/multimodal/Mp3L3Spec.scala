package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** The hand-rolled MPEG-1 Layer III codec (derived Huffman tables — see
  * Mp3L3's scaladoc for the policy). Layer III is LOSSY: round-trips
  * assert SNR floors; structure/headers and graceful-failure paths are
  * asserted exactly. Delay = 481 (polyphase) + 576 (MDCT overlap-add). */
class Mp3L3Spec extends AnyFunSuite {

  private val Delay = 1057

  private def snrDb(decoded: Array[Int], reference: Array[Double]): Double = {
    val n = math.min(decoded.length - Delay, reference.length) - 32
    var sig = 0.0; var err = 0.0
    var i = 0
    while (i < n) {
      val want = reference(i)
      val got = decoded(Delay + i) / 32768.0
      sig += want * want; err += (got - want) * (got - want)
      i += 1
    }
    10.0 * math.log10(sig / math.max(err, 1e-300))
  }

  private def tone(n: Int, freq: Double, rate: Int, amp: Double = 0.4): Array[Int] =
    Array.tabulate(n)(t => (amp * 32768.0 * math.sin(2 * math.Pi * freq * t / rate)).toInt)

  test("mono tone round-trips above the 30 dB gate at every sample rate") {
    for (rate <- Seq(32000, 44100, 48000)) {
      val s = tone(6000, 440.0, rate)
      val bytes = Mp3L3.encode(rate, Array(s))
      assert(Mp3L3.isMp3L3(bytes))
      val d = Mp3L3.decode(bytes).get
      assert(d.sampleRate === rate && d.channels === 1)
      assert(d.samples(0).length % 1152 === 0)
      assert(d.samples(0).length >= s.length)
      val snr = snrDb(d.samples(0), s.map(_ / 32768.0))
      assert(snr > 30.0, s"rate $rate: SNR $snr dB")
    }
    // q146's registered grid (ns = n_chars % 1500 + 600, freq =
    // doc_id % 200 + 200, 32 kHz), stride-sampled: the query gates each
    // row at 25 dB, so a lattice minimum of 35 dB keeps a 10 dB margin
    // (measured minimum 36.5 dB at ns=1028, freq=384)
    val lattice = for (ns <- 600 to 2099 by 107; freq <- 200 to 399 by 23) yield {
      val s = tone(ns, freq.toDouble, 32000)
      val d = Mp3L3.decode(Mp3L3.encode(32000, Array(s))).get
      assert(d.samples(0).length === (ns + Delay + 1151) / 1152 * 1152)
      (snrDb(d.samples(0), s.map(_ / 32768.0)), ns, freq)
    }
    assert(lattice.min._1 >= 35.0, s"q146 lattice minimum (snr, ns, freq) ${lattice.min}")
  }

  test("stereo with distinct channels keeps them separate") {
    val rate = 44100
    val l = tone(4000, 440.0, rate)
    val r = tone(4000, 1200.0, rate)
    val d = Mp3L3.decode(Mp3L3.encode(rate, Array(l, r))).get
    assert(d.channels === 2)
    val snrL = snrDb(d.samples(0), l.map(_ / 32768.0))
    val snrR = snrDb(d.samples(1), r.map(_ / 32768.0))
    assert(snrL > 30.0, s"left SNR $snrL")
    assert(snrR > 30.0, s"right SNR $snrR")
    // cross-channel: decoding L against R's reference must be garbage
    val cross = snrDb(d.samples(0), r.map(_ / 32768.0))
    assert(cross < 5.0, s"cross-channel SNR $cross (channels leaked)")
  }

  test("wideband noise survives the derived-table entropy path") {
    val rnd = new scala.util.Random(7)
    val s = Array.fill(4 * 1152)(rnd.nextInt(16000) - 8000)
    val d = Mp3L3.decode(Mp3L3.encode(32000, Array(s))).get
    val snr = snrDb(d.samples(0), s.map(_ / 32768.0))
    assert(snr > 15.0, s"noise SNR $snr dB")
  }

  test("silence round-trips to silence") {
    val d = Mp3L3.decode(Mp3L3.encode(32000, Array(new Array[Int](2304)))).get
    assert(d.samples(0).forall(v => math.abs(v) <= 1))
  }

  test("big values beyond 15 exercise the linbits escape") {
    // an impulse train has huge spectral peaks relative to its RMS —
    // the encoder's per-band scalefactor boost drives quiet-band lines
    // far above the non-escape range
    val s = Array.tabulate(3 * 1152)(t => if (t % 64 == 0) 26000 else 0)
    val bytes = Mp3L3.encode(32000, Array(s), v = 900)
    val d = Mp3L3.decode(bytes).get
    val snr = snrDb(d.samples(0), s.map(_ / 32768.0))
    assert(snr > 15.0, s"impulse SNR $snr dB")
  }

  test("decode rejects malformed and out-of-profile streams") {
    val good = Mp3L3.encode(32000, Array(tone(2000, 300.0, 32000)))
    assert(Mp3L3.decode(good).isDefined)
    // truncation
    assert(Mp3L3.decode(good.take(good.length - 7)).isEmpty)
    // corrupt tail (garbage after last frame)
    assert(Mp3L3.decode(good ++ Array[Byte](1, 2, 3)).isEmpty)
    // free-format bitrate
    val b1 = good.clone(); b1(2) = (b1(2) & 0x0f).toByte
    assert(Mp3L3.decode(b1).isEmpty)
    // reserved sample rate
    val b2 = good.clone(); b2(2) = (b2(2) | 0x0c).toByte
    assert(Mp3L3.decode(b2).isEmpty)
    // Layer I stream is not a Layer III stream
    val l1 = Mp3.encode(32000, Array(tone(2000, 300.0, 32000)))
    assert(Mp3L3.decode(l1).isEmpty)
    assert(Mp3.decode(good).isEmpty)
    // not even a sync word
    assert(Mp3L3.decode("plainly not audio".getBytes).isEmpty)
  }

  test("derived scalefactor-band edges tile the 576 lines") {
    assert(Mp3L3.SfbWidths.sum === 576)
    assert(Mp3L3.SfbEdge.length === 23)
    assert(Mp3L3.SfbEdge.last === 576)
    assert(Mp3L3.SfbWidths.forall(_ > 0))
  }

  test("multimodal audio dispatch routes Layer III") {
    val bytes = Mp3L3.encode(32000, Array(tone(2500, 500.0, 32000)))
    val f = Multimodal.features(bytes)
    // duration = frames*1152/rate; the tone's RMS ≈ 0.4/√2 (diluted by
    // the delay padding) — feature slot 1 must be clearly nonzero
    assert(f(0) > 0.05 && f(1) > 0.1, f.take(4).toSeq.toString)
  }
}
