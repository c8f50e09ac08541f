package graft

import java.util.concurrent.{Callable, Executors}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dsp

/** The planned DSP kernels give the same bits as the per-call kernels they
  * replaced ([[DspReference]], a verbatim copy): every double compared with
  * `java.util.Arrays.equals`, so NaN against NaN passes and -0.0 against
  * 0.0 fails.
  */
class DspPlanSpec extends AnyFunSuite {

  val nFfts = Seq(64, 512, 1024, 2048)
  val hops = Seq(64, 256, 512)
  val nMelss = Seq(32, 40, 128)
  val srs = Seq(8000, 22050)

  /** perfbench's klio_batch clip: three partials plus noise, a quarter
    * second, through a PCM16 WAV and back.
    */
  def partials(seed: Long, sr: Int): Array[Double] = {
    val r = new java.util.SplittableRandom(seed)
    val ps = Seq.fill(3)((100.0 + r.nextDouble() * 3000.0,
      0.1 + r.nextDouble() * 0.3))
    val y = Array.tabulate(sr / 4) { i =>
      ps.map { case (f, a) => a * math.sin(2 * math.Pi * f * i / sr) }
        .sum + (r.nextDouble() - 0.5) * 0.05
    }
    Dsp.decodeWavPcm16(Dsp.encodeWavPcm16(y, sr))._1
  }

  def signals(sr: Int): Seq[(String, Array[Double])] = {
    val r = new scala.util.Random(sr)
    val special = Array.tabulate(3000)(i => math.sin(i * 0.01))
    special(100) = Double.NaN
    special(1500) = Double.PositiveInfinity
    special(1501) = Double.NegativeInfinity
    special(2000) = -0.0
    Seq(
      "partials 1" -> partials(1, sr),
      "partials 2" -> partials(2, sr),
      "white noise" -> Array.fill(4096)(r.nextDouble() * 2 - 1),
      "silence" -> new Array[Double](2000),
      "length 2" -> Array(0.25, -0.5),
      "shorter than nFft" -> Array.fill(50)(r.nextGaussian()),
      "negative zeros" -> Array.fill(700)(-0.0),
      "NaN, ±Infinity and -0.0" -> special)
  }

  def same(a: Array[Double], b: Array[Double]): Boolean =
    java.util.Arrays.equals(a, b)

  def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.indices.forall(i => same(a(i), b(i)))

  test("stftMag gives the reference's bits for every nFft, hop and signal") {
    for (sr <- srs; (name, y) <- signals(sr); nFft <- nFfts; hop <- hops)
      assert(same(Dsp.stftMag(y, nFft, hop), DspReference.stftMag(y, nFft, hop)),
        s"$name sr=$sr nFft=$nFft hop=$hop")
  }

  test("melSpectrogram and mfcc give the reference's bits over the grid") {
    for (sr <- srs; (name, y) <- signals(sr); nFft <- nFfts; hop <- hops;
         nMels <- nMelss) {
      val at = s"$name sr=$sr nFft=$nFft hop=$hop nMels=$nMels"
      assert(same(Dsp.melSpectrogram(y, sr, nFft, hop, nMels),
        DspReference.melSpectrogram(y, sr, nFft, hop, nMels)), at)
      assert(same(Dsp.mfcc(y, sr, 13, nFft, hop, nMels),
        DspReference.mfcc(y, sr, 13, nFft, hop, nMels)), at)
    }
  }

  test("powerToDb and amplitudeToDb keep the reference's max over NaN, " +
      "±Infinity, -0.0, empty and ragged rows") {
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val matrices = Seq(
      Array.empty[Array[Double]],
      Array(Array.empty[Double], Array.empty[Double]),
      Array(Array(0.0, -0.0), Array(-0.0)),
      Array(Array(-0.0, 0.0)),
      Array(Array(-0.0)),
      Array(Array(1.0, nan, 3.0)),
      Array(Array(nan), Array(2.0)),
      Array(Array(inf, 1.0), Array(-inf, 0.5)),
      Array(Array(-inf, -1.0)),
      Array(Array(1e-12, 1e-3), Array.empty[Double], Array(5.0, 2.0, 1e-20)),
      Array(Array(-1.0, -2.0), Array(-0.5)))
    val spectra = for (sr <- srs; (_, y) <- signals(sr); nFft <- Seq(64, 512))
      yield DspReference.stftMag(y, nFft, 256)
    for ((s, i) <- (matrices ++ spectra).zipWithIndex; topDb <- Seq(80.0, 20.0)) {
      assert(same(Dsp.powerToDb(s, topDb), DspReference.powerToDb(s, topDb)),
        s"powerToDb #$i topDb=$topDb")
      assert(same(Dsp.amplitudeToDb(s, topDb),
        DspReference.amplitudeToDb(s, topDb)), s"amplitudeToDb #$i topDb=$topDb")
    }
  }

  test("decodeWavPcm16 gives the reference's samples and rate") {
    val r = new scala.util.Random(7)
    val pcm = Array.fill(3000)(r.nextInt(65536) - 32768) ++
      Array(-32768, 32767, 0, -1, 1)
    val raw = Dsp.encodeWavPcm16(new Array[Double](pcm.length), 22050)
    pcm.indices.foreach { i =>
      raw(44 + 2 * i) = pcm(i).toByte
      raw(45 + 2 * i) = (pcm(i) >> 8).toByte
    }
    for (bytes <- Seq(raw, Dsp.encodeWavPcm16(partials(3, 8000), 8000),
        Dsp.encodeWavPcm16(Array(0.5), 8000))) {
      val (got, gotSr) = Dsp.decodeWavPcm16(bytes)
      val (want, wantSr) = DspReference.decodeWavPcm16(bytes)
      assert(gotSr === wantSr)
      assert(same(got, want))
    }
  }

  test("reflectPad gives the reference's samples, also when the pad " +
      "reflects more than once or is negative") {
    for (n <- Seq(2, 3, 5, 16, 600); pad <- Seq(-1, 0, 1, 3, 7, 20, 256)) {
      val y = Array.tabulate(n)(i => i * 0.5 - 1.0)
      assert(same(Dsp.reflectPad(y, pad), DspReference.reflectPad(y, pad)),
        s"n=$n pad=$pad")
    }
  }

  test("fft, hann and melFilterbank give the reference's bits") {
    val r = new scala.util.Random(3)
    for (n <- Seq(1, 2, 4, 64, 512, 4096)) {
      val x = Array.fill(n)(r.nextGaussian())
      val (re, im, rre, rim) = (x.clone(), x.reverse, x.clone(), x.reverse)
      Dsp.fft(re, im)
      DspReference.fft(rre, rim)
      assert(same(re, rre) && same(im, rim), s"fft n=$n")
      assert(same(Dsp.hann(n), DspReference.hann(n)), s"hann n=$n")
    }
    for (sr <- srs; nFft <- nFfts; nMels <- nMelss)
      assert(same(Dsp.melFilterbank(sr, nFft, nMels),
        DspReference.melFilterbank(sr, nFft, nMels)), s"sr=$sr nFft=$nFft")
    assert(same(Dsp.melFilterbank(16000, 512, 40, 300.0, 6000.0),
      DspReference.melFilterbank(16000, 512, 40, 300.0, 6000.0)))
    val err = intercept[IllegalArgumentException](
      Dsp.fft(new Array[Double](12), new Array[Double](12)))
    assert(err.getMessage.contains("power of two, got 12"))
  }

  test("8 threads over mixed shapes give the reference's bits") {
    val shapes = for (sr <- srs; nFft <- Seq(64, 512, 1024); nMels <- nMelss)
      yield (sr, nFft, nMels)
    val clips = srs.map(sr => sr -> partials(sr, sr)).toMap
    val want = shapes.map { case (sr, nFft, nMels) =>
      DspReference.mfcc(clips(sr), sr, 13, nFft, 256, nMels)
    }
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new Callable[Seq[Int]] {
          def call(): Seq[Int] =
            (0 until 3 * shapes.length).flatMap { j =>
              val k = (j * 7 + t * 5) % shapes.length
              val (sr, nFft, nMels) = shapes(k)
              val got = Dsp.mfcc(clips(sr), sr, 13, nFft, 256, nMels)
              if (same(got, want(k))) None else Some(k)
            }
        })
      }
      val wrong = futures.flatMap(_.get())
      assert(wrong.isEmpty, s"shapes with other bits: ${wrong.distinct}")
    } finally pool.shutdown()
  }

  test("mutating a returned array does not change a later call") {
    val fb = Dsp.melFilterbank(8000, 512, 32)
    fb(3)(10) = 99.0
    fb(0) = new Array[Double](257)
    assert(same(Dsp.melFilterbank(8000, 512, 32),
      DspReference.melFilterbank(8000, 512, 32)))
    val w = Dsp.hann(512)
    java.util.Arrays.fill(w, 7.0)
    assert(same(Dsp.hann(512), DspReference.hann(512)))
    val y = partials(9, 8000)
    val mag = Dsp.stftMag(y, 512, 256)
    mag.foreach(java.util.Arrays.fill(_, -1.0))
    assert(same(Dsp.stftMag(y, 512, 256), DspReference.stftMag(y, 512, 256)))
    assert(same(Dsp.mfcc(y, 8000, 13, 512, 256, 32),
      DspReference.mfcc(y, 8000, 13, 512, 256, 32)))
  }

  test("more distinct shapes than the plan map's bound still compute " +
      "correctly, and the map stays within its bound") {
    val y = partials(11, 8000)
    for (k <- 0 until Dsp.MaxPlans + 20) {
      val sr = 8000.0 + 0.5 * k
      assert(same(Dsp.mfcc(y, sr, 13, 512, 256, 32),
        DspReference.mfcc(y, sr, 13, 512, 256, 32)), s"sr=$sr")
    }
    assert(Dsp.plannedShapes <= Dsp.MaxPlans)
    // a shape too large to keep is planned per call
    assert(same(Dsp.melFilterbank(8000, 1 << 16, 128),
      DspReference.melFilterbank(8000, 1 << 16, 128)))
    assert(same(Dsp.mfcc(y, 22050, 13, 1024, 256, 128),
      DspReference.mfcc(y, 22050, 13, 1024, 256, 128)))
  }
}
