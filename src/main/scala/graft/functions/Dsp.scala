package graft.functions

import java.util.concurrent.ConcurrentHashMap

/** Pure-Scala DSP kernels backing the audio operator surface (reference
  * `audio/src/klio_audio/transforms/audio.py`, which delegates to librosa —
  * no JVM equivalent exists offline, so these are from-scratch
  * implementations validated by property tests against analytic signals).
  *
  * Semantics follow librosa defaults where the reference uses them:
  * hann window, centered frames with reflect padding, slaney mel scale,
  * orthonormal DCT-II for MFCC.
  *
  * Plans (FFTW's plan-then-execute split): every constant a kernel derives
  * from its shape alone is built once per shape and then shared read-only
  * across threads — the Hann window per `nFft`; the FFT's bit-reversal swap
  * list and per-stage twiddles per length; the slaney filterbank per
  * `(sr, nFft, nMels, fMin, fMax)`; the DCT-II cosine table per
  * `(nMfcc, nMels)`. One map keeps at most [[MaxPlans]] of them, holding at
  * most [[MaxPlanDoubles]] doubles together. A shape past either bound is
  * planned on each call and not kept, so a UDF whose `sr` varies per row
  * cannot grow the map. The kernels themselves are `while` loops over
  * primitive arrays; one STFT call reuses one re/im scratch pair across its
  * frames. Public results are always fresh arrays the caller may mutate.
  *
  * Bit identity: a plan holds exactly the doubles the kernels used to
  * compute per call (the twiddles come from the butterfly loop's own
  * `cr`/`ci` recurrence), and every sum and running max keeps its order, so
  * each output is bit-for-bit what the unplanned kernels gave.
  * `DspPlanSpec` checks this against a verbatim copy of those kernels.
  */
object Dsp {

  /** Most shapes the plan map keeps. */
  val MaxPlans = 64

  /** Most doubles the kept plans hold together (32 MB). */
  val MaxPlanDoubles: Long = 4L << 20

  private sealed trait Shape
  private final case class WindowShape(n: Int) extends Shape
  private final case class FftShape(n: Int) extends Shape
  // doubles keyed by their raw bits: NaN equals itself, -0.0 is not 0.0
  private final case class MelShape(sr: Long, nFft: Int, nMels: Int,
      fMin: Long, fMaxOpt: Long) extends Shape
  private final case class DctShape(nMfcc: Int, n: Int) extends Shape

  private sealed trait Plan { def doubles: Long }
  private final class Table(val v: Array[Double]) extends Plan {
    def doubles: Long = v.length.toLong
  }
  /** `swaps`: the bit-reversal transpositions as (i, j) pairs. Stage `half`
    * (butterflies `half` apart) reads its twiddles at `half - 1 + k`.
    */
  private final class FftPlan(val swaps: Array[Int], val twRe: Array[Double],
      val twIm: Array[Double]) extends Plan {
    def doubles: Long = 2L * twRe.length + swaps.length / 2
  }

  private val plans = new ConcurrentHashMap[Shape, Plan]()
  private var keptDoubles = 0L // guarded by `plans`

  private def planned[P <: Plan](shape: Shape)(build: => P): P = {
    val hit = plans.get(shape)
    if (hit != null) return hit.asInstanceOf[P]
    val p = build
    plans.synchronized {
      val raced = plans.get(shape)
      if (raced != null) raced.asInstanceOf[P]
      else {
        if (plans.size < MaxPlans && keptDoubles + p.doubles <= MaxPlanDoubles) {
          plans.put(shape, p)
          keptDoubles += p.doubles
        }
        p
      }
    }
  }

  /** Shapes the plan map holds now (at most [[MaxPlans]]). */
  private[graft] def plannedShapes: Int = plans.size

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def fftPlan(n: Int): FftPlan = {
    require((n & (n - 1)) == 0, s"FFT length must be a power of two, got $n")
    planned(FftShape(n)) {
      val swaps = Array.newBuilder[Int]
      var i = 1
      var j = 0
      while (i < n) {
        var bit = n >> 1
        while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
        j |= bit
        if (i < j) { swaps += i; swaps += j }
        i += 1
      }
      val twRe = new Array[Double](math.max(0, n - 1))
      val twIm = new Array[Double](twRe.length)
      var len = 2
      while (len <= n) {
        val ang = -2.0 * math.Pi / len
        val wr = math.cos(ang)
        val wi = math.sin(ang)
        val half = len / 2
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < half) {
          twRe(half - 1 + k) = cr
          twIm(half - 1 + k) = ci
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        len <<= 1
      }
      new FftPlan(swaps.result(), twRe, twIm)
    }
  }

  private def transform(re: Array[Double], im: Array[Double], p: FftPlan)
      : Unit = {
    val n = re.length
    val swaps = p.swaps
    var s = 0
    while (s < swaps.length) {
      val i = swaps(s)
      val j = swaps(s + 1)
      val tr = re(i); re(i) = re(j); re(j) = tr
      val ti = im(i); im(i) = im(j); im(j) = ti
      s += 2
    }
    val twRe = p.twRe
    val twIm = p.twIm
    var half = 1
    while (half < n) {
      val len = half << 1
      var blockStart = 0
      while (blockStart < n) {
        var k = 0
        while (k < half) {
          val cr = twRe(half - 1 + k)
          val ci = twIm(half - 1 + k)
          val i0 = blockStart + k
          val i1 = i0 + half
          val xr = re(i1) * cr - im(i1) * ci
          val xi = re(i1) * ci + im(i1) * cr
          re(i1) = re(i0) - xr
          im(i1) = im(i0) - xi
          re(i0) += xr
          im(i0) += xi
          k += 1
        }
        blockStart += len
      }
      half = len
    }
  }

  /** In-place iterative radix-2 Cooley–Tukey FFT. Lengths must be powers
    * of two.
    */
  def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n == im.length, s"FFT length must be a power of two, got $n")
    transform(re, im, fftPlan(n))
  }

  private def window(n: Int): Array[Double] =
    planned(WindowShape(n)) {
      val w = new Array[Double](math.max(0, n))
      var i = 0
      while (i < w.length) {
        w(i) = 0.5 - 0.5 * math.cos(2.0 * math.Pi * i / n)
        i += 1
      }
      new Table(w)
    }.v

  /** Periodic Hann window (librosa/scipy default for STFT). */
  def hann(n: Int): Array[Double] = window(n).clone()

  /** Reflect-pad `y` by `pad` samples on both sides (librosa center mode). */
  def reflectPad(y: Array[Double], pad: Int): Array[Double] = {
    val n = y.length
    require(n > 1, "cannot reflect-pad a signal shorter than 2 samples")
    val out = new Array[Double](math.max(0, n + 2 * pad))
    var i = 0
    while (i < out.length) {
      var k = i - pad
      if (k == 0 && out.length - i >= n) { // the signal itself
        System.arraycopy(y, 0, out, i, n)
        i += n
      } else {
        // reflect without repeating the edge sample
        while (k < 0 || k >= n) {
          if (k < 0) k = -k
          if (k >= n) k = 2 * (n - 1) - k
        }
        out(i) = y(k)
        i += 1
      }
    }
    out
  }

  /** Magnitude STFT: frames of `nFft` every `hop` samples, hann-windowed,
    * centered. Returns (1 + nFft/2) x nFrames magnitudes, frame-major:
    * result(f) is the spectrum of frame f. (GetSTFT parity,
    * audio.py:76-132.)
    */
  def stftMag(y: Array[Double], nFft: Int = 1024, hop: Int = 256)
      : Array[Array[Double]] = {
    if (y.length < 2) return Array.empty // too short to reflect-pad/frame
    val w = window(nFft)
    val padded = reflectPad(y, nFft / 2)
    val nFrames = 1 + (padded.length - nFft) / hop
    val nBins = nFft / 2 + 1
    val out = new Array[Array[Double]](math.max(0, nFrames))
    if (out.isEmpty) return out
    val re = new Array[Double](nFft)
    val im = new Array[Double](nFft)
    val plan = fftPlan(nFft)
    var f = 0
    while (f < out.length) {
      val start = f * hop
      var i = 0
      while (i < nFft) { re(i) = padded(start + i) * w(i); i += 1 }
      java.util.Arrays.fill(im, 0.0)
      transform(re, im, plan)
      val mag = new Array[Double](nBins)
      var b = 0
      while (b < nBins) { mag(b) = math.hypot(re(b), im(b)); b += 1 }
      out(f) = mag
      f += 1
    }
    out
  }

  /** The largest value in `s`, or `default` when it holds none:
    * `s.flatten.maxOption.getOrElse(default)` unboxed, so under
    * `Ordering.Double.TotalOrdering` (NaN above +∞, 0.0 above -0.0).
    */
  private def maxOrElse(s: Array[Array[Double]], default: Double): Double = {
    var seen = false
    var m = default
    var r = 0
    while (r < s.length) {
      val row = s(r)
      var i = 0
      while (i < row.length) {
        val v = row(i)
        if (!seen) { m = v; seen = true }
        else if (java.lang.Double.compare(m, v) < 0) m = v
        i += 1
      }
      r += 1
    }
    m
  }

  /** `scale` · log10(max(amin, v) / ref), ref = max(amin, max(s)), then
    * floored at `topDb` below the peak.
    */
  private def toDb(s: Array[Array[Double]], topDb: Double, amin: Double,
      scale: Double): Array[Array[Double]] = {
    val ref = math.max(amin, maxOrElse(s, amin))
    val db = new Array[Array[Double]](s.length)
    var r = 0
    while (r < s.length) {
      val row = s(r)
      val out = new Array[Double](row.length)
      var i = 0
      while (i < row.length) {
        out(i) = scale * math.log10(math.max(amin, row(i)) / ref)
        i += 1
      }
      db(r) = out
      r += 1
    }
    val floor = maxOrElse(db, 0.0) - topDb
    r = 0
    while (r < db.length) {
      val row = db(r)
      var i = 0
      while (i < row.length) { row(i) = math.max(row(i), floor); i += 1 }
      r += 1
    }
    db
  }

  /** amplitude_to_db with ref = max (GetSpec parity, audio.py:135-187):
    * 20 log10(S/ref) clamped at amin=1e-5 and top_db=80.
    */
  def amplitudeToDb(s: Array[Array[Double]], topDb: Double = 80.0)
      : Array[Array[Double]] = toDb(s, topDb, 1e-5, 20.0)

  /** power_to_db: 10 log10, same clamping (GetMFCC path, audio.py:247-305). */
  def powerToDb(s: Array[Array[Double]], topDb: Double = 80.0)
      : Array[Array[Double]] = toDb(s, topDb, 1e-10, 10.0)

  private def hzToMel(hz: Double): Double = {
    // slaney scale: linear below 1 kHz, log above
    val fSp = 200.0 / 3.0
    val minLogHz = 1000.0
    val logStep = math.log(6.4) / 27.0
    if (hz < minLogHz) hz / fSp
    else minLogHz / fSp + math.log(hz / minLogHz) / logStep
  }

  private def melToHz(mel: Double): Double = {
    val fSp = 200.0 / 3.0
    val minLogHz = 1000.0
    val minLogMel = minLogHz / fSp
    val logStep = math.log(6.4) / 27.0
    if (mel < minLogMel) mel * fSp
    else minLogHz * math.exp(logStep * (mel - minLogMel))
  }

  /** The filterbank row-major: filter m is `(m·nBins until (m+1)·nBins)`. */
  private def melTable(sr: Double, nFft: Int, nMels: Int, fMin: Double,
      fMaxOpt: Double): Array[Double] =
    planned(MelShape(bits(sr), nFft, nMels, bits(fMin), bits(fMaxOpt))) {
      val fMax = if (fMaxOpt > 0) fMaxOpt else sr / 2.0
      val nBins = math.max(0, nFft / 2 + 1)
      val binHz = new Array[Double](nBins)
      var b = 0
      while (b < nBins) { binHz(b) = b * sr / nFft; b += 1 }
      val melMin = hzToMel(fMin)
      val melMax = hzToMel(fMax)
      val melPts = new Array[Double](math.max(0, nMels + 2))
      var i = 0
      while (i < melPts.length) {
        melPts(i) = melToHz(melMin + (melMax - melMin) * i / (nMels + 1))
        i += 1
      }
      val fb = new Array[Double](math.max(0, nMels) * nBins)
      var m = 0
      while (m < nMels) {
        val lo = melPts(m)
        val mid = melPts(m + 1)
        val hi = melPts(m + 2)
        val norm = 2.0 / (hi - lo) // slaney area normalization
        b = 0
        while (b < nBins) {
          val f = binHz(b)
          val up = (f - lo) / (mid - lo)
          val down = (hi - f) / (hi - mid)
          fb(m * nBins + b) = math.max(0.0, math.min(up, down)) * norm
          b += 1
        }
        m += 1
      }
      new Table(fb)
    }.v

  /** Slaney-normalized triangular mel filterbank: nMels x (nFft/2+1). */
  def melFilterbank(sr: Double, nFft: Int, nMels: Int = 32,
      fMin: Double = 0.0, fMaxOpt: Double = -1.0): Array[Array[Double]] = {
    val fb = melTable(sr, nFft, nMels, fMin, fMaxOpt)
    val nBins = math.max(0, nFft / 2 + 1)
    Array.tabulate(nMels)(m =>
      java.util.Arrays.copyOfRange(fb, m * nBins, (m + 1) * nBins))
  }

  /** Mel power spectrogram: filterbank × |STFT|², frame-major nMels columns
    * (GetMelSpec parity, audio.py:190-244).
    */
  def melSpectrogram(y: Array[Double], sr: Double, nFft: Int = 1024,
      hop: Int = 256, nMels: Int = 32): Array[Array[Double]] = {
    val mag = stftMag(y, nFft, hop)
    if (mag.isEmpty) return mag
    val fb = melTable(sr, nFft, nMels, 0.0, -1.0)
    val nBins = nFft / 2 + 1
    val power = new Array[Double](nBins)
    val out = new Array[Array[Double]](mag.length)
    var f = 0
    while (f < mag.length) {
      val frame = mag(f)
      var b = 0
      while (b < nBins) { power(b) = frame(b) * frame(b); b += 1 }
      val mel = new Array[Double](math.max(0, nMels))
      var m = 0
      while (m < mel.length) {
        val base = m * nBins
        var s = 0.0
        b = 0
        while (b < nBins) { s += fb(base + b) * power(b); b += 1 }
        mel(m) = s
        m += 1
      }
      out(f) = mel
      f += 1
    }
    out
  }

  /** cos(π·k·(2i+1) / 2n) at `k·n + i`: the DCT-II basis, row k. */
  private def dctTable(nMfcc: Int, n: Int): Array[Double] =
    planned(DctShape(nMfcc, n)) {
      val t = new Array[Double](math.max(0, nMfcc) * n)
      var k = 0
      while (k < nMfcc) {
        var i = 0
        while (i < n) {
          t(k * n + i) = math.cos(math.Pi * k * (2 * i + 1) / (2.0 * n))
          i += 1
        }
        k += 1
      }
      new Table(t)
    }.v

  /** Orthonormal DCT-II over the mel axis → MFCCs (audio.py:247-305). */
  def mfcc(y: Array[Double], sr: Double, nMfcc: Int = 13, nFft: Int = 1024,
      hop: Int = 256, nMels: Int = 32): Array[Array[Double]] = {
    val melDb = powerToDb(melSpectrogram(y, sr, nFft, hop, nMels))
    if (melDb.isEmpty) return melDb
    val n = melDb(0).length // every frame holds nMels values
    val cos = dctTable(nMfcc, n)
    val scale0 = math.sqrt(1.0 / n)
    val scale = math.sqrt(2.0 / n)
    val out = new Array[Array[Double]](melDb.length)
    var f = 0
    while (f < melDb.length) {
      val frame = melDb(f)
      val c = new Array[Double](math.max(0, nMfcc))
      var k = 0
      while (k < c.length) {
        var s = 0.0
        var i = 0
        while (i < n) { s += frame(i) * cos(k * n + i); i += 1 }
        c(k) = s * (if (k == 0) scale0 else scale)
        k += 1
      }
      out(f) = c
      f += 1
    }
    out
  }

  /** softmask(X, Xref, power): X^p / (X^p + Xref^p), 0.5 where both zero
    * (GetSoftMask example parity, integration transforms.py:117-140).
    */
  def softmask(x: Array[Double], xRef: Array[Double], power: Double = 1.0)
      : Array[Double] =
    x.zip(xRef).map { case (a, b) =>
      val pa = math.pow(math.max(0.0, a), power)
      val pb = math.pow(math.max(0.0, b), power)
      if (pa + pb == 0.0) 0.5 else pa / (pa + pb)
    }

  /** Cosine-similarity nearest-neighbor filter over frames: each frame is
    * replaced by the element-wise median of its k most-similar other frames
    * (FilterNearestNeighbors example parity, transforms.py:71-92 —
    * librosa.decompose.nn_filter with aggregate=median, metric=cosine).
    */
  def nnFilter(frames: Array[Array[Double]], k: Int = 5)
      : Array[Array[Double]] = {
    val n = frames.length
    if (n <= 1) return frames.map(_.clone())
    val norms = frames.map(f => math.sqrt(f.map(v => v * v).sum))
    def cos(i: Int, j: Int): Double = {
      var s = 0.0
      var b = 0
      while (b < frames(i).length) { s += frames(i)(b) * frames(j)(b); b += 1 }
      if (norms(i) == 0 || norms(j) == 0) 0.0 else s / (norms(i) * norms(j))
    }
    Array.tabulate(n) { i =>
      val nbrs = (0 until n).filter(_ != i)
        .sortBy(j => (-cos(i, j), j))
        .take(math.min(k, n - 1))
      Array.tabulate(frames(i).length) { b =>
        val vals = nbrs.map(frames(_)(b)).sorted
        val m = vals.length
        if (m % 2 == 1) vals(m / 2) else (vals(m / 2 - 1) + vals(m / 2)) / 2.0
      }
    }
  }

  /** Sample-rate conversion (the `sr` half of librosa.load — LoadAudio
    * resamples to 22050 Hz BY DEFAULT, audio.py:26-73): windowed-sinc
    * (Kaiser-lite: Hann-windowed, 16 zero-crossings) polyphase resampling,
    * the same construction librosa's `resample(res_type="sinc")` family
    * uses. Output length = ceil(n · srOut/srIn), matching librosa. A pure
    * tone below the output Nyquist keeps its frequency exactly (phase
    * shift only), so resampled spectra stay analytically predictable.
    */
  def resample(y: Array[Double], srIn: Int, srOut: Int): Array[Double] = {
    require(srIn > 0 && srOut > 0, "sample rates must be positive")
    if (srIn == srOut || y.isEmpty) return y.clone()
    val ratio = srOut.toDouble / srIn
    val nOut = math.ceil(y.length * ratio).toInt
    // anti-aliasing: when downsampling, the kernel cutoff narrows to the
    // output Nyquist (scale = ratio); upsampling keeps the input Nyquist
    val scale = math.min(1.0, ratio)
    val zeros = 16
    val halfWidth = zeros / scale // input samples per kernel half
    val out = new Array[Double](nOut)
    var k = 0
    while (k < nOut) {
      val center = k / ratio
      val lo = math.max(0, math.ceil(center - halfWidth).toInt)
      val hi = math.min(y.length - 1, math.floor(center + halfWidth).toInt)
      var acc = 0.0
      var wsum = 0.0
      var i = lo
      while (i <= hi) {
        val x = (i - center) * scale // in output-sample units
        val sinc =
          if (math.abs(x) < 1e-12) 1.0
          else math.sin(math.Pi * x) / (math.Pi * x)
        val w = 0.5 + 0.5 * math.cos(math.Pi * x / zeros) // hann taper
        val c = sinc * w * scale
        acc += y(i) * c
        wsum += c
        i += 1
      }
      // normalize by the kernel mass actually inside the signal: unit DC
      // gain everywhere, so edge samples don't droop from the truncated tap
      out(k) = if (wsum == 0.0) 0.0 else acc / wsum
      k += 1
    }
    out
  }

  /** Landmark-style audio fingerprint (the Shazam construction's
    * constellation idea reduced to its exactly-testable core): per-frame
    * DOMINANT spectral peak → STABLE runs (the same argmax bin across
    * ≥ `minRun` consecutive frames — a note-boundary frame mixes two
    * tones and cannot persist, so boundary junk self-filters) → the
    * run-bin sequence's successive pairs hashed as b1·256+b2, distinct,
    * sorted. Two clips sharing many pair hashes are near-duplicate
    * audio regardless of time shift (runs shift with the signal) or
    * requantization (argmax is amplitude-invariant). Bin-0 runs
    * (silence / DC) are dropped; adjacent equal run bins collapse.
    */
  def fingerprints(mag: Array[Array[Double]], minRun: Int = 2)
      : Array[Long] = {
    val am = mag.map { fr =>
      var bi = 0
      var bv = fr(0)
      var b = 1
      while (b < fr.length) {
        if (fr(b) > bv) { bv = fr(b); bi = b }
        b += 1
      }
      bi
    }
    val runs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < am.length) {
      var j = i
      while (j < am.length && am(j) == am(i)) j += 1
      if (j - i >= minRun && am(i) != 0 &&
          (runs.isEmpty || runs.last != am(i))) runs += am(i)
      i = j
    }
    runs.iterator.zip(runs.iterator.drop(1))
      .map { case (a, b) => a.toLong * 256 + b }
      .toArray.distinct.sorted
  }

  /** Minimal RIFF/WAVE PCM16 mono decode → [-1, 1] doubles (LoadAudio
    * stand-in, audio/io.py:28-111 + audio.py:26-73; OGG needs a codec the
    * container lacks — binary plumbing for it lives in graft.multimodal).
    */
  def decodeWavPcm16(bytes: Array[Byte]): (Array[Double], Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length > 44 && bb.getInt(0) == 0x46464952,
      "not a RIFF file") // "RIFF"
    require(bb.getInt(8) == 0x45564157, "not a WAVE file") // "WAVE"
    var pos = 12
    var sampleRate = 0
    var dataStart = -1
    var dataLen = 0
    while (pos + 8 <= bytes.length && (dataStart < 0 || sampleRate == 0)) {
      val id = bb.getInt(pos)
      val size = bb.getInt(pos + 4)
      require(size >= 0, s"corrupt WAV: negative chunk size $size")
      if (id == 0x20746d66) { // "fmt "
        require(bb.getShort(pos + 8) == 1, "PCM only")
        require(bb.getShort(pos + 10) == 1, "mono only")
        sampleRate = bb.getInt(pos + 12)
        require(bb.getShort(pos + 22) == 16, "16-bit only")
      } else if (id == 0x61746164) { // "data"
        dataStart = pos + 8
        dataLen = size
      }
      pos += 8 + size + (size & 1)
    }
    require(sampleRate > 0 && dataStart > 0, "missing fmt/data chunk")
    require(dataStart + dataLen <= bytes.length,
      s"corrupt WAV: data chunk ($dataLen bytes at $dataStart) exceeds " +
        s"file length ${bytes.length}")
    val n = dataLen / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getShort(dataStart + 2 * i) / 32768.0; i += 1 }
    (out, sampleRate)
  }

  /** PCM16 mono WAV encode (for tests and sink parity). */
  def encodeWavPcm16(samples: Array[Double], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0x46464952).putInt(36 + dataLen).putInt(0x45564157)
    bb.putInt(0x20746d66).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.putInt(0x61746164).putInt(dataLen)
    samples.foreach { s =>
      val clamped = math.max(-1.0, math.min(1.0, s))
      bb.putShort(math.round(clamped * 32767.0).toShort)
    }
    bb.array()
  }
}
