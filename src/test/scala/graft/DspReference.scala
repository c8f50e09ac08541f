package graft

/** The DSP kernels as they were before `graft.functions.Dsp` planned its
  * shapes, copied verbatim (only this comment and the object's name
  * differ). `DspPlanSpec` holds the planned kernels to these bits.
  */
object DspReference {

  /** In-place iterative radix-2 Cooley–Tukey FFT. Lengths must be powers
    * of two.
    */
  def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n == im.length && (n & (n - 1)) == 0,
      s"FFT length must be a power of two, got $n")
    // bit reversal
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var blockStart = 0
      while (blockStart < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val i0 = blockStart + k
          val i1 = i0 + len / 2
          val xr = re(i1) * cr - im(i1) * ci
          val xi = re(i1) * ci + im(i1) * cr
          re(i1) = re(i0) - xr
          im(i1) = im(i0) - xi
          re(i0) += xr
          im(i0) += xi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        blockStart += len
      }
      len <<= 1
    }
  }

  /** Periodic Hann window (librosa/scipy default for STFT). */
  def hann(n: Int): Array[Double] =
    Array.tabulate(n)(i => 0.5 - 0.5 * math.cos(2.0 * math.Pi * i / n))

  /** Reflect-pad `y` by `pad` samples on both sides (librosa center mode). */
  def reflectPad(y: Array[Double], pad: Int): Array[Double] = {
    val n = y.length
    require(n > 1, "cannot reflect-pad a signal shorter than 2 samples")
    Array.tabulate(n + 2 * pad) { i =>
      var k = i - pad
      // reflect without repeating the edge sample
      while (k < 0 || k >= n) {
        if (k < 0) k = -k
        if (k >= n) k = 2 * (n - 1) - k
      }
      y(k)
    }
  }

  /** Magnitude STFT: frames of `nFft` every `hop` samples, hann-windowed,
    * centered. Returns (1 + nFft/2) x nFrames magnitudes, frame-major:
    * result(f) is the spectrum of frame f. (GetSTFT parity,
    * audio.py:76-132.)
    */
  def stftMag(y: Array[Double], nFft: Int = 1024, hop: Int = 256)
      : Array[Array[Double]] = {
    if (y.length < 2) return Array.empty // too short to reflect-pad/frame
    val w = hann(nFft)
    val padded = reflectPad(y, nFft / 2)
    val nFrames = 1 + (padded.length - nFft) / hop
    val nBins = nFft / 2 + 1
    Array.tabulate(nFrames) { f =>
      val re = new Array[Double](nFft)
      val im = new Array[Double](nFft)
      var i = 0
      while (i < nFft) { re(i) = padded(f * hop + i) * w(i); i += 1 }
      fft(re, im)
      Array.tabulate(nBins)(b => math.hypot(re(b), im(b)))
    }
  }

  /** amplitude_to_db with ref = max (GetSpec parity, audio.py:135-187):
    * 20 log10(S/ref) clamped at amin=1e-5 and top_db=80.
    */
  def amplitudeToDb(s: Array[Array[Double]], topDb: Double = 80.0)
      : Array[Array[Double]] = {
    val amin = 1e-5
    val ref = math.max(amin, s.iterator.flatMap(_.iterator).maxOption
      .getOrElse(amin))
    val db = s.map(_.map(v =>
      20.0 * math.log10(math.max(amin, v) / ref)))
    val peak = db.iterator.flatMap(_.iterator).maxOption.getOrElse(0.0)
    db.map(_.map(v => math.max(v, peak - topDb)))
  }

  /** power_to_db: 10 log10, same clamping (GetMFCC path, audio.py:247-305). */
  def powerToDb(s: Array[Array[Double]], topDb: Double = 80.0)
      : Array[Array[Double]] = {
    val amin = 1e-10
    val ref = math.max(amin, s.iterator.flatMap(_.iterator).maxOption
      .getOrElse(amin))
    val db = s.map(_.map(v => 10.0 * math.log10(math.max(amin, v) / ref)))
    val peak = db.iterator.flatMap(_.iterator).maxOption.getOrElse(0.0)
    db.map(_.map(v => math.max(v, peak - topDb)))
  }

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

  /** Slaney-normalized triangular mel filterbank: nMels x (nFft/2+1). */
  def melFilterbank(sr: Double, nFft: Int, nMels: Int = 32,
      fMin: Double = 0.0, fMaxOpt: Double = -1.0): Array[Array[Double]] = {
    val fMax = if (fMaxOpt > 0) fMaxOpt else sr / 2.0
    val nBins = nFft / 2 + 1
    val binHz = Array.tabulate(nBins)(b => b * sr / nFft)
    val melPts = Array.tabulate(nMels + 2)(i =>
      melToHz(hzToMel(fMin) + (hzToMel(fMax) - hzToMel(fMin)) * i / (nMels + 1)))
    Array.tabulate(nMels) { m =>
      val (lo, mid, hi) = (melPts(m), melPts(m + 1), melPts(m + 2))
      val norm = 2.0 / (hi - lo) // slaney area normalization
      Array.tabulate(nBins) { b =>
        val f = binHz(b)
        val up = (f - lo) / (mid - lo)
        val down = (hi - f) / (hi - mid)
        math.max(0.0, math.min(up, down)) * norm
      }
    }
  }

  /** Mel power spectrogram: filterbank × |STFT|², frame-major nMels columns
    * (GetMelSpec parity, audio.py:190-244).
    */
  def melSpectrogram(y: Array[Double], sr: Double, nFft: Int = 1024,
      hop: Int = 256, nMels: Int = 32): Array[Array[Double]] = {
    val mag = stftMag(y, nFft, hop)
    val fb = melFilterbank(sr, nFft, nMels)
    mag.map { frame =>
      val power = frame.map(v => v * v)
      fb.map { filt =>
        var s = 0.0
        var b = 0
        while (b < filt.length) { s += filt(b) * power(b); b += 1 }
        s
      }
    }
  }

  /** Orthonormal DCT-II over the mel axis → MFCCs (audio.py:247-305). */
  def mfcc(y: Array[Double], sr: Double, nMfcc: Int = 13, nFft: Int = 1024,
      hop: Int = 256, nMels: Int = 32): Array[Array[Double]] = {
    val melDb = powerToDb(melSpectrogram(y, sr, nFft, hop, nMels))
    melDb.map { frame =>
      val n = frame.length
      Array.tabulate(nMfcc) { k =>
        var s = 0.0
        var i = 0
        while (i < n) {
          s += frame(i) * math.cos(math.Pi * k * (2 * i + 1) / (2.0 * n))
          i += 1
        }
        val scale =
          if (k == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n)
        s * scale
      }
    }
  }

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
    val out = Array.tabulate(n)(i =>
      bb.getShort(dataStart + 2 * i) / 32768.0)
    (out, sampleRate)
  }
}
