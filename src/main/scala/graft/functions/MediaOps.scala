package graft.functions

/** Audio/video columns as opaque binary + typed metadata (SURVEY training-
  * data ops; the brief's multimodal contract). Audio is PCM16 mono
  * little-endian — decoding is pure byte math, so the feature extractors are
  * REAL, not stubs. Video here uses a deterministic toy container (12-byte
  * header: width, height, n_frames as big-endian int32, then n gray
  * width×height frames) for the SQL-replayable q53 certificate; the real
  * public-spec containers — RIFF/WAVE around these PCM16 kernels and
  * MJPEG-in-AVI feeding the real JPEG decoder — live in [[RiffOps]]
  * (q54/q55). Synthesis formulas are integer arithmetic an external SQL
  * engine replays exactly. */
object MediaOps {

  /** Deterministic PCM16 synthesis: sample i of stream `id` is
    * ((id·31 + i·7919) mod 65536) − 32768, little-endian. */
  def synthPcm16(id: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (((id * 31 + i.toLong * 7919) % 65536) - 32768).toInt
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  private def sampleAt(pcm: Array[Byte], i: Int): Int = {
    val lo = pcm(2 * i) & 0xff
    val hi = pcm(2 * i + 1).toInt // sign-extends
    (hi << 8) | lo
  }

  /** Non-overlapping window RMS over PCM16: sqrt(Σv² / k) per full window
    * (trailing partial window dropped). Exact integer sum, one double
    * division + sqrt — an external engine reproduces it bitwise. */
  def audioRmsWindows(pcm: Array[Byte], window: Int): Array[Double] = {
    require(window > 0, s"audio_rms_windows: window must be positive, got $window")
    val n = pcm.length / 2
    val wins = n / window
    val out = new Array[Double](wins)
    var w = 0
    while (w < wins) {
      var ss = 0L
      var i = w * window
      val end = i + window
      while (i < end) { val v = sampleAt(pcm, i).toLong; ss += v * v; i += 1 }
      out(w) = math.sqrt(ss.toDouble / window)
      w += 1
    }
    out
  }

  /** Zero-crossing count: #{i : v(i)·v(i+1) < 0} (a standard speech/music
    * discriminator for audio quality filtering). */
  def audioZeroCrossings(pcm: Array[Byte]): Long = {
    val n = pcm.length / 2
    var c = 0L
    var i = 0
    while (i + 1 < n) {
      if (sampleAt(pcm, i).toLong * sampleAt(pcm, i + 1) < 0) c += 1
      i += 1
    }
    c
  }

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** Deterministic toy video container: pixel p of frame f of stream `id`
    * is (id + f·31 + p·7) mod 256. */
  def synthVideo(id: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val fsz = w * h
    val out = new Array[Byte](12 + frames * fsz)
    putBe32(out, 0, w); putBe32(out, 4, h); putBe32(out, 8, frames)
    var f = 0
    while (f < frames) {
      var p = 0
      val base = 12 + f * fsz
      while (p < fsz) {
        out(base + p) = (((id + f.toLong * 31 + p.toLong * 7) % 256) & 0xff).toByte
        p += 1
      }
      f += 1
    }
    out
  }

  def videoFrameCount(container: Array[Byte]): Int = be32(container, 8)

  /** Every `stride`-th frame's raw gray bytes (frame 0 always included) —
    * the sampling step of a frame-captioning / dedup pipeline. */
  def videoFrameSample(container: Array[Byte], stride: Int): Array[Array[Byte]] = {
    require(stride > 0, s"video_frame_sample: stride must be positive, got $stride")
    val w = be32(container, 0); val h = be32(container, 4)
    val n = be32(container, 8)
    val fsz = w * h
    val picks = (0 until n by stride).toArray
    picks.map { f =>
      java.util.Arrays.copyOfRange(container, 12 + f * fsz, 12 + (f + 1) * fsz)
    }
  }

  /** Mean of unsigned byte values — per-frame luma statistic. */
  def bytesMean(b: Array[Byte]): Double = {
    var s = 0L
    var i = 0
    while (i < b.length) { s += (b(i) & 0xff); i += 1 }
    if (b.length == 0) 0.0 else s.toDouble / b.length
  }
}
