package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Real public-spec A/V container formats, parsed with pure header math —
  * no codec jars. Closes the round-3 "done-with-caveat" multimodal row:
  * audio now arrives as RIFF/WAVE (PCM16) instead of headerless PCM, and
  * video as MJPEG-in-AVI whose frame payloads feed the REAL JPEG decoder
  * ([[ImageOps.decodeAll]]). Reference analogue: the loaders treat image
  * blobs as real format bytes, not synthetic buffers
  * (srai/loaders/osm_loaders/osm_tile_loader.py:97-138).
  *
  * Both formats are RIFF: `"RIFF" <le32 size> <form type> <chunks...>`,
  * each chunk `<fourcc> <le32 size> <payload> [pad byte if size is odd]`.
  * The parsers walk chunks tolerantly (unknown chunks skipped, LIST
  * sub-trees descended only where the spec puts the data) and fail loudly
  * with offset-carrying messages on malformed input — every header read is
  * bounds-checked, so corrupt bytes raise IllegalArgumentException, never
  * an index error (fuzz-covered in ContainerSpec).
  */
object RiffOps {

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, StandardCharsets.US_ASCII)

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalArgumentException(msg)

  /** Little-endian chunk writer; pads every chunk to even length per RIFF. */
  private final class Writer {
    val out = new ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes(StandardCharsets.US_ASCII))
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    def chunk(tag: String, body: Array[Byte]): Unit = {
      ascii(tag); u32(body.length); out.write(body)
      if ((body.length & 1) == 1) out.write(0)
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  private def riffFile(formType: String, payload: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.ascii("RIFF"); w.u32(4 + payload.length); w.ascii(formType)
    w.out.write(payload)
    w.bytes
  }

  /** Validates the 12-byte RIFF header and returns the first chunk offset. */
  private def riffHeader(b: Array[Byte], formType: String, what: String): Int = {
    check(b.length >= 12, s"$what: file too short (${b.length} bytes, need >= 12)")
    check(fourcc(b, 0) == "RIFF", s"$what: bad magic '${fourcc(b, 0)}' (want RIFF)")
    check(fourcc(b, 8) == formType,
      s"$what: RIFF form type '${fourcc(b, 8)}' (want $formType)")
    12
  }

  /** Walk top-level chunks of `b` in [from, to), calling `f(tag, bodyOff,
    * size)` per chunk. Bounds-checked: a declared size past the buffer is a
    * truncation error, not a read past the end. */
  private def walkChunks(b: Array[Byte], from: Int, to: Int, what: String)(
      f: (String, Int, Int) => Unit): Unit = {
    var off = from
    while (off + 8 <= to) {
      val tag = fourcc(b, off)
      val size = le32(b, off + 4)
      check(size >= 0 && off.toLong + 8 + size <= to,
        s"$what: truncated '$tag' chunk at offset $off (declares $size bytes, " +
          s"${to - off - 8} available)")
      f(tag, off + 8, size)
      off += 8 + size + (size & 1)
    }
  }

  // ---------------------------------------------------------------- WAV ----

  final case class WavInfo(sampleRate: Int, channels: Int, pcm: Array[Byte])

  /** Canonical RIFF/WAVE PCM16 file around raw little-endian samples. A
    * LIST-INFO chunk is written between fmt and data so every reader must
    * really walk chunks (a fixed-offset "parser" breaks on it). */
  def wavEncode(pcm: Array[Byte], sampleRate: Int, channels: Int): Array[Byte] = {
    check(sampleRate > 0, s"wav_encode: sampleRate must be positive, got $sampleRate")
    check(channels > 0, s"wav_encode: channels must be positive, got $channels")
    val blockAlign = channels * 2
    val fmt = new Writer
    fmt.u16(1); fmt.u16(channels); fmt.u32(sampleRate)
    fmt.u32(sampleRate * blockAlign); fmt.u16(blockAlign); fmt.u16(16)
    val isft = new Writer
    isft.ascii("INFO")
    isft.chunk("ISFT", "graft".getBytes(StandardCharsets.US_ASCII))
    val w = new Writer
    w.chunk("fmt ", fmt.bytes)
    w.chunk("LIST", isft.bytes)
    w.chunk("data", pcm)
    riffFile("WAVE", w.bytes)
  }

  /** Parse a RIFF/WAVE file; requires PCM (format 1), 16-bit. */
  def wavDecode(b: Array[Byte]): WavInfo = {
    val start = riffHeader(b, "WAVE", "wav")
    var fmt: Option[(Int, Int, Int)] = None // (audioFormat, channels, rate)
    var bits = -1
    var data: Array[Byte] = null
    walkChunks(b, start, b.length, "wav") { (tag, off, size) =>
      tag match {
        case "fmt " =>
          check(size >= 16, s"wav: fmt chunk too short ($size bytes, need >= 16)")
          fmt = Some((le16(b, off), le16(b, off + 2), le32(b, off + 4)))
          bits = le16(b, off + 14)
        case "data" =>
          data = java.util.Arrays.copyOfRange(b, off, off + size)
        case _ => () // LIST/INFO/fact/... skipped
      }
    }
    check(fmt.isDefined, "wav: missing 'fmt ' chunk")
    check(data != null, "wav: missing 'data' chunk")
    val (audioFormat, channels, rate) = fmt.get
    check(audioFormat == 1, s"wav: unsupported audio format $audioFormat (only PCM=1)")
    check(bits == 16, s"wav: unsupported bits per sample $bits (only 16)")
    check(channels > 0, s"wav: invalid channel count $channels")
    check(rate > 0, s"wav: invalid sample rate $rate")
    WavInfo(rate, channels, data)
  }

  // ---------------------------------------------------------------- AVI ----

  /** Minimal spec-complete MJPEG AVI: RIFF 'AVI ' { LIST hdrl { avih, LIST
    * strl { strh 'vids'/'MJPG', strf BITMAPINFOHEADER } }, LIST movi {
    * '00dc' <jpeg bytes> ... }, idx1 }. Frame payloads are stored verbatim
    * (byte-exact round-trip; certified in q55). */
  def aviMjpegEncode(frames: Array[Array[Byte]], w: Int, h: Int,
                     fps: Int): Array[Byte] = {
    check(w > 0 && h > 0, s"avi_mjpeg_encode: bad dimensions ${w}x$h")
    check(fps > 0, s"avi_mjpeg_encode: fps must be positive, got $fps")
    val n = frames.length

    val avih = new Writer
    avih.u32(1000000 / fps); avih.u32(0); avih.u32(0)
    avih.u32(0x10 /* AVIF_HASINDEX */); avih.u32(n); avih.u32(0)
    avih.u32(1); avih.u32(0); avih.u32(w); avih.u32(h)
    avih.u32(0); avih.u32(0); avih.u32(0); avih.u32(0)

    val strh = new Writer
    strh.ascii("vids"); strh.ascii("MJPG")
    strh.u32(0); strh.u32(0); strh.u32(0)
    strh.u32(1); strh.u32(fps) // scale=1, rate=fps → fps frames/sec
    strh.u32(0); strh.u32(n); strh.u32(0); strh.u32(0); strh.u32(0)
    strh.u16(0); strh.u16(0); strh.u16(w); strh.u16(h) // rcFrame

    val strf = new Writer // BITMAPINFOHEADER
    strf.u32(40); strf.u32(w); strf.u32(h); strf.u16(1); strf.u16(24)
    strf.ascii("MJPG"); strf.u32(w * h * 3)
    strf.u32(0); strf.u32(0); strf.u32(0); strf.u32(0)

    val strl = new Writer
    strl.ascii("strl")
    strl.chunk("strh", strh.bytes); strl.chunk("strf", strf.bytes)

    val hdrl = new Writer
    hdrl.ascii("hdrl")
    hdrl.chunk("avih", avih.bytes); hdrl.chunk("LIST", strl.bytes)

    val movi = new Writer
    movi.ascii("movi")
    // idx1 offsets are relative to the 'movi' fourcc position (the common
    // convention players expect); the fourcc itself is 4 bytes in
    val offsets = new Array[Int](n)
    var i = 0
    while (i < n) {
      offsets(i) = movi.out.size() // == 4 + Σ previous padded chunks
      movi.chunk("00dc", frames(i))
      i += 1
    }

    val idx1 = new Writer
    i = 0
    while (i < n) {
      idx1.ascii("00dc"); idx1.u32(0x10 /* keyframe */)
      idx1.u32(offsets(i)); idx1.u32(frames(i).length)
      i += 1
    }

    val body = new Writer
    body.chunk("LIST", hdrl.bytes)
    body.chunk("LIST", movi.bytes)
    body.chunk("idx1", idx1.bytes)
    riffFile("AVI ", body.bytes)
  }

  private def isFrameTag(tag: String): Boolean =
    tag.length == 4 && tag(0).isDigit && tag(1).isDigit &&
      (tag.endsWith("dc") || tag.endsWith("db"))

  /** Video frame payloads ('NNdc'/'NNdb' chunks of LIST movi) in stream
    * order — for MJPEG each payload is a complete JPEG file. */
  def aviFrames(b: Array[Byte]): Array[Array[Byte]] = {
    val start = riffHeader(b, "AVI ", "avi")
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var moviSeen = false
    walkChunks(b, start, b.length, "avi") { (tag, off, size) =>
      if (tag == "LIST") {
        check(size >= 4, s"avi: LIST chunk too short ($size bytes)")
        if (fourcc(b, off) == "movi") {
          moviSeen = true
          walkChunks(b, off + 4, off + size, "avi movi") { (ctag, coff, csize) =>
            if (isFrameTag(ctag))
              out += java.util.Arrays.copyOfRange(b, coff, coff + csize)
          }
        }
      }
    }
    check(moviSeen, "avi: missing LIST 'movi' chunk")
    out.toArray
  }

  /** (width, height, totalFrames) from the avih main header. */
  def aviHeader(b: Array[Byte]): (Int, Int, Int) = {
    val start = riffHeader(b, "AVI ", "avi")
    var found: Option[(Int, Int, Int)] = None
    walkChunks(b, start, b.length, "avi") { (tag, off, size) =>
      if (tag == "LIST" && size >= 4 && fourcc(b, off) == "hdrl") {
        walkChunks(b, off + 4, off + size, "avi hdrl") { (ctag, coff, csize) =>
          if (ctag == "avih") {
            check(csize >= 40, s"avi: avih chunk too short ($csize bytes)")
            found = Some((le32(b, coff + 32), le32(b, coff + 36), le32(b, coff + 16)))
          }
        }
      }
    }
    check(found.isDefined, "avi: missing 'avih' main header")
    found.get
  }

  def aviWidth(b: Array[Byte]): Int = aviHeader(b)._1
  def aviHeight(b: Array[Byte]): Int = aviHeader(b)._2
  def aviFrameCount(b: Array[Byte]): Int = aviHeader(b)._3

  /** Deterministic gray test frame, encoded with the REAL codecs: pixel p of
    * frame f of stream `id` is (id + f·31 + p·7) mod 256 (the q53 formula),
    * packed gray and encoded as `fmt` ("jpeg" lossy / "png" lossless). Used
    * by q55 to certify both byte-exact container round-trip (jpeg vs jpeg
    * md5) and decode fidelity (jpeg vs png reference, PSNR ≥ 40 dB — the
    * BASELINE per-row invariant). */
  def frameSynth(id: Long, f: Int, w: Int, h: Int, fmt: String): Array[Byte] = {
    check(w > 0 && h > 0, s"frame_synth: bad dimensions ${w}x$h")
    check(f >= 0, s"frame_synth: negative frame index $f")
    val px = new Array[Int](w * h)
    var p = 0
    while (p < px.length) {
      val v = (((id + f.toLong * 31 + p.toLong * 7) % 256) & 0xff).toInt
      px(p) = (v << 16) | (v << 8) | v
      p += 1
    }
    ImageOps.encode(px, w, h, fmt)
  }
}
