package graft.operators

/** Real pure-JVM media codecs behind [[Multimodal.MediaDecoder]] — no
  * native libraries: BMP (24bpp bottom-up, the Windows v3 header), binary
  * PPM P6 — including CONCATENATED P6 streams, ffmpeg's image2pipe wire
  * format, which stands in for multi-frame video — and canonical WAV
  * (RIFF/WAVE, PCM16 mono). Encoders exist so tests and queries can
  * synthesize REAL containers from arbitrary bytes; [[JvmDecoder]] parses
  * the actual headers (magic, geometry, payload layout).
  *
  * Malformed input throws [[MediaDecodeException]] with a message naming
  * what was wrong, so a corrupt blob fails the job by name.
  */
object Codecs {

  final class MediaDecodeException(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new MediaDecodeException(msg)

  /** Upper bound on samples per decoded frame (64 MPixel): a corrupt
    * header's geometry must be rejected BEFORE it sizes an allocation —
    * without this, dimension products overflow Int (sailing past the
    * truncation guards) or legitimately allocate gigabytes from a 60-byte
    * payload.
    */
  private val MaxFrameSamples = 64L * 1024 * 1024

  /** Validated samples-per-frame as an Int: positive dims, product within
    * [[MaxFrameSamples]] — all arithmetic in Long so crafted headers
    * can't wrap.
    */
  private def checkedFrameSize(w: Int, h: Int, what: String): Int = {
    if (w <= 0 || h <= 0) fail(s"$what bad geometry ${w}x$h")
    val n = w.toLong * h.toLong
    if (n > MaxFrameSamples) fail(s"$what geometry ${w}x$h exceeds $MaxFrameSamples samples")
    n.toInt
  }

  // ---------------------------------------------------------------- BMP

  /** 24bpp BMP: 54-byte header, rows bottom-up, each padded to 4 bytes.
    * `rgb` is row-major top-down (r,g,b)*w*h.
    */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3, "bad BMP geometry")
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val out = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize).putInt(0).putInt(54) // file size, reserved, data offset
      .putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1 // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        out.put(rgb(i + 2)).put(rgb(i + 1)).put(rgb(i)) // BGR on disk
        x += 1
      }
      var p = w * 3
      while (p < rowSize) { out.put(0.toByte); p += 1 }
      y -= 1
    }
    out.array()
  }

  private def decodeBmp(bytes: Array[Byte]): Multimodal.Decoded = {
    if (bytes.length < 54) fail(s"BMP truncated header: ${bytes.length} bytes")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (buf.get(0) != 'B' || buf.get(1) != 'M') fail("BMP bad magic")
    val dataOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    val bpp = buf.getShort(28)
    if (bpp != 24) fail(s"BMP unsupported bpp $bpp (only 24)")
    val nSamples = checkedFrameSize(w, h, "BMP") // Long-checked: no Int wrap
    val rowSize = (w.toLong * 3 + 3) / 4 * 4
    if (dataOffset < 54 || dataOffset.toLong + rowSize * h > bytes.length)
      fail(s"BMP truncated pixel data")
    val frame = new Array[Float](nSamples)
    var y = 0
    while (y < h) {
      // stored bottom-up; fits Int: dataOffset + rowSize*h <= bytes.length
      val row = (dataOffset + (h - 1 - y).toLong * rowSize).toInt
      var x = 0
      while (x < w) {
        val b = bytes(row + x * 3) & 0xFF
        val g = bytes(row + x * 3 + 1) & 0xFF
        val r = bytes(row + x * 3 + 2) & 0xFF
        frame(y * w + x) = (r + g + b).toFloat / 765f
        x += 1
      }
      y += 1
    }
    Multimodal.Decoded(w, h, Array(frame))
  }

  // ---------------------------------------------------------------- PPM

  /** Binary PPM frame: `P6\n<w> <h>\n255\n` + RGB. A multi-frame "video"
    * is frames concatenated back to back (ffmpeg image2pipe).
    */
  def encodePpmStream(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(w > 0 && h > 0 && frames.nonEmpty && frames.forall(_.length == w * h * 3),
      "bad PPM geometry")
    val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte]((header.length + w * h * 3) * frames.length)
    var off = 0
    frames.foreach { f =>
      System.arraycopy(header, 0, out, off, header.length); off += header.length
      System.arraycopy(f, 0, out, off, f.length); off += f.length
    }
    out
  }

  private def decodePpmStream(bytes: Array[Byte]): Multimodal.Decoded = {
    var pos = 0
    def skipSpace(): Unit = {
      var in = true
      while (in && pos < bytes.length) {
        val c = bytes(pos).toChar
        if (c == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else if (c.isWhitespace) pos += 1
        else in = false
      }
    }
    def int(): Int = {
      skipSpace()
      val start = pos
      while (pos < bytes.length && (bytes(pos) >= '0' && bytes(pos) <= '9')) pos += 1
      if (pos == start) fail(s"PPM expected integer at offset $start")
      // bound the digit count BEFORE toInt: an oversized token would throw
      // an unnamed NumberFormatException instead of a MediaDecodeException
      if (pos - start > 9) fail(s"PPM integer too large at offset $start")
      new String(bytes, start, pos - start, java.nio.charset.StandardCharsets.US_ASCII).toInt
    }
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    var w = -1
    var h = -1
    while (pos < bytes.length) {
      if (pos + 2 > bytes.length || bytes(pos) != 'P' || bytes(pos + 1) != '6')
        fail(s"PPM bad magic at offset $pos")
      pos += 2
      val fw = int(); val fh = int(); val maxval = int()
      val nSamples = checkedFrameSize(fw, fh, "PPM") // Long-checked: no Int wrap
      if (maxval != 255) fail(s"PPM unsupported maxval $maxval")
      // the spec's single whitespace byte after maxval: validate before
      // advancing — consuming a non-whitespace byte here would decode
      // shifted pixel data as a "successful" frame instead of quarantining
      if (pos >= bytes.length || !bytes(pos).toChar.isWhitespace)
        fail("PPM missing whitespace after maxval")
      pos += 1
      if (pos.toLong + nSamples.toLong * 3 > bytes.length) fail("PPM truncated pixel data")
      if (w < 0) { w = fw; h = fh }
      else if (fw != w || fh != h) fail("PPM stream with varying frame geometry")
      val frame = new Array[Float](nSamples)
      var i = 0
      while (i < nSamples) {
        val r = bytes(pos + i * 3) & 0xFF
        val g = bytes(pos + i * 3 + 1) & 0xFF
        val b = bytes(pos + i * 3 + 2) & 0xFF
        frame(i) = (r + g + b).toFloat / 765f
        i += 1
      }
      pos += nSamples * 3
      frames += frame
    }
    if (frames.isEmpty) fail("PPM stream with no frames")
    Multimodal.Decoded(w, h, frames.toArray)
  }

  // ---------------------------------------------------------------- WAV

  /** Canonical 44-byte WAV header + PCM16 mono little-endian samples. */
  def encodeWav(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
    require(samples.nonEmpty, "empty WAV")
    val dataSize = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes).putInt(dataSize)
    samples.foreach(out.putShort)
    out.array()
  }

  private def decodeWav(bytes: Array[Byte]): Multimodal.Decoded = {
    if (bytes.length < 44) fail(s"WAV truncated header: ${bytes.length} bytes")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int) = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc(0) != "RIFF" || fourcc(8) != "WAVE") fail("WAV bad magic")
    // chunk walk: fmt and data can appear in any order after WAVE
    var pos = 12
    var dataOff = -1
    var dataLen = -1
    var fmtOk = false
    while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val id = fourcc(pos)
      val len = buf.getInt(pos + 4)
      // Long arithmetic: a crafted len near Int.MaxValue wraps the Int sum
      // negative, bypassing this guard into a multi-GB allocation (the
      // same overflow class the BMP/PPM paths reject)
      if (len < 0 || pos.toLong + 8 + len > bytes.length) fail(s"WAV truncated chunk $id")
      if (id == "fmt ") {
        if (len < 16) fail("WAV short fmt chunk")
        val audioFormat = buf.getShort(pos + 8)
        val channels = buf.getShort(pos + 10)
        val bits = buf.getShort(pos + 22)
        if (audioFormat != 1 || channels != 1 || bits != 16)
          fail(s"WAV unsupported encoding fmt=$audioFormat ch=$channels bits=$bits")
        fmtOk = true
      } else if (id == "data") { dataOff = pos + 8; dataLen = len }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0) fail("WAV missing fmt or data chunk")
    val n = dataLen / 2
    if (n == 0) fail("WAV empty data chunk")
    val frame = new Array[Float](n)
    var i = 0
    while (i < n) {
      val s = buf.getShort(dataOff + i * 2)
      frame(i) = (s.toInt + 32768).toFloat / 65535f
      i += 1
    }
    Multimodal.Decoded(n, 1, Array(frame))
  }

  // ------------------------------------------------------------- facade

  /** Real-format decoder: sniffs by magic bytes, parses the container for
    * real. Unknown or malformed payloads throw [[MediaDecodeException]].
    */
  object JvmDecoder extends Multimodal.MediaDecoder {
    override def sniffFormat(bytes: Array[Byte]): String =
      if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') "bmp"
      else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') "ppm"
      else if (bytes.length >= 12 &&
        new String(bytes, 0, 4, java.nio.charset.StandardCharsets.US_ASCII) == "RIFF" &&
        new String(bytes, 8, 4, java.nio.charset.StandardCharsets.US_ASCII) == "WAVE") "wav"
      else fail(s"unrecognized media magic (${bytes.take(4).map(b => f"$b%02x").mkString(" ")})")

    override def decode(bytes: Array[Byte]): Multimodal.Decoded =
      decode(bytes, sniffFormat(bytes))

    override def decode(bytes: Array[Byte], format: String): Multimodal.Decoded =
      format match {
        case "bmp" => decodeBmp(bytes)
        case "ppm" => decodePpmStream(bytes)
        case "wav" => decodeWav(bytes)
        case other => fail(s"unrecognized media format '$other'")
      }
  }
}
