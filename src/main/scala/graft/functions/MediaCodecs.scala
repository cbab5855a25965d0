package graft.functions

/** Pure-JVM media codecs — no native or third-party codec libraries.
  *
  *   - WAV: RIFF container — PCM 8-bit unsigned / 16-bit signed LE, G.711
  *     μ-law (format 7) and mono IMA/DVI4 ADPCM (format 17), all parsed and
  *     decoded directly (format specs: Microsoft/IBM RIFF WAVE public since
  *     1991; ITU-T G.711; IMA ADPCM reference algorithm)
  *   - BMP: BITMAPINFOHEADER, 24-bit uncompressed, bottom-up rows, parsed
  *     directly
  *   - PNG / JPEG / GIF: decoded through `javax.imageio` — compressed image
  *     codecs that SHIP IN THE JDK, so "no external libraries" still holds
  *
  * These make the multimodal decode path REAL for PCM / μ-law / IMA-ADPCM
  * audio and for all common image formats. Perceptual compressed codecs
  * (MP3/AAC/H.264...) are not decoded — the JDK genuinely has none.
  *
  * Encoders exist so tests and fixtures can synthesize valid payloads
  * deterministically; decoders never throw on malformed input (None).
  */
object MediaCodecs {

  final case class WavInfo(sampleRate: Int, channels: Int, bitsPerSample: Int,
                           nSamples: Int, durationMs: Double, rms: Double,
                           peak: Double, codec: String = "pcm")

  final case class BmpInfo(width: Int, height: Int, bitsPerPixel: Int,
                           meanR: Double, meanG: Double, meanB: Double)

  // ------------------------------------------------------------------ WAV

  /** Synthesize a mono 8-bit-unsigned-PCM WAV from raw sample bytes. */
  def encodeWav(samples: Array[Byte], sampleRate: Int): Array[Byte] = {
    val n = samples.length
    val buf = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("ASCII"))
      .put("fmt ".getBytes("ASCII")).putInt(16)
      .putShort(1.toShort)              // PCM
      .putShort(1.toShort)              // mono
      .putInt(sampleRate)
      .putInt(sampleRate)               // byte rate = rate * 1 ch * 1 B
      .putShort(1.toShort)              // block align
      .putShort(8.toShort)              // bits per sample
      .put("data".getBytes("ASCII")).putInt(n)
      .put(samples)
    buf.array()
  }

  /** Parsed `fmt ` chunk + `data` chunk location, shared by the codec
    * dispatchers below. */
  private final case class WavLayout(audioFormat: Int, channels: Int,
                                     rate: Int, bits: Int, blockAlign: Int,
                                     dataOff: Int, dataLen: Int)

  /** Walk the RIFF chunk list (fmt before data, unknown chunks — LIST,
    * fact, … — skipped as the spec allows) and locate fmt + data. */
  private def wavLayout(bytes: Array[Byte]): Option[WavLayout] = {
    if (bytes == null || bytes.length < 44) return None
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(bytes, off, 4, "ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None
    while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(off)
      val len = b.getInt(off + 4)
      // Long sum: a hostile chunk length near Int.MaxValue wraps
      // `off + 8 + len` negative and would slip past the bounds check,
      // then throw out of copyOfRange instead of decoding to None (the
      // bmpHeader hostile-header class).
      if (len < 0 || off.toLong + 8 + len > bytes.length) return None
      id match {
        case "fmt " if len >= 16 =>
          fmt = Some((b.getShort(off + 8).toInt, b.getShort(off + 10).toInt,
            b.getInt(off + 12), b.getShort(off + 22).toInt,
            b.getShort(off + 20).toInt))
        case "data" => data = Some((off + 8, len))
        case _ => ()
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    for ((af, ch, rate, bits, align) <- fmt; (dOff, dLen) <- data
         if rate > 0 && ch > 0)
      yield WavLayout(af, ch, rate, bits, align, dOff, dLen)
  }

  /** Parse a RIFF/WAVE payload. Codecs: PCM 8-bit unsigned / 16-bit signed
    * LE (format 1, streamed — samples never materialized), G.711 μ-law
    * (format 7) and mono IMA ADPCM (format 17, DVI4) — both decoded via
    * [[decodeWavSamples]]. Anything else (MP3-in-WAV, A-law, MS ADPCM …)
    * returns None and stays behind the labeled compressed-audio stub.
    */
  def decodeWav(bytes: Array[Byte]): Option[WavInfo] =
    wavLayout(bytes).flatMap {
      case WavLayout(1, channels, rate, bits, _, dOff, dLen)
          if bits == 8 || bits == 16 =>
        val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val bytesPerSample = bits / 8
        val frame = channels * bytesPerSample
        val nSamples = dLen / frame
        var sumSq = 0.0
        var peak = 0.0
        var i = 0
        while (i < nSamples * frame) {
          val v =
            if (bits == 8) ((bytes(dOff + i) & 0xff) - 128) / 128.0
            else b.getShort(dOff + i) / 32768.0
          sumSq += v * v
          val a = math.abs(v); if (a > peak) peak = a
          i += bytesPerSample
        }
        val total = nSamples.toLong * channels
        Some(WavInfo(rate, channels, bits, nSamples,
          nSamples * 1000.0 / rate,
          if (total == 0) 0.0 else math.sqrt(sumSq / total),
          peak))
      case l if l.audioFormat == 7 || l.audioFormat == 17 =>
        decodeWavSamples(bytes).map(_._1)
      case _ => None
    }

  // ------------------------------------------- G.711 μ-law (WAV format 7)

  /** G.711 μ-law codeword → 16-bit linear PCM (ITU-T G.711, public spec).
    * Closed form, integer-exact — with u = ~cw & 0xff:
    *   t = (((u & 15) << 3) + 132) << ((u >> 4) & 7)
    *   x = if (u & 128) 132 - t else t - 132
    * so a SQL oracle replays every decoded sample bit-identically
    * (range ±32124). */
  private[graft] val MuLawTable: Array[Short] = Array.tabulate(256) { cw =>
    val u = ~cw & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** Synthesize a mono μ-law WAV whose data bytes ARE the given codewords
    * (fixture generator — the raw-codeword framing is what keeps the decode
    * side oracle-checkable from the source text). */
  def encodeWavMulaw(codes: Array[Byte], sampleRate: Int): Array[Byte] = {
    val n = codes.length
    val buf = java.nio.ByteBuffer.allocate(12 + 26 + 12 + 8 + n + (n & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("ASCII")).putInt(26 + 12 + 8 + n + (n & 1) + 4)
      .put("WAVE".getBytes("ASCII"))
      .put("fmt ".getBytes("ASCII")).putInt(18)
      .putShort(7.toShort)              // G.711 μ-law
      .putShort(1.toShort)              // mono
      .putInt(sampleRate)
      .putInt(sampleRate)               // byte rate = rate * 1 ch * 1 B
      .putShort(1.toShort)              // block align
      .putShort(8.toShort)              // bits per codeword
      .putShort(0.toShort)              // cbSize
      .put("fact".getBytes("ASCII")).putInt(4).putInt(n)
      .put("data".getBytes("ASCII")).putInt(n)
      .put(codes)
    buf.array()
  }

  // ------------------------------------------- IMA ADPCM (WAV format 17)

  /** IMA/DVI4 ADPCM step-size table (public IMA spec). */
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
    7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
    18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Step-index adjustment per 3-bit code magnitude (public IMA spec). */
  private[graft] val ImaIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Shared predictor update: given the 4-bit code, current step index and
    * prediction, return (newPred, newIndex). Used identically by encoder
    * and decoder, so encode→decode round-trips are deterministic. */
  private def imaStep(code: Int, pred: Int, index: Int): (Int, Int) = {
    val step = ImaStepTable(index)
    var delta = step >> 3
    if ((code & 4) != 0) delta += step
    if ((code & 2) != 0) delta += step >> 1
    if ((code & 1) != 0) delta += step >> 2
    val p0 = if ((code & 8) != 0) pred - delta else pred + delta
    val p = math.max(-32768, math.min(32767, p0))
    val i = math.max(0, math.min(88, index + ImaIndexTable(code & 7)))
    (p, i)
  }

  /** Encode mono 16-bit samples as a single-block IMA ADPCM WAV: 4-byte
    * block header (initial predictor int16, step index, reserved) + one
    * 4-bit code per remaining sample, low nibble first, zero-padded to a
    * whole byte. Decoded length is therefore 1 + 2*⌊n/2⌋ for n input
    * samples (the possible pad nibble decodes too — [[decodeWavSamples]]
    * deliberately does NOT trim to the fact chunk, keeping the count a
    * closed form the SQL oracle can state). */
  def encodeWavAdpcm(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val n = samples.length
    val dataBytes = if (n == 0) 0 else 4 + (n - 1 + 1) / 2
    val blockAlign = math.max(4, dataBytes)
    val nPerBlock = if (n == 0) 0 else 1 + 2 * ((n - 1 + 1) / 2)
    val buf = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + dataBytes + (dataBytes & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("ASCII"))
      .putInt(28 + 12 + 8 + dataBytes + (dataBytes & 1) + 4)
      .put("WAVE".getBytes("ASCII"))
      .put("fmt ".getBytes("ASCII")).putInt(20)
      .putShort(17.toShort)             // IMA/DVI4 ADPCM
      .putShort(1.toShort)              // mono
      .putInt(sampleRate)
      .putInt(sampleRate / 2)           // ~byte rate (4 bits/sample)
      .putShort(blockAlign.toShort)
      .putShort(4.toShort)              // bits per code
      .putShort(2.toShort)              // cbSize
      .putShort(nPerBlock.toShort)      // samples per block
      .put("fact".getBytes("ASCII")).putInt(4).putInt(n)
      .put("data".getBytes("ASCII")).putInt(dataBytes)
    if (n > 0) {
      var pred: Int = samples(0)
      var index = 0
      buf.putShort(samples(0)).put(0.toByte).put(0.toByte)
      def encodeOne(target: Int): Int = {
        var d = target - pred
        var c = 0
        if (d < 0) { c = 8; d = -d }
        val step = ImaStepTable(index)
        if (d >= step) { c |= 4; d -= step }
        if (d >= (step >> 1)) { c |= 2; d -= step >> 1 }
        if (d >= (step >> 2)) c |= 1
        val (p, ix) = imaStep(c, pred, index)
        pred = p; index = ix
        c
      }
      // n-1 real codes + one 0-target pad code when n-1 is odd, so every
      // byte holds two decodable nibbles (low nibble first)
      val nCodes = 2 * (n / 2)
      var i = 0
      while (i < nCodes) {
        val lo = encodeOne(if (i + 1 < n) samples(i + 1) else 0)
        val hi = encodeOne(if (i + 2 < n) samples(i + 2) else 0)
        buf.put((lo | (hi << 4)).toByte)
        i += 2
      }
    }
    buf.array()
  }

  /** Decode a mono 8-bit unsigned PCM WAV (format 1) to its sample rate
    * and raw sample bytes — the exact inverse of [[encodeWav]]. */
  def decodeWavPcm8(bytes: Array[Byte]): Option[(Int, Array[Byte])] =
    wavLayout(bytes).collect {
      case WavLayout(1, 1, rate, 8, _, dOff, dLen) =>
        (rate, java.util.Arrays.copyOfRange(bytes, dOff, dOff + dLen))
    }

  /** Decode a μ-law (format 7) or mono IMA ADPCM (format 17) WAV to its
    * 16-bit samples + stats. ADPCM walks `blockAlign`-sized blocks: 4-byte
    * header (predictor sample, step index) then two samples per data byte,
    * LOW nibble first; every nibble decodes (no fact-chunk trim — see
    * [[encodeWavAdpcm]]). */
  def decodeWavSamples(bytes: Array[Byte]): Option[(WavInfo, Array[Short])] =
    wavLayout(bytes).flatMap {
      case WavLayout(7, channels, rate, bits, _, dOff, dLen) if bits == 8 =>
        val out = new Array[Short](dLen)
        var i = 0
        while (i < dLen) { out(i) = MuLawTable(bytes(dOff + i) & 0xff); i += 1 }
        Some((mkInfo(rate, channels, 8, dLen / channels, "mulaw", out), out))
      case WavLayout(17, 1, rate, bits, blockAlign, dOff, dLen)
          if bits == 4 && blockAlign >= 4 =>
        val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = Array.newBuilder[Short]
        var n = 0
        var blk = dOff
        while (blk + 4 <= dOff + dLen) {
          val blkLen = math.min(blockAlign, dOff + dLen - blk)
          var pred: Int = b.getShort(blk)
          var index = math.max(0, math.min(88, bytes(blk + 2) & 0xff))
          out += pred.toShort; n += 1
          var i = blk + 4
          while (i < blk + blkLen) {
            val byte = bytes(i) & 0xff
            var half = 0
            while (half < 2) {
              val code = if (half == 0) byte & 0x0f else (byte >> 4) & 0x0f
              val (p, ix) = imaStep(code, pred, index)
              pred = p; index = ix
              out += pred.toShort; n += 1
              half += 1
            }
            i += 1
          }
          blk += blockAlign
        }
        val samples = out.result()
        Some((mkInfo(rate, 1, 4, samples.length, "ima_adpcm", samples), samples))
      case _ => None
    }

  private def mkInfo(rate: Int, channels: Int, bits: Int, nSamples: Int,
                     codec: String, samples: Array[Short]): WavInfo = {
    var sumSq = 0.0
    var peak = 0.0
    var i = 0
    while (i < samples.length) {
      val v = samples(i) / 32768.0
      sumSq += v * v
      val a = math.abs(v); if (a > peak) peak = a
      i += 1
    }
    WavInfo(rate, channels, bits, nSamples, nSamples * 1000.0 / rate,
      if (samples.isEmpty) 0.0 else math.sqrt(sumSq / samples.length),
      peak, codec)
  }

  /** Integer-exact per-window energy over the DECODED 16-bit samples of a
    * μ-law or IMA ADPCM WAV: window w of `k` gets Σ sample² (each term
    * ≤ 32768², exact in long) and its sample count — same ⌊i·k/n⌋ window
    * rule as [[wavWindowEnergy]]. The μ-law variant is fully
    * oracle-replayable (closed-form decode, see [[MuLawTable]]). */
  def wavWindowEnergy16(bytes: Array[Byte], k: Int): Option[Array[(Long, Long)]] =
    decodeWavSamples(bytes).collect {
      case (_, samples) if samples.nonEmpty =>
        windowSums(samples.length, k)(samples(_).toLong)
    }

  /** RMS over `k` equal sample windows — a real per-window audio feature
    * (8-bit mono path; window boundaries by sample index).
    */
  def wavWindowRms(bytes: Array[Byte], k: Int): Array[Float] = {
    val out = new Array[Float](k)
    for ((dataOff, n) <- pcm8Data(bytes)) {
      val sumSq = new Array[Double](k)
      val cnt = new Array[Long](k)
      var i = 0
      while (i < n) {
        val w = (i.toLong * k / n).toInt
        val v = ((bytes(dataOff + i) & 0xff) - 128) / 128.0
        sumSq(w) += v * v; cnt(w) += 1
        i += 1
      }
      var w = 0
      while (w < k) {
        out(w) = if (cnt(w) == 0) 0f else math.sqrt(sumSq(w) / cnt(w)).toFloat
        w += 1
      }
    }
    out
  }

  /** Integer-exact per-window energy over 8-bit mono PCM: window w of `k`
    * gets Σ(sample−128)² (exact in long — samples are 8-bit, so each term
    * ≤ 128² and 2⁶³ is unreachable at any real payload size) and its sample
    * count. The engine-exact sibling of [[wavWindowRms]]'s FP RMS
    * (rms_w = sqrt(sum_sq_w / (128² · n_w))) — pure integer arithmetic, so a
    * SQL oracle replays it bit-identically. Window boundaries by sample
    * index, same ⌊i·k/n⌋ rule as wavWindowRms.
    */
  def wavWindowEnergy(bytes: Array[Byte], k: Int): Option[Array[(Long, Long)]] =
    pcm8Data(bytes).map { case (dataOff, n) =>
      windowSums(n, k)(i => ((bytes(dataOff + i) & 0xff) - 128).toLong)
    }

  /** (data offset, sample count) of an 8-bit PCM WAV holding at least one
    * sample, from the [[wavLayout]] walk [[decodeWav]] also runs. The count
    * is [[decodeWav]]'s `nSamples` (frames), so the 8-bit window features
    * read the first `count` data bytes. */
  private def pcm8Data(bytes: Array[Byte]): Option[(Int, Int)] =
    wavLayout(bytes).collect {
      case WavLayout(1, channels, _, 8, _, dOff, dLen) if dLen / channels > 0 =>
        (dOff, dLen / channels)
    }

  /** Per window of `k`: Σ d(i)² and the sample count, sample i of `n` in
    * window ⌊i·k/n⌋ — the one window loop of both energy features. */
  private def windowSums(n: Int, k: Int)(d: Int => Long): Array[(Long, Long)] = {
    val sumSq = new Array[Long](k)
    val cnt = new Array[Long](k)
    var i = 0
    while (i < n) {
      val w = (i.toLong * k / n).toInt
      val v = d(i)
      sumSq(w) += v * v
      cnt(w) += 1
      i += 1
    }
    Array.tabulate(k)(w => (sumSq(w), cnt(w)))
  }

  // ------------------------------------------------------------------ BMP

  /** Synthesize a 24-bit uncompressed BMP (bottom-up rows, 4-byte padded)
    * from row-major top-down (r,g,b) pixels.
    */
  def encodeBmp(width: Int, height: Int, rgb: Array[(Byte, Byte, Byte)]): Array[Byte] = {
    require(rgb.length == width * height, "pixel count must be width*height")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val imageSize = (rowBytes + pad) * height
    val buf = java.nio.ByteBuffer.allocate(54 + imageSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + imageSize)
      .putInt(0).putInt(54)
      .putInt(40).putInt(width).putInt(height)
      .putShort(1.toShort).putShort(24.toShort)
      .putInt(0).putInt(imageSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(y * width + x)
        buf.put(b).put(g).put(r) // BGR on disk
        x += 1
      }
      var p = 0
      while (p < pad) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Validated 24-bit-BMP header: (width, height signed as stored, dataOff,
    * stride). All size math in Long so hostile headers (width·3 wrapping
    * Int, height = Int.MinValue) fail the bounds check instead of passing a
    * negative stride — shared by [[decodeBmp]] and [[decodeBmpRgb]].
    */
  private def bmpHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 54) return None
    if (bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) return None
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOff = b.getInt(10)
    if (b.getInt(14) < 40) return None
    val width = b.getInt(18)
    val height = b.getInt(22)
    if (width <= 0 || height == 0 || height == Int.MinValue ||
        b.getShort(28).toInt != 24 || b.getInt(30) != 0) return None
    val h = math.abs(height).toLong
    val rowBytes = width.toLong * 3
    val stride = rowBytes + (4 - rowBytes % 4) % 4
    if (dataOff < 54 || stride > Int.MaxValue ||
        width.toLong * h > Int.MaxValue ||
        dataOff.toLong + stride * h > bytes.length) return None
    Some((width, height, dataOff, stride.toInt))
  }

  /** Parse a 24-bit uncompressed BITMAPINFOHEADER BMP; channel means over
    * all pixels.
    */
  def decodeBmp(bytes: Array[Byte]): Option[BmpInfo] = {
    val (width, height, dataOff, stride) = bmpHeader(bytes).getOrElse(return None)
    val bpp = 24
    val h = math.abs(height)
    var (sumR, sumG, sumB) = (0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      var x = 0
      val row = dataOff + y * stride
      while (x < width) {
        sumB += (bytes(row + x * 3) & 0xff)
        sumG += (bytes(row + x * 3 + 1) & 0xff)
        sumR += (bytes(row + x * 3 + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    val n = width.toDouble * h
    Some(BmpInfo(width, h, bpp, sumR / n, sumG / n, sumB / n))
  }

  /** 24-bit BMP → top-down row-major packed `0xRRGGBB` pixels — the exact
    * integer parser (oracle-replayable). Handles both bottom-up (positive
    * height) and top-down (negative height) rows.
    */
  def decodeBmpRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val (width, height, dataOff, stride) = bmpHeader(bytes).getOrElse(return None)
    val h = math.abs(height)
    val px = new Array[Int](width * h)
    var dy = 0
    while (dy < h) {
      val iy = if (height > 0) h - 1 - dy else dy // disk row → image row
      val row = dataOff + dy * stride
      var x = 0
      while (x < width) {
        val bb = bytes(row + x * 3) & 0xff
        val g = bytes(row + x * 3 + 1) & 0xff
        val r = bytes(row + x * 3 + 2) & 0xff
        px(iy * width + x) = (r << 16) | (g << 8) | bb
        x += 1
      }
      dy += 1
    }
    Some((width, h, px))
  }

  /** Packed-`0xRRGGBB` pixels of ANY supported image payload: the exact
    * BMP parser first, else the JDK ImageIO path (PNG/JPEG/GIF). Resize and
    * other pixel transforms read these, never a luma collapse. Never throws.
    */
  def decodeImageRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeBmpRgb(bytes).orElse {
      try {
        // memory-backed input stream (the default FileCache one writes a
        // temp file per payload on the executor) + bulk per-row getRGB
        val img = javax.imageio.ImageIO.read(
          new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes)))
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0 ||
            img.getWidth.toLong * img.getHeight > Int.MaxValue) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, px, y * w, w)
            y += 1
          }
          var i = 0
          while (i < px.length) { px(i) &= 0xffffff; i += 1 }
          Some((w, h, px))
        }
        // NonFatal only: an ImageIO OutOfMemoryError must fail the task,
        // not silently drop the image
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Grayscale pixels of ANY supported image payload: the ITU-R BT.601
    * integer luma (299·R + 587·G + 114·B) div 1000 of [[decodeImageRgb]]'s
    * pixels, converted in place. Exact, so a gray pixel (R=G=B=v) decodes
    * back to exactly v, and oracle-replayable on BMP; perceptual hashing
    * covers every format [[decodeImage]] sniffs. Never throws.
    */
  def decodeImageGray(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeImageRgb(bytes).map { case (w, h, px) =>
      var i = 0
      while (i < px.length) {
        val p = px(i)
        px(i) = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000
        i += 1
      }
      (w, h, px)
    }

  /** Synthesize a JPEG via the JDK encoder (fixture generation). */
  def encodeJpeg(width: Int, height: Int, rgb: Array[(Byte, Byte, Byte)]): Array[Byte] = {
    require(rgb.length == width * height, "pixel count must be width*height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(y * width + x)
        img.setRGB(x, y, ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  // --------------------------------------------- compressed images (JDK)

  /** Magic-byte sniff for the compressed image formats the JDK's ImageIO
    * decodes out of the box. Returns the MIME type, or None.
    */
  def imageFormat(bytes: Array[Byte]): Option[String] = {
    if (bytes == null || bytes.length < 4) return None
    def b(i: Int) = bytes(i) & 0xff
    if (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') Some("image/png")
    else if (b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff) Some("image/jpeg")
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') Some("image/gif")
    else None
  }

  /** Decode a PNG/JPEG/GIF payload via `javax.imageio` (ships in the JDK —
    * zero new dependencies) into the same dims + channel-means shape as
    * [[decodeBmp]]. Returns (mimeType, info); None for non-image or
    * malformed payloads (ImageIO returning null or throwing).
    */
  def decodeImage(bytes: Array[Byte]): Option[(String, BmpInfo)] =
    imageFormat(bytes).flatMap { fmt =>
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var (sumR, sumG, sumB) = (0.0, 0.0, 0.0)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sumR += (p >> 16) & 0xff
              sumG += (p >> 8) & 0xff
              sumB += p & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toDouble * h
          Some((fmt, BmpInfo(w, h, 24, sumR / n, sumG / n, sumB / n)))
        }
      } catch { case _: Exception => None }
    }

  /** Synthesize a PNG from RGB pixels (row-major) via the JDK encoder —
    * lossless, so decoded channel means are exactly the source means:
    * fixture generation for the oracle-checked compressed-decode path.
    */
  def encodePng(width: Int, height: Int, rgb: Array[(Byte, Byte, Byte)]): Array[Byte] = {
    require(rgb.length == width * height, "pixel count must be width*height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(y * width + x)
        img.setRGB(x, y, ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
}
