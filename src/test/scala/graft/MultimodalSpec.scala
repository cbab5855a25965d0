package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema shape, REAL WAV/BMP decode (pure-JVM byte
  * parsing — no codec libs needed for those formats), JDK-ImageIO image
  * decode, frame sampling stride semantics.
  */
class MultimodalSpec extends SparkSpec {
  import graft.functions.MediaCodecs
  import spark.implicits._

  private def media = Multimodal.demoMediaTable(
    Seq((1L, "some text payload for media"), (2L, "x")).toDF("id", "text"), "id", "text")

  test("demo media table shape: media_id, payload binary, meta struct") {
    val df = media
    assert(df.columns.contains("media_id") && df.columns.contains("payload"))
    val meta = df.select("meta.*").columns.toSet
    assert(Set("width", "height", "n_frames").subsetOf(meta))
  }

  test("resizeImages: nearest-neighbor resample matches the fixture pixel formula") {
    val bmp = Multimodal.demoBmpTable(
      Seq(0L, 7L, 23L).toDF("id"), "id", cycle = 50)
    val out = Multimodal.imageGrayPixels(Multimodal.resizeImages(bmp, 8, 8))
      .orderBy("media_id").collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getInt(1) == 8 && r.getInt(2) == 8))
    out.foreach { r =>
      val k = (r.getLong(0) % 50).toInt
      val (w, h) = (16 + k % 7, 16 + k % 5)
      val exp = (0 until 64).map { i =>
        (k * 31 + (i % 8 * w / 8) * 7 + (i / 8 * h / 8) * 13) % 256
      }.mkString("|")
      assert(r.getString(3) == exp, s"media ${r.getLong(0)}")
    }
    // non-decodable payloads are dropped, not errored
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    assert(Multimodal.resizeImages(junk, 4, 4).count() == 0)
  }

  test("resampleAudio: nearest-neighbor down- and up-sampling are sample-exact") {
    val wav = Multimodal.demoWavTable(
      Seq((1L, "abcdefghij")).toDF("id", "t"), "id", "t") // bytes 97..106 @ 8000 Hz
    def dump(rate: Int): (Int, Seq[Int]) = {
      val r = Multimodal.audioPcmSamples(
        Multimodal.resampleAudio(wav, rate)).head()
      (r.getInt(1), r.getString(2).split('|').map(_.toInt).toSeq)
    }
    // ÷2: output j reads source 2j
    assert(dump(4000) == ((4000, Seq(97, 99, 101, 103, 105))))
    // ×2: output j reads source j div 2
    assert(dump(16000) == ((16000,
      (97 to 106).flatMap(v => Seq(v, v)))))
    // identity rate is a byte-exact roundtrip
    assert(dump(8000) == ((8000, (97 to 106).toSeq)))
    // non-PCM8 payloads are dropped, not errored
    val junk = Seq((9L, Array[Byte](82, 73, 70, 70))).toDF("media_id", "payload")
    assert(Multimodal.resampleAudio(junk, 4000).count() == 0)
  }

  test("sampleFrames keeps every stride-th frame, renumbered densely") {
    val frames = Multimodal.sampleFrames(media, stride = 2)
      .filter(col("media_id") === 1).orderBy("frame_no").collect()
    val nos = frames.map(_.getAs[Int]("frame_no")).toSeq
    assert(nos == nos.indices.toSeq, "frame_no must be dense 0..k")
  }

  test("WAV round-trip: encode -> decode recovers header and sample stats") {
    // constant sample 228 -> v = (228-128)/128 = 0.78125 for every sample
    val samples = Array.fill(400)(228.toByte)
    val wav = MediaCodecs.encodeWav(samples, sampleRate = 8000)
    val info = MediaCodecs.decodeWav(wav).get
    assert(info.sampleRate == 8000 && info.channels == 1 && info.bitsPerSample == 8)
    assert(info.nSamples == 400 && info.durationMs == 50.0)
    assert(math.abs(info.rms - 0.78125) < 1e-12 && info.peak == 0.78125)
  }

  test("WAV decode walks past unknown chunks and rejects non-PCM") {
    val samples = Array[Byte](0, 127.toByte, 255.toByte)
    val plain = MediaCodecs.encodeWav(samples, 16000)
    // splice a junk 6-byte "LIST" chunk between fmt and data
    val junk = "LIST".getBytes("ASCII") ++ Array[Byte](6, 0, 0, 0, 1, 2, 3, 4, 5, 6)
    val spliced = plain.take(36) ++ junk ++ plain.drop(36)
    val info = MediaCodecs.decodeWav(spliced).get
    assert(info.nSamples == 3 && info.sampleRate == 16000)
    // flip the audio-format field to 2 (ADPCM) -> rejected
    val nonPcm = plain.clone(); nonPcm(20) = 2
    assert(MediaCodecs.decodeWav(nonPcm).isEmpty)
    assert(MediaCodecs.decodeWav("nonsense".getBytes("ASCII")).isEmpty)
  }

  test("16-bit PCM decode: samples parsed as signed little-endian") {
    // hand-build: 2 samples, 16-bit mono 1000 Hz: 16384 (0.5), -32768 (-1.0)
    val b = java.nio.ByteBuffer.allocate(44 + 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("ASCII")).putInt(40).put("WAVE".getBytes("ASCII"))
      .put("fmt ".getBytes("ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(1000).putInt(2000).putShort(2).putShort(16)
      .put("data".getBytes("ASCII")).putInt(4)
      .putShort(16384).putShort(Short.MinValue)
    val info = MediaCodecs.decodeWav(b.array()).get
    assert(info.bitsPerSample == 16 && info.nSamples == 2)
    assert(info.peak == 1.0)
    assert(math.abs(info.rms - math.sqrt((0.25 + 1.0) / 2)) < 1e-12)
  }

  test("BMP round-trip: encode -> decode recovers dims and channel means") {
    // 3x2 top-down pixels; width 3 -> row padding exercised (9 % 4 != 0)
    val px = Array[(Byte, Byte, Byte)](
      (255.toByte, 0, 0), (0, 255.toByte, 0), (0, 0, 255.toByte),
      (10, 20, 30), (40, 50, 60), (70, 80, 90))
    val bmp = MediaCodecs.encodeBmp(3, 2, px)
    val info = MediaCodecs.decodeBmp(bmp).get
    assert(info.width == 3 && info.height == 2 && info.bitsPerPixel == 24)
    assert(math.abs(info.meanR - (255 + 10 + 40 + 70) / 6.0) < 1e-12)
    assert(math.abs(info.meanG - (255 + 20 + 50 + 80) / 6.0) < 1e-12)
    assert(math.abs(info.meanB - (255 + 30 + 60 + 90) / 6.0) < 1e-12)
    assert(MediaCodecs.decodeBmp(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("decodeMedia dispatches on magic bytes; unknowns flagged not failed") {
    val rows = Seq(
      (1L, MediaCodecs.encodeWav(Array.fill(100)(200.toByte), 8000)),
      (2L, MediaCodecs.encodeBmp(2, 2, Array.fill(4)((9.toByte, 9.toByte, 9.toByte)))),
      (3L, "not media at all".getBytes("UTF-8"))
    ).toDF("media_id", "payload")
    val out = Multimodal.decodeMedia(rows).orderBy("media_id").collect()
    assert(out(0).getAs[String]("format") == "audio/wav")
    assert(out(0).getAs[Int]("n_samples") == 100)
    assert(out(1).getAs[String]("format") == "image/bmp")
    assert(out(1).getAs[Int]("width") == 2 && out(1).getAs[Double]("mean_r") == 9.0)
    assert(out(2).getAs[String]("format") == "unknown")
    assert(out(2).isNullAt(out(2).fieldIndex("sample_rate")))
  }

  test("windowEnergy: exact integer sums consistent with the float RMS") {
    // silence window: sum_sq 0; constant-192 window: 100 * 64^2 = 409600
    val samples = Array.fill(100)(128.toByte) ++ Array.fill(100)(192.toByte)
    val wav = MediaCodecs.encodeWav(samples, 8000)
    // the same WAV with an unknown LIST chunk before `data` (the "walks past
    // unknown chunks" splice): the data offset comes from the RIFF walk
    val list = "LIST".getBytes("ASCII") ++ Array[Byte](6, 0, 0, 0, 1, 2, 3, 4, 5, 6)
    val spliced = wav.take(36) ++ list ++ wav.drop(36)
    val df = Seq((1L, wav), (3L, spliced)).toDF("media_id", "payload")
    val byId = Multimodal.windowEnergy(df, k = 2)
      .orderBy("media_id", "window").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq }
    val rows = byId(1L)
    assert(rows == Seq((0, 0L, 100L), (1, 409600L, 100L)), s"got $rows")
    assert(byId(3L) == rows, s"spliced: ${byId(3L)}")
    assert(MediaCodecs.wavWindowRms(spliced, 2).toSeq == Seq(0.0f, 0.5f))
    // rms_w = sqrt(sum_sq / (128^2 * n)) reproduces the float path
    val rms = rows.map { case (_, sq, n) =>
      math.sqrt(sq.toDouble / (128.0 * 128.0 * n)).toFloat }
    assert(rms == Seq(0.0f, 0.5f))
    // non-WAV payloads yield no rows
    val junk = Seq((2L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    assert(Multimodal.windowEnergy(junk, k = 2).count() == 0)
  }

  test("G.711 mu-law decode table matches the spec's reference points") {
    // ITU-T G.711 reference values: 0x00 -> -32124 (max negative),
    // 0x80 -> +32124 (max positive), 0xFF -> 0 (+0), 0x7F -> 0 (-0)
    assert(MediaCodecs.MuLawTable(0x00) == -32124)
    assert(MediaCodecs.MuLawTable(0x80) == 32124)
    assert(MediaCodecs.MuLawTable(0xff) == 0)
    assert(MediaCodecs.MuLawTable(0x7f) == 0)
    // smallest nonzero steps: 0xFE (u=1, positive) -> +8; 0x7E (u=0x81,
    // sign bit set) -> -8
    assert(MediaCodecs.MuLawTable(0xfe) == 8)
    assert(MediaCodecs.MuLawTable(0x7e) == -8)
    // closed form holds for every codeword (the SQL oracle's expression)
    (0 until 256).foreach { cw =>
      val u = 255 - cw
      val t = ((u % 16) * 8 + 132) * (1 << ((u / 16) % 8))
      val x = if (u >= 128) 132 - t else t - 132
      assert(MediaCodecs.MuLawTable(cw) == x, s"cw=$cw")
    }
  }

  test("mu-law WAV round-trip: codewords decode via the table, stats real") {
    val codes = Array[Byte](0, 0x80.toByte, 0xff.toByte, 65, 66)
    val wav = MediaCodecs.encodeWavMulaw(codes, 8000)
    val info = MediaCodecs.decodeWav(wav).get
    assert(info.codec == "mulaw" && info.sampleRate == 8000 &&
      info.nSamples == 5 && info.channels == 1)
    assert(info.peak == 32124 / 32768.0)
    val (_, samples) = MediaCodecs.decodeWavSamples(wav).get
    assert(samples.toSeq == codes.toSeq.map(c => MediaCodecs.MuLawTable(c & 0xff)))
  }

  test("IMA ADPCM round-trip: header exact, constant signal lossless, ramp tracks") {
    // constant signal: diff 0 -> code 0 -> delta = step>>3 = 0 at index 0,
    // so every decoded sample equals the input exactly
    val const = Array.fill[Short](41)(1234)
    val dec1 = MediaCodecs.decodeWavSamples(
      MediaCodecs.encodeWavAdpcm(const, 8000)).get
    assert(dec1._1.codec == "ima_adpcm" && dec1._1.sampleRate == 8000)
    assert(dec1._2.length == 1 + 2 * (const.length / 2)) // 41 in, 41 out
    assert(dec1._2.forall(_ == 1234))
    // gentle ramp: reconstruction tracks within the adaptive step bound
    val ramp = Array.tabulate[Short](200)(i => (i * 16).toShort)
    val dec2 = MediaCodecs.decodeWavSamples(
      MediaCodecs.encodeWavAdpcm(ramp, 8000)).get._2
    assert(dec2(0) == 0) // header predictor = first input sample, verbatim
    ramp.indices.foreach { i =>
      assert(math.abs(dec2(i) - ramp(i)) <= 64,
        s"sample $i: ${dec2(i)} vs ${ramp(i)}")
    }
    // even input count: one pad nibble decodes -> n+1 samples out
    val even = Array.tabulate[Short](10)(i => (100 * i).toShort)
    assert(MediaCodecs.decodeWavSamples(
      MediaCodecs.encodeWavAdpcm(even, 8000)).get._2.length == 11)
    // decode is deterministic (same payload, same samples)
    val p = MediaCodecs.encodeWavAdpcm(ramp, 8000)
    assert(MediaCodecs.decodeWavSamples(p).get._2.toSeq ==
      MediaCodecs.decodeWavSamples(p).get._2.toSeq)
  }

  test("decodeMedia labels mu-law and ADPCM formats; PCM paths unaffected") {
    val rows = Seq(
      (1L, MediaCodecs.encodeWavMulaw("hello".getBytes("ASCII"), 8000)),
      (2L, MediaCodecs.encodeWavAdpcm(Array.fill[Short](9)(7), 16000)),
      (3L, MediaCodecs.encodeWav(Array.fill(10)(128.toByte), 8000))
    ).toDF("media_id", "payload")
    val out = Multimodal.decodeMedia(rows).orderBy("media_id").collect()
    assert(out(0).getAs[String]("format") == "audio/mulaw")
    assert(out(1).getAs[String]("format") == "audio/adpcm")
    assert(out(1).getAs[Int]("n_samples") == 9)
    assert(out(2).getAs[String]("format") == "audio/wav")
    // 8-bit-PCM-only ops ignore the compressed codecs (codeword bytes must
    // never be misread as PCM samples)
    assert(MediaCodecs.wavWindowEnergy(
      MediaCodecs.encodeWavMulaw("abc".getBytes("ASCII"), 8000), 2).isEmpty)
  }

  test("windowEnergy16 and audioInfo: exact decoded-domain results") {
    // mu-law: 4 identical codewords 'A' -> all samples = table('A')
    val s = MediaCodecs.MuLawTable('A'.toInt).toLong
    val df = Seq((1L, MediaCodecs.encodeWavMulaw("AAAA".getBytes("ASCII"), 8000)))
      .toDF("media_id", "payload")
    val rows = Multimodal.windowEnergy16(df, k = 2)
      .orderBy("window").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq((0, 2 * s * s, 2L), (1, 2 * s * s, 2L)), s"got $rows")
    val adpcm = Seq((2L, MediaCodecs.encodeWavAdpcm(Array.fill[Short](5)(-300), 8000)))
      .toDF("media_id", "payload")
    val info = Multimodal.audioInfo(adpcm).collect()(0)
    assert(info.getAs[String]("format") == "audio/adpcm")
    assert(info.getAs[Int]("n_samples") == 5)
    assert(info.getAs[Int]("first_sample") == -300)
    assert(info.getAs[Double]("duration_ms") == 5 * 1000.0 / 8000)
  }

  test("JPEG round-trip: decodeImage/decodeImageGray give dims and near-exact color") {
    // solid 16x16 frames: JPEG is lossy but a solid image decodes to a
    // near-constant one (DC-only blocks), so means and luma land within ±2
    val colors = Seq((200, 30, 60), (10, 180, 90), (120, 120, 250))
    colors.foreach { case (r, g, b) =>
      val jpg = MediaCodecs.encodeJpeg(16, 16,
        Array.fill(256)((r.toByte, g.toByte, b.toByte)))
      val Some((fmt, i)) = MediaCodecs.decodeImage(jpg)
      assert(fmt == "image/jpeg" && i.width == 16 && i.height == 16)
      assert(math.abs(i.meanR - r) <= 2 && math.abs(i.meanG - g) <= 2 &&
        math.abs(i.meanB - b) <= 2,
        s"means (${i.meanR},${i.meanG},${i.meanB}) far from ($r,$g,$b)")
      val Some((w, h, gray)) = MediaCodecs.decodeImageGray(jpg)
      val luma = (299 * r + 587 * g + 114 * b) / 1000
      assert((w, h) == ((16, 16)) && gray.length == 256)
      assert(gray.forall(v => math.abs(v - luma) <= 2),
        s"gray ${gray.distinct.toSeq} far from luma $luma")
    }
    // a truncated JPEG and junk are None, not errors
    val jpg = MediaCodecs.encodeJpeg(2, 2, Array.fill(4)((1.toByte, 2.toByte, 3.toByte)))
    assert(MediaCodecs.decodeImageGray(jpg.take(4)).isEmpty)
    assert(MediaCodecs.decodeImage(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("dHash: identical images hash equal; a local edit flips few bits") {
    import graft.functions.MediaCodecs
    def grayBmp(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] =
      MediaCodecs.encodeBmp(w, h, Array.tabulate(w * h) { i =>
        val v = f(i % w, i / w).toByte; (v, v, v)
      })
    def hashOf(bytes: Array[Byte]): Long = {
      val Some((w, h, g)) = MediaCodecs.decodeImageGray(bytes)
      Multimodal.dHash(w, h, g)
    }
    val base = grayBmp(20, 17, (x, y) => (x * 11 + y * 5) % 256)
    assert(hashOf(base) == hashOf(grayBmp(20, 17, (x, y) => (x * 11 + y * 5) % 256)))
    // a single-pixel change perturbs at most a couple of grid cells
    val tweaked = grayBmp(20, 17, (x, y) =>
      if (x == 3 && y == 3) 255 else (x * 11 + y * 5) % 256)
    val dist = java.lang.Long.bitCount(hashOf(base) ^ hashOf(tweaked))
    assert(dist <= 4, s"hamming $dist after one-pixel edit")
    // a different image is far away
    val other = grayBmp(20, 17, (x, y) => (x * 37 + y * 101 + 7) % 256)
    assert(java.lang.Long.bitCount(hashOf(base) ^ hashOf(other)) > 10)
  }

  test("decodeImageGray: exact luma on a gray BMP, top-down orientation") {
    import graft.functions.MediaCodecs
    val bytes = MediaCodecs.encodeBmp(3, 2, Array.tabulate(6) { i =>
      val v = (i * 40).toByte; (v, v, v)
    })
    val Some((w, h, g)) = MediaCodecs.decodeImageGray(bytes)
    assert((w, h) == ((3, 2)))
    // encodeBmp takes top-down pixels; gray must come back in that order
    assert(g.toSeq == Seq(0, 40, 80, 120, 160, 200))
  }

  test("decodeImageGray: PNG round-trips to the same gray as the BMP path") {
    import graft.functions.MediaCodecs
    val px = Array.tabulate(20 * 17) { i =>
      val v = ((i * 11) % 256).toByte; (v, v, v)
    }
    val bmp = MediaCodecs.encodeBmp(20, 17, px)
    val png = MediaCodecs.encodePng(20, 17, px)
    val Some((bw, bh, bg)) = MediaCodecs.decodeImageGray(bmp)
    val Some((pw, ph, pg)) = MediaCodecs.decodeImageGray(png)
    assert((bw, bh) == ((pw, ph)) && bg.toSeq == pg.toSeq,
      "PNG (lossless) must yield identical gray → identical dHash")
    assert(Multimodal.dHash(bw, bh, bg) == Multimodal.dHash(pw, ph, pg))
  }

  test("imageNearDuplicates: tweaked variant pairs with its base, far images don't") {
    import spark.implicits._
    val base = Multimodal.demoBmpTable(Seq(0L, 1L, 2L).toDF("id"), "id", cycle = 10)
    val tweaked = Multimodal.demoBmpTable(Seq(10L, 11L, 12L).toDF("id"), "id",
      cycle = 10, tweaked = true)
    val pairs = Multimodal.imageNearDuplicates(
      Multimodal.imageDHash(base.unionByName(tweaked)), maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every base must find its tweaked sibling within 3 bits
    val siblings = pairs.filter(p => p._2 - p._1 == 10).map(p => p._1 -> p._3).toMap
    assert(siblings.keySet == Set(0L, 1L, 2L), s"pairs: ${pairs.toSeq}")
    assert(siblings.values.forall(_ <= 3))
  }

  test("decodeBmpRgb: hostile headers return None, never throw") {
    import graft.functions.MediaCodecs
    val hostile = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hostile.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      .putInt(40).putInt(715827883).putInt(3) // width*3 wraps Int
      .putShort(1.toShort).putShort(24.toShort).putInt(0)
    assert(MediaCodecs.decodeBmpRgb(hostile.array()).isEmpty)
    val minH = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    minH.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      .putInt(40).putInt(4).putInt(Int.MinValue) // |height| overflows
      .putShort(1.toShort).putShort(24.toShort).putInt(0)
    assert(MediaCodecs.decodeBmpRgb(minH.array()).isEmpty)
    assert(MediaCodecs.decodeBmp(minH.array()).isEmpty)
  }

  test("decodeImageGray is the integer luma of decodeImageRgb") {
    val (w, h) = (7, 5)
    val px = Array.tabulate(w * h) { i =>
      ((i * 37 % 256).toByte, (i * 91 % 256).toByte, (255 - i * 13 % 256).toByte)
    }
    val bottomUp = MediaCodecs.encodeBmp(w, h, px)
    // the same image stored top-down: negative height, rows in image order
    val topDown = bottomUp.clone()
    val stride = (w * 3 + 3) / 4 * 4
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -h)
    (0 until h).foreach { r =>
      System.arraycopy(bottomUp, 54 + r * stride, topDown, 54 + (h - 1 - r) * stride, stride)
    }
    val gif = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      px.indices.foreach { i =>
        val (r, g, b) = px(i)
        img.setRGB(i % w, i / w, ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff))
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "gif", out), "no gif writer")
      out.toByteArray
    }
    assert(MediaCodecs.decodeImageRgb(topDown).get._3.toSeq ==
      MediaCodecs.decodeImageRgb(bottomUp).get._3.toSeq)
    Seq("bmp bottom-up" -> bottomUp, "bmp top-down" -> topDown,
        "png" -> MediaCodecs.encodePng(w, h, px),
        "jpeg" -> MediaCodecs.encodeJpeg(w, h, px),
        "gif" -> gif).foreach { case (name, bytes) =>
      val Some((rw, rh, rgb)) = MediaCodecs.decodeImageRgb(bytes)
      val Some((gw, gh, gray)) = MediaCodecs.decodeImageGray(bytes)
      assert((gw, gh) == ((rw, rh)) && (rw, rh) == ((w, h)), name)
      val luma = rgb.map(p =>
        (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000)
      assert(gray.toSeq == luma.toSeq, name)
    }
  }

  test("decoder operators return exactly their declared schemas") {
    import org.apache.spark.sql.types.StructType
    type Op = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    val declared = Seq[(String, Op, String)](
      ("flacInfo", Multimodal.flacInfo(_),
        "media_id BIGINT NOT NULL, format STRING NOT NULL, " +
        "sample_rate INT NOT NULL, channels INT NOT NULL, bps INT NOT NULL, " +
        "n_samples INT NOT NULL, first_sample INT, sample_sum BIGINT NOT NULL, " +
        "weighted_sum BIGINT NOT NULL, md5_ok BOOLEAN NOT NULL"),
      ("decodeMedia", Multimodal.decodeMedia(_),
        "media_id BIGINT NOT NULL, format STRING, sample_rate INT, " +
        "channels INT, n_samples INT, duration_ms DOUBLE, rms DOUBLE, width INT, " +
        "height INT, mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE"),
      ("windowEnergy", Multimodal.windowEnergy(_),
        "media_id BIGINT NOT NULL, `window` INT NOT NULL, " +
        "sum_sq BIGINT NOT NULL, n_samples BIGINT NOT NULL"),
      ("windowEnergy16", Multimodal.windowEnergy16(_),
        "media_id BIGINT NOT NULL, `window` INT NOT NULL, " +
        "sum_sq BIGINT NOT NULL, n_samples BIGINT NOT NULL"),
      ("audioInfo", Multimodal.audioInfo(_),
        "media_id BIGINT NOT NULL, format STRING NOT NULL, " +
        "sample_rate INT NOT NULL, n_samples INT NOT NULL, first_sample INT, " +
        "duration_ms DOUBLE NOT NULL"))
    val ramp = Array.tabulate(9)(i => (i * 20).toByte)
    val fixtures = Seq(
      (1L, MediaCodecs.encodeWav(ramp, 8000)),
      (2L, MediaCodecs.encodeWavMulaw(ramp, 8000)),
      (3L, MediaCodecs.encodeWavAdpcm(ramp.map(b => (b * 100).toShort), 8000)),
      (4L, graft.functions.Flac.encode(ramp.map(_ * 100), 8000)),
      (5L, MediaCodecs.encodeBmp(2, 1, Array.fill(2)((1.toByte, 2.toByte, 3.toByte)))),
      (6L, MediaCodecs.encodeWav(Array.emptyByteArray, 8000)),
      (7L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    val empty = fixtures.limit(0)
    declared.foreach { case (op, run, ddl) =>
      val want = StructType.fromDDL(ddl)
      Seq("empty" -> empty, "fixtures" -> fixtures).foreach { case (in, df) =>
        val out = run(df)
        assert(out.schema == want, s"$op on $in: ${out.schema.toDDL}")
        val rows = out.collect()
        assert(rows.forall(_.schema == want), s"$op on $in rows")
        assert(rows.isEmpty == (in == "empty"), s"$op on $in: ${rows.length} rows")
      }
    }
  }
}
