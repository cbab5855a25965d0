package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (extension mandate, SURVEY §2.3): image /
  * audio payloads as opaque `binary` columns beside a typed metadata
  * struct, with decode / windowed-energy / resize / frame-sampling
  * operators shaped for distributed batch execution.
  *
  * Decode is REAL for WAV (RIFF — PCM, G.711 μ-law, mono IMA ADPCM) and BMP
  * (parsed directly), for the compressed image formats — PNG/JPEG/GIF — via
  * the JDK's own `javax.imageio` (zero external dependencies), all through
  * [[graft.functions.MediaCodecs]], and for FLAC (full decoder:
  * FIXED/LPC/Rice/stereo-decorrelation, [[graft.functions.Flac]]).
  * PERCEPTUAL compressed-audio codecs (MP3/AAC...) are not decoded — the
  * JDK genuinely ships none — and [[decodeMedia]] flags such payloads
  * `unknown`. Every decode path shares one batch shape, [[mapPayload]]:
  * mapPartitions, per-partition init, no per-row driver work.
  */
object Multimodal {

  /** Demo media table derived from any (id, text) table: payload = utf-8
    * bytes, metadata derived deterministically. Stands in for a real
    * `binaryFile` scan of an object store.
    */
  def demoMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("fake/raw").as("format"),
        (pmod(crc32(encode(col(textCol), "UTF-8")), lit(512)) + 16).cast("int").as("width"),
        (pmod(crc32(reverse(col(textCol)).cast("binary")), lit(512)) + 16).cast("int").as("height"),
        (pmod(length(col(textCol)), lit(64)) + 1).cast("int").as("n_frames")
      ).as("meta"))

  /** Demo AUDIO table: each row's text rendered as a REAL mono 8-bit PCM
    * WAV (RIFF container, samples = the utf-8 bytes) — a valid payload any
    * WAV reader decodes. Synthesis is a fixture generator (UDF is fine off
    * the hot path); decode is the operator under test.
    */
  def demoWavTable(df: DataFrame, idCol: String, textCol: String,
                   sampleRate: Int = 8000): DataFrame =
    demoAudioTable(df, idCol, textCol)(
      graft.functions.MediaCodecs.encodeWav(_, sampleRate))

  /** Demo μ-law AUDIO table: each row's text framed as a REAL G.711 μ-law
    * WAV (format 7) whose codewords ARE the utf-8 bytes — decode is the
    * operator under test and, because μ-law decode is closed-form integer
    * arithmetic, fully SQL-oracle-replayable from the source text. */
  def demoMulawTable(df: DataFrame, idCol: String, textCol: String,
                     sampleRate: Int = 8000): DataFrame =
    demoAudioTable(df, idCol, textCol)(
      graft.functions.MediaCodecs.encodeWavMulaw(_, sampleRate))

  /** Demo IMA ADPCM AUDIO table: each row's text rendered as 16-bit samples
    * ((byte−128)·256) and compressed through the REAL IMA/DVI4 encoder —
    * a valid format-17 WAV any ADPCM-aware reader decodes. */
  def demoAdpcmTable(df: DataFrame, idCol: String, textCol: String,
                     sampleRate: Int = 8000): DataFrame =
    demoAudioTable(df, idCol, textCol) { bytes =>
      graft.functions.MediaCodecs.encodeWavAdpcm(
        bytes.map(b => (((b & 0xff) - 128) * 256).toShort), sampleRate)
    }

  /** Demo FLAC AUDIO table: each row's text rendered as 16-bit samples
    * ((byte−128)·256, the ADPCM fixture waveform) and compressed through
    * the REAL FLAC encoder ([[graft.functions.Flac.encode]] — FIXED/LPC
    * predictors, Rice residuals, CRC-8/16, STREAMINFO MD5). Lossless, so
    * the decode side is checkable sample-exactly. */
  def demoFlacTable(df: DataFrame, idCol: String, textCol: String,
                    sampleRate: Int = 8000): DataFrame =
    demoAudioTable(df, idCol, textCol) { bytes =>
      graft.functions.Flac.encode(bytes.map(b => ((b & 0xff) - 128) * 256), sampleRate)
    }

  /** (media_id, payload) with payload = `encode` of the text's utf-8 bytes:
    * the one fixture builder behind the demo audio tables. */
  private def demoAudioTable(df: DataFrame, idCol: String, textCol: String)(
      encode: Array[Byte] => Array[Byte]): DataFrame = {
    val payload = udf((t: String) =>
      encode(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    df.select(col(idCol).cast("long").as("media_id"),
      payload(col(textCol)).as("payload"))
  }

  val flacInfoSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bps", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("first_sample", IntegerType),
    StructField("sample_sum", LongType, nullable = false),
    StructField("weighted_sum", LongType, nullable = false),
    StructField("md5_ok", BooleanType, nullable = false)
  ))

  /** FLAC decode summary. Because FLAC is LOSSLESS, this reports
    * full-stream integer checksums — Σ sᵢ and the order-sensitive
    * Σ (i+1)·sᵢ over channel 0 — that an oracle can state in closed form
    * from the fixture waveform: the strongest decode-correctness probe of
    * any audio path here (the ADPCM sibling can only pin the first sample
    * in SQL). `md5_ok` re-hashes the decoded PCM against the STREAMINFO
    * signature. Non-FLAC payloads yield no rows. Same scale shape as every
    * decoder: mapPartitions, per-row sequential work, no shuffle. */
  def flacInfo(media: DataFrame): DataFrame =
    mapPayload(media) { (id, bytes) =>
      graft.functions.Flac.decode(bytes).map { case (info, chans) =>
        val c0 = if (chans.isEmpty) Array.emptyIntArray else chans(0)
        var sum = 0L; var wsum = 0L; var i = 0
        while (i < c0.length) { sum += c0(i); wsum += (i + 1L) * c0(i); i += 1 }
        Row(id, "audio/flac", info.sampleRate, info.channels, info.bitsPerSample,
          c0.length, if (c0.isEmpty) null else Int.box(c0(0)), sum, wsum, info.md5Ok)
      }
    }(Encoders.row(flacInfoSchema))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("duration_ms", DoubleType),
    StructField("rms", DoubleType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)
  ))

  /** REAL decode: dispatch on magic bytes (RIFF→WAV, BM→BMP), emit typed
    * per-modality metadata (audio: rate/samples/duration/RMS; image:
    * dims/channel means); unrecognized payloads pass through as
    * format="unknown" with null fields — flagged, never failing the batch.
    * mapPartitions keeps the decode loop executor-side and batch-shaped.
    */
  def decodeMedia(media: DataFrame): DataFrame = {
    import graft.functions.MediaCodecs
    mapPayload(media) { (id, bytes) =>
      Some(MediaCodecs.decodeWav(bytes) match {
        case Some(w) =>
          val fmt = w.codec match {
            case "mulaw"     => "audio/mulaw"
            case "ima_adpcm" => "audio/adpcm"
            case _           => "audio/wav"
          }
          Row(id, fmt, w.sampleRate, w.channels, w.nSamples,
            w.durationMs, w.rms, null, null, null, null, null)
        case None => MediaCodecs.decodeBmp(bytes) match {
          case Some(b) =>
            Row(id, "image/bmp", null, null, null, null, null,
              b.width, b.height, b.meanR, b.meanG, b.meanB)
          case None => MediaCodecs.decodeImage(bytes) match {
            case Some((fmt, m)) =>
              Row(id, fmt, null, null, null, null, null,
                m.width, m.height, m.meanR, m.meanG, m.meanB)
            case None =>
              Row(id, "unknown", null, null, null, null, null,
                null, null, null, null, null)
          }
        }
      })
    }(Encoders.row(decodedSchema))
  }

  val windowEnergySchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("window", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false)
  ))

  /** Integer-exact windowed audio energy: for each 8-bit-PCM WAV payload,
    * `k` rows of (window, Σ(sample−128)², sample count). Pure integer
    * arithmetic ([[graft.functions.MediaCodecs.wavWindowEnergy]]), so —
    * unlike a float RMS, whose float32 accumulation no SQL engine replays
    * ([[graft.functions.MediaCodecs.wavWindowRms]]) — a DuckDB oracle
    * recomputes it bit-identically (rms_w = sqrt(sum_sq/(128²·n)) is a
    * post-hoc scalar when a float is wanted). Same mapPartitions batch shape
    * as the other decode paths; non-WAV payloads yield no rows.
    */
  def windowEnergy(media: DataFrame, k: Int = 4): DataFrame =
    windowRows(media)(graft.functions.MediaCodecs.wavWindowEnergy(_, k))

  /** Integer-exact windowed energy over the DECODED 16-bit samples of
    * compressed-audio WAVs (μ-law / IMA ADPCM): `k` rows of
    * (window, Σ sample², count) per payload — the decoded-domain sibling of
    * [[windowEnergy]]. For μ-law the whole pipeline (decode included) is
    * closed-form integer arithmetic, so a DuckDB oracle recomputes it
    * bit-identically from the source text. Same mapPartitions batch shape;
    * non-decodable payloads yield no rows. */
  def windowEnergy16(media: DataFrame, k: Int = 4): DataFrame =
    windowRows(media)(graft.functions.MediaCodecs.wavWindowEnergy16(_, k))

  /** One [[windowEnergySchema]] row per (window, Σ sample², count) that
    * `windows` returns for a payload; payloads it declines yield no rows. */
  private def windowRows(media: DataFrame)(
      windows: Array[Byte] => Option[Array[(Long, Long)]]): DataFrame =
    mapPayload(media) { (id, bytes) =>
      windows(bytes).iterator.flatMap(_.iterator.zipWithIndex.map {
        case ((sq, n), w) => Row(id, w, sq, n)
      })
    }(Encoders.row(windowEnergySchema))

  val audioInfoSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("first_sample", IntegerType),
    StructField("duration_ms", DoubleType, nullable = false)
  ))

  /** Audio container/codec summary with the decoded FIRST sample — for the
    * block-header codecs (IMA ADPCM stores the initial predictor verbatim)
    * this is the decode-correctness probe an oracle CAN state in SQL even
    * though the full nibble stream is sequential-stateful. Non-audio
    * payloads yield no rows. */
  def audioInfo(media: DataFrame): DataFrame =
    mapPayload(media) { (id, bytes) =>
      graft.functions.MediaCodecs.decodeWavSamples(bytes).map { case (info, samples) =>
        val fmt = if (info.codec == "mulaw") "audio/mulaw" else "audio/adpcm"
        Row(id, fmt, info.sampleRate, info.nSamples,
          if (samples.isEmpty) null else Int.box(samples(0).toInt), info.durationMs)
      }
    }(Encoders.row(audioInfoSchema))

  /** Frame sampling (video-shaped): split the payload into `meta.n_frames`
    * chunks, emit every `stride`-th chunk as (media_id, frame_no, frame_md5).
    * Pure column expressions — the explode keeps frames distributed without
    * materializing per-frame blobs on the driver.
    */
  def sampleFrames(media: DataFrame, stride: Int = 2): DataFrame = {
    val n = col("meta.n_frames")
    val frameLen = greatest(ceil(length(col("payload")) / n).cast("int"), lit(1))
    media
      .select(col("media_id"), col("payload"), n.as("n_frames"), frameLen.as("flen"))
      .select(col("media_id"),
        posexplode(transform(
          filter(sequence(lit(0), col("n_frames") - 1), f => f % stride === 0),
          f => md5(col("payload").substr(f * col("flen") + 1, col("flen"))))
        ).as(Seq("frame_no", "frame_md5")))
  }

  /** Shared map-only scaffold for every per-payload media operator: the
    * rows `f` returns for each (media_id, payload) row — one, several (a
    * row per window), or none for a payload it declines (undecodable /
    * wrong codec, the [[imageDHash]] convention). The file's only
    * `mapPartitions`: each operator is one lambda plus its encoder.
    */
  private def mapPayload[T](media: DataFrame)(f: (Long, Array[Byte]) => IterableOnce[T])(
      implicit enc: Encoder[T]): Dataset[T] = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap(r => f(r.getLong(idIdx), r.getAs[Array[Byte]](payloadIdx)))
    }
  }

  /** REAL image resize: decode (exact 24-bit BMP parser first, else JDK
    * ImageIO — full RGB, never a luma collapse) → nearest-neighbor integer
    * resample (source pixel of output (x, y) is (x·w div outW, y·h div
    * outH) — the same deterministic sampling rule [[dHash]]'s 9×8 grid
    * uses, so on the BMP fixtures the WHOLE decode→resample→re-encode
    * roundtrip replays in SQL from the pixel formula) → re-encode as
    * 24-bit BMP. Map-only, no shuffle; non-decodable payloads are dropped
    * (the [[imageDHash]] convention).
    */
  def resizeImages(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0 && outW.toLong * outH <= Int.MaxValue / 4,
      s"bad target dims ${outW}x$outH")
    import graft.functions.MediaCodecs
    mapPayload(media) { (id, bytes) =>
      MediaCodecs.decodeImageRgb(bytes).map { case (w, h, px) =>
        val out = new Array[(Byte, Byte, Byte)](outW * outH)
        var i = 0
        while (i < out.length) {
          // Long intermediates: (x·w) and (y·h) overflow Int for large
          // valid dims (w·h ≤ MaxInt does not bound x·w at big outW) —
          // the resampleAudio overflow class. The final index is < w·h.
          val sy = ((i / outW).toLong * h / outH).toInt
          val sx = ((i % outW).toLong * w / outW).toInt
          val p = px(sy * w + sx)
          out(i) = (((p >> 16) & 0xff).toByte, ((p >> 8) & 0xff).toByte,
            (p & 0xff).toByte)
          i += 1
        }
        (id, MediaCodecs.encodeBmp(outW, outH, out))
      }
    }(Encoders.tuple(
      Encoders.scalaLong,
      Encoders.BINARY)).toDF("media_id", "payload")
  }

  /** REAL audio resample (sample-rate conversion) for mono 8-bit PCM WAVs:
    * decode (RIFF parser, [[graft.functions.MediaCodecs.decodeWavPcm8]]) →
    * nearest-neighbor resample (source index of output j is
    * j·srcRate div dstRate, output length n·dstRate div srcRate — the
    * [[resizeImages]] sampling rule in one dimension, so the whole
    * decode→resample→re-encode roundtrip replays in SQL on the text-byte
    * fixtures) → re-encode at `dstRate`. Map-only, no shuffle; non-PCM8
    * payloads are dropped (the [[imageDHash]] convention).
    */
  def resampleAudio(media: DataFrame, dstRate: Int): DataFrame = {
    require(dstRate > 0, s"bad target rate $dstRate")
    import graft.functions.MediaCodecs
    mapPayload(media) { (id, bytes) =>
      MediaCodecs.decodeWavPcm8(bytes).map { case (srcRate, samples) =>
        val outL = samples.length.toLong * dstRate / srcRate
        // a caller error (absurd upsample factor), not bad data — fail
        // the task loudly instead of silently truncating the output
        require(outL <= Int.MaxValue - 8,
          s"resample of ${samples.length} samples $srcRate->$dstRate Hz " +
            s"would need $outL samples")
        val outN = outL.toInt
        val out = new Array[Byte](outN)
        var j = 0
        while (j < outN) {
          out(j) = samples((j.toLong * srcRate / dstRate).toInt)
          j += 1
        }
        (id, MediaCodecs.encodeWav(out, dstRate))
      }
    }(Encoders.tuple(
      Encoders.scalaLong,
      Encoders.BINARY)).toDF("media_id", "payload")
  }

  /** (media_id, sample_rate, samples) for every mono 8-bit PCM WAV payload
    * — the audio verification surface mirroring [[imageGrayPixels]]:
    * `samples` is the '|'-joined unsigned byte values in order. Map-only.
    */
  def audioPcmSamples(media: DataFrame): DataFrame = {
    import graft.functions.MediaCodecs
    mapPayload(media) { (id, bytes) =>
      MediaCodecs.decodeWavPcm8(bytes).map { case (rate, samples) =>
        (id, rate, samples.iterator.map(b => (b & 0xff).toString).mkString("|"))
      }
    }(Encoders.tuple(
      Encoders.scalaLong,
      Encoders.scalaInt,
      Encoders.STRING))
      .toDF("media_id", "sample_rate", "samples")
  }

  /** (media_id, width, height, pixels) for every decodable image payload —
    * the verification surface for decode/resize roundtrips: `pixels` is
    * the '|'-joined integer-luma grid in row-major order (exact for gray
    * fixtures, where luma(v,v,v) = v). Map-only.
    */
  def imageGrayPixels(media: DataFrame): DataFrame = {
    import graft.functions.MediaCodecs
    mapPayload(media) { (id, bytes) =>
      MediaCodecs.decodeImageGray(bytes).map { case (w, h, gray) =>
        (id, w, h, gray.mkString("|"))
      }
    }(Encoders.tuple(
      Encoders.scalaLong,
      Encoders.scalaInt,
      Encoders.scalaInt,
      Encoders.STRING))
      .toDF("media_id", "width", "height", "pixels")
  }

  // --------------------------------------------------- perceptual hashing

  /** 64-bit dHash (difference hash) of a grayscale image: nearest-neighbor
    * downsample to a 9×8 grid (integer sampling: sx = x·w div 9,
    * sy = y·h div 8), bit(x,y) = p(x+1,y) > p(x,y) — the standard
    * perceptual fingerprint for IMAGE near-dup detection (robust to
    * re-encoding and resizing, integer end-to-end so it replays in SQL).
    */
  private[graft] def dHash(w: Int, h: Int, gray: Array[Int]): Long = {
    var hash = 0L
    var y = 0
    while (y < 8) {
      val sy = y * h / 8
      var x = 0
      while (x < 8) {
        val a = gray(sy * w + (x * w / 9))
        val b = gray(sy * w + ((x + 1) * w / 9))
        if (b > a) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** (media_id, dhash) for every decodable image payload: 24-bit BMP via
    * the exact integer parser (oracle-replayable), PNG/JPEG/GIF via the
    * ImageIO pixels with the same integer luma. Non-images are dropped.
    * Map-only — the hash is the JOIN KEY for image dedup: exact perceptual
    * dups groupBy(dhash); near-dups band the 64 bits pigeonhole-style like
    * SimHash.
    */
  def imageDHash(media: DataFrame): DataFrame = {
    import graft.functions.MediaCodecs
    mapPayload(media) { (id, bytes) =>
      MediaCodecs.decodeImageGray(bytes).map { case (w, h, gray) =>
        (id, dHash(w, h, gray))
      }
    }(Encoders.tuple(
      Encoders.scalaLong,
      Encoders.scalaLong)).toDF("media_id", "dhash")
  }

  /** Demo IMAGE table: deterministic gray 24-bit BMPs whose pixel values,
    * like the audio fixtures, are pure integer arithmetic on a repetition
    * key (`id mod cycle`) — ids sharing the key render IDENTICAL images,
    * so perceptual-dedup results are recomputable in SQL from the formula
    * alone: v(x,y) = (k·31 + x·7 + y·13) mod 256, w = 16 + k mod 7,
    * h = 16 + k mod 5.
    */
  def demoBmpTable(df: DataFrame, idCol: String, cycle: Int,
                   tweaked: Boolean = false): DataFrame = {
    val bmp = udf { (id: Long) =>
      val k = (id % cycle).toInt
      val w = 16 + k % 7
      val h = 16 + k % 5
      val px = Array.tabulate(w * h) { i =>
        val base = (k * 31 + (i % w) * 7 + (i / w) * 13) % 256
        // the tweaked variant nudges ONE pixel — a visually-near image
        // whose dHash sits a few bits away, the near-dup fixture case
        val v = (if (tweaked && i % w == 3 && i / w == 3) (base + 64) % 256
                 else base).toByte
        (v, v, v)
      }
      graft.functions.MediaCodecs.encodeBmp(w, h, px)
    }
    df.select(col(idCol).cast("long").as("media_id"),
      bmp(col(idCol).cast("long")).as("payload"))
  }

  /** Image NEAR-dup pairs over a (media_id, dhash) table: the shared
    * pigeonhole multi-blocking core (`Dedup.bandedHammingJoin`) on the
    * full 64-bit hash — `maxDistance + 1` segments, per-segment equi-join,
    * exact Hamming verify; never an all-pairs join. maxDistance = 0 is an
    * exact-hash equi-join.
    */
  def imageNearDuplicates(hashes: DataFrame, maxDistance: Int = 3): DataFrame =
    Dedup.bandedHammingJoin(
      hashes.select(col("media_id").as("id"), col("dhash").as("sig")),
      bits = 64, maxDistance = maxDistance)

  /** Survivor-oriented image dedup: one `(survivor, dropped_id)` row per
    * NON-survivor member of each Hamming-≤`maxDistance` dHash cluster
    * (transitive closure of the [[imageNearDuplicates]] pair relation,
    * exact-hash pairs included), survivor = the cluster's min media_id —
    * the same 100 TB dedup shape as `Dedup.simhashDedupIds`, on the
    * wide-fingerprint dispatch path (64-bit hashes take the doc-level
    * segment join; the value space dwarfs any corpus so value collapse
    * buys nothing, and the CC label is the survivor directly).
    */
  def imageDedupIds(hashes: DataFrame, maxDistance: Int = 3): DataFrame =
    Dedup.hammingDedupIds(
      hashes.select(col("media_id").as("id"), col("dhash").as("sig")),
      bits = 64, maxDistance = maxDistance)
}
