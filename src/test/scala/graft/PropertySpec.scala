package graft

import graft.model.JsonSchema
import graft.ops.InferSchema
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property suites (SURVEY §5.2): inference laws over generated ragged
  * record batches, schema diff algebra, PyJson float invariants. Raw
  * ScalaCheck generators driven from a fixed seed (the scalatest-scalacheck
  * bridge is not in the offline dependency cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val fieldGen = Gen.oneOf("a", "b", "c", "d", "e")
  private val recordGen: Gen[Map[String, Int]] =
    Gen.someOf(Seq("a", "b", "c", "d", "e")).suchThat(_.nonEmpty)
      .map(keys => keys.map(k => k -> k.hashCode).toMap)

  private def toJsonStr(m: Map[String, Int]): String =
    m.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  test("inference: properties=union, required=intersection, order-insensitive") {
    samples(Gen.nonEmptyListOf(recordGen), 12).foreach { batch =>
      val df = batch.map(toJsonStr).toDF("data")
      val s = InferSchema.infer(df, "data").get
      val union = batch.flatMap(_.keys).toSet
      val inter = batch.map(_.keySet).reduce(_ intersect _)
      assert(s.properties.keySet == union, s"batch $batch")
      assert(s.required.toSet == inter, s"batch $batch")
      val shuffled = InferSchema.infer(
        new scala.util.Random(7).shuffle(batch).map(toJsonStr).toDF("data"), "data").get
      assert(shuffled == s, s"order-sensitivity on $batch")
    }
  }

  /** A ragged record: an object (its keys drawn with repeats, so some
    * records repeat a key), or a malformed line, non-object JSON or null. */
  private val raggedGen: Gen[String] = {
    val value = Gen.oneOf("1", "2.5", "\"s\"", "true", "null", "[1]", "{\"x\": 1}")
    val pair = Gen.zip(Gen.oneOf("a", "b", "c", "d", "e"), value)
    val obj = Gen.choose(0, 7).flatMap(Gen.listOfN(_, pair))
      .map(_.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    Gen.frequency(20 -> obj, 1 -> Gen.oneOf("""{"a": """, "not json", ""),
      1 -> Gen.oneOf("[1, 2]", "42", "\"str\"", "null"), 1 -> Gen.const(null: String))
  }

  /** Typed inference as the collect_set vote computed it before the fold. */
  private def collectSetVote(df: org.apache.spark.sql.DataFrame): Option[JsonSchema] = {
    import org.apache.spark.sql.functions.{collect_set, count, lit}
    val total = df.count()
    if (total == 0) return None
    val rows = df.selectExpr("explode(graft_json_types(data)) AS kv")
      .groupBy($"kv.field".as("field"))
      .agg(count(lit(1)).as("n"), collect_set($"kv.t").as("types")).collect()
    val props = rows.map { r =>
      val t = r.getAs[scala.collection.Seq[String]]("types").toSeq.filterNot(_ == "null") match {
        case Seq(single) => single
        case ts if ts.toSet == Set("integer", "number") => "number"
        case Seq() => "null"
        case _ => "string"
      }
      r.getString(0) -> t
    }.toMap
    Some(JsonSchema(props, rows.filter(_.getLong(1) == total).map(_.getString(0)).toSeq.sorted))
  }

  test("inference fold: presence equals fieldPresence, typed vote equals collect_set") {
    val gen = Gen.zip(Gen.choose(0, 16).flatMap(Gen.listOfN(_, raggedGen)), Gen.choose(1, 8))
    val typed = samples(gen, 40).map { case (batch, parts) =>
      val df = batch.toDF("data").repartition(parts)
      val fold = InferSchema.votes(df, "data", parityStringify = true)
      val presence = InferSchema.fieldPresence(df, "data").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(fold.total == batch.size, s"batch $batch")
      assert(fold.fields.map { case (f, (n, _)) => f -> n }.toMap == presence, s"batch $batch")
      val schema = InferSchema.infer(df, "data", parityStringify = false)
      assert(schema == collectSetVote(df), s"batch $batch")
      schema
    }
    // the generator reaches batches with required fields
    assert(typed.exists(_.exists(_.required.nonEmpty)))
    val empty = Seq.empty[String].toDF("data")
    assert(InferSchema.infer(empty, "data").isEmpty)
    assert(InferSchema.infer(empty.repartition(3), "data", parityStringify = false).isEmpty)
  }

  test("schema diff: added/removed partition the symmetric difference") {
    samples(Gen.zip(Gen.listOf(fieldGen), Gen.listOf(fieldGen)), 200).foreach {
      case (oldF, newF) =>
        val o = JsonSchema(oldF.map(_ -> "string").toMap, Nil)
        val n = JsonSchema(newF.map(_ -> "string").toMap, Nil)
        val (added, removed) = JsonSchema.diff(o.fieldNames, n.fieldNames)
        assert(added.toSet == (n.fieldNames -- o.fieldNames))
        assert(removed.toSet == (o.fieldNames -- n.fieldNames))
        assert((added.toSet & removed.toSet).isEmpty)
        assert(added == added.sorted && removed == removed.sorted)
    }
  }

  test("PyJson float repr round-trips through Java parsing") {
    samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 2000).foreach { bits =>
      val v = java.lang.Double.longBitsToDouble(bits)
      if (!v.isNaN && !v.isInfinite) {
        val repr = graft.functions.PyJson.dumps(java.lang.Double.toString(v))
        assert(java.lang.Double.parseDouble(repr) == v, s"repr $repr of $v")
      }
    }
  }

  test("minhash signature is permutation-invariant under token-preserving shuffles of shingle order") {
    // signatures depend on the shingle SET (min over multiset) — reversing a
    // doc's sentence order changes shingles, but duplicating text does not
    val texts = Seq("one two three four five six seven eight nine ten")
    val doubled = texts.map(t => t + " " + t)
    val df = (texts ++ doubled).zipWithIndex.map(_.swap).toDF("id", "text")
    val sigs = df.orderBy("id")
      .select(graft.ops.Dedup.minhashSignature(col("text"), 16, 3))
      .collect().map(_.getSeq[Long](0).toSeq)
    // doubling "abc" adds shingles spanning the seam but keeps all originals:
    // every signature element can only decrease or stay
    sigs(0).zip(sigs(1)).foreach { case (orig, dup) => assert(dup <= orig) }
  }

  test("lshBucket kernel equals the per-plane when-chain on generated vectors") {
    // the r7 native kernel must reproduce the pre-r7 formulation bit-for-bit
    import org.apache.spark.sql.functions.{array, call_function, concat, lit, when}
    val vecCol = org.apache.spark.sql.functions.col("vec")
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 7.0))
    val vecs = samples(vecGen, 60).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("id", "vec")
    val planes = graft.ops.Similarity.planeWeights(8, 16)
    val oldForm = concat((0 until 8).map { p =>
      val plane = array(planes(p).map(w => lit(w)).toSeq: _*)
      when(call_function("graft_dot", vecCol.cast("array<double>"), plane) >= 0,
        lit("1")).otherwise(lit("0"))
    }: _*)
    val out = df.select(
      graft.ops.Similarity.lshBucket(vecCol, 8, 16).as("kernel"),
      oldForm.as("chain")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"kernel ${r.getString(0)} != chain ${r.getString(1)}"))
  }

  test("wavWindowEnergy is the exact integer form of wavWindowRms") {
    import graft.functions.MediaCodecs
    val bufGen = Gen.nonEmptyListOf(Gen.chooseNum(0, 255).map(_.toByte))
    samples(bufGen, 40).foreach { buf =>
      val wav = MediaCodecs.encodeWav(buf.toArray, 8000)
      val k = 1 + buf.length % 4
      val rms = MediaCodecs.wavWindowRms(wav, k)
      val energy = MediaCodecs.wavWindowEnergy(wav, k).get
      assert(energy.length == k && rms.length == k)
      energy.zip(rms).foreach { case ((sq, n), r) =>
        val recon =
          if (n == 0) 0f else math.sqrt(sq.toDouble / (128.0 * 128.0 * n)).toFloat
        assert(recon == r, s"sq=$sq n=$n recon=$recon rms=$r buf=${buf.take(8)}")
      }
      // total samples accounted for exactly once
      assert(energy.map(_._2).sum == buf.length.toLong)
    }
  }

  test("chardet-lite: UTF-8 text always survives; legacy decodes round-trip") {
    val sjisText = Gen.nonEmptyListOf(Gen.oneOf(
      "日", "本", "語", "テ", "キ", "ス", "ト", "漢", "字")).map(_.mkString)
    samples(sjisText, 30).foreach { t =>
      val bytes = t.getBytes(java.nio.charset.Charset.forName("Shift_JIS"))
      assert(graft.ingest.Readers.decodeFallback(bytes) == t,
        s"sjis round-trip failed for $t")
    }
    val asciiGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    samples(asciiGen, 30).foreach { t =>
      assert(graft.ingest.Readers.decodeFallback(t.getBytes("UTF-8")) == t)
    }
  }

  test("r12 micro-tail round-trips on generated text (UTF-7, HZ, ISO-2022-KR)") {
    def dec(bytes: Array[Byte]): String =
      graft.ingest.Readers.decodeFallback(bytes)
    // UTF-7: independent test-side encoder (RFC 2152 modified base64, all
    // non-direct chars encoded) + the +/v8- BOM; mixed ASCII/BMP text
    def encodeUtf7(s: String): Array[Byte] = {
      val b64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
      val out = new StringBuilder("+/v8-")
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c < 0x80 && c != '+') { out.append(c); i += 1 }
        else if (c == '+') { out.append("+-"); i += 1 }
        else {
          val run = new StringBuilder
          while (i < s.length && s.charAt(i) >= 0x80) { run.append(s.charAt(i)); i += 1 }
          var bits = 0L
          var nbits = 0
          out.append('+')
          run.foreach { rc =>
            bits = (bits << 16) | rc.toLong; nbits += 16
            while (nbits >= 6) {
              nbits -= 6; out.append(b64(((bits >> nbits) & 0x3f).toInt))
            }
          }
          if (nbits > 0) out.append(b64(((bits << (6 - nbits)) & 0x3f).toInt))
          out.append('-')
        }
      }
      out.toString.getBytes("US-ASCII")
    }
    val mixedGen = Gen.nonEmptyListOf(Gen.oneOf(
      "a", "Z", "3", " ", "+", "é", "Ω", "中", "한", "—", "🙂")).map(_.mkString)
    samples(mixedGen, 40).foreach { t =>
      assert(dec(encodeUtf7(t)) == t, s"utf-7 round-trip failed for $t")
    }
    // HZ: generated GB2312-repertoire text with interleaved ASCII runs
    def encodeHz(parts: Seq[(String, Boolean)]): Array[Byte] =
      parts.flatMap { case (txt, isGb) =>
        if (isGb)
          Array[Byte]('~', '{') ++
            txt.getBytes(java.nio.charset.Charset.forName("GB2312"))
              .map(x => (x & 0x7f).toByte) ++ Array[Byte]('~', '}')
        else txt.replace("~", "~~").getBytes("US-ASCII")
      }.toArray
    val hanGen = Gen.nonEmptyListOf(Gen.oneOf(
      "中", "文", "信", "息", "处", "理", "汉", "字", "测", "试")).map(_.mkString)
    val asciiRun = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '~', '.', ','))).map(_.mkString)
    val partsGen = Gen.nonEmptyListOf(Gen.zip(Gen.oneOf(true, false), hanGen, asciiRun)
      .map { case (gb, han, asc) => if (gb) (han, true) else (asc, false) })
    samples(partsGen, 40).foreach { parts0 =>
      // at least one GB section, else there is no '~{' gate to trip and
      // the stream (correctly) stays ASCII with its '~~' un-collapsed
      val parts = parts0 :+ ("汉字" -> true)
      val expected = parts.map(_._1).mkString
      assert(dec(encodeHz(parts)) == expected, s"hz round-trip failed for $parts")
    }
    // ISO-2022-KR via the JDK's own encoder
    val hangulGen = Gen.nonEmptyListOf(Gen.oneOf(
      "한", "국", "어", "글", "말", "세", "계", " ", "ok ")).map(_.mkString)
    samples(hangulGen, 30).foreach { t0 =>
      val t = t0.trim
      if (t.exists(_ >= 0x80)) { // pure-ASCII samples have no KR designator
        val bytes = t.getBytes(java.nio.charset.Charset.forName("ISO-2022-KR"))
        assert(dec(bytes) == t, s"iso-2022-kr round-trip failed for $t")
      }
    }
  }

  test("no binary decoder throws on arbitrary bytes (fuzz)") {
    import graft.functions.MediaCodecs
    val blobGen = Gen.oneOf(
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)),
      // adversarial: valid magic prefixes + junk tails
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(t => "RIFF".getBytes("ASCII").toList.map(b => b: Byte) ++ t),
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(t => "%PDF-1.4\n1 0 obj".getBytes("ASCII").toList.map(b => b: Byte) ++ t),
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(t => List[Byte]('B', 'M') ++ t))
    samples(blobGen, 120).foreach { blob =>
      val bytes = blob.toArray
      // None/empty/garbage are all acceptable; an exception is not
      MediaCodecs.decodeWav(bytes)
      MediaCodecs.decodeBmp(bytes)
      MediaCodecs.decodeImage(bytes)
      MediaCodecs.wavWindowEnergy(bytes, 4)
      MediaCodecs.wavWindowRms(bytes, 4)
      MediaCodecs.decodeWavSamples(bytes)
      MediaCodecs.wavWindowEnergy16(bytes, 4)
      graft.ingest.PdfText.extractPages(bytes)
      // the PDF stream filters take arbitrary compressed payloads straight
      // off untrusted files — fuzz them directly, not just via extractPages
      graft.ingest.PdfText.lzwDecode(bytes)
      graft.ingest.PdfText.asciiHexDecode(bytes)
      graft.ingest.PdfText.ascii85Decode(bytes)
      graft.ingest.PdfText.runLengthDecode(bytes)
      graft.ingest.Readers.decodeFallback(bytes)
      graft.ingest.Readers.parseXmlRecords(bytes)
      graft.ingest.Readers.parseDocxParagraphs(bytes)
      graft.ingest.Readers.parseHtml(bytes)
      graft.ingest.Readers.parseWarcResponses(bytes)
    }
  }

  test("mu-law/ADPCM WAV codecs round-trip on generated buffers (fuzz)") {
    import graft.functions.MediaCodecs
    val gen = for {
      n <- Gen.choose(0, 500)
      codes <- Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield codes
    samples(gen, 30).foreach { codes =>
      // mu-law: raw codewords round-trip through the table exactly
      val (info, samples16) =
        MediaCodecs.decodeWavSamples(MediaCodecs.encodeWavMulaw(codes, 8000)).get
      assert(info.nSamples == codes.length && info.codec == "mulaw")
      assert(samples16.toSeq == codes.toSeq.map(c => MediaCodecs.MuLawTable(c & 0xff)))
      // ADPCM: decoded length is the closed form, decode is deterministic
      val pcm = codes.map(b => (((b & 0xff) - 128) * 256).toShort)
      val wav = MediaCodecs.encodeWavAdpcm(pcm, 8000)
      val dec = MediaCodecs.decodeWavSamples(wav)
      if (pcm.isEmpty) assert(dec.exists(_._2.isEmpty) || dec.isEmpty)
      else {
        val got = dec.get._2
        assert(got.length == 1 + 2 * (pcm.length / 2))
        assert(got(0) == pcm(0)) // header predictor verbatim
      }
    }
  }

  test("WAV codec: encode/decode round-trips on generated sample buffers") {
    import graft.functions.MediaCodecs
    val bufGen = for {
      n <- Gen.choose(0, 3000)
      rate <- Gen.oneOf(8000, 16000, 44100)
      bytes <- Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (bytes, rate)
    samples(bufGen, 40).foreach { case (bytes, rate) =>
      val info = MediaCodecs.decodeWav(MediaCodecs.encodeWav(bytes, rate)).get
      assert(info.sampleRate == rate && info.nSamples == bytes.length)
      assert(info.channels == 1 && info.bitsPerSample == 8)
      assert(info.rms >= 0.0 && info.rms <= 1.0 && info.peak <= 1.0)
      assert(math.abs(info.durationMs - bytes.length * 1000.0 / rate) < 1e-9)
    }
    // decode never throws on arbitrary garbage
    samples(Gen.containerOfN[Array, Byte](64,
      Gen.choose(Byte.MinValue, Byte.MaxValue)), 60)
      .foreach(g => MediaCodecs.decodeWav(g)) // must not throw
  }

  test("BMP codec: encode/decode round-trips on generated images") {
    import graft.functions.MediaCodecs
    val imgGen = for {
      w <- Gen.choose(1, 17)
      h <- Gen.choose(1, 13)
      px <- Gen.containerOfN[Array, (Byte, Byte, Byte)](w * h,
        for { r <- Gen.choose(Byte.MinValue, Byte.MaxValue)
              g <- Gen.choose(Byte.MinValue, Byte.MaxValue)
              b <- Gen.choose(Byte.MinValue, Byte.MaxValue) } yield (r, g, b))
    } yield (w, h, px)
    samples(imgGen, 40).foreach { case (w, h, px) =>
      val info = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(w, h, px)).get
      assert(info.width == w && info.height == h)
      val n = (w * h).toDouble
      assert(math.abs(info.meanR - px.map(p => p._1 & 0xff).sum / n) < 1e-9)
      assert(math.abs(info.meanG - px.map(p => p._2 & 0xff).sum / n) < 1e-9)
      assert(math.abs(info.meanB - px.map(p => p._3 & 0xff).sum / n) < 1e-9)
    }
    samples(Gen.containerOfN[Array, Byte](64,
      Gen.choose(Byte.MinValue, Byte.MaxValue)), 60)
      .foreach(g => MediaCodecs.decodeBmp(g)) // must not throw
  }

  test("chunking partition law: stride=window chunks reassemble every doc") {
    val textGen = Gen.listOf(Gen.oneOf("alpha", "beta", "g", "dd", "ee1"))
      .map(_.mkString(" "))
    samples(Gen.listOfN(8, textGen), 10).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      for (w <- Seq(1, 3, 7)) {
        val rows = graft.ops.Chunking.chunkDocuments(df, "id", "text", w, w)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
        val rebuilt = rows.groupBy(_._1).view.mapValues(
          _.sortBy(_._2).map(_._3).mkString(" ")).toMap
        texts.zipWithIndex.foreach { case (t, i) =>
          val toks = t.trim.split("\\s+").filter(_ => t.trim.nonEmpty)
          val expect = toks.mkString(" ")
          assert(rebuilt.getOrElse(i.toLong, "") == expect,
            s"doc $i with window=$w: '$t'")
        }
      }
    }
  }

  test("zOrderKey is bijective and per-dimension monotone on generated grids") {
    val pairGen = Gen.zip(Gen.choose(0L, 31L), Gen.choose(0L, 31L))
    samples(Gen.listOfN(40, pairGen), 6).foreach { pts =>
      val df = pts.distinct.toDF("x", "y")
      val keyed = df.select(col("x"), col("y"),
        graft.ops.Layout.zOrderKey(Seq(col("x"), col("y")), 5).as("z"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      // injective on distinct points
      assert(keyed.map(_._2).distinct.length == keyed.length)
      // fixing one coordinate, z is strictly monotone in the other
      keyed.groupBy(_._1._2).values.foreach { row =>
        val sorted = row.sortBy(_._1._1)
        assert(sorted.map(_._2).toSeq == sorted.map(_._2).sorted.toSeq)
      }
      keyed.groupBy(_._1._1).values.foreach { colm =>
        val sorted = colm.sortBy(_._1._2)
        assert(sorted.map(_._2).toSeq == sorted.map(_._2).sorted.toSeq)
      }
    }
  }

  test("bloom has no false negatives on generated key sets") {
    val keysGen = Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))
    samples(keysGen, 8).foreach { keys =>
      val dim = keys.toDF("k")
      val bits = graft.ops.Bloom.build(dim, "k", m = 1 << 10, k = 3)
      val missed = dim.filter(!graft.ops.Bloom.mightContain(bits, col("k")))
        .count()
      assert(missed == 0, s"false negatives on $keys")
    }
  }

  test("mergeLatest is idempotent: re-applying the same updates is a no-op") {
    val rowGen = Gen.zip(Gen.choose(0L, 20L), Gen.alphaStr.map(_.take(4)),
      Gen.choose(0L, 5L))
    samples(Gen.zip(Gen.listOfN(30, rowGen), Gen.listOfN(10, rowGen)), 6)
      .foreach { case (baseRows, updRaw) =>
        // dedup (key, version) in updates — ties among updates themselves
        // are out of contract (caller pre-compacts)
        val updRows = updRaw.groupBy(r => (r._1, r._3)).values.map(_.head).toSeq
        val base = baseRows.groupBy(r => (r._1, r._3)).values.map(_.head)
          .toSeq.toDF("k", "v", "ver")
        val upd = updRows.toDF("k", "v", "ver")
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .sortBy(t => (t._1, t._3, t._2)).toSeq
        val once = graft.ops.Warehouse.mergeLatest(base, upd, Seq("k"), "ver")
        val twice = graft.ops.Warehouse.mergeLatest(once, upd, Seq("k"), "ver")
        assert(canon(twice) == canon(once))
      }
  }

  test("vocabCoverage closed form equals the per-token cumulative reference") {
    // The r14 rewrite replaced the per-token global-order window with a
    // histogram closed form (within a count-tie group every token adds the
    // same mass, so the crossing rank is n_before + ceil(need/(100·c))).
    // This pins the algebra: for generated corpora, the distributed result
    // must equal a brute-force per-token cumulative walk (ties by token).
    val wordGen = Gen.oneOf("ba", "qu", "xo", "ze", "mi", "ta", "re", "lu")
    val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))
    samples(Gen.nonEmptyListOf(docGen), 8).foreach { docs =>
      val df = docs.toDF("text")
      val got = graft.ops.TextAnalysis.vocabCoverage(df, "text")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      // brute force: token counts, order (c desc, w asc), walk the cumsum
      val counts = docs.flatMap(_.trim.toLowerCase.split("\\s+"))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (w, c) => (-c, w) }
      val total = counts.map(_._2).sum
      val cums = counts.scanLeft(0L)(_ + _._2).drop(1) // inclusive cumsum
      val expected = Seq(50, 90, 95, 99).map { pct =>
        val rank = cums.indexWhere(c => 100L * c >= pct * total) + 1L
        (pct, rank, total)
      }
      assert(got == expected, s"docs=$docs")
    }
  }

  test("minhash collapse law: collapsed == per-doc on random duplicated corpora") {
    // Random corpora with random duplication factors (including none and
    // heavy) — the collapse must be row-identical to the per-doc chain on
    // every draw, not just the hand-built fixture in DedupSpec.
    val word = Gen.oneOf("ba", "qu", "xo", "ze", "mi", "ta", "re", "lu", "ko")
    val docGen = Gen.chooseNum(0, 9).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpusGen = for {
      texts <- Gen.nonEmptyListOf(docGen)
      dups <- Gen.listOfN(texts.size, Gen.chooseNum(1, 4))
    } yield texts.zip(dups).zipWithIndex.flatMap { case ((t, d), i) =>
      (0 until d).map(c => (i * 10L + c, t))
    }
    samples(corpusGen, 5).foreach { rows =>
      val keyed = rows.toDF("id", "text")
        .select(col("id"), col("text").as("__text"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
          .sortBy(t => (t._1, t._2)).toSeq // bit-compare (NaN == NaN)
      val perDoc = canon(graft.ops.Dedup.minhashPerDoc(keyed, 0.6, 16, 4, 3))
      val collapsed = canon(graft.ops.Dedup.minhashCollapsed(keyed, 0.6, 16, 4, 3))
      assert(collapsed == perDoc, s"corpus=$rows")
    }
  }

  test("embedding collapse law: collapsed == per-doc on random duplicated vectors") {
    val vecGen = Gen.listOfN(3, Gen.chooseNum(-2, 2)).map(_.map(_.toDouble))
    val corpusGen = for {
      vecs <- Gen.nonEmptyListOf(vecGen) // includes zero vectors
      dups <- Gen.listOfN(vecs.size, Gen.chooseNum(1, 3))
    } yield vecs.zip(dups).zipWithIndex.flatMap { case ((v, d), i) =>
      (0 until d).map(c => (i * 10L + c, v))
    }
    samples(corpusGen, 5).foreach { rows =>
      val c = rows.toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<double>").as("vec"))
        .withColumn("bucket", graft.ops.Similarity.lshBucket(col("vec"), 4, 3))
        .withColumn("nrm", graft.ops.Similarity.norm(col("vec")))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
          .sortBy(t => (t._1, t._2)).toSeq
      val perDoc = canon(graft.ops.Similarity.embedPairsPerDoc(c, 0.8))
      val collapsed = canon(graft.ops.Similarity.embedPairsCollapsed(c, 0.8))
      assert(collapsed == perDoc, s"corpus=$rows")
    }
  }

  test("minhash label law: collapsed labels == per-doc labels on random duplicated corpora") {
    val word = Gen.oneOf("ba", "qu", "xo", "ze", "mi", "ta", "re", "lu", "ko")
    val docGen = Gen.chooseNum(0, 9).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpusGen = for {
      texts <- Gen.nonEmptyListOf(docGen)
      dups <- Gen.listOfN(texts.size, Gen.chooseNum(1, 4))
    } yield texts.zip(dups).zipWithIndex.flatMap { case ((t, d), i) =>
      (0 until d).map(c => (i * 10L + c, t))
    }
    def canonL(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    samples(corpusGen, 5).foreach { rows =>
      val df = rows.toDF("id", "text")
      graft.ops.Materialize.scoped {
        val collapsed = canonL(graft.ops.Dedup.minhashLabels(df, "id", "text",
          0.6, 16, 4, 3, Some(true)))
        val perDoc = canonL(graft.ops.Dedup.minhashLabels(df, "id", "text",
          0.6, 16, 4, 3, Some(false)))
        assert(collapsed == perDoc, s"corpus=$rows")
      }
    }
  }

  test("embedding label law: embeddingDedupIds == closure-minus-min of per-doc pairs") {
    // Every draw carries a duplicated-or-single zero vector; at threshold
    // 0.0 the zero vector's self-cosine (0) clears the threshold, at 0.8
    // it does not — both paths must agree either way.
    val vecGen = Gen.listOfN(3, Gen.chooseNum(-2, 2)).map(_.map(_.toDouble))
    val corpusGen = for {
      vecs <- Gen.listOf(vecGen).map(List(0.0, 0.0, 0.0) :: _)
      dups <- Gen.listOfN(vecs.size, Gen.chooseNum(1, 3))
    } yield vecs.zip(dups).zipWithIndex.flatMap { case ((v, d), i) =>
      (0 until d).map(c => (i * 10L + c, v))
    }
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    for (rows <- samples(corpusGen, 4); threshold <- Seq(0.8, 0.0)) {
      val corpus = rows.toDF("id", "vec")
      val c = corpus
        .select(col("id"), col("vec").cast("array<double>").as("vec"))
        .withColumn("bucket", graft.ops.Similarity.lshBucket(col("vec"), 4, 3))
        .withColumn("nrm", graft.ops.Similarity.norm(col("vec")))
      val expected = canon2(graft.ops.Dedup.connectedComponents(
          graft.ops.Similarity.embedPairsPerDoc(c, threshold).select("id_a", "id_b"))
        .filter(col("id") =!= col("component"))
        .select(col("component"), col("id")))
      graft.ops.Materialize.scoped {
        val got = canon2(graft.ops.Similarity.embeddingDedupIds(corpus, threshold, 4, 3))
        assert(got == expected, s"threshold=$threshold corpus=$rows")
      }
    }
  }

  test("semanticDedup collapse law: dropped ids identical on random assignments") {
    // Random (id, iv, cluster) tables with duplicated quantized vectors
    // (incl. zero vectors) across a few clusters: the group-collapsed
    // min-neighborhood scan must drop exactly the per-doc scan's ids.
    val ivGen = Gen.listOfN(3, Gen.chooseNum(-2L, 2L))
    val asgGen = for {
      vecs <- Gen.nonEmptyListOf(ivGen)
      dups <- Gen.listOfN(vecs.size, Gen.chooseNum(1, 3))
      clusters <- Gen.listOfN(vecs.size, Gen.chooseNum(0L, 2L))
    } yield vecs.zip(dups).zip(clusters).zipWithIndex.flatMap {
      case (((v, d), cl), i) => (0 until d).map(c => (i * 10L + c, v, cl))
    }
    samples(asgGen, 5).foreach { rows =>
      val withNorm = rows.toDF("id", "iv", "cluster")
        .withColumn("nrm",
          graft.ops.Similarity.dotQuantized(col("iv"), col("iv")))
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getLong(0)).sorted.toSeq
      val perDoc = ids(graft.ops.Similarity.semanticDupIdsPerDoc(withNorm, 9L, 10L))
      val collapsed = ids(graft.ops.Similarity.semanticDupIdsCollapsed(withNorm, 9L, 10L))
      assert(collapsed == perDoc, s"asg=$rows")
    }
  }

  test("hamming survivor core: value-graph survivors equal doc-level CC on random corpora") {
    // The two constructions share no code beyond the mask table: the
    // narrow path runs connected components over DISTINCT fingerprint
    // VALUES and expands through a membership join; the reference expands
    // value pairs to doc pairs first and runs CC doc-level. An 8-bit space
    // forces heavy value collisions (duplicate groups, isolated sigs,
    // multi-value clusters) on every sample.
    val corpusGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 255L))
    samples(corpusGen, 6).foreach { sigsList =>
      val hashes = sigsList.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("id", "sig")
      def canon2(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
      graft.ops.Materialize.scoped {
        val got = graft.ops.Dedup.hammingDedupIds(hashes, 8, 2)
        val expected = canon2(graft.ops.Dedup.connectedComponents(
            graft.ops.Dedup.bandedHammingJoin(hashes, 8, 2).select("id_a", "id_b"))
          .filter(col("id") =!= col("component"))
          .select(col("component"), col("id")))
        assert(canon2(got) == expected, s"corpus $sigsList")
      }
    }
  }

  test("jaccardDistinct equals the literal intersect/union form on random distinct sets") {
    // Inclusion-exclusion (|A∪B| = |A|+|B|−|A∩B|) is exact only because
    // both sides are array_distinct-ed; this pins the rewritten verify-join
    // kernel to the textbook formula bit-for-bit on every reachable input
    // (one side non-empty — the both-empty corner throws DIVIDE_BY_ZERO
    // under ANSI in BOTH forms, and the companion test below shows no
    // call site can produce it).
    import org.apache.spark.sql.functions.{array_distinct, array_intersect, array_union, size}
    val setGen = Gen.listOf(Gen.chooseNum(0, 12).map(_.toString))
    val pairs = (samples(Gen.zip(setGen, setGen), 50) :+
      ((List("1", "2"), List.empty[String])))
      .filter { case (a, b) => a.nonEmpty || b.nonEmpty }
    val df = pairs.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("i", "a", "b")
      .select(col("i"), array_distinct(col("a")).as("a"),
        array_distinct(col("b")).as("b"))
    val out = df.select(
      graft.ops.Dedup.jaccardDistinct(col("a"), col("b")).as("incl_excl"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("literal")).collect()
    out.foreach { r =>
      val (g, e) = (r.getDouble(0), r.getDouble(1))
      assert(g == e, s"incl-excl $g != literal $e")
    }
  }

  test("shingles is never empty — the invariant that keeps ANSI 0/0 out of the verify joins") {
    // Every jaccardDistinct divisor is |A|+|B|−|A∩B| ≥ 1 as long as one
    // side is non-empty; shingles() guarantees it by clamping short texts
    // (including "" and whitespace-only) to ONE full-token shingle.
    import org.apache.spark.sql.functions.{array_distinct, lit, size}
    val textGen = Gen.oneOf(
      Gen.const(""), Gen.const("   "), Gen.const("one"),
      Gen.listOf(Gen.oneOf("a", "bb", "ccc")).map(_.mkString(" ")),
      Gen.listOfN(12, Gen.oneOf("w1", "w2", "w3")).map(_.mkString(" ")))
    val texts = samples(textGen, 60)
    val sizes = texts.toDF("t").select(
      size(array_distinct(graft.ops.Dedup.shingles(col("t"), 5))).as("n"))
      .collect().map(_.getInt(0))
    sizes.zip(texts).foreach { case (n, t) =>
      assert(n >= 1, s"empty shingle set for text '$t'")
    }
    // and the end-to-end corner: two empty-text docs in one LSH bucket
    // must verify (jaccard 1.0), not throw
    val docs = Seq((1L, ""), (2L, "")).toDF("id", "text")
    val pairs = graft.ops.Dedup.minhashNearDuplicates(
      docs, "id", "text", threshold = 0.9)
    assert(pairs.count() == 1, "two empty docs must verify as duplicates")
    spark.catalog.clearCache()
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
