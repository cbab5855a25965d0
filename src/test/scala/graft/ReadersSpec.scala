package graft

import graft.ingest.{PdfText, Readers}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class ReadersSpec extends SparkSpec {

  private def write(dir: String, name: String, bytes: Array[Byte]): String = {
    val p = Paths.get(dir, name); Files.write(p, bytes); p.toString
  }

  test("txt drops blank and whitespace-only lines") {
    val dir = tmpDir("txt_")
    write(dir, "a.txt", "one\n\n   \ntwo\n".getBytes(StandardCharsets.UTF_8))
    val rows = Readers.txt(spark, dir).collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("one", "two"))
  }

  test("charset fallback: latin-1 bytes decode via ISO-8859-1") {
    val dir = tmpDir("txt_")
    write(dir, "l1.txt", "café".getBytes(StandardCharsets.ISO_8859_1))
    val rows = Readers.txtWithCharsetFallback(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("café"))
  }

  test("chardet-lite: Shift-JIS and windows-1252 are detected, junk floors to latin-1") {
    val dir = tmpDir("enc_")
    write(dir, "sjis.txt",
      "日本語テキスト".getBytes(java.nio.charset.Charset.forName("Shift_JIS")))
    write(dir, "cp1252.txt",
      "sm€rt “quotes”".getBytes(java.nio.charset.Charset.forName("windows-1252")))
    // 0x8d is undefined in cp1252 AND an SJIS lead with an invalid trail —
    // floors to the 1:1 latin-1 mapping
    write(dir, "junk.txt", Array[Byte]('j'.toByte, 0x8d.toByte, 0x20.toByte, 'k'.toByte))
    val rows = Readers.txtWithCharsetFallback(spark, dir)
      .collect().map(_.getString(0)).toSet
    assert(rows.contains("日本語テキスト"), s"sjis not detected: $rows")
    assert(rows.contains("sm€rt “quotes”"), s"cp1252 not detected: $rows")
    // mostly-ASCII cp1252 whose smart punctuation forms VALID SJIS pairs
    // (0x92+'s', 0x96+'M') must NOT trip the Shift-JIS branch — the
    // multi-byte density gate keeps it western
    val westy = Readers.decodeFallbackForTest(
      "it’s fine in Jan–Mar".getBytes(java.nio.charset.Charset.forName("windows-1252")))
    assert(westy == "it’s fine in Jan–Mar", s"got $westy")
    assert(rows.contains("j k"), s"junk not floored to latin-1: $rows")
  }

  test("chardet-lite CJK/Cyrillic tail: EUC-JP, GBK, Big5, KOI8-R, cp1251") {
    def dec(text: String, cs: String): String =
      Readers.decodeFallbackForTest(
        text.getBytes(java.nio.charset.Charset.forName(cs)))
    assert(dec("日本語のテキストです", "EUC-JP") == "日本語のテキストです")
    assert(dec("中文编码测试", "GBK") == "中文编码测试")
    assert(dec("繁體中文測試", "Big5") == "繁體中文測試")
    assert(dec("привет мир как дела", "KOI8-R") == "привет мир как дела")
    assert(dec("добрый день всем привет", "windows-1251") == "добрый день всем привет")
    // r9: EUC-KR via the hangul-dominance gate; mixed hangul+ASCII too
    assert(dec("한국어 인코딩 테스트입니다", "EUC-KR") == "한국어 인코딩 테스트입니다")
    assert(dec("서울 Seoul 2024", "EUC-KR") == "서울 Seoul 2024")
    // r9: ISO-2022-JP is 7-bit — only the escape gate can catch it
    assert(dec("こんにちは世界", "ISO-2022-JP") == "こんにちは世界")
    assert(dec("日本語 ASCII mix です", "ISO-2022-JP") == "日本語 ASCII mix です")
    // a stray ESC without the JIS shift-in sequence must NOT trip the
    // gate: ANSI-colored logs stay plain UTF-8
    val ansi = "\u001b[31mred text\u001b[0m"
    assert(Readers.decodeFallbackForTest(ansi.getBytes("UTF-8")) == ansi)
    // Chinese GBK text must not be claimed by the (earlier) EUC-KR branch:
    // its decode carries no precomposed hangul
    assert(dec("中文编码测试", "GBK") == "中文编码测试")
    // Latin-1 stays Latin-1: adjacent high bytes that happen to form valid
    // GBK pairs must not turn Nordic text into hanzi (frequency gate), and
    // isolated accents never enter the detector at all (<4 high bytes)
    assert(dec("blåbærsyltetøy på brød", "ISO-8859-1") == "blåbærsyltetøy på brød")
    assert(dec("café résumé naïve", "ISO-8859-1") == "café résumé naïve")
    assert(dec("déjà vu très tôt café", "ISO-8859-1") == "déjà vu très tôt café")
  }

  test("r12 micro-tail: ISO-2022-KR, HZ-GB2312, UTF-7 (BOM-gated)") {
    def dec(bytes: Array[Byte]): String = Readers.decodeFallbackForTest(bytes)
    // ISO-2022-KR: ESC $ ) C designator gates, JDK strict decode validates
    assert(dec("한국어 뉴스 기사 본문".getBytes(
      java.nio.charset.Charset.forName("ISO-2022-KR"))) == "한국어 뉴스 기사 본문")
    // HZ-GB2312: hand-encode (JDK has no HZ coder) — GB2312 bytes with the
    // high bit stripped between ~{ ~}; '~~' is a literal tilde
    def hz(ascii: String, han: String): Array[Byte] =
      ascii.getBytes("US-ASCII") ++ Array[Byte]('~', '{') ++
        han.getBytes(java.nio.charset.Charset.forName("GB2312"))
          .map(x => (x & 0x7f).toByte) ++ Array[Byte]('~', '}')
    assert(dec(hz("hz mode ", "中文信息处理")) == "hz mode 中文信息处理")
    assert(dec("a ~~ b".getBytes("US-ASCII") ++ hz("", "汉字")) == "a ~ b汉字")
    // '~{' in plain ASCII prose must NOT be claimed when the section holds
    // any byte <0x21 (space, controls) — real code/prose stays as-is
    val soup = "code soup ~{ x = 1; } end"
    assert(dec(soup.getBytes("US-ASCII")) == soup)
    // KNOWN claim window, pinned as chardet/reference parity: an even
    // letter run between ~{ ~} forms valid GB2312 pairs and transcodes
    // ('ab' -> 0xE1,0xE2 -> U+5F95) — chardet detects such streams as HZ
    // from the same marker and Python's hz codec decodes them identically
    assert(dec("see ~{ab~} end".getBytes("US-ASCII")) == "see 徕 end")
    // UTF-7 with its explicit BOM: implicit (space/'?') and explicit ('-')
    // run termination, '+AL8-' mid-word (bytes match CPython utf_7 output)
    assert(dec("+/v8-d+AOk-j+AOA vu +IBQ utf-7 +AL8-s+AO0?"
      .getBytes("US-ASCII")) == "déjà vu — utf-7 ¿sí?")
    // '+-' is a literal plus
    assert(dec("+/v8-1 +- 2 +AOk-".getBytes("US-ASCII")) == "1 + 2 é")
    // BOM-less UTF-7 is indistinguishable from ASCII-with-'+' text: stays
    // raw (chardet skips it too; the reference lands in ascii-ignore)
    assert(dec("d+AOk-j+AOA vu".getBytes("US-ASCII")) == "d+AOk-j+AOA vu")
    // a BOM-shaped prefix over a malformed body declines and falls through
    assert(dec("+/v8-ok +***".getBytes("US-ASCII")) == "+/v8-ok +***")
  }

  test("txtSafe: good file has null _ingest_error; rows survive") {
    val dir = tmpDir("txt_")
    write(dir, "ok.txt", "hello\nworld\n".getBytes(StandardCharsets.UTF_8))
    val rows = Readers.txtSafe(spark, dir).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.isNullAt(1)))
  }

  test("xml: attributes + _text per direct child; grandchildren ignored") {
    val dir = tmpDir("xml_")
    val xml = """<root><item id="1" k="v">hello <b>bold</b></item><item id="2"/></root>"""
    write(dir, "d.xml", xml.getBytes(StandardCharsets.UTF_8))
    val rows = Readers.promoteMapKeys(Readers.xml(spark, dir))
      .orderBy("id").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("id") == "1")
    assert(r0.getAs[String]("k") == "v")
    assert(r0.getAs[String]("_text") == "hello") // direct text only, trimmed
    assert(rows(1).getAs[String]("_text") == "")
  }

  test("docx: one record per non-blank paragraph") {
    val dir = tmpDir("docx_")
    val docXml =
      """<?xml version="1.0"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body><w:p><w:r><w:t>para one</w:t></w:r></w:p>
        |<w:p></w:p>
        |<w:p><w:r><w:t>para </w:t></w:r><w:r><w:t>two</w:t></w:r></w:p></w:body></w:document>""".stripMargin
    val bout = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bout)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(docXml.getBytes(StandardCharsets.UTF_8))
    zip.closeEntry(); zip.close()
    write(dir, "d.docx", bout.toByteArray)
    val rows = Readers.docx(spark, dir).collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("para one", "para two"))
  }

  test("pdf: literal-string Tj text per stream") {
    val dir = tmpDir("pdf_")
    val content = "BT /F1 12 Tf 72 720 Td (Hi there) Tj ET"
    val pdf = s"%PDF-1.4\n4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n%%EOF\n"
    write(dir, "d.pdf", pdf.getBytes(StandardCharsets.ISO_8859_1))
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Hi there "))
  }

  test("pdf: page tree groups multi-stream pages into one record per page") {
    val dir = tmpDir("pdfp_")
    def streamObj(num: Int, content: String) =
      s"$num 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
    val pdf = "%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>\nendobj\n" +
      streamObj(4, "BT (Hello ) Tj ET") + streamObj(5, "BT (World) Tj ET") +
      "6 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>\nendobj\n" +
      streamObj(7, "BT (Second) Tj ET") +
      "%%EOF\n"
    write(dir, "p.pdf", pdf.getBytes(StandardCharsets.ISO_8859_1))
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.length == 2, s"expected one record per PAGE, got ${rows.toSeq}")
    assert(rows.exists(r => r.contains("Hello") && r.contains("World")),
      s"two streams of one page must merge: ${rows.toSeq}")
    assert(rows.exists(_.contains("Second")))
  }

  test("pdf: incremental updates supersede earlier object generations") {
    val dir = tmpDir("pdfinc_")
    def streamObj(num: Int, gen: Int, content: String) =
      s"$num $gen obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
    // Original document: one page whose content stream says ORIGINAL,
    // closed with its own xref/trailer/%%EOF ...
    val v1 = "%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n" +
      streamObj(4, 0, "BT (ORIGINAL text) Tj ET") +
      "xref\n0 5\n0000000000 65535 f \n" +
      "trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n9\n%%EOF\n"
    // ... then two incremental updates appended after it (ISO 32000
    // §7.5.6): first a same-generation redefinition of the content
    // stream, then a generation-BUMPED Pages node adding a second page.
    val v2 = streamObj(4, 0, "BT (UPDATED text) Tj ET") +
      "xref\n0 1\n0000000000 65535 f \n" +
      s"trailer\n<< /Size 5 /Root 1 0 R /Prev 9 >>\nstartxref\n${v1.length}\n%%EOF\n"
    val v3 = "2 1 obj\n<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>\nendobj\n" +
      "6 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>\nendobj\n" +
      streamObj(7, 0, "BT (ADDED page) Tj ET") +
      "xref\n0 1\n0000000000 65535 f \n" +
      s"trailer\n<< /Size 8 /Root 1 0 R /Prev ${v1.length} >>\nstartxref\n${(v1 + v2).length}\n%%EOF\n"
    write(dir, "inc.pdf", (v1 + v2 + v3).getBytes(StandardCharsets.ISO_8859_1))
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    // Last definition wins = PyPDF2's xref-chain result for appended
    // updates: the superseded ORIGINAL stream must NOT resurrect.
    assert(rows.toSeq == Seq("UPDATED text ", "ADDED page "),
      s"incremental update must supersede older generations: ${rows.toSeq}")
  }

  test("pdf: Flate-compressed content stream decodes") {
    val dir = tmpDir("pdfz_")
    val content = "BT (Compressed text) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content); deflater.finish()
    val buf = new Array[Byte](256)
    val n = deflater.deflate(buf)
    val bout = new java.io.ByteArrayOutputStream()
    val head = s"%PDF-1.4\n4 0 obj\n<< /Length $n /Filter /FlateDecode >>\nstream\n"
    bout.write(head.getBytes(StandardCharsets.ISO_8859_1))
    bout.write(buf, 0, n)
    bout.write("\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    write(dir, "z.pdf", bout.toByteArray)
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Compressed text "), s"got ${rows.toSeq}")
  }

  // Minimal PDF-variant LZW encoder (9→12-bit MSB-first codes, clear/EOD,
  // EarlyChange=1 to match the decoder — the PDF default): fixtures only.
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bits = 0; var codeLen = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << codeLen) | code; bits += codeLen
      while (bits >= 8) { out.write(((bitBuf >>> (bits - 8)) & 0xff).toInt); bits -= 8 }
    }
    val dict = scala.collection.mutable.Map[Seq[Byte], Int]()
    (0 until 256).foreach(b => dict(Seq(b.toByte)) = b)
    var next = 258
    put(256)
    var w = Seq.empty[Byte]
    data.foreach { b =>
      val wb = w :+ b
      if (dict.contains(wb)) w = wb
      else {
        put(dict(w))
        if (next < 4096) { dict(wb) = next; next += 1 }
        // mirror of the decoder's early-change point: its table lags the
        // encoder's by one entry, so bump at next >= 2^len (not 2^len - 1)
        if (next >= (1 << codeLen) && codeLen < 12) codeLen += 1
        w = Seq(b)
      }
    }
    if (w.nonEmpty) put(dict(w))
    put(257)
    if (bits > 0) out.write(((bitBuf << (8 - bits)) & 0xff).toInt)
    out.toByteArray
  }

  test("pdf filters: LZW decodes the TIFF spec vector and long round-trips") {
    // the classic KwKwK vector: 7 7 7 8 8 7 7 6 6 encodes to codes
    // 256 7 258 8 8 258 6 6 257 (code 258 arrives before its entry exists)
    def pack(codes: Seq[Int]): Array[Byte] = {
      var bitBuf = 0L; var bits = 0
      val out = new java.io.ByteArrayOutputStream()
      codes.foreach { c =>
        bitBuf = (bitBuf << 9) | c; bits += 9
        while (bits >= 8) { out.write(((bitBuf >>> (bits - 8)) & 0xff).toInt); bits -= 8 }
      }
      if (bits > 0) out.write(((bitBuf << (8 - bits)) & 0xff).toInt)
      out.toByteArray
    }
    val vec = pack(Seq(256, 7, 258, 8, 8, 258, 6, 6, 257))
    assert(PdfText.lzwDecode(vec).toSeq ==
      Seq[Byte](7, 7, 7, 8, 8, 7, 7, 6, 6))
    // a >254-code payload crosses the 9->10-bit width change
    val long = (0 until 3000).map(i => ((i * 7) % 26 + 'a').toByte).toArray
    assert(PdfText.lzwDecode(lzwEncode(long)).toSeq == long.toSeq)
    // corrupt input: empty, never throws
    assert(PdfText.lzwDecode(Array[Byte](-1, -1, -1)).isEmpty)
  }

  // PNG-predict `data` for fixtures: split into rowLen-byte rows, prefix
  // each with filter-type byte `ft`, store the filtered residuals
  // (ISO 32000 §7.4.4.4 / RFC 2083 §6) — the exact inverse of unpredict.
  private def pngPredict(data: Array[Byte], rowLen: Int, ft: Int,
                         bpp: Int = 1): Array[Byte] = {
    val nRows = data.length / rowLen
    val out = new java.io.ByteArrayOutputStream()
    (0 until nRows).foreach { r =>
      out.write(ft)
      (0 until rowLen).foreach { i =>
        val cur = data(r * rowLen + i) & 0xff
        val left = if (i >= bpp) data(r * rowLen + i - bpp) & 0xff else 0
        val up = if (r > 0) data((r - 1) * rowLen + i) & 0xff else 0
        val ul = if (r > 0 && i >= bpp) data((r - 1) * rowLen + i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        out.write((cur - pred) & 0xff)
      }
    }
    out.toByteArray
  }

  test("pdf filters: PNG and TIFF predictors reconstruct exactly") {
    val data = (0 until 104).map(i => ((i * 37 + i * i) % 251).toByte).toArray
    val dict = (ft: Int) => s"<< /Predictor ${10 + ft} /Columns 13 >>"
    // every PNG row-filter type round-trips (decode dispatches on the
    // per-row byte; the dict's 10-15 tag only needs to be >= 10)
    (0 to 4).foreach { ft =>
      assert(PdfText.unpredict(pngPredict(data, 13, ft), dict(ft)).toSeq ==
        data.toSeq, s"PNG filter type $ft")
    }
    // multi-byte pixels: bpp = Colors * BPC/8 = 3 shifts the left
    // reference (96 = the whole-rows prefix of the 104-byte vector at
    // rowLen 12; unpredict drops a trailing partial row by design)
    val rgb = "<< /Predictor 11 /Colors 3 /BitsPerComponent 8 /Columns 4 >>"
    assert(PdfText.unpredict(pngPredict(data.take(96), 12, 1, bpp = 3), rgb).toSeq ==
      data.take(96).toSeq, "Sub with 3-byte pixels")
    // TIFF predictor 2: horizontal differencing, no row-tag bytes
    val tiffd = data.clone()
    (0 until 8).foreach { r =>
      (12 to 1 by -1).foreach { i =>
        tiffd(r * 13 + i) = (tiffd(r * 13 + i) - tiffd(r * 13 + i - 1)).toByte
      }
    }
    assert(PdfText.unpredict(tiffd, "<< /Predictor 2 /Columns 13 >>").toSeq ==
      data.toSeq, "TIFF predictor")
    // Predictor 1 (or absent) is the identity
    assert(PdfText.unpredict(data, "<< >>").toSeq == data.toSeq)
  }

  test("pdf: /DecodeParms matches its filter stage positionally (§7.3.8.2)") {
    // array form: null pairs with stage 1, the parms dict with stage 2
    assert(PdfText.decodeParmsFor(
      "<< /Filter [/ASCIIHexDecode /FlateDecode] " +
        "/DecodeParms [null << /Predictor 12 /Columns 4 >>] >>",
      Seq("ASCIIHexDecode", "FlateDecode")) ==
      Seq("", "<< /Predictor 12 /Columns 4 >>"))
    // single dict + single filter: the conformant simple case
    assert(PdfText.decodeParmsFor(
      "<< /Filter /FlateDecode /DecodeParms << /Predictor 2 /Columns 4 >> >>",
      Seq("FlateDecode")) == Seq("<< /Predictor 2 /Columns 4 >>"))
    // single dict + multi-filter: best-effort — attaches to the chain's ONE
    // predictor-capable (Flate/LZW) stage, not to every stage
    assert(PdfText.decodeParmsFor(
      "<< /Filter [/ASCII85Decode /FlateDecode] " +
        "/DecodeParms << /Predictor 2 /Columns 4 >> >>",
      Seq("ASCII85Decode", "FlateDecode")) ==
      Seq("", "<< /Predictor 2 /Columns 4 >>"))
    // two predictor-capable stages + one dict: ambiguous — no predictor
    // (mis-applying it would corrupt the stage the writer never predicted)
    assert(PdfText.decodeParmsFor(
      "<< /Filter [/FlateDecode /LZWDecode] /DecodeParms << /Predictor 2 >> >>",
      Seq("FlateDecode", "LZWDecode")) == Seq("", ""))
    // short array (writer omitted trailing nulls) pads out; /DP works; an
    // indirect-ref element resolves to no parms
    assert(PdfText.decodeParmsFor(
      "<< /Filter [/FlateDecode /RunLengthDecode] /DP [<< /Predictor 2 >>] >>",
      Seq("FlateDecode", "RunLengthDecode")) == Seq("<< /Predictor 2 >>", ""))
    assert(PdfText.decodeParmsFor(
      "<< /Filter [/FlateDecode /FlateDecode] /DecodeParms [7 0 R << /Predictor 2 >>] >>",
      Seq("FlateDecode", "FlateDecode")) == Seq("", "<< /Predictor 2 >>"))
    // no DecodeParms at all
    assert(PdfText.decodeParmsFor("<< /Filter /FlateDecode >>",
      Seq("FlateDecode")) == Seq(""))
  }

  test("pdf: Flate stream with /DecodeParms /Predictor 12 decodes") {
    val dir = tmpDir("pdfpred_")
    val content = "BT (Predicted text) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    // pad to a whole number of 13-byte rows (trailing spaces are harmless
    // inside a content stream), predict with the PNG Up filter, deflate
    val padded = (new String(content, StandardCharsets.ISO_8859_1) +
      " " * ((13 - content.length % 13) % 13)).getBytes(StandardCharsets.ISO_8859_1)
    val predicted = pngPredict(padded, 13, 2)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(predicted); deflater.finish()
    val buf = new Array[Byte](512)
    val n = deflater.deflate(buf)
    val bout = new java.io.ByteArrayOutputStream()
    val head = s"%PDF-1.4\n4 0 obj\n<< /Length $n /Filter /FlateDecode " +
      "/DecodeParms << /Predictor 12 /Columns 13 >> >>\nstream\n"
    bout.write(head.getBytes(StandardCharsets.ISO_8859_1))
    bout.write(buf, 0, n)
    bout.write("\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    write(dir, "pred.pdf", bout.toByteArray)
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Predicted text "), s"got ${rows.toSeq}")
  }

  test("pdf: dict scan survives '>>' inside a string literal and nested dicts") {
    val dir = tmpDir("pdflit_")
    val content = "BT (Literal dict text) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content); deflater.finish()
    val buf = new Array[Byte](512)
    val n = deflater.deflate(buf)
    val bout = new java.io.ByteArrayOutputStream()
    // the (a>>b) literal must not unbalance the dict scan — losing /Filter
    // to a truncated dict capture leaves the stream undecoded
    val head = s"%PDF-1.4\n4 0 obj\n<< /Length $n /Filter /FlateDecode " +
      "/T (a>>b\\) c) /Extra << /Nested (x>>y) >> >>\nstream\n"
    bout.write(head.getBytes(StandardCharsets.ISO_8859_1))
    bout.write(buf, 0, n)
    bout.write("\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    write(dir, "lit.pdf", bout.toByteArray)
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Literal dict text "), s"got ${rows.toSeq}")
  }

  test("pdf filters: ASCIIHex, ASCII85 and RunLength decode per spec") {
    assert(PdfText.asciiHexDecode("48 65 6C 6c 6F>".getBytes("ASCII")).toSeq ==
      "Hello".getBytes("ASCII").toSeq)
    // odd trailing digit pads with 0: "7" -> 0x70
    assert(PdfText.asciiHexDecode("7>".getBytes("ASCII")).toSeq == Seq(0x70.toByte))
    // ASCII85: "Man " encodes to "9jqo^"; 'z' is four zero bytes
    assert(PdfText.ascii85Decode("9jqo^~>".getBytes("ASCII")).toSeq ==
      "Man ".getBytes("ASCII").toSeq)
    assert(PdfText.ascii85Decode("z~>".getBytes("ASCII")).toSeq ==
      Seq[Byte](0, 0, 0, 0))
    // partial final group: 3 chars -> 2 bytes
    assert(PdfText.ascii85Decode("9jqo^9jq~>".getBytes("ASCII")).length == 6)
    // RunLength: literal run + repeat run + EOD
    val rl = Array[Byte](2, 'a', 'b', 'c', (257 - 4).toByte, 'x', 128.toByte)
    assert(PdfText.runLengthDecode(rl).toSeq == "abcxxxx".getBytes("ASCII").toSeq)
  }

  test("pdf: LZW content stream and an ASCII85+Flate filter chain decode") {
    val dir = tmpDir("pdflzw_")
    val content = "BT (LZW compressed page) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    val lzw = lzwEncode(content)
    val b1 = new java.io.ByteArrayOutputStream()
    b1.write(s"%PDF-1.4\n4 0 obj\n<< /Length ${lzw.length} /Filter /LZWDecode >>\nstream\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    b1.write(lzw)
    b1.write("\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    write(dir, "lzw.pdf", b1.toByteArray)
    // chain: Flate first, then ASCII85-armor — decode order is A85 then Flate
    val content2 = "BT (Chained filters page) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content2); deflater.finish()
    val zbuf = new Array[Byte](256)
    val zn = deflater.deflate(zbuf)
    val a85 = ascii85Encode(zbuf.take(zn))
    val dir2 = tmpDir("pdfchain_")
    val pdf2 = s"%PDF-1.4\n4 0 obj\n<< /Length ${a85.length} /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n" +
      a85 + "\nendstream\nendobj\n%%EOF\n"
    write(dir2, "chain.pdf", pdf2.getBytes(StandardCharsets.ISO_8859_1))
    assert(Readers.pdf(spark, dir).collect().map(_.getString(0)).toSeq ==
      Seq("LZW compressed page "))
    assert(Readers.pdf(spark, dir2).collect().map(_.getString(0)).toSeq ==
      Seq("Chained filters page "))
  }

  // ASCII85 encoder for fixtures (inverse of PdfText.ascii85Decode)
  private def ascii85Encode(data: Array[Byte]): String = {
    val sb = new StringBuilder
    data.grouped(4).foreach { g =>
      var v = 0L
      (0 until 4).foreach(i => v = (v << 8) | (if (i < g.length) g(i) & 0xff else 0))
      val cs = new Array[Char](5)
      (4 to 0 by -1).foreach { i => cs(i) = ('!' + (v % 85).toInt).toChar; v /= 85 }
      sb.appendAll(cs, 0, g.length + 1)
    }
    sb.append("~>").toString
  }

  test("pdf: PDF 1.5 object-stream page tree parses (catalog/pages inside ObjStm)") {
    // two pages whose catalog / page-tree dicts live INSIDE a Flate ObjStm
    // (the modern-writer layout); content streams stay top-level as the
    // spec requires. Page order must come from the tree, not stream order.
    val dir = tmpDir("pdfobjstm_")
    val bodies = Seq(
      "<</Type/Catalog/Pages 2 0 R>>",
      "<</Type/Pages/Kids[3 0 R 4 0 R]/Count 2>>",
      "<</Type/Page/Parent 2 0 R/Contents 6 0 R>>",
      "<</Type/Page/Parent 2 0 R/Contents 5 0 R>>")
    val offsets = bodies.scanLeft(0)(_ + _.length).init
    val header = offsets.zipWithIndex.map { case (off, i) => s"${i + 1} $off" }.mkString(" ")
    val first = header.length + 1
    val objstm = (header + "\n" + bodies.mkString).getBytes(StandardCharsets.ISO_8859_1)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(objstm); deflater.finish()
    val buf = new Array[Byte](1024)
    val n = deflater.deflate(buf)
    val bout = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bout.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.5\n")
    w("5 0 obj\n<< /Length 24 >>\nstream\nBT (Second page) Tj ET\nendstream\nendobj\n")
    w("6 0 obj\n<< /Length 23 >>\nstream\nBT (First page) Tj ET\nendstream\nendobj\n")
    w(s"7 0 obj\n<< /Type /ObjStm /N 4 /First $first /Length $n /Filter /FlateDecode >>\nstream\n")
    bout.write(buf, 0, n)
    w("\nendstream\nendobj\n%%EOF\n")
    write(dir, "objstm.pdf", bout.toByteArray)
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("First page ", "Second page "), s"got ${rows.toSeq}")
  }

  test("pdf: ObjStm payload containing literal 'endobj' bytes still parses fully") {
    // regression: the ObjStm walker must scan stream bytes to `endstream`,
    // not an obj-body regex slice that a payload 'endobj' would truncate
    val dir = tmpDir("pdfobjstm2_")
    val bodies = Seq(
      "<</Type/Catalog/Pages 2 0 R/X(endobj)>>", // the poison bytes
      "<</Type/Pages/Kids[3 0 R]/Count 1>>",
      "<</Type/Page/Parent 2 0 R/Contents 5 0 R>>")
    val offsets = bodies.scanLeft(0)(_ + _.length).init
    val header = offsets.zipWithIndex.map { case (off, i) => s"${i + 1} $off" }.mkString(" ")
    val first = header.length + 1
    val objstm = header + "\n" + bodies.mkString // uncompressed ObjStm
    val bout = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bout.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.5\n")
    w("5 0 obj\n<< /Length 22 >>\nstream\nBT (Only page) Tj ET\nendstream\nendobj\n")
    w(s"4 0 obj\n<< /Type /ObjStm /N 3 /First $first /Length ${objstm.length} >>\nstream\n")
    w(objstm)
    w("\nendstream\nendobj\n%%EOF\n")
    write(dir, "objstm2.pdf", bout.toByteArray)
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Only page "), s"got ${rows.toSeq}")
  }

  test("pdf: an indirect multi-digit /Length must not truncate the stream") {
    // regression: '/Length 745 0 R' once backtracked to a match of '74'
    // and sliced the stream to garbage — indirect lengths fall back to the
    // endstream scan
    val dir = tmpDir("pdfindlen_")
    val content = "BT /F1 12 Tf 72 720 Td (Indirect length page) Tj ET"
    val pdf = s"""%PDF-1.4
      |4 0 obj << /Length 745 0 R >>
      |stream
      |$content
      |endstream
      |endobj
      |745 0 obj ${content.length} endobj
      |%%EOF
      |""".stripMargin
    write(dir, "indlen.pdf", pdf.getBytes(StandardCharsets.ISO_8859_1))
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Indirect length page "), s"got ${rows.toSeq}")
  }

  test("pdf: ToUnicode CMap maps CID-font hex text to real characters") {
    // subset font: code 0001->H 0002->e (bfchar), 0003..0005 -> l,m,n via
    // the bfrange increment form; without the CMap the hex decodes to
    // control-char garbage
    val dir = tmpDir("pdfcid_")
    val cmap =
      """/CIDInit /ProcSet findresource begin begincmap
        |2 beginbfchar
        |<0001> <0048>
        |<0002> <0065>
        |endbfchar
        |1 beginbfrange
        |<0003> <0005> <006C>
        |endbfrange
        |endcmap end""".stripMargin
    val pdf =
      s"""%PDF-1.4
         |1 0 obj <</Type/Catalog/Pages 2 0 R>> endobj
         |2 0 obj <</Type/Pages/Kids[3 0 R]/Count 1>> endobj
         |3 0 obj <</Type/Page/Parent 2 0 R/Contents 5 0 R/Resources<</Font<</F1 8 0 R>>>>>> endobj
         |5 0 obj <</Length 44>> stream
         |BT /F1 12 Tf <00010002000300030006> Tj ET
         |endstream endobj
         |8 0 obj <</Type/Font/Subtype/Type0/BaseFont/Fake/ToUnicode 9 0 R>> endobj
         |9 0 obj <</Length ${cmap.length}>> stream
         |$cmap
         |endstream endobj
         |%%EOF
         |""".stripMargin
    write(dir, "cid.pdf", pdf.getBytes(StandardCharsets.ISO_8859_1))
    val rows = Readers.pdf(spark, dir).collect().map(_.getString(0))
    // <0006> is unmapped -> vanishes (PyPDF2-class convention): "Hell "
    assert(rows.toSeq == Seq("Hell "), s"got ${rows.toSeq}")
  }

  test("json: a malformed file flags _corrupt_record without failing the batch") {
    val dir = tmpDir("badjson_")
    write(dir, "good.json", "[{\"a\": 1}]".getBytes(StandardCharsets.UTF_8))
    write(dir, "bad.json", "[{\"a\": 2}, {broken".getBytes(StandardCharsets.UTF_8))
    val df = Readers.json(spark, dir)
    assert(df.columns.contains("_corrupt_record"),
      s"expected PERMISSIVE corrupt-record column, got ${df.columns.toSeq}")
    val rows = df.collect()
    assert(rows.length == 2, s"good row + corrupt row, got ${rows.toSeq}")
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("a")) &&
      r.getLong(r.fieldIndex("a")) == 1L))
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("_corrupt_record"))))
  }

  test("csv: rows with too many fields don't fail the batch (PERMISSIVE)") {
    val dir = tmpDir("badcsv_")
    write(dir, "d.csv", "a,b\n1,x\n2,y,EXTRA,FIELDS\n3,z\n".getBytes(StandardCharsets.UTF_8))
    val rows = Readers.csv(spark, dir).collect()
    assert(rows.length == 3, s"malformed row must not drop the batch: ${rows.toSeq}")
  }

  private def gzip(text: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(text.getBytes(StandardCharsets.UTF_8)); gz.close()
    out.toByteArray
  }

  /** CSV upload fixtures: each is a directory of (file name, bytes). */
  private val csvFixtures: Seq[(String, Seq[(String, Array[Byte])])] = {
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    Seq(
      "single file" -> Seq("a.csv" -> utf8("id,name,score\n1,ann,1.5\n2,bob,\n3,cy,7\n")),
      "several files and an empty one" -> Seq(
        "a.csv" -> utf8("id,name\n1,ann\n2,bob\n"),
        "b.csv" -> utf8("id,name\n3,cy\n4,dee\n5,eve\n6,fay\n"),
        "c.csv" -> utf8("id,name\n7,x\n"),
        "empty.csv" -> Array.emptyByteArray),
      // the largest file's header names the columns
      "files that disagree on the header" -> Seq(
        "small.csv" -> utf8("p,q\n1,2\n"),
        "large.csv" -> utf8("x,y\n10,20\n30,40\n50,60\n")),
      "UTF-8 BOM" -> Seq("bom.csv" -> utf8("\uFEFFid,name\n1,ann\n2,bob\n")),
      "CRLF line ends" -> Seq("crlf.csv" -> utf8("id,name\r\n1,ann\r\n2,bob\r\n")),
      "CR line ends" -> Seq("cr.csv" -> utf8("id,name\r1,ann\r2,bob\r")),
      "leading blank lines" -> Seq("blank.csv" -> utf8("\n   \n\nid,name\n1,ann\n\n2,bob\n")),
      "header only" -> Seq("h.csv" -> utf8("id,name\n")),
      "gzip" -> Seq("g.csv.gz" -> gzip("id,when,v\n1,2024-01-02,0.5\n2,2024-03-04,1\n")),
      "quoted header with a comma" -> Seq("q.csv" -> utf8("\"last, first\",n\n\"doe, j\",1\n")),
      "too many fields (PERMISSIVE)" -> Seq(
        "d.csv" -> utf8("a,b\n1,x\n2,y,EXTRA,FIELDS\n3,z\n")))
  }

  test("csv: schema, names and rows equal Spark's inferring reader on every fixture") {
    csvFixtures.foreach { case (name, files) =>
      val dir = tmpDir("csvparity_")
      files.foreach { case (f, bytes) => write(dir, f, bytes) }
      val got = Readers.csv(spark, dir)
      val want = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
      assert(got.schema == want.schema, s"$name: schema")
      assert(got.columns.toSeq == want.columns.toSeq, s"$name: column names")
      assert(got.collect().toSeq == want.collect().toSeq, s"$name: rows")
    }
  }

  test("csv: a one-file upload runs one job, its inference") {
    val dir = tmpDir("csvjobs_")
    val f = write(dir, "in.csv", "id,name\n1,ann\n2,bob\n".getBytes(StandardCharsets.UTF_8))
    val jobs = FinalPlans.jobsDuring(spark) _
    assert(jobs(Readers.csv(spark, f)) == 1)
    assert(jobs(spark.read.option("header", "true").option("inferSchema", "true").csv(f)) == 2)
  }

  test("csv: a path that lists no file fails like the inferring reader") {
    val dir = tmpDir("csvnone_")
    val e = intercept[org.apache.spark.sql.AnalysisException](Readers.csv(spark, dir))
    val ref = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.option("header", "true").option("inferSchema", "true").csv(dir))
    assert(e.getCondition == ref.getCondition)
  }

  test("html: script/style/comments dropped, tags stripped, entities decoded") {
    val dir = tmpDir("html_")
    write(dir, "p.html",
      ("""<html><head><title>T &amp; t</title>
         |<style>body { color: red; }</style>
         |<script>if (1 < 2) { console.log("skip &amp; me"); }</script></head>
         |<body><h1>Head&nbsp;line</h1>
         |<!-- dropped -->
         |<p>caf&#233; &lt;tag&gt; &#x41;B &amp; co</p>
         |</body></html>""").stripMargin.getBytes(StandardCharsets.UTF_8))
    val rows = Readers.html(spark, dir + "/*.html").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "T & t")
    assert(rows(0).getString(1) == "Head line café <tag> AB & co")
  }

  test("html: junk and pathological inputs never throw, yield empty text") {
    // unterminated script, tag, comment, entity; empty file
    val cases = Seq("<script>never closed", "<p", "<!-- open", "&#xZZ; &unknown; &",
      "", "<title>only title</title>")
    cases.foreach { c =>
      val (t, b) = Readers.parseForTestHtml(c.getBytes(StandardCharsets.UTF_8))
      assert(b == "" || c.contains("&")) // tag-only pages have no visible text
      assert(t == "" || t == "only title")
    }
    // the entity page keeps its literal (undecayable) ampersands
    val (_, ents) = Readers.parseForTestHtml("&#xZZ; &unknown; &".getBytes(StandardCharsets.UTF_8))
    assert(ents == "&#xZZ; &unknown; &")
  }

  test("htmlLinks extracts every href edge with the page basename") {
    val dir = tmpDir("html_")
    write(dir, "a.html",
      """<a href="/x">x</a><nav><a  href = "http://e.com/y">y</a></nav>"""
        .getBytes(StandardCharsets.UTF_8))
    val rows = Readers.htmlLinks(spark, dir + "/*.html")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq(("a.html", "/x"), ("a.html", "http://e.com/y")))
  }

  test("warc: gzip multi-member response records parse; non-response skipped") {
    def rec(wtype: String, uri: String, payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: $wtype\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
        payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    val body = "<html><body>Hello crawl</body></html>".getBytes(StandardCharsets.UTF_8)
    val http = (s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8) ++ body
    val bout = new java.io.ByteArrayOutputStream()
    Seq(rec("warcinfo", "", "software: test\r\n".getBytes(StandardCharsets.UTF_8)),
      rec("response", "http://e.com/a", http),
      rec("request", "http://e.com/a", "GET /a HTTP/1.1\r\n".getBytes(StandardCharsets.UTF_8))
    ).foreach { r =>
      val gz = new java.util.zip.GZIPOutputStream(bout); gz.write(r); gz.finish()
    }
    val dir = tmpDir("warc_")
    write(dir, "c.warc.gz", bout.toByteArray)
    val rows = Readers.warc(spark, dir + "/*.warc.gz").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "http://e.com/a")
    assert(rows(0).getInt(1) == 200)
    assert(rows(0).getString(2) == new String(body, StandardCharsets.UTF_8))
    val pages = Readers.warcHtml(spark, dir + "/*.warc.gz").collect()
    assert(pages.length == 1 && pages(0).getString(2) == "Hello crawl")
    // truncated / malformed framing never throws
    Readers.parseForTestWarc(bout.toByteArray.take(20))
    val tail = Readers.parseForTestWarc(
      "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
        .getBytes(StandardCharsets.UTF_8))
    assert(tail.length == 1 && tail(0)._3 == "short", s"got $tail")
  }

  test("suffix dispatch routes csv") {
    val dir = tmpDir("csv_")
    write(dir, "d.csv", "a,b\n1,x\n2,y\n".getBytes(StandardCharsets.UTF_8))
    val df = Readers.read(spark, dir + "/d.csv")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
  }

  test("binaryFiles glob that matches nothing fails loudly, not as zero rows") {
    // The pathGlobFilter rewrite (r16 bench-tail fix) must not soften the
    // bare-glob failure mode: a non-matching glob used to THROW from load;
    // the preflight keeps it throwing instead of yielding a silent empty
    // DataFrame over a non-empty directory.
    val dir = tmpDir("glob_")
    write(dir, "page.html", "<html/>".getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      Readers.binaryFiles(spark, dir + "/*.htm")
    }
    assert(e.getMessage.contains("glob matched no visible files or directories"))
    // and a matching glob still reads
    assert(Readers.binaryFiles(spark, dir + "/*.html").count() == 1)
  }

  test("binaryFiles glob preflight counts only files Spark will read (r17 advice)") {
    // A glob matching only hidden (_/.-prefixed) entries or a DIRECTORY
    // passes globStatus but yields zero rows from the file index — the
    // preflight must reject those too, not re-open the silent-empty hole
    // it exists to close.
    val dir = tmpDir("glob_hidden_")
    write(dir, "_sidecar.html", "<html/>".getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      Readers.binaryFiles(spark, dir + "/*.html")
    }
    assert(e.getMessage.contains("glob matched no visible files or directories"))
    // A visible subdirectory flips the rewrite back to the bare-glob load
    // (load(dir) would list RECURSIVELY and pick up nested files the bare
    // glob never matched) — direct children still read, nested files that
    // match the filename pattern must NOT leak in.
    val dir2 = tmpDir("glob_nested_")
    write(dir2, "top.html", "<html/>".getBytes(StandardCharsets.UTF_8))
    val sub = new java.io.File(dir2, "sub")
    assert(sub.mkdir())
    write(sub.toString, "nested.html", "<html/>".getBytes(StandardCharsets.UTF_8))
    assert(Readers.binaryFiles(spark, dir2 + "/*.html").count() == 1,
      "bare-glob semantics: direct children only, even with a matching nested file")
  }

  test("binaryFiles glob matching DIRECTORIES of files reads them (r18 advice)") {
    // /data/shard*/ is a valid vanilla binaryFile load target — the glob
    // matches directories, Spark expands each one level. The r17 preflight
    // filtered matches to regular files and threw before the fallback
    // could take that route; a matched directory must instead fall back
    // to the bare-glob load.
    val dir = tmpDir("glob_dirs_")
    val s1 = new java.io.File(dir, "shard1"); assert(s1.mkdir())
    val s2 = new java.io.File(dir, "shard2"); assert(s2.mkdir())
    write(s1.toString, "a.bin", Array[Byte](1, 2))
    write(s2.toString, "b.bin", Array[Byte](3))
    assert(Readers.binaryFiles(spark, dir + "/shard*").count() == 2,
      "directory matches must route to load(path), not throw")
    // mixed file+directory matches also take the bare-glob route
    write(dir, "shard0.bin", Array[Byte](4))
    assert(Readers.binaryFiles(spark, dir + "/shard*").count() == 3)
  }
}
