package graft

import graft.ingest.Readers
import graft.model.JsonSchema
import graft.ops.{Bloom, Bpe, Bucketing, Chunking, Corpus, Curate, Dedup, InferSchema, Layout, Multimodal, Nums, Similarity, Sketches, SubstringDedup, TextAnalysis, Urls, Validate, Warehouse}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The oracle battery: every SURVEY §2 operator (and §2.3 extension) as a
  * named query over the driver testdata, paired — wherever ANSI-SQL
  * expressible — with DuckDB SQL computing the identical result
  * (`SparkEntry.queries` / `oracleSql`, hash-compared by the driver at
  * sf0.01).
  *
  * Design rules (SURVEY §5.2/§7.4): deterministic total ORDER BY both sides;
  * identical column names and explicit types (Spark `size()` is int32, DuckDB
  * `len()` is int64 — always cast); arrays emitted as '|'-joined strings to
  * sidestep nested-type hashing; floats rounded after identical
  * fold ordering; regexes restricted to the Java∩RE2 portable subset;
  * timestamps surfaced as epoch integers or ISO strings, never raw
  * timestamp columns (testdata mixes ns/ms units).
  *
  * Non-SQL-expressible operators (approx sketches, the float-accumulating
  * multimodal decode stub, streaming) register queries without oracle entries
  * → the driver's weaker rows-only check; their semantics are covered by
  * ScalaTest instead.
  */
object Queries {

  private def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** `events.ts` as epoch MICROSECONDS (long), robust to the generator's
    * parquet type, which has changed across driver rounds: int64
    * timestamp[ns] reads as long under `nanosAsLong` → integer-divide to
    * µs; timestamp[us] (adjusted or naive) reads as timestamp/
    * timestamp_ntz → `unix_micros` (session TZ is UTC, so a naive ts
    * yields the same epoch numbers DuckDB's `epoch_us(ts)` computes on the
    * same file). Every events query converts through this ONE accessor so
    * a third generator change is a one-line fix, not twelve broken rows. */
  private[graft] def tsUsCol(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => expr("ts div 1000")
    case org.apache.spark.sql.types.TimestampNTZType =>
      unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case org.apache.spark.sql.types.TimestampType => unix_micros(col("ts"))
    case t => sys.error(s"events.ts: unexpected parquet-derived type $t")
  }

  /** The events table with `ts_us` (epoch µs) pre-derived via [[tsUsCol]]. */
  private[graft] def events(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = tbl(spark, sfDir, "events")
    ev.withColumn("ts_us", tsUsCol(ev))
  }

  // ---------------------------------------------------------------- fixtures

  /** Per-sf fixture scratch dir (rendered from testdata, deterministic). */
  private def fixtureDir(sfDir: String): Path = {
    val base = Paths.get(sys.props("java.io.tmpdir"),
      "graft_fixtures_" + Paths.get(sfDir).getFileName.toString)
    Files.createDirectories(base)
    base
  }

  private def writeBytes(p: Path, bytes: Array[Byte]): String = {
    Files.write(p, bytes); p.toString
  }

  /** Number of files in `dir` ending in `suffix`. Multi-file fixture
    * guards check the EXACT payload count, not just their completion
    * marker: an age-based /tmp cleaner can sweep payload files out from
    * under a long-lived fixture dir while the (newer or luckier) marker —
    * or a lucky subset of the files — survives (observed mid-bench), and a
    * weaker guard then hands readers an empty or PARTIAL fixture, silently
    * timing the wrong workload. Single-file fixtures ([[cached]]) are
    * immune: the payload IS the marker.
    */
  private def fileCount(dir: Path, suffix: String): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.filter(p => p.toString.endsWith(suffix)).count() finally s.close()
    }

  /** Fixture files are deterministic per (sf, name): render once, reuse on
    * later queries in the same process run (bench/verify call several
    * fixture-backed readers back to back).
    */
  private def cached(p: Path)(render: => String): String =
    if (Files.exists(p)) p.toString else render

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** First n documents as (doc_id, lang, text), driver-side (fixture
    * rendering is control plane; <=100 rows). Memoized per (sf, n) — three
    * fixture renderers ask for overlapping prefixes back to back.
    */
  private val docRowsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[(Long, String, String)]]
  private def docRows(spark: SparkSession, sfDir: String, n: Int): Seq[(Long, String, String)] =
    docRowsCache.getOrElseUpdate((sfDir, n),
      tbl(spark, sfDir, "documents").filter(col("doc_id") < n)
        .select("doc_id", "lang", "text").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)

  private def csvFixture(spark: SparkSession, sfDir: String): String = {
    val dir = fixtureDir(sfDir).resolve("customer_csv")
    if (!Files.exists(dir.resolve("_SUCCESS")) || fileCount(dir, ".csv") != 1) {
      tbl(spark, sfDir, "customer").orderBy("c_custkey").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(dir.toString)
    }
    dir.toString
  }

  private def orcFixture(spark: SparkSession, sfDir: String): String = {
    val dir = fixtureDir(sfDir).resolve("supplier_orc")
    if (!Files.exists(dir.resolve("_SUCCESS")) || fileCount(dir, ".orc") != 1) {
      tbl(spark, sfDir, "supplier").orderBy("s_suppkey").coalesce(1)
        .write.mode("overwrite").orc(dir.toString)
    }
    dir.toString
  }

  private def jsonFixture(spark: SparkSession, sfDir: String): String =
    cached(fixtureDir(sfDir).resolve("docs.json")) {
      val rows = tbl(spark, sfDir, "documents").filter(col("doc_id") < 100)
        .orderBy("doc_id").toJSON.collect()
      writeBytes(fixtureDir(sfDir).resolve("docs.json"),
        rows.mkString("[\n", ",\n", "\n]").getBytes(StandardCharsets.UTF_8))
    }

  /** Two deflate-coded Avro object containers over the first 100 docs
    * (split 0-49 / 50-99) — two files so the reader's per-file parallel
    * decode and first-header schema pickup are both exercised; `lang` is a
    * `["null","string"]` union to exercise nullable resolution. Written
    * with the avro-core `DataFileWriter` (the same jars the reader uses).
    */
  private def avroFixture(spark: SparkSession, sfDir: String): String = {
    val dir = fixtureDir(sfDir).resolve("docs_avro")
    if (!Files.exists(dir.resolve("done")) || fileCount(dir, ".avro") != 2) {
      Files.createDirectories(dir)
      val schema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"doc","fields":[
          |{"name":"doc_id","type":"long"},
          |{"name":"lang","type":["null","string"]},
          |{"name":"text","type":"string"}]}""".stripMargin)
      val rows = docRows(spark, sfDir, 100)
      Seq(rows.filter(_._1 < 50) -> "docs_a.avro",
          rows.filter(_._1 >= 50) -> "docs_b.avro").foreach { case (part, name) =>
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema))
        w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
        w.create(schema, dir.resolve(name).toFile)
        try part.foreach { case (id, lang, text) =>
          val r = new org.apache.avro.generic.GenericData.Record(schema)
          r.put("doc_id", id); r.put("lang", lang); r.put("text", text)
          w.append(r)
        } finally w.close()
      }
      Files.write(dir.resolve("done"), Array.emptyByteArray)
    }
    s"$dir/*.avro"
  }

  /** A block-compressed (zlib DefaultCodec) Hadoop SequenceFile of the
    * first 100 docs, key = doc_id as Text, value = text — written with the
    * same hadoop-client classes the reader uses.
    */
  private def seqFixture(spark: SparkSession, sfDir: String): String = {
    val file = fixtureDir(sfDir).resolve("docs.seq")
    cached(file) {
      import org.apache.hadoop.io.{SequenceFile, Text}
      // The writer CREATES its file at open (unlike the render-in-memory
      // single-file fixtures), which would break cached()'s
      // payload-is-the-marker invariant if a render died mid-append —
      // write under a tmp name and move into place only when complete.
      // Delete and rename through the Hadoop FS (ChecksumFileSystem):
      // the local FS keeps .crc sidecars next to every file, and a
      // java-level move strands them — a stale sidecar then fails every
      // later read with ChecksumException.
      val conf = spark.sparkContext.hadoopConfiguration
      val tmpP = new org.apache.hadoop.fs.Path(
        fixtureDir(sfDir).resolve("docs.seq.inprogress").toString)
      val fileP = new org.apache.hadoop.fs.Path(file.toString)
      val hfs = fileP.getFileSystem(conf)
      hfs.delete(tmpP, false); hfs.delete(fileP, false)
      val w = SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(tmpP),
        SequenceFile.Writer.keyClass(classOf[Text]),
        SequenceFile.Writer.valueClass(classOf[Text]),
        SequenceFile.Writer.compression(
          SequenceFile.CompressionType.BLOCK,
          new org.apache.hadoop.io.compress.DefaultCodec()))
      try docRows(spark, sfDir, 100).foreach { case (id, _, text) =>
        w.append(new Text(id.toString), new Text(text))
      } finally w.close()
      if (!hfs.rename(tmpP, fileP))
        sys.error(s"seqFixture: cannot publish $tmpP")
      file.toString
    }
  }

  private def xmlFixture(spark: SparkSession, sfDir: String): String =
   cached(fixtureDir(sfDir).resolve("docs.xml")) {
    val sb = new StringBuilder("<docs>\n")
    docRows(spark, sfDir, 100).foreach { case (id, lang, text) =>
      sb.append(s"""  <doc id="$id" lang="${xmlEscape(lang)}">${xmlEscape(text)}</doc>\n""")
    }
    sb.append("</docs>\n")
    writeBytes(fixtureDir(sfDir).resolve("docs.xml"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
   }

  private def docxFixture(spark: SparkSession, sfDir: String): String =
   cached(fixtureDir(sfDir).resolve("docs.docx")) {
    val paras = docRows(spark, sfDir, 50).map(_._3)
    val body = paras.map(t => s"<w:p><w:r><w:t>${xmlEscape(t)}</w:t></w:r></w:p>").mkString
    val docXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>$body</w:body></w:document>""".stripMargin
    val bout = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bout)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(docXml.getBytes(StandardCharsets.UTF_8))
    zip.closeEntry(); zip.close()
    writeBytes(fixtureDir(sfDir).resolve("docs.docx"), bout.toByteArray)
   }

  /** Minimal 3-page PDF: one uncompressed content stream per page, text via
    * literal-string Tj. `PdfText` emits one record per stream, appending a
    * space after each Tj — the oracle constants below carry that space.
    */
  private[graft] val pdfPageTexts = Seq("Alpha page one", "Beta page two", "Gamma page three")

  private def pdfFixture(sfDir: String): String =
   cached(fixtureDir(sfDir).resolve("docs.pdf")) {
    val streams = pdfPageTexts.map { t =>
      val content = s"BT /F1 12 Tf 72 720 Td ($t) Tj ET"
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream"
    }
    val pdf = new StringBuilder("%PDF-1.4\n")
    streams.zipWithIndex.foreach { case (s, i) =>
      pdf.append(s"${i + 4} 0 obj\n$s\nendobj\n")
    }
    pdf.append("%%EOF\n")
    writeBytes(fixtureDir(sfDir).resolve("docs.pdf"),
      pdf.toString.getBytes(StandardCharsets.ISO_8859_1))
   }

  /** Encrypted-PDF fixtures: RC4-128 (V2/R3), AES-128 (V4/R4 AESV2), and
    * AES-256 (V5/R6 AESV3) documents, standard security handler, empty
    * user password — built by [[graft.ingest.PdfCrypt.samplePdf]] with
    * spec-correct key material. Distinct page texts so one glob read
    * covers all three.
    */
  private[graft] val encPdfRc4Texts =
    Seq("Cipher alpha page", "Cipher beta page", "Cipher gamma page")
  private[graft] val encPdfAesTexts = Seq("Vault delta page", "Vault epsilon page")
  private[graft] val encPdfAes256Texts = Seq("Sealed zeta page", "Sealed eta page")

  private def encryptedPdfFixture(sfDir: String): String = {
    val dir = fixtureDir(sfDir).resolve("enc_pdf")
    if (!Files.exists(dir.resolve("done")) || fileCount(dir, ".pdf") != 3) {
      Files.createDirectories(dir)
      writeBytes(dir.resolve("rc4.pdf"),
        graft.ingest.PdfCrypt.samplePdf(encPdfRc4Texts, v = 2))
      writeBytes(dir.resolve("aes.pdf"),
        graft.ingest.PdfCrypt.samplePdf(encPdfAesTexts, v = 4))
      writeBytes(dir.resolve("aes256.pdf"),
        graft.ingest.PdfCrypt.samplePdf(encPdfAes256Texts, v = 5))
      Files.write(dir.resolve("done"), Array.emptyByteArray)
    }
    s"$dir/*.pdf"
  }

  /** One HTML page per document (doc_id < 100): realistic page shell —
    * title, style + script blocks (dropped wholesale, including a decoy
    * entity and a `<` inside the script), nav boilerplate, the
    * entity-escaped body text (the parser must round-trip it), and two
    * links whose targets are pure doc_id arithmetic so the link oracle
    * recomputes them from the documents table. Returns a glob so the
    * done-marker never reaches the reader.
    */
  private def htmlPage(id: Long, text: String): String =
    s"""<html><head><title>Doc $id</title>
       |<style> body { color: #333; } </style>
       |<script> if (1 < 2) { console.log("skip &amp; ignore"); } </script>
       |</head>
       |<body>
       |<nav><a href="/p/${id % 20}">home</a></nav>
       |<h1>Doc $id</h1>
       |<!-- crawler boilerplate -->
       |<p>${xmlEscape(text)}</p>
       |<a href="http://example.com/p/${(id * 7 + 3) % 100}">next</a>
       |</body></html>""".stripMargin

  private def htmlFixture(spark: SparkSession, sfDir: String): String = {
    val dir = fixtureDir(sfDir).resolve("html_pages")
    if (!Files.exists(dir.resolve("done")) ||
        fileCount(dir, ".html") != docRows(spark, sfDir, 100).size) {
      Files.createDirectories(dir)
      docRows(spark, sfDir, 100).foreach { case (id, _, text) =>
        writeBytes(dir.resolve(f"doc_$id%03d.html"),
          htmlPage(id, text).getBytes(StandardCharsets.UTF_8))
      }
      Files.write(dir.resolve("done"), Array.emptyByteArray)
    }
    s"$dir/*.html"
  }

  /** A `.warc.gz` in Common Crawl's layout — one gzip member per record,
    * members concatenated — wrapping the [[htmlPage]] pages in full
    * WARC/1.0 response records (HTTP envelope included). Exercises the
    * multi-member gunzip, the record framing, the HTTP strip, and the HTML
    * scan in one fixture; the oracle reassembles everything from the
    * documents table.
    */
  private def warcFixture(spark: SparkSession, sfDir: String): String =
   cached(fixtureDir(sfDir).resolve("crawl.warc.gz")) {
    val bout = new java.io.ByteArrayOutputStream()
    docRows(spark, sfDir, 100).foreach { case (id, _, text) =>
      val body = htmlPage(id, text).getBytes(StandardCharsets.UTF_8)
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8)
      val payload = http ++ body
      val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
        s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
        payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
      val gz = new java.util.zip.GZIPOutputStream(bout)
      gz.write(rec); gz.finish()
    }
    writeBytes(fixtureDir(sfDir).resolve("crawl.warc.gz"), bout.toByteArray)
   }

  private def txtFixture(spark: SparkSession, sfDir: String): String =
   cached(fixtureDir(sfDir).resolve("docs.txt")) {
    val lines = docRows(spark, sfDir, 100).map(_._3)
    // blank + whitespace-only lines interleaved: the reader must drop them
    val content = lines.mkString("", "\n\n   \n", "\n")
    writeBytes(fixtureDir(sfDir).resolve("docs.txt"),
      content.getBytes(StandardCharsets.UTF_8))
   }

  private def encodedTxtFixture(sfDir: String): String = {
    val dir = fixtureDir(sfDir).resolve("enc_txt")
    Files.createDirectories(dir)
    writeBytes(dir.resolve("latin1.txt"),
      "caf\u00e9 r\u00e9sum\u00e9 na\u00efve".getBytes(StandardCharsets.ISO_8859_1))
    writeBytes(dir.resolve("utf8.txt"),
      "h\u00e9llo \u00fctf8".getBytes(StandardCharsets.UTF_8))
    // BOM'd UTF-16 both endiannesses (java "UTF-16" writes a BE BOM; LE
    // bytes are hand-prefixed with FF FE), a BOM'd UTF-8 file, and a
    // BOM-less UTF-16LE one for the NUL-parity heuristic
    writeBytes(dir.resolve("utf16be.txt"),
      "w\u00efde utf16be".getBytes(StandardCharsets.UTF_16))
    writeBytes(dir.resolve("utf16le.txt"),
      Array[Byte](0xff.toByte, 0xfe.toByte) ++
        "w\u00efde utf16le".getBytes(StandardCharsets.UTF_16LE))
    writeBytes(dir.resolve("utf8bom.txt"),
      Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
        "b\u00f6m utf8".getBytes(StandardCharsets.UTF_8))
    writeBytes(dir.resolve("utf16le_nobom.txt"),
      "plain utf16le no bom".getBytes(StandardCharsets.UTF_16LE))
    // Legacy-encoding pins for the chardet-lite ladder (the reference ships
    // chardet; Readers.decodeLegacy catches its two most common cases and
    // this fixture pins the behavior):
    //   - Shift-JIS 日本語テキスト — C1-range lead bytes + clean strict
    //     decode → detected, decoded as the original text
    //   - windows-1252 "sm€rt ..." — € (0x80, invalid Shift-JIS) breaks the
    //     SJIS attempt, clean cp1252 repertoire → decoded as the original
    writeBytes(dir.resolve("sjis.txt"),
      "日本語テキスト".getBytes(
        java.nio.charset.Charset.forName("Shift_JIS")))
    writeBytes(dir.resolve("cp1252.txt"),
      "sm€rt “quotes” café".getBytes(
        java.nio.charset.Charset.forName("windows-1252")))
    // GBK / Big5 / EUC-JP / KOI8-R / cp1251 (chardet's other common
    // catches — reference requirements.txt:6) are DETECTED by the
    // CJK/Cyrillic ladder tail (Readers.decodeCjkOrCyrillic: strict decode
    // + script/frequency/case scoring) and pin the decoded original text.
    writeBytes(dir.resolve("gbk.txt"),
      "中文编码测试".getBytes(java.nio.charset.Charset.forName("GBK")))
    writeBytes(dir.resolve("big5.txt"),
      "繁體中文測試".getBytes(java.nio.charset.Charset.forName("Big5")))
    writeBytes(dir.resolve("eucjp.txt"),
      "日本語のテキストです".getBytes(java.nio.charset.Charset.forName("EUC-JP")))
    writeBytes(dir.resolve("koi8.txt"),
      "привет мир как дела".getBytes(java.nio.charset.Charset.forName("KOI8-R")))
    writeBytes(dir.resolve("cp1251.txt"),
      "добрый день всем привет".getBytes(
        java.nio.charset.Charset.forName("windows-1251")))
    // r9: EUC-KR (hangul-dominance gate) and ISO-2022-JP (7-bit escape
    // gate — would otherwise pass strict UTF-8 with raw ESC bytes)
    writeBytes(dir.resolve("euckr.txt"),
      "한국어 인코딩 테스트입니다".getBytes(
        java.nio.charset.Charset.forName("EUC-KR")))
    writeBytes(dir.resolve("iso2022jp.txt"),
      "こんにちは世界".getBytes(
        java.nio.charset.Charset.forName("ISO-2022-JP")))
    // r12 encoding micro-tail (VERDICT r11 "What's missing" #2):
    //   - ISO-2022-KR (RFC 1557, ESC $ ) C designator + SO/SI shifts) —
    //     chardet's escape prober detects it, Python decodes it; ours gates
    //     on the designator and strict-decodes via the JDK charset
    writeBytes(dir.resolve("iso2022kr.txt"),
      "한국어 뉴스 기사 본문".getBytes(
        java.nio.charset.Charset.forName("ISO-2022-KR")))
    //   - HZ-GB2312 (RFC 1843, '~{' GB pairs '~}') — chardet detects it;
    //     the JDK has no HZ coder either way, so the fixture hand-encodes
    //     (GB2312 bytes with the high bit stripped inside ~{ ~}) and
    //     Readers.decodeHz parses per the RFC
    writeBytes(dir.resolve("hz.txt"),
      "hz mode ".getBytes(StandardCharsets.US_ASCII) ++
        Array[Byte]('~', '{') ++
        "中文信息处理".getBytes(java.nio.charset.Charset.forName("GB2312"))
          .map(x => (x & 0x7f).toByte) ++
        Array[Byte]('~', '}'))
    //   - UTF-7 (RFC 2152) behind its explicit +/v8- BOM; body exercises
    //     implicit run termination (space / '?') and explicit '-'. Bytes
    //     verified against CPython's utf_7 codec output.
    writeBytes(dir.resolve("utf7.txt"),
      "+/v8-d+AOk-j+AOA vu +IBQ utf-7 +AL8-s+AO0?"
        .getBytes(StandardCharsets.US_ASCII))
    dir.toString
  }

  /** The 64 dHash bits of the `demoBmpTable` pixel formula as DuckDB CASE
    * terms over columns (k, w, h): bit(x,y) = p(x+1,y) > p(x,y) on the 9×8
    * nearest-neighbor grid, p(i,j) = (k·31 + (i·w div 9)·7 + (j·h div 8)·13)
    * mod 256 — mirrors `Multimodal.dHash` exactly (integer div both sides).
    */
  private def dhashTermsSql(tweakAware: Boolean): String =
    (for { y <- 0 until 8; x <- 0 until 8 } yield {
      val sy = s"(($y * h) // 8)"
      def g(xi: Int) = {
        val sx = s"(($xi * w) // 9)"
        // the near-dup fixture's one-pixel nudge: +64 iff the sampled pixel
        // is (3,3) and the row is a tweaked variant (t = 1)
        val tw = if (tweakAware)
          s" + 64 * (CASE WHEN t = 1 AND $sx = 3 AND $sy = 3 THEN 1 ELSE 0 END)"
        else ""
        s"((k*31 + $sx*7 + $sy*13$tw) % 256)"
      }
      // DuckDB's checked shift rejects 1<<63; spell the sign bit directly
      val bit = if (y * 8 + x == 63) "(-9223372036854775807 - 1)"
                else s"(1::BIGINT << ${y * 8 + x})"
      s"(CASE WHEN ${g(x + 1)} > ${g(x)} THEN $bit ELSE 0::BIGINT END)"
    }).mkString(" + ")

  private val dhashTerms: String = dhashTermsSql(tweakAware = false)
  private val dhashTweakTerms: String = dhashTermsSql(tweakAware = true)

  // ------------------------------------------------------- shared SQL pieces

  /** DuckDB: whitespace tokens of lower(trim(text)) — mirrors
    * `TextAnalysis.tokens`.
    */
  private val dTokens = "string_split_regex(trim(lower(text)), '\\s+')"
  /** DuckDB: tokens without lowercasing — mirrors `Dedup.tokens`. */
  private val dTokensCase = "string_split_regex(trim(text), '\\s+')"

  /** DuckDB: k-shingle list of `toks` (clamped like `Dedup.shingles`). */
  /** DuckDB: the kernel's deterministic minhash permutation multipliers as
    * a BIGINT list literal (md5-derived driver-side — same values the
    * native `graft_minhash` uses).
    */
  private def dMinhashCoeffs(numHashes: Int): String =
    graft.functions.MinHashImpl.coeffs(numHashes)
      .mkString("[", "::BIGINT, ", "::BIGINT]")

  private def dShingles(toks: String, k: Int): String =
    s"""CASE WHEN len($toks) <= $k THEN [array_to_string($toks, ' ')]
       | ELSE list_transform(generate_series(1, len($toks) - ${k - 1}),
       |   i -> array_to_string(($toks)[i:i+${k - 1}], ' ')) END""".stripMargin

  /** DuckDB: 16-bit simhash of `text` as a '0'/'1' string — mirrors
    * `Dedup.simhash(col, 16)`: bit j votes on the high bit of the j-th hex
    * digit of md5(token).
    */
  private def dSimhash(bits: Int): String = {
    val bitExprs = (1 to bits).map { j =>
      s"""CASE WHEN list_sum(list_transform($dTokensCase,
         | t -> CASE WHEN substr(md5(t), $j, 1) IN ('8','9','a','b','c','d','e','f')
         |   THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END""".stripMargin
    }
    bitExprs.mkString("concat(", ", ", ")")
  }

  /** DuckDB: cosine between two DOUBLE[] expressions with the same sequential
    * fold as `Similarity.cosine` (zero-denominator -> 0).
    */
  private def dCosine(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))) = 0
       | THEN 0.0
       | ELSE list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) /
       |   (sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x)))) END""".stripMargin

  /** DuckDB literal for the deterministic LSH hyperplanes — the same doubles
    * `Similarity.planeWeights` computes (shortest-round-trip rendering parses
    * back to the identical double).
    */
  private def dPlaneLiteral(numPlanes: Int, dim: Int): Seq[String] =
    Similarity.planeWeights(numPlanes, dim).toSeq.map(p =>
      p.mkString("[", ",", "]::DOUBLE[]"))

  /** DuckDB: sign-bit LSH bucket string of expression `e` (DOUBLE[]). */
  private def dLshBucket(e: String, numPlanes: Int, dim: Int): String =
    dPlaneLiteral(numPlanes, dim).map(pl =>
      s"CASE WHEN list_sum(list_transform(list_zip($e, $pl), p -> p[1]*p[2])) >= 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")

  /** DuckDB: the CMS depth-row multipliers as VALUES rows — the same
    * deterministic constants `Sketches.multipliers` uses. */
  private val dCmsSeeds: String = graft.ops.Sketches.multipliers(3).zipWithIndex
    .map { case (a, s) => s"($s::BIGINT, $a::BIGINT)" }.mkString(", ")

  /** DuckDB: the Morton/Z-order bit interleave of `cols` (low `bits` bits
    * each) — mirrors `Layout.zOrderKey`'s shift/mask expression tree. */
  private def dZOrder(cols: Seq[String], bits: Int): String = {
    val n = cols.length
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield s"((($c >> $i) & 1) << ${i * n + j})"
    terms.mkString("(", " | ", ")")
  }

  /** DuckDB: the engine-exact quantized k-means replay over `embeddings`
    * (k=4, iters=2) — CTE chain `v` → `qz` (int8-quantized vectors) → seeds
    * `c0` → assign/update ×2 → final assignment `a3` (id, cluster) with
    * final centroids `c2`. Shared by q_kmeans_exact and q_semantic_dedup.
    */
  private val dKmeansCtes =
    """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
      |m AS (SELECT id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
      |qz AS (SELECT id, CASE WHEN mx = 0
      |  THEN list_transform(e, x -> 0::BIGINT)
      |  ELSE list_transform(e, x -> floor(x * 127 / mx + 0.5)::BIGINT) END AS iv
      |  FROM m),
      |c0 AS (SELECT id AS cid, iv AS civ FROM qz ORDER BY id LIMIT 4),
      |a1 AS (SELECT id, iv, cid AS cluster FROM (
      |  SELECT q.id, q.iv, c.cid, row_number() OVER (PARTITION BY q.id
      |    ORDER BY list_sum(list_transform(range(1, len(q.iv) + 1),
      |      i -> (q.iv[i] - c.civ[i]) * (q.iv[i] - c.civ[i])))::BIGINT, c.cid) AS rn
      |  FROM qz q CROSS JOIN c0 c) WHERE rn = 1),
      |u1 AS (SELECT cluster, pos,
      |    floor(sum(comp)::DOUBLE / count(*))::BIGINT AS mcomp
      |  FROM (SELECT cluster, generate_subscripts(iv, 1) AS pos,
      |        unnest(iv) AS comp FROM a1) GROUP BY cluster, pos),
      |c1 AS (SELECT c0.cid, coalesce(n.civ, c0.civ) AS civ FROM c0 LEFT JOIN
      |  (SELECT cluster AS cid, list(mcomp ORDER BY pos) AS civ
      |   FROM u1 GROUP BY cluster) n USING (cid)),
      |a2 AS (SELECT id, iv, cid AS cluster FROM (
      |  SELECT q.id, q.iv, c.cid, row_number() OVER (PARTITION BY q.id
      |    ORDER BY list_sum(list_transform(range(1, len(q.iv) + 1),
      |      i -> (q.iv[i] - c.civ[i]) * (q.iv[i] - c.civ[i])))::BIGINT, c.cid) AS rn
      |  FROM qz q CROSS JOIN c1 c) WHERE rn = 1),
      |u2 AS (SELECT cluster, pos,
      |    floor(sum(comp)::DOUBLE / count(*))::BIGINT AS mcomp
      |  FROM (SELECT cluster, generate_subscripts(iv, 1) AS pos,
      |        unnest(iv) AS comp FROM a2) GROUP BY cluster, pos),
      |c2 AS (SELECT c1.cid, coalesce(n.civ, c1.civ) AS civ FROM c1 LEFT JOIN
      |  (SELECT cluster AS cid, list(mcomp ORDER BY pos) AS civ
      |   FROM u2 GROUP BY cluster) n USING (cid)),
      |a3 AS (SELECT id, cid AS cluster FROM (
      |  SELECT q.id, c.cid, row_number() OVER (PARTITION BY q.id
      |    ORDER BY list_sum(list_transform(range(1, len(q.iv) + 1),
      |      i -> (q.iv[i] - c.civ[i]) * (q.iv[i] - c.civ[i])))::BIGINT, c.cid) AS rn
      |  FROM qz q CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin

  /** DuckDB replay of the PRODUCTION FP k-means (q_kmeans): spherical
    * Lloyd's, k=8, iters=2, trained on the deterministic `id % 10 = 0`
    * slice — seed = 8 lowest-id slice vectors, assignment = max cosine
    * (ties → smallest cid, the `ivfAssign` rule), update = per-(cluster,
    * pos) avg, empty clusters keep their previous centroid — then the
    * final assignment over the FULL corpus under the trained centroids
    * `k2`. FP summation order differs between engines at ~1e-15 relative;
    * the consumer emits round-6 values (the battery's `dRound6` tolerance
    * pattern, cf. q_ann_recall), which absorbs it — this is what finally
    * moves q_kmeans from rows-only to the cross-engine hash check.
    */
  private val dKmeansFpCtes: String = {
    def assign(src: String, cents: String) =
      s"""SELECT id, e, cid AS cluster FROM (
         |  SELECT s.id, s.e, c.cid, row_number() OVER (PARTITION BY s.id
         |    ORDER BY ${dCosine("s.e", "c.ce")} DESC, c.cid) AS rn
         |  FROM $src s CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    def update(asg: String, prev: String) =
      s"""SELECT $prev.cid, coalesce(n.ce, $prev.ce) AS ce FROM $prev LEFT JOIN
         |  (SELECT cluster AS cid, list(mcomp ORDER BY pos) AS ce FROM
         |     (SELECT cluster, pos, avg(comp) AS mcomp FROM
         |        (SELECT cluster, generate_subscripts(e, 1) AS pos,
         |                unnest(e) AS comp FROM $asg)
         |      GROUP BY cluster, pos)
         |   GROUP BY cluster) n USING (cid)""".stripMargin
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
       |tr AS (SELECT id, e FROM v WHERE id % 10 = 0),
       |k0 AS (SELECT id AS cid, e AS ce FROM tr ORDER BY id LIMIT 8),
       |ka1 AS (${assign("tr", "k0")}),
       |k1 AS (${update("ka1", "k0")}),
       |ka2 AS (${assign("tr", "k1")}),
       |k2 AS (${update("ka2", "k1")}),
       |kaf AS (${assign("v", "k2")})""".stripMargin
  }

  /** Synthetic pattern-bearing content over documents — identical expression
    * both engines (word-soup text alone contains no extractable patterns).
    */
  private def contentExpr = concat(col("text"),
    lit(" contact u"), col("doc_id"), lit("@example.com or (555) 123-4567 on "),
    (col("doc_id") % 12 + 1).cast("string"), lit("/"),
    (col("doc_id") % 28 + 1).cast("string"), lit("/20"),
    lpad((col("doc_id") % 100).cast("string"), 2, "0"))

  private val dContentExpr =
    """text || ' contact u' || doc_id || '@example.com or (555) 123-4567 on ' ||
      | (doc_id % 12 + 1) || '/' || (doc_id % 28 + 1) || '/20' ||
      | lpad((doc_id % 100)::VARCHAR, 2, '0')""".stripMargin

  /** DuckDB replay of [[graft.ops.Bpe.learnMerges]]: `steps` chained CTE
    * rounds — pair count over the symbolized vocabulary, deterministic
    * argmax (count desc, pair asc), plain-`replace` merge — then the
    * learned merge table. Generated, because each round is one mechanical
    * CTE triple. Symbols ride double-space-separated (each symbol owns one
    * space per side) so the single-pass replace is exactly Sennrich greedy
    * — see [[graft.ops.Bpe]].
    */
  private def dBpeSql(filter: String, steps: Int,
                      apply: Boolean = false): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH v AS (
         |  SELECT word, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
         |    FROM documents WHERE ($filter) AND len(trim(text)) > 0)
         |  GROUP BY word),
         |it0 AS (SELECT cnt,
         |  '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS sym
         |  FROM v)""".stripMargin)
    for (i <- 1 to steps) {
      sb.append(
        s""",
           |p$i AS (SELECT cnt, l, unnest(range(0, len(l) - 1)) AS i
           |  FROM (SELECT cnt, string_split(trim(sym), '  ') AS l FROM it${i - 1})
           |  WHERE len(l) >= 2),
           |c$i AS (SELECT l[i+1] AS a, l[i+2] AS b, sum(cnt)::BIGINT AS n
           |  FROM p$i GROUP BY a, b),
           |b$i AS (SELECT a, b, n FROM c$i ORDER BY n DESC, a, b LIMIT 1),
           |it$i AS (SELECT cnt,
           |  replace(sym, ' ' || b$i.a || '  ' || b$i.b || ' ',
           |          ' ' || b$i.a || b$i.b || ' ') AS sym
           |  FROM it${i - 1} CROSS JOIN b$i)""".stripMargin)
    }
    if (!apply) {
      val rows = (1 to steps)
        .map(i => s"SELECT $i AS step, a AS lhs, b AS rhs, n AS pair_count FROM b$i")
        .mkString("\n", "\nUNION ALL\n", "\n")
      sb.append(s"\nSELECT * FROM ($rows) ORDER BY step").toString
    } else {
      // fertility mode: tokenize every doc with the learned merges (same
      // chained replace, scalar-subquery merge args; assumes the corpus
      // doesn't exhaust before `steps` — q_bpe_learn pins that) and report
      // per-doc subword stats. Empty docs keep a zero row via the left join.
      val chained = (1 to steps).foldLeft("sym") { (acc, i) =>
        s"""replace($acc,
           |  ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
           |  ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ')""".stripMargin
      }
      sb.append(
        s""",
           |docs AS (SELECT doc_id,
           |  CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
           |    ELSE string_split_regex(trim(text), '\\s+') END AS tk
           |  FROM documents WHERE ($filter)),
           |dw AS (SELECT doc_id, unnest(tk) AS w FROM docs),
           |ds AS (SELECT doc_id,
           |  '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS sym,
           |  len(w)::BIGINT AS wchars FROM dw),
           |dm AS (SELECT doc_id, $chained AS msym, wchars FROM ds),
           |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
           |  sum(len(string_split(trim(msym), '  ')))::BIGINT AS n_subwords,
           |  sum(wchars)::BIGINT AS n_chars
           |  FROM dm GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words,
           |  coalesce(a.n_subwords, 0) AS n_subwords,
           |  coalesce(a.n_chars, 0) AS n_chars
           |FROM docs d LEFT JOIN agg a USING (doc_id)
           |ORDER BY doc_id""".stripMargin).toString
    }
  }

  /** The validation fixture: a 3-way ragged record stream derived from
    * events (same CASE both engines).
    */
  private def validateJson = when(col("event_id") % 3 === 0, lit("""{"k": 1, "z": 2}"""))
    .when(col("event_id") % 3 === 1, lit("""{"q": 3}"""))
    .otherwise(col("props"))

  private val dValidateJson =
    """CASE WHEN event_id % 3 = 0 THEN '{"k": 1, "z": 2}'
      | WHEN event_id % 3 = 1 THEN '{"q": 3}' ELSE props END""".stripMargin

  // ---------------------------------------------------------------- queries

  type Q = (SparkSession, String) => DataFrame

  /** name -> (spark query, optional DuckDB oracle). */
  val battery: Seq[(String, Q, Option[String])] = Seq(

    // ---------------- relational substrate (scan/filter/agg/join/topk/window)

    ("q_scan_filter",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_quantity > 45
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("q1_agg",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             | round(sum(l_quantity), 2) AS sum_qty,
             | round(sum(l_extendedprice), 2) AS sum_base,
             | round(avg(l_discount), 6) AS avg_disc,
             | count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    ("q_join_agg",
      (s: SparkSession, d: String) =>
        tbl(s, d, "orders")
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(tbl(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
          .orderBy("n_name"),
      Some("""SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    ("q_join_anti",
      (s: SparkSession, d: String) =>
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
             |ORDER BY c_custkey""".stripMargin)),

    // The spark.sql entry point: users can run plain SQL against registered
    // views — a TPC-H Q3-flavored 3-way join + agg + top-k, near-identical
    // text on both engines.
    ("q_sql_api",
      (s: SparkSession, d: String) => {
        tbl(s, d, "customer").createOrReplaceTempView("customer")
        tbl(s, d, "orders").createOrReplaceTempView("orders")
        tbl(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT o_orderkey,
                |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                |  count(*) AS n_items
                |FROM customer
                |JOIN orders ON c_custkey = o_custkey
                |JOIN lineitem ON l_orderkey = o_orderkey
                |WHERE c_mktsegment = 'BUILDING'
                |GROUP BY o_orderkey
                |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             |  count(*) AS n_items
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey
             |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    ("q_part_stats",
      (s: SparkSession, d: String) =>
        tbl(s, d, "part")
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            Nums.round6(avg(col("p_retailprice"))).as("avg_price"),
            max(col("p_size")).as("max_size"))
          .orderBy("p_brand"),
      Some(s"""SELECT p_brand, count(*) AS n,
              | ${Nums.dRound6("avg(p_retailprice)")} AS avg_price,
              | max(p_size) AS max_size
              |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // TPC-H Q5-flavored 5-way join: region -> nation -> supplier ->
    // lineitem -> orders. Catalyst broadcasts the three dimension tables
    // (region/nation/supplier) and shuffles only the two fact tables.
    ("q_sql_multijoin",
      (s: SparkSession, d: String) => {
        Seq("region", "nation", "supplier", "lineitem", "orders")
          .foreach(t => tbl(s, d, t).createOrReplaceTempView(t))
        s.sql("""SELECT n_name,
                |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                |  count(*) AS n_items
                |FROM region
                |JOIN nation ON n_regionkey = r_regionkey
                |JOIN supplier ON s_nationkey = n_nationkey
                |JOIN lineitem ON l_suppkey = s_suppkey
                |JOIN orders ON o_orderkey = l_orderkey
                |WHERE r_name = 'ASIA'
                |GROUP BY n_name
                |ORDER BY revenue DESC, n_name""".stripMargin)
      },
      Some("""SELECT n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             |  count(*) AS n_items
             |FROM region
             |JOIN nation ON n_regionkey = r_regionkey
             |JOIN supplier ON s_nationkey = n_nationkey
             |JOIN lineitem ON l_suppkey = s_suppkey
             |JOIN orders ON o_orderkey = l_orderkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    ("q_join_semi",
      (s: SparkSession, d: String) =>
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders")
            .filter(col("o_totalprice") > 300000), // only big spenders
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    ("q_topk_orders",
      (s: SparkSession, d: String) =>
        tbl(s, d, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(100),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_orderstatus = 'O'
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    ("q_window_rank",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        tbl(s, d, "orders").withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, rn::INT AS rn, o_orderkey, o_totalprice FROM (
             | SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
             | FROM orders) WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    // Window-function variety: lead/lag offsets and ntile quartiles over
    // each customer's order history.
    ("q_window_offsets",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        tbl(s, d, "orders").filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             | lag(o_totalprice, 1) OVER w AS prev_price,
             | lead(o_totalprice, 1) OVER w AS next_price,
             | (ntile(4) OVER w)::INT AS quartile
             |FROM orders WHERE o_custkey < 100
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Fixed-width histogram: manual binning (floor((x-lo)/step), last bin
    // closed) — the portable form of width_bucket.
    ("q_histogram",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem")
          .select(least(floor((col("l_extendedprice") - 900) / 7000), lit(9.0))
            .cast("int").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT least(floor((l_extendedprice - 900) / 7000), 9)::INT AS bucket,
             | count(*) AS n
             |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Equi-depth histogram (optimizer-stats sibling of the fixed-width one):
    // exact interpolated percentile edges (control-plane array) + a
    // codegen'd literal-array bin pass — NOT a global ntile sort. DuckDB's
    // quantile_cont interpolates identically (q_percentile pins that), so
    // bin edges, counts and extrema all match exactly.
    ("q_histogram_eqdepth",
      (s: SparkSession, d: String) =>
        graft.ops.Profile.equiDepthHistogram(
          tbl(s, d, "orders"), "o_totalprice", buckets = 8)
          .orderBy("bucket"),
      Some("""WITH e AS (
             |  SELECT quantile_cont(o_totalprice,
             |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS ed
             |  FROM orders)
             |SELECT len(list_filter((SELECT ed FROM e), x -> x < o_totalprice))::INT
             |    AS bucket,
             |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
             |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // As-of join (backward, inclusive): each click matched to the user's
    // latest strictly-not-later view. Union+window plan (one shuffle) vs
    // DuckDB's native ASOF JOIN as the oracle.
    // Forward as-of (earliest at-or-after match) — DuckDB replays it with
    // the reversed ASOF inequality.
    ("q_asof_forward",
      (s: SparkSession, d: String) => {
        val ev = events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts_us"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts_us", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("value").as("view_value"))
        graft.ops.AsOf.joinForward(clicks, views, Seq("user_id"),
          "ts_us", "ts_us", Seq("view_value"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            round(col("view_value"), 6).as("view_value"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, event_id
             |  FROM events WHERE event_type = 'click'),
             |views AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, value AS view_value
             |  FROM events WHERE event_type = 'view')
             |SELECT c.event_id, c.user_id, c.ts_us,
             |  round(v.view_value, 6) AS view_value
             |FROM clicks c ASOF LEFT JOIN views v
             |  ON c.user_id = v.user_id AND c.ts_us <= v.ts_us
             |ORDER BY c.event_id""".stripMargin)),

    ("q_asof_join",
      (s: SparkSession, d: String) => {
        val ev = events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts_us"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts_us", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("value").as("view_value"))
        graft.ops.AsOf.joinBackward(clicks, views, Seq("user_id"),
          "ts_us", "ts_us", Seq("view_value"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            round(col("view_value"), 6).as("view_value"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, event_id
             |  FROM events WHERE event_type = 'click'),
             |views AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, value AS view_value
             |  FROM events WHERE event_type = 'view')
             |SELECT c.event_id, c.user_id, c.ts_us,
             |  round(v.view_value, 6) AS view_value
             |FROM clicks c ASOF LEFT JOIN views v
             |  ON c.user_id = v.user_id AND c.ts_us >= v.ts_us
             |ORDER BY c.event_id""".stripMargin)),

    ("q_rollup",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | round(sum(l_quantity), 2) AS qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    ("q_cube",
      (s: SparkSession, d: String) =>
        tbl(s, d, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    ("q_grouping_sets",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet").createOrReplaceTempView("lineitem_gs") match {
          case _ => s.sql(
            """SELECT l_returnflag, l_linestatus, count(*) AS n
              |FROM lineitem_gs
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
        },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
             |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    ("q_set_ops",
      (s: SparkSession, d: String) => {
        val custKeys = tbl(s, d, "customer").select(col("c_custkey").as("k"))
        val orderCust = tbl(s, d, "orders").select(col("o_custkey").as("k"))
        custKeys.intersect(orderCust).withColumn("op", lit("intersect"))
          .unionAll(custKeys.except(orderCust).withColumn("op", lit("except")))
          .groupBy("op").agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
          .orderBy("op")
      },
      Some("""WITH i AS (SELECT c_custkey AS k FROM customer
             |          INTERSECT SELECT o_custkey FROM orders),
             |e AS (SELECT c_custkey AS k FROM customer
             |      EXCEPT SELECT o_custkey FROM orders),
             |u AS (SELECT 'intersect' AS op, k FROM i
             |      UNION ALL SELECT 'except', k FROM e)
             |SELECT op, count(*) AS n, min(k) AS min_k, max(k) AS max_k
             |FROM u GROUP BY op ORDER BY op""".stripMargin)),

    // Range (interval) join: bin event values against a literal band table —
    // a broadcast join on a BETWEEN predicate, the non-equi join Catalyst
    // plans as BroadcastNestedLoopJoin (correct for a tiny build side).
    ("q_range_join",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val bands = Seq.tabulate(10)(i => (i, i * 10.0, (i + 1) * 10.0))
          .toDF("band", "lo", "hi")
        tbl(s, d, "events")
          .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy("band").agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
          .orderBy("band")
      },
      Some("""WITH bands AS (SELECT i::INT AS band, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
             |  FROM generate_series(0, 9) t(i))
             |SELECT band, count(*) AS n, round(avg(value), 6) AS avg_value
             |FROM events JOIN bands ON value >= lo AND value < hi
             |GROUP BY band ORDER BY band""".stripMargin)),

    ("q_distinct_exact",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem").agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders")),
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts,
             | count(DISTINCT l_suppkey) AS n_supps,
             | count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem""".stripMargin)),

    // HLL sketch values differ across engines by construction, so the query
    // asserts its own contract instead of emitting the raw estimate: both
    // estimate and exact count are computed IN SPARK in one aggregate, and
    // the output is whether the relative error sits inside 3x the configured
    // rsd (0.05 -> 15%). The exact denominators are emitted alongside and
    // recomputed INDEPENDENTLY by the DuckDB oracle, anchoring the row
    // cross-engine (only the sketch estimate itself stays Spark-side).
    ("q_approx_distinct",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem").agg(
          approx_count_distinct(col("l_partkey"), 0.05).as("ap"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_orderkey"), 0.05).as("ao"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
          .select(
            (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts") <= 0.15)
              .as("parts_within_tol"),
            (abs(col("ao") - col("exact_orders")).cast("double") / col("exact_orders") <= 0.15)
              .as("orders_within_tol"),
            col("exact_parts"), col("exact_orders")),
      Some("""SELECT true AS parts_within_tol, true AS orders_within_tol,
             | count(DISTINCT l_partkey) AS exact_parts,
             | count(DISTINCT l_orderkey) AS exact_orders
             |FROM lineitem""".stripMargin)),

    ("q_events_agg",
      (s: SparkSession, d: String) =>
        // DuckDB timestamps are µs precision, so both sides emit epoch-µs
        events(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(avg("value"), 6).as("avg_value"),
            min(col("ts_us")).as("min_ts_us"),
            max(col("ts_us")).as("max_ts_us"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value,
             | min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // The streaming windowed aggregation under the batch hash check: the
    // SAME StreamingIngest.windowedCounts code (watermark + tumbling
    // event-time window + count/sum) replayed over the batch events table —
    // Catalyst's EliminateEventTimeWatermark makes the watermark a no-op in
    // batch, so this pins exactly the aggregate a readStream would run.
    ("q_windowed_counts",
      (s: SparkSession, d: String) => {
        val ev = events(s, d)
          .select(col("event_type"), col("value"),
            timestamp_micros(col("ts_us")).as("ets"))
        graft.streaming.StreamingIngest.windowedCounts(ev, "ets", "1 hour", "1 hour")
          .select(
            unix_micros(col("window.start")).as("w_start_us"),
            unix_micros(col("window.end")).as("w_end_us"),
            col("event_type"), col("n"),
            Nums.round6(col("total_value")).as("total_value"))
          .orderBy("w_start_us", "event_type")
      },
      Some(s"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS w_start_us,
              | (epoch_us(ts) // 3600000000) * 3600000000 + 3600000000 AS w_end_us,
              | event_type, count(*) AS n,
              | ${Nums.dRound6("sum(value)")} AS total_value
              |FROM events GROUP BY 1, 2, 3 ORDER BY w_start_us, event_type""".stripMargin)),

    // Pivot: one column per event_type, counts per user — groupBy().pivot()
    // with an explicit value list so the plan is a single aggregate (no
    // distinct-scan for the pivot domain).
    ("q_pivot",
      (s: SparkSession, d: String) =>
        tbl(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      Some("""SELECT user_id,
             | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             | count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
             | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             | count(CASE WHEN event_type = 'view' THEN 1 END) AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Typed extraction from a JSON column: from_json with an explicit
    // schema (schema-on-read projection — stays codegen'd, no UDF).
    ("q_json_extract",
      (s: SparkSession, d: String) =>
        tbl(s, d, "events")
          .select(col("event_id"),
            expr("from_json(props, 'k INT').k").as("k"))
          .orderBy("event_id"),
      Some("""SELECT event_id, json_extract(props, '$.k')::INT AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------ S1-S6 ingest readers

    ("q_ingest_csv",
      (s: SparkSession, d: String) => {
        val path = csvFixture(s, d)
        Readers.csv(s, path)
          .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
            col("c_nationkey").cast("int").as("c_nationkey"),
            col("c_acctbal").cast("double").as("c_acctbal"), col("c_mktsegment"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    ("q_ingest_json",
      (s: SparkSession, d: String) => {
        val path = jsonFixture(s, d)
        Readers.json(s, path)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"), col("source"), col("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars, source, text FROM documents
             |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)),

    ("q_ingest_xml",
      (s: SparkSession, d: String) => {
        val path = xmlFixture(s, d)
        Readers.promoteMapKeys(Readers.xml(s, path)).orderBy("id")
      },
      Some("""SELECT trim(text) AS _text, doc_id::VARCHAR AS id, lang
             |FROM documents WHERE doc_id < 100 ORDER BY id""".stripMargin)),

    ("q_ingest_docx",
      (s: SparkSession, d: String) => {
        val path = docxFixture(s, d)
        Readers.docx(s, path).orderBy("content")
      },
      Some("""SELECT text AS content FROM documents WHERE doc_id < 50
             |ORDER BY content""".stripMargin)),

    ("q_ingest_pdf",
      (s: SparkSession, d: String) => {
        val path = pdfFixture(d)
        Readers.pdf(s, path).orderBy("content")
      },
      Some(pdfPageTexts.map(t => s"SELECT '$t ' AS content")
        .mkString("", " UNION ALL ", " ORDER BY content"))),

    ("q_ingest_pdf_encrypted",
      (s: SparkSession, d: String) => {
        val path = encryptedPdfFixture(d)
        Readers.pdf(s, path).orderBy("content")
      },
      Some((encPdfRc4Texts ++ encPdfAesTexts ++ encPdfAes256Texts)
        .map(t => s"SELECT '$t ' AS content")
        .mkString("", " UNION ALL ", " ORDER BY content"))),

    ("q_ingest_txt",
      (s: SparkSession, d: String) => {
        val path = txtFixture(s, d)
        Readers.txt(s, path).orderBy("content")
      },
      Some("""SELECT text AS content FROM documents WHERE doc_id < 100
             |ORDER BY content""".stripMargin)),

    ("q_ingest_txt_safe",
      (s: SparkSession, d: String) => {
        val path = txtFixture(s, d)
        Readers.txtSafe(s, path).orderBy("content")
      },
      Some("""SELECT text AS content, CAST(NULL AS VARCHAR) AS _ingest_error
             |FROM documents WHERE doc_id < 100 ORDER BY content""".stripMargin)),

    ("q_ingest_txt_encodings",
      (s: SparkSession, d: String) => {
        val path = encodedTxtFixture(d)
        Readers.txtWithCharsetFallback(s, path).orderBy("content")
      },
      Some(s"""SELECT content FROM (
              | SELECT 'caf\u00e9 r\u00e9sum\u00e9 na\u00efve' AS content
              | UNION ALL SELECT 'h\u00e9llo \u00fctf8'
              | UNION ALL SELECT 'w\u00efde utf16be'
              | UNION ALL SELECT 'w\u00efde utf16le'
              | UNION ALL SELECT 'b\u00f6m utf8'
              | UNION ALL SELECT 'plain utf16le no bom'
              | UNION ALL SELECT '\u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8'
              | UNION ALL SELECT 'sm\u20acrt \u201cquotes\u201d caf\u00e9'
              | -- GBK / Big5 / EUC-JP / KOI8-R / cp1251 are DETECTED by the
              | -- chardet-lite CJK/Cyrillic tail (Readers.decodeCjkOrCyrillic)
              | -- and decode to the original text:
              | UNION ALL SELECT '\u4e2d\u6587\u7f16\u7801\u6d4b\u8bd5'
              | UNION ALL SELECT '\u7e41\u9ad4\u4e2d\u6587\u6e2c\u8a66'
              | UNION ALL SELECT '\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u3067\u3059'
              | UNION ALL SELECT '\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u043a\u0430\u043a \u0434\u0435\u043b\u0430'
              | UNION ALL SELECT '\u0434\u043e\u0431\u0440\u044b\u0439 \u0434\u0435\u043d\u044c \u0432\u0441\u0435\u043c \u043f\u0440\u0438\u0432\u0435\u0442'
              | -- r9: EUC-KR (hangul dominance) and ISO-2022-JP (escape gate)
              | UNION ALL SELECT '\ud55c\uad6d\uc5b4 \uc778\ucf54\ub529 \ud14c\uc2a4\ud2b8\uc785\ub2c8\ub2e4'
              | UNION ALL SELECT '\u3053\u3093\u306b\u3061\u306f\u4e16\u754c'
              | -- r12 micro-tail: ISO-2022-KR + HZ-GB2312 (escape-prober
              | -- gates) and UTF-7 behind its explicit BOM
              | UNION ALL SELECT '\ud55c\uad6d\uc5b4 \ub274\uc2a4 \uae30\uc0ac \ubcf8\ubb38'
              | UNION ALL SELECT 'hz mode \u4e2d\u6587\u4fe1\u606f\u5904\u7406'
              | UNION ALL SELECT 'd\u00e9j\u00e0 vu \u2014 utf-7 \u00bfs\u00ed?'
              |) ORDER BY content""".stripMargin)),

    // ------------------------------------------------ F1/F2 extraction

    ("q_extract_patterns",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents").filter(col("doc_id") < 200)
          .withColumn("content", contentExpr)
          .select(col("doc_id"),
            array_join(graft.ops.Extract.emails(col("content")), "|").as("emails"),
            array_join(graft.ops.Extract.phones(col("content")), "|").as("phones"),
            array_join(graft.ops.Extract.dates(col("content")), "|").as("dates"),
            array_join(graft.ops.Extract.numbers(col("content")), "|").as("numbers"))
          .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT doc_id, $dContentExpr AS content
              | FROM documents WHERE doc_id < 200)
              |SELECT doc_id,
              | array_to_string(regexp_extract_all(content,
              |   '\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b'), '|') AS emails,
              | array_to_string(list_transform(list_zip(
              |   regexp_extract_all(content, '(\\+?\\d{1,3}[-.\\s]?)?(\\(?\\d{3}\\)?[-.\\s]?)\\d{3}[-.\\s]?\\d{4}', 1),
              |   regexp_extract_all(content, '(\\+?\\d{1,3}[-.\\s]?)?(\\(?\\d{3}\\)?[-.\\s]?)\\d{3}[-.\\s]?\\d{4}', 2)),
              |   p -> coalesce(p[1], '') || coalesce(p[2], '')), '|') AS phones,
              | array_to_string(regexp_extract_all(content, '\\d{1,2}[-/]\\d{1,2}[-/]\\d{2,4}'), '|') AS dates,
              | array_to_string(regexp_extract_all(content, '-?\\d+\\.?\\d*'), '|') AS numbers
              |FROM c ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: full email/phone spans replaced with placeholder tags
    // (same portable regexes as extraction, whole-match semantics).
    ("q_redact_pii",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents").filter(col("doc_id") < 200)
          .withColumn("content", contentExpr)
          .select(col("doc_id"),
            graft.ops.Extract.redactPii(col("content")).as("redacted"))
          .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT doc_id, $dContentExpr AS content
              | FROM documents WHERE doc_id < 200)
              |SELECT doc_id, regexp_replace(regexp_replace(content,
              |  '${graft.ops.Extract.emailPattern}', '[EMAIL]', 'g'),
              |  '${graft.ops.Extract.phonePattern}', '[PHONE]', 'g') AS redacted
              |FROM c ORDER BY doc_id""".stripMargin)),

    ("q_stopword_removal",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.ops.Extract.removeStopwords(col("text"),
              Seq("the", "a", "of", "and", "to", "in", "is")).as("cleaned"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, array_to_string(list_filter(
             |  string_split_regex(trim(text), '\s+'),
             |  t -> NOT list_contains(['the','a','of','and','to','in','is'],
             |    lower(t))), ' ') AS cleaned
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ A1 inference / V1 validation

    ("q_field_presence",
      (s: SparkSession, d: String) =>
        InferSchema.fieldPresence(tbl(s, d, "events"), "props").orderBy("field"),
      Some("""SELECT field, count(*)::BIGINT AS n_present FROM (
             | SELECT unnest(json_keys(props)) AS field FROM events)
             |GROUP BY field ORDER BY field""".stripMargin)),

    // Typed (non-parity) inference end-to-end: ragged, mixed-type JSON built
    // from lineitem (same construction both engines — only key presence and
    // JSON value TYPES matter, so value formatting differences are
    // irrelevant), through InferSchema.infer(parityStringify = false) — the
    // Jackson type-vote path — with the vote replayed independently in
    // DuckDB via json_each/json_type. Expected: amt sees {integer, number}
    // across rows and votes number; even_supp is integer and absent on odd
    // lines (not required); qty/flag/big are total (required).
    ("q_infer_typed",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val json = concat(
          lit("{\"qty\": "), col("l_quantity").cast("string"),
          lit(", \"flag\": \""), col("l_returnflag"), lit("\""),
          lit(", \"big\": "), (col("l_quantity") > 25).cast("string"),
          when(col("l_linenumber") % 2 === 0,
            concat(lit(", \"even_supp\": "), col("l_suppkey").cast("string")))
            .otherwise(lit("")),
          when(col("l_linenumber") === 1,
            concat(lit(", \"amt\": "), col("l_suppkey").cast("string")))
            .when(col("l_linenumber") === 2,
              concat(lit(", \"amt\": "), col("l_extendedprice").cast("string")))
            .otherwise(lit("")),
          lit("}"))
        val records = tbl(s, d, "lineitem").select(json.as("data"))
        val schema = InferSchema.infer(records, "data", parityStringify = false)
          .getOrElse(sys.error("empty batch"))
        val req = schema.required.toSet
        schema.properties.toSeq.sortBy(_._1)
          .map { case (f, t) => (f, t, req.contains(f)) }
          .toDF("field", "jtype", "required")
      },
      Some("""WITH src AS (
             |  SELECT ('{"qty": ' || l_quantity || ', "flag": "' || l_returnflag ||
             |    '", "big": ' || (l_quantity > 25) ||
             |    CASE WHEN l_linenumber % 2 = 0
             |      THEN ', "even_supp": ' || l_suppkey ELSE '' END ||
             |    CASE WHEN l_linenumber = 1 THEN ', "amt": ' || l_suppkey
             |         WHEN l_linenumber = 2 THEN ', "amt": ' || l_extendedprice
             |         ELSE '' END || '}')::JSON AS j
             |  FROM lineitem),
             |total AS (SELECT count(*) AS n FROM src),
             |kv AS (
             |  SELECT field,
             |    CASE json_type(j, '$.' || field)
             |      WHEN 'BIGINT' THEN 'integer' WHEN 'UBIGINT' THEN 'integer'
             |      WHEN 'DOUBLE' THEN 'number' WHEN 'VARCHAR' THEN 'string'
             |      WHEN 'BOOLEAN' THEN 'boolean' WHEN 'OBJECT' THEN 'object'
             |      WHEN 'ARRAY' THEN 'array' WHEN 'NULL' THEN 'null'
             |      ELSE 'string' END AS t
             |  FROM (SELECT j, unnest(json_keys(j)) AS field FROM src)),
             |agg AS (
             |  SELECT field, count(*) AS np,
             |    list_sort(list_distinct(list(t) FILTER (WHERE t <> 'null'))) AS ts
             |  FROM kv GROUP BY field)
             |SELECT field,
             |  CASE WHEN len(ts) = 0 THEN 'null'
             |       WHEN len(ts) = 1 THEN ts[1]
             |       WHEN len(ts) = 2 AND ts[1] = 'integer' AND ts[2] = 'number'
             |         THEN 'number'
             |       ELSE 'string' END AS jtype,
             |  np = (SELECT n FROM total) AS required
             |FROM agg ORDER BY field""".stripMargin)),

    ("q_validate",
      (s: SparkSession, d: String) =>
        // the issues are projected once, from one parse of each record
        Validate.withQualityIssues(tbl(s, d, "events").withColumn("j", validateJson),
            JsonSchema(Map("k" -> "string"), Seq("k")), "j")
          .select(col("event_id"),
            array_join(col("_quality_issues"), "|").as("issues"),
            size(col("_quality_issues")).as("n_issues"))
          .orderBy("event_id"),
      Some(s"""WITH r AS (SELECT event_id, $dValidateJson AS j FROM events),
              |k AS (SELECT event_id, json_keys(j) AS record_keys FROM r)
              |SELECT event_id,
              | coalesce(array_to_string(list_concat(
              |   list_transform(list_filter(record_keys, x -> NOT list_contains(['k'], x)),
              |     x -> 'Field ''' || x || ''' not in schema'),
              |   list_transform(list_filter(['k'], x -> NOT list_contains(record_keys, x)),
              |     x -> 'Missing field: ''' || x || '''')), '|'), '') AS issues,
              | (len(list_filter(record_keys, x -> NOT list_contains(['k'], x))) +
              |  len(list_filter(['k'], x -> NOT list_contains(record_keys, x))))::INT AS n_issues
              |FROM k ORDER BY event_id""".stripMargin)),

    // ---------------------------------- pipeline round-trip: M1/W1/W2/Q1-Q4

    // The RAGGED schema-on-read path end-to-end (ingestJson): records
    // disagree on key sets, so inference unions properties, intersects
    // required, and every record picks up real "Missing field" issues —
    // recomputed independently by the oracle from the same case split.
    ("q_ingest_json_ragged",
      (s: SparkSession, d: String) => {
        val corpusDir = Files.createTempDirectory("graft_corpus_").toString
        Scratch.defer(corpusDir) // harness deletes it outside any timer
        val recs = tbl(s, d, "events").filter(col("event_id") < 300)
          .select(col("event_id"), validateJson.as("j"))
        Pipeline.ingestJson(s, recs, "j", corpusDir, idCol = Some("event_id"))
        Corpus.records(s, corpusDir)
          .select(col("id"), col("schema_version"),
            coalesce(array_join(col("quality_issues"), "|"), lit("")).as("issues"))
          .orderBy("id")
      },
      Some(s"""SELECT event_id AS id, 1 AS schema_version,
              | CASE WHEN event_id % 3 = 0 THEN 'Missing field: ''q'''
              |   WHEN event_id % 3 = 1 THEN 'Missing field: ''k''|Missing field: ''z'''
              |   ELSE 'Missing field: ''q''|Missing field: ''z''' END AS issues
              |FROM events WHERE event_id < 300 ORDER BY id""".stripMargin)),

    ("q_corpus_roundtrip",
      (s: SparkSession, d: String) => {
        val corpusDir = Files.createTempDirectory("graft_corpus_").toString
        Scratch.defer(corpusDir) // harness deletes it outside any timer
        Pipeline.ingest(s, tbl(s, d, "documents"), corpusDir, idCol = Some("doc_id"))
        Corpus.latestRecords(s, corpusDir, 50)
          .select(col("id"),
            col("schema_version"),
            get_json_object(col("data"), "$.text").as("text"),
            get_json_object(col("data"), "$.lang").as("lang"),
            get_json_object(col("data"), "$.doc_id").cast("long").as("doc_id"),
            get_json_object(col("data"), "$._schema_version").cast("int").as("blob_version"),
            col("quality_issues").isNotNull.as("has_issues"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id, 1 AS schema_version, text, lang, doc_id,
             | 1 AS blob_version, false AS has_issues
             |FROM (SELECT * FROM documents ORDER BY doc_id DESC LIMIT 50)
             |ORDER BY id""".stripMargin)),

    // The throughput headline vs BASELINE.md's ~1,000 rec/s: the full ingest
    // pipeline over the biggest table (lineitem — 600k rows at sf0.1),
    // returning the batch counters the reference reports per upload.
    ("q_ingest_pipeline_bulk",
      (s: SparkSession, d: String) => {
        val corpusDir = Files.createTempDirectory("graft_corpus_").toString
        Scratch.defer(corpusDir) // harness deletes it outside any timer
        val r = Pipeline.ingest(s, tbl(s, d, "lineitem"), corpusDir)
        // The result is the driver-side counters — nothing reads the corpus
        // back. The delete itself is DEFERRED via Scratch (registered at
        // creation above): it is harness hygiene, not engine work, and at
        // sf10 the inline walk-and-delete sat inside the bench's timed
        // region as part of the battery's single biggest row.
        import s.implicits._
        Seq((r.recordCount, r.cleanCount, r.flaggedCount, r.version))
          .toDF("n_records", "n_clean", "n_flagged", "version")
      },
      Some("""SELECT count(*) AS n_records, count(*) AS n_clean,
             | 0::BIGINT AS n_flagged, 1 AS version FROM lineitem""".stripMargin)),

    ("q_schema_evolution",
      (s: SparkSession, d: String) => {
        val corpusDir = Files.createTempDirectory("graft_corpus_").toString
        Scratch.defer(corpusDir) // harness deletes it outside any timer
        // version-bump semantics are row-count independent; slices keep this
        // query about the state machine (bulk throughput has its own query)
        Pipeline.ingest(s, tbl(s, d, "documents").filter(col("doc_id") < 2000),
          corpusDir, idCol = Some("doc_id"))
        Pipeline.ingest(s, tbl(s, d, "events").filter(col("event_id") < 2000),
          corpusDir, idCol = Some("event_id"))
        Corpus.schemaChanges(s, corpusDir)
          .select(col("old_version"), col("new_version"),
            array_join(col("added_fields"), "|").as("added"),
            array_join(col("removed_fields"), "|").as("removed"))
          .orderBy("new_version")
      },
      Some("""SELECT 1 AS old_version, 2 AS new_version,
             | 'event_id|event_type|props|ts|user_id|value' AS added,
             | 'doc_id|lang|n_chars|source|text' AS removed""".stripMargin)),

    ("q_schema_history",
      (s: SparkSession, d: String) => {
        val corpusDir = Files.createTempDirectory("graft_corpus_").toString
        Scratch.defer(corpusDir) // harness deletes it outside any timer
        Pipeline.ingest(s, tbl(s, d, "documents").filter(col("doc_id") < 2000),
          corpusDir, idCol = Some("doc_id"))
        Pipeline.ingest(s, tbl(s, d, "events").filter(col("event_id") < 2000),
          corpusDir, idCol = Some("event_id"))
        Corpus.schemaHistory(s, corpusDir)
          .select(col("version"),
            size(json_object_keys(get_json_object(col("schema"), "$.properties")))
              .as("n_props"))
          .orderBy("version")
      },
      Some("""SELECT 1 AS version, 6 AS n_props
             |UNION ALL SELECT 2, 7 ORDER BY version""".stripMargin)),

    // The records↔schema_history relationship as a REAL join (SURVEY §2.2 —
    // the reference re-reads the latest schema instead of ever joining).
    ("q_records_join_schema",
      (s: SparkSession, d: String) => {
        val corpusDir = Files.createTempDirectory("graft_corpus_").toString
        Scratch.defer(corpusDir) // harness deletes it outside any timer
        Pipeline.ingest(s, tbl(s, d, "documents"), corpusDir, idCol = Some("doc_id"))
        Corpus.records(s, corpusDir)
          .join(Corpus.schemaHistory(s, corpusDir),
            col("schema_version") === col("version"))
          .groupBy("version")
          .agg(count(lit(1)).as("n_records"),
            first(size(json_object_keys(get_json_object(col("schema"), "$.properties"))))
              .as("n_props"))
          .orderBy("version")
      },
      Some("""SELECT 1 AS version, count(*) AS n_records, 6 AS n_props
             |FROM documents""".stripMargin)),

    // ------------------------------------------------ P1/P2 preview

    ("q_preview",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents").orderBy("doc_id").limit(10),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
             |ORDER BY doc_id LIMIT 10""".stripMargin)),

    ("q_raw_sample",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents").orderBy("doc_id").limit(5)
          .select(col("doc_id"),
            to_json(struct(col("doc_id"), col("lang"), col("n_chars"),
              col("source"), col("text"))).as("record_json")),
      Some("""SELECT doc_id, to_json(struct_pack(doc_id := doc_id, lang := lang,
             |  n_chars := n_chars, source := source, text := text))::VARCHAR AS record_json
             |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin)),

    // Gap-based sessionization (SURVEY §2.2 stateful category): 30-minute
    // gap over each user's event stream.
    ("q_sessionize",
      (s: SparkSession, d: String) =>
        graft.ops.Sessionize.byGap(
          events(s, d).select(col("user_id"), col("ts_us")),
          "user_id", "ts_us", gapMicros = 30L * 60 * 1000000)
          .select(col("user_id"), col("session_no").cast("long").as("session_no"),
            col("n_events"), col("start_us"), col("end_us"))
          .orderBy("user_id", "session_no"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
             |marked AS (
             |  SELECT user_id, ts_us,
             |    CASE WHEN lag(ts_us) OVER w IS NULL
             |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
             |ids AS (
             |  SELECT user_id, ts_us, (sum(ns) OVER (
             |    PARTITION BY user_id ORDER BY ts_us
             |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_no
             |  FROM marked)
             |SELECT user_id, session_no, count(*) AS n_events,
             |  min(ts_us) AS start_us, max(ts_us) AS end_us
             |FROM ids GROUP BY user_id, session_no
             |ORDER BY user_id, session_no""".stripMargin)),

    // Same sessions via the built-in `session_window` aggregate (the
    // Spark-native single-aggregation plan, streaming-valid). Merge is
    // inclusive at the boundary (diff == gap extends the session), exactly
    // like `Sessionize.byGap` — verified by StreamingSpec.
    ("q_sessionize_native",
      (s: SparkSession, d: String) =>
        graft.ops.Sessionize.byGapNative(
          events(s, d).select(col("user_id"), col("ts_us")),
          "user_id", "ts_us", gapMicros = 30L * 60 * 1000000)
          .orderBy("user_id", "start_us"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
             |marked AS (
             |  SELECT user_id, ts_us,
             |    CASE WHEN lag(ts_us) OVER w IS NULL
             |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
             |ids AS (
             |  SELECT user_id, ts_us, sum(ns) OVER (
             |    PARTITION BY user_id ORDER BY ts_us
             |    ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM marked)
             |SELECT user_id, count(*) AS n_events,
             |  min(ts_us) AS start_us, max(ts_us) AS end_us
             |FROM ids GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    // Exact interpolated quantiles (percentile = DuckDB quantile_cont) per
    // group — the sort-based analytics staple.
    ("q_percentile",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            Nums.round6(expr("percentile(l_quantity, 0.25)")).as("p25"),
            Nums.round6(expr("percentile(l_quantity, 0.5)")).as("p50"),
            Nums.round6(expr("percentile(l_quantity, 0.75)")).as("p75"),
            Nums.round6(expr("percentile(l_extendedprice, 0.95)")).as("p95_price"))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              | ${Nums.dRound6("quantile_cont(l_quantity, 0.25)")} AS p25,
              | ${Nums.dRound6("quantile_cont(l_quantity, 0.5)")} AS p50,
              | ${Nums.dRound6("quantile_cont(l_quantity, 0.75)")} AS p75,
              | ${Nums.dRound6("quantile_cont(l_extendedprice, 0.95)")} AS p95_price
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Salted skew-join: identical result set to the plain equi-join (the
    // salt is internal); the oracle IS the plain join.
    ("q_join_salted",
      (s: SparkSession, d: String) =>
        graft.ops.SkewJoin.saltedJoin(
          tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          tbl(s, d, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          Seq("l_orderkey"), salts = 8)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), sum("l_quantity").cast("long").as("qty"))
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n, sum(l_quantity)::BIGINT AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------ dedup family

    ("q_dedup_exact",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents").select(col("doc_id").as("id"), col("text"))
        val doubled = docs.unionAll(
          docs.select((col("id") + 100000).as("id"), col("text")))
        Dedup.exactDuplicateGroups(
          doubled.withColumn("fp", TextAnalysis.fingerprintMd5(col("text"))),
          "id", Seq("fp"))
          .select(col("keep_id"), col("n_dups").cast("long").as("n_dups"))
          .orderBy("keep_id")
      },
      Some(s"""WITH doubled AS (
              |  SELECT doc_id AS id, text FROM documents
              |  UNION ALL SELECT doc_id + 100000, text FROM documents)
              |SELECT min(id) AS keep_id, count(*) AS n_dups FROM doubled
              |GROUP BY md5(array_to_string($dTokens, ' '))
              |ORDER BY keep_id""".stripMargin)),

    ("q_dedup_keepfirst",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents").select(col("doc_id").as("id"), col("text"))
        val doubled = docs.unionAll(
          docs.select((col("id") + 100000).as("id"), col("text")))
        Dedup.dedupKeepFirst(
          doubled.withColumn("fp", TextAnalysis.fingerprintMd5(col("text"))),
          "id", Seq("fp"))
          .select("id").orderBy("id")
      },
      Some(s"""WITH doubled AS (
              |  SELECT doc_id AS id, text FROM documents
              |  UNION ALL SELECT doc_id + 100000, text FROM documents)
              |SELECT min(id) AS id FROM doubled
              |GROUP BY md5(array_to_string($dTokens, ' '))
              |ORDER BY id""".stripMargin)),

    // The oracle replays the ENTIRE deterministic algorithm — md5 token
    // hashes, shingle fold, the 16 permutations, band keys, the bucket
    // self-join — not just ground-truth Jaccard: LSH recall is
    // probabilistic (a true pair can miss every band), so asserting
    // against all-pairs truth would fail whenever banding misses (observed
    // at sf0.1). Exact Jaccard still verifies every emitted pair.
    ("q_dedup_minhash",
      (s: SparkSession, d: String) => {
        // Pair-audit output is quadratic in duplicate-group size by
        // contract (the q_dedup_simhash note); the FIXTURE bounds the
        // input to the sf3 corpus prefix (doc_id < 150000 — a no-op at
        // sf ≤ 3, where max doc_id is 149999) — still a ×30
        // verbatim-duplication stress at sf10+, but the battery total
        // keeps measuring the engine, not pair materialization. The bound
        // is unconditional and mirrored in the oracle SQL (input-
        // comparable at every scale). API stays unbounded; consumers use
        // q_minhash dedup-id queries, whose output is linear.
        val docs = tbl(s, d, "documents").filter(col("doc_id") < 150000L)
        Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          threshold = 0.9).orderBy("id_a", "id_b")
      },
      // The oracle's `bands` CTE still keys each band with md5 text, while
      // the engine keys it with a 64-bit xxhash64 (Dedup.lshBands). The
      // output pairs agree anyway: both keys are equal exactly when the band
      // slices are, and a collision of either hash can only propose a
      // candidate that exact-Jaccard verify then accepts or rejects on its
      // own. No key reaches the output.
      Some(s"""WITH t AS (
              |  SELECT doc_id, list_transform($dTokensCase,
              |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT + 1) AS th
              |  FROM documents WHERE doc_id < 150000),
              |shh AS (
              |  SELECT doc_id, CASE WHEN len(th) <= 5
              |    THEN [list_reduce(list_prepend(7::BIGINT, th[1:len(th)]),
              |      (a, b) -> (a * 31 + b) % 2147483647)]
              |    ELSE list_transform(range(1, len(th) - 3),
              |      i -> list_reduce(list_prepend(7::BIGINT, th[i:i+4]),
              |        (a, b) -> (a * 31 + b) % 2147483647)) END AS sh
              |  FROM t),
              |sig AS (
              |  SELECT doc_id, list_transform(${dMinhashCoeffs(16)},
              |    a -> list_min(list_transform(sh, h -> (a * (h + 1)) % 2147483647))) AS sg
              |  FROM shh),
              |bands AS (
              |  SELECT doc_id, unnest(list_transform(range(0, 4),
              |    b -> md5(b || ':' || array_to_string(sg[b*4+1 : b*4+4], '|')))) AS bkey
              |  FROM sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |sets AS (
              |  SELECT doc_id, list_distinct(${dShingles(dTokensCase, 5)}) AS s
              |  FROM documents)
              |SELECT c.id_a, c.id_b,
              | ${Nums.dRound6("""len(list_intersect(a.s, b.s))::DOUBLE /
              |   len(list_distinct(list_concat(a.s, b.s)))""")} AS jaccard
              |FROM cand c
              |JOIN sets a ON a.doc_id = c.id_a
              |JOIN sets b ON b.doc_id = c.id_b
              |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              |   len(list_distinct(list_concat(a.s, b.s))) >= 0.9
              |ORDER BY id_a, id_b""".stripMargin)),

    // Dedup RECALL measurement (the "measure, don't guess" dial — q_ann
    // _recall's dedup sibling): banded-LSH verified pairs vs the exact
    // all-pairs Jaccard ground truth on a bounded subset. Verified pairs
    // are exact-Jaccard-filtered (precision 1.0 by construction), so the
    // number under test is what banding MISSED: recall_ppm.
    ("q_dedup_recall",
      (s: SparkSession, d: String) =>
        Dedup.minhashRecallStats(
          tbl(s, d, "documents").filter(col("doc_id") < 600), "doc_id", "text",
          threshold = 0.9),
      // md5 band keys in the oracle: see the q_dedup_minhash note.
      Some(s"""WITH t AS (
              |  SELECT doc_id, list_transform($dTokensCase,
              |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT + 1) AS th
              |  FROM documents WHERE doc_id < 600),
              |shh AS (
              |  SELECT doc_id, CASE WHEN len(th) <= 5
              |    THEN [list_reduce(list_prepend(7::BIGINT, th[1:len(th)]),
              |      (a, b) -> (a * 31 + b) % 2147483647)]
              |    ELSE list_transform(range(1, len(th) - 3),
              |      i -> list_reduce(list_prepend(7::BIGINT, th[i:i+4]),
              |        (a, b) -> (a * 31 + b) % 2147483647)) END AS sh
              |  FROM t),
              |sig AS (
              |  SELECT doc_id, list_transform(${dMinhashCoeffs(16)},
              |    a -> list_min(list_transform(sh, h -> (a * (h + 1)) % 2147483647))) AS sg
              |  FROM shh),
              |bands AS (
              |  SELECT doc_id, unnest(list_transform(range(0, 4),
              |    b -> md5(b || ':' || array_to_string(sg[b*4+1 : b*4+4], '|')))) AS bkey
              |  FROM sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |sets AS (
              |  SELECT doc_id, list_distinct(${dShingles(dTokensCase, 5)}) AS s
              |  FROM documents WHERE doc_id < 600),
              |found AS (
              |  SELECT count(*)::BIGINT AS n_found FROM cand c
              |  JOIN sets a ON a.doc_id = c.id_a
              |  JOIN sets b ON b.doc_id = c.id_b
              |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
              |exact AS (
              |  SELECT count(*)::BIGINT AS n_exact FROM sets a
              |  JOIN sets b ON a.doc_id < b.doc_id
              |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9)
              |SELECT n_exact, n_found,
              |  CASE WHEN n_exact = 0 THEN 0
              |    ELSE (1000000 * n_found) // n_exact END::BIGINT AS recall_ppm
              |FROM exact, found""".stripMargin)),

    // Pairs → clusters → canonical survivor: connected components over the
    // verified MinHash pairs (min-label propagation; the DuckDB oracle
    // replays the ENTIRE chain — tokens → shingle hashes → signatures →
    // bands → verified pairs — then the component labels via a recursive
    // CTE, so the cluster step sits under the same hash check as the pair
    // step).
    ("q_dedup_clusters",
      (s: SparkSession, d: String) =>
        Dedup.minhashClusters(tbl(s, d, "documents"), "doc_id", "text",
          threshold = 0.9).orderBy("component"),
      // md5 band keys in the oracle: see the q_dedup_minhash note.
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT doc_id, list_transform($dTokensCase,
              |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT + 1) AS th
              |  FROM documents),
              |shh AS (
              |  SELECT doc_id, CASE WHEN len(th) <= 5
              |    THEN [list_reduce(list_prepend(7::BIGINT, th[1:len(th)]),
              |      (a, b) -> (a * 31 + b) % 2147483647)]
              |    ELSE list_transform(range(1, len(th) - 3),
              |      i -> list_reduce(list_prepend(7::BIGINT, th[i:i+4]),
              |        (a, b) -> (a * 31 + b) % 2147483647)) END AS sh
              |  FROM t),
              |sig AS (
              |  SELECT doc_id, list_transform(${dMinhashCoeffs(16)},
              |    a -> list_min(list_transform(sh, h -> (a * (h + 1)) % 2147483647))) AS sg
              |  FROM shh),
              |bands AS (
              |  SELECT doc_id, unnest(list_transform(range(0, 4),
              |    b -> md5(b || ':' || array_to_string(sg[b*4+1 : b*4+4], '|')))) AS bkey
              |  FROM sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |sets AS (
              |  SELECT doc_id, list_distinct(${dShingles(dTokensCase, 5)}) AS s
              |  FROM documents),
              |pairs AS (
              |  SELECT c.id_a, c.id_b FROM cand c
              |  JOIN sets a ON a.doc_id = c.id_a
              |  JOIN sets b ON b.doc_id = c.id_b
              |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
              |edges AS (
              |  SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT s, s FROM edges
              |  UNION
              |  SELECT e.d, r.lbl FROM reach r JOIN edges e
              |    ON e.s = r.id WHERE r.lbl < e.d),
              |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
              |SELECT component, count(*) AS n_members, max(id) AS max_id
              |FROM comp GROUP BY component ORDER BY component""".stripMargin)),

    ("q_dedup_simhash",
      (s: SparkSession, d: String) => {
        // The pair AUDIT's output is quadratic in duplicate-group size by
        // contract; on the ×30 ScaleUp corpus it emits 3.0 B pairs and this
        // one row was 28 % of the whole r16 sf3 battery — an output-size
        // signal, not an engine signal. The FIXTURE bounds the input to
        // the sf1 corpus prefix (doc_id < 50000 — a no-op at sf ≤ 1, where
        // max doc_id is 49999), so sf3+ totals keep measuring the engine.
        // The bound is UNCONDITIONAL and mirrored in the oracle SQL, so
        // Spark and DuckDB see the same input at EVERY scale (r17 advice:
        // the old sf-conditional form made an sf≥3 correctness run
        // hash-mismatch by construction). The API stays unbounded; dedup
        // consumers use q_simhash_dedup_ids, whose output is linear.
        val docs = tbl(s, d, "documents").filter(col("doc_id") < 50000L)
        Dedup.simhashNearDuplicates(docs, "doc_id", "text",
          bits = 16, maxDistance = 3)
          .select(col("id_a"), col("id_b"), col("distance").cast("int").as("distance"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sig AS (SELECT doc_id, ${dSimhash(16)} AS sg FROM documents
              |  WHERE doc_id < 50000)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              | (SELECT count(*) FROM generate_series(1, 16) g(i)
              |   WHERE substr(a.sg, i, 1) <> substr(b.sg, i, 1))::INT AS distance
              |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |WHERE (SELECT count(*) FROM generate_series(1, 16) g(i)
              |   WHERE substr(a.sg, i, 1) <> substr(b.sg, i, 1)) <= 3
              |ORDER BY id_a, id_b""".stripMargin)),

    // Survivor-oriented SimHash dedup (the 100 TB shape, mirroring
    // q_embed_dedup_ids): one row per DROPPED doc with its cluster
    // survivor (min id over the transitive closure of the q_dedup_simhash
    // pair relation). The Spark side runs connected components over the
    // ≤2^16 distinct-VALUE graph and never materializes within-group
    // pairs; the oracle replays the same relation doc-level with the
    // recursive min-label closure.
    ("q_simhash_dedup_ids",
      (s: SparkSession, d: String) =>
        Dedup.simhashDedupIds(tbl(s, d, "documents"), "doc_id", "text",
          bits = 16, maxDistance = 3)
          .orderBy("survivor", "dropped_id"),
      Some(s"""WITH RECURSIVE sig AS (
              |  SELECT doc_id, ${dSimhash(16)} AS sg FROM documents),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |  WHERE (SELECT count(*) FROM generate_series(1, 16) g(i)
              |     WHERE substr(a.sg, i, 1) <> substr(b.sg, i, 1)) <= 3),
              |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT s, s FROM edges
              |  UNION
              |  SELECT e.d, r.lbl FROM reach r JOIN edges e
              |    ON e.s = r.id WHERE r.lbl < e.d),
              |comp AS (SELECT id, min(lbl) AS survivor FROM reach GROUP BY id)
              |SELECT survivor, id AS dropped_id FROM comp
              |WHERE id <> survivor ORDER BY survivor, dropped_id""".stripMargin)),

    ("q_ngram_jaccard",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents")
        val pairs = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        Dedup.ngramJaccard(docs, "doc_id", "text", pairs, n = 3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, list_distinct(${dShingles(dTokensCase, 3)}) AS s
              |  FROM documents),
              |pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
              |  WHERE doc_id % 2 = 0 AND doc_id < 100)
              |SELECT id_a, id_b,
              | ${Nums.dRound6("""len(list_intersect(a.s, b.s))::DOUBLE /
              |   len(list_distinct(list_concat(a.s, b.s)))""")} AS jaccard
              |FROM pairs JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
              |ORDER BY id_a, id_b""".stripMargin)),

    // Keep-BEST near-dup dedup: survivor per cluster = highest n_chars,
    // ties -> smallest id ("keep the highest-quality copy, not the
    // first-crawled one"). Same pair/CC chain as q_dedup_clusters, one
    // extra window rank.
    ("q_dedup_keepbest",
      (s: SparkSession, d: String) =>
        Dedup.dropNearDuplicatesBy(tbl(s, d, "documents"), "doc_id", "text",
          "n_chars", threshold = 0.9)
          .select("doc_id").orderBy("doc_id"),
      // md5 band keys in the oracle: see the q_dedup_minhash note.
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT doc_id, list_transform($dTokensCase,
              |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT + 1) AS th
              |  FROM documents),
              |shh AS (
              |  SELECT doc_id, CASE WHEN len(th) <= 5
              |    THEN [list_reduce(list_prepend(7::BIGINT, th[1:len(th)]),
              |      (a, b) -> (a * 31 + b) % 2147483647)]
              |    ELSE list_transform(range(1, len(th) - 3),
              |      i -> list_reduce(list_prepend(7::BIGINT, th[i:i+4]),
              |        (a, b) -> (a * 31 + b) % 2147483647)) END AS sh
              |  FROM t),
              |sig AS (
              |  SELECT doc_id, list_transform(${dMinhashCoeffs(16)},
              |    a -> list_min(list_transform(sh, h -> (a * (h + 1)) % 2147483647))) AS sg
              |  FROM shh),
              |bands AS (
              |  SELECT doc_id, unnest(list_transform(range(0, 4),
              |    b -> md5(b || ':' || array_to_string(sg[b*4+1 : b*4+4], '|')))) AS bkey
              |  FROM sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |sets AS (
              |  SELECT doc_id, list_distinct(${dShingles(dTokensCase, 5)}) AS s
              |  FROM documents),
              |pairs AS (
              |  SELECT c.id_a, c.id_b FROM cand c
              |  JOIN sets a ON a.doc_id = c.id_a
              |  JOIN sets b ON b.doc_id = c.id_b
              |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
              |edges AS (
              |  SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT s, s FROM edges
              |  UNION
              |  SELECT e.d, r.lbl FROM reach r JOIN edges e
              |    ON e.s = r.id WHERE r.lbl < e.d),
              |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
              |losers AS (
              |  SELECT id FROM (
              |    SELECT c.id, row_number() OVER (PARTITION BY c.component
              |      ORDER BY d.n_chars DESC, c.id) AS rk
              |    FROM comp c JOIN documents d ON d.doc_id = c.id)
              |  WHERE rk <> 1)
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM losers)
              |ORDER BY doc_id""".stripMargin)),

    // Fixed-point integer PageRank over the order→part bipartite graph —
    // link-graph quality weighting, every step exact long arithmetic
    // (floor-div variant), so 3 power iterations replay bit-identically as
    // unrolled SQL.
    ("q_pagerank",
      (s: SparkSession, d: String) => {
        val edges = tbl(s, d, "lineitem")
          .select(col("l_orderkey").as("src"),
            (col("l_partkey") + lit(1000000000L)).as("dst"))
        graft.ops.Graph.pageRankInt(edges, iters = 3)
          .orderBy("id")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT l_orderkey AS src,
             |    l_partkey + 1000000000 AS dst FROM lineitem),
             |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
             |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
             |r0 AS (SELECT id, 1000000::BIGINT AS rank FROM verts),
             |r1 AS (SELECT v.id, 150000 + coalesce(s.c, 0) AS rank
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS id, sum((r.rank * 85) // (100 * od.od))::BIGINT AS c
             |    FROM e JOIN r0 r ON r.id = e.src JOIN od ON od.src = e.src
             |    GROUP BY e.dst) s ON s.id = v.id),
             |r2 AS (SELECT v.id, 150000 + coalesce(s.c, 0) AS rank
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS id, sum((r.rank * 85) // (100 * od.od))::BIGINT AS c
             |    FROM e JOIN r1 r ON r.id = e.src JOIN od ON od.src = e.src
             |    GROUP BY e.dst) s ON s.id = v.id),
             |r3 AS (SELECT v.id, 150000 + coalesce(s.c, 0) AS rank
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS id, sum((r.rank * 85) // (100 * od.od))::BIGINT AS c
             |    FROM e JOIN r2 r ON r.id = e.src JOIN od ON od.src = e.src
             |    GROUP BY e.dst) s ON s.id = v.id)
             |SELECT id, rank::BIGINT AS rank FROM r3 ORDER BY id""".stripMargin)),

    // Line-level boilerplate removal (C4/RefinedWeb step): lines occurring
    // in >10 distinct docs (the synthetic header/footer here, plus any
    // heavily-duplicated body) are dropped and docs reassembled in original
    // line order. Exact string keys — the whole operator replays in SQL.
    ("q_drop_boilerplate",
      (s: SparkSession, d: String) =>
        Dedup.dropBoilerplateLines(
          tbl(s, d, "documents").filter(col("doc_id") < 300)
            .withColumn("text", concat(lit("subscribe now\n"), col("text"),
              lit("\nall rights reserved"))),
          "doc_id", "text", maxDocs = 10)
          .orderBy("doc_id"),
      Some("""WITH c AS (
             |  SELECT doc_id, 'subscribe now' || chr(10) || text || chr(10) ||
             |    'all rights reserved' AS content
             |  FROM documents WHERE doc_id < 300),
             |l AS (
             |  SELECT doc_id, unnest(ls) AS line, unnest(range(0, len(ls))) AS pos
             |  FROM (SELECT doc_id, string_split(content, chr(10)) AS ls FROM c)),
             |b AS (SELECT line FROM l GROUP BY line
             |  HAVING count(DISTINCT doc_id) > 10),
             |k AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM b))
             |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: train docs (id >= 20) sharing at least one
    // 5-token shingle with the "benchmark" (id < 20) — the overlap audit
    // every pretraining pipeline runs. Broadcast eval shingles + equi-join.
    ("q_decontaminate",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents")
        Dedup.contaminatedIds(
          docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 5)
          .orderBy("id")
      },
      Some(s"""WITH ev AS (
              |  SELECT DISTINCT unnest(list_distinct(${dShingles(dTokensCase, 5)})) AS sh
              |  FROM documents WHERE doc_id < 20),
              |tr AS (
              |  SELECT doc_id, unnest(list_distinct(${dShingles(dTokensCase, 5)})) AS sh
              |  FROM documents WHERE doc_id >= 20)
              |SELECT doc_id AS id, count(*) AS n_shared
              |FROM tr JOIN ev USING (sh)
              |GROUP BY doc_id ORDER BY id""".stripMargin)),

    // Corpus-commonness scoring (CCNet-family dial, engine-exact): per doc,
    // the integer sum of its tokens' corpus frequencies + token count.
    ("q_corpus_freq",
      (s: SparkSession, d: String) =>
        TextAnalysis.withCorpusFrequency(tbl(s, d, "documents"), "doc_id", "text")
          .orderBy("id"),
      Some(s"""WITH freq AS (
              |  SELECT token, count(*) AS freq FROM (
              |    SELECT unnest($dTokens) AS token FROM documents)
              |  GROUP BY token),
              |tok AS (SELECT doc_id, unnest($dTokens) AS token FROM documents)
              |SELECT doc_id AS id, sum(freq)::BIGINT AS sum_freq,
              |  count(*) AS n_tokens
              |FROM tok JOIN freq USING (token)
              |GROUP BY doc_id ORDER BY id""".stripMargin)),

    // Exact-substring dedup (Lee et al. ACL 2022, ExactSubstr) at k-token
    // window granularity: every 8-token window occurring >1 time anywhere
    // marks its range; overlapping marks merge into maximal spans
    // (gaps-and-islands). Finds WITHIN-document duplication whole-doc dedup
    // can't see. explode + hash-agg + semi-join + per-doc window: linear.
    ("q_dup_spans",
      (s: SparkSession, d: String) =>
        SubstringDedup.duplicatedSpans(
          tbl(s, d, "documents").filter(col("doc_id") < 300), "doc_id", "text",
          k = 8)
          .orderBy("doc_id", "span_start"),
      Some("""WITH t AS (
             |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
             |    ELSE string_split_regex(trim(text), '\s+') END AS toks
             |  FROM documents WHERE doc_id < 300),
             |w0 AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks
             |       FROM t WHERE len(toks) >= 8),
             |w AS (SELECT doc_id, pos,
             |        array_to_string(toks[pos+1 : pos+8], ' ') AS gram FROM w0),
             |dup AS (SELECT gram FROM w GROUP BY gram HAVING count(*) > 1),
             |m AS (SELECT doc_id, pos FROM w WHERE gram IN (SELECT gram FROM dup)),
             |b AS (SELECT doc_id, pos,
             |        CASE WHEN pos > coalesce(lag(pos) OVER
             |          (PARTITION BY doc_id ORDER BY pos), -2147483648) + 8
             |        THEN 1 ELSE 0 END AS brk FROM m),
             |i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
             |        ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM b)
             |SELECT doc_id, min(pos)::BIGINT AS span_start,
             |  (max(pos) + 8)::BIGINT AS span_end, count(*)::BIGINT AS n_windows
             |FROM i GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)),

    // The removal half of ExactSubstr: tokens covered by any duplicated
    // span drop, survivors re-join single-spaced; span-free docs pass
    // through VERBATIM (original whitespace preserved).
    ("q_dedup_substring",
      (s: SparkSession, d: String) =>
        SubstringDedup.removeDuplicatedSpans(
          tbl(s, d, "documents").filter(col("doc_id") < 300), "doc_id", "text",
          k = 8)
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
             |    ELSE string_split_regex(trim(text), '\s+') END AS toks
             |  FROM documents WHERE doc_id < 300),
             |w0 AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks
             |       FROM t WHERE len(toks) >= 8),
             |w AS (SELECT doc_id, pos,
             |        array_to_string(toks[pos+1 : pos+8], ' ') AS gram FROM w0),
             |dup AS (SELECT gram FROM w GROUP BY gram HAVING count(*) > 1),
             |m AS (SELECT doc_id, pos FROM w WHERE gram IN (SELECT gram FROM dup)),
             |b AS (SELECT doc_id, pos,
             |        CASE WHEN pos > coalesce(lag(pos) OVER
             |          (PARTITION BY doc_id ORDER BY pos), -2147483648) + 8
             |        THEN 1 ELSE 0 END AS brk FROM m),
             |i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
             |        ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM b),
             |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
             |          FROM i GROUP BY doc_id, island),
             |tk AS (SELECT doc_id, unnest(toks) AS tok,
             |         unnest(range(0, len(toks))) AS idx FROM t),
             |kept AS (
             |  SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.idx) AS rebuilt
             |  FROM tk k
             |  WHERE NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = k.doc_id
             |    AND k.idx >= s.s AND k.idx < s.e)
             |  GROUP BY k.doc_id)
             |SELECT t.doc_id,
             |  CASE WHEN t.doc_id IN (SELECT doc_id FROM spans)
             |    THEN coalesce(k.rebuilt, '') ELSE t.text END AS clean_text
             |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // BPE merge learning (Sennrich et al. ACL 2016) — tokenizer training
    // as a Spark pipeline: per step one vocabulary-level pair-count
    // hash-agg + a 1-row argmax + a codegen'd string replace. The oracle
    // chains the IDENTICAL steps as CTE rounds (same plain `replace`
    // semantics = BPE's greedy left-to-right merge), so the whole training
    // run is hash-checked cross-engine.
    ("q_bpe_learn",
      (s: SparkSession, d: String) =>
        Bpe.learnMerges(
          tbl(s, d, "documents").filter(col("doc_id") < 200), "text",
          steps = 6)
          .orderBy("step"),
      Some(dBpeSql("doc_id < 200", steps = 6))),

    // Tokenizer fertility: train 6 BPE merges, then tokenize every doc with
    // them and report subword counts (vs words and chars) — the "is this
    // tokenizer/corpus pairing any good" metric. Application is k nested
    // codegen'd replaces, map-only; the oracle re-trains AND re-applies.
    ("q_bpe_apply",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents").filter(col("doc_id") < 200)
        val merges = Bpe.learnMerges(docs, "text", steps = 6)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.applyMerges(docs, "doc_id", "text", merges).orderBy("doc_id")
      },
      Some(dBpeSql("doc_id < 200", steps = 6, apply = true))),

    // Bigram-LM quality score (CCNet-family dial): per-doc sum of
    // fixed-point transition likelihoods floor(1e6*c(w1,w2)/c(w1)) with
    // corpus-MLE counts — integer end to end, whole score under the hash.
    ("q_lm_score",
      (s: SparkSession, d: String) =>
        TextAnalysis.bigramLmScore(
          tbl(s, d, "documents").filter(col("doc_id") < 500), "doc_id", "text")
          .orderBy("id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id AS id, $dTokens AS tk
              |  FROM documents WHERE doc_id < 500),
              |uni AS (SELECT unnest(tk) AS w1 FROM t),
              |cu AS (SELECT w1, count(*)::BIGINT AS cu FROM uni GROUP BY w1),
              |bg0 AS (SELECT id, tk, unnest(range(0, len(tk) - 1)) AS i
              |        FROM t WHERE len(tk) >= 2),
              |bg AS (SELECT id, tk[i+1] AS w1, tk[i+2] AS w2 FROM bg0),
              |cb AS (SELECT w1, w2, count(*)::BIGINT AS cb
              |       FROM bg GROUP BY w1, w2)
              |SELECT id, count(*) AS n_bigrams,
              |  sum((1000000 * cb.cb) // cu.cu)::BIGINT AS lm_score
              |FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1)
              |GROUP BY id ORDER BY id""".stripMargin)),

    // Collocation mining (phrase detection): adjacent pairs ranked by
    // integer fixed-point LIFT floor(1e6*c(a,b)*N/(c(a)*c(b))) — the PMI
    // exponent without the engine-divergent log. Top-K via TakeOrdered.
    ("q_collocations",
      (s: SparkSession, d: String) =>
        TextAnalysis.collocations(tbl(s, d, "documents"), "text",
          minCount = 5L, topK = 30),
      Some(s"""WITH t AS (SELECT $dTokens AS tk FROM documents),
              |uni AS (SELECT unnest(tk) AS w FROM t),
              |cu AS (SELECT w, count(*)::BIGINT AS cu FROM uni GROUP BY w),
              |bg0 AS (SELECT tk, unnest(range(0, len(tk) - 1)) AS i
              |        FROM t WHERE len(tk) >= 2),
              |bg AS (SELECT tk[i+1] AS w1, tk[i+2] AS w2 FROM bg0),
              |n AS (SELECT count(*)::BIGINT AS nt FROM bg),
              |bi AS (SELECT w1, w2, count(*)::BIGINT AS n_pair FROM bg
              |       GROUP BY w1, w2 HAVING count(*) >= 5)
              |SELECT w1, w2, n_pair,
              |  ((1000000 * n_pair * (SELECT nt FROM n)) // (c1.cu * c2.cu))::BIGINT
              |    AS lift_ppm
              |FROM bi JOIN cu c1 ON bi.w1 = c1.w JOIN cu c2 ON bi.w2 = c2.w
              |ORDER BY lift_ppm DESC, w1, w2 LIMIT 30""".stripMargin)),

    // Inverted index (term -> df + ascending '|'-joined posting list): the
    // retrieval artifact BM25/decontamination walk; explode-distinct +
    // one hash-agg.
    ("q_inverted_index",
      (s: SparkSession, d: String) =>
        TextAnalysis.invertedIndex(
          tbl(s, d, "documents").filter(col("doc_id") < 400), "doc_id", "text")
          .orderBy("term"),
      Some(s"""WITH td AS (
              |  SELECT doc_id, unnest(list_distinct($dTokens)) AS term
              |  FROM documents WHERE doc_id < 400)
              |SELECT term, count(*) AS df,
              |  array_to_string(list_sort(list(doc_id)), '|') AS postings
              |FROM td GROUP BY term ORDER BY term""".stripMargin)),

    // URL canonicalization + URL-keyed dedup (the free first pass of
    // web-corpus curation): lower scheme/host, strip default ports, drop
    // fragments, sort query params — pure codegen'd expressions, one
    // hash-agg on the canonical key. The fixture synthesizes four raw
    // variants per path; two collapse to the same canonical http form.
    ("q_url_normalize",
      (s: SparkSession, d: String) => {
        // variant selector is coprime with the path modulus (7 vs 20), so
        // every path sees every raw variant and the http:80 / bare-http
        // pair genuinely MERGES under one canonical key; variant 4 puts a
        // '?' INSIDE the fragment — the whole fragment must drop, with no
        // resurrected query
        val raw = tbl(s, d, "documents").filter(col("doc_id") < 500)
          .select((col("doc_id") % 20).cast("string").as("p"),
            (col("doc_id") % 7 % 5).as("v"))
          .select(
            when(col("v") === 0,
              concat(lit("HTTP://Example.COM:80/p/"), col("p"), lit("?b=2&a=1#frag")))
            .when(col("v") === 1,
              concat(lit("https://EXAMPLE.com:443/p/"), col("p"), lit("?a=1&b=2")))
            .when(col("v") === 2,
              concat(lit("http://example.com/p/"), col("p"), lit("?b=2&a=1")))
            .when(col("v") === 4,
              concat(lit("http://example.com/p/"), col("p"), lit("#sec?x=1")))
            .otherwise(
              concat(lit("https://cdn.example.com:8080/asset/"), col("p")))
            .as("url"))
        Urls.dedupByUrl(raw, "url").orderBy("canonical_url")
      },
      Some("""WITH raw AS (
             |  SELECT CASE doc_id % 7 % 5
             |    WHEN 0 THEN 'HTTP://Example.COM:80/p/' || (doc_id % 20) || '?b=2&a=1#frag'
             |    WHEN 1 THEN 'https://EXAMPLE.com:443/p/' || (doc_id % 20) || '?a=1&b=2'
             |    WHEN 2 THEN 'http://example.com/p/' || (doc_id % 20) || '?b=2&a=1'
             |    WHEN 4 THEN 'http://example.com/p/' || (doc_id % 20) || '#sec?x=1'
             |    ELSE 'https://cdn.example.com:8080/asset/' || (doc_id % 20) END AS url
             |  FROM documents WHERE doc_id < 500),
             |c AS (
             |  SELECT url,
             |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
             |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
             |    regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS query
             |  FROM raw),
             |n AS (
             |  SELECT url,
             |    scheme || '://' || lower(regexp_extract(hostport, '^([^:]*)', 1)) ||
             |    CASE WHEN regexp_extract(hostport, ':(\d+)$', 1) = '' THEN ''
             |      WHEN scheme = 'http' AND regexp_extract(hostport, ':(\d+)$', 1) = '80' THEN ''
             |      WHEN scheme = 'https' AND regexp_extract(hostport, ':(\d+)$', 1) = '443' THEN ''
             |      ELSE ':' || regexp_extract(hostport, ':(\d+)$', 1) END ||
             |    path ||
             |    CASE WHEN query = '' THEN ''
             |      ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END
             |    AS canonical_url
             |  FROM c)
             |SELECT canonical_url, count(*) AS n_raw, min(url) AS first_raw
             |FROM n GROUP BY canonical_url ORDER BY canonical_url""".stripMargin)),

    // ------------------------------------------------ similarity search

    ("q_ann_topk",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.bruteForceTopK(queries, corpus, k = 5).orderBy("qid", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
              |scored AS (
              |  SELECT q.vec_id AS qid, c.vec_id AS id,
              |    ${dCosine("q.e", "c.e")} AS sim
              |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
              |ranked AS (
              |  SELECT qid, id, sim, row_number() OVER (
              |    PARTITION BY qid ORDER BY sim DESC, id) AS rank
              |  FROM scored)
              |SELECT qid, rank::INT AS rank, id, round(sim, 6) AS sim
              |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    ("q_ann_lsh",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.lshTopK(queries, corpus, k = 5, numPlanes = 4, dim = 64)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
              |  ${dLshBucket("embedding::DOUBLE[]", 4, 64)} AS bucket FROM embeddings),
              |scored AS (
              |  SELECT q.vec_id AS qid, c.vec_id AS id, ${dCosine("q.e", "c.e")} AS sim
              |  FROM v q JOIN v c ON q.bucket = c.bucket
              |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
              |ranked AS (
              |  SELECT qid, id, sim, row_number() OVER (
              |    PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM scored)
              |SELECT qid, rank::INT AS rank, id, round(sim, 6) AS sim
              |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // IVF-bucketed ANN: deterministic seed centroids (16 smallest ids),
    // nearest-centroid assignment, nprobe=4 probing — the classic
    // inverted-file recall/fan-in dial, fully reproduced in the oracle.
    // Quantized (int8-style) ANN: scoring is pure integer arithmetic, so
    // the top-k is EXACTLY reproducible in SQL — fp dot products are not
    // (summation order). 4x memory cut at serving time.
    ("q_ann_quantized",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.quantizedTopK(queries, corpus, k = 5)
          .orderBy("qid", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
             |qz AS (SELECT vec_id, CASE WHEN mx = 0
             |  THEN list_transform(e, x -> 0::BIGINT)
             |  ELSE list_transform(e, x -> floor(x * 127 / mx + 0.5)::BIGINT) END AS iv
             |  FROM m),
             |scored AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS id,
             |    list_sum(list_transform(range(1, len(q.iv) + 1),
             |      i -> q.iv[i] * c.iv[i]))::BIGINT AS score
             |  FROM qz q JOIN qz c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
             |ranked AS (
             |  SELECT qid, id, score, row_number() OVER (
             |    PARTITION BY qid ORDER BY score DESC, id) AS rank FROM scored)
             |SELECT qid, rank::INT AS rank, id, score
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ANN quality measurement: recall@5 of the sign-bit LSH index against
    // exact brute force — BOTH algorithms replayed in DuckDB, so the metric
    // itself is oracle-checked.
    ("q_ann_recall",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
        val approx = Similarity.lshTopK(queries, corpus, k = 5, numPlanes = 4, dim = 64)
        Similarity.recallAtK(approx, exact)
          .select(Nums.round6(col("mean_recall")).as("mean_recall"),
            col("n_queries"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
              |  ${dLshBucket("embedding::DOUBLE[]", 4, 64)} AS bucket FROM embeddings),
              |ex AS (
              |  SELECT qid, id FROM (
              |    SELECT q.vec_id AS qid, c.vec_id AS id, row_number() OVER (
              |      PARTITION BY q.vec_id ORDER BY ${dCosine("q.e", "c.e")} DESC, c.vec_id) AS rank
              |    FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
              |  WHERE rank <= 5),
              |ap AS (
              |  SELECT qid, id FROM (
              |    SELECT q.vec_id AS qid, c.vec_id AS id, row_number() OVER (
              |      PARTITION BY q.vec_id ORDER BY ${dCosine("q.e", "c.e")} DESC, c.vec_id) AS rank
              |    FROM v q JOIN v c ON q.bucket = c.bucket
              |      AND q.vec_id < 10 AND c.vec_id <> q.vec_id)
              |  WHERE rank <= 5),
              |r AS (
              |  SELECT ex.qid,
              |    sum(CASE WHEN ap.id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
              |      / count(*) AS recall
              |  FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.id = ap.id
              |  GROUP BY ex.qid)
              |SELECT ${Nums.dRound6("avg(recall)")} AS mean_recall,
              |  count(*)::BIGINT AS n_queries FROM r""".stripMargin)),

    // k-means-trained IVF: Lloyd's iterations in DataFrame ops. Oracle:
    // DuckDB replays the identical FP training run (dKmeansFpCtes); both
    // sides emit per-cluster counts plus a ROUND-6 centroid component-sum
    // fingerprint, which absorbs the ~1e-15 cross-engine FP-summation-order
    // difference (the battery's established dRound6 tolerance pattern) —
    // was rows-only for four rounds, now under the full hash check.
    // Convergence/assignment quality stay pinned in SimilaritySpec.
    ("q_kmeans",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        // train on a deterministic 10% slice (the 100 TB pattern: centroids
        // come from a sample, assignment runs over everything)
        val cents = Similarity.kmeans(emb.filter(col("id") % 10 === 0),
          k = 8, iters = 2)
        val centFp = cents.select(col("cid").as("cluster"),
          Nums.round6(aggregate(col("cvec"), lit(0.0), _ + _)).as("c_fp"))
        Similarity.ivfAssign(
          emb.select(col("id"), col("vec").cast("array<double>").as("vec")), cents)
          .groupBy("cluster").agg(count(lit(1)).as("n"))
          .join(centFp, "cluster")
          .select(col("cluster"), col("n"), col("c_fp"))
          .orderBy("cluster")
      },
      Some(s"""$dKmeansFpCtes
              |SELECT kaf.cluster, count(*) AS n,
              |  ${Nums.dRound6("list_sum(any_value(k2.ce))")} AS c_fp
              |FROM kaf JOIN k2 ON kaf.cluster = k2.cid
              |GROUP BY kaf.cluster ORDER BY kaf.cluster""".stripMargin)),

    // Engine-exact k-means (fixed-point Lloyd's): integer squared-Euclidean
    // assignment + floor-div mean update over int8-quantized embeddings —
    // every step exact, so the WHOLE 2-iteration training run + final
    // assignment replays bit-identically in DuckDB (the production FP
    // variant q_kmeans stays ScalaTest-pinned; FP summation order is
    // engine-specific). Output: per-cluster member count + centroid
    // component-sum fingerprint.
    ("q_kmeans_exact",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val (cents, asg) = Similarity.kmeansQuantized(emb, k = 4, iters = 2)
        val centDf = cents.map { case (cid, civ) => (cid, civ.sum) }
          .toDF("cluster", "c_sum")
        asg.groupBy("cluster").agg(count(lit(1)).as("n"))
          .join(centDf, "cluster")
          .select(col("cluster"), col("n"), col("c_sum"))
          .orderBy("cluster")
      },
      Some(s"""$dKmeansCtes
              |SELECT a3.cluster, count(*) AS n, list_sum(any_value(c2.civ))::BIGINT AS c_sum
              |FROM a3 JOIN c2 ON a3.cluster = c2.cid
              |GROUP BY a3.cluster ORDER BY a3.cluster""".stripMargin)),

    ("q_ann_ivf",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val cents = Similarity.seedCentroids(corpus, 16)
        Similarity.ivfTopK(queries, corpus, cents, k = 5, nprobe = 4)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
              |cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
              |ascore AS (
              |  SELECT v.vec_id AS id, v.e, c.cid,
              |    row_number() OVER (PARTITION BY v.vec_id
              |      ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.cid) AS rn
              |  FROM v CROSS JOIN cent c),
              |asg AS (SELECT id, e, cid AS cluster FROM ascore WHERE rn = 1),
              |pscore AS (
              |  SELECT q.vec_id AS qid, q.e AS qe, c.cid AS cluster,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.cid) AS prn
              |  FROM v q CROSS JOIN cent c WHERE q.vec_id < 10),
              |cand AS (
              |  SELECT p.qid, a.id, ${dCosine("p.qe", "a.e")} AS sim
              |  FROM (SELECT * FROM pscore WHERE prn <= 4) p
              |  JOIN asg a ON a.cluster = p.cluster
              |  WHERE a.id <> p.qid),
              |ranked AS (
              |  SELECT qid, id, sim, row_number() OVER (
              |    PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM cand)
              |SELECT qid, rank::INT AS rank, id, round(sim, 6) AS sim
              |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Product-quantization ANN: m=8 subspaces × k=16 seeded codewords over
    // int8-quantized vectors; scoring is ‖q − recon(x)‖² (≡ the ADC LUT
    // sum — same integers), so the WHOLE path — quantize → per-subspace
    // argmin encode → reconstruct → score → rank — replays bit-identically
    // in DuckDB.
    ("q_ann_pq",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.pqTopK(queries, corpus, topK = 5, m = 8, k = 16)
          .orderBy("qid", "rank")
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
             |mm AS (SELECT id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
             |qz AS (SELECT id, CASE WHEN mx = 0
             |  THEN list_transform(e, x -> 0::BIGINT)
             |  ELSE list_transform(e, x -> floor(x * 127 / mx + 0.5)::BIGINT) END AS iv
             |  FROM mm),
             |cbi AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cidx, iv
             |  FROM (SELECT id, iv FROM qz ORDER BY id LIMIT 16)),
             |subs0 AS (SELECT id, unnest(range(0, 8)) AS s, iv FROM qz),
             |subs AS (SELECT id, s, iv[s*8+1 : s*8+8] AS siv FROM subs0),
             |cdist AS (SELECT subs.id, subs.s, cbi.cidx,
             |  list_sum(list_transform(range(1, 9),
             |    i -> (subs.siv[i] - cbi.iv[subs.s*8+i]) * (subs.siv[i] - cbi.iv[subs.s*8+i])))::BIGINT AS d
             |  FROM subs CROSS JOIN cbi),
             |code AS (SELECT id, s, cidx FROM (
             |  SELECT id, s, cidx, row_number() OVER (PARTITION BY id, s
             |    ORDER BY d, cidx) AS rn FROM cdist) WHERE rn = 1),
             |recon AS (SELECT c.id, flatten(list(b.iv[c.s*8+1 : c.s*8+8] ORDER BY c.s)) AS r
             |  FROM code c JOIN cbi b ON b.cidx = c.cidx GROUP BY c.id),
             |q AS (SELECT id AS qid, iv AS qiv FROM qz WHERE id < 10),
             |scored AS (SELECT q.qid, r.id,
             |  list_sum(list_transform(range(1, len(q.qiv) + 1),
             |    i -> (q.qiv[i] - r.r[i]) * (q.qiv[i] - r.r[i])))::BIGINT AS adist
             |  FROM q CROSS JOIN recon r WHERE r.id <> q.qid),
             |ranked AS (SELECT qid, id, adist, row_number() OVER (
             |  PARTITION BY qid ORDER BY adist, id) AS rank FROM scored)
             |SELECT qid, rank::INT AS rank, id, adist
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    ("q_embed_neardup",
      (s: SparkSession, d: String) => {
        // Brute-force O(n²) pair audit — the labeled exact baseline. The
        // FIXTURE bounds the input to the sf3 prefix (vec_id < 60000 — a
        // no-op at sf ≤ 3, where max vec_id is 59999; at sf10, 200k² =
        // 40 B cosine pairs would be pure output/compute-size signal).
        // Unconditional and mirrored in the oracle SQL (input-comparable
        // at every scale). The API and the LSH scale path
        // (q_embed_neardup_lsh, q_embed_dedup_ids) stay unbounded.
        val emb = tbl(s, d, "embeddings").filter(col("vec_id") < 60000L)
        Similarity.bruteForceNearDuplicates(
          emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
          threshold = 0.45)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
              |  WHERE vec_id < 60000)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              | round(${dCosine("a.e", "b.e")}, 6) AS sim
              |FROM v a JOIN v b ON a.vec_id < b.vec_id
              |WHERE ${dCosine("a.e", "b.e")} >= 0.45
              |ORDER BY id_a, id_b""".stripMargin)),

    ("q_embed_neardup_lsh",
      (s: SparkSession, d: String) =>
        Similarity.embeddingNearDuplicates(
          tbl(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
          threshold = 0.45, numPlanes = 4, dim = 64)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
              |  ${dLshBucket("embedding::DOUBLE[]", 4, 64)} AS bucket FROM embeddings)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              | round(${dCosine("a.e", "b.e")}, 6) AS sim
              |FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |WHERE ${dCosine("a.e", "b.e")} >= 0.45
              |ORDER BY id_a, id_b""".stripMargin)),

    // Survivor-oriented embedding dedup (the 100 TB shape): one row per
    // DROPPED vector with its cluster survivor (min id over the
    // transitive closure of the q_embed_neardup_lsh pair relation) — the
    // Spark side never materializes within-group pairs; the oracle
    // replays the same relation per-doc with a recursive min-label
    // closure, exactly the q_dedup_clusters CC pattern.
    ("q_embed_dedup_ids",
      (s: SparkSession, d: String) =>
        Similarity.embeddingDedupIds(
          tbl(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
          threshold = 0.45, numPlanes = 4, dim = 64)
          .orderBy("survivor", "dropped_id"),
      Some(s"""WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
              |  ${dLshBucket("embedding::DOUBLE[]", 4, 64)} AS bucket FROM embeddings),
              |pairs AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b
              |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |  WHERE ${dCosine("a.e", "b.e")} >= 0.45),
              |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT s, s FROM edges
              |  UNION
              |  SELECT e.d, r.lbl FROM reach r JOIN edges e
              |    ON e.s = r.id WHERE r.lbl < e.d),
              |comp AS (SELECT id, min(lbl) AS survivor FROM reach GROUP BY id)
              |SELECT survivor, id AS dropped_id FROM comp
              |WHERE id <> survivor ORDER BY survivor, dropped_id""".stripMargin)),

    // Semantic DECONTAMINATION (cross-set embedding near-dup): corpus
    // vectors (vec_id >= 30) swept against the eval set (vec_id < 30) via
    // the LSH-bucket equi-join — catches paraphrased eval leakage the
    // n-gram q_decontaminate misses. One row per contaminated corpus id
    // with its best eval match (tie-break: higher sim, lower eval id).
    ("q_decontaminate_semantic",
      (s: SparkSession, d: String) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.crossNearDuplicates(
          emb.filter(col("vec_id") >= 30)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          emb.filter(col("vec_id") < 30)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          threshold = 0.3, numPlanes = 4, dim = 64)
          .orderBy("id")
      },
      Some(s"""WITH c AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS e,
              |  ${dLshBucket("embedding::DOUBLE[]", 4, 64)} AS bucket
              |  FROM embeddings WHERE vec_id >= 30),
              |ev AS (SELECT vec_id AS id_b, embedding::DOUBLE[] AS e,
              |  ${dLshBucket("embedding::DOUBLE[]", 4, 64)} AS bucket
              |  FROM embeddings WHERE vec_id < 30),
              |p AS (SELECT id_a, id_b, ${dCosine("c.e", "ev.e")} AS sim
              |  FROM c JOIN ev USING (bucket)
              |  WHERE ${dCosine("c.e", "ev.e")} >= 0.3),
              |r AS (SELECT id_a, id_b, sim, row_number() OVER (
              |  PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn FROM p)
              |SELECT id_a AS id, id_b AS eval_id, round(sim, 6) AS sim
              |FROM r WHERE rn = 1 ORDER BY id""".stripMargin)),

    // ------------------------------------------------ text analysis

    ("q_term_freq",
      (s: SparkSession, d: String) =>
        TextAnalysis.termFrequencies(tbl(s, d, "documents"), "text")
          .orderBy("token"),
      Some(s"""SELECT token, count(*) AS freq FROM (
              | SELECT unnest($dTokens) AS token FROM documents)
              |GROUP BY token ORDER BY token""".stripMargin)),

    // Gopher-style repetition filters (duplicate-line/token fraction,
    // top-bigram share) — training-data quality signals.
    ("q_repetition",
      (s: SparkSession, d: String) =>
        TextAnalysis.repetitionSignals(
          tbl(s, d, "documents").filter(col("doc_id") < 200), "doc_id", "text")
          .orderBy("id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |    list_filter(list_transform(string_split(text, chr(10)),
              |      x -> trim(x)), x -> x <> '') AS l,
              |    $dTokens AS tk
              |  FROM documents WHERE doc_id < 200),
              |f AS (
              |  SELECT doc_id,
              |    CASE WHEN len(l) <= 0 THEN 0.0
              |      ELSE 1.0 - len(list_distinct(l))::DOUBLE / len(l) END AS dlf,
              |    CASE WHEN len(tk) <= 0 THEN 0.0
              |      ELSE 1.0 - len(list_distinct(tk))::DOUBLE / len(tk) END AS dtf,
              |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
              |      i -> tk[i] || ' ' || tk[i + 1]) ELSE []::VARCHAR[] END AS bg
              |  FROM t),
              |cnt AS (SELECT doc_id, b, count(*) AS c
              |  FROM (SELECT doc_id, unnest(bg) AS b FROM f) GROUP BY 1, 2),
              |top AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tbf FROM cnt GROUP BY 1)
              |SELECT f.doc_id AS id,
              |  ${Nums.dRound6("dlf")} AS dup_line_frac,
              |  ${Nums.dRound6("dtf")} AS dup_token_frac,
              |  ${Nums.dRound6("coalesce(tbf, 0.0)")} AS top_bigram_frac
              |FROM f LEFT JOIN top USING (doc_id) ORDER BY id""".stripMargin)),

    ("q_tfidf",
      (s: SparkSession, d: String) =>
        TextAnalysis.tfIdf(tbl(s, d, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", topK = 5, linearIcf = true)
          .orderBy("id", "rank"),
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
              |n AS (SELECT count(*)::DOUBLE AS n FROM docs),
              |terms AS (
              |  SELECT doc_id AS id, unnest($dTokens) AS token FROM docs),
              |tf AS (SELECT id, token, count(*) AS tf FROM terms GROUP BY id, token),
              |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
              |scored AS (
              |  SELECT tf.id, tf.token, tf.tf, dfreq.df,
              |    tf.tf * ((SELECT n FROM n) / dfreq.df) AS weight
              |  FROM tf JOIN dfreq USING (token)),
              |ranked AS (
              |  SELECT id, token, tf, df, weight, row_number() OVER (
              |    PARTITION BY id ORDER BY weight DESC, token) AS rank
              |  FROM scored)
              |SELECT id, rank::INT AS rank, token, tf, df,
              |  ${Nums.dRound6("weight")} AS weight
              |FROM ranked WHERE rank <= 5 ORDER BY id, rank""".stripMargin)),

    // BM25 retrieval scoring against a fixed query-term bag. Engine-exact by
    // construction: rational idf (no ln), every constant written as the same
    // computation on both sides (1.2 + 1.0, not 2.2 — double(1.2)+1 and
    // double(2.2) need not be the same ulp), and the per-doc sum folds
    // left-to-right over token-sorted weights (ordered list_reduce in SQL).
    ("q_bm25",
      (s: SparkSession, d: String) =>
        TextAnalysis.bm25(tbl(s, d, "documents"), "doc_id", "text",
          Seq("spark", "query", "join"), topK = 10)
          .orderBy("rank"),
      Some(s"""WITH docs AS (
              |  SELECT doc_id AS id, $dTokens AS toks FROM documents),
              |n AS (SELECT count(*)::DOUBLE AS n FROM docs),
              |terms AS (SELECT id, unnest(toks) AS token,
              |  len(toks)::DOUBLE AS dl FROM docs),
              |tf AS (SELECT id, token, dl, count(*) AS tf FROM terms
              |  GROUP BY id, token, dl),
              |tot AS (SELECT count(*)::DOUBLE AS toktot,
              |  count(DISTINCT id)::DOUBLE AS ndl FROM terms),
              |qt AS (SELECT * FROM tf
              |  WHERE token IN ('spark', 'query', 'join')),
              |dfreq AS (SELECT token, count(*) AS df FROM qt GROUP BY token),
              |matched AS (
              |  SELECT qt.id, qt.token,
              |    (qt.tf * (1.2 + 1.0) / (qt.tf + 1.2 * ((1.0 - 0.75) +
              |      0.75 * qt.dl / ((SELECT toktot FROM tot) / (SELECT ndl FROM tot))))) *
              |    (((SELECT n FROM n) - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS w
              |  FROM qt JOIN dfreq USING (token)),
              |scored AS (
              |  SELECT id, list_reduce(list_prepend(0.0::DOUBLE,
              |    list(w ORDER BY token)), (a, b) -> a + b) AS score
              |  FROM matched GROUP BY id),
              |ranked AS (SELECT id, score,
              |  row_number() OVER (ORDER BY score DESC, id) AS rank FROM scored)
              |SELECT rank::INT AS rank, id, ${Nums.dRound6("score")} AS score
              |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // Deterministic stratified sample — N docs per language by md5(id)
    // order, the balanced-training-mix curation primitive. Reproducible
    // across engines (md5 hex compares identically).
    ("q_sample_stratified",
      (s: SparkSession, d: String) =>
        TextAnalysis.sampleStratified(tbl(s, d, "documents"), "doc_id", "lang",
          perStratum = 5)
          .select(col("lang"), col("doc_id"))
          .orderBy("lang", "doc_id"),
      Some("""WITH ranked AS (
             |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
             |  FROM documents)
             |SELECT lang, doc_id FROM ranked WHERE rn <= 5
             |ORDER BY lang, doc_id""".stripMargin)),

    // Training-sequence packing accounting (concat-and-chunk): per language,
    // docs in md5(id) order, token stream cut every 512 tokens, doc belongs
    // to the sequence its first token lands in. Exact integer arithmetic —
    // the oracle replays the whole manifest.
    ("q_pack_sequences",
      (s: SparkSession, d: String) =>
        Curate.packSequences(tbl(s, d, "documents"), "doc_id", "text",
          "lang", seqLen = 512L)
          .orderBy("stratum", "seq_no"),
      Some(s"""WITH t AS (
              |  SELECT lang AS stratum, doc_id AS id, len($dTokens)::BIGINT AS nt
              |  FROM documents),
              |c AS (
              |  SELECT stratum, id, nt,
              |    sum(nt) OVER (PARTITION BY stratum
              |      ORDER BY md5(id::VARCHAR), id) - nt AS strt
              |  FROM t)
              |SELECT stratum, (strt // 512)::BIGINT AS seq_no,
              |  count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
              |  min(id) AS min_id, max(id) AS max_id
              |FROM c GROUP BY stratum, seq_no
              |ORDER BY stratum, seq_no""".stripMargin)),

    // Null-branch hash check for the bucketed running sum (r18 verdict
    // #4): a documents-derived fixture with (a) NULL partition values
    // (doc_id % 7 — Window.partitionBy's null-as-a-group), (b) NULL ids
    // (doc_id % 13 — the null md5/null bucket path, RANGE-frame peers),
    // (c) scattered NULL values (doc_id % 5) and (d) one partition
    // ('de') whose values are ALL null — so the all-null-bucket offset
    // coalesce and the null-until-first-non-null count gate (5a00b2c)
    // run under the cross-engine hash, not just CurateSpec. The oracle
    // is the BARE window the bucketed shape claims row-identity with.
    ("q_budget_cumsum_nulls",
      (s: SparkSession, d: String) => {
        val t = tbl(s, d, "documents").select(
          col("doc_id").as("rid"),
          when(col("doc_id") % 13 === 0, lit(null).cast("long"))
            .otherwise(col("doc_id")).as("idc"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("part"),
          when(col("lang") === "de" || col("doc_id") % 5 === 0,
            lit(null).cast("long"))
            .otherwise(col("n_chars")).as("v"))
        Curate.bucketedRunningSum(t, "part", "idc", col("v"), "cum")
          .select(col("rid"), col("part"), col("cum"))
          .orderBy("rid")
      },
      Some("""WITH t AS (
             |  SELECT doc_id AS rid,
             |    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS idc,
             |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS part,
             |    CASE WHEN lang = 'de' OR doc_id % 5 = 0 THEN NULL
             |      ELSE n_chars END AS v
             |  FROM documents)
             |SELECT rid, part,
             |  (sum(v) OVER (PARTITION BY part
             |    ORDER BY md5(idc::VARCHAR) NULLS FIRST,
             |             idc NULLS FIRST))::BIGINT AS cum
             |FROM t ORDER BY rid""".stripMargin)),

    // Deterministic weighted mixture sampling: keep a row iff the fraction
    // encoded by md5(id)'s first 7 hex digits is below its source's weight
    // — reproducible, map-only, nested across weight sweeps.
    ("q_sample_mixture",
      (s: SparkSession, d: String) =>
        TextAnalysis.sampleMixture(tbl(s, d, "documents"), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs FROM documents
             |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT
             |    / 268435456.0
             |  < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
             |    WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1 ELSE 0.0 END
             |GROUP BY source ORDER BY source""".stripMargin)),

    // The composite the curation operators exist for: quality gate →
    // near-dup removal (MinHash + connected components) → per-language
    // token budget → per-language summary. The oracle replays the ENTIRE
    // chain — quality formula, shingle/signature/band pipeline, recursive
    // component labels, running-sum cap — so the end-to-end training-set
    // assembly sits under one hash check.
    ("q_curate",
      (s: SparkSession, d: String) =>
        Curate.curationSummary(
          Curate.curateCorpus(tbl(s, d, "documents"), "doc_id", "text",
            "lang", minQuality = 0.65, dupThreshold = 0.9, tokenBudget = 1500L),
          "lang")
          .orderBy("lang"),
      // md5 band keys in the oracle: see the q_dedup_minhash note.
      Some(s"""WITH RECURSIVE f AS (
              |  SELECT doc_id, lang, text, $dTokens AS toks, length(text) AS nc
              |  FROM documents),
              |g AS (
              |  SELECT doc_id, lang, text, len(toks)::INT AS nt,
              |   CASE WHEN len(toks) = 0 THEN 0.0
              |    ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END AS mtl,
              |   CASE WHEN nc = 0 THEN 0.0
              |    ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / nc END AS pr,
              |   CASE WHEN len(toks) = 0 THEN 0.0
              |    ELSE len(list_filter(toks, t -> list_contains(
              |      ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE / len(toks) END AS sr
              |  FROM f),
              |qdocs AS (
              |  SELECT doc_id, lang, text, nt FROM g
              |  WHERE ${Nums.dRound6("""greatest(0.0, least(1.0,
              |    0.30 * least(nt / 64.0, 1.0)
              |    + 0.25 * least(mtl / 6.0, 1.0)
              |    + 0.25 * (1.0 - least(pr * 4.0, 1.0))
              |    + 0.20 * least(sr * 3.0, 1.0)))""")} >= 0.65),
              |t AS (
              |  SELECT doc_id, list_transform($dTokensCase,
              |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT + 1) AS th
              |  FROM qdocs),
              |shh AS (
              |  SELECT doc_id, CASE WHEN len(th) <= 5
              |    THEN [list_reduce(list_prepend(7::BIGINT, th[1:len(th)]),
              |      (a, b) -> (a * 31 + b) % 2147483647)]
              |    ELSE list_transform(range(1, len(th) - 3),
              |      i -> list_reduce(list_prepend(7::BIGINT, th[i:i+4]),
              |        (a, b) -> (a * 31 + b) % 2147483647)) END AS sh
              |  FROM t),
              |sig AS (
              |  SELECT doc_id, list_transform(${dMinhashCoeffs(16)},
              |    a -> list_min(list_transform(sh, h -> (a * (h + 1)) % 2147483647))) AS sg
              |  FROM shh),
              |bands AS (
              |  SELECT doc_id, unnest(list_transform(range(0, 4),
              |    b -> md5(b || ':' || array_to_string(sg[b*4+1 : b*4+4], '|')))) AS bkey
              |  FROM sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |sets AS (
              |  SELECT doc_id, list_distinct(${dShingles(dTokensCase, 5)}) AS s
              |  FROM qdocs),
              |pairs AS (
              |  SELECT c.id_a, c.id_b FROM cand c
              |  JOIN sets a ON a.doc_id = c.id_a
              |  JOIN sets b ON b.doc_id = c.id_b
              |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
              |edges AS (
              |  SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT s, s FROM edges
              |  UNION
              |  SELECT e.d, r.lbl FROM reach r JOIN edges e
              |    ON e.s = r.id WHERE r.lbl < e.d),
              |losers AS (
              |  SELECT id FROM (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
              |  WHERE id <> component),
              |kept AS (
              |  SELECT * FROM qdocs WHERE doc_id NOT IN (SELECT id FROM losers)),
              |capped AS (
              |  SELECT lang, doc_id, nt,
              |    sum(nt::BIGINT) OVER (PARTITION BY lang
              |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS cum
              |  FROM kept)
              |SELECT lang, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens
              |FROM capped WHERE cum <= 1500
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    ("q_text_quality",
      (s: SparkSession, d: String) =>
        TextAnalysis.withQualityFeatures(
          tbl(s, d, "documents").filter(col("doc_id") < 200), "text")
          .select(col("doc_id"), col("q_n_tokens"),
            Nums.round6(col("q_mean_token_len")).as("mean_token_len"),
            Nums.round6(col("q_punct_ratio")).as("punct_ratio"),
            Nums.round6(col("q_digit_ratio")).as("digit_ratio"),
            Nums.round6(col("q_stopword_ratio")).as("stopword_ratio"),
            col("quality_score"))
          .orderBy("doc_id"),
      Some(s"""WITH f AS (
              | SELECT doc_id, $dTokens AS toks, length(text) AS nc, text
              | FROM documents WHERE doc_id < 200),
              |g AS (
              | SELECT doc_id, len(toks)::INT AS q_n_tokens,
              |  CASE WHEN len(toks) = 0 THEN 0.0
              |   ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END AS mtl,
              |  CASE WHEN nc = 0 THEN 0.0
              |   ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / nc END AS pr,
              |  CASE WHEN nc = 0 THEN 0.0
              |   ELSE length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / nc END AS dr,
              |  CASE WHEN len(toks) = 0 THEN 0.0
              |   ELSE len(list_filter(toks, t -> list_contains(
              |     ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE / len(toks) END AS sr
              | FROM f)
              |SELECT doc_id, q_n_tokens, ${Nums.dRound6("mtl")} AS mean_token_len,
              | ${Nums.dRound6("pr")} AS punct_ratio, ${Nums.dRound6("dr")} AS digit_ratio,
              | ${Nums.dRound6("sr")} AS stopword_ratio,
              | ${Nums.dRound6("""greatest(0.0, least(1.0,
              |   0.30 * least(q_n_tokens / 64.0, 1.0)
              |   + 0.25 * least(mtl / 6.0, 1.0)
              |   + 0.25 * (1.0 - least(pr * 4.0, 1.0))
              |   + 0.20 * least(sr * 3.0, 1.0)))""")} AS quality_score
              |FROM g ORDER BY doc_id""".stripMargin)),

    ("q_lang_id",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_detected"))
          .orderBy("doc_id"),
      Some(s"""WITH f AS (SELECT doc_id, text, $dTokens AS toks FROM documents),
              |r AS (SELECT doc_id, text,
              | len(list_filter(toks, t -> list_contains(['der','die','und','in','den','von','zu','das','mit','sich'], t)))::DOUBLE / len(toks) AS s_de,
              | len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE / len(toks) AS s_en,
              | len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','es','se','no'], t)))::DOUBLE / len(toks) AS s_es,
              | len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','en','un','du','que'], t)))::DOUBLE / len(toks) AS s_fr
              | FROM f)
              |SELECT doc_id,
              | CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
              |  WHEN greatest(s_de, s_en, s_es, s_fr) = 0.0 THEN 'und'
              |  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
              |  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              |  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              |  ELSE 'de' END AS lang_detected
              |FROM r ORDER BY doc_id""".stripMargin)),

    ("q_fingerprint",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
            TextAnalysis.fingerprintRolling(col("text")).as("fp_rolling"))
          .orderBy("doc_id"),
      Some(s"""WITH f AS (SELECT doc_id, $dTokens AS toks FROM documents)
              |SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp_md5,
              | list_reduce(list_prepend(7::BIGINT, list_transform(toks,
              |   t -> list_reduce(list_prepend(7::BIGINT,
              |     list_transform(string_split(t, ''), ch -> ascii(ch)::BIGINT)),
              |     (a, c) -> (a * 31 + c) % 1000000007))),
              |   (acc, th) -> (acc * 131 + th) % 1000000007) AS fp_rolling
              |FROM f ORDER BY doc_id""".stripMargin)),

    ("q_token_stats",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.subwordCount(col("text")).as("n_subwords"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len($dTokens)::INT AS n_tokens,
              | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_subwords
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ multimodal plumbing

    // REAL WAV decode (pure-JVM RIFF/PCM parse): payloads are valid 8-bit
    // mono WAVs synthesized from each doc's utf-8 bytes; the oracle recomputes
    // the header-derived fields from the text byte length. (Sample stats —
    // rms/peak — are pinned byte-exactly in MultimodalSpec instead: DuckDB
    // has no per-byte blob arithmetic.)
    ("q_multimodal_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMedia(s,
          Multimodal.demoWavTable(
            tbl(s, d, "documents").filter(col("doc_id") < 200), "doc_id", "text"))
          .select(col("media_id"), col("format"), col("sample_rate"),
            col("n_samples"), Nums.round6(col("duration_ms")).as("duration_ms"))
          .orderBy("media_id"),
      Some(s"""SELECT doc_id AS media_id, 'audio/wav' AS format,
              | 8000 AS sample_rate,
              | octet_length(encode(text))::INT AS n_samples,
              | ${Nums.dRound6("octet_length(encode(text)) * 1000.0 / 8000")} AS duration_ms
              |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin)),

    ("q_multimodal_frames",
      (s: SparkSession, d: String) =>
        Multimodal.sampleFrames(
          Multimodal.demoMediaTable(
            tbl(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text"),
          stride = 2)
          .orderBy("media_id", "frame_no"),
      Some("""WITH m AS (
             | SELECT doc_id AS media_id, text,
             |  (length(text) % 64 + 1) AS n_frames,
             |  greatest(ceil(length(text) / (length(text) % 64 + 1))::INT, 1) AS flen
             | FROM documents WHERE doc_id < 100),
             |fr AS (
             | SELECT media_id, unnest(list_filter(generate_series(0, n_frames - 1),
             |   f -> f % 2 = 0)) AS f, flen, text
             | FROM m)
             |SELECT media_id, (row_number() OVER (PARTITION BY media_id ORDER BY f) - 1)::INT AS frame_no,
             | md5(substr(text, f * flen + 1, flen)) AS frame_md5
             |FROM fr ORDER BY media_id, frame_no""".stripMargin)),

    // Windowed audio features over REAL WAV payloads, in exact integers:
    // window w gets Σ(sample−128)² + its sample count (rms = sqrt(sum_sq/
    // (128²·n)) is a post-hoc scalar). The WAV samples ARE the utf-8 bytes
    // of the text, and the documents corpus is pure ASCII (max code point
    // 121, checked at both sf), so DuckDB's per-CHARACTER ascii() replays
    // the per-BYTE sample values exactly. The float32 RMS sibling
    // (withFeatures) stays ScalaTest-pinned — float accumulation is not
    // replicable in DuckDB's double-only list math.
    ("q_multimodal_features",
      (s: SparkSession, d: String) =>
        Multimodal.windowEnergy(s,
          Multimodal.demoWavTable(
            tbl(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text"),
          k = 4)
          .orderBy("media_id", "window"),
      // NB the 4s below are the Scala side's k=4; empty-text docs are
      // filtered because windowEnergy emits no rows when nSamples == 0
      Some("""WITH s AS (
             |  SELECT doc_id, list_transform(string_split(text, ''),
             |    ch -> ascii(ch)) AS bs
             |  FROM documents WHERE doc_id < 100 AND len(text) > 0),
             |w AS (SELECT doc_id, bs, unnest(range(0, 4)) AS win FROM s)
             |SELECT doc_id AS media_id, win::INT AS "window",
             |  coalesce(list_sum(list_transform(
             |    list_filter(range(0, len(bs)), i -> (i * 4) // len(bs) = win),
             |    i -> ((bs[i+1] - 128) * (bs[i+1] - 128))::BIGINT)), 0)::BIGINT AS sum_sq,
             |  len(list_filter(range(0, len(bs)), i -> (i * 4) // len(bs) = win))::BIGINT AS n_samples
             |FROM w ORDER BY media_id, win""".stripMargin)),

    // REAL compressed-audio decode #1 — G.711 μ-law (WAV format 7): the
    // payload's codewords are the doc's utf-8 bytes; decode expands each to
    // a 16-bit sample via the closed-form G.711 expression, and the query
    // emits exact per-window Σ sample². The oracle replays decode + window
    // sum bit-identically from the text (u = 255-code; t = ((u%16)*8+132)
    // * 2^((u//16)%8); x = u>=128 ? 132-t : t-132). Pure ASCII corpus —
    // same per-char ascii() ground as q_multimodal_features.
    ("q_multimodal_mulaw",
      (s: SparkSession, d: String) =>
        Multimodal.windowEnergy16(s,
          Multimodal.demoMulawTable(
            tbl(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text"),
          k = 4)
          .orderBy("media_id", "window"),
      Some("""WITH s AS (
             |  SELECT doc_id, list_transform(string_split(text, ''),
             |    ch -> 255 - ascii(ch)) AS us
             |  FROM documents WHERE doc_id < 100 AND len(text) > 0),
             |d AS (
             |  SELECT doc_id, list_transform(us, u ->
             |    CASE WHEN u >= 128
             |      THEN 132 - (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)))
             |      ELSE (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))) - 132
             |    END) AS xs
             |  FROM s),
             |w AS (SELECT doc_id, xs, unnest(range(0, 4)) AS win FROM d)
             |SELECT doc_id AS media_id, win::INT AS "window",
             |  coalesce(list_sum(list_transform(
             |    list_filter(range(0, len(xs)), i -> (i * 4) // len(xs) = win),
             |    i -> (xs[i+1] * xs[i+1])::BIGINT)), 0)::BIGINT AS sum_sq,
             |  len(list_filter(range(0, len(xs)), i -> (i * 4) // len(xs) = win))::BIGINT AS n_samples
             |FROM w ORDER BY media_id, win""".stripMargin)),

    // REAL compressed-audio decode #2 — mono IMA/DVI4 ADPCM (WAV format
    // 17): text bytes become 16-bit samples ((b-128)·256), compressed by
    // the real encoder, decoded back by the real block decoder. The nibble
    // stream is sequential-stateful (not SQL-replayable — its sample values
    // are pinned in MultimodalSpec), but the BLOCK STRUCTURE is a closed
    // form: n_samples = 1 + 2·⌊L/2⌋ for L input samples (pad nibble
    // decodes, no fact trim), and the header predictor IS the first input
    // sample — both oracle-checked here, plus the exact duration double.
    ("q_multimodal_adpcm",
      (s: SparkSession, d: String) =>
        Multimodal.audioInfo(s,
          Multimodal.demoAdpcmTable(
            tbl(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text"))
          .filter(col("n_samples") > 0)
          .orderBy("media_id"),
      Some("""WITH s AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    ascii(substr(text, 1, 1)) AS c0
             |  FROM documents WHERE doc_id < 100 AND len(text) > 0)
             |SELECT doc_id AS media_id, 'audio/adpcm' AS format,
             |  8000 AS sample_rate,
             |  (1 + 2 * (n // 2))::INT AS n_samples,
             |  ((c0 - 128) * 256)::INT AS first_sample,
             |  (1 + 2 * (n // 2))::DOUBLE * 1000 / 8000 AS duration_ms
             |FROM s ORDER BY media_id""".stripMargin)),

    // REAL compressed-audio decode #3 — FLAC (lossless): text bytes become
    // 16-bit samples ((b-128)·256), compressed by the real encoder (FIXED/
    // LPC predictors, Rice residuals, CRC-8/16, STREAMINFO MD5) and decoded
    // back by the full decoder. LOSSLESS means the oracle checks EVERY
    // sample, not just headers: Σ sᵢ and the order-sensitive Σ (i+1)·sᵢ
    // are closed forms over the text, and md5_ok pins the decoded PCM to
    // the container signature.
    ("q_multimodal_flac",
      (s: SparkSession, d: String) =>
        Multimodal.flacInfo(s,
          Multimodal.demoFlacTable(
            tbl(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text"))
          .filter(col("n_samples") > 0)
          .orderBy("media_id"),
      Some("""WITH s AS (
             |  SELECT doc_id, list_transform(string_split(text, ''),
             |    ch -> (ascii(ch) - 128) * 256) AS xs
             |  FROM documents WHERE doc_id < 100 AND len(text) > 0)
             |SELECT doc_id AS media_id, 'audio/flac' AS format,
             |  8000 AS sample_rate, 1 AS channels, 16 AS bps,
             |  len(xs)::INT AS n_samples, xs[1]::INT AS first_sample,
             |  list_sum(xs)::BIGINT AS sample_sum,
             |  list_sum(list_transform(range(0, len(xs)),
             |    i -> ((i + 1) * xs[i+1])::BIGINT))::BIGINT AS weighted_sum,
             |  true AS md5_ok
             |FROM s ORDER BY media_id""".stripMargin)),

    // ------------------------------------------- r7 second tranche: RAG /
    // warehouse-maintenance / graph / runtime-filter operators

    // Overlapping token-window chunking (RAG / context packing): map-only
    // explode, chunk i covers tokens [i*stride, i*stride+window).
    ("q_chunk_overlap",
      (s: SparkSession, d: String) =>
        Chunking.chunkDocuments(
          tbl(s, d, "documents").filter(col("doc_id") < 300), "doc_id", "text",
          window = 64, stride = 48)
          .orderBy("doc_id", "chunk_id"),
      Some("""WITH dd AS (
             |  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
             |    ELSE string_split_regex(trim(text), '\s+') END AS toks
             |  FROM documents WHERE doc_id < 300),
             |e AS (SELECT doc_id, toks, len(toks) AS n FROM dd WHERE len(toks) > 0),
             |st AS (SELECT doc_id, toks, n,
             |  unnest(generate_series(0, n - 1, 48)) AS s FROM e)
             |SELECT doc_id, (s // 48)::BIGINT AS chunk_id,
             |  least(64, n - s)::BIGINT AS n_tokens,
             |  array_to_string(toks[s+1 : s+64], ' ') AS chunk_text
             |FROM st ORDER BY doc_id, chunk_id""".stripMargin)),

    // RANGE-frame window: per-user sliding 1-hour sum over event time.
    // Cents via floor(value*100) — identical IEEE double ops in both
    // engines, no rounding-mode divergence; ts is raw int64 nanos.
    ("q_window_range",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0L)
        events(s, d).filter(col("user_id") < 500)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            floor(col("value") * 100).cast("long").as("cents"))
          .withColumn("hour_sum", sum("cents").over(w))
          .select(col("user_id"), col("event_id"), col("ts_us"), col("hour_sum"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    floor(value * 100)::BIGINT AS cents
             |  FROM events WHERE user_id < 500)
             |SELECT user_id, event_id, ts_us,
             |  (sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us
             |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))::BIGINT
             |    AS hour_sum
             |FROM e ORDER BY user_id, event_id""".stripMargin)),

    // SCD type-2 history build: consecutive runs of each user's event_type
    // collapse to validity intervals (micros — DuckDB truncates parquet ns
    // timestamps to µs on read), event_id as the tiebreaker.
    ("q_scd2",
      (s: SparkSession, d: String) =>
        Warehouse.scd2(
          events(s, d).filter(col("user_id") < 200),
          "user_id", "event_type", "ts_us", "event_id")
          .select(col("user_id"), col("version"), col("attr"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("user_id", "version"),
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsn, event_id
             |  FROM events WHERE user_id < 200),
             |o AS (
             |  SELECT user_id, event_type, tsn, event_id,
             |    lag(event_type) OVER w AS prev,
             |    row_number() OVER w AS rn
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
             |-- null-safe change test mirroring Warehouse.scd2's <=> semantics:
             |-- first row always opens a version; thereafter value<->NULL
             |-- transitions count as changes and NULL->NULL does not.
             |ch AS (SELECT * FROM o
             |       WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
             |SELECT user_id, row_number() OVER w AS version, event_type AS attr,
             |  tsn AS valid_from, lead(tsn) OVER w AS valid_to,
             |  lead(tsn) OVER w IS NULL AS is_current
             |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
             |ORDER BY user_id, version""".stripMargin)),

    // CDC latest-wins merge: version-0 base + version-1 updates (changed
    // status for keys %7, brand-new keys for %13) → upsert by key; at equal
    // versions an update beats a base row.
    ("q_merge_upsert",
      (s: SparkSession, d: String) => {
        val base = tbl(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), lit(0L).as("version"))
        val changed = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("R"))
          .withColumn("version", lit(1L))
        val inserts = base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("version", lit(1L))
        Warehouse.mergeLatest(base, changed.unionByName(inserts),
          Seq("o_orderkey"), "version")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |    0::BIGINT AS version, 0 AS src FROM orders),
             |upd AS (
             |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
             |    o_totalprice, 1::BIGINT, 1 FROM orders WHERE o_orderkey % 7 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
             |    o_totalprice, 1::BIGINT, 1 FROM orders WHERE o_orderkey % 13 = 0),
             |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
             |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             |  ORDER BY version DESC, src DESC) AS rn FROM u)
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
             |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),

    // Full CDC apply with DELETES (Delta/Iceberg MERGE WHEN MATCHED AND
    // op='D' THEN DELETE): version-1 updates + inserts, then a version-2
    // delete wave for keys %11 — a later-version delete beats any update
    // (deterministic: deletes carry the strictly-higher version).
    ("q_merge_cdc",
      (s: SparkSession, d: String) => {
        val base = tbl(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), lit(0L).as("version"))
        val changed = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("R"))
          .withColumn("version", lit(1L)).withColumn("op", lit("U"))
        val inserts = base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("version", lit(1L)).withColumn("op", lit("U"))
        val deletes = base.filter(col("o_orderkey") % 11 === 0)
          .withColumn("version", lit(2L)).withColumn("op", lit("D"))
        Warehouse.applyCdc(base,
          changed.unionByName(inserts).unionByName(deletes),
          Seq("o_orderkey"), "version")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |    0::BIGINT AS version, 'U' AS op, 0 AS src FROM orders),
             |chg AS (
             |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
             |    o_totalprice, 1::BIGINT, 'U', 1 FROM orders WHERE o_orderkey % 7 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
             |    o_totalprice, 1::BIGINT, 'U', 1 FROM orders WHERE o_orderkey % 13 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice, 2::BIGINT, 'D', 1 FROM orders WHERE o_orderkey % 11 = 0),
             |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
             |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             |  ORDER BY version DESC, src DESC) AS rn FROM u)
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
             |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin)),

    // Exact triangle count of the co-purchase graph (parts sharing an
    // order), via degree-oriented wedge join; the oracle counts canonical
    // u<v<w triples directly — orientation must not change the answer.
    ("q_triangles",
      (s: SparkSession, d: String) => {
        val li = tbl(s, d, "lineitem").filter(col("l_orderkey") < 7500)
          .select(col("l_orderkey").as("k"), col("l_partkey"))
        val a = li.select(col("k"), col("l_partkey").as("src"))
        val b = li.select(col("k"), col("l_partkey").as("dst"))
        val edges = a.join(b, "k").filter(col("src") < col("dst"))
          .select("src", "dst")
        graft.ops.Graph.triangleCount(edges)
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey < 7500),
             |e AS (
             |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             |  FROM li a JOIN li b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
             |SELECT count(*)::BIGINT AS triangles
             |FROM e e1 JOIN e e2 ON e2.u = e1.v
             |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin)),

    // Bloom-prefiltered semi-join (manual runtime filter): the Bloom stage
    // prunes the fact scan map-side; the exact semi-join removes false
    // positives, so the result IS the semi-join — which is the oracle.
    ("q_bloom_join",
      (s: SparkSession, d: String) =>
        // m=2^17: ~13.7k dim keys at sf1 × k=3 needs ≥2^17 bits to keep
        // the fp rate ~1% — at 2^14 the filter saturates and prunes little
        Bloom.semiJoinPrefiltered(
          tbl(s, d, "orders"), "o_custkey",
          tbl(s, d, "customer").filter(col("c_acctbal") > 9000), "c_custkey",
          m = 1 << 17, k = 3)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey IN (
             |  SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
             |ORDER BY o_orderkey""".stripMargin)),

    // SemDeDup-style semantic dedup: engine-exact quantized k-means
    // clusters as candidate buckets; within a cluster, drop any vector
    // ≥ 0.9-cosine-similar to a lower id. The cosine test is pure integer
    // (doti² · den² vs num² · norms), so the oracle replays the ENTIRE
    // chain — quantize → 2 Lloyd's rounds → assignment → pair test — and
    // the survivor set hashes identically.
    ("q_semantic_dedup",
      (s: SparkSession, d: String) =>
        Similarity.semanticDedup(
          tbl(s, d, "embeddings")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          k = 4, iters = 2, simNum = 9L, simDen = 10L)
          .orderBy("id"),
      Some(s"""$dKmeansCtes,
              |dots AS (
              |  SELECT a.id AS id_a, b.id AS id_b,
              |    list_sum(list_transform(range(1, len(qa.iv) + 1),
              |      i -> qa.iv[i] * qb.iv[i]))::BIGINT AS d,
              |    list_sum(list_transform(qa.iv, x -> x*x))::BIGINT AS na,
              |    list_sum(list_transform(qb.iv, x -> x*x))::BIGINT AS nb
              |  FROM a3 a JOIN a3 b ON a.cluster = b.cluster AND a.id < b.id
              |  JOIN qz qa ON qa.id = a.id JOIN qz qb ON qb.id = b.id),
              |dups AS (SELECT DISTINCT id_b FROM dots
              |  WHERE d > 0 AND d*d*100 >= 81*na*nb)
              |SELECT id, cluster FROM a3
              |WHERE id NOT IN (SELECT id_b FROM dups) ORDER BY id""".stripMargin)),

    // Z-order (Morton) clustering key: the multi-dimensional sort key for
    // zone-map pruning; pure shift/mask integer tree, replayed bit-for-bit.
    ("q_zorder",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem").filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_linenumber"),
            Layout.zOrderKey(Seq(col("l_partkey"), col("l_suppkey")), bits = 10))
          .orderBy("l_orderkey", "l_linenumber"),
      Some(s"""SELECT l_orderkey, l_linenumber,
              | ${dZOrder(Seq("l_partkey", "l_suppkey"), 10)} AS zkey
              |FROM lineitem WHERE l_orderkey < 2000
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Approximate quantiles (the percentile sketch sibling of
    // q_approx_distinct): tolerance booleans under the hash check, exact
    // interpolated quantiles recomputed by the oracle as the denominators.
    ("q_approx_quantile",
      (s: SparkSession, d: String) =>
        tbl(s, d, "lineitem").agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("ap"),
          expr("percentile(l_extendedprice, array(0.5, 0.9))").as("ex"))
          .select(
            (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1))
              / element_at(col("ex"), 1) <= 0.01).as("p50_within_tol"),
            (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2))
              / element_at(col("ex"), 2) <= 0.01).as("p90_within_tol"),
            Nums.round6(element_at(col("ex"), 1)).as("exact_p50"),
            Nums.round6(element_at(col("ex"), 2)).as("exact_p90")),
      Some(s"""SELECT true AS p50_within_tol, true AS p90_within_tol,
              | ${Nums.dRound6("quantile_cont(l_extendedprice, 0.5)")} AS exact_p50,
              | ${Nums.dRound6("quantile_cont(l_extendedprice, 0.9)")} AS exact_p90
              |FROM lineitem""".stripMargin)),

    // Incremental-ingest dedup: the new batch (doc_id ≥ 200) against the
    // already-ingested corpus (doc_id < 400) by content fingerprint —
    // Bloom-negatives pass map-side, only Bloom-positives reach the exact
    // anti-join. Result IS the anti-join, which is the oracle.
    ("q_dedup_incremental",
      (s: SparkSession, d: String) => {
        val fp = md5(col("text"))
        val corpus = tbl(s, d, "documents").filter(col("doc_id") < 400)
          .select(fp.as("seen_fp"))
        val batch = tbl(s, d, "documents").filter(col("doc_id") >= 200)
          .select(col("doc_id"), fp.as("fp"))
        Bloom.antiJoinPrefiltered(batch, "fp", corpus, "seen_fp",
          m = 1 << 14, k = 3)
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents WHERE doc_id >= 200
             |AND md5(text) NOT IN (
             |  SELECT md5(text) FROM documents WHERE doc_id < 400)
             |ORDER BY doc_id""".stripMargin)),

    // Canonical text normalization: Unicode NFC (native graft_nfc kernel vs
    // DuckDB's utf8proc nfc_normalize — same Unicode tables), simple
    // lowercase, whitespace collapse. The suffix injects decomposed
    // combining sequences (é, Å, ö), mixed case and a tab — the corpus
    // itself is pure ASCII, so the fixture carries the i18n work.
    ("q_normalize_text",
      (s: SparkSession, d: String) =>
        tbl(s, d, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"),
            TextAnalysis.normalizeText(
              concat(col("text"),
                // the literal below holds DECOMPOSED sequences (e+U+0301,
                // A+U+030A, o+U+0308) — NFC genuinely composes them
                lit(" Café  Ångström\tN2")))
              .as("norm_text"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             | trim(regexp_replace(lower(nfc_normalize(
             |   text || ' Cafe' || chr(769) || '  A' || chr(778) ||
             |   'ngstro' || chr(776) || 'm' || chr(9) || 'N2')),
             |   '\s+', ' ', 'g')) AS norm_text
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // Count-Min heavy hitters: polynomial hashing makes every sketch cell
    // exact integer arithmetic, so the WHOLE sketch — build, probe, min —
    // replays bit-identically in SQL (no tolerance bound needed).
    ("q_heavy_hitters",
      (s: SparkSession, d: String) => {
        val li = tbl(s, d, "lineitem").select(col("l_suppkey"))
        val sk = graft.ops.Sketches.countMin(li, "l_suppkey", depth = 3, width = 256)
        graft.ops.Sketches.estimate(sk, li, "l_suppkey", depth = 3, width = 256)
          .orderBy(desc("est"), asc("l_suppkey")).limit(20)
      },
      Some(s"""WITH src AS (SELECT l_suppkey AS key FROM lineitem),
              |seeds(srow, a) AS (VALUES $dCmsSeeds),
              |cells AS (
              |  SELECT srow,
              |    (((key % 2147483648 + 1) * a) % 2305843009213693951) % 256 AS pos,
              |    count(*)::BIGINT AS cnt
              |  FROM src CROSS JOIN seeds GROUP BY srow, pos),
              |probes AS (
              |  SELECT DISTINCT key, srow,
              |    (((key % 2147483648 + 1) * a) % 2305843009213693951) % 256 AS pos
              |  FROM src CROSS JOIN seeds),
              |est AS (
              |  SELECT key, min(coalesce(cnt, 0))::BIGINT AS est
              |  FROM probes LEFT JOIN cells USING (srow, pos) GROUP BY key)
              |SELECT key AS l_suppkey, est FROM est
              |ORDER BY est DESC, key LIMIT 20""".stripMargin)),

    // Per-group IQR outlier gate: grouped percentile agg + broadcast of the
    // tiny bounds table back onto the unshuffled fact side.
    ("q_outliers_iqr",
      (s: SparkSession, d: String) =>
        graft.ops.Outliers.flagIqr(tbl(s, d, "orders"),
          // k=0.5: the synthetic totalprice distribution is tail-less, so
          // the textbook 1.5 fence flags nothing — tighten for a
          // content-bearing check (operator default stays 1.5)
          "o_orderpriority", "o_totalprice", k = 0.5)
          .filter(col("is_outlier"))
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .orderBy("o_orderkey"),
      Some("""WITH b AS (
             |  SELECT o_orderpriority,
             |    quantile_cont(o_totalprice, 0.25) AS q1,
             |    quantile_cont(o_totalprice, 0.75) AS q3
             |  FROM orders GROUP BY o_orderpriority),
             |f AS (SELECT o_orderpriority, q1 - (q3 - q1) * 0.5 AS lo,
             |  q3 + (q3 - q1) * 0.5 AS hi FROM b)
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM orders JOIN f USING (o_orderpriority)
             |WHERE o_totalprice < lo OR o_totalprice > hi
             |ORDER BY o_orderkey""".stripMargin)),

    // Edit-distance fuzzy self-join (entity resolution): customer names
    // differ only in their digit block, so dist≤1 pairs are ids one digit
    // apart. The length-band blocking is COMPLETE for dist ≤ maxDist, so
    // the oracle replays the NAIVE all-pairs join — hash-equality also
    // proves the blocking missed nothing.
    ("q_fuzzy_join",
      (s: SparkSession, d: String) =>
        graft.ops.FuzzyJoin.selfJoin(
          tbl(s, d, "customer").filter(col("c_custkey") < 500),
          "c_custkey", "c_name", maxDist = 1)
          .orderBy("id_a", "id_b"),
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             |  levenshtein(a.c_name, b.c_name)::INT AS dist
             |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |WHERE a.c_custkey < 500 AND b.c_custkey < 500
             |  AND levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // Column profiling: per-column row/null/distinct counts and min/max.
    ("q_profile",
      (s: SparkSession, d: String) =>
        graft.ops.Profile.profile(tbl(s, d, "orders"),
          Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))
          .orderBy("col_name"),
      Some("""SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             |  sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
             |  count(DISTINCT o_orderkey) AS n_distinct,
             |  min(o_orderkey)::VARCHAR AS min_value,
             |  max(o_orderkey)::VARCHAR AS max_value FROM orders
             |UNION ALL
             |SELECT 'o_orderstatus', count(*),
             |  sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |  count(DISTINCT o_orderstatus),
             |  min(o_orderstatus), max(o_orderstatus) FROM orders
             |UNION ALL
             |SELECT 'o_orderpriority', count(*),
             |  sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |  count(DISTINCT o_orderpriority),
             |  min(o_orderpriority), max(o_orderpriority) FROM orders
             |ORDER BY col_name""".stripMargin)),

    // Incremental aggregate maintenance: base partials (orderkey < 30000)
    // merged with the delta batch's partials MUST equal the full
    // aggregation — which is the oracle.
    ("q_incremental_agg",
      (s: SparkSession, d: String) => {
        def partial(f: DataFrame) = f.groupBy("l_suppkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"))
        val li = tbl(s, d, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_quantity"))
        Warehouse.mergeAggregates(
          partial(li.filter(col("l_orderkey") < 30000)),
          partial(li.filter(col("l_orderkey") >= 30000)),
          Seq("l_suppkey"), Seq("n", "qty"))
          .orderBy("l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS n,
             |  sum(l_quantity::BIGINT)::BIGINT AS qty
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // Anti-entropy reconciliation: fingerprint sets of two overlapping
    // corpus slices — keys on exactly one side, tagged.
    ("q_reconcile",
      (s: SparkSession, d: String) => {
        val fp = md5(col("text")).as("fp")
        Warehouse.reconcile(
          tbl(s, d, "documents").filter(col("doc_id") < 350).select(fp),
          tbl(s, d, "documents").filter(col("doc_id") >= 150).select(fp),
          "fp")
          .orderBy("side", "fp")
      },
      // ANTI JOIN, not NOT IN: a NULL key would nullify a NOT IN subquery
      // (dropping a whole side's diff) while Spark's left_anti keeps
      // null-keyed rows — ANTI JOIN matches Spark's semantics exactly
      Some("""WITH a AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 350),
             |b AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id >= 150)
             |SELECT fp, 'a_only' AS side FROM a ANTI JOIN b USING (fp)
             |UNION ALL
             |SELECT fp, 'b_only' FROM b ANTI JOIN a USING (fp)
             |ORDER BY side, fp""".stripMargin)),

    // Avro object containers: the row-format staple of Kafka/warehouse
    // landing zones. This distribution ships avro-core but NOT the
    // spark-avro connector, so ingest rides graft's own reader
    // (AvroReader: driver reads ONE header for the schema, executors
    // decode containers in parallel with per-file writer-schema
    // resolution). Battery addition justified: a first-class source
    // format the engine previously could not read at all, with a full
    // cross-engine oracle (the fixture is rendered FROM the documents
    // table, the oracle reads documents directly).
    ("q_ingest_avro",
      (s: SparkSession, d: String) => {
        val path = avroFixture(s, d)
        graft.ingest.AvroReader.avro(s, path)
          .select(col("doc_id"), col("lang"), col("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, text FROM documents
             |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)),

    // Hadoop SequenceFile: the legacy-corpus container of Hadoop-era data
    // lakes — and the only SPLITTABLE container this engine reads (sync
    // markers let one multi-GB file fan out across tasks). Battery
    // addition justified: a first-class source format previously
    // unreadable, with a full cross-engine oracle (fixture rendered FROM
    // documents, block-compressed zlib; the oracle reads documents).
    ("q_ingest_seq",
      (s: SparkSession, d: String) => {
        val path = seqFixture(s, d)
        graft.ingest.SequenceFiles.sequenceText(s, path)
          .select(col("key").cast("long").as("doc_id"), col("value").as("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text FROM documents
             |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)),

    // ORC source/sink: the columnar sibling of the parquet path — write
    // the supplier dim to ORC once (cached fixture), read it back through
    // the native vectorized ORC reader; the oracle is the original table.
    ("q_ingest_orc",
      (s: SparkSession, d: String) => {
        val path = orcFixture(s, d)
        s.read.orc(path)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
            col("s_acctbal"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // HTML ingest (web-corpus format): visible text only — script/style/
    // comments dropped, tags stripped, entities decoded, whitespace
    // collapsed. The oracle reassembles the page's visible text from the
    // documents table, proving the entity round-trip is exact.
    ("q_ingest_html",
      (s: SparkSession, d: String) => {
        val path = htmlFixture(s, d)
        Readers.html(s, path).orderBy("title")
      },
      Some("""SELECT 'Doc ' || doc_id AS title,
             |  concat_ws(' ', 'home', 'Doc ' || doc_id,
             |    nullif(trim(regexp_replace(text, '\s+', ' ', 'g')), ''),
             |    'next') AS content
             |FROM documents WHERE doc_id < 100 ORDER BY title""".stripMargin)),

    // Link extraction: (page, href) edges from the HTML fixture — the
    // web-graph input PageRank/URL-dedup consume. Targets are doc_id
    // arithmetic, so the oracle recomputes the full edge list.
    ("q_extract_links",
      (s: SparkSession, d: String) => {
        val path = htmlFixture(s, d)
        Readers.htmlLinks(s, path).orderBy("page", "href")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, 'doc_' || lpad(doc_id::VARCHAR, 3, '0') || '.html' AS page
             |  FROM documents WHERE doc_id < 100)
             |SELECT page, href FROM (
             |  SELECT page, '/p/' || (doc_id % 20)::VARCHAR AS href FROM p
             |  UNION ALL
             |  SELECT page, 'http://example.com/p/' || ((doc_id * 7 + 3) % 100)::VARCHAR
             |  FROM p) u
             |ORDER BY page, href""".stripMargin)),

    // Deterministic training-shard assignment: md5-prefix mod 16 — engine-
    // and run-independent (unlike hash()/partition ids), so incremental
    // corpus additions never move existing docs between shards. The
    // manifest (count + id checksums per shard) is the stored artifact.
    ("q_shard_assign",
      (s: SparkSession, d: String) =>
        Bucketing.shardSummary(tbl(s, d, "documents"), "doc_id", nShards = 16)
          .orderBy("shard"),
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS shard
             |  FROM documents)
             |SELECT shard, count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
             |  min(doc_id) AS id_min, max(doc_id) AS id_max
             |FROM a GROUP BY shard ORDER BY shard""".stripMargin)),

    // N-gram novelty (data-selection signal): per doc, ppm of its distinct
    // 3-shingles first seen (corpus-wide min doc_id) in this doc. Integer
    // arithmetic end-to-end; same explode+agg+join shape as corpus_freq.
    ("q_novelty",
      (s: SparkSession, d: String) =>
        TextAnalysis.noveltyScore(
          tbl(s, d, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", k = 3)
          .orderBy("id"),
      Some(s"""WITH sh AS (
              |  SELECT id, unnest(shs) AS sh FROM (
              |    SELECT doc_id AS id,
              |      list_distinct(${dShingles(dTokensCase, 3)}) AS shs
              |    FROM documents WHERE doc_id < 500)),
              |firsts AS (SELECT sh, min(id) AS first_id FROM sh GROUP BY sh)
              |SELECT id, count(*) AS n_shingles,
              |  sum(CASE WHEN first_id = id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
              |  ((1000000 * sum(CASE WHEN first_id = id THEN 1 ELSE 0 END))
              |    // count(*))::BIGINT AS novelty_ppm
              |FROM sh JOIN firsts USING (sh)
              |GROUP BY id ORDER BY id""".stripMargin)),

    // WARC ingest (the Common Crawl container): multi-member .warc.gz →
    // response records → HTTP strip → HTML scan, end to end under one
    // oracle. Same visible-text contract as q_ingest_html plus the URL
    // from the WARC header.
    ("q_ingest_warc",
      (s: SparkSession, d: String) => {
        val path = warcFixture(s, d)
        Readers.warcHtml(s, path).orderBy("url")
      },
      Some("""SELECT 'http://example.com/doc/' || doc_id AS url,
             |  'Doc ' || doc_id AS title,
             |  concat_ws(' ', 'home', 'Doc ' || doc_id,
             |    nullif(trim(regexp_replace(text, '\s+', ' ', 'g')), ''),
             |    'next') AS content
             |FROM documents WHERE doc_id < 100 ORDER BY url""".stripMargin)),

    // Anchor-text index: per link target, in-link count + sorted distinct
    // anchor texts — zip_with-aligned twin regexp_extract_all (the F1
    // idiom), one hash-agg. Both fixture links carry constant anchors, so
    // the oracle recomputes the whole index from doc_id arithmetic.
    ("q_anchor_text",
      (s: SparkSession, d: String) =>
        Urls.anchorTextIndex(Readers.wholeText(s, htmlFixture(s, d)), "text")
          .orderBy("href"),
      Some("""WITH p AS (SELECT doc_id FROM documents WHERE doc_id < 100),
             |e AS (
             |  SELECT '/p/' || (doc_id % 20)::VARCHAR AS href, 'home' AS anchor FROM p
             |  UNION ALL
             |  SELECT 'http://example.com/p/' || ((doc_id * 7 + 3) % 100)::VARCHAR,
             |    'next' FROM p)
             |SELECT href, count(*) AS n_links,
             |  array_to_string(list_sort(list_distinct(list(anchor))), '|') AS anchors
             |FROM e GROUP BY href ORDER BY href""".stripMargin)),

    // Vocabulary coverage curve: smallest top-K vocab reaching 50/90/95/99%
    // of corpus token mass — integer threshold test, window only over the
    // aggregated vocabulary.
    ("q_vocab_coverage",
      (s: SparkSession, d: String) =>
        TextAnalysis.vocabCoverage(tbl(s, d, "documents"), "text")
          .orderBy("pct"),
      Some(s"""WITH c AS (
              |  SELECT w, count(*)::BIGINT AS c FROM (
              |    SELECT unnest($dTokens) AS w FROM documents) GROUP BY w),
              |t AS (SELECT sum(c)::BIGINT AS total FROM c),
              |r AS (SELECT
              |    row_number() OVER (ORDER BY c DESC, w) AS rank,
              |    (sum(c) OVER (ORDER BY c DESC, w
              |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
              |  FROM c)
              |SELECT pct, min(rank)::BIGINT AS n_vocab,
              |  (SELECT total FROM t) AS total_tokens
              |FROM r, (VALUES (50), (90), (95), (99)) AS pv(pct), t
              |WHERE 100 * cum >= pct * total
              |GROUP BY pct ORDER BY pct""".stripMargin)),

    // Corpus-wide exact paragraph dedup (MassiveText/RefinedWeb repeated-
    // paragraph rule): the fixture plants a shared boilerplate paragraph
    // and a within-doc repeat in every document; only the corpus-first
    // occurrence of each paragraph survives reassembly.
    ("q_dedup_paragraphs",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents").filter(col("doc_id") < 400)
          .select(col("doc_id"),
            concat_ws("\n\n", col("text"),
              lit("Subscribe to our newsletter today"), col("text")).as("text"))
        Dedup.dedupParagraphs(docs, "doc_id", "text").orderBy("id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id AS id, string_split_regex(
             |      text || chr(10) || chr(10) || 'Subscribe to our newsletter today'
             |        || chr(10) || chr(10) || text,
             |      '\n\s*\n') AS ps
             |  FROM documents WHERE doc_id < 400),
             |x AS (SELECT id, unnest(range(0, len(ps))) AS pidx, ps FROM t),
             |p AS (SELECT id, pidx, trim(ps[pidx + 1]) AS para FROM x),
             |r AS (SELECT id, pidx, para, row_number() OVER (
             |        PARTITION BY para ORDER BY id, pidx) AS rn
             |      FROM p WHERE para <> '')
             |SELECT id,
             |  array_to_string(list(para ORDER BY pidx), chr(10) || chr(10))
             |    AS clean_text,
             |  count(*) AS n_paras
             |FROM r WHERE rn = 1 GROUP BY id ORDER BY id""".stripMargin)),

    // Per-host corpus accounting (domain mixing / blocklist budgeting):
    // URL count, distinct-URL count, token mass per host — one hash-agg.
    ("q_domain_stats",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents")
          .withColumn("host",
            when(col("doc_id") % 5 === 0, "a.example.com")
              .when(col("doc_id") % 5 === 1, "b.example.org")
              .when(col("doc_id") % 5 === 2, "cdn.example.net")
              .when(col("doc_id") % 5 === 3, "example.com")
              .otherwise("static.example.io"))
          .select(
            concat(lit("https://"), col("host"), lit("/p/"),
              (col("doc_id") % 97).cast("string")).as("url"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        Urls.domainStats(docs, "url", Some("n_tokens")).orderBy("host")
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id,
              |    CASE doc_id % 5 WHEN 0 THEN 'a.example.com'
              |      WHEN 1 THEN 'b.example.org' WHEN 2 THEN 'cdn.example.net'
              |      WHEN 3 THEN 'example.com' ELSE 'static.example.io' END AS host,
              |    len($dTokens)::BIGINT AS n_tokens
              |  FROM documents),
              |u AS (SELECT host,
              |    'https://' || host || '/p/' || (doc_id % 97)::VARCHAR AS url,
              |    n_tokens FROM h)
              |SELECT host, count(*) AS n_urls,
              |  count(DISTINCT url) AS n_distinct_urls,
              |  sum(n_tokens)::BIGINT AS weight_sum
              |FROM u GROUP BY host ORDER BY host""".stripMargin)),

    // Crawl-politeness gate: RFC 9309 robots.txt longest-match-wins verdict
    // per URL — agent-specific groups, * wildcards, terminal $ anchors,
    // allow-beats-disallow ties, hosts without robots allowed. The oracle
    // reimplements the whole pipeline (group assembly via window functions,
    // LIKE-pattern translation) in DuckDB SQL.
    ("q_robots_filter",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val robots = Seq(
          ("a.example.com", "User-agent: *\nDisallow: /p/1\nAllow: /p/12"),
          ("b.example.org",
            "User-agent: graftbot\nDisallow: /\n\nUser-agent: *\nDisallow:"),
          ("cdn.example.net", "User-agent: *\nDisallow: /*/7$"),
          // textbook allow-this-bot file: graftbot's group is the EMPTY
          // Disallow (allow-all) while * is blocked — the exact group must
          // win even though it contributes zero rules
          ("example.com",
            "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /"),
          ("static.example.io", "User-agent: otherbot\nDisallow: /")
        ).toDF("host", "body")
        val urls = tbl(s, d, "documents")
          .withColumn("host",
            when(col("doc_id") % 5 === 0, "a.example.com")
              .when(col("doc_id") % 5 === 1, "b.example.org")
              .when(col("doc_id") % 5 === 2, "cdn.example.net")
              .when(col("doc_id") % 5 === 3, "example.com")
              .otherwise("static.example.io"))
          .select(concat(lit("https://"), col("host"), lit("/p/"),
            (col("doc_id") % 97).cast("string")).as("url"))
        Urls.robotsVerdict(urls, "url", robots, "host", "body", "graftbot")
          .orderBy("url")
      },
      Some("""WITH robots(host, body) AS (VALUES
             |  ('a.example.com', 'User-agent: *' || chr(10) ||
             |     'Disallow: /p/1' || chr(10) || 'Allow: /p/12'),
             |  ('b.example.org', 'User-agent: graftbot' || chr(10) ||
             |     'Disallow: /' || chr(10) || chr(10) ||
             |     'User-agent: *' || chr(10) || 'Disallow:'),
             |  ('cdn.example.net', 'User-agent: *' || chr(10) || 'Disallow: /*/7$'),
             |  ('example.com', 'User-agent: graftbot' || chr(10) || 'Disallow:'
             |     || chr(10) || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'),
             |  ('static.example.io', 'User-agent: otherbot' || chr(10) || 'Disallow: /')),
             |t AS (SELECT host, string_split(body, chr(10)) AS ls FROM robots),
             |x AS (SELECT host, unnest(range(0, len(ls))) AS ln, ls FROM t),
             |l AS (SELECT host, ln,
             |        trim(regexp_replace(ls[ln + 1], '#.*$', '')) AS line FROM x),
             |f AS (SELECT host, ln,
             |        lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) AS field,
             |        trim(regexp_extract(line, ':\s*(.*)$', 1)) AS value
             |      FROM l
             |      WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1))
             |        IN ('user-agent', 'allow', 'disallow')),
             |g AS (SELECT *, CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END AS is_ua
             |      FROM f),
             |h AS (SELECT *, CASE WHEN is_ua = 1 AND coalesce(
             |          lag(is_ua) OVER (PARTITION BY host ORDER BY ln), 0) = 0
             |        THEN 1 ELSE 0 END AS new_grp FROM g),
             |i AS (SELECT *, sum(new_grp) OVER (
             |        PARTITION BY host ORDER BY ln) AS grp FROM h),
             |agents AS (SELECT DISTINCT host, grp, lower(value) AS agent
             |           FROM i WHERE field = 'user-agent'),
             |ra AS (SELECT r.host, a.agent, r.field AS rule_type, r.value AS pattern
             |       FROM i r JOIN agents a ON r.host = a.host AND r.grp = a.grp
             |       WHERE r.field <> 'user-agent' AND r.value <> ''
             |         AND a.agent IN ('graftbot', '*')),
             |-- group presence from the AGENTS table (an exact group whose
             |-- only directive is the empty allow-all Disallow has no rule
             |-- rows but must still shadow the * group)
             |hx AS (SELECT host,
             |         max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END) AS has_exact
             |       FROM agents GROUP BY host),
             |rr AS (SELECT host, rule_type, pat_len,
             |         CASE WHEN right(p2, 1) = '$' THEN left(p2, len(p2) - 1)
             |              ELSE p2 || '%' END AS like_pat
             |       FROM (SELECT ra.host, ra.rule_type, len(ra.pattern) AS pat_len,
             |               replace(replace(replace(replace(ra.pattern,
             |                 '\', '\\'), '%', '\%'), '_', '\_'), '*', '%') AS p2,
             |               ra.agent, hx.has_exact
             |             FROM ra JOIN hx ON ra.host = hx.host)
             |       WHERE (agent = 'graftbot') = (has_exact = 1)),
             |u AS (SELECT DISTINCT 'https://' ||
             |        (CASE doc_id % 5 WHEN 0 THEN 'a.example.com'
             |          WHEN 1 THEN 'b.example.org' WHEN 2 THEN 'cdn.example.net'
             |          WHEN 3 THEN 'example.com' ELSE 'static.example.io' END) ||
             |        '/p/' || (doc_id % 97)::VARCHAR AS url
             |      FROM documents),
             |up AS (SELECT url,
             |        lower(regexp_extract(url,
             |          '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1)) AS uhost,
             |        coalesce(nullif(regexp_extract(url,
             |          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), ''), '/') AS upath
             |       FROM u),
             |j AS (SELECT up.url, rr.rule_type, rr.pat_len,
             |        CASE WHEN rr.like_pat IS NOT NULL
             |               AND up.upath LIKE rr.like_pat ESCAPE '\'
             |             THEN 1 ELSE 0 END AS hit
             |      FROM up LEFT JOIN rr ON up.uhost = rr.host),
             |wnr AS (SELECT url, max(CASE WHEN hit = 1 THEN struct_pack(
             |          l := pat_len,
             |          a := CASE WHEN rule_type = 'allow' THEN 1 ELSE 0 END) END) AS win
             |        FROM j GROUP BY url)
             |SELECT url, (win IS NULL OR win.a = 1) AS allowed
             |FROM wnr ORDER BY url""".stripMargin)),

    // Sitemap ingestion (sitemaps.org): <url>/<sitemap> blocks → (loc,
    // lastmod). The fixture assembles four sitemap documents from the
    // documents table; the oracle recomputes loc/lastmod arithmetically.
    ("q_sitemap",
      (s: SparkSession, d: String) => {
        val blocks = tbl(s, d, "documents").filter(col("doc_id") < 100)
          .select((col("doc_id") % 4).as("g"), col("doc_id"),
            concat(lit("<url><loc> https://site.example/d/"),
              col("doc_id").cast("string"),
              lit(" </loc><lastmod>2026-0"),
              (col("doc_id") % 9 + 1).cast("string"),
              lit("-15</lastmod></url>")).as("block"))
        val sitemaps = blocks.groupBy("g")
          .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
            array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("block")))),
              x => x.getField("block")), "\n"),
            lit("</urlset>")).as("xml"))
        Urls.sitemapUrls(sitemaps, "xml").select("loc", "lastmod").orderBy("loc")
      },
      Some("""SELECT 'https://site.example/d/' || doc_id::VARCHAR AS loc,
             |  '2026-0' || (doc_id % 9 + 1)::VARCHAR || '-15' AS lastmod
             |FROM documents WHERE doc_id < 100 ORDER BY loc""".stripMargin)),

    // Engine-exact mergeable HLL: the registers AND the estimate replay
    // bit-identically in DuckDB (polynomial hash, integer register sum over
    // a common 2^33 denominator, one double division; the linear-counting
    // ln rides the 1e-6 grid). Complements q_approx_distinct's
    // tolerance-bound check of Spark's built-in HLL.
    ("q_hll_distinct",
      (s: SparkSession, d: String) => {
        val sk = Sketches.hllSketch(tbl(s, d, "lineitem"), "l_partkey", p = 10)
        Sketches.hllEstimate(sk, p = 10)
      },
      Some("""WITH h AS (SELECT ('0x' || substring(md5(l_partkey::VARCHAR), 1, 15))::BIGINT
             |    AS h FROM lineitem),
             |b AS (SELECT h % 1024 AS bucket, (h // 1024) % 4294967296 AS w FROM h),
             |s1 AS (SELECT bucket, w | (w >> 1) AS s FROM b),
             |s2 AS (SELECT bucket, s | (s >> 2) AS s FROM s1),
             |s3 AS (SELECT bucket, s | (s >> 4) AS s FROM s2),
             |s4 AS (SELECT bucket, s | (s >> 8) AS s FROM s3),
             |s5 AS (SELECT bucket, s | (s >> 16) AS s FROM s4),
             |r AS (SELECT bucket, 33 - bit_count(s) AS rho FROM s5),
             |reg AS (SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket),
             |agg AS (SELECT sum(1::BIGINT << (33 - rho))::BIGINT AS s,
             |          count(*) AS nz FROM reg),
             |est AS (SELECT nz, 1024 - nz AS v,
             |          (0.7213 / (1 + 1.079 / 1024)) * 1024 * 1024 * 8589934592
             |            / (s + (1024 - nz) * 8589934592) AS raw
             |        FROM agg)
             |SELECT floor((CASE WHEN v > 0 AND raw <= 2.5 * 1024
             |    THEN 1024 * ln(1024 / v::DOUBLE) ELSE raw END) * 1e6 + 0.5) / 1e6
             |  AS estimate, nz AS registers_used
             |FROM est""".stripMargin)),

    // Deterministic weighted sampling without replacement (A-ES): top-k by
    // u^(1/w) on the shared md5-fraction u — the oracle recomputes the
    // identical priorities and takes the same top-k.
    ("q_sample_weighted",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 10 + 1).cast("double").as("w"))
        TextAnalysis.sampleWeighted(docs, "doc_id", "w", k = 100)
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 10 + 1)::DOUBLE AS w FROM documents),
             |p AS (SELECT doc_id, w,
             |        floor(pow((('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT
             |            + 1.0) / 268435456.0, 1.0 / w) * 1e6 + 0.5) / 1e6
             |          AS priority
             |      FROM d)
             |SELECT doc_id, w, priority FROM p
             |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin)),

    // Earliest-anchor funnel over the events stream: view → click →
    // purchase within 3 days of the first view. One row of per-step reach
    // counts; the oracle chains the same per-step min-aggregates.
    ("q_funnel",
      (s: SparkSession, d: String) =>
        graft.ops.Sessionize.funnel(
          events(s, d).select(col("user_id"), col("event_type"),
            col("ts_us")),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"), windowUs = 259200000000L),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |s1 AS (SELECT user_id AS u, min(tsu) AS t1 FROM e
             |       WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT s1.u, s1.t1,
             |         min(CASE WHEN c.tsu > s1.t1
             |               AND c.tsu <= s1.t1 + 259200000000 THEN c.tsu END) AS t2
             |       FROM s1 LEFT JOIN (SELECT user_id, tsu FROM e
             |         WHERE event_type = 'click') c ON c.user_id = s1.u
             |       GROUP BY 1, 2),
             |s3 AS (SELECT s2.u, s2.t1, s2.t2,
             |         min(CASE WHEN p.tsu > s2.t2
             |               AND p.tsu <= s2.t1 + 259200000000 THEN p.tsu END) AS t3
             |       FROM s2 LEFT JOIN (SELECT user_id, tsu FROM e
             |         WHERE event_type = 'purchase') p ON p.user_id = s2.u
             |       GROUP BY 1, 2, 3)
             |SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3
             |FROM s3""".stripMargin)),

    // Daily cohort retention over the 30-day events stream: (cohort day,
    // days-since-cohort, distinct active users).
    ("q_retention",
      (s: SparkSession, d: String) =>
        graft.ops.Sessionize.retention(
          events(s, d).select(col("user_id"), col("ts_us")),
          "user_id", "ts_us", periodUs = 86400000000L)
          .orderBy("cohort", "offset"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS per
             |           FROM events),
             |f AS (SELECT user_id, min(per) AS cohort FROM e GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, per FROM e)
             |SELECT f.cohort, a.per - f.cohort AS offset,
             |  count(DISTINCT a.user_id) AS n_users
             |FROM a JOIN f ON a.user_id = f.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Unpivot (melt): wide measure columns → (key, metric, value) rows —
    // map-only in Spark (Expand), a 4-way UNION ALL for the oracle.
    ("q_unpivot",
      (s: SparkSession, d: String) => {
        val wide = tbl(s, d, "lineitem").filter(col("l_orderkey") < 100)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax"))
        wide.unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "metric", "value")
          .orderBy("l_orderkey", "l_linenumber", "metric")
      },
      Some("""SELECT l_orderkey, l_linenumber, metric, value FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             |    l_quantity AS value FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             |    l_extendedprice FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
             |    l_discount FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
             |    l_tax FROM lineitem WHERE l_orderkey < 100)
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // Time-series gap-fill: per-user purchase series resampled to a daily
    // grid, gaps forward-filled — values are raw parquet doubles picked by
    // a deterministic (ts, value) struct-max, so the fill replays exactly.
    ("q_gapfill",
      (s: SparkSession, d: String) =>
        graft.ops.TimeSeries.gapFill(
          events(s, d).filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts_us"), col("value")),
          "user_id", "ts_us", "value", periodUs = 86400000000L)
          .orderBy("key", "per"),
      Some("""WITH base AS (SELECT user_id AS key, epoch_us(ts) AS tsu, value AS v
             |              FROM events WHERE event_type = 'purchase'),
             |b2 AS (SELECT key, tsu // 86400000000 AS per, tsu, v FROM base),
             |obs AS (SELECT key, per,
             |          max(struct_pack(t := tsu, v := v)).v AS obs_v
             |        FROM b2 GROUP BY 1, 2),
             |rng AS (SELECT key, min(per) AS p0, max(per) AS p1 FROM b2 GROUP BY 1),
             |grid AS (SELECT key, unnest(range(p0, p1 + 1)) AS per FROM rng),
             |j AS (SELECT g.key, g.per, o.obs_v
             |      FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.per = o.per)
             |SELECT key, per,
             |  last_value(obs_v IGNORE NULLS) OVER (PARTITION BY key ORDER BY per
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
             |  obs_v IS NOT NULL AS observed
             |FROM j ORDER BY key, per""".stripMargin)),

    // Perceptual image dedup: decode the BMP fixtures, 64-bit dHash each,
    // group exact perceptual dups. The oracle recomputes every hash from
    // the fixture's pixel formula — 64 generated CASE terms, pure integer.
    ("q_image_dedup",
      (s: SparkSession, d: String) => {
        val media = Multimodal.demoBmpTable(
          tbl(s, d, "documents").filter(col("doc_id") < 300), "doc_id", cycle = 50)
        Multimodal.imageDHash(media)
          .groupBy("dhash")
          .agg(count(lit(1)).as("n"),
            array_join(transform(array_sort(collect_list(col("media_id"))),
              _.cast("string")), "|").as("members"))
          .filter(col("n") >= 2)
          .orderBy("dhash")
      },
      Some(s"""WITH d AS (SELECT doc_id, (doc_id % 50) AS k FROM documents
              |           WHERE doc_id < 300),
              |p AS (SELECT doc_id, k, 16 + k % 7 AS w, 16 + k % 5 AS h FROM d),
              |hh AS (SELECT doc_id, ($dhashTerms) AS dhash FROM p)
              |SELECT dhash, count(*) AS n,
              |  array_to_string(list(doc_id ORDER BY doc_id), '|') AS members
              |FROM hh GROUP BY dhash HAVING count(*) >= 2
              |ORDER BY dhash""".stripMargin)),

    // Deterministic train/val/test split: cumulative md5-fraction
    // thresholds, one label per doc, leakage-proof across reruns. The
    // oracle replays the same thresholds on the same md5 fraction.
    ("q_split_corpus",
      (s: SparkSession, d: String) =>
        Curate.splitCorpus(tbl(s, d, "documents"), "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
          .orderBy("split"),
      Some {
        // the SAME cumulative doubles the Spark side compares against
        // (0.8 + 0.1 is 0.9000000000000001 in IEEE — never hand-write it)
        val c = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
        s"""WITH f AS (SELECT doc_id,
           |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT
           |      / 268435456.0 AS frac
           |  FROM documents),
           |l AS (SELECT doc_id,
           |    CASE WHEN frac < ${c(0)} THEN 'train'
           |         WHEN frac < ${c(1)} THEN 'val' ELSE 'test' END AS split
           |  FROM f)
           |SELECT split, count(*) AS n_docs,
           |  min(doc_id) AS first_id, max(doc_id) AS last_id
           |FROM l GROUP BY split ORDER BY split""".stripMargin
      }),

    // Sentence segmentation: protected abbreviations, RE2-compatible split
    // (no lookbehind — the identical protect → extract → restore chain runs
    // in both engines), post-filter sentence numbering.
    ("q_sentences",
      (s: SparkSession, d: String) =>
        TextAnalysis.sentences(
          tbl(s, d, "documents").filter(col("doc_id") < 200)
            .withColumn("text", concat(col("text"),
              lit(". Dr. Smith agrees! Was it enough? e.g. a fragment"))),
          "doc_id", "text")
          .orderBy("id", "sent_no"),
      Some {
        val prot = TextAnalysis.sentenceAbbrevs.foldLeft(
          "text || '. Dr. Smith agrees! Was it enough? e.g. a fragment'") {
          (acc, a) =>
            val repl = a.stripSuffix(".").split("\\.")
              .map(piece => s"'$piece' || chr(1)").mkString(" || ")
            s"replace($acc, '$a', $repl)"
        }
        s"""WITH pr AS (SELECT doc_id, $prot AS t
           |            FROM documents WHERE doc_id < 200),
           |x AS (SELECT doc_id, regexp_extract_all(t,
           |        '[^.!?]+(?:[.!?]+|$$)') AS ss FROM pr),
           |u AS (SELECT doc_id, unnest(range(0, len(ss))) AS i, ss FROM x),
           |r AS (SELECT doc_id AS id, i,
           |        trim(replace(ss[i + 1], chr(1), '.')) AS sentence FROM u)
           |SELECT id,
           |  (row_number() OVER (PARTITION BY id ORDER BY i) - 1)::INT AS sent_no,
           |  sentence
           |FROM r WHERE sentence <> ''
           |ORDER BY id, sent_no""".stripMargin
      }),

    // Image NEAR-dup: base images (doc_id < 50) + one-pixel-tweaked
    // variants (50–99, same repetition key) — pigeonhole-banded hamming
    // join over the 64-bit dHashes, every pair ≤ 3 bits apart. The oracle
    // rebuilds both hash variants from the pixel formulas and replays the
    // band join + popcount verify.
    ("q_image_neardup",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents")
        val plain = Multimodal.demoBmpTable(
          docs.filter(col("doc_id") < 50), "doc_id", cycle = 50)
        val tweaked = Multimodal.demoBmpTable(
          docs.filter(col("doc_id") >= 50 && col("doc_id") < 100), "doc_id",
          cycle = 50, tweaked = true)
        Multimodal.imageNearDuplicates(
          Multimodal.imageDHash(plain.unionByName(tweaked)), maxDistance = 3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH d AS (SELECT doc_id, doc_id % 50 AS k,
              |             CASE WHEN doc_id >= 50 THEN 1 ELSE 0 END AS t
              |           FROM documents WHERE doc_id < 100),
              |p AS (SELECT doc_id, k, t, 16 + k % 7 AS w, 16 + k % 5 AS h FROM d),
              |hh AS (SELECT doc_id, ($dhashTweakTerms) AS dhash FROM p),
              |segs AS (SELECT doc_id, dhash, s,
              |           (dhash >> (48 - s * 16)) & 65535 AS segval
              |         FROM hh, (VALUES (0), (1), (2), (3)) v(s)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              |           a.dhash AS ha, b.dhash AS hb
              |         FROM segs a JOIN segs b
              |           ON a.s = b.s AND a.segval = b.segval
              |         WHERE a.doc_id < b.doc_id)
              |SELECT id_a, id_b, bit_count(xor(ha, hb))::INT AS distance
              |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
              |ORDER BY id_a, id_b""".stripMargin)),

    // Survivor-oriented image dedup (the 100 TB shape on the WIDE
    // 64-bit-fingerprint dispatch path): one row per DROPPED image with
    // its cluster survivor (min media_id over the transitive closure of
    // the q_image_neardup pair relation). The oracle replays the pair
    // relation and the recursive min-label closure — covering the
    // doc-level segment-join branch of hammingDedupIds under the
    // cross-engine hash, complementing q_simhash_dedup_ids' value-graph
    // branch.
    ("q_image_dedup_ids",
      (s: SparkSession, d: String) => {
        val docs = tbl(s, d, "documents")
        val plain = Multimodal.demoBmpTable(
          docs.filter(col("doc_id") < 50), "doc_id", cycle = 50)
        val tweaked = Multimodal.demoBmpTable(
          docs.filter(col("doc_id") >= 50 && col("doc_id") < 100), "doc_id",
          cycle = 50, tweaked = true)
        Multimodal.imageDedupIds(
          Multimodal.imageDHash(plain.unionByName(tweaked)), maxDistance = 3)
          .orderBy("survivor", "dropped_id")
      },
      Some(s"""WITH RECURSIVE d AS (SELECT doc_id, doc_id % 50 AS k,
              |             CASE WHEN doc_id >= 50 THEN 1 ELSE 0 END AS t
              |           FROM documents WHERE doc_id < 100),
              |p AS (SELECT doc_id, k, t, 16 + k % 7 AS w, 16 + k % 5 AS h FROM d),
              |hh AS (SELECT doc_id, ($dhashTweakTerms) AS dhash FROM p),
              |segs AS (SELECT doc_id, dhash, s,
              |           (dhash >> (48 - s * 16)) & 65535 AS segval
              |         FROM hh, (VALUES (0), (1), (2), (3)) v(s)),
              |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM segs a JOIN segs b
              |           ON a.s = b.s AND a.segval = b.segval
              |         WHERE a.doc_id < b.doc_id
              |           AND bit_count(xor(a.dhash, b.dhash)) <= 3),
              |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT s, s FROM edges
              |  UNION
              |  SELECT e.d, r.lbl FROM reach r JOIN edges e
              |    ON e.s = r.id WHERE r.lbl < e.d),
              |comp AS (SELECT id, min(lbl) AS survivor FROM reach GROUP BY id)
              |SELECT survivor, id AS dropped_id FROM comp
              |WHERE id <> survivor ORDER BY survivor, dropped_id""".stripMargin)),

    // REAL image resize, end-to-end under the cross-engine hash: decode
    // (exact BMP parser) → nearest-neighbor integer resample to 8×8 →
    // re-encode 24-bit BMP → re-decode to the luma grid. The oracle
    // recomputes every resampled pixel from the fixture formula
    // v(x,y) = (k·31 + x·7 + y·13) mod 256 at source coords
    // (x·w div 8, y·h div 8) — gray fixtures make luma exact.
    ("q_image_resize",
      (s: SparkSession, d: String) => {
        val media = Multimodal.demoBmpTable(
          tbl(s, d, "documents").filter(col("doc_id") < 100), "doc_id",
          cycle = 50)
        Multimodal.imageGrayPixels(Multimodal.resizeImages(media, 8, 8))
          .orderBy("media_id")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents
             |           WHERE doc_id < 100),
             |p AS (SELECT doc_id, k, 16 + k % 7 AS w, 16 + k % 5 AS h FROM d)
             |SELECT doc_id AS media_id, 8::INT AS width, 8::INT AS height,
             |  array_to_string(list_transform(range(0, 64), i ->
             |    (k*31 + ((i % 8) * w // 8) * 7 + ((i // 8) * h // 8) * 13)
             |      % 256), '|') AS pixels
             |FROM p ORDER BY media_id""".stripMargin)),

    // REAL audio resample (8000 → 2000 Hz), end-to-end under the
    // cross-engine hash: decode the 8-bit PCM WAV → nearest-neighbor
    // resample (output j reads source j·8000 div 2000 = 4j; output length
    // n div 4) → re-encode → re-decode to the sample list. WAV samples are
    // the text's utf-8 bytes and the corpus is pure ASCII, so DuckDB's
    // per-character ascii() replays every resampled byte.
    ("q_audio_resample",
      (s: SparkSession, d: String) => {
        val media = Multimodal.demoWavTable(
          tbl(s, d, "documents")
            .filter(col("doc_id") < 100 && length(col("text")) > 0),
          "doc_id", "text")
        Multimodal.audioPcmSamples(Multimodal.resampleAudio(media, 2000))
          .orderBy("media_id")
      },
      Some("""WITH s AS (
             |  SELECT doc_id, list_transform(string_split(text, ''),
             |    ch -> ascii(ch)) AS bs
             |  FROM documents WHERE doc_id < 100 AND len(text) > 0)
             |SELECT doc_id AS media_id, 2000::INT AS sample_rate,
             |  coalesce(array_to_string(list_transform(
             |    range(0, len(bs) // 4), j -> bs[j * 4 + 1]), '|'), '') AS samples
             |FROM s ORDER BY media_id""".stripMargin)),

    // Grouped statistical mode: each user's most frequent event type,
    // deterministic smallest-value tie-break.
    ("q_mode",
      (s: SparkSession, d: String) =>
        graft.ops.Sessionize.modeByKey(
          tbl(s, d, "events"), "user_id", "event_type")
          .orderBy("key"),
      Some("""WITH c AS (SELECT user_id AS key, event_type AS value,
             |             count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |r AS (SELECT key, value, n, row_number() OVER (
             |        PARTITION BY key ORDER BY n DESC, value) AS rn FROM c)
             |SELECT key, value, n FROM r WHERE rn = 1
             |ORDER BY key""".stripMargin)),

    // User-journey transition matrix: adjacent event-type pairs per user,
    // fixed-point transition probabilities — 25 rows, integer end-to-end.
    ("q_transitions",
      (s: SparkSession, d: String) =>
        graft.ops.Sessionize.transitions(
          events(s, d).select(col("user_id"), col("event_type"),
            col("ts_us"), col("event_id")),
          "user_id", "event_type", "ts_us", "event_id")
          .orderBy("from_type", "to_type"),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
             |           FROM events),
             |p AS (SELECT event_type AS from_type,
             |        lead(event_type) OVER (PARTITION BY user_id
             |          ORDER BY tsu, event_id) AS to_type
             |      FROM e),
             |c AS (SELECT from_type, to_type, count(*) AS n FROM p
             |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  (n * 1000000 // sum(n) OVER (PARTITION BY from_type))::BIGINT
             |    AS p_ppm
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Pairwise Pearson correlations in one aggregation pass, tidy output.
    ("q_corr",
      (s: SparkSession, d: String) =>
        graft.ops.Profile.corrMatrix(tbl(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount")).orderBy("col_a", "col_b"),
      Some("""SELECT col_a, col_b, floor(c * 1e6 + 0.5) / 1e6 AS corr FROM (
             |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             |    corr(l_quantity, l_extendedprice) AS c FROM lineitem
             |  UNION ALL SELECT 'l_quantity', 'l_discount',
             |    corr(l_quantity, l_discount) FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
             |    corr(l_extendedprice, l_discount) FROM lineitem)
             |ORDER BY col_a, col_b""".stripMargin))
  )

  val queries: Map[String, Q] = battery.map(b => (b._1, b._2)).toMap
  val oracles: Map[String, String] = battery.collect { case (n, _, Some(sql)) => (n, sql) }.toMap
}
