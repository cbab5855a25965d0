package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Everything it writes is a pure function of
  * `(workload, seed)`: the same pair gives byte-identical files on any
  * machine, whatever the core count. Inputs go under `dir/inputs`, and the
  * planted truth the output checks read goes to `dir/truth.json`.
  *
  * Text is built from small per-language vocabularies shaped like the
  * engine's `documents` fixture (lower-case word tokens, English stopwords in
  * English text), so the quality gate sees realistic token statistics:
  * content documents score well above the 0.65 cut and boilerplate far below.
  */
object Gen {
  val mapper = new ObjectMapper()

  final case class CurateShape(docs: Int, dupShare: Double, nearDupShare: Double,
                               boilerplateShare: Double, chainShare: Double,
                               tokenBudget: Long)

  /** Input sizes per workload (documented in NOTES.md). */
  val csvRows = 250
  val jsonlRecords = 1200
  val jsonArrayRecords = 300
  val parquetRows = 150000
  val distinct = CurateShape(docs = 5000, dupShare = 0.02, nearDupShare = 0.03,
    boilerplateShare = 0.02, chainShare = 0.0, tokenBudget = 90000L)
  val crawl = CurateShape(docs = 6000, dupShare = 0.45, nearDupShare = 0.0,
    boilerplateShare = 0.08, chainShare = 0.04, tokenBudget = 36000L)

  val minQuality = 0.65
  val dupThreshold = 0.9
  val docFiles = 8

  def generate(workload: String, seed: Long, dir: Path): Unit = {
    val inputs = dir.resolve("inputs")
    Files.createDirectories(inputs)
    // mix the workload into the stream so two workloads never share text
    val rng = new SplittableRandom(seed * 1000003L + workload.hashCode)
    val truth = workload match {
      case "ingest_evolve" => genIngest(rng, inputs)
      case "curate_distinct" => genCurate(rng, inputs, distinct)
      case "curate_crawl" => genCurate(rng, inputs, crawl)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    truth.put("workload", workload).put("seed", seed)
    Files.write(dir.resolve("truth.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(truth))
  }

  def readTruth(dir: Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(dir.resolve("truth.json").toFile)

  // ------------------------------------------------------------- vocabulary

  val enStop = Array("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val vocab: Map[String, Array[String]] = Map(
    "en" -> ("pipeline record schema version quality stream window partition " +
      "cluster storage metric process engine column value customer order " +
      "shipment invoice payment account region market product supplier " +
      "warehouse transaction report summary analysis network service request " +
      "response latency capacity balance history journal ledger budget " +
      "forecast channel segment inventory delivery contract provider platform " +
      "release feature module library compiler kernel memory buffer thread").split(' '),
    "de" -> ("daten leitung eintrag fassung qualität strom fenster teilung " +
      "speicher messung verfahren spalte kunde bestellung lieferung rechnung " +
      "zahlung konto gebiet markt produkt lieferant lager bericht übersicht " +
      "netzwerk dienst anfrage antwort kapazität verlauf tagebuch haushalt " +
      "prognose kanal bestand vertrag anbieter plattform freigabe merkmal " +
      "bibliothek übersetzer speicherung puffer faden").split(' '),
    "fr" -> ("données chaîne enregistrement schéma version qualité flux fenêtre " +
      "partition grappe stockage mesure processus moteur colonne valeur client " +
      "commande expédition facture paiement compte région marché produit " +
      "fournisseur entrepôt rapport résumé analyse réseau service requête " +
      "réponse capacité historique journal budget prévision canal inventaire " +
      "livraison contrat plateforme fonction module bibliothèque mémoire").split(' '),
    "es" -> ("datos tubería registro esquema versión calidad flujo ventana " +
      "partición grupo almacén medida proceso motor columna valor cliente " +
      "pedido envío factura pago cuenta región mercado producto proveedor " +
      "depósito informe resumen análisis red servicio solicitud respuesta " +
      "capacidad historial diario presupuesto previsión canal inventario " +
      "entrega contrato plataforma función módulo biblioteca memoria").split(' '),
    "it" -> ("dati condotta registro schema versione qualità flusso finestra " +
      "partizione gruppo archivio misura processo motore colonna valore " +
      "cliente ordine spedizione fattura pagamento conto regione mercato " +
      "prodotto fornitore magazzino rapporto riepilogo analisi rete servizio " +
      "richiesta risposta capacità storico giornale bilancio previsione canale " +
      "inventario consegna contratto piattaforma funzione modulo libreria").split(' '))
  /** Skewed language shares, cumulative. */
  val langs = Array("en", "de", "fr", "es", "it")
  val langCum = Array(0.45, 0.65, 0.80, 0.92, 1.0)

  private def pick(rng: SplittableRandom, xs: String*): String = xs(rng.nextInt(xs.length))

  private def word(rng: SplittableRandom): String =
    vocab("en")(rng.nextInt(vocab("en").length))

  def pickLang(rng: SplittableRandom): String = {
    val u = rng.nextDouble()
    langs(langCum.indexWhere(u < _))
  }

  /** `n` whitespace tokens of `lang` text: English carries ~25% stopwords;
    * every ~15 tokens ends a sentence with a period. */
  def tokens(rng: SplittableRandom, lang: String, n: Int): Array[String] = {
    val v = vocab(lang)
    Array.tabulate(n) { i =>
      val w =
        if (lang == "en" && rng.nextDouble() < 0.25) enStop(rng.nextInt(enStop.length))
        else v(rng.nextInt(v.length))
      if (i % 15 == 14 || i == n - 1) w + "." else w
    }
  }

  val boilerplate = Array(
    "home | about | contact | login", "cookie settings | accept all",
    "© all rights reserved", "skip >> content", "menu > search > cart",
    "subscribe >> newsletter >> rss", "404 - page not found", "share: fb | tw | in",
    "terms | privacy | imprint", "next >> prev <<", "log in / sign up",
    "back to top ^", "loading...", "read more >>", "copyright 2024 | sitemap",
    "print | email | pdf", "tags: a, b, c", "posted by admin @ 10:00",
    "1 2 3 4 5 next", "accept cookies? yes / no")

  // ------------------------------------------------------------ ingest

  /** One upload batch: file name, reader, record count and the field-name
    * set the engine's version state machine will see for it. */
  final case class Batch(file: String, format: String, rows: Int,
                         fields: Seq[String], flagged: Int,
                         emails: Int, phones: Int, dates: Int)

  private val baseCsv = Seq("rec_key", "name", "category", "amount", "content")
  private val lineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate", "l_comment")
  private val raggedKeys = Seq("event", "user", "ts", "k", "q", "z", "src", "geo")

  /** The batch order: the field set changes at every batch but the second,
    * so the corpus goes through five schema versions. */
  private def ingestPlan: Seq[(String, Seq[String])] =
    Seq.fill(2)("csv" -> baseCsv) ++
      Seq("csv" -> (baseCsv.filterNot(_ == "category") :+ "region")) ++
      Seq("jsonl" -> raggedKeys) ++
      Seq("json" -> (baseCsv :+ "region" :+ "note")) ++
      Seq("parquet" -> lineitemCols)

  private final class Patterns { var emails, phones, dates = 0 }

  /** Content text with planted emails, phones and dates: formats the
    * engine's extraction regexes match exactly once each, separated by words
    * and small numbers that cannot join into a longer match. */
  private def content(rng: SplittableRandom, p: Patterns): String = {
    val parts = mutable.ArrayBuffer[String]()
    parts ++= tokens(rng, "en", 6 + rng.nextInt(10)).map(_.stripSuffix("."))
    if (rng.nextDouble() < 0.3) {
      parts += s"${word(rng)}.${word(rng)}@example.org"
      p.emails += 1
    }
    if (rng.nextDouble() < 0.25) {
      parts += "call"
      parts += f"${200 + rng.nextInt(700)}-${100 + rng.nextInt(900)}-${rng.nextInt(10000)}%04d"
      p.phones += 1
    }
    if (rng.nextDouble() < 0.3) {
      parts += "due"
      parts += s"${1 + rng.nextInt(12)}/${1 + rng.nextInt(28)}/${2000 + rng.nextInt(25)}"
      p.dates += 1
    }
    if (rng.nextDouble() < 0.5) { parts += "qty"; parts += (1 + rng.nextInt(99)).toString }
    parts ++= tokens(rng, "en", 3 + rng.nextInt(6)).map(_.stripSuffix("."))
    parts.mkString(" ")
  }

  private def genIngest(rng: SplittableRandom, inputs: Path): ObjectNode = {
    val batches = ingestPlan.zipWithIndex.map { case ((format, cols), i) =>
      val file = f"b$i%02d.$format"
      val out = inputs.resolve(file)
      val p = new Patterns
      format match {
        case "csv" =>
          val n = csvRows
          val sb = new StringBuilder(cols.mkString(",")).append('\n')
          for (r <- 0 until n) {
            sb.append(cols.map(c => csvField(rng, c, i * 100000 + r, p)).mkString(",")).append('\n')
          }
          Files.write(out, sb.toString.getBytes(UTF_8))
          Batch(file, format, n, cols :+ "_extracted_patterns", 0, p.emails, p.phones, p.dates)
        case "json" =>
          val arr = mapper.createArrayNode()
          for (r <- 0 until jsonArrayRecords) {
            val o = arr.addObject()
            cols.foreach { c =>
              // `note` is sparse; record 0 carries it so the key set is fixed
              if (c != "note" || r == 0 || rng.nextDouble() < 0.4)
                o.put(c, csvField(rng, c, i * 100000 + r, p).stripPrefix("\"").stripSuffix("\""))
            }
          }
          Files.write(out, mapper.writeValueAsBytes(arr))
          Batch(file, format, jsonArrayRecords, cols :+ "_extracted_patterns", 0,
            p.emails, p.phones, p.dates)
        case "jsonl" =>
          val n = jsonlRecords
          var flagged = 0
          val sb = new StringBuilder
          for (r <- 0 until n) {
            val o = mapper.createObjectNode()
            var missing = false
            cols.foreach { k =>
              val always = k == "event" || k == "user"
              if (always || r == 0 || rng.nextDouble() < 0.8) raggedValue(rng, o, k, r)
              else missing = true
            }
            if (missing) flagged += 1
            sb.append(mapper.writeValueAsString(o)).append('\n')
          }
          Files.write(out, sb.toString.getBytes(UTF_8))
          Batch(file, format, n, cols, flagged, 0, 0, 0)
        case "parquet" =>
          writeLineitem(rng, out, parquetRows)
          Batch(file, format, parquetRows, cols :+ "_extracted_patterns", 0, 0, 0, 0)
      }
    }
    val truth = mapper.createObjectNode()
    val arr = truth.putArray("batches")
    batches.foreach { b =>
      val o = arr.addObject()
      o.put("file", b.file).put("format", b.format).put("rows", b.rows)
        .put("flagged", b.flagged).put("emails", b.emails)
        .put("phones", b.phones).put("dates", b.dates)
      stringArray(o.putArray("fields"), b.fields.sorted)
    }
    // The version state machine, replayed: a new version whenever the
    // field-name set differs from the previous batch's; a change row for
    // every bump after the first.
    val changes = truth.putArray("changes")
    var version = 0
    var prev: Set[String] = null
    val versionRows = mutable.LinkedHashMap[Int, Long]()
    batches.foreach { b =>
      val now = b.fields.toSet
      if (prev == null || now != prev) {
        version += 1
        if (prev != null) {
          val c = changes.addObject()
          c.put("old_version", version - 1).put("new_version", version)
          stringArray(c.putArray("added"), (now -- prev).toSeq.sorted)
          stringArray(c.putArray("removed"), (prev -- now).toSeq.sorted)
        }
        prev = now
      }
      versionRows(version) = versionRows.getOrElse(version, 0L) + b.rows
    }
    truth.put("versions", version)
    val vr = truth.putObject("rows_by_version")
    versionRows.foreach { case (v, n) => vr.put(v.toString, n) }
    truth.put("records", batches.map(_.rows.toLong).sum)
    truth.put("input_bytes",
      batches.map(b => Files.size(inputs.resolve(b.file))).sum)
    truth
  }

  private def csvField(rng: SplittableRandom, col: String, key: Int,
                       p: Patterns): String = col match {
    case "rec_key" => key.toString
    case "name" => s"${word(rng).capitalize} ${rng.nextInt(1000)}"
    case "category" => vocab("en")(rng.nextInt(12))
    case "amount" => s"${rng.nextInt(1000)}.${rng.nextInt(10)}${rng.nextInt(10)}"
    case "region" => pick(rng, "north", "south", "east", "west")
    case "note" => word(rng)
    case "content" => "\"" + content(rng, p) + "\""
  }

  private def raggedValue(rng: SplittableRandom, o: ObjectNode, k: String, r: Int): Unit =
    k match {
      case "event" => o.put(k, pick(rng, "click", "view", "buy", "café", "scroll"))
      case "user" => o.put(k, rng.nextInt(100000))
      case "ts" => o.put(k, f"2024-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)}T0${rng.nextInt(10)}:00:00Z")
      case "k" => o.put(k, rng.nextInt(1000))
      case "q" => o.put(k, word(rng))
      case "z" => o.put(k, rng.nextBoolean())
      case "src" => o.put(k, s"src${r % 7}")
      case "geo" => o.put(k, rng.nextInt(360) - 180.0 + rng.nextInt(100) / 100.0)
    }

  private def stringArray(a: ArrayNode, xs: Seq[String]): Unit = xs.foreach(a.add)

  /** A `lineitem`-shaped batch in ONE file with ONE row group. At this size
    * the file spans two read splits, so Spark plans two partitions of which
    * only one carries rows. */
  private def writeLineitem(rng: SplittableRandom, out: Path, rows: Int): Unit = {
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message lineitem {
        |  required int64 l_orderkey; required int64 l_partkey;
        |  required int64 l_suppkey; required int32 l_linenumber;
        |  required double l_quantity; required double l_extendedprice;
        |  required double l_discount; required double l_tax;
        |  required binary l_returnflag (STRING); required binary l_linestatus (STRING);
        |  required int64 l_shipdate (TIMESTAMP(MICROS,true));
        |  required binary l_comment (STRING);
        |}""".stripMargin)
    val day = 86400L * 1000000L
    writeParquet(out, schema) { g =>
      (0 until rows).foreach { r =>
        val q = (1 + rng.nextInt(50)).toDouble
        g(_.append("l_orderkey", (r / 4 * 7 + rng.nextInt(7)).toLong)
          .append("l_partkey", (1 + rng.nextInt(20000)).toLong)
          .append("l_suppkey", (1 + rng.nextInt(1000)).toLong)
          .append("l_linenumber", 1 + r % 7)
          .append("l_quantity", q)
          .append("l_extendedprice", q * (900 + rng.nextInt(100000)) / 100.0)
          .append("l_discount", rng.nextInt(11) / 100.0)
          .append("l_tax", rng.nextInt(9) / 100.0)
          .append("l_returnflag", pick(rng, "A", "N", "R"))
          .append("l_linestatus", pick(rng, "F", "O"))
          .append("l_shipdate", (8036L + rng.nextInt(2526)) * day)
          .append("l_comment", tokens(rng, "en", 3 + rng.nextInt(5)).mkString(" ")))
      }
    }
  }

  /** Writes groups to one parquet file with one row group, without Hadoop
    * checksum side files. */
  private def writeParquet(out: Path, schema: org.apache.parquet.schema.MessageType)
                          (fill: ((org.apache.parquet.example.data.Group =>
                            org.apache.parquet.example.data.Group) => Unit) => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val writer = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(out))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(1L << 30)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try fill { build => writer.write(build(new SimpleGroup(schema))) }
    finally writer.close()
  }

  // ------------------------------------------------------------- curate

  /** One document before ids are assigned: text, language, and the planted
    * exact-duplicate group and near-dup chain it belongs to (-1 for none). */
  private final case class Doc(text: String, lang: String, exactGroup: Int, chain: Int)

  private def genCurate(rng: SplittableRandom, inputs: Path, s: CurateShape): ObjectNode = {
    // the corpus's structure (chain lengths, copy counts) comes from a fixed
    // stream, so every seed plants the same amount of duplication; the seed
    // decides texts, languages, ids and row order
    val shape = new SplittableRandom(s.docs.toLong)
    val docs = mutable.ArrayBuffer[Doc]()
    var groups = 0
    var chains = 0
    def content(lang: String, lo: Int, hi: Int): Array[String] =
      tokens(rng, lang, lo + rng.nextInt(hi - lo + 1))
    // boilerplate: short, punctuation-heavy, repeated — fails the gate
    val nBoiler = (s.docs * s.boilerplateShare).toInt
    (0 until nBoiler).foreach { _ =>
      val i = math.min(boilerplate.length - 1, (rng.nextDouble() * rng.nextDouble() * boilerplate.length).toInt)
      docs += Doc(boilerplate(i), pickLang(rng), -1, -1)
    }
    // near-dup chains: each member edits one fresh middle token of the
    // previous one, so neighbours clear the 0.9 Jaccard bar and members two
    // edits apart do not — connected components must walk the chain
    val chainTarget = (s.docs * s.chainShare).toInt
    while (docs.count(_.chain >= 0) < chainTarget) {
      val lang = pickLang(rng)
      val toks = content(lang, 120, 150)
      val len = 3 + shape.nextInt(4)
      val v = vocab(lang)
      (0 until len).foreach { m =>
        if (m > 0) {
          val pos = 10 + (m - 1) * 12 + rng.nextInt(4)
          toks(pos) = v((v.indexOf(toks(pos).stripSuffix(".")) + 1 + rng.nextInt(v.length - 1)) % v.length)
        }
        docs += Doc(toks.mkString(" "), lang, -1, chains)
      }
      chains += 1
    }
    // single-token near-dups of a base document: the last token changes,
    // so the pair's 5-shingle Jaccard stays above 0.96
    val nearTarget = (s.docs * s.nearDupShare).toInt
    var near = 0
    while (near < nearTarget) {
      val lang = pickLang(rng)
      val toks = content(lang, 60, 140)
      docs += Doc(toks.mkString(" "), lang, -1, -1)
      toks(toks.length - 1) = toks.last + "s"
      docs += Doc(toks.mkString(" "), lang, -1, -1)
      near += 2
    }
    // verbatim copies with heavy-tailed copy counts, then distinct singles
    val dupTarget = (s.docs * s.dupShare).toInt
    var dups = 0
    while (dups < dupTarget) {
      val lang = pickLang(rng)
      val text = content(lang, 60, 140).mkString(" ")
      val copies = math.min(dupTarget - dups + 1,
        math.max(2, (1.0 / math.pow(1.0 - shape.nextDouble(), 0.8)).toInt + 1))
      (0 until copies).foreach(_ => docs += Doc(text, lang, groups, -1))
      groups += 1
      dups += copies - 1
    }
    while (docs.length < s.docs) {
      val lang = pickLang(rng)
      docs += Doc(content(lang, 60, 140).mkString(" "), lang, -1, -1)
    }
    // shuffle rows and assign ids from a permutation of a sparse id space,
    // so neither file order nor id order reveals a group's canonical member
    val order = shuffled(rng, docs.length)
    val ids = shuffled(rng, docs.length * 4).take(docs.length).map(_.toLong * 7 + 3)
    val rows = order.zipWithIndex.map { case (d, i) => (ids(i), docs(d)) }

    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message docs {
        |  required int64 doc_id; required binary lang (STRING);
        |  required binary source (STRING); required binary text (STRING);
        |}""".stripMargin)
    val docsDir = inputs.resolve("docs")
    Files.createDirectories(docsDir)
    rows.grouped((rows.length + docFiles - 1) / docFiles).zipWithIndex.foreach {
      case (part, f) =>
        writeParquet(docsDir.resolve(f"part-$f%02d.parquet"), schema) { g =>
          part.foreach { case (id, d) =>
            g(_.append("doc_id", id).append("lang", d.lang)
              .append("source", s"src${id % 5}").append("text", d.text))
          }
        }
    }

    val truth = mapper.createObjectNode()
    truth.put("docs", rows.length).put("token_budget", s.tokenBudget)
      .put("min_quality", minQuality).put("dup_threshold", dupThreshold)
      .put("boilerplate_docs", nBoiler).put("chains", chains)
    val eg = truth.putArray("exact_groups")
    rows.filter(_._2.exactGroup >= 0).groupBy(_._2.exactGroup).toSeq.sortBy(_._1)
      .foreach { case (_, members) =>
        val a = eg.addArray()
        members.map(_._1).sorted.foreach(id => a.add(id))
      }
    val egl = truth.putObject("exact_group_langs")
    rows.filter(_._2.exactGroup >= 0).groupBy(_._2.exactGroup).values
      .foreach(members => egl.put(members.map(_._1).min.toString, members.head._2.lang))
    val ch = truth.putArray("near_dup_chains")
    rows.filter(_._2.chain >= 0).groupBy(_._2.chain).toSeq.sortBy(_._1)
      .foreach { case (_, members) =>
        val a = ch.addArray(); members.map(_._1).foreach(id => a.add(id))
      }
    truth
  }

  private def shuffled(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}
