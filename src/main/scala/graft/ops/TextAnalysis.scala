package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (extension mandate, SURVEY
  * §2.3): language ID, quality scoring, token counting, fingerprinting.
  * Everything here is a map-only column expression (codegen'd, shuffle-free)
  * except the corpus-level term-frequency aggregation.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs, digit runs, and single other symbols
    * — a deterministic proxy for tokenizer cost accounting.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Tiny built-in stopword sets (top function words; enough signal for an
    * n-gram-heuristic language vote — not a linguistic claim).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich")
  )

  /** Fraction of tokens found in `words` (duplicates count — it is a ratio
    * over tokens, not a set overlap).
    */
  def stopwordRatio(text: Column, words: Seq[String]): Column = {
    val toks = tokens(text)
    val wordArr = array(words.map(lit): _*)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(wordArr, t))).cast("double") / size(toks))
  }

  /** Language-ID heuristic: argmax of per-language stopword ratios; "und"
    * (undetermined) when every ratio is zero. CJK short-circuit: any Han
    * character votes "zh" (stopword lists don't apply to unsegmented text).
    */
  def langId(text: Column): Column = {
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordRatio(text, words).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(best.getField("score") === 0.0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Quality features + a composite score in [0,1] — the usual cheap
    * pre-filter signals: document length, mean token length, punctuation
    * density, digit density, stopword density.
    *
    * All six integer counts come from ONE fused native scan
    * (`graft_text_stats` — [[graft.functions.TextStats]], exactness
    * contract in its scaladoc; requires GraftExtensions on the session)
    * instead of the four independent split/aggregate/regexp_count/filter
    * kernels this method shipped through r18: the quality gate is the
    * curate chain's map-only floor at ×1000 scale, and the counts are the
    * whole per-row cost. The ratio arithmetic below is IDENTICAL IEEE ops
    * to the unfused expressions (integer-valued double sums, same
    * cast-then-divide), so every oracle hash is unchanged; the codegen'd
    * struct is computed once per row (whole-stage subexpression
    * elimination folds the six field reads onto one call).
    */
  def withQualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val ts = call_function("graft_text_stats", col(textCol))
    val nTok = col("__qts.n_tokens")
    val nChars = col("__qts.n_chars").cast("double")
    df
      .withColumn("__qts", ts)
      .withColumn("q_n_tokens", nTok)
      .withColumn("q_mean_token_len",
        when(nTok === 0, 0.0).otherwise(
          col("__qts.sum_tok_len").cast("double") / nTok))
      .withColumn("q_punct_ratio",
        when(nChars === 0, 0.0)
          .otherwise(col("__qts.n_punct").cast("double") / nChars))
      .withColumn("q_digit_ratio",
        when(nChars === 0, 0.0)
          .otherwise(col("__qts.n_digit").cast("double") / nChars))
      .withColumn("q_stopword_ratio",
        when(nTok === 0, 0.0)
          .otherwise(col("__qts.n_stop").cast("double") / nTok))
      .withColumn("quality_score",
        Nums.round6(greatest(lit(0.0), least(lit(1.0),
          lit(0.30) * least(col("q_n_tokens").cast("double") / 64.0, lit(1.0))
            + lit(0.25) * least(col("q_mean_token_len") / 6.0, lit(1.0))
            + lit(0.25) * (lit(1.0) - least(col("q_punct_ratio") * 4.0, lit(1.0)))
            + lit(0.20) * least(col("q_stopword_ratio") * 3.0, lit(1.0))))))
      .drop("__qts")
  }

  /** Corpus term frequencies: explode + hash aggregate (map-side combine
    * collapses per-partition counts before the shuffle).
    */
  def termFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))

  /** Per-document term weights: tf × idf over the corpus, top-k terms per
    * document. Plan: one (doc, token) hash aggregate for term frequencies,
    * one token aggregate for document frequencies (vocabulary-sized —
    * broadcast back), then a per-doc top-k window over doc-local rows.
    *
    * @param linearIcf true → weight = tf * (N / df): a single IEEE division,
    *        bit-identical across engines (oracle-checkable). false → classic
    *        tf * ln(N / df), which ranks slightly differently and whose
    *        `ln` can differ by an ulp between libm implementations.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, topK: Int,
            linearIcf: Boolean = false): DataFrame = {
    val n = df.count() // driver-side scalar: total docs, broadcast as literal
    val terms = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val docFreq = terms.groupBy("token")
      .agg(count(lit(1)).as("df"))
    val weight =
      if (linearIcf) col("tf") * (lit(n.toDouble) / col("df"))
      else col("tf") * log(lit(n.toDouble) / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("weight"), asc("token"))
    terms.join(broadcast(docFreq), "token")
      .withColumn("weight", weight)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("id"), col("rank"), col("token"),
        col("tf"), col("df"), Nums.round6(col("weight")).as("weight"))
  }

  /** BM25 relevance of every document against a fixed bag of query terms —
    * the retrieval-scoring sibling of [[tfIdf]] (mining a 100 TB corpus for
    * training data relevant to a topic). Same distributed shape: one
    * (doc, token) hash aggregate, one vocabulary-sized doc-frequency
    * aggregate broadcast back, map-only scoring, exact two-stage top-k —
    * nothing is driver-bound and no stage holds more than a vocabulary.
    *
    * Engine-exactness (the DuckDB oracle replays scores bit-identically):
    *   - `linearIdf = true` (default) uses idf = (N − df + 0.5)/(df + 0.5) —
    *     single IEEE ops, no `ln`, same ulp everywhere (the classic
    *     log-idf is available for production shape, like tfIdf's `ln`);
    *   - the per-document sum over matched terms folds LEFT-TO-RIGHT over
    *     tokens in sorted order (array_sort + aggregate here, an ordered
    *     list_reduce in SQL) — never an unordered SUM whose FP association
    *     differs by engine.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], topK: Int,
           k1: Double = 1.2, b: Double = 0.75,
           linearIdf: Boolean = true): DataFrame = {
    // ONE light map-side aggregate job computes the scalars the scoring
    // plan needs as literals — doc count (idf's N), non-null-text doc count
    // (avgdl's denominator) and total tokens — instead of the previous
    // df.count() + explode-and-aggregate pair (three driver actions, two of
    // them full corpus scans). For non-null text, tokens() never yields an
    // empty array (split of "" is [""]), so count(textCol) equals the old
    // countDistinct(id) over exploded rows; NULL text contributes to N but
    // not to avgdl, exactly like the exploded formulation. Exact integer
    // sums, engine-exact division.
    val stats = df.agg(count(lit(1)).cast("double").as("n"),
      count(col(textCol)).cast("double").as("ndl"),
      sum(size(tokens(col(textCol))).cast("long")).cast("double").as("toktot"))
      .collect()(0)
    val n = stats.getDouble(0)
    val avgdl = stats.getDouble(2) / stats.getDouble(1)
    val docs = df.select(col(idCol).as("id"),
      tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(col("toks")).as("token"),
        size(col("toks")).cast("double").as("dl"))
    val terms = docs.groupBy("id", "token", "dl").agg(count(lit(1)).as("tf"))
    val docFreq = terms.filter(col("token").isin(queryTerms: _*))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val idf =
      if (linearIdf) (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      else log((lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val wTerm = (col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))) * idf
    val matched = terms.filter(col("token").isin(queryTerms: _*))
      .join(broadcast(docFreq), "token")
      .select(col("id"), col("token"), wTerm.as("w"))
    // deterministic per-doc sum: fold sorted (token, w) pairs left-to-right
    val scored = matched.groupBy("id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("token"), col("w")))),
          s => s.getField("w")),
        lit(0.0), (acc, v) => acc + v).as("score"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("id"))
    // corpus-wide top-k: per-partition local top-k first (exact two-stage,
    // same shape as Similarity.bruteForceTopK), then the tiny global rank
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(spark_partition_id()).orderBy(desc("score"), asc("id"))
    scored.withColumn("lrank", row_number().over(wLocal))
      .filter(col("lrank") <= topK)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("id"), Nums.round6(col("score")).as("score"))
  }

  /** Deterministic stratified sample: up to `perStratum` rows per stratum,
    * chosen by md5(id) order — reproducible across runs and engines (the
    * curation primitive for balanced training mixes: "N documents per
    * language"). One shuffle on the stratum key; within-stratum rank is a
    * streaming window, never a full sort of the corpus.
    */
  def sampleStratified(df: DataFrame, idCol: String, stratumCol: String,
                       perStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }

  /** Abbreviations whose trailing dot must NOT end a sentence — protected
    * by swapping the dot for a control char before the split and restoring
    * it after (RE2 has no lookbehind, so the DuckDB oracle replays the
    * identical protect → extract → restore chain).
    */
  private[graft] val sentenceAbbrevs = Seq(
    "Dr.", "Mr.", "Mrs.", "Ms.", "Prof.", "St.", "e.g.", "i.e.", "etc.",
    "vs.", "No.", "U.S.")

  /** Rule-based sentence segmentation — the boundary every RAG chunker and
    * sentence-level dedup wants: sentences end at a run of `.!?`; common
    * abbreviations are protected; a trailing fragment with no terminal
    * punctuation still counts. Pure codegen'd expressions (replace chains +
    * one regexp_extract_all + transform), map-only; identical construction
    * in the oracle.
    */
  def sentenceArray(text: Column): Column = {
    val protect = sentenceAbbrevs.foldLeft(text) { (c, a) =>
      // EVERY dot of the abbreviation is protected ("e.g." has an inner one)
      replace(c, lit(a), lit(a.replace(".", "\u0001")))
    }
    val restore = (x: Column) => trim(replace(x, lit("\u0001"), lit(".")))
    filter(
      transform(regexp_extract_all(protect,
        lit("[^.!?]+(?:[.!?]+|$)"), lit(0)), restore),
      s => s =!= "")
  }

  /** One row per sentence: (id, sent_no, sentence), in document order. */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(sentenceArray(col(textCol))).as(Seq("sent_no", "sentence")))

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, A-ES): k rows drawn with probability proportional to
    * `weightCol`, by taking the top-k of the key u^(1/w) where u ∈ (0,1]
    * is the md5-fraction of the id — the same engine-neutral u as
    * [[sampleMixture]], so runs, engines, and cluster layouts all agree.
    * The key rides the 1e-6 rounding grid with an id tie-break (absorbs
    * cross-libm pow ulps); selection is one TakeOrderedAndProject — no
    * global sort, no RNG state, and the top-k property makes it mergeable:
    * the top-k of a union is the top-k of per-shard top-ks.
    */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
      .cast("double") + 1.0) / lit((1L << 28).toDouble)
    // A-ES is defined for w > 0 only: a negative weight flips the exponent
    // sign (priority ≥ 1, outranking every valid row) and zero divides —
    // non-positive-weight rows are simply ineligible
    df.filter(col(weightCol).cast("double") > 0.0)
      .withColumn("priority",
        Nums.round6(pow(u, lit(1.0) / col(weightCol).cast("double"))))
      .orderBy(col("priority").desc, col(idCol))
      .limit(k)
  }

  /** Per-document corpus-commonness signal (the CCNet-family quality
    * dial, kept engine-exact): for each document, the SUM of its tokens'
    * corpus frequencies plus its token count — rare-vocabulary documents
    * (gibberish, code soup, exotic boilerplate) score low mean frequency,
    * common-prose documents score high; the caller thresholds either
    * tail. Pure integer outputs (sum_freq, n_tokens), so — unlike a
    * log-perplexity, whose `ln` differs by ulps across libm builds — a SQL
    * oracle replays it bit-identically; mean = sum_freq / n_tokens is a
    * post-hoc division.
    *
    * Shape: one vocabulary-sized term-frequency aggregate, joined back to
    * the exploded corpus on the token (both sides shuffle on the token key;
    * the vocabulary side is the small one), then a per-id sum. Nothing
    * driver-bound; frequencies come from the corpus itself, one pass.
    */
  def withCorpusFrequency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
    val freq = termFrequencies(df, textCol) // (token, freq)
    toks.join(freq, "token")
      .groupBy("id")
      .agg(sum(col("freq")).as("sum_freq"), count(lit(1)).as("n_tokens"))
  }

  /** Deterministic weighted mixture sampling — "x % of source A, y % of
    * source B" training-mix control: a row survives iff the fraction encoded
    * by the first 7 hex digits of md5(id) is below its source's weight.
    * Reproducible across runs, engines, and cluster layouts (no RNG state),
    * map-only (codegen'd expression, no shuffle), and rescalable: raising a
    * weight strictly grows the sample (nested samples, the property
    * mixture-tuning sweeps rely on).
    */
  def sampleMixture(df: DataFrame, idCol: String, sourceCol: String,
                    weights: Map[String, Double]): DataFrame = {
    val frac = conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
      .cast("double") / lit((1L << 28).toDouble) // 7 hex digits = 28 bits
    val weight = weights.foldLeft(lit(0.0)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, lit(w)).otherwise(acc)
    }
    df.filter(frac < weight)
  }

  /** Repetition signals for training-data filtering (the Gopher-rule family,
    * Rae et al. 2021 §A1.1): per document,
    *   - `dup_line_frac`  — fraction of non-empty trimmed lines that are
    *     duplicates of an earlier line,
    *   - `dup_token_frac` — same at token granularity,
    *   - `top_bigram_frac` — the most frequent bigram's share of all bigram
    *     occurrences.
    * Line/token fractions are pure per-row array expressions (map-only).
    * The bigram mode is an explode + two hash aggregates + an id-keyed join
    * back — fully distributed; deliberately NOT a per-row
    * `transform(distinct, count-occurrences)` pass, which is O(len²) per
    * document and dies on long documents.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)
    val dupFrac = (arr: Column) => when(size(arr) <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"))
    val toks = tokens(col(textCol))
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    val base = df.select(col(idCol).as("id"),
      dupFrac(lines).as("dup_line_frac"),
      dupFrac(toks).as("dup_token_frac"),
      bigrams.as("__bigrams"))
    val topBigram = base
      .select(col("id"), explode(col("__bigrams")).as("bg"))
      .groupBy("id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("top_bigram_frac"))
    base.drop("__bigrams")
      .join(topBigram, Seq("id"), "left")
      .select(col("id"),
        Nums.round6(col("dup_line_frac")).as("dup_line_frac"),
        Nums.round6(col("dup_token_frac")).as("dup_token_frac"),
        Nums.round6(coalesce(col("top_bigram_frac"), lit(0.0))).as("top_bigram_frac"))
  }

  /** Canonical text normalization (the step BEFORE fingerprinting/dedup so
    * byte-different spellings of the same text collapse): Unicode NFC
    * composition (native `graft_nfc` kernel), optional simple lowercase,
    * whitespace runs collapsed to single spaces, ends trimmed. Map-only,
    * codegen'd end to end.
    */
  def normalizeText(text: Column, casefold: Boolean = true): Column = {
    val nfc = call_function("graft_nfc", text)
    val folded = if (casefold) lower(nfc) else nfc
    trim(regexp_replace(folded, "\\s+", " "))
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text —
    * byte-stable across engines (oracle-checkable exact-dup key).
    */
  def fingerprintMd5(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Rolling polynomial fingerprint over tokens (order-sensitive, unlike a
    * bag-of-words hash): fold acc = (acc * 31 + tokenHash) mod 1e9+7, where
    * tokenHash folds character codes the same way. Pure built-in fold —
    * codegen'd, portable (same arithmetic is expressible in ANSI SQL).
    */
  def fingerprintRolling(text: Column): Column = {
    val mod = lit(1000000007L)
    val tokHash = (t: Column) =>
      aggregate(split(t, ""), lit(7L), (acc, ch) => (acc * 31L + ascii(ch)) % mod)
    aggregate(tokens(text), lit(7L), (acc, t) => (acc * 131L + tokHash(t)) % mod)
  }

  /** Bigram-LM corpus quality score (the CCNet-family "does this document
    * read like the corpus" dial), engine-exact: per document, the sum of
    * fixed-point transition likelihoods ⌊10⁶ · c(w1,w2) / c(w1)⌋ over its
    * adjacent token pairs, with both counts taken from the corpus itself
    * (c(w1) = full unigram count — plain MLE bigram estimate). Integer
    * arithmetic end to end, so the whole score replays bit-identically in
    * SQL — no FP log-sum ordering to diverge on. Fluent in-domain text
    * scores high; shuffled/foreign text scores near the floor.
    *
    * Scale shape: the per-document pair stream is FIRST collapsed to
    * (id, w1, w2, cnt) — distinct bigrams per doc, typically 1.5–3×
    * smaller than token positions on natural text, far more on repetitive
    * corpora — and the corpus bigram table rolls up from that same
    * aggregate, so the join inputs are distinct-bigram-grain, not
    * token-grain, with an identical result (sum(cnt·⌊10⁶·cb/cu⌋) and
    * n_bigrams = sum(cnt)). Total: two chained hash-aggregates + two
    * equi-joins on token keys + one per-doc aggregate — all linear. On a
    * Zipfian real-world corpus the unigram join key is skewed ("the"
    * carries ~5 % of rows); at 100 TB route it through [[SkewJoin]]'s
    * salted join or let AQE's skew handling split it.
    *
    * @return (id, n_bigrams, lm_score) — docs with < 2 tokens drop.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toked = df.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    val bigrams = toked.filter(size(col("t")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("t")) - 2),
        i => struct(col("t").getItem(i).as("w1"),
          col("t").getItem(i + 1).as("w2")))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toked.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    // collapse to per-doc distinct-bigram grain before joining: the corpus
    // bigram table is a roll-up of the same aggregate (partial-agg reuse),
    // and both join inputs shrink from token scale to distinct-bigram scale
    val docBi = bigrams.groupBy("id", "w1", "w2").agg(count(lit(1)).as("cnt"))
    val bi = docBi.groupBy("w1", "w2").agg(sum("cnt").as("cb"))
    docBi
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .groupBy("id")
      .agg(sum("cnt").as("n_bigrams"),
        sum(expr("cnt * ((1000000 * cb) div cu)")).as("lm_score"))
  }

  /** Collocation mining (phrase detection, the word2vec-phrases /
    * NLTK-collocations discipline): adjacent token pairs ranked by LIFT —
    * observed bigram frequency over the frequency independence predicts —
    * in exact fixed-point integers: lift_ppm = ⌊10⁶ · c(a,b) · N /
    * (c(a) · c(b))⌋ with N = total bigram count (the PMI exponent without
    * the engine-divergent log). Rare-pair noise is floored by `minCount`.
    * Two hash-aggregates + a broadcast-sized join of count tables + top-K
    * (TakeOrdered, no global sort). Longs hold to ~10⁹ bigrams per the
    * product bound ⌊10⁶·c(a,b)·N⌋ < 2⁶³ — shard or rescale beyond.
    *
    * @return (w1, w2, n_pair, lift_ppm) — top `topK` by lift, ties broken
    *         by (w1, w2) ascending.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
                   topK: Int = 50): DataFrame = {
    val toked = df.select(tokens(col(textCol)).as("t"))
    val bigrams = toked.filter(size(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("t")) - 2),
        i => struct(col("t").getItem(i).as("w1"),
          col("t").getItem(i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toked.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    // one explode pass serves both N and the filtered pair table: the
    // aggregated (vocabulary²-bounded) counts are checkpointed, N is their
    // sum — without this the bigram explode would run three times (count
    // action + pair agg + final plan). With no bigram, N is 0.
    val biAll = Materialize.checkpoint(
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair")), eager = true)
    val nTotal = biAll.agg(coalesce(sum(col("n_pair")), lit(0L))).head().getLong(0)
    biAll.filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
      .select(col("w1"), col("w2"), col("n_pair"),
        expr(s"(1000000 * n_pair * ${nTotal}L) div (c1 * c2)").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), asc("w1"), asc("w2"))
      .limit(topK)
  }

  /** Inverted index (term → posting list): the retrieval-side artifact of
    * a curation pipeline (BM25/decontamination both walk one). One row per
    * term: document frequency and the ascending posting list, rendered
    * '|'-joined so the table is flat and hash-comparable. explode-distinct
    * + hash-agg; posting lists are collected per TERM (bounded by df), not
    * per partition — at web scale, shard terms or cap df before collect.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(transform(array_sort(collect_list(col("id"))),
          _.cast("string")), "|").as("postings"))
      .filter(col("df") >= minDf)

  /** Vocabulary coverage curve: for each percent threshold, the smallest
    * top-K vocabulary (by corpus frequency, ties broken by token) whose
    * cumulative token mass reaches that percent — the number tokenizer /
    * vocab-truncation planning actually needs ("how big must the vocab be
    * to cover 95% of the corpus?"). Output: `(pct, n_vocab, total_tokens)`.
    *
    * Fully distributed — NO global-order window anywhere (the per-token
    * `row_number`/`sum` window this replaces was the battery's only "No
    * Partition Defined for Window" warning). The trick: the rank ordering
    * breaks count-ties by token, but every token in a tie group contributes
    * the SAME mass `c`, so the crossing rank is a closed form over the
    * FREQUENCY HISTOGRAM (one row per distinct count): with `before` =
    * mass of all strictly-more-frequent groups and `n_before` their token
    * count, the threshold falls inside the first group whose inclusive
    * cumulative mass reaches it, at `n_before + ceil(need / (100·c))`
    * tokens where `need = pct·total − 100·before`. The histogram is tiny
    * by construction (distinct counts k satisfy k(k+1)/2 ≤ total, so
    * k ≤ √(2·total) — a few M rows even at 100 TB), and its cumulative
    * sum runs two-phase: bucket by `c` against driver-frozen quantile
    * boundaries (a PURE FUNCTION of the data — recomputes reproduce the
    * assignment, so nothing rides on a cache surviving), per-bucket
    * window, driver prefix offsets over the ≤`shuffle.partitions`
    * per-bucket totals (control plane), broadcast back. Arithmetic is
    * integer end-to-end, so the per-token oracle replays the result
    * bit-identically.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
                    pcts: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val hist = counts.groupBy("c").agg(count(lit(1)).as("n"))
      .withColumn("mass", col("c") * col("n"))
    val nb = spark.sessionState.conf.numShufflePartitions
    // persisted for ECONOMY only (the histogram agg runs once, not once per
    // downstream job; released by the caller's per-run clearCache, the
    // repo-wide convention for derived tables). Correctness does NOT
    // depend on the persist surviving: the bucket id below is a pure
    // function of the data, so any recompute reproduces the assignment —
    // unlike the previous spark_partition_id() scheme, where a dropped
    // cache re-sampled range boundaries under the collected offsets.
    val histP = Materialize.persist(hist)
    // Freeze nb-1 approximate c-quantile boundaries ON THE DRIVER (one tiny
    // job over the histogram — distinct counts, k ≤ √(2·total) rows). Once
    // frozen they are literals: bucket(c) = #{boundaries ≥ c} (bucket 0 =
    // most frequent tokens), skew-free enough because the histogram has
    // one row per DISTINCT count.
    val bounds = histP.stat
      .approxQuantile("c", (1 until nb).map(_.toDouble / nb).toArray, 0.001)
      .map(math.floor(_).toLong).distinct.sorted
    // bucket(c) = #{boundaries ≥ c}, via ONE higher-order filter over a
    // literal array — the expression is O(1) in nb (the when-chain it
    // replaces grew one branch per boundary, ~80 bytes of codegen each:
    // a cluster-scale shuffle.partitions=2000 would have pushed the
    // generated method past the JVM's 64 KB limit into interpreted mode).
    // The array is tiny (≤ nb-1 longs) and the histogram smaller than
    // √(2·total) rows, so the O(nb) runtime scan per row is noise.
    val bucketExpr = size(filter(
      typedLit(bounds), b => col("c") <= b))
    val bucketed = histP.withColumn("bkt", bucketExpr)
    val perBucket = bucketed.groupBy("bkt")
      .agg(sum(col("mass")).as("m"), sum(col("n")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var (accM, accN) = (0L, 0L)
    val offRows = perBucket.map { case (bkt, m, t) =>
      val row = (bkt, accM, accN); accM += m; accN += t; row
    }.toSeq
    val total = accM
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(desc("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = bucketed
      .withColumn("lm", sum(col("mass")).over(win))
      .withColumn("ln", sum(col("n")).over(win))
      .join(broadcast(offRows.toDF("bkt", "moff", "noff")), "bkt")
      .withColumn("cum_mass", col("moff") + col("lm"))
      .withColumn("before", col("cum_mass") - col("mass"))
      .withColumn("n_before", col("noff") + col("ln") - col("n"))
    // Only the FIRST qualifying group yields the true minimum: later groups
    // have need ≤ 0 (clamped to ≥1 token), landing at n_before+1 ≥ the
    // first group's answer — min() selects the closed form exactly.
    cum.crossJoin(broadcast(pcts.toDF("pct")))
      .filter(lit(100L) * col("cum_mass") >= col("pct") * lit(total))
      .withColumn("need", col("pct") * lit(total) - lit(100L) * col("before"))
      .withColumn("k", greatest(
        expr("(need + 100 * c - 1) div (100 * c)"), lit(1L)))
      .groupBy("pct")
      .agg(min(col("n_before") + col("k")).cast("long").as("n_vocab"))
      .withColumn("total_tokens", lit(total))
  }

  /** N-gram novelty score: per document, the fraction (ppm, exact integer)
    * of its distinct k-shingles whose corpus-wide FIRST occurrence (min id)
    * is this document. The data-selection signal behind "prefer novel
    * documents" curation (D4/DoReMi-style ordering heuristics): a doc made
    * entirely of shingles already seen in earlier docs scores 0; a fully
    * original doc scores 1,000,000.
    *
    * Shape: one explode, one hash-agg keyed on the shingle (min id), one
    * equi-join back, one per-doc hash-agg — the exact `withCorpusFrequency`
    * shape, so it inherits its scale story: no all-pairs anywhere, shuffle
    * keyed on shingles (high-cardinality, naturally unskewed). Arithmetic
    * is integer end-to-end (`div`), so the oracle replays it bit-exactly.
    */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    // Hashed shingles (r21, see [[Dedup.shingleHashSet]]): the shuffle key
    // of both the min-agg and the join back becomes an 8-byte long instead
    // of a ~k·7-char string; per-id novel/total counts are identical (the
    // hash set preserves per-doc set cardinalities and cross-doc equality).
    val sh = df.select(col(idCol).as("id"),
      explode(Dedup.shingleHashSet(col(textCol), k)).as("sh"))
    val firsts = sh.groupBy("sh").agg(min(col("id")).as("first_id"))
    sh.join(firsts, "sh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(1000000 * n_novel) div n_shingles"))
  }
}
