package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-Pair-Encoding merge learning (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016) — the tokenizer-
  * training step of an LLM data pipeline, distributed Spark-first.
  *
  * Each step counts adjacent symbol pairs across the word vocabulary
  * (weighted by word frequency), picks the most frequent pair
  * (deterministic tie-break: count desc, then pair lexicographic), and
  * merges its occurrences greedily left-to-right. Plain in-word BPE, no
  * end-of-word marker.
  *
  * Scale shape per step: pair counting is one explode (≤ |word| pairs per
  * word — the VOCABULARY, not the corpus: words are pre-aggregated with
  * counts, so step cost is O(distinct words), corpus size only enters the
  * one-time word count) + a hash-aggregate with map-side combine; the
  * argmax is a 1-row collect (control-plane); the merge application is a
  * map-only string `replace`. k steps = k such rounds over an ever-smaller
  * symbol table. No driver-side data beyond the k winning pairs.
  *
  * Symbol sequences ride as DOUBLE-space-separated strings with
  * double-space sentinels (`'  h  e  l  l  o  '`): every symbol owns one
  * space on each side, so a merge is a single codegen'd
  * `replace(sym, ' a  b ', ' ab ')` that consumes only the owned spaces
  * and restores them in the replacement. With that invariant, one
  * non-overlapping left-to-right replace per step is EXACTLY Sennrich's
  * greedy merge (his `(?<!\S)a b(?!\S)` regex pass — the lookarounds
  * consume nothing, which the owned-space encoding reproduces without
  * lookbehind, so it also runs verbatim in RE2-based engines): `abab`
  * with (a,b) → `[ab, ab]`, `aaaaa` with (a,a) → `[aa, aa, a]`,
  * `banana` with (a,n) → `[b, an, an, a]`. A single-space encoding would
  * miss adjacent occurrences (the match eats the next occurrence's
  * leading delimiter — `abab` would mis-merge to `[ab, a, b]`). The
  * identical `replace` exists in ANSI SQL, keeping the whole training
  * run oracle-replayable.
  */
object Bpe {

  /** Word vocabulary with frequencies: whitespace tokens of `textCol`. */
  private def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The symbol-string form of a word: chars joined and padded with DOUBLE
    * spaces (`"abc"` → `"  a  b  c  "`) — each symbol owns one space per
    * side, which is what makes the single-pass merge replace exact. */
  private def symbolize(word: org.apache.spark.sql.Column) =
    concat(lit("  "), array_join(split(word, ""), "  "), lit("  "))

  /** Learn `steps` BPE merges over the corpus vocabulary. Returns one row
    * per step: (step, left, right, pair_count) — the merge table a
    * tokenizer would persist, in learned order.
    */
  def learnMerges(docs: DataFrame, textCol: String, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val spark = docs.sparkSession
    import spark.implicits._
    // the iterated working set: re-evaluated plans would re-run every prior
    // step each round, so checkpoint per step (tiny table: distinct words)
    var words = Materialize.checkpoint(vocab(docs, textCol)
      .select(col("cnt"), symbolize(col("word")).as("sym")), eager = true)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = words
        .select(col("cnt"), split(trim(col("sym")), "  ").as("s"))
        .filter(size(col("s")) >= 2) // fully-merged words carry no pairs
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("s")) - 2),
          i => struct(col("s").getItem(i).as("a"),
            col("s").getItem(i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step, a, b, n))
        // plain (non-regex) replace — identical semantics to ANSI/DuckDB
        // replace(), so the oracle chains the very same operation. The
        // pattern spends the pair's inner owned spaces; the replacement
        // restores the outer ones, preserving the double-space invariant.
        val next = Materialize.checkpoint(words.select(col("cnt"),
          replace(col("sym"), lit(s" $a  $b "), lit(s" $a$b ")).as("sym")),
          eager = true)
        Materialize.releaseCheckpoint(words)
        words = next
        step += 1
      }
    }
    Materialize.releaseCheckpoint(words)
    // lhs/rhs, not left/right: the merge table should be directly usable
    // in SQL without keyword quoting
    learned.result().toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Tokenize with a learned merge table and report per-document fertility
    * stats — the standard "is this tokenizer / corpus pairing any good"
    * metric (subwords per document vs raw chars; lower subword counts =
    * higher compression). `merges` is applied in learned order, each merge
    * the same greedy left-to-right `replace` the trainer used, chained
    * STATICALLY into one codegen'd expression (k merges = k nested
    * replaces — control-plane sized, collected once). Map-only: no
    * shuffle, no UDF. Returns (id, n_words, n_subwords, n_chars).
    */
  def applyMerges(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val toks = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    docs.select(
      col(idCol),
      size(toks).cast("long").as("n_words"),
      aggregate(
        transform(toks, w => subwordsPerWord_(w, merges)),
        lit(0L), (acc, x) => acc + x).as("n_subwords"),
      aggregate(
        transform(toks, w => length(w).cast("long")),
        lit(0L), (acc, x) => acc + x).as("n_chars"))
  }

  /** Subword count of one word under the merge chain (helper building the
    * expression against a lambda variable rather than a named column). */
  private def subwordsPerWord_(w: org.apache.spark.sql.Column,
                               merges: Seq[(String, String)]) = {
    val merged = merges.foldLeft(symbolize(w)) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    size(split(trim(merged), "  ")).cast("long")
  }
}
