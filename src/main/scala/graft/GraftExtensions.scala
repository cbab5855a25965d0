package graft

import graft.functions.{ArgmaxCosine, ArgminSqDist, BloomContains, DotProduct, JsonFieldTypes, LongDotProduct, LshBucket, MinHashSignature, NfcNormalize, PyJsonRender, QuantizeVector, ShingleHashes, ShingleInterSize, SimHash, TextStats, VecBytes}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Session extensions registering graft's native Catalyst expressions.
  *
  * Enable with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (comma-append if other extensions are configured). Registered functions
  * are then available from SQL and from `functions.call_function`:
  *
  *   - `graft_dot(a, b)` — codegen'd dot product over array<double>;
  *   - `graft_doti(a, b)` — the same over array<long> (quantized vectors);
  *   - `graft_vec_bytes(v)` — canonical binary image of a vector, for
  *     content-addressing;
  *   - `graft_quant(v, levels)` — max-scaled integer quantization;
  *   - `graft_argmax_cos(…)` — nearest centroid by cosine (IVF assignment);
  *   - `graft_argmin_sq(…)` — nearest centroid by squared distance over
  *     quantized vectors;
  *   - `graft_lsh_bucket(…)` — random-hyperplane LSH bucket of a vector;
  *   - `graft_text_stats(text)` — fused per-document quality counters;
  *   - `graft_nfc(str)` — Unicode NFC normalization;
  *   - `graft_minhash(tokens, k, numHashes)` — fused shingle + MinHash
  *     signature;
  *   - `graft_simhash(tokens, bits)` — SimHash fingerprint as a long;
  *   - `graft_shingle_hashes(tokens, k)` — sorted distinct shingle-hash set;
  *   - `graft_inter_size(a, b)` — |A ∩ B| of two sorted long arrays;
  *   - `graft_bloom(…)` — Bloom-filter membership probe;
  *   - `graft_pyjson(value)` — `json.dumps`-parity rendering;
  *   - `graft_json_types(json)` — per-key JSON type names of an object.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_doti"),
      new ExpressionInfo(classOf[LongDotProduct].getName, "graft_doti"),
      (children: Seq[Expression]) => LongDotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_vec_bytes"),
      new ExpressionInfo(classOf[VecBytes].getName, "graft_vec_bytes"),
      (children: Seq[Expression]) => VecBytes(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "graft_text_stats"),
      (children: Seq[Expression]) => TextStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSignature(children.head,
        intLiteral("graft_minhash", "shingleSize", children(1), 1),
        intLiteral("graft_minhash", "numHashes", children(2), 1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (children: Seq[Expression]) =>
        SimHash(children.head, intLiteral("graft_simhash", "bits", children(1), 1, 32))))
    ext.injectFunction((
      new FunctionIdentifier("graft_argmax_cos"),
      new ExpressionInfo(classOf[ArgmaxCosine].getName, "graft_argmax_cos"),
      (children: Seq[Expression]) => ArgmaxCosine(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "graft_lsh_bucket"),
      (children: Seq[Expression]) => LshBucket(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_argmin_sq"),
      new ExpressionInfo(classOf[ArgminSqDist].getName, "graft_argmin_sq"),
      (children: Seq[Expression]) => ArgminSqDist(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_quant"),
      new ExpressionInfo(classOf[QuantizeVector].getName, "graft_quant"),
      (children: Seq[Expression]) => QuantizeVector(children.head,
        intLiteral("graft_quant", "levels", children(1), 1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom"),
      (children: Seq[Expression]) => BloomContains(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_pyjson"),
      new ExpressionInfo(classOf[PyJsonRender].getName, "graft_pyjson"),
      (children: Seq[Expression]) => PyJsonRender(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_json_types"),
      new ExpressionInfo(classOf[JsonFieldTypes].getName, "graft_json_types"),
      (children: Seq[Expression]) => JsonFieldTypes(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) =>
        ShingleHashes(children.head, intLiteral("graft_shingle_hashes", "k", children(1), 1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_inter_size"),
      new ExpressionInfo(classOf[ShingleInterSize].getName, "graft_inter_size"),
      (children: Seq[Expression]) => ShingleInterSize(children.head, children(1))))
  }

  /** The value of `fn`'s integer argument `name`, checked against
    * `lo..hi` when the function is resolved, before any job runs. Any
    * constant of an integral type is accepted: `3`, `3L` and `3::SMALLINT`
    * mean the same 3. An out-of-range size would not fail later, it would
    * silently change the output: shingle size 0 gives every document the
    * same MinHash signature, so every pair becomes a candidate.
    */
  private def intLiteral(fn: String, name: String, e: Expression,
                         lo: Int, hi: Int = Int.MaxValue): Int = {
    val integral = e.resolved && e.foldable && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val n = Option(if (integral) e.eval() else null)
      .map(_.asInstanceOf[Number].longValue).filter(_.isValidInt)
      .getOrElse(throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got $e")).toInt
    require(n >= lo && n <= hi,
      if (hi == Int.MaxValue) s"$fn: $name must be >= $lo, got $n"
      else s"$fn: $name must be in $lo..$hi, got $n")
    n
  }
}
