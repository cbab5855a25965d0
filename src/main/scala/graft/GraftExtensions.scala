package graft

import graft.functions.{ArgmaxCosine, ArgminSqDist, BloomContains, DotProduct, JsonFieldTypes, LongDotProduct, LshBucket, MinHashSignature, NfcNormalize, PyJsonRender, QuantizeVector, ShingleHashes, ShingleInterSize, SimHash, TextStats, VecBytes}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

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
      (children: Seq[Expression]) => {
        def intArg(e: Expression, name: String): Int = e match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_minhash: $name must be an integer literal, got $other")
        }
        MinHashSignature(children.head,
          intArg(children(1), "shingleSize"), intArg(children(2), "numHashes"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        val bits = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_simhash: bits must be an integer literal, got $other")
        }
        SimHash(children.head, bits)
      }))
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
      (children: Seq[Expression]) => {
        val levels = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_quant: levels must be an integer literal, got $other")
        }
        QuantizeVector(children.head, levels)
      }))
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
      (children: Seq[Expression]) => {
        // accept any integral literal (a SQL 3::SMALLINT or 3::BIGINT means
        // the same k), and reject k < 1 at plan time — k = 0 would silently
        // collapse every document's shingle set to one constant hash
        // (every pair jaccard 1.0), not error (r21 ADVICE)
        val k = children(1) match {
          case Literal(v: Int, _) => v
          case Literal(v: Short, _) => v.toInt
          case Literal(v: Byte, _) => v.toInt
          case Literal(v: Long, _) if v.isValidInt => v.toInt
          case other => throw new IllegalArgumentException(
            s"graft_shingle_hashes: k must be an integer literal, got $other")
        }
        require(k >= 1, s"graft_shingle_hashes: k must be >= 1, got $k")
        ShingleHashes(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_inter_size"),
      new ExpressionInfo(classOf[ShingleInterSize].getName, "graft_inter_size"),
      (children: Seq[Expression]) => ShingleInterSize(children.head, children(1))))
  }
}
