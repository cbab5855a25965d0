package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** SimHash kernel, semantics identical to the SQL-expressible definition the
  * DuckDB oracle replays (see `Queries.dSimhash`): per token, bit j votes +1
  * iff hex digit j+1 of md5(token) has its high bit set (digit in 8..f),
  * else -1; fingerprint bit j = 1 iff the vote sum is positive.
  *
  * Bit j of the fingerprint maps to long bit (bits-1-j), so
  * `lpad(bin(sig), bits, '0')` renders exactly the oracle's '0'/'1' string.
  */
object SimHashImpl extends Serializable {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash(tokens: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val md = digest.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        md.reset()
        val h = md.digest(t.getBytes) // 16 bytes = 32 hex digits
        var j = 0
        while (j < bits) {
          // hex digit j (0-based) = high nibble of byte j/2 when j even,
          // low nibble when j odd; its high bit = value >= 8.
          val b = h(j >> 1)
          val nibble = if ((j & 1) == 0) (b >> 4) & 0xf else b & 0xf
          if (nibble >= 8) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) sig |= 1L << (bits - 1 - j)
      j += 1
    }
    sig
  }
}

/** `graft_simhash(tokens, bits)` — native SimHash over a token array,
  * returning the fingerprint as a long. One md5 per token in a tight JVM
  * loop (thread-local digest), replacing an interpreted fold that paid one
  * lambda dispatch per (token, bit).
  */
case class SimHash(child: Expression, bits: Int) extends UnaryExpression {

  require(bits >= 1 && bits <= 32, "graft_simhash supports 1..32 bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<string> tokens, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(tokens: Any): Any =
    SimHashImpl.simhash(tokens.asInstanceOf[ArrayData], bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val impl = SimHashImpl.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $impl.simhash($c, $bits);")
  }

  override def prettyName: String = "graft_simhash"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
