package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout operators (extension mandate, SURVEY §2.3): the Z-order
  * key — the multi-dimensional sort key that makes min/max zone
  * pruning work for MORE than one predicate column at 100 TB. Writing a
  * fact table range-partitioned + sorted by the interleaved key gives every
  * file a tight bounding box in ALL interleaved dimensions, so a filter on
  * any of them skips most files (the Delta/Iceberg OPTIMIZE ZORDER story,
  * as a plain operator).
  *
  * The key is pure integer bit-interleaving — a static expression tree of
  * shifts and masks (codegen'd, no UDF, no HOF) that replays exactly in any
  * engine with `>>`/`&`/`*` — so the layout decision itself sits under the
  * cross-engine hash check.
  */
object Layout {

  /** The Morton (Z-order) interleave of `cols`, each masked to its low
    * `bits` bits: result bit `i*n+j` = bit `i` of `cols(j)`. Columns must
    * be non-negative integers (cast/scale/rank them first — for skewed or
    * floating domains interleave the `ntile`/rank, not the raw value);
    * values ≥ 2^bits wrap via masking, keeping locality per mask window.
    *
    * `n_cols × bits` must stay ≤ 63 (sign-free long).
    */
  def zOrderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zOrderKey: need at least one column")
    require(bits > 0 && cols.length * bits <= 63,
      s"zOrderKey: ${cols.length} cols × $bits bits must be in (0, 63]")
    val n = cols.length
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield {
      // bit i of col j, shifted to interleaved position i*n + j
      val bit = shiftright(c.cast("long"), i).bitwiseAND(lit(1L))
      shiftleft(bit, i * n + j)
    }
    terms.reduce(_.bitwiseOR(_)).as("zkey")
  }
}
