package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join — for each left row, the single right row with the
  * greatest `rightTime` <= the left row's `leftTime`, per key (SURVEY §2.2
  * lists the category as absent in the reference; standard in time-series /
  * feature-store pipelines).
  *
  * Spark-first plan: NOT a range join (which Catalyst executes as a
  * broadcast-nested-loop or a full sort-merge over an inequality — quadratic
  * per key in the worst case). Instead the classic union trick:
  * tag and union both sides, one shuffle+sort on (key, time, side), then a
  * running `last(_, ignoreNulls)` window carries the most recent right values
  * forward into each left row. Cost = one exchange + one sort over |L|+|R| —
  * linear, spillable, AQE-skew-splittable; ties (right row exactly at the
  * left time) are INCLUDED, matching DuckDB/pandas ASOF `>=` semantics.
  *
  * Determinism: if several right rows share one (key, rightTime), the last
  * one in union order wins — pre-aggregate the right side to unique
  * (key, time) rows when byte-deterministic output matters.
  */
object AsOf {

  /** @param left      probe side; all its columns pass through
    * @param right     build side; only `rightVals` are carried
    * @param on        equality key columns (same names both sides)
    * @param leftTime  left ordering column name
    * @param rightTime right ordering column name (same type as leftTime)
    * @param rightVals right columns to attach (null when no row qualifies)
    */
  def joinBackward(left: DataFrame, right: DataFrame, on: Seq[String],
                   leftTime: String, rightTime: String,
                   rightVals: Seq[String]): DataFrame =
    joinImpl(left, right, on, leftTime, rightTime, rightVals,
      forward = false)

  /** Forward as-of: the single right row with the SMALLEST `rightTime` >=
    * the left row's time, per key (ties included). Same union+window plan,
    * time order reversed.
    */
  def joinForward(left: DataFrame, right: DataFrame, on: Seq[String],
                  leftTime: String, rightTime: String,
                  rightVals: Seq[String]): DataFrame =
    joinImpl(left, right, on, leftTime, rightTime, rightVals,
      forward = true)

  private def joinImpl(left: DataFrame, right: DataFrame, on: Seq[String],
                       leftTime: String, rightTime: String,
                       rightVals: Seq[String], forward: Boolean): DataFrame = {
    require(rightVals.nonEmpty, "rightVals must name at least one column")
    val leftCols = left.columns.toSeq
    val nullOf: ((String, org.apache.spark.sql.types.DataType)) => Column = {
      case (n, t) => lit(null).cast(t).as(n)
    }
    val rightTypes = rightVals.map(v => v -> right.schema(v).dataType)
    val leftTypes = leftCols.filterNot(on.contains).map(c =>
      c -> left.schema(c).dataType)

    val lTagged = left
      .select((on.map(col) ++
        Seq(col(leftTime).as("__t"), lit(1).as("__side")) ++
        leftCols.filterNot(on.contains).map(col) ++
        rightTypes.map { case (n, t) => lit(null).cast(t).as(s"__r_$n") }): _*)
    val rTagged = right
      .select((on.map(col) ++
        Seq(col(rightTime).as("__t"), lit(0).as("__side")) ++
        leftTypes.map(nullOf) ++
        rightVals.map(n => col(n).as(s"__r_$n"))): _*)

    // right rows sort before a left row at the same time -> inclusive match
    // (both directions); forward scans time descending so "last seen right"
    // is the nearest one at-or-after
    val w = Window.partitionBy(on.map(col): _*)
      .orderBy(if (forward) col("__t").desc else col("__t").asc, col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lTagged.unionByName(rTagged)
      .select((col("*") +:
        rightTypes.map { case (n, _) =>
          last(col(s"__r_$n"), ignoreNulls = true).over(w).as(n)
        }): _*)
    carried.filter(col("__side") === 1)
      .select((on.map(col) ++
        Seq(col("__t").as(leftTime)) ++
        leftCols.filterNot(c => on.contains(c) || c == leftTime).map(col) ++
        rightVals.map(col)): _*)
  }
}
