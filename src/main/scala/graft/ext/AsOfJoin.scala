package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for every left row, attach the latest
  * right row with `rightTs ≤ leftTs` per key — the lookup a DWH runs
  * against journal history ("state of the account when the order was
  * placed"), and an operator Spark lacks natively.
  *
  * Scale shape: NOT a range join (key-equal × time-inequality joins
  * explode to |L|·|R| per key before filtering). Both sides are
  * union-tagged and sorted per key by (time, side, tie-break); a
  * `last(..., ignoreNulls)` running window carries the most recent
  * right payload forward into each left row. ONE shuffle on the key,
  * O(|L|+|R|) rows through it, no pair blow-up. A hot key degrades to
  * one sorted partition (same profile as any per-key window).
  *
  * Tie semantics (deterministic): right rows sort before left rows at
  * equal time (inclusive ≤), and equal-time right rows resolve by the
  * largest `tieBreak` value.
  */
object AsOfJoin {

  /** Tagged union of both sides: right rows carry their payload struct
    * in `__r`, left rows carry their original columns as `__l_*`.
    * Ordering contract: (`__t`, `__side`, `__tie` asc_nulls_last) —
    * the last right row at-or-before a left row is its as-of match.
    */
  private def taggedUnion(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                          leftTs: String, rightTs: String, tieBreak: String,
                          rightPayload: Seq[String]): DataFrame = {
    val payloadStruct = struct(
      (col(rightTs).as("__ts") +: col(tieBreak).as("__tie") +:
        rightPayload.map(col)): _*)
    val rTagged = right.select(
      keyCols.map(col) ++ Seq(
        col(rightTs).as("__t"), lit(0).as("__side"),
        col(tieBreak).as("__tie"), payloadStruct.as("__r")): _*)
    val lTagged = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTs).as("__t"), lit(1).as("__side"),
        lit(null).cast(rTagged.schema("__tie").dataType).as("__tie"),
        lit(null).cast(rTagged.schema("__r").dataType).as("__r")) ++
        left.columns.map(c => col(c).as(s"__l_$c")): _*)
    val rAligned = rTagged.select(
      (rTagged.columns.map(col) ++
        left.columns.map(c => lit(null).cast(left.schema(c).dataType).as(s"__l_$c"))).toIndexedSeq: _*)
    rAligned.unionByName(lTagged)
  }

  /** Project matched left rows back to the caller's shape. */
  private def finish(matched: DataFrame, left: DataFrame, asofCol: Column,
                     rightPayload: Seq[String]): DataFrame =
    matched.where(col("__side") === 1 && asofCol.isNotNull)
      .select(
        (left.columns.map(c => col(s"__l_$c").as(c)) ++
          Seq(asofCol.getField("__ts").as("asof_ts")) ++
          rightPayload.map(p => asofCol.getField(p).as(p))).toIndexedSeq: _*)

  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           leftTs: String, rightTs: String, tieBreak: String,
           rightPayload: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "as-of join requires at least one key column")
    val unioned = taggedUnion(left, right, keyCols, leftTs, rightTs, tieBreak, rightPayload)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__tie").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
    finish(carried, left, col("__asof"), rightPayload)
  }
}
