package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic id assignment (beyond-reference scope, SURVEY.md §2c)
  * — the dimension-load / corpus-indexing primitive.
  *
  * The naive spelling, `row_number() OVER (ORDER BY k)`, is the classic
  * scale trap: a global ORDER BY window plans every row into ONE
  * partition. [[orderedIds]] produces the identical numbering with a
  * range shuffle instead.
  */
object Ids {

  /** Dense 1-based ids in `orderCols` order, equal to the global
    * `row_number() OVER (ORDER BY orderCols)` — computed WITHOUT a
    * single-partition window. `orderCols` must be a total order
    * (unique); uniqueness is what makes the numbering independent of
    * where the sampled range boundaries happen to land.
    *
    * How: range-repartition + in-partition sort on the order key, then
    * `zipWithIndex` over THAT rdd — one light job counting partition
    * sizes, one narrow map adding offsets; no row leaves its partition
    * a second time. zipWithIndex is used deliberately instead of a
    * two-branch DataFrame plan (offsets aggregate + join): both of its
    * passes run over the SAME RDD, whose range boundaries live in its
    * partitioner object — a two-branch plan only stays consistent
    * while exchange reuse happens to deduplicate the shuffle, since
    * RangePartitioner re-samples per execution. This is an
    * id-MATERIALIZATION operator: the result is RDD-backed, so apply
    * it where ids are assigned and persisted, not mid-plan.
    */
  def orderedIds(df: DataFrame, orderCols: Seq[String],
                 nPartitions: Int, idName: String = "row_id"): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(nPartitions > 0, "nPartitions must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val order = orderCols.map(col)
    val sorted = df.repartitionByRange(nPartitions, order: _*)
      .sortWithinPartitions(order: _*)
    val schema = sorted.schema.add(idName, LongType, nullable = false)
    val withIds = sorted.rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    sorted.sparkSession.createDataFrame(withIds, schema)
  }
}
