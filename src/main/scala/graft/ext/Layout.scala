package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Data-layout operators for the lake side of the pipeline
  * (beyond-reference scope, SURVEY.md §2c): multi-dimensional
  * clustering so file-level min/max statistics prune scans on MORE
  * than the partition column.
  *
  * Why it matters at 100 TB: a table range-sorted on one column skips
  * beautifully on that column and not at all on any other. Z-ORDERING
  * interleaves the bits of several range-scaled columns into one sort
  * key (a Morton curve), so rows close in the multi-dimensional space
  * land in the same files — every z-ordered dimension gets partial
  * skipping from ordinary parquet min/max stats, with no format
  * extension (the same trick Delta/Iceberg OPTIMIZE ZORDER applies).
  */
object Layout {

  /** Morton code from already-scaled long ranks (0..2^bits−1 each) —
    * the raw building block; see [[zOrderBy]] for the end-to-end op.
    */
  def zValue(scaledCols: Seq[Column], bitsPerCol: Int): Column =
    graft.functions.ArrayExprs.interleaveBits(scaledCols, bitsPerCol)

  /** Compact a parquet directory's files toward `targetBytes` each —
    * the small-files cure. At 100 TB, a lake that accretes appends ends
    * up with millions of KB-sized files: every one costs a listing
    * entry, an open, a footer parse, and a scheduler task, so planning
    * starts to dominate scanning. Compaction sizes the output from the
    * DATA: the current byte total comes from a filesystem listing (a
    * metadata op, no scan), the file count is `ceil(bytes/target)`, and
    * the rewrite is `coalesce` when shrinking (narrow — no shuffle) or
    * a `repartition` when files must split. Pass `sortCols` to also
    * range-cluster while rewriting (one shuffle, buys min/max skipping
    * — for multi-column clustering use [[zOrderBy]] instead).
    *
    * The swap is write-to-staging + two directory renames; production
    * table formats (Iceberg/Delta) make this step transactional —
    * documented non-atomic here, same as any direct-to-parquet lake.
    * Returns the number of data files after compaction.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetBytes: Long = 128L << 20,
                     sortCols: Seq[String] = Nil): Int = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, "targetBytes must be positive")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (sortCols.isEmpty && n == dataFiles.length) {
      // already at the target file count and no re-clustering asked:
      // a scheduled compactor must not pay a full rewrite for a no-op
      n
    } else {
      val src = Parquet.read(spark, path)
      val rewritten =
        if (sortCols.nonEmpty)
          src.repartitionByRange(n, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else if (n < dataFiles.length) src.coalesce(n)
        else src.repartition(n)
      val tmp = new Path(path.stripSuffix("/") + "__compact_tmp")
      val old = new Path(path.stripSuffix("/") + "__compact_old")
      rewritten.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true)
      if (!fs.rename(dir, old)) {
        fs.delete(tmp, true)
        throw new IllegalStateException(s"compaction swap failed for $path (original untouched)")
      }
      if (!fs.rename(tmp, dir)) {
        // restore the original so the table path never stays missing
        fs.rename(old, dir)
        throw new IllegalStateException(s"compaction swap failed for $path (original restored)")
      }
      fs.delete(old, true)
      fs.listStatus(dir).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    }
  }

  /** Rewrite `df` in z-order on `cols` (numeric/date/timestamp):
    * each column is linearly range-scaled to `bitsPerCol` bits using
    * its global min/max (ONE tiny extra aggregate — a pair of scalars
    * per column, broadcast into the projection), codes are interleaved,
    * and the frame is range-repartitioned + sorted on the code so each
    * output file covers a compact z-curve segment.
    *
    * Cost shape: one scalar agg scan + one range shuffle — the same
    * price as a plain global sort, but buying skipping on ALL `cols`.
    * Degenerate columns (min = max) scale to 0 and drop out of the
    * curve harmlessly. NULLs sort first as the "unknown" bucket.
    */
  def zOrderBy(df: DataFrame, cols: Seq[String], nPartitions: Int,
               bitsPerCol: Int = 16): DataFrame = {
    require(cols.nonEmpty, "z-order needs at least one column")
    require(cols.length * bitsPerCol <= 63,
      s"${cols.length} cols x $bitsPerCol bits exceed one long; lower bitsPerCol")
    // date/timestamp columns cannot cast to double directly — go
    // through their integral epoch representation first
    def numeric(c: String): Column = {
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      // resolve the dtype case-insensitively, matching the analyzer's
      // default resolution of col(c) (exact schema(c) lookup would
      // reject a case-mismatched name the query itself accepts)
      val dtype = df.schema.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType).getOrElse(df.schema(c).dataType)
      dtype match {
        case DateType => unix_date(col(c))
        case TimestampType => unix_micros(col(c))
        // NTZ lacks a direct epoch fn; the TZ reinterpretation is a
        // constant shift — monotonic, which is all a sort key needs
        case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
        case _ => col(c)
      }
    }
    val aggs = cols.flatMap(c => Seq(
      min(numeric(c)).cast("double").as(s"__min_$c"),
      max(numeric(c)).cast("double").as(s"__max_$c")))
    // single-row aggregate: 2·|cols| scalars fetched to the driver to
    // become plan literals (same class as a convergence count — not a
    // data collect)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val maxCode = (1L << bitsPerCol) - 1
    val scaled = cols.map { c =>
      val lo = row.getAs[Double](s"__min_$c")
      val hi = row.getAs[Double](s"__max_$c")
      if (lo >= hi) lit(0L) // constant column: no locality to encode
      else ((numeric(c).cast("double") - lo) / (hi - lo) * maxCode)
        .cast("long")
    }
    df.withColumn("__z", zValue(scaled, bitsPerCol))
      .repartitionByRange(nPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
