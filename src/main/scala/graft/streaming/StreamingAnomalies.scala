package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.TimeSeries
import graft.io.Parquet

/** Streaming front-end for the rolling-anomaly monitor (§2c): daily
  * counts accumulate per micro-batch, the published report always
  * equals `TimeSeries.dailyAnomalies` over everything seen — the same
  * stream ≡ batch contract StreamingMerge keeps for the journal merge.
  *
  * Scale notes: what persists per batch is the batch's OWN (key, day)
  * partial counts — a few rows per active key, never raw events; the
  * report recompute reads partial counts only (days × keys rows), so
  * its cost tracks the series length, not the stream volume. The
  * partials dir gains one `batch_id=` directory per batch; nothing
  * here compacts it.
  */
object StreamingAnomalies {

  /** Watermarked native streaming daily counts (update mode): one
    * tumbling 1-day window per key — the pure-streaming half, useful
    * alone when only live counts are needed.
    *
    * Day attribution contract: tumbling windows align to UTC midnight,
    * while `cast('date')` (the batch half and [[reportToDir]]) follows
    * the SESSION timezone — the two agree only in a UTC session, so a
    * non-UTC session is rejected up front instead of mislabeling every
    * day by one near midnight. Every session this library builds
    * (Verify/Bench/tests) is UTC.
    */
  def dailyCounts(events: DataFrame, keyCol: String, tsCol: String,
                  watermarkDelay: String = "1 day"): DataFrame = {
    val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"dailyCounts buckets by UTC day; session timezone is '$tz' — set spark.sql.session.timeZone=UTC")
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), window(col(tsCol), "1 day").as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("__w.start").cast("date").as("day"),
        col("n_events"))
  }

  /** Micro-batch bridge: persist this batch's partial daily counts
    * under a batch-id-scoped subdirectory, then publish the full
    * anomaly report over ALL accumulated counts to `reportDir`. Use as
    * `stream.writeStream.foreachBatch(StreamingAnomalies.reportToDir(...))`.
    *
    * Replay-safe: foreachBatch is at-least-once — after a crash
    * between the write and the offset commit, the SAME batch id is
    * re-delivered. Writing `batch_id=<id>` with overwrite makes the
    * retry land on the first attempt's partials instead of doubling
    * them (the batch-id partition column that discovery adds to reads
    * is inert — the re-sum groups only on key and day).
    */
  def reportToDir(countsDir: String, reportDir: String,
                  keyCol: String, tsCol: String,
                  window: Int = 7, zThreshold: Double = 2.0)
                 (batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      batch
        .select(col(keyCol), col(tsCol).cast("date").as("day"))
        .groupBy(col(keyCol), col("day"))
        .agg(count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(s"$countsDir/batch_id=$batchId")
      val all = Parquet.read(batch.sparkSession, countsDir)
      TimeSeries.dailyAnomalies(
        TimeSeries.resampleFromDailyCounts(all, keyCol),
        keyCol, window = window, zThreshold = zThreshold)
        .write.mode("overwrite").parquet(reportDir)
    }
  }
}
