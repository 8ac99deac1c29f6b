package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Diff
import graft.io.Parquet

/** Streaming COMPOSITION-DRIFT monitor: per micro-batch, land the
  * batch's band counts ([[graft.ext.Diff.bandCounts]]) in the batch's
  * own partition; readers fold the history into current counts on
  * demand and compare against a persisted BASELINE snapshot with
  * [[graft.ext.Diff.bandDriftFromCounts]] — "is this week's ingest
  * shifting the corpus mixture?" answered continuously, without ever
  * re-scanning either corpus. The drift sibling of
  * [[StreamingSketches]]: same append-only `__batch=<id>` layout, same
  * [[BatchRoot]] replay contract (counts are deterministic per batch),
  * same [[StreamingDedup.compactIndex]] small-files cure.
  *
  * Scale shape: per batch one map-side-combined count aggregate (band
  * cardinality rows land, never documents); merge-on-read folds
  * (bands × batches) rows — index-scale. Band counts are
  * sum-mergeable, so fold-then-compare is EXACT, not approximate:
  * the streamed drift report equals the batch [[graft.ext.Diff.bandDrift]]
  * over the same history by arithmetic, and StreamingSpec pins it.
  */
object StreamingDrift {

  /** foreachBatch sink: write the batch's (band, n) counts under
    * `indexRoot/__batch=<batchId>`.
    */
  def bandCountsSink(indexRoot: String, bandCol: String)
                    (batch: DataFrame, batchId: Long): Unit =
    BatchRoot.land(Diff.bandCounts(batch, bandCol), indexRoot, batchId)

  /** Current per-band counts of the whole stream history: sum every
    * batch partition (exact — counts are sum-mergeable).
    */
  def currentCounts(spark: SparkSession, indexRoot: String): DataFrame =
    Parquet.read(spark, indexRoot).drop("__batch")
      .groupBy("band").agg(sum(col("n")).as("n"))

  /** Current drift report of the stream history vs a baseline counts
    * frame ([[graft.ext.Diff.bandCounts]]-shaped, e.g. read from the
    * baseline corpus's own persisted counts).
    */
  def currentDrift(spark: SparkSession, indexRoot: String,
                   baselineCounts: DataFrame): DataFrame =
    Diff.bandDriftFromCounts(baselineCounts, currentCounts(spark, indexRoot))
}
