package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.Sketches
import graft.io.Parquet

/** Streaming maintenance of a persisted THETA sketch index
  * ([[graft.ext.Sketches]]): per micro-batch, land the batch's
  * per-facet sketch in the batch's own partition; readers merge the
  * partitions into current estimates on demand. The sketch-stats
  * sibling of [[StreamingDedup]]'s digest indexes — the stream is
  * scanned once, corpus statistics stay queryable forever without
  * any re-scan, and two indexes (e.g. live corpus vs benchmark set)
  * compose through [[graft.ext.Sketches.overlap]].
  *
  * Replay contract: [[BatchRoot]] — a redelivered batch reproduces its
  * original partition byte-for-byte (theta sketches are deterministic
  * per value set). Unlike the dedup sinks there is no read-before-write
  * at all — batches only APPEND state, so no `__batch < batchId` probe
  * discipline is needed and micro-batches never contend.
  *
  * Scale shape: per batch, one map-side-combinable sketch aggregation
  * (only ~8·2^lgK-byte sketches land); the merge-on-read folds
  * (facets × batches) index rows — index-scale, not corpus-scale.
  * Partition-per-batch accretion is the small-files disease
  * [[StreamingDedup.compactIndex]] already cures; it applies to this
  * layout unchanged (fold old `__batch=` partitions, keep the latest
  * for replay-overwrite).
  */
object StreamingSketches {

  /** foreachBatch sink: write the batch's per-facet theta sketch under
    * `indexRoot/__batch=<batchId>`.
    */
  def thetaStatsSink(indexRoot: String, groupCols: Seq[String],
                     valueCol: String, lgK: Int = 12)
                    (batch: DataFrame, batchId: Long): Unit =
    BatchRoot.land(Sketches.thetaBuild(batch, groupCols, valueCol, lgK), indexRoot, batchId)

  /** Current per-facet sketch table of the whole stream history: merge
    * every batch partition down to one sketch per facet.
    */
  def currentSketches(spark: SparkSession, indexRoot: String,
                      groupCols: Seq[String], lgK: Int = 12): DataFrame =
    Sketches.thetaMerge(batches(spark, indexRoot), groupCols, lgK)

  /** Current per-facet distinct estimates of the whole stream history. */
  def currentEstimates(spark: SparkSession, indexRoot: String,
                       groupCols: Seq[String], lgK: Int = 12): DataFrame =
    Sketches.thetaEstimates(
      currentSketches(spark, indexRoot, groupCols, lgK), groupCols)

  // --- the same append-only sink shape for the OTHER two mergeable
  // --- sketch families: heavy hitters and quantiles.

  /** foreachBatch sink: the batch's per-facet frequent-items sketch
    * under `indexRoot/__batch=<batchId>` — running heavy-hitter
    * tracking over an unbounded stream in bounded state.
    */
  def freqStatsSink(indexRoot: String, groupCols: Seq[String],
                    valueCol: String, maxMapSize: Int = 256)
                   (batch: DataFrame, batchId: Long): Unit =
    BatchRoot.land(Sketches.freqBuild(batch, groupCols, valueCol, maxMapSize), indexRoot, batchId)

  /** Current per-facet top-k heavy hitters of the whole stream history. */
  def currentTopK(spark: SparkSession, indexRoot: String,
                  groupCols: Seq[String], k: Int,
                  maxMapSize: Int = 256): DataFrame =
    Sketches.freqTopK(
      Sketches.freqMerge(batches(spark, indexRoot), groupCols, maxMapSize), groupCols, k)

  /** foreachBatch sink: the batch's per-facet quantile sketch under
    * `indexRoot/__batch=<batchId>` — running percentile tracking
    * (latency/length distributions) without re-scanning history.
    */
  def quantStatsSink(indexRoot: String, groupCols: Seq[String],
                     valueCol: String, k: Int = 256)
                    (batch: DataFrame, batchId: Long): Unit =
    BatchRoot.land(Sketches.quantBuild(batch, groupCols, valueCol, k), indexRoot, batchId)

  /** Current per-facet quantile estimates of the whole stream history. */
  def currentQuantiles(spark: SparkSession, indexRoot: String,
                       groupCols: Seq[String], qs: Seq[Double],
                       k: Int = 256): DataFrame =
    Sketches.quantEstimates(
      Sketches.quantMerge(batches(spark, indexRoot), groupCols, k), groupCols, qs)

  /** Every landed batch's sketch rows, without the partition column. */
  private def batches(spark: SparkSession, indexRoot: String): DataFrame =
    Parquet.read(spark, indexRoot).drop("__batch")
}
