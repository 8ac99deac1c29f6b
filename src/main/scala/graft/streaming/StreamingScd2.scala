package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.Scd2
import graft.io.Parquet

/** Streaming maintenance of an SCD2 (Type-2) history — the streaming
  * face of [[graft.merge.Scd2]] for continuously-arriving journal
  * batches (§2c extension; the reference is batch-only).
  *
  * Unlike the roll-forward `__batch=` index sinks ([[StreamingDedup]]),
  * a history cannot be append-only: a new version must CLOSE the
  * previous open interval of its key. Rewriting the whole history per
  * micro-batch would be corpus-scale work, so the history is
  * hash-bucket-partitioned on the primary key (`__kb = pmod(xxhash64(
  * pks), nBuckets)`) and each batch rewrites ONLY the bucket
  * partitions its keys land in, via dynamic partition overwrite —
  * per-batch work is O(history of touched buckets), and a batch
  * touching k distinct keys touches at most k buckets no matter how
  * large the dimension has grown.
  *
  * Replay-safe: the rebuild input is `distinct()` of (retained
  * versions of touched buckets ∪ batch rows), so redelivering a batch
  * merges exact-duplicate version rows away and overwrites its own
  * partitions with identical content. A version row collapsed away by
  * `trackCols` on first delivery re-collapses on replay for the same
  * reason it did originally.
  */
object StreamingScd2 {

  val BucketCol = "__kb"

  /** The partition bucket of a key — deterministic, so a key's whole
    * history always lives in one partition directory.
    */
  def bucketOf(pks: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(pks.map(col): _*), lit(nBuckets))

  /** foreachBatch sink maintaining the bucket-partitioned SCD2 history
    * at `historyRoot`:
    * `stream.writeStream.foreachBatch(scd2Sink(root, Seq("id"))(_, _))`.
    * `nBuckets` sizes the partition grain: higher isolates hot keys
    * better (less rewrite amplification per batch), lower keeps file
    * counts down — at 100 TB pick nBuckets so a bucket's history is a
    * few hundred MB.
    */
  def scd2Sink(historyRoot: String, pks: Seq[String],
               trackCols: Seq[String] = Nil, nBuckets: Int = 64)
              (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val touched = batch.select(bucketOf(pks, nBuckets).as(BucketCol))
      .distinct().collect().map(_.getLong(0)).toSeq // ≤ nBuckets rows
    // cold start only while no bucket holds a data file; a committed
    // root is read, and a failed read throws before any bucket is
    // rewritten (treating it as empty would drop the older versions)
    val journal = Parquet.readIfPresent(spark, historyRoot).fold(batch.distinct())(
      _.where(col(BucketCol).isin(touched: _*))
        .drop(Scd2.ValidFrom, Scd2.ValidTo, Scd2.IsCurrent, BucketCol)
        .unionByName(batch).distinct())
    Scd2.history(journal, pks, trackCols)
      .withColumn(BucketCol, bucketOf(pks, nBuckets))
      .write.mode("overwrite")
      .partitionBy(BucketCol)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(historyRoot)
  }

  /** The maintained history, bucket column dropped — feed it to
    * [[graft.merge.Scd2.asOf]], or filter `Scd2.IsCurrent` for the
    * current rows. A
    * point-in-time read of ONE key can instead filter `__kb` first and
    * prune to a single partition directory.
    */
  def readHistory(spark: SparkSession, historyRoot: String): DataFrame =
    Parquet.read(spark, historyRoot).drop(BucketCol)
}
