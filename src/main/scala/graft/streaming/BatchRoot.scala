package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.io.Parquet

/** The `__batch=<id>` partition-root layout every per-batch sink in
  * this package lands into, written once.
  *
  * Replay contract: a micro-batch lands each of its outputs in its own
  * Hive-style partition directory `root/__batch=<id>` ([[dir]]) as an
  * idempotent overwrite that partition discovery folds into whole-root
  * reads, and a sink that reads its own accreted state sees STRICTLY
  * EARLIER batches only ([[prior]]) — exactly the state the batch saw
  * on its first delivery, so re-delivering a batch id after a failure
  * reproduces its original output even if later partitions already
  * exist on disk; a root with no committed partition is a cold start.
  * [[StreamingDedup.compactIndex]] folds the accreted partitions
  * without changing any probe.
  *
  * Single-writer contract: ONE live writer per root. Redelivery of a
  * batch overwrites its own directory (that's the replay idempotence),
  * and two strictly-sequential writers racing the same batch id
  * resolve last-writer-wins at directory grain — the overwrite
  * replaces the whole partition, so the state stays internally
  * consistent either way. What CANNOT be repaired is two writers
  * INTERLEAVING inside one directory: Spark's overwrite is
  * delete-then-commit, so a torn pair can land a mix of both jobs'
  * files. [[land]] detects that tear and fails loudly — detection, not
  * repair; re-run quiesced.
  */
private[graft] object BatchRoot {

  /** The batch's own partition directory under `root`. */
  def dir(root: String, id: Long): String = s"$root/__batch=$id"

  /** Every `__batch=` partition id under `root`, ascending. */
  def batchIds(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("__batch=")).map(_.stripPrefix("__batch=").toLong).sorted
  }

  /** The strictly-earlier state of `root` as seen by batch `batchId`,
    * or `None` (cold start) while no partition holds a visible data
    * file ([[Parquet.readIfPresent]]). Bare existence is not enough: an
    * empty root, or one holding only a crashed write's hidden
    * `_temporary`, would make the read throw on every redelivery and
    * wedge the stream.
    */
  def prior(spark: SparkSession, root: String, batchId: Long): Option[DataFrame] =
    Parquet.readIfPresent(spark, root).map(_.where(col("__batch") < batchId))

  /** `df` cached for the duration of `body`. A lost executor
    * recomputes the cut from the replayable micro-batch.
    */
  def cached[T](df: DataFrame)(body: => T): T =
    try { df.cache(); body } finally df.unpersist()

  /** Land `df` as `root/__batch=<id>` with a post-commit loss check: the
    * directory is re-counted right after the commit against the row
    * count observed DURING the write (no second scan of the data). The
    * check is itself check-then-act (a clean overwrite AFTER it still
    * wins), which is exactly the stated last-writer-wins grain.
    */
  def land(df: DataFrame, root: String, id: Long): Unit = {
    val d = dir(root, id)
    val staged = graft.exec.RunLedger.countDuring(df)(
      _.write.mode("overwrite").parquet(d))
    verify(df.sparkSession, d, staged)
  }

  /** The loss check alone, to re-verify a landing after the fact. */
  def verify(spark: SparkSession, dir: String, staged: Long): Unit = {
    val landed = Parquet.read(spark, dir).count()
    if (landed != staged)
      throw new IllegalStateException(
        s"batch landing at $dir holds $landed rows where $staged were staged — " +
          "a concurrent writer tore this batch directory (the roll-forward " +
          "contract is single-writer per root); re-run the stream quiesced")
  }

  /** Reject a batch carrying a column `sink` owns for its accounting. */
  def reserve(batch: DataFrame, sink: String, cols: String*): Unit =
    cols.foreach(c => require(!batch.columns.contains(c),
      s"$sink reserves the '$c' column; rename it on the incoming stream"))
}
