package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Per-run operational ledger — the audit/lineage record the reference
  * got for free from Airflow's task-instance metadata (task id, run
  * date, duration in the scheduler DB; airflow_etl.py delegates all of
  * it), landed here as plain parquet so it scales, survives engine
  * restarts, and queries like any other table.
  *
  * One row per completed task run: the task id, what was read (the
  * dependency aliases / source identifier and the watermark predicate
  * applied, if any), rows landed, where they landed, and wall time.
  * The row is appended AFTER the task's own writes succeed, so the
  * ledger reads as "what actually landed" — a failed run leaves no
  * row, and a re-run appends a fresh row (run history, not state).
  *
  * Location: `<dumpDir>/_graft_run_ledger` by default — the same
  * durable root as the step cache (the reference's `s3a://dump/etl`,
  * airflow_etl.py:226-228), so the pipeline's operational state lives
  * in one place; point `EtlContext.ledgerDir` anywhere else (e.g. the
  * lake root) to relocate it.
  *
  * Row counts come from `Dataset.observe` metrics collected DURING the
  * landing write itself — never from a second scan of the data, which
  * at 100 TB would double the extract cost.
  *
  * Every append lands as ONE parquet file of its own and runs no Spark
  * job: the rows are already on the driver, so they go straight
  * through Spark's own parquet writer factory (the one its write tasks
  * use, so the file format is exactly a `df.write.parquet` file) into a
  * hidden `.part-<uuid>…inprogress` name, then are renamed to
  * `part-00000-<uuid>-c000.snappy.parquet` — the temp-then-rename of
  * [[graft.io.Watermarks.set]]. Readers never see a torn file (a crash
  * leaves only hidden residue, which Spark's listing and [[compact]]
  * skip), and concurrent appends — the tasks of one
  * `Tasks.runDag(parallelism > 1)` sharing a ledger dir — never share
  * a staging directory, so none of them can fail or lose a row.
  */
object RunLedger {

  /** Ledger directory name (underscore-prefixed like Spark's own
    * metadata files, so data-path listings skip it).
    */
  val DirName = "_graft_run_ledger"

  /** The context's resolved ledger directory. */
  def dirFor(ctx: EtlContext): String =
    ctx.ledgerDir.getOrElse(s"${ctx.dumpDir.stripSuffix("/")}/$DirName")

  final case class Entry(
      task_id: String,
      kind: String, // extract | transform
      inputs: Seq[String], // dependency aliases / source identifiers
      watermark: Option[String], // delta predicate or REPORT_DATE, if any
      rows_out: Long,
      landed_path: String,
      started_ms: Long,
      wall_ms: Long)

  /** Append one run row (one tiny parquet file per run, no Spark job;
    * [[compact]] folds the accretion on whatever cadence the scheduler
    * prefers).
    */
  def append(spark: SparkSession, dir: String, e: Entry): Unit = {
    import spark.implicits._
    landLocal(Seq(e).toDF(), dir)
  }

  /** The full run history, newest first. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir).orderBy(col("started_ms").desc)

  /** Ledger maintenance: fold the one-tiny-file-per-run appends into
    * `ceil(bytes/targetBytes)` files (usually ONE for years of runs —
    * a ledger row is a few hundred bytes). Call on a cadence from
    * whatever schedules the tasks — e.g. a nightly [[EtlTask]] of its
    * own — if a high-frequency scheduler accretes enough appends for
    * listing cost to show. Returns the data-file count after
    * compaction.
    *
    * The swap is staging + rename like
    * [[graft.ext.Layout.compactParquet]], but with the ledger's own
    * loss DETECTION: an append racing the staging read would land its
    * file among the originals and miss the rewrite, silently dropping
    * a run row — so before the originals are discarded their rows are
    * counted against the staged count (both counts ride frames this
    * size reads in milliseconds), and on mismatch the originals are
    * RESTORED and the call fails loudly. The swap window itself is
    * guarded too: if an append recreates the directory between the
    * two renames, or lands after the swap on the mismatch path, the
    * unexpected directory is moved ASIDE (never deleted) and the
    * error names where its files went. Prefer quiesced compaction
    * anyway; this turns the documented races from silent loss into
    * recoverable errors.
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, "targetBytes must be positive")
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(d)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (n == dataFiles.length) return n // already at target: no-op
    val tmp = new Path(dir.stripSuffix("/") + "__compact_tmp")
    val old = new Path(dir.stripSuffix("/") + "__compact_old")
    val src = Parquet.read(spark, dir)
    // the staged row count rides the staging write itself (no re-scan)
    val staged = countDuring(
      if (n < dataFiles.length) src.coalesce(n) else src.repartition(n))(
      _.write.mode("overwrite").parquet(tmp.toString))
    fs.delete(old, true)
    if (!fs.rename(d, old)) {
      fs.delete(tmp, true)
      throw new IllegalStateException(s"ledger compaction swap failed for $dir (original untouched)")
    }
    // an append landing between the two renames recreates d; renaming
    // tmp into an EXISTING dir would nest the staged files where the
    // reader never sees them (Hadoop rename-into-dir semantics) while
    // the count check still passes — so move the raced appends aside
    // (never delete them) and restore before swapping in the staging
    if (fs.exists(d)) {
      val raced = new Path(dir.stripSuffix("/") + s"__compact_raced_${System.nanoTime()}")
      fs.rename(d, raced)
      fs.delete(tmp, true)
      if (!fs.rename(old, d))
        throw new IllegalStateException(
          s"ledger compaction raced an append during the swap AND the restore " +
            s"rename failed: originals are at $old, raced appends at $raced, recover manually")
      throw new IllegalStateException(
        s"ledger compaction raced an append during the swap; originals restored, " +
          s"raced appends moved to $raced — merge them back and re-run quiesced")
    }
    // names of the staged files, captured BEFORE the swap — the
    // post-rename check below compares against these
    val stagedNames = fs.listStatus(tmp).map(_.getPath.getName).toSet
    if (!fs.rename(tmp, d)) {
      fs.rename(old, d)
      throw new IllegalStateException(s"ledger compaction swap failed for $dir (original restored)")
    }
    // the exists() guard above is check-then-act: an append recreating
    // d between the check and the rename makes HDFS-style rename nest
    // tmp INSIDE d (dir-onto-existing-dir semantics), where the
    // live==staged row check would still pass and the delete below
    // would destroy the originals. So verify d now holds EXACTLY the
    // staged entries — any extra child (the raced append's files, or
    // the nested tmp directory itself) means the swap raced.
    val postSwap = fs.listStatus(d)
    if (postSwap.exists(_.isDirectory) ||
      postSwap.map(_.getPath.getName).toSet != stagedNames) {
      val aside = new Path(dir.stripSuffix("/") + s"__compact_raced_${System.nanoTime()}")
      fs.rename(d, aside)
      if (!fs.rename(old, d))
        throw new IllegalStateException(
          s"ledger compaction raced an append during the swap AND the restore rename " +
            s"failed: originals are at $old, post-swap files at $aside, recover manually")
      throw new IllegalStateException(
        s"ledger compaction raced an append during the swap (directory contents " +
          s"diverged from the staged file set); originals restored, post-swap files " +
          s"moved to $aside — merge them back and re-run quiesced")
    }
    val live = Parquet.read(spark, old.toString).count()
    if (live != staged) {
      // d holds the staged rewrite PLUS any append that landed after
      // the swap — move it aside intact rather than deleting it
      val aside = new Path(dir.stripSuffix("/") + s"__compact_raced_${System.nanoTime()}")
      fs.rename(d, aside)
      if (!fs.rename(old, d))
        throw new IllegalStateException(
          s"ledger compaction raced an append AND the restore rename failed: " +
            s"originals are at $old ($live rows), post-swap files at $aside, recover manually")
      throw new IllegalStateException(
        s"ledger compaction raced an in-flight append ($live rows live vs " +
          s"$staged staged); originals restored, post-swap files moved to $aside " +
          s"— re-run while appends are quiesced")
    }
    fs.delete(old, true)
    fs.listStatus(d).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** Sibling table for [[Tasks.runDag]] executions: one row per task
    * per DAG run — succeeded/failed/skipped, attempts made, the
    * nearest blocking upstreams for skips, the error class/message for
    * failures, and wall timing. This is the Airflow task-instance
    * record: the run ledger above answers "what data landed", this
    * answers "what did the scheduler decide and why". Written as ONE
    * append per DAG run by [[Tasks.runDag]] when a [[DagRecord]] is
    * passed, into the [[DagRecord]]'s `dir` (conventionally
    * `<dumpDir>/_graft_dag_runs`). Compact with [[compact]] like the
    * run ledger.
    */
  final case class DagEntry(
      run_id: String,
      task_id: String,
      status: String, // succeeded | failed | skipped
      attempts: Int, // attempts actually made (retries + 1 max); 0 for skipped
      blocked_by: Seq[String], // nearest non-succeeded upstreams (skipped only)
      error_class: Option[String], // exception class (failed only)
      error_msg: Option[String],
      started_ms: Option[Long], // first attempt's epoch ms (ran tasks only)
      wall_ms: Option[Long]) // whole attempt sequence

  /** Append a DAG run's outcome rows (one small file per run, no
    * Spark job).
    */
  def appendDagRun(spark: SparkSession, dir: String,
                   entries: Seq[DagEntry]): Unit = {
    import spark.implicits._
    landLocal(entries.toDF(), dir)
  }

  /** Land a driver-local frame of ledger rows, plus its `started_at`
    * timestamp, as one parquet file in `dir` without a Spark job (see
    * the object doc). The frame is a local relation, so collecting its
    * physical plan runs nothing; the file is written under a hidden
    * name and renamed into place, and a failed write removes it.
    */
  private def landLocal(rows: DataFrame, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val spark = rows.sparkSession
    val plan = rows.withColumn("started_at", timestamp_millis(col("started_ms")))
      .queryExecution.executedPlan
    val data = plan.executeCollect()
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, plan.schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(task)}"
    val target = new Path(dir, name)
    val tmp = new Path(dir, s".$name.inprogress")
    val fs = target.getFileSystem(job.getConfiguration)
    try {
      val out = factory.newInstance(tmp.toString, plan.schema, task)
      try data.foreach(out.write) finally out.close()
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"ledger append rename failed: $tmp -> $target")
    } catch {
      case e: Throwable =>
        scala.util.Try(fs.delete(tmp, false))
        throw e
    }
  }

  /** The full DAG-run history, newest first (skips carry no timing and
    * sort last within their run).
    */
  def readDagRuns(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir).orderBy(col("started_ms").desc_nulls_last)

  /** Run `write` on the observed frame and return the rows it landed —
    * the count rides the write's own pass (no second scan).
    */
  private[graft] def countDuring(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows_out")))
    obs.get("rows_out").asInstanceOf[Long]
  }
}
