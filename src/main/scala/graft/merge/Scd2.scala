package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension history on top of the journal
  * contract (reference journal semantics: airflow_etl.py:131-223).
  *
  * [[JournalMerge]] keeps only the LATEST version per key — the
  * reference's master-table shape. A warehouse also needs the classic
  * SCD2 view of the same journal: every retained version as an
  * interval row `[__valid_from, __valid_to)` with `__is_current` on
  * the open one, so "what did this dimension look like on date D"
  * is a filter, not a journal replay.
  *
  * Version order per key is the exact REVERSE of the merge comparator
  * (`__transform_dt` ASC NULLS LAST, `__load_dt` ASC NULLS LAST,
  * `__seqno` DESC NULLS FIRST — the reference ranks `__seqno` ASC as
  * latest-first, so chronological is seqno-descending). That makes
  * the two views consistent by construction: the last interval row
  * equals [[JournalMerge.latestPerKey]]'s winner (MergeSpec pins it).
  *
  * Scale shape: one shuffle on the PK for the per-key windows (the
  * same partitioning serves the collapse lag and the interval lead —
  * Catalyst reuses the sort); only journal rows for the key ever meet,
  * never the corpus. [[merge]] rolls a persisted history forward from
  * a delta batch touching ONLY the batch's keys (anti/semi join on the
  * PK; the untouched majority of a 100 TB dimension is never rewritten).
  */
object Scd2 {

  val ValidFrom = "__valid_from"
  val ValidTo = "__valid_to"
  val IsCurrent = "__is_current"

  import JournalMerge.{LoadDt, Seqno, TransformDt}

  private val prevCol = "__graft_prev"

  /** Chronological (oldest-first) per-key window: reverse of the merge
    * comparator, so "last in this order" == the merge winner.
    */
  private def chrono(pks: Seq[String]) =
    Window.partitionBy(pks.map(col): _*)
      .orderBy(
        col(TransformDt).asc_nulls_last,
        col(LoadDt).asc_nulls_last,
        col(Seqno).desc_nulls_first)

  /** Build the SCD2 history of a journal: one row per RETAINED version
    * with `__valid_from` (the version's `__transform_dt`), `__valid_to`
    * (the next retained version's, NULL while open) and `__is_current`.
    *
    * `trackCols` are the attributes whose change opens a new interval:
    * a version whose tracked values are null-safely equal to its
    * chronological predecessor's is collapsed away (classic SCD2 —
    * untracked attributes ride along on the change row). Empty
    * `trackCols` retains every version.
    *
    * The journal's version columns stay in the output so a persisted
    * history can be rolled forward by [[merge]] without the original
    * journal.
    */
  def history(journal: DataFrame, pks: Seq[String],
              trackCols: Seq[String] = Nil): DataFrame = {
    require(pks.nonEmpty, "Scd2.history: need at least one primary-key column")
    val w = chrono(pks)
    val retained =
      if (trackCols.isEmpty) journal
      else {
        val tracked = struct(trackCols.map(col): _*)
        journal.withColumn(prevCol, lag(tracked, 1).over(w))
          .where(col(prevCol).isNull || !(struct(trackCols.map(col): _*) <=> col(prevCol)))
          .drop(prevCol)
      }
    retained
      .withColumn(ValidFrom, col(TransformDt))
      .withColumn(ValidTo, lead(col(TransformDt), 1).over(chrono(pks)))
      .withColumn(IsCurrent, col(ValidTo).isNull)
  }

  /** Point-in-time read: the version of each key valid AT `ts`
    * (`__valid_from <= ts < __valid_to`, open interval included).
    * `asOf(history(j, pks), lit(null))` is empty; at +infinity it is
    * exactly the current rows.
    */
  def asOf(history: DataFrame, ts: Column): DataFrame =
    history.where(col(ValidFrom) <= ts &&
      (col(ValidTo).isNull || ts < col(ValidTo)))

  /** Roll a persisted history forward from a new journal batch: keys
    * untouched by the batch pass through untouched; each touched key is
    * rebuilt from its RETAINED versions plus the batch rows (the
    * retained set preserves every value-change boundary, so for
    * batches that respect the journal contract — versions per key
    * arriving in chronological order — this is EXACTLY the history of
    * the concatenated journal; MergeSpec pins the equivalence. A
    * late row older than a collapsed-away duplicate may differ from a
    * full rebuild, which the monotone contract excludes).
    */
  def merge(existing: DataFrame, journal: DataFrame, pks: Seq[String],
            trackCols: Seq[String] = Nil): DataFrame = {
    require(pks.nonEmpty, "Scd2.merge: need at least one primary-key column")
    val keys = journal.select(pks.map(col): _*).distinct()
    val untouched = existing.join(keys, pks, "left_anti")
    val touchedVersions = existing.join(keys, pks, "left_semi")
      .drop(ValidFrom, ValidTo, IsCurrent)
    val rebuilt = history(
      touchedVersions.unionByName(
        journal.select(touchedVersions.columns.map(col).toIndexedSeq: _*)),
      pks, trackCols)
    untouched.unionByName(rebuilt)
  }
}
