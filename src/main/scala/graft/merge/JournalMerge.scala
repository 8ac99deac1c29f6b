package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.config.MergeMode
import graft.io.{FileWarehouse, JdbcWarehouse, Warehouse}

/** Journal → master merge (reference: airflow_etl.py:131-223).
  *
  * Semantics reproduced exactly:
  *  - latest-record-wins dedup per primary key, ranked by
  *    `row_number() OVER (PARTITION BY <pks> ORDER BY __transform_dt
  *    DESC, __load_dt DESC, __seqno ASC)` (airflow_etl.py:170-173,
  *    :205-208). The reference runs this in Postgres, where DESC
  *    implies NULLS FIRST and ASC implies NULLS LAST — Spark's defaults
  *    differ, hence the explicit `desc_nulls_first` / `asc_nulls_last`.
  *  - `full` merge: truncate master, insert latest version per PK from
  *    the FULL journal (all record states; airflow_etl.py:154-178).
  *  - `delta` merge: delete master rows whose PK appears among ACTIVE
  *    (`__record_state='A'`) journal rows — `DELETE ... USING (SELECT
  *    DISTINCT pks ...)` ≡ left-anti join — then insert the latest
  *    version per PK of the active rows (airflow_etl.py:179-214).
  *  - afterwards, active journal rows are flipped to historical
  *    (`'A'` → `'H'`, airflow_etl.py:216-223), which deliberately makes
  *    delta merges non-idempotent.
  *
  * The Spark-native path expresses all of this as DataFrame ops (one
  * shuffle on the PK for the window; the delta delete is an anti-join
  * whose distinct-key side is usually small enough for AQE to
  * broadcast). For JDBC warehouses, [[mergeSql]] generates the
  * reference-equivalent statements so the merge can run inside the
  * warehouse without moving data.
  */
object JournalMerge {

  val TransformDt = "__transform_dt"
  val LoadDt = "__load_dt"
  val Seqno = "__seqno"
  val RecordState = "__record_state"
  val TechnicalColumns: Seq[String] = Seq(TransformDt, LoadDt, Seqno, RecordState)

  private val rankCol = "__graft_rnk"

  /** Skew knob: set the session conf `graft.merge.saltBuckets` to an
    * int > 1 and every production merge path ([[full]]/[[delta]], and
    * therefore [[run]]) routes its window dedup through
    * [[latestPerKeySalted]] — use when one PK carries a large share of
    * journal versions (a hot account re-written every batch) and the
    * single window partition becomes the straggler. Results are
    * identical to the unsalted path (same comparator, two-phase).
    *
    * `auto` MEASURES instead of guessing: one extra counting pass over
    * the journal keys ([[derivedSaltBuckets]], the
    * `graft.ext.Checks.skewStats` arithmetic) derives ceil(max/mean) —
    * the fan-out that levels the hottest key to an average-sized
    * window partition — and salts only when it exceeds 1. The explicit
    * opt-in prices the diagnosis pass against the straggler it
    * prevents.
    */
  val SaltBucketsConf = "graft.merge.saltBuckets"

  /** ceil(hottest-key share / mean-key share) of the journal — the
    * measured salt fan-out `auto` uses (exact integer arithmetic;
    * 1 means "no skew, don't salt").
    */
  def derivedSaltBuckets(journal: DataFrame, pks: Seq[String]): Int =
    graft.ext.Checks.skewStats(journal, pks)
      .select("salt_buckets").head().getLong(0).toInt

  private def configuredSaltBuckets(df: DataFrame, pks: Seq[String]): Int =
    df.sparkSession.conf.getOption(SaltBucketsConf) match {
      case Some("auto") => derivedSaltBuckets(df, pks)
      case Some(v) => v.toInt
      case None => 0
    }

  /** Dispatch: salted dedup when the session opts in, plain otherwise. */
  private def latest(journal: DataFrame, pks: Seq[String]): DataFrame = {
    val buckets = configuredSaltBuckets(journal, pks)
    if (buckets > 1) latestPerKeySalted(journal, pks, buckets)
    else latestPerKey(journal, pks)
  }

  /** Latest version of each key: the load-bearing window dedup. */
  def latestPerKey(journal: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "journal merge requires at least one primary-key column")
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(
        col(TransformDt).desc_nulls_first,
        col(LoadDt).desc_nulls_first,
        col(Seqno).asc_nulls_last)
    journal.withColumn(rankCol, row_number().over(w))
      .where(col(rankCol) === 1)
      .drop(rankCol)
  }

  /** Skew-safe variant of [[latestPerKey]] for journals with hot keys
    * (one PK receiving a large share of versions would pile into a
    * single window partition). Two phases with the SAME comparator:
    * local winners per (pk, salt) — `saltBuckets`-way fan-out of the
    * hot key — then the global winner per pk over the tiny winner set.
    * The salt is derived deterministically from the version columns, so
    * results are reproducible; winner equality with [[latestPerKey]]
    * holds whenever the comparator is total on the key's rows (exact
    * full-chain ties are broken arbitrarily in BOTH variants, matching
    * the reference's unordered row_number ties).
    */
  def latestPerKeySalted(journal: DataFrame, pks: Seq[String],
                         saltBuckets: Int = 32): DataFrame = {
    require(pks.nonEmpty, "journal merge requires at least one primary-key column")
    val saltCol = "__graft_salt"
    val salted = journal.withColumn(saltCol,
      pmod(xxhash64(col(TransformDt), col(LoadDt), col(Seqno)), lit(saltBuckets)))
    val localWinners = latestPerKey2(salted, pks :+ saltCol)
    latestPerKey2(localWinners, pks).drop(saltCol)
  }

  /** Window winner with the merge comparator over arbitrary partition cols. */
  private def latestPerKey2(df: DataFrame, partCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(
        col(TransformDt).desc_nulls_first,
        col(LoadDt).desc_nulls_first,
        col(Seqno).asc_nulls_last)
    df.withColumn(rankCol, row_number().over(w))
      .where(col(rankCol) === 1)
      .drop(rankCol)
  }

  /** New master content for merge_mode=full (airflow_etl.py:154-178). */
  def full(journal: DataFrame, pks: Seq[String]): DataFrame =
    latest(journal, pks)

  /** New master content for merge_mode=delta (airflow_etl.py:179-214). */
  def delta(master: DataFrame, journal: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "journal merge requires at least one primary-key column")
    val active = journal.where(col(RecordState) === "A")
    val changedKeys = active.select(pks.map(col): _*).distinct()
    val kept = master.join(changedKeys, pks, "left_anti")
    kept.unionByName(latest(active, pks).select(master.columns.map(col).toIndexedSeq: _*))
  }

  /** Post-merge record-state flip 'A' -> 'H' (airflow_etl.py:216-223). */
  def flip(journal: DataFrame): DataFrame =
    journal.withColumn(RecordState,
      when(col(RecordState) === "A", lit("H")).otherwise(col(RecordState)))

  /** Run the merge for `schema.table` against its `<table>__journal`,
    * including the record-state flip — the rebuild of
    * `merge_target_table` (airflow_etl.py:131-223). JDBC warehouses get
    * the SQL-pushdown path (merge runs inside the DB, like the
    * reference); other warehouses get native DataFrame ops.
    */
  def run(wh: Warehouse, schema: String, table: String, mode: MergeMode): Unit = wh match {
    case jdbc: JdbcWarehouse if jdbc.mergeInWarehouse =>
      val pks = jdbc.primaryKeys(schema, table)
      val cols = jdbc.columns(schema, table)
      mergeSql(schema, table, mode, pks, cols).foreach(jdbc.execute)
    case _ =>
      val journalTable = table + "__journal"
      val journal = wh.read(schema, journalTable)
      val pks = wh.primaryKeys(schema, table) match {
        case s if s.nonEmpty => s
        case _ => throw new IllegalStateException(
          s"no primary key registered for $schema.$table")
      }
      // one existence probe and one master read: the column list comes
      // from the same frame the delta merge reads
      val master = if (wh.exists(schema, table)) Some(wh.read(schema, table)) else None
      val cols = master.fold(journal.columns.toSeq)(_.columns.toSeq)
      val newMaster = mode match {
        case MergeMode.Full => full(journal, pks).select(cols.map(col): _*)
        case MergeMode.Delta =>
          delta(master.getOrElse(journal.where(lit(false)).select(cols.map(col): _*)), journal, pks)
      }
      wh.replace(newMaster, schema, table)
      wh.flipRecordState(schema, journalTable)
  }

  /** Reference-equivalent merge statements for in-warehouse execution
    * (generated SQL mirrors airflow_etl.py:154-223).
    */
  def mergeSql(schema: String, table: String, mode: MergeMode,
               pks: Seq[String], allCols: Seq[String]): Seq[String] = {
    require(pks.nonEmpty, "journal merge requires at least one primary-key column")
    val partitionCols = pks.map(c => s""""$c"""").mkString(", ")
    val allColumns = allCols.map(c => s""""$c"""").mkString(", ")
    val stmts = mode match {
      case MergeMode.Full => Seq(
        s"""truncate table $schema."$table"""",
        s"""INSERT INTO $schema."$table"
           |(
           |    SELECT $allColumns
           |    FROM (
           |        SELECT $allColumns,
           |            row_number() over (partition by $partitionCols
           |                               order by __transform_dt desc, __load_dt desc, __seqno asc) as rnk
           |        FROM $schema."${table}__journal"
           |    ) AS t1
           |    WHERE rnk = 1
           |)""".stripMargin)
      case MergeMode.Delta =>
        val conditions = pks.map(c => s"""t1."$c" = t2."$c"""").mkString(" and ")
        Seq(
          s"""DELETE FROM $schema."$table" AS t1
             |USING (
             |    SELECT DISTINCT $partitionCols
             |    FROM $schema."${table}__journal"
             |    WHERE __record_state = 'A'
             |) AS t2
             |WHERE ($conditions)""".stripMargin,
          s"""INSERT INTO $schema."$table"
             |(
             |    SELECT $allColumns
             |    FROM (
             |        SELECT $allColumns,
             |            row_number() over (partition by $partitionCols
             |                               order by __transform_dt desc, __load_dt desc, __seqno asc) as rnk
             |        FROM $schema."${table}__journal"
             |        WHERE __record_state = 'A'
             |    ) AS t1
             |    WHERE rnk = 1
             |)""".stripMargin)
    }
    stmts :+
      s"""UPDATE $schema."${table}__journal"
         |SET __record_state = 'H'
         |WHERE __record_state = 'A'""".stripMargin
  }
}
