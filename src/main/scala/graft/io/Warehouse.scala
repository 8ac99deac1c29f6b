package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The warehouse abstraction (the reference's Greenplum role).
  *
  * Two implementations:
  *  - [[FileWarehouse]]: parquet directories + the Spark catalog stand in
  *    for warehouse tables (test/lake-house deployments). Primary keys —
  *    which parquet lacks — live in a sidecar metadata dir, playing the
  *    role of `information_schema` introspection
  *    (reference: airflow_etl.py:110-129).
  *  - [[JdbcWarehouse]]: a real JDBC warehouse, reproducing the
  *    reference's psycopg2+JDBC split (execute via driver connection,
  *    bulk data via Spark JDBC; airflow_etl.py:14-38, connector.py:51-61).
  */
trait Warehouse {
  def spark: SparkSession
  def exists(schema: String, table: String): Boolean
  def read(schema: String, table: String): DataFrame
  /** Plain append (write_mode=append; connector.py:51-61). */
  def append(df: DataFrame, schema: String, table: String): Unit
  /** DDL-preserving overwrite: truncate then append
    * (write_mode=overwrite; airflow_etl.py:70-102, truncate :95-99).
    * Like the reference, the two phases are not one transaction.
    */
  def truncateAppend(df: DataFrame, schema: String, table: String): Unit
  /** Full atomic replace of a table's content (merge target write). */
  def replace(df: DataFrame, schema: String, table: String): Unit
  /** Whole-query pushdown returning rows (engine=warehouse select steps;
    * reference: airflow_etl.py:252-260, connector.py:38-39).
    */
  def query(sql: String): DataFrame
  /** Side-effect DDL/DML (migration + 'sql script' steps;
    * reference: airflow_etl.py:14-38, :593-625).
    */
  def execute(sql: String): Unit
  /** Column list in DDL order (reference: airflow_etl.py:110-129). */
  def columns(schema: String, table: String): Seq[String]
  /** Primary-key columns (reference: information_schema PK lookup). */
  def primaryKeys(schema: String, table: String): Seq[String]
  /** Post-merge journal flip `'A'` → `'H'`
    * (reference: airflow_etl.py:216-223). Generic fallback rewrites the
    * table; implementations override with something cheaper (the
    * FileWarehouse moves one partition, a JDBC warehouse runs UPDATE).
    */
  def flipRecordState(schema: String, table: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val df = read(schema, table)
    replace(
      df.withColumn("__record_state",
        when(col("__record_state") === "A", lit("H")).otherwise(col("__record_state"))),
      schema, table)
  }
}

/** Parquet-directory warehouse: `<root>/<schema>/<table>/` per table.
  * A replace writes a temp dir, then deletes the table dir and renames
  * the temp dir into place. A failed job leaves the old table as it
  * was, and a table can be read and replaced inside one Spark plan (the
  * temp write materializes the plan first). A process crash between
  * the delete and the rename is not safe: it leaves no table dir, and
  * the new data sits in `<table>__tmp_<id>` (ROADMAP item 9).
  */
final class FileWarehouse(val spark: SparkSession, val root: String) extends Warehouse {

  private def dir(schema: String, table: String) =
    s"${root.stripSuffix("/")}/${schema.toLowerCase}/${table.toLowerCase}"
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def exists(schema: String, table: String): Boolean = {
    val p = new Path(dir(schema, table)); fs(p).exists(p)
  }

  /** The table's parquet dir, its schema from one footer read on the
    * driver ([[Parquet.read]]): no Spark job until the frame runs.
    */
  override def read(schema: String, table: String): DataFrame =
    Parquet.read(spark, dir(schema, table))

  /** Journal-bearing frames (those with a `__record_state` column) are
    * written PARTITIONED by record state: the journal is append-only
    * and grows forever, so the post-merge `'A'`→`'H'` flip must never
    * rewrite history — with this layout it is a rename of the active
    * partition's files ([[flipRecordState]]), and the delta merge's
    * `WHERE __record_state='A'` becomes partition pruning instead of a
    * full-journal scan.
    */
  private def writer(df: DataFrame) = {
    val w = df.write
    if (df.columns.contains("__record_state")) w.partitionBy("__record_state") else w
  }

  override def append(df: DataFrame, schema: String, table: String): Unit = {
    writer(df).mode("append").parquet(dir(schema, table))
    refresh(schema, table)
  }

  override def truncateAppend(df: DataFrame, schema: String, table: String): Unit = {
    // preserve the "DDL": the existing column set must match by name
    if (exists(schema, table)) {
      val existing = read(schema, table).columns
      val incoming = df.columns.toSet
      require(existing.toSet == incoming,
        s"truncateAppend schema mismatch for $schema.$table: " +
          s"table has ${existing.mkString(",")}; data has ${df.columns.mkString(",")}")
      replace(df.select(existing.map(df.col).toIndexedSeq: _*), schema, table)
    } else replace(df, schema, table)
  }

  override def replace(df: DataFrame, schema: String, table: String): Unit = {
    val target = new Path(dir(schema, table))
    val tmp = new Path(dir(schema, table) + "__tmp_" + java.util.UUID.randomUUID().toString.take(8))
    val f = fs(target)
    writer(df).mode("overwrite").parquet(tmp.toString) // materializes the full plan
    if (f.exists(target) && !f.delete(target, true))
      throw new java.io.IOException(s"could not delete $target")
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"could not rename $tmp -> $target")
    refresh(schema, table)
  }

  override def query(sql: String): DataFrame = { syncCatalog(); spark.sql(sql) }
  override def execute(sql: String): Unit = { syncCatalog(); spark.sql(sql).collect(); () }

  /** Partition-move flip: rename `__record_state=A`'s files into
    * `__record_state=H` and drop the A directory — O(active files)
    * metadata ops, zero data rewritten, history untouched. At 100 TB
    * journal scale this is the difference between a constant-time merge
    * epilogue and rewriting the whole journal every run. Falls back to
    * the generic rewrite for tables in the legacy unpartitioned layout.
    */
  override def flipRecordState(schema: String, table: String): Unit = {
    val base = new Path(dir(schema, table))
    val f = fs(base)
    if (!f.exists(base)) return
    val aDir = new Path(base, "__record_state=A")
    val hDir = new Path(base, "__record_state=H")
    if (!f.exists(aDir)) {
      // no active partition: either already flipped (partitioned layout
      // present) or a legacy unpartitioned table -> generic rewrite
      if (!f.exists(hDir) &&
          read(schema, table).columns.contains("__record_state"))
        super.flipRecordState(schema, table)
      return
    }
    if (!f.exists(hDir)) f.mkdirs(hDir)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    f.listStatus(aDir).filter(_.isFile).zipWithIndex.foreach { case (st, i) =>
      val dest = new Path(hDir, s"flip-$stamp-$i-${st.getPath.getName}")
      if (!f.rename(st.getPath, dest))
        throw new java.io.IOException(s"could not move ${st.getPath} -> $dest")
    }
    if (!f.delete(aDir, true))
      throw new java.io.IOException(s"could not drop $aDir")
    refresh(schema, table)
  }

  override def columns(schema: String, table: String): Seq[String] =
    read(schema, table).columns.toSeq

  // ---- PK sidecar registry (information_schema stand-in) --------------
  private def pkPath(schema: String, table: String) =
    new Path(s"${root.stripSuffix("/")}/_meta/${schema.toLowerCase}.${table.toLowerCase}.pk")

  def registerPrimaryKey(schema: String, table: String, pks: Seq[String]): Unit = {
    val p = pkPath(schema, table)
    val f = fs(p)
    val out = f.create(p, true)
    try out.write(pks.mkString(",").getBytes("UTF-8")) finally out.close()
  }

  override def primaryKeys(schema: String, table: String): Seq[String] = {
    val p = pkPath(schema, table)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        new String(bytes.toByteArray, "UTF-8").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      } finally in.close()
    }
  }

  /** Register every `<schema>/<table>` parquet dir in the session
    * catalog so warehouse-engine SQL can use `schema.table`
    * identifiers, mirroring DB-side execution.
    *
    * Partitioned layouts (the `__record_state`-partitioned journals)
    * are registered as VIEWS over the path: a plain
    * `CREATE TABLE ... LOCATION` does NOT recurse into partition
    * directories — it would silently read ZERO rows — while a
    * path-based view re-runs partition discovery at query time (and
    * stays fresh across flips for free). Unpartitioned dirs stay
    * external tables (writable via INSERT, e.g. migration DML).
    */
  def syncCatalog(): Unit = {
    val rootPath = new Path(root)
    val f = fs(rootPath)
    if (!f.exists(rootPath)) return
    f.listStatus(rootPath).filter(s => s.isDirectory && s.getPath.getName != "_meta")
      .foreach { schemaDir =>
        val schema = schemaDir.getPath.getName
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `$schema`")
        f.listStatus(schemaDir.getPath).filter(_.isDirectory).foreach { tableDir =>
          val table = tableDir.getPath.getName
          if (!tableDir.getPath.getName.contains("__tmp_") &&
              !spark.catalog.tableExists(s"`$schema`.`$table`")) {
            val partitioned = f.listStatus(tableDir.getPath)
              .exists(s => s.isDirectory && s.getPath.getName.contains("="))
            if (partitioned)
              spark.sql(s"CREATE VIEW `$schema`.`$table` AS " +
                s"SELECT * FROM parquet.`${tableDir.getPath.toString}`")
            else
              spark.sql(s"CREATE TABLE `$schema`.`$table` USING PARQUET " +
                s"LOCATION '${tableDir.getPath.toString}'")
          }
        }
      }
  }

  private def refresh(schema: String, table: String): Unit = {
    val qualified = s"`${schema.toLowerCase}`.`${table.toLowerCase}`"
    if (spark.catalog.tableExists(qualified)) spark.catalog.refreshTable(qualified)
  }
}

/** JDBC-backed warehouse (production shape; mirrors the reference's
  * Greenplum handling). Bulk reads/writes go through Spark's JDBC source
  * with the reference's batch/fetch tuning knobs (connector.py:34-35,
  * :56-57); DDL/introspection go through a plain driver connection like
  * the reference's psycopg2 path (airflow_etl.py:14-38).
  */
final class JdbcWarehouse(val spark: SparkSession, conn: ConnInfo) extends Warehouse {

  /** Postgres-family warehouses run the merge in-database (the
    * reference contract); other dialects merge Spark-side via the
    * generic DataFrame path in JournalMerge.run.
    */
  def mergeInWarehouse: Boolean = conn.dialect == "postgres"

  private def reader = {
    val r = spark.read.format("jdbc")
      .option("url", conn.url)
      .option("user", conn.username)
      .option("password", conn.password)
      .options(conn.jdbcOptions) // dialect defaults + yaml `options:` extras
    conn.driver.fold(r)(d => r.option("driver", d))
  }
  private def withFetch(r: org.apache.spark.sql.DataFrameReader) =
    conn.fetchSize.fold(r)(n => r.option("fetchsize", n.toString))

  /** Table reads use the connection's partitioned-scan spec when set —
    * N parallel range-bounded connections instead of one full-table
    * pull (ConnInfo.partitionColumn).
    */
  override def read(schema: String, table: String): DataFrame =
    conn.applyPartitioning(withFetch(reader))
      .option("dbtable", s"$schema.$table").load()

  override def query(sql: String): DataFrame =
    withFetch(reader).option("query", sql).load()

  private def writer(df: DataFrame, dbtable: String) = {
    val w = df.write.format("jdbc")
      .option("url", conn.url)
      .option("user", conn.username)
      .option("password", conn.password)
      .options(conn.jdbcOptions)
      .option("dbtable", dbtable)
    conn.batchSize.fold(w)(n => w.option("batchsize", n.toString))
  }

  override def append(df: DataFrame, schema: String, table: String): Unit =
    writer(df, s"$schema.$table").mode("append").save()

  override def truncateAppend(df: DataFrame, schema: String, table: String): Unit = {
    execute(s"truncate table $schema.$table") // airflow_etl.py:95-99
    append(df, schema, table)
  }

  /** Replace must materialize BEFORE truncating: the incoming plan may
    * read from the very table being replaced (the Spark-side delta
    * merge does — master ∪ journal → new master), and a lazy plan
    * executed after TRUNCATE would read an empty table. The plan is
    * staged into a scratch table first (executors stream straight to
    * the warehouse — nothing is held in Spark memory, any data size
    * works), then swapped in with TRUNCATE + INSERT…SELECT run in ONE
    * transaction (autocommit off, single commit): a crash mid-swap
    * rolls back to the previous master instead of leaving it empty —
    * an empty master would make the NEXT delta merge silently drop
    * every unchanged key. Both Postgres-family and Derby support
    * transactional TRUNCATE/DDL; the reference runs its merge DML the
    * same way (airflow_etl.py run_sqls: one connection, one commit).
    */
  override def replace(df: DataFrame, schema: String, table: String): Unit = {
    val staging = table + "__graft_stg"
    writer(df, s"$schema.$staging").mode("overwrite").save() // drop/recreate scratch
    val cols = df.columns.map(c => s""""$c"""").mkString(", ")
    // TRUNCATE is transactional on Postgres-family and Derby, but
    // IMPLICITLY COMMITS on Oracle/MySQL — which would silently void the
    // all-or-nothing guarantee exactly where it matters (crash between
    // truncate and insert = empty master = next delta merge drops every
    // unchanged key). Dialects without transactional truncate use
    // DELETE, which is transactional everywhere (slower; the swap is
    // metadata-sized next to the staged bulk write either way).
    val clear =
      if (conn.dialect == "postgres" || conn.dialect == "generic")
        s"truncate table $schema.$table"
      else s"DELETE FROM $schema.$table"
    executeTransaction(Seq(
      clear,
      s"INSERT INTO $schema.$table ($cols) SELECT $cols FROM $schema.$staging",
      s"DROP TABLE $schema.$staging"))
  }

  override def execute(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(conn.url, conn.username, conn.password)
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  /** Run statements on ONE connection with autocommit off and a single
    * commit — all-or-nothing for multi-statement swaps.
    */
  def executeTransaction(sqls: Seq[String]): Unit = {
    val c = java.sql.DriverManager.getConnection(conn.url, conn.username, conn.password)
    try {
      c.setAutoCommit(false)
      try {
        val st = c.createStatement()
        try sqls.foreach(st.execute) finally st.close()
        c.commit()
      } catch {
        case e: Throwable =>
          try c.rollback() catch { case _: Throwable => () }
          throw e
      }
    } finally c.close()
  }

  /** In-warehouse flip — one UPDATE, no data movement through Spark
    * (reference: airflow_etl.py:216-223).
    */
  override def flipRecordState(schema: String, table: String): Unit =
    execute(
      s"""UPDATE $schema.$table
         |SET "__record_state" = 'H'
         |WHERE "__record_state" = 'A'""".stripMargin)

  override def exists(schema: String, table: String): Boolean =
    if (conn.dialect == "postgres")
      query(
        s"""select 1 as x from information_schema.tables
           | where table_schema = '$schema' and table_name = '$table'""".stripMargin)
        .limit(1).count() > 0
    else withMetaData { md =>
      val rs = md.getTables(null, schema, table, null)
      try rs.next() finally rs.close()
    }

  /** Driver-side JDBC metadata session (generic-dialect introspection —
    * standard `java.sql.DatabaseMetaData`, works on any JDBC database).
    */
  private def withMetaData[A](f: java.sql.DatabaseMetaData => A): A = {
    val c = java.sql.DriverManager.getConnection(conn.url, conn.username, conn.password)
    try f(c.getMetaData) finally c.close()
  }

  /** Reference introspection query, airflow_etl.py:110-129. */
  private def tableCols(schema: String, table: String): DataFrame =
    query(
      s"""select t1.column_name,
         |    case when t3.column_name is not null then 'Y' else 'N' end as is_primary,
         |    t1.ordinal_position
         |from information_schema.columns t1
         |left join information_schema.table_constraints t2
         |    on t2.table_schema = t1.table_schema
         |        and t2.table_name = t1.table_name
         |        and t2.constraint_type = 'PRIMARY KEY'
         |left join information_schema.key_column_usage t3
         |    on t3.constraint_name = t2.constraint_name
         |        and t3.table_schema = t2.table_schema
         |        and t3.table_name = t2.table_name
         |        and t3.column_name = t1.column_name
         |where t1.table_schema = '$schema'
         |    and t1.table_name = '$table'""".stripMargin)

  override def columns(schema: String, table: String): Seq[String] =
    if (conn.dialect == "postgres")
      tableCols(schema, table).orderBy("ordinal_position")
        .collect().map(_.getString(0)).toSeq
    else withMetaData { md =>
      val rs = md.getColumns(null, schema, table, null)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      try while (rs.next())
        buf += rs.getInt("ORDINAL_POSITION") -> rs.getString("COLUMN_NAME")
      finally rs.close()
      buf.sortBy(_._1).map(_._2).toSeq
    }

  override def primaryKeys(schema: String, table: String): Seq[String] =
    if (conn.dialect == "postgres")
      tableCols(schema, table).where("is_primary = 'Y'").orderBy("ordinal_position")
        .collect().map(_.getString(0)).toSeq
    else withMetaData { md =>
      val rs = md.getPrimaryKeys(null, schema, table)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
      try while (rs.next())
        buf += rs.getShort("KEY_SEQ") -> rs.getString("COLUMN_NAME")
      finally rs.close()
      buf.sortBy(_._1).map(_._2).toSeq
    }
}
