package graft.exec

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config._
import graft.io.{Connections, Lake, Parquet, Warehouse}
import graft.merge.JournalMerge

/** Execution context for a pipeline run — collapses the reference's
  * Airflow variables / connections / SparkSession plumbing
  * (connector.py:6-17, :63-68) into one immutable value.
  */
final case class EtlContext(
    spark: SparkSession,
    lake: Lake,
    warehouse: Warehouse,
    variables: Map[String, String] = Map.empty,
    /** Folder containing the pipeline's sql files (reference: task_folder). */
    sqlRoot: Option[String] = None,
    /** Step-cache base dir (reference default `s3a://dump/etl`,
      * airflow_etl.py:226-228). */
    dumpDir: String = "/tmp/graft/dump/etl",
    /** Registered named function steps — the reference's `python` step
      * (airflow_etl.py:627-641) made safe: unknown names fail at config
      * parse, not mid-run. */
    fns: Map[String, (SparkSession, EtlContext) => Option[DataFrame]] = Map.empty,
    taskId: String = "task",
    /** Run-ledger landing override; None = `<dumpDir>/_graft_run_ledger`
      * (see [[RunLedger]]). */
    ledgerDir: Option[String] = None) {

  def sqlText(src: SqlSource): String = src match {
    case SqlSource.Inline(text) => text
    case SqlSource.File(rel) =>
      val base = sqlRoot.getOrElse(
        throw new IllegalStateException(s"sqlRoot not set; cannot resolve sql file '$rel'"))
      val p = Paths.get(base, rel)
      if (!Files.isRegularFile(p))
        throw new java.io.FileNotFoundException(s"SQL file not exists: $p")
      Files.readString(p)
  }
}

/** Step execution (reference: airflow_etl.py:234-297, :540-667). */
object StepRunner {

  /** F11 — run SQL text on the chosen engine, optionally materialize
    * (ORC round-trip cuts lineage and forces once-only compute,
    * airflow_etl.py:263-269) and register a temp view.
    */
  def executeSql(ctx: EtlContext, sql: String, engine: Engine = Engine.Local,
                 cacheDir: Option[String] = None, alias: Option[String] = None): DataFrame = {
    // user SQL gets the graft extension functions (cosine_similarity,
    // shingle_hashes, ...) — idempotent registration
    graft.functions.GraftFunctions.register(ctx.spark)
    var df = engine match {
      case Engine.Local     => ctx.spark.sql(sql)
      case Engine.Warehouse => ctx.warehouse.query(sql)
    }
    cacheDir.foreach { dir =>
      df.write.mode("overwrite").orc(dir)
      df = ctx.spark.read.orc(dir)
    }
    alias.foreach(df.createOrReplaceTempView)
    df
  }

  /** F15 — select step: param-fill + run + optional cache
    * (airflow_etl.py:540-591; default cache dir :573-575).
    */
  def runSelect(ctx: EtlContext, s: Step.Select): DataFrame = {
    val sql = Params.fill(ctx.sqlText(s.sql), s.parameters, ctx.variables)
    val cacheDir = s.cache.map(c =>
      c.cacheDir.getOrElse(s"${ctx.dumpDir}/${ctx.taskId}/${c.alias}"))
    executeSql(ctx, sql, s.engine, cacheDir, s.cache.map(_.alias))
  }

  /** F16 — warehouse-side DDL/DML, returns nothing
    * (airflow_etl.py:593-625).
    */
  def runSqlScript(ctx: EtlContext, s: Step.SqlScript): Unit =
    ctx.warehouse.execute(Params.fill(ctx.sqlText(s.sql), s.parameters, ctx.variables))

  /** F17 — registered function step. */
  def runFn(ctx: EtlContext, s: Step.Fn): Option[DataFrame] =
    ctx.fns.getOrElse(s.name,
      throw new ConfigException(s"fn step '${s.name}' is not registered"))(ctx.spark, ctx)

  /** F18 — run steps in order; the LAST select's DataFrame is the
    * pipeline result (airflow_etl.py:643-667). A fn step returning data
    * also counts as a result, mirroring the reference's python-step
    * return handling.
    */
  def runSteps(ctx: EtlContext, steps: Seq[Step]): Option[DataFrame] =
    steps.foldLeft(Option.empty[DataFrame]) { (acc, step) =>
      step match {
        case s: Step.Select    => Some(runSelect(ctx, s))
        case s: Step.SqlScript => runSqlScript(ctx, s); acc
        case s: Step.Fn        => runFn(ctx, s).orElse(acc)
      }
    }
}

/** Pipeline orchestration — the reference's task factories and
  * `_transform_full` driver (airflow_etl.py:406-538, :669-774) without
  * the Airflow layer.
  */
object PipelineRunner {

  /** F5/F6/F7 — load dependencies and register each as a temp view
    * (airflow_etl.py:299-375).
    */
  def loadDependencies(ctx: EtlContext, deps: Seq[Dependency]): Unit =
    deps.map(_.validated).foreach { dep =>
      val df = dep.source match {
        case "datalake" => ctx.lake.read(ctx.spark, dep.format, ctx.lake.pathFor(dep))
        case "warehouse" => ctx.warehouse.read(dep.schema.get, dep.tableName.get)
        case other => throw new ConfigException(s"Invalid source type: '$other'")
      }
      df.createOrReplaceTempView(dep.alias)
    }

  /** F26/EP2 — one table's transform: migration → deps → steps →
    * journal write → merge (airflow_etl.py:669-734). Like the
    * reference, the merge runs even if no step produced data
    * (:727 sits outside the steps guard).
    */
  def runTable(ctx: EtlContext, tc: TableConfig, readMode: ReadMode,
               writeMode: WriteMode, mergeMode: MergeMode): Option[DataFrame] = {
    // manual read-mode contract (reference README.md:54 — "reads only
    // data with specified date in airflow variable"): the mode's steps
    // select exactly the REPORT_DATE-dated slice via {report_date}
    // substitution, so a missing variable must fail fast, not run an
    // undated (unbounded) read
    if (readMode == ReadMode.Manual && !ctx.variables.contains("REPORT_DATE"))
      throw new ConfigException(
        "read_mode=manual requires the REPORT_DATE variable (the dated-read predicate)")
    // migration, only if the file exists (airflow_etl.py:693-700)
    tc.migration.foreach {
      case f @ SqlSource.File(rel) =>
        val exists = ctx.sqlRoot.exists(base => Files.isRegularFile(Paths.get(base, rel)))
        if (exists) ctx.warehouse.execute(ctx.sqlText(f))
      case inline @ SqlSource.Inline(_) => ctx.warehouse.execute(ctx.sqlText(inline))
    }
    val started = System.currentTimeMillis()
    loadDependencies(ctx, tc.dependencies)
    val result = StepRunner.runSteps(ctx, tc.transform.getOrElse(readMode, Nil))
    tc.target.foreach { t =>
      val rowsOut = result.map(df => RunLedger.countDuring(df) { observed =>
        writeMode match {
          case WriteMode.Overwrite => ctx.warehouse.truncateAppend(observed, t.schema, t.journalTable)
          case WriteMode.Append    => ctx.warehouse.append(observed, t.schema, t.journalTable)
        }
      }).getOrElse(0L)
      JournalMerge.run(ctx.warehouse, t.schema, t.table, mergeMode)
      // wall time covers the whole unit (deps → steps → journal →
      // merge), matching what the reference's Airflow task timed
      RunLedger.append(ctx.spark, RunLedger.dirFor(ctx), RunLedger.Entry(
        ctx.taskId, "transform",
        inputs = tc.dependencies.map(d => s"${d.alias} (${d.source})"),
        watermark = ctx.variables.get("REPORT_DATE")
          .map(d => s"REPORT_DATE = $d (${readMode.name})"),
        rows_out = rowsOut, landed_path = s"${t.schema}.${t.journalTable}",
        started_ms = started, wall_ms = System.currentTimeMillis() - started))
    }
    result
  }

  /** Whole config.yaml: iterate table configs (airflow_etl.py:687). */
  def run(ctx: EtlContext, cfg: PipelineConfig, readMode: ReadMode = ReadMode.Full,
          writeMode: WriteMode = WriteMode.Overwrite,
          mergeMode: MergeMode = MergeMode.Full): Unit =
    cfg.tables.foreach(tc => runTable(ctx, tc, readMode, writeMode, mergeMode))

  /** Incremental-extract spec — the reference declares delta extract but
    * raises NotImplementedError (airflow_etl.py:452-463); implemented
    * natively here as a watermark predicate.
    */
  final case class DeltaSpec(column: String, lastValue: String)

  /** F24/EP1 — extract a source DataFrame to the lake path
    * (airflow_etl.py:406-450). `writeMode` defaults from `readMode`
    * (full→overwrite, delta→append; airflow_etl.py:497-503).
    */
  def extractDf(ctx: EtlContext, df: DataFrame, systemName: String, systemTag: String,
                schema: String, table: String, readMode: ReadMode = ReadMode.Full,
                writeMode: Option[WriteMode] = None,
                delta: Option[DeltaSpec] = None): String = {
    val started = System.currentTimeMillis()
    val mode = writeMode.getOrElse(readMode match {
      case ReadMode.Full => WriteMode.Overwrite
      case _             => WriteMode.Append
    })
    val path = ctx.lake.tablePath("datalake", systemName, systemTag, schema, table)
    // The boundary dedup probes the landing path, which is only sound
    // (and only meaningful) when this run APPENDS to that landing: under
    // an explicit Overwrite the landing is about to be replaced, and a
    // plan that reads the same path it overwrites fails in Spark anyway
    // ("Cannot overwrite a path that is also being read from").
    val landingPath = if (mode == WriteMode.Append) Some(path) else None
    val data = (readMode, delta) match {
      case (ReadMode.Delta, Some(d)) => deltaSlice(ctx, df, d, landingPath)
      case (ReadMode.Delta, None) =>
        throw new ConfigException("delta extract requires a DeltaSpec watermark")
      case _ => df
    }
    val rowsOut = RunLedger.countDuring(data)(ctx.lake.write(_, path, mode.name))
    RunLedger.append(ctx.spark, RunLedger.dirFor(ctx), RunLedger.Entry(
      ctx.taskId, "extract",
      inputs = Seq(s"$systemName/$systemTag/$schema/$table (${readMode.name})"),
      watermark = delta.map(d => s"${d.column} >= ${d.lastValue}"),
      rows_out = rowsOut, landed_path = path,
      started_ms = started, wall_ms = System.currentTimeMillis() - started))
    path
  }

  /** The watermarked slice `column >= mark`, with the boundary rows
    * (`== mark`) deduplicated against what already landed at that value.
    *
    * Inclusive `>=` is the at-least-once contract: rows committed after
    * the previous run with a delta value EQUAL to the mark (same-second
    * timestamps, in-flight transactions at extract time) must not be
    * silently lost. But re-landing the whole boundary slice on EVERY run
    * would grow the append landing without bound — with a coarse
    * watermark column (a date, say) every no-op run would re-land the
    * full boundary-day slice. So the slice is anti-joined (null-safe,
    * all columns) against the landed rows at the mark value:
    * steady-state no-op runs land nothing, while a late commit sharing
    * the mark value still lands because no landed row matches it. The
    * landed probe side is read with `column == mark` pushed to the
    * parquet scan — row-group stats prune everything but the boundary
    * files, so the probe is O(boundary slice), not O(table history).
    * The source is scanned ONCE, with the one pushed `>=` predicate (a
    * JDBC source gets a single `>=` query). Only the `== mark` rows can
    * be dropped: every probe row holds exactly the mark value, so a row
    * above the mark differs from all of them in the watermark column and
    * never matches.
    *
    * The literal is cast to the column's own type — string-vs-bigint
    * comparison would coerce both sides to double and lose watermark
    * precision past 2^53.
    *
    * Caveat (documented, not handled): the anti-join is set-based — if
    * the source legitimately holds N identical full-row copies of one
    * boundary row and any copy landed, all N count as landed. Exact
    * multiplicity would need a per-row count diff; the journal→master
    * merge dedups per PK anyway, so identical copies are
    * indistinguishable downstream.
    */
  private[graft] def deltaSlice(ctx: EtlContext, df: DataFrame, d: DeltaSpec,
                                path: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val mark = lit(d.lastValue).cast(df.schema(d.column).dataType)
    val slice = df.where(col(d.column) >= mark)
    path.flatMap(landedBoundary(ctx, _, d.column, mark, df.schema)) match {
      case Some(prior) =>
        slice.join(prior, df.columns.map(c => slice(c) <=> prior(c)).reduce(_ && _), "left_anti")
      case None => slice
    }
  }

  /** Already-landed rows at exactly the mark value, or None when the
    * landing holds no visible data file yet (absent, empty, or only a
    * `_temporary` directory left by a crashed first write — the
    * [[Parquet.readIfPresent]] rule) or its schema drifted (a column
    * added or retyped since the last run makes the all-columns
    * anti-join unsound). In either None case the caller lands the
    * whole boundary slice: at-least-once is preserved, the dedup is
    * best-effort. A landing that holds data but fails to read throws,
    * rather than being taken for an empty one.
    */
  private def landedBoundary(ctx: EtlContext, path: String, column: String,
                             mark: org.apache.spark.sql.Column,
                             incoming: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    Parquet.readIfPresent(ctx.spark, path)
      .filter(landed => incoming.fields.forall(f =>
        landed.schema.fields.exists(g => g.name == f.name && g.dataType == f.dataType)))
      .map(_.where(col(column) === mark).select(incoming.fieldNames.toSeq.map(col): _*))
  }

  /** F24 with a JDBC source: resolve the connection from variables
    * (`<TAG>_<SYSTEM>_CONN`, connector.py:6-17) and run the extract
    * query on the source DB (connector.py:27-46).
    *
    * When the connection declares a partitioned-scan spec
    * (`ConnInfo.partitionColumn` + bounds), the query is wrapped as a
    * derived table and read with N range-bounded parallel connections —
    * a single-connection pull of a source table is the first bottleneck
    * a real extract hits at scale (the reference has this flaw,
    * connector.py:27-46; Spark's JDBC source requires `dbtable`, not
    * `query`, for partitioned scans, hence the wrapping).
    */
  def extractDb(ctx: EtlContext, systemName: String, systemTag: String,
                schema: String, table: String, query: String,
                readMode: ReadMode = ReadMode.Full,
                writeMode: Option[WriteMode] = None,
                delta: Option[DeltaSpec] = None): String =
    extractDf(ctx, jdbcSource(ctx, systemName, systemTag, query),
      systemName, systemTag, schema, table, readMode, writeMode, delta)

  /** The JDBC source DataFrame for an extract query — separated from
    * [[extractDb]] so specs can plan-assert that delta predicates reach
    * this scan as pushed filters (an unpushed watermark predicate would
    * ship the full source table on every delta pull).
    */
  private[graft] def jdbcSource(ctx: EtlContext, systemName: String, systemTag: String,
                                query: String): DataFrame = {
    val conn = Connections.get(ctx.variables, systemName, systemTag)
    val reader = ctx.spark.read.format("jdbc")
      .option("url", conn.url)
      .option("user", conn.username)
      .option("password", conn.password)
      .options(conn.jdbcOptions) // dialect defaults (e.g. Oracle DATE fidelity) + extras
    val withOpts = Seq(
      conn.driver.map(d => ("driver", d)),
      conn.fetchSize.map(n => ("fetchsize", n.toString))
    ).flatten.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
    val withSource =
      if (conn.partitionColumn.isDefined)
        conn.applyPartitioning(withOpts).option("dbtable", s"($query) graft_extract")
      else withOpts.option("query", query)
    withSource.load()
  }

  /** The delta-extract OPERATIONAL LOOP: [[extractDb]] driven by the
    * durable [[graft.io.Watermarks]] store instead of a caller-supplied
    * watermark. First run (no mark): full read, overwrite landing —
    * the bootstrap. Every later run: delta read `column >= mark` with
    * the boundary slice deduplicated at landing (see [[deltaSlice]]),
    * append landing. After each run the mark advances to `max(column)`
    * over ONLY the files that run landed (a before/after listing diff
    * of the lake path — O(delta slice), where a full-table rescan would
    * grow with landed history); a run that lands nothing leaves the
    * mark untouched. The mark is monotone because every landed row
    * satisfied `>= mark`. Rerunning after a crash BEFORE the mark
    * update re-extracts the same slice, and the landing dedup plus the
    * journal→master merge absorb it (same at-least-once + merge
    * contract as the reference's whole pipeline).
    */
  def extractDbDeltaTracked(ctx: EtlContext, systemName: String, systemTag: String,
                            schema: String, table: String, query: String,
                            column: String): String = {
    val wm = graft.io.Watermarks(ctx.lake.root)
    val key = Seq(systemName, systemTag, schema, table)
      .map(_.toLowerCase).mkString("/")
    val landing = ctx.lake.tablePath("datalake", systemName, systemTag, schema, table)
    val before = dataFiles(ctx.spark, landing)
    val path = wm.get(ctx.spark, key) match {
      case Some(mark) =>
        extractDb(ctx, systemName, systemTag, schema, table, query,
          ReadMode.Delta, Some(WriteMode.Append), Some(DeltaSpec(column, mark)))
      case None =>
        extractDb(ctx, systemName, systemTag, schema, table, query,
          ReadMode.Full, Some(WriteMode.Overwrite), None)
    }
    val newFiles = (dataFiles(ctx.spark, path) -- before).toSeq.sorted
    maxOverFiles(ctx.spark, newFiles, column).foreach(wm.set(ctx.spark, key, _))
    path
  }

  /** Recursive data-file listing of a lake path (part files only —
    * `_SUCCESS` and hidden files skipped); empty when the path doesn't
    * exist. A listing is O(file count) metadata — the cheap side of the
    * before/after diff that identifies what one run landed (Spark part
    * file names carry a per-job UUID, so an overwrite never reuses a
    * previous run's names).
    */
  private[graft] def dataFiles(spark: SparkSession, path: String): Set[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Set.empty
    else {
      val it = fs.listFiles(hp, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) b += f.getPath.toString
      }
      b.result()
    }
  }

  /** `max(column)` over exactly the given parquet files (as a string,
    * the watermark store's representation). Column-pruned scan of only
    * those files — the watermark advance never touches landed history.
    */
  private[graft] def maxOverFiles(spark: SparkSession, files: Seq[String],
                                  column: String): Option[String] = {
    import org.apache.spark.sql.functions.{col, max}
    if (files.isEmpty) None
    else {
      val row = spark.read.parquet(files: _*)
        .agg(max(col(column)).cast("string")).collect()(0)
      if (row.isNullAt(0)) None else Some(row.getString(0))
    }
  }
}
