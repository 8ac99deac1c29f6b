package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.merge.JournalMerge
import graft.io.Parquet

/** Relational query registry: each entry exercises a library operator
  * end-to-end over the driver's parquet fixtures and has an equivalent
  * DuckDB oracle in [[Queries.oracles]].
  *
  * Determinism rules (the driver hash-compares values against DuckDB):
  *  - monetary/quantity aggregates are computed in DECIMAL, not double —
  *    decimal addition is exact, so the result is independent of Spark's
  *    partition/summation order and matches DuckDB bit-for-bit;
  *  - raw double columns pass through untouched (bit-identical);
  *  - every query ends in a total ORDER BY;
  *  - window ranking always carries a unique tie-break key.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** Driver fixture generations have shipped `events.ts` in two parquet
    * spellings: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects, so it's read as raw long nanos under `nanosAsLong` and
    * floored to microseconds here (integer division: nanos-since-epoch
    * exceeds double's 2^53) — and a native TIMESTAMP(MICROS) column
    * that needs no conversion. Adapt on the OBSERVED read type so
    * either vintage works; every events consumer goes through this
    * helper (or [[eventsTsIsRawNanos]] for inline-SQL spellings).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "events")
    if (eventsTsIsRawNanos(spark, dir))
      df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else
      // the native vintage reads as TIMESTAMP_NTZ; cast to TIMESTAMP so
      // downstream unix_millis/unix_micros resolve. Session tz is pinned
      // UTC everywhere (Verify/Bench/specs), so the cast preserves both
      // the instant and every wall-clock field.
      df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  /** True iff `events.ts` reads as a raw long (the TIMESTAMP(NANOS)
    * vintage under `nanosAsLong`); false for the native-timestamp
    * vintage. Sets the legacy conf as a side effect so the subsequent
    * read succeeds on the nanos vintage.
    */
  def eventsTsIsRawNanos(spark: SparkSession, dir: String): Boolean = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    t(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
  }

  /** Exact decimal view of a 2-dp monetary double. Widths are chosen so
    * products stay within DECIMAL(38) under BOTH Spark's and DuckDB's
    * type-widening rules — DuckDB silently falls back to DOUBLE when a
    * decimal product overflows, which would break exactness.
    */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  /** revenue item: price * (1 - discount), all-decimal. */
  private def revItem: Column =
    dec(col("l_extendedprice")) * (lit(1) - col("l_discount")).cast(DecimalType(4, 2))
  /** Final aggregates are cast DECIMAL→DOUBLE on output: the decimal sum
    * keeps the arithmetic exact/order-independent, and the double cast
    * gives both engines one canonical representation (a DECIMAL's
    * trailing-zero scale prints differently across engines).
    */
  private def sumDec(c: Column): Column = sum(c).cast("double")
  /** SQL spelling of the same revenue aggregate (Spark & DuckDB dialects agree). */
  private val revSumSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)"

  // ---------------------------------------------------------------------
  // q01 — pricing summary (flagship): filter + hash aggregate, run through
  // the framework's SQL-step executor with {report_date} substitution
  // (exercises F7 temp views, F11 sql step, F14 params).
  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  $revSumSql AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '{report_date} 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def q01(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    val sql = graft.exec.Params.fill(q01Sql,
      Seq(graft.config.Param.ReportDate("report_date")),
      Map("REPORT_DATE" -> "1998-09-01"))
    spark.sql(sql)
  }

  // ---------------------------------------------------------------------
  // q02 — star join, written dims-first so the region prune lands BEFORE
  // any big-table shuffle: region/nation broadcast into customer (no
  // shuffle) cuts customers to one region, so the customer⋈orders and
  // orders⋈lineitem shuffles only ever carry surviving rows. Catalyst
  // without CBO keeps the written join order, so at 100 TB the naive
  // lineitem-first order would shuffle ~5× the rows this one does.
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    val custAsia = c
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .where(r("r_name") === "ASIA")
      .select(c("c_custkey"), n("n_name").as("n_name"))
    val ordersAsia = o.join(custAsia, o("o_custkey") === custAsia("c_custkey"))
      .select(o("o_orderkey"), col("n_name"))
    li.join(ordersAsia, li("l_orderkey") === ordersAsia("o_orderkey"))
      .groupBy("n_name")
      .agg(
        sumDec(revItem).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------------
  // q03 — top-k: aggregate revenue per order, deterministic tie-break.
  def q03(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sumDec(revItem).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  // ---------------------------------------------------------------------
  // q04 — ranking window: latest order per customer (the merge's
  // row_number pattern over business data).
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------------
  // q05/q06 — the journal→master merge itself (F21/F22), on a journal
  // synthesized deterministically from `events`: PK=user_id, version
  // order = (ts DESC, ts DESC, event_id ASC).
  private def journalFromEvents(spark: SparkSession, dir: String,
                                from: Column, state: Column): DataFrame =
    events(spark, dir).where(from)
      .select(
        col("user_id"), col("event_type"), col("value"),
        col("ts").as(JournalMerge.TransformDt),
        col("ts").as(JournalMerge.LoadDt),
        col("event_id").as(JournalMerge.Seqno),
        state.as(JournalMerge.RecordState))

  private val cutoff = "2024-01-16 00:00:00"

  def q05(spark: SparkSession, dir: String): DataFrame =
    JournalMerge.full(journalFromEvents(spark, dir, lit(true), lit("A")), Seq("user_id"))
      .select("user_id", "event_type", "value")
      .orderBy("user_id")

  /** q71 — q05's full merge routed through the SALTED skew path: the
    * session conf `graft.merge.saltBuckets` makes every production
    * merge fan hot keys over (pk, salt) lanes before the global
    * per-key winner pass ([[graft.merge.JournalMerge.latestPerKeySalted]]).
    * The comparator is total here (unique `event_id` tiebreak), so the
    * result must be IDENTICAL to the unsalted q05 — verified by
    * sharing q05's oracle SQL. The conf is read at plan-build time, so
    * unsetting it after construction leaves the salted plan intact.
    */
  def q71(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set(JournalMerge.SaltBucketsConf, "8")
    try JournalMerge.full(journalFromEvents(spark, dir, lit(true), lit("A")), Seq("user_id"))
      .select("user_id", "event_type", "value")
      .orderBy("user_id")
    finally spark.conf.unset(JournalMerge.SaltBucketsConf)
  }

  def q06(spark: SparkSession, dir: String): DataFrame = {
    val master = JournalMerge
      .full(journalFromEvents(spark, dir, col("ts") < lit(cutoff).cast("timestamp"), lit("A")),
        Seq("user_id"))
      .select("user_id", "event_type", "value")
    val journal = journalFromEvents(spark, dir, col("ts") >= lit(cutoff).cast("timestamp"), lit("A"))
    JournalMerge.delta(master, journal, Seq("user_id"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q18 — the DELTA transform read-mode end-to-end (declared-but-
  // unimplemented in the reference, airflow_etl.py:771-774; native here):
  // two incremental pipeline runs over a bounded watermark window, each
  // journaling in Append mode and delta-merging — the sequence must
  // reproduce the full-history merge.
  def q18(spark: SparkSession, dir: String): DataFrame = {
    import graft.config._
    import graft.exec.{EtlContext, PipelineRunner}
    import graft.io.{FileWarehouse, Lake}
    val work = java.nio.file.Files.createTempDirectory("graft_q18").toString
    val wh = new FileWarehouse(spark, s"$work/wh")
    wh.registerPrimaryKey("dwh", "user_state", Seq("user_id"))
    val sfName = new java.io.File(dir).getName
    // inline-SQL spellings for BOTH events.ts vintages (see events()):
    // tsDt = ts as a timestamp; tsNs = ts as epoch nanos (the watermark
    // unit — unix_micros*1000 stays well inside Long for any real date)
    val (tsDt, tsNs) =
      if (eventsTsIsRawNanos(spark, dir)) ("timestamp_micros(ts DIV 1000)", "ts")
      else ("CAST(ts AS TIMESTAMP)", "unix_micros(CAST(ts AS TIMESTAMP)) * 1000")
    val stepSql =
      s"""SELECT user_id, event_type, value,
         |  $tsDt AS __transform_dt,
         |  $tsDt AS __load_dt,
         |  event_id AS __seqno,
         |  'A' AS __record_state
         |FROM events_src
         |WHERE $tsNs > {wm_low} AND $tsNs <= {wm_high}""".stripMargin
    val cfg = TableConfig(
      dependencies = Seq(Dependency(
        source = "datalake", format = "parquet", alias = "events_src",
        path = Some(s"$sfName/events.parquet"))),
      transform = Map(ReadMode.Delta -> Seq(Step.Select(
        sql = SqlSource.Inline(stepSql),
        parameters = Seq(Param.Constant("wm_low", "{wm_low}"),
          Param.Constant("wm_high", "{wm_high}"))))),
      target = Some(Target("dwh", "user_state")))
    // watermark boundary between the two incremental loads (UTC nanos)
    val cutoffNanos = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
    def runBatch(low: Long, high: Long): Unit = {
      val ctx = EtlContext(spark = spark, lake = Lake(new java.io.File(dir).getParent),
        warehouse = wh, taskId = "task_transform_dwh_user_state_delta")
      val filled = cfg.copy(transform = Map(ReadMode.Delta -> Seq(Step.Select(
        sql = SqlSource.Inline(stepSql),
        parameters = Seq(Param.Constant("wm_low", low.toString),
          Param.Constant("wm_high", high.toString))))))
      PipelineRunner.runTable(ctx, filled, ReadMode.Delta, WriteMode.Append, MergeMode.Delta)
    }
    runBatch(Long.MinValue, cutoffNanos)
    runBatch(cutoffNanos, Long.MaxValue)
    wh.read("dwh", "user_state")
      .select("user_id", "event_type", "value")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q29 — the MANUAL transform read-mode end-to-end (reference
  // README.md:54: "reads only data with specified date in airflow
  // variable"; declared but unimplemented there). A full run builds the
  // master from history BEFORE the report date, then a manual run
  // re-processes exactly the REPORT_DATE day — its steps bound the read
  // with {report_date} substitution — journaling in Append mode and
  // delta-merging, the reference's re-load-one-day operational pattern.
  def q29(spark: SparkSession, dir: String): DataFrame = {
    import graft.config._
    import graft.exec.{EtlContext, PipelineRunner}
    import graft.io.{FileWarehouse, Lake}
    val work = java.nio.file.Files.createTempDirectory("graft_q29").toString
    val wh = new FileWarehouse(spark, s"$work/wh")
    wh.registerPrimaryKey("dwh", "user_state_manual", Seq("user_id"))
    val sfName = new java.io.File(dir).getName
    // ts-as-timestamp spelling for whichever events.ts vintage is on
    // disk (see events())
    val tsDt =
      if (eventsTsIsRawNanos(spark, dir)) "timestamp_micros(ts DIV 1000)"
      else "CAST(ts AS TIMESTAMP)"
    def stepSql(pred: String) =
      s"""SELECT user_id, event_type, value,
         |  $tsDt AS __transform_dt,
         |  $tsDt AS __load_dt,
         |  event_id AS __seqno,
         |  'A' AS __record_state
         |FROM events_src
         |WHERE $pred""".stripMargin
    val deps = Seq(Dependency(
      source = "datalake", format = "parquet", alias = "events_src",
      path = Some(s"$sfName/events.parquet")))
    val target = Some(Target("dwh", "user_state_manual"))
    val reportDate = "2024-01-16"
    val ctx = EtlContext(spark = spark, lake = Lake(new java.io.File(dir).getParent),
      warehouse = wh, variables = Map("REPORT_DATE" -> reportDate),
      taskId = "task_transform_dwh_user_state_manual")
    // full history before the report date -> master
    val fullCfg = TableConfig(dependencies = deps, target = target,
      transform = Map(ReadMode.Full -> Seq(Step.Select(
        sql = SqlSource.Inline(stepSql(
          s"$tsDt < TIMESTAMP '{report_date} 00:00:00'")),
        parameters = Seq(Param.ReportDate("report_date"))))))
    PipelineRunner.runTable(ctx, fullCfg, ReadMode.Full, WriteMode.Overwrite, MergeMode.Full)
    // manual re-load of exactly the REPORT_DATE day
    val manualCfg = TableConfig(dependencies = deps, target = target,
      transform = Map(ReadMode.Manual -> Seq(Step.Select(
        sql = SqlSource.Inline(stepSql(
          s"CAST($tsDt AS DATE) = DATE '{report_date}'")),
        parameters = Seq(Param.ReportDate("report_date"))))))
    PipelineRunner.runTable(ctx, manualCfg, ReadMode.Manual, WriteMode.Append, MergeMode.Delta)
    wh.read("dwh", "user_state_manual")
      .select("user_id", "event_type", "value")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q19 — GROUPING SETS surface (SURVEY §2b): ROLLUP over the pricing
  // dimensions, run as delegated SQL text (F11 path). Subtotal rows have
  // NULL dimensions; ORDER BY pins NULL placement identically in both
  // engines.
  val q19Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  def q19(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q19Sql)
  }

  // ---------------------------------------------------------------------
  // q20 — set-operation surface (SURVEY §2b): INTERSECT + EXCEPT,
  // identical SQL text on both engines.
  val q20Sql: String =
    """(SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      | INTERSECT
      | SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
      |EXCEPT
      |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |ORDER BY custkey""".stripMargin

  def q20(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    t(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(q20Sql)
  }

  // ---------------------------------------------------------------------
  // q21 — analytic-window surface (SURVEY §2b): lag/lead, rank, and a
  // sliding frame, one deterministic ordering. The frame sum runs in
  // DECIMAL: engines maintain sliding frames differently (incremental
  // update vs segment tree), so only order-independent exact arithmetic
  // is comparable across them.
  val q21Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey) OVER w AS prev_orderkey,
      |  lead(o_orderkey) OVER w AS next_orderkey,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS date_rank,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS sliding_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  def q21(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q21Sql)
  }

  // ---------------------------------------------------------------------
  // q22 — scalar-function surface (SURVEY §2b): string/date/math/
  // conditional scalars, identical SQL text on both engines.
  val q22Sql: String =
    """SELECT o_orderkey,
      |  upper(substr(o_orderpriority, 1, 3)) AS prio3,
      |  length(o_orderstatus) AS status_len,
      |  o_orderstatus || '-' || o_orderpriority AS status_prio,
      |  year(o_orderdate) AS order_year,
      |  month(o_orderdate) AS order_month,
      |  date_trunc('month', o_orderdate) AS order_month_start,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  abs(o_totalprice) AS price_abs,
      |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_coalesced,
      |  CASE WHEN o_totalprice > 100000 THEN 'big'
      |       WHEN o_totalprice > 10000 THEN 'mid'
      |       ELSE 'small' END AS size_band
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  def q22(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q22Sql)
  }

  // ---------------------------------------------------------------------
  // q24 — exact interpolated quantiles per group (both engines implement
  // the same linear-interpolation definition: Spark `percentile`, DuckDB
  // `quantile_cont`); scalar outputs, no arrays (list formatting differs
  // across engines).
  def q24(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus,
        |  percentile(o_totalprice, 0.25) AS p25,
        |  percentile(o_totalprice, 0.5) AS p50,
        |  percentile(o_totalprice, 0.75) AS p75
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val q24Oracle: String =
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.75) AS p75
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q25 — sessionization: a session breaks after a >30 min silence.
  // lag + conditional cumulative sum, the canonical composition; all
  // session arithmetic on integral epoch seconds (exact in both engines).
  val q25Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |flagged AS (
      |  SELECT user_id, ms,
      |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
      |              > 1800000 THEN 1
      |         WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL THEN 1
      |         ELSE 0 END AS new_session
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, ms,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MAX(ms) - MIN(ms) AS duration_ms
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  def q25(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_ts")
    // identical session logic; only the epoch-milliseconds extraction is
    // engine-specific (Spark: unix_millis, DuckDB: epoch_ms)
    spark.sql(q25Sql.replace("epoch_ms(ts)", "unix_millis(ts)")
      .replace("FROM events)", "FROM events_ts)"))
  }

  // ---------------------------------------------------------------------
  // q38 — PIVOT surface (SURVEY §2b): wide one-row-per-group layout from
  // groupBy().pivot() with EXPLICIT pivot values — at scale, value
  // discovery is an extra distinct scan AND makes the schema
  // data-dependent; pinning (F/O/P) keeps the plan a single hash
  // aggregation. Sums in DECIMAL for order-independent exactness,
  // missing (priority, status) combos stay NULL on both engines.
  def q38(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sumDec(dec(col("o_totalprice"))))
      .orderBy("o_orderpriority")

  val q38Oracle: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |             THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |             THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |             THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS P
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q39 — CUBE surface (SURVEY §2b), completing the grouping-sets family
  // with q19's ROLLUP: all four grouping sets in one aggregation pass.
  // Subtotal NULLs are folded to 'ALL' in the projection — identical
  // text runs on both engines and sidesteps engine-specific GROUPING()
  // spellings (the dimension columns are non-null in the data, so the
  // fold is unambiguous).
  val q39Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  def q39(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q39Sql)
  }

  // ---------------------------------------------------------------------
  // q41 — semi-structured (JSON) surface: extract a typed value out of a
  // JSON string column and aggregate it. Extraction is a per-row
  // codegen'd path evaluation (no shuffle); only the engine-specific
  // extraction spelling differs (Spark get_json_object vs DuckDB
  // json_extract_string). Sums wrapped to BIGINT on both sides (DuckDB
  // widens BIGINT sums to HUGEINT, which its pandas bridge would float).
  def q41(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_q41")
    spark.sql(
      """SELECT event_type,
        |  CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(*) AS n_events
        |FROM events_q41 GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q41Oracle: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q43 — subquery surface (SURVEY §2b): correlated EXISTS / NOT EXISTS
  // (planned as semi/anti joins) and a correlated scalar aggregate
  // subquery (planned as an aggregate + left join) — identical SQL text
  // on both engines. Customers who ordered, never urgently, with their
  // max single-order spend.
  val q43Sql: String =
    """SELECT c.c_custkey, c.c_name,
      |  (SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |   FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_spend
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c.c_custkey""".stripMargin

  def q43(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    t(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(q43Sql)
  }

  // ---------------------------------------------------------------------
  // q53 — GROUPING SETS surface, completing the family with q19's ROLLUP
  // and q39's CUBE: reporting pipelines usually want CHOSEN slices, not
  // the full cube — explicit sets skip the never-read combinations and
  // the aggregation still runs in one pass (Spark Expand + single hash
  // agg). Identical SQL text on both engines; subtotal NULLs folded to
  // 'ALL' (group columns are never NULL in data, so the fold is
  // unambiguous and sidesteps engine-specific GROUPING() spellings).
  val q53Sql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS orderpriority,
      |  coalesce(o_orderstatus, 'ALL') AS orderstatus,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
      |ORDER BY orderpriority, orderstatus""".stripMargin

  def q53(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q53Sql)
  }

  // ---------------------------------------------------------------------
  // q55 — LATERAL join surface (SURVEY §2b): per-row correlated
  // subquery with its own ORDER BY + LIMIT ("top-2 orders per
  // customer" without a hand-written window). Spark decorrelates the
  // lateral into a ranked join (DecorrelateInnerQuery rewrites the
  // LIMIT as a per-key row_number filter) — the executed plan is the
  // same shape q04's explicit window would give, but the declaration
  // stays the SQL a reporting user writes. Identical text on DuckDB.
  // Customers with no orders drop out (inner lateral) on both engines.
  val q55Sql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.price
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice AS price
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC
      |  LIMIT 2) t
      |ORDER BY c.c_custkey, t.price DESC, t.o_orderkey""".stripMargin

  def q55(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    t(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(q55Sql)
  }

  // ---------------------------------------------------------------------
  // q61 — distribution-window surface, completing q21's analytic set
  // with ntile / percent_rank / cume_dist. Deliberately PARTITIONED
  // (by priority): a global ORDER BY window plans all rows into one
  // partition — the same scale trap Ids.orderedIds exists to avoid —
  // and per-group distributions are what reporting actually asks for.
  // percent_rank ((rank-1)/(n-1)) and cume_dist (rows≤cur / n) are
  // integer ratios through IEEE division — bit-stable cross-engine.
  // Unique (price, orderkey) ordering makes every rank deterministic.
  val q61Sql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(ntile(10) OVER w AS BIGINT) AS decile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cum_dist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  def q61(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q61Sql)
  }

  // ---------------------------------------------------------------------
  // q63 — UNPIVOT surface, q38's inverse: wide one-row-per-group back to
  // long (status, count) rows via the native `unpivot` (Spark 3.4+
  // melt). Engines disagree on NULL cells (Spark keeps them, DuckDB's
  // UNPIVOT drops them), so absent combos are folded to 0 BEFORE the
  // melt on the Spark side and spelled as count(CASE)=0 in the oracle —
  // the portable semantics (a combo with no rows is a 0, not a hole).
  def q63(spark: SparkSession, dir: String): DataFrame = {
    val wide = t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    val filled = wide.select(col("o_orderpriority") +:
      Seq("F", "O", "P").map(s => coalesce(col(s), lit(0L)).as(s)): _*)
    filled.unpivot(
      Array(col("o_orderpriority")),
      Array(col("F"), col("O"), col("P")),
      "status", "n_orders")
      .orderBy("o_orderpriority", "status")
  }

  val q63Oracle: String =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_cnt,
      |    count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
      |    count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_cnt
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, status, n_orders FROM (
      |  SELECT o_orderpriority, 'F' AS status, f_cnt AS n_orders FROM w
      |  UNION ALL
      |  SELECT o_orderpriority, 'O', o_cnt FROM w
      |  UNION ALL
      |  SELECT o_orderpriority, 'P', p_cnt FROM w)
      |ORDER BY o_orderpriority, status""".stripMargin

  // ---------------------------------------------------------------------
  // q65 — statistical-moments surface: per-group covariance/correlation
  // computed from INTEGER moment sums, not the built-in covar_pop/corr.
  // The builtins accumulate doubles in partition order — order-dependent
  // and therefore unverifiable across engines; here quantity is integral
  // and discount becomes integer basis points (exact via DECIMAL(4,2)),
  // so the five moment sums are exact integers (< 2^53 at any realistic
  // group size) and the covariance/correlation double tree evaluates
  // identically everywhere. Zero-variance groups get corr = 0 by guard.
  // Identical SQL text on both engines.
  val q65Sql: String =
    """WITH b AS (
      |  SELECT l_returnflag AS returnflag,
      |    CAST(l_quantity AS BIGINT) AS q,
      |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d
      |  FROM lineitem),
      |s AS (
      |  SELECT returnflag, COUNT(*) AS n,
      |    CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
      |    CAST(SUM(q * d) AS BIGINT) AS sqd,
      |    CAST(SUM(q * q) AS BIGINT) AS sqq,
      |    CAST(SUM(d * d) AS BIGINT) AS sdd
      |  FROM b GROUP BY returnflag)
      |SELECT returnflag, n,
      |  CAST(sqd AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n)
      |    AS covar_qd,
      |  CASE WHEN (CAST(sqq AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sq AS DOUBLE) / n))
      |          * (CAST(sdd AS DOUBLE) / n - (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n)) <= 0
      |       THEN 0.0
      |       ELSE (CAST(sqd AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n))
      |            / sqrt((CAST(sqq AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sq AS DOUBLE) / n))
      |                 * (CAST(sdd AS DOUBLE) / n - (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n)))
      |  END AS corr_qd
      |FROM s ORDER BY returnflag""".stripMargin

  def q65(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q65Sql)
  }

  // ---------------------------------------------------------------------
  // q66 — string-similarity surface: Levenshtein distance (exact integer
  // — the one string-distance both engines define identically) between
  // each part's name and its type label, banded. Per-row codegen
  // scalars, no shuffle. Identical SQL text on both engines.
  // the O(len²) distance is computed ONCE per row in the subquery; the
  // bands reference the alias (engines may or may not CSE three calls)
  val q66Sql: String =
    """SELECT p_partkey, name_type_dist,
      |  CASE WHEN name_type_dist <= 20 THEN 'near'
      |       WHEN name_type_dist <= 30 THEN 'mid'
      |       ELSE 'far' END AS dist_band
      |FROM (
      |  SELECT p_partkey,
      |    levenshtein(p_name, lower(p_type)) AS name_type_dist
      |  FROM part) d
      |ORDER BY p_partkey""".stripMargin

  def q66(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(q66Sql)
  }

  // ---------------------------------------------------------------------
  // q67 — funnel analysis: furthest stage per user through
  // view → click → purchase with strictly-ordered timestamps (each
  // stage's first event at-or-after the previous stage's), plus the
  // end-to-end latency for completers. Stage times are conditional MIN
  // aggregates + equi-joins on user_id — no corpus-wide window, no
  // pair explosion; the funnel DAG is as deep as the stage list, not
  // the data. Only the epoch-milliseconds spelling differs per engine
  // (q25's replace trick); ms integers keep the arithmetic exact.
  val q67Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (
      |  SELECT user_id, min(ms) AS t0 FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT ev.user_id, min(ms) AS t1 FROM ev JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND ms >= t0 GROUP BY ev.user_id),
      |p AS (
      |  SELECT ev.user_id, min(ms) AS t2 FROM ev JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND ms >= t1 GROUP BY ev.user_id)
      |SELECT v.user_id,
      |  CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
      |       WHEN c.user_id IS NOT NULL THEN 'click'
      |       ELSE 'view' END AS funnel_stage,
      |  p.t2 - v.t0 AS view_to_purchase_ms
      |FROM v
      |LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  def q67(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_q67")
    spark.sql(q67Sql.replace("epoch_ms(ts)", "unix_millis(ts)")
      .replace("FROM events)", "FROM events_q67)"))
  }

  // ---------------------------------------------------------------------
  // q68 — cohort retention: users grouped by first-seen week, counted by
  // how many weeks later they were still active. The warehouse classic:
  // one first-seen aggregate per user, one (cohort, offset) count — both
  // map-side-combinable hash aggs on narrow keys; no window, no
  // self-join explosion (the event→cohort attach is an equi-join on
  // user_id). date_trunc('week') starts Monday on both engines, so the
  // truncated dates are week-aligned and the week difference is exact
  // integer arithmetic; only the week-diff spelling is engine-specific
  // (DuckDB date_diff('week',a,b) ~ Spark timestampdiff(WEEK,a,b) —
  // boundary-crossing counts, equal to whole weeks on aligned dates).
  // uw pre-dedups to distinct (user, week) BEFORE the join: the join
  // and final aggregate see one row per user-week, so the expensive
  // count(DISTINCT) collapses to a plain count and the join probe side
  // shrinks from all events to active user-weeks
  val q68Sql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
      |  FROM events),
      |uw AS (SELECT DISTINCT user_id, wk FROM ev),
      |cohort AS (
      |  SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY user_id)
      |SELECT c.cohort_week,
      |  CAST(date_diff('week', c.cohort_week, e.wk) AS BIGINT) AS weeks_later,
      |  CAST(count(*) AS BIGINT) AS n_active
      |FROM uw e JOIN cohort c ON e.user_id = c.user_id
      |GROUP BY c.cohort_week, weeks_later
      |ORDER BY c.cohort_week, weeks_later""".stripMargin

  def q68(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_q68")
    spark.sql(q68Sql
      .replace("date_diff('week', ", "timestampdiff(WEEK, ")
      .replace("FROM events)", "FROM events_q68)"))
  }

  // ---------------------------------------------------------------------
  // q69 — equi-width histogram: value-distribution profiling as one
  // hash aggregation (the complement of q24's exact quantiles and q61's
  // rank distributions). Bucket = floor(v / width): integer-exact on
  // both engines (IEEE divide + floor of 2-dp monetary doubles), counts
  // are ints, and the per-bucket min/max are element PICKS, not
  // accumulations — nothing order-dependent anywhere. Identical SQL.
  val q69Sql: String =
    """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_orders,
      |  MIN(o_totalprice) AS lo,
      |  MAX(o_totalprice) AS hi
      |FROM orders
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  def q69(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q69Sql)
  }

  // ---------------------------------------------------------------------
  // q70 — rolling 7-day active users (WAU): COUNT(DISTINCT) over a
  // sliding frame, which window functions cannot express (no DISTINCT
  // in frames on either engine). The standard shape: distinct
  // (day, user) pairs joined to the tiny day grid on a 7-day range —
  // the grid side is ONE ROW PER DAY, so the range join broadcasts a
  // few hundred rows against the deduped activity table, never
  // events × events. Counts are exact integers. Identical SQL text.
  val q70Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM du)
      |SELECT d.day,
      |  CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
      |FROM days d
      |JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |GROUP BY d.day
      |ORDER BY d.day""".stripMargin

  def q70(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_q70")
    spark.sql(q70Sql.replace("FROM events)", "FROM events_q70)"))
  }

  // ---------------------------------------------------------------------
  // q97/q98 — SCD2 (Type-2) history over the SAME synthesized journal as
  // q05: every event_type change per user opens an interval row; the
  // as-of read reconstructs the dimension at the q06 cutoff. The
  // chronological comparator is the exact reverse of the merge
  // comparator, so the open interval row == q05's merge winner
  // (MergeSpec pins that consistency).
  def q97(spark: SparkSession, dir: String): DataFrame = {
    import graft.merge.Scd2
    Scd2.history(journalFromEvents(spark, dir, lit(true), lit("A")),
        Seq("user_id"), trackCols = Seq("event_type"))
      .select(col("user_id"), col("event_type"), col("value"),
        col(Scd2.ValidFrom).as("valid_from"),
        col(Scd2.ValidTo).as("valid_to"),
        col(Scd2.IsCurrent).as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  def q98(spark: SparkSession, dir: String): DataFrame = {
    import graft.merge.Scd2
    Scd2.asOf(
        Scd2.history(journalFromEvents(spark, dir, lit(true), lit("A")),
          Seq("user_id"), trackCols = Seq("event_type")),
        lit(cutoff).cast("timestamp"))
      .select(col("user_id"), col("event_type"), col("value"),
        col(Scd2.ValidFrom).as("valid_from"))
      .orderBy("user_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q97_scd2_history" -> (q97 _),
    "q98_scd2_asof" -> (q98 _),
    "q02_revenue_asia" -> (q02 _),
    "q03_top_orders" -> (q03 _),
    "q04_latest_order_per_customer" -> (q04 _),
    "q05_merge_full" -> (q05 _),
    "q71_merge_full_salted" -> (q71 _),
    "q06_merge_delta" -> (q06 _),
    "q18_delta_transform" -> (q18 _),
    "q29_manual_transform" -> (q29 _),
    "q19_rollup" -> (q19 _),
    "q20_set_ops" -> (q20 _),
    "q21_window_analytics" -> (q21 _),
    "q22_scalar_functions" -> (q22 _),
    "q24_group_quantiles" -> (q24 _),
    "q25_sessionization" -> (q25 _),
    "q38_pivot" -> (q38 _),
    "q39_cube" -> (q39 _),
    "q41_json_extract" -> (q41 _),
    "q43_subqueries" -> (q43 _),
    "q53_grouping_sets" -> (q53 _),
    "q55_lateral_join" -> (q55 _),
    "q61_distribution_windows" -> (q61 _),
    "q63_unpivot" -> (q63 _),
    "q65_group_corr" -> (q65 _),
    "q66_edit_distance" -> (q66 _),
    "q67_funnel" -> (q67 _),
    "q68_cohort_retention" -> (q68 _),
    "q69_histogram" -> (q69 _),
    "q70_rolling_active_users" -> (q70 _)
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      q01Sql.replace("{report_date}", "1998-09-01"),
    "q02_revenue_asia" ->
      s"""SELECT n_name,
        |  $revSumSql AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q03_top_orders" ->
      s"""SELECT l_orderkey,
        |  $revSumSql AS revenue
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q04_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q05_merge_full" ->
      """SELECT user_id, event_type, value
        |FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
        |  FROM events) t
        |WHERE rnk = 1
        |ORDER BY user_id""".stripMargin,
    // the salted merge must be indistinguishable from the unsalted one:
    // q71 shares q05's oracle verbatim
    "q71_merge_full_salted" ->
      """SELECT user_id, event_type, value
        |FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
        |  FROM events) t
        |WHERE rnk = 1
        |ORDER BY user_id""".stripMargin,
    "q06_merge_delta" ->
      s"""WITH master AS (
         |  SELECT user_id, event_type, value
         |  FROM (
         |    SELECT user_id, event_type, value,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
         |    FROM events WHERE ts < TIMESTAMP '$cutoff') t
         |  WHERE rnk = 1),
         |active AS (
         |  SELECT * FROM events WHERE ts >= TIMESTAMP '$cutoff'),
         |kept AS (
         |  SELECT m.* FROM master m
         |  WHERE NOT EXISTS (SELECT 1 FROM active a WHERE a.user_id = m.user_id)),
         |ins AS (
         |  SELECT user_id, event_type, value
         |  FROM (
         |    SELECT user_id, event_type, value,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
         |    FROM active) t
         |  WHERE rnk = 1)
         |SELECT * FROM kept UNION ALL SELECT * FROM ins
         |ORDER BY user_id""".stripMargin,
    // q97/q98 — SCD2 intervals: retain event_type-change rows in
    // chronological order (the reverse of the merge comparator: larger
    // event_id is OLDER within a ts tie, mirroring q05's `event_id ASC`
    // latest-first rank), then lead() the next retained ts as valid_to.
    "q97_scd2_history" ->
      """WITH retained AS (
        |  SELECT user_id, event_type, value, ts, event_id
        |  FROM (
        |    SELECT user_id, event_type, value, ts, event_id,
        |      LAG(event_type) OVER (PARTITION BY user_id
        |                            ORDER BY ts ASC, ts ASC, event_id DESC) AS prev,
        |      row_number() OVER (PARTITION BY user_id
        |                         ORDER BY ts ASC, ts ASC, event_id DESC) AS rn
        |    FROM events) t
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |iv AS (
        |  SELECT user_id, event_type, value, ts AS valid_from,
        |    LEAD(ts) OVER (PARTITION BY user_id
        |                   ORDER BY ts ASC, ts ASC, event_id DESC) AS valid_to
        |  FROM retained)
        |SELECT user_id, event_type, value, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM iv
        |ORDER BY user_id, valid_from""".stripMargin,
    "q98_scd2_asof" ->
      s"""WITH retained AS (
         |  SELECT user_id, event_type, value, ts, event_id
         |  FROM (
         |    SELECT user_id, event_type, value, ts, event_id,
         |      LAG(event_type) OVER (PARTITION BY user_id
         |                            ORDER BY ts ASC, ts ASC, event_id DESC) AS prev,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts ASC, ts ASC, event_id DESC) AS rn
         |    FROM events) t
         |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
         |iv AS (
         |  SELECT user_id, event_type, value, ts AS valid_from,
         |    LEAD(ts) OVER (PARTITION BY user_id
         |                   ORDER BY ts ASC, ts ASC, event_id DESC) AS valid_to
         |  FROM retained)
         |SELECT user_id, event_type, value, valid_from
         |FROM iv
         |WHERE valid_from <= TIMESTAMP '$cutoff'
         |  AND (valid_to IS NULL OR TIMESTAMP '$cutoff' < valid_to)
         |ORDER BY user_id""".stripMargin,
    // two sequential delta merges over a complete journal == one full merge
    "q18_delta_transform" ->
      """SELECT user_id, event_type, value
        |FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
        |  FROM events) t
        |WHERE rnk = 1
        |ORDER BY user_id""".stripMargin,
    // master from history before the date, overlaid with the latest
    // version per key within the re-loaded day (the manual-mode model)
    "q29_manual_transform" ->
      """WITH hist AS (
        |  SELECT user_id, event_type, value
        |  FROM (
        |    SELECT user_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |                         ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') t
        |  WHERE rnk = 1),
        |day AS (
        |  SELECT * FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-16'),
        |kept AS (
        |  SELECT h.* FROM hist h
        |  WHERE NOT EXISTS (SELECT 1 FROM day d WHERE d.user_id = h.user_id)),
        |ins AS (
        |  SELECT user_id, event_type, value
        |  FROM (
        |    SELECT user_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |                         ORDER BY ts DESC, ts DESC, event_id ASC) AS rnk
        |    FROM day) t
        |  WHERE rnk = 1)
        |SELECT * FROM kept UNION ALL SELECT * FROM ins
        |ORDER BY user_id""".stripMargin,
    "q19_rollup" -> q19Sql,
    "q20_set_ops" -> q20Sql,
    "q21_window_analytics" -> q21Sql,
    "q22_scalar_functions" -> q22Sql,
    "q24_group_quantiles" -> q24Oracle,
    "q25_sessionization" -> q25Sql,
    "q38_pivot" -> q38Oracle,
    "q39_cube" -> q39Sql,
    "q41_json_extract" -> q41Oracle,
    "q43_subqueries" -> q43Sql,
    "q53_grouping_sets" -> q53Sql,
    "q55_lateral_join" -> q55Sql,
    "q61_distribution_windows" -> q61Sql,
    "q63_unpivot" -> q63Oracle,
    "q65_group_corr" -> q65Sql,
    "q66_edit_distance" -> q66Sql,
    "q67_funnel" -> q67Sql,
    "q68_cohort_retention" -> q68Sql,
    "q69_histogram" -> q69Sql,
    "q70_rolling_active_users" -> q70Sql
  )
}
