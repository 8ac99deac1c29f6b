package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.Dependency

/** Datalake I/O.
  *
  * Path convention from the reference (airflow_etl.py:433-439,
  * :343-350; README.md:14-16):
  * `<root>/<source>/<system_name>/<system_tag>/<schema>/<table>`,
  * all components lowercased. `root` is `s3a://` in production and a
  * local directory in tests — Spark's Hadoop FS layer makes the code
  * identical.
  *
  * Format note: the reference's lake format is Hudi with
  * `bulk_insert` + mode overwrite/append (airflow_etl.py:442-450);
  * plain parquet writes reproduce exactly those semantics (upsert-by-key
  * lives in the journal merge, not in the lake write), so `hudi` maps to
  * parquet here. CSV dependencies are read header-only with NO schema
  * inference — all columns arrive as strings — matching
  * airflow_etl.py:351-353.
  */
final case class Lake(root: String) {

  def tablePath(source: String, systemName: String, systemTag: String,
                schema: String, table: String): String =
    Seq(root.stripSuffix("/"), source.toLowerCase, systemName.toLowerCase,
      systemTag.toLowerCase, schema.toLowerCase, table.toLowerCase).mkString("/")

  def pathFor(dep: Dependency): String = dep.path match {
    case Some(p) => s"${root.stripSuffix("/")}/$p" // explicit path wins (airflow_etl.py:345-347)
    case None => tablePath(dep.source,
      dep.sourceSystemName.get, dep.sourceSystemTag.get, dep.schema.get, dep.tableName.get)
  }

  /** Read a lake dependency in its declared format.
    *
    * Non-builtin formats (Hudi/Delta/Iceberg/Avro/…) pass straight
    * through to Spark's DataSource registry, so an existing table in
    * any connector format is readable by adding that connector's jar —
    * nothing in this framework is parquet-bound. Without the jar the
    * failure is rethrown as an actionable config error instead of the
    * raw class-lookup failure. `hudi` keeps its documented
    * parquet-compatibility mapping (the reference's lake semantics
    * need nothing Hudi-specific — see the class doc) unless the
    * session opts into the native connector via
    * `graft.lake.nativeHudi=true`.
    *
    * Parquet (and `hudi` read as parquet) goes through [[Parquet.read]]:
    * the schema comes from one footer read on the driver, so planning
    * the read starts no Spark job. ORC already infers its schema on the
    * driver.
    */
  def read(spark: SparkSession, format: String, path: String): DataFrame = format match {
    case "hudi" if !nativeHudi(spark) => Parquet.read(spark, path)
    case "parquet"          => Parquet.read(spark, path)
    case "orc"              => spark.read.orc(path)
    case "csv"              => spark.read.option("header", "true").csv(path) // all strings, by design
    // JSON-lines: schema inferred from the data (an extra scan — at
    // scale prefer parquet landings; this is the raw-drop escape hatch)
    case "json"             => spark.read.json(path)
    // web-crawl ingest: WARC response records as (url, ts, html, …)
    // rows — see [[Warc.responses]] for the streaming parse contract
    case "warc"             => Warc.responses(spark, path)
    case other              => passthrough(spark, other, path)
  }

  private def nativeHudi(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.lake.nativeHudi").exists(_.toBoolean)

  private def passthrough(spark: SparkSession, format: String, path: String): DataFrame =
    try spark.read.format(format).load(path)
    catch {
      case e: Exception if isMissingSource(e) =>
        throw new IllegalArgumentException(
          s"Lake format '$format' is not a builtin (parquet/orc/csv/json) and no " +
            s"DataSource named '$format' is registered — add the connector jar " +
            s"(e.g. the $format Spark bundle) to the classpath, or declare a builtin format",
          e)
    }

  // Spark signals an unregistered source as ClassNotFoundException
  // ([DATA_SOURCE_NOT_FOUND]); anything else (bad path, corrupt data)
  // must surface unchanged
  private def isMissingSource(e: Throwable): Boolean =
    e.isInstanceOf[ClassNotFoundException] ||
      (e.getCause != null && isMissingSource(e.getCause))

  /** Schema-evolution read: union the schemas of every parquet footer
    * in the directory (`mergeSchema`) so batches written before a
    * column was added read back with that column NULL — the on-read
    * half of additive schema evolution (the write half is just
    * appending files with the wider schema). Footer merging scans
    * metadata, not data, but as a Spark job over every footer; use only
    * where evolution actually happens — [[read]]'s one driver-side
    * footer stays the fast path.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Extract-target write (airflow_etl.py:442-450): bulk append/overwrite.
    * Same format rules as [[read]]: `hudi` maps to parquet unless
    * `graft.lake.nativeHudi=true`, non-builtin formats pass through to
    * the DataSource registry with the actionable missing-jar error.
    */
  def write(df: DataFrame, path: String, mode: String, format: String = "parquet"): Unit = {
    val fmt = if (format == "hudi" && !nativeHudi(df.sparkSession)) "parquet" else format
    try df.write.format(fmt).mode(mode).save(path)
    catch {
      case e: Exception if isMissingSource(e) =>
        throw new IllegalArgumentException(
          s"Lake format '$fmt' has no registered DataSource — add the connector jar " +
            s"(e.g. the $fmt Spark bundle) to the classpath, or write a builtin format",
          e)
    }
  }
}
