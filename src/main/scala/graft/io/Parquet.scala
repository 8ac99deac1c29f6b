package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet table reader.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job (one
  * task that reads one footer) before the read is even planned; on a
  * job-bound path — a delta cycle, a registry query over a fixture
  * table — that job is a scheduling round trip per table read. This
  * reader takes the same schema from the same footer on the driver:
  *
  *  1. [[firstDataFile]] picks the file Spark's inference would touch;
  *  2. its footer is read with row groups skipped;
  *  3. `ParquetFileFormat.readSchemaFromFooter` converts it — the
  *     per-footer function of Spark's inference job, with a converter
  *     built from the session conf (binary-as-string, INT96, NTZ and
  *     nanos-as-long settings all apply);
  *  4. `spark.read.schema(s).parquet(path)` plans the read, so
  *     partition discovery and the partition columns are Spark's own.
  *
  * Where that route gives no schema — no data file, a missing path, an
  * unreadable footer, or `spark.sql.parquet.mergeSchema` on (which must
  * touch every footer) — the read is `spark.read.parquet(path)`
  * unchanged, so Spark raises its own error and honours
  * `ignoreCorruptFiles`. Like Spark's non-merging inference, it
  * assumes every file of the table shares one schema; tables whose
  * schema evolves across files read through [[Lake.readEvolved]].
  */
object Parquet {

  /** The parquet table at `path`. */
  def read(spark: SparkSession, path: String): DataFrame =
    scala.util.Try(firstDataFile(spark, path)).toOption.flatten
      .fold(spark.read.parquet(path))(readFrom(spark, path, _))

  /** The parquet table at `path`, or `None` while it holds no visible
    * data file (absent, empty, or only a crashed write's hidden
    * `_temporary`) — the exact condition under which Spark can infer a
    * schema at all. A table that holds a data file but cannot be read
    * throws, rather than being taken for an empty one.
    */
  def readIfPresent(spark: SparkSession, path: String): Option[DataFrame] =
    firstDataFile(spark, path).map(readFrom(spark, path, _))

  private def readFrom(spark: SparkSession, path: String, file: FileStatus): DataFrame =
    footerSchema(spark, file).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else scala.util.Try {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(conf))
    }.toOption
  }

  /** The file Spark's schema inference would read for `path`, found
    * the way its file index lists: names starting with `_` or `.` are
    * hidden except `k=v` partition directories, a `_common_metadata`
    * (then `_metadata`) summary wins over its directory's data files,
    * and the rest is walked in sorted path order so the pick is the
    * lexicographically first data file. The walk stops at the first
    * hit. `None` for a missing path or one with no data file.
    */
  private[graft] def firstDataFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    // Spark sorts whole leaf paths, so a directory ranks as `name/`
    def order(s: FileStatus): String = s.getPath.getName + (if (s.isDirectory) "/" else "")
    def first(s: FileStatus): Option[FileStatus] =
      if (s.isFile) Some(s)
      else {
        val children = fs.listStatus(s.getPath)
        def summary(name: String) = children.find(c => c.isFile && c.getPath.getName == name)
        summary("_common_metadata").orElse(summary("_metadata")).orElse(
          children.filterNot(c => hidden(c.getPath.getName)).sortBy(order)
            .iterator.map(first).collectFirst { case Some(f) => f })
      }
    if (!fs.exists(root)) None else first(fs.getFileStatus(root))
  }
}
