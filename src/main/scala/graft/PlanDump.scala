package graft
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for registry queries to files — the
  * optimization-round evidence trail (`plans/rNN/<query>_{before,after}
  * .txt`). Args: `<outDir> <suffix> [query...]` (no queries = whole
  * registry). Plan-only (no execution), so the whole registry dumps in
  * analysis time; uses the bench session shape (sf from
  * `SPARK_GRAFT_SF_DIR`, derived shuffle width) so the dumped plans are
  * the ones the bench actually runs. A query that fails to plan (or
  * an unknown name) is reported on stderr, the rest still dump, and
  * the run exits 1.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val shufflePartitions = DerivedShuffle.forDir(sfDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    for (q <- names) {
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        val s = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
          s.getBytes("UTF-8"))
        println(s"dumped $q")
      } catch { case e: Throwable =>
        System.err.println(s"PLANDUMP $q FAILED: $e")
        failed += 1
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
