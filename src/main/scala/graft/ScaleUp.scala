package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Scale-up derivation tool: replicate the driver's deterministic
  * testdata by an integer factor while PRESERVING its statistical
  * shape, so measured runtimes across a decade of data answer "is this
  * operator's cost linear?" rather than "what does a degenerate corpus
  * cost?". Nothing new is synthesized — every copy is the driver's own
  * data under a structure-preserving rename:
  *
  *  - TPC-H-ish tables: copy i shifts every primary key by i × stride
  *    (stride = max(key)+1) and shifts foreign keys by the SAME stride,
  *    so each copy joins exactly like the original — join selectivity
  *    and per-key fanout are unchanged; totals grow ×factor.
  *    region/nation stay single-copy (fixed dimensions, like TPC-H
  *    itself at every SF).
  *  - documents: copy i > 0 rewrites each token t → "t_i". Within a
  *    copy, near-dup/span/LM structure is EXACTLY the original's;
  *    across copies no shingle is shared — so dup-rate, posting-list
  *    df distribution, and boilerplate coverage stay constant where
  *    naive text replication would make every doc a 10-way exact
  *    duplicate and every span "boilerplate".
  *  - embeddings: copy i > 0 applies a deterministic per-(copy,
  *    element) SIGN FLIP (a reflection, hence an isometry): within a
  *    copy every cosine/L2 relation is bit-exactly the original's
  *    ((−x)·(−y) = x·y in IEEE arithmetic, same fold order), while
  *    cross-copy cosines collapse to ~0 (random-signed sums of
  *    squares, |E| ≈ 1/√dims), so the scaled corpus has NO artificial
  *    near-twin clusters at any practical threshold. (The earlier
  *    additive-offset scheme left copies at cosine ≈ 1−ε: every vector
  *    gained factor−1 near-twins, superlinearly inflating ANN /
  *    semantic-dedup candidate counts — the exact growth signal the
  *    scale measurements exist to isolate.)
  *  - events: ids and user ids shift per copy; timestamps are kept, so
  *    per-user session shapes replicate unchanged.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> <factor>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <destDir> <factor>")
    val Array(src, dest, factorStr) = args
    val factor = factorStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = SparkSession.builder()
      .appName("graft-scaleup")
      .master("local[32]")
      // the OUTPUT is factor× the input: derive the width from the
      // projected size so the replicate-shuffle doesn't spill at big
      // factors (SPARK_GRAFT_SHUFFLE_PARTITIONS overrides)
      .config("spark.sql.shuffle.partitions",
        sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
          .getOrElse(DerivedShuffle.partitionsFor(
            DerivedShuffle.dirBytes(src) * factor)))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try run(spark, src, dest, factor) finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    // events.parquet is TIMESTAMP(NANOS) — readable only as long (the
    // same conf every events consumer sets, e.g. Queries.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(t: String) = Parquet.read(spark, s"$src/$t.parquet")
    // Write the scaled corpus MULTI-FILE (one file per core): the
    // driver fixtures are single-file single-ROW-GROUP parquet, which
    // Spark cannot split — left as-is, every scan of the 10× corpus
    // would run its map side as one task and the scale measurement
    // would time core starvation, not operator growth. A real 10×
    // corpus arrives as many files; the derived one should too.
    def write(df: DataFrame, t: String): Unit =
      df.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    // fixed dimensions: single copy at every factor (TPC-H semantics)
    Seq("region", "nation").foreach(t => write(read(t), t))

    val sc = stride(read("customer"), "c_custkey")
    val so = stride(read("orders"), "o_orderkey")
    val sp = stride(read("part"), "p_partkey")
    val ss = stride(read("supplier"), "s_suppkey")

    def copies(df: DataFrame): DataFrame =
      df.withColumn("__i", explode(sequence(lit(0L), lit(factor - 1L))))
    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(copies(df)) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__i") * s)
      }.drop("__i")

    write(shifted(read("customer"), "c_custkey" -> sc), "customer")
    write(shifted(read("supplier"), "s_suppkey" -> ss), "supplier")
    write(shifted(read("part"), "p_partkey" -> sp), "part")
    write(shifted(read("orders"), "o_orderkey" -> so, "o_custkey" -> sc), "orders")
    write(shifted(read("lineitem"),
      "l_orderkey" -> so, "l_partkey" -> sp, "l_suppkey" -> ss), "lineitem")

    val ev = read("events")
    write(shifted(ev, "event_id" -> stride(ev, "event_id"),
      "user_id" -> stride(ev, "user_id")), "events")

    val docs = read("documents")
    val docsScaled = copies(docs)
      .withColumn("doc_id", col("doc_id") + col("__i") * stride(docs, "doc_id"))
      .withColumn("text", when(col("__i") === 0, col("text"))
        .otherwise(concat_ws(" ",
          transform(split(col("text"), " "), t => concat(t, lit("_"), col("__i"))))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__i")
    write(docsScaled, "documents")

    val emb = read("embeddings")
    val embScaled = copies(emb)
      .withColumn("vec_id", col("vec_id") + col("__i") * stride(emb, "vec_id"))
      .withColumn("embedding", expr(
        // copy 0 is the original; copy i>0 reflects by a deterministic
        // per-(copy, element) sign — see the class doc
        "transform(embedding, (x, j) -> CAST(CASE WHEN __i = 0 OR pmod(xxhash64(__i, j), 2) = 0" +
          " THEN x ELSE -x END AS FLOAT))"))
      .drop("__i")
    write(embScaled, "embeddings")
  }
}
