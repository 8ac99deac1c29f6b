package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.exec.EtlContext
import graft.io.Parquet

/** The full curation pipeline as ONE composable chain — the product's
  * actual usage shape: encoding gate → normalize-dedup → MinHash
  * near-dup removal → decontamination → mixture sampling → sequence
  * packing, each stage feeding the next's survivor set. Every stage is
  * an already-oracled operator (q84/q85/q12+q23/q30/q33/q34); the
  * chain is their composition with the SAME constants, so the chain
  * itself stays exactly SQL-replayable end-to-end (q88).
  *
  * Two faces, same code:
  *  - [[run]] — the direct DataFrame composition (registry q88);
  *  - [[fns]] — the stages as NAMED fn steps for the framework's
  *    Step machinery ([[graft.config.Step.Fn]]), so a YAML pipeline
  *    drives the identical chain through `PipelineRunner` and lands
  *    the result via journal→merge (reference EP2 lifecycle,
  *    airflow_etl.py:669-734). PipelineSpec pins framework ≡ direct.
  *
  * Scale shape: stages only shrink the corpus (gate → dedup → decon →
  * sample) before the one order-defined stage (packing) runs on the
  * smallest set, sharded by language. No stage adds a shuffle beyond
  * its operator's own documented shape; the raw `text` column rides
  * along but never widens a shuffle that the standalone operators
  * don't already pay.
  */
object CurationChain {

  /** Chain constants — shared by [[run]], [[fns]], and the q88 oracle
    * (they must stay in lockstep with the per-stage registry queries
    * they compose: q12's banding, q30's bench split, q33's rates,
    * q34's capacity).
    */
  val ShingleSize = 3
  val JaccardThreshold = 0.8
  val DeconShingleSize = 5
  val BenchMod = 20
  val MixtureRates: Map[String, Double] =
    Map("de" -> 0.5, "en" -> 1.0, "es" -> 0.25, "fr" -> 0.0)
  val PackCapacity = 2048

  /** Stage 1 — encoding-health gate (q84's profile as a filter): drop
    * documents with U+FFFD replacement chars, C0 control bytes, or
    * mojibake marker chars. Narrow projection, no shuffle.
    */
  def encodingGate(d: DataFrame): DataFrame =
    d.join(TextOps.encodingProfile(d)
        .where(col("replacement_chars") === 0 && col("control_chars") === 0 &&
          col("mojibake_marks") === 0)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Stage 2 — normalize-then-exact-dedup (q85): keep the lowest id
    * per canonicalized text.
    */
  def normalizeDedup(d: DataFrame): DataFrame =
    Dedup.exact(d.withColumn("__norm", TextOps.normalizeText(col("text"))),
      "doc_id", "__norm")
      .drop("__norm")

  /** Stage 3 — MinHash-LSH near-dup removal (q12 pairs + q23 keep
    * policy) over the CURRENT survivor set: detect ≥ threshold
    * shingle-Jaccard pairs, cluster, keep each cluster's lowest id.
    */
  def nearDupDedup(d: DataFrame,
                   mat: StageMaterializer = LocalCheckpointMaterializer): DataFrame =
    Dedup.dedupNearDups(d,
      Dedup.nearDupMinHash(d, shingleSize = ShingleSize,
        threshold = JaccardThreshold, mat = mat),
      "doc_id", mat = mat)

  /** Stage 4 — decontamination (q30's split): the benchmark set is the
    * ORIGINAL corpus's `doc_id % BenchMod == 0` slice (an eval set is
    * defined independently of what earlier gates dropped); benchmark
    * members leave the training set, and so does any survivor sharing
    * a 5-gram with the benchmark.
    */
  def decontaminate(d: DataFrame, corpus: DataFrame): DataFrame =
    TextOps.decontaminate(
      d.where(col("doc_id") % BenchMod =!= 0),
      corpus.where(col("doc_id") % BenchMod === 0),
      shingleSize = DeconShingleSize)

  /** Stage 5 — per-language mixture sampling (q33's rates: unlisted
    * languages drop entirely).
    */
  def mixture(d: DataFrame): DataFrame =
    Sampling.mixtureSample(d, MixtureRates, keyCol = "lang")

  /** Stage 6 — sequence packing (q34): contiguous id-ordered bins per
    * language shard.
    */
  def pack(d: DataFrame): DataFrame =
    TextOps.packSequences(d, capacity = PackCapacity, shardCols = Seq("lang"))

  /** Stage-boundary materializer seam. Every stage consumes its input
    * on 2-4 internal plan branches (gate = profile semi-join, dedups =
    * pair graph + anti join, decontamination = shingle join + final
    * join), so an unmaterialized chain RE-RUNS each upstream stage
    * once per downstream branch — multiplicatively. Materialization
    * policy is therefore injectable, and operator-internal cuts (e.g.
    * [[Dedup.connectedComponents]]'s rounds) name themselves here too:
    * the stage body is BY-NAME, so a materializer that already holds a
    * stage's landing can skip constructing (and, for eager operators,
    * executing) it entirely — the resume path.
    */
  trait StageMaterializer {
    def apply(stage: String)(d: => DataFrame): DataFrame
  }

  /** Default: eager local checkpoint — fastest cut of the lineage, but
    * the blocks live in non-replicated executor storage, so a lost or
    * preempted executor aborts the run (and makes run()/audit() eager
    * on construction). The right trade single-host and for tests; a
    * 100 TB / dynamic-allocation deployment should pass
    * [[DurableMaterializer]] instead.
    *
    * A frame that already IS a materialized local checkpoint (its
    * analyzed plan a `LogicalRDD` over an already-checkpointed RDD) is
    * returned unchanged: cutting a cut would only copy its blocks. A
    * `createDataFrame(rdd)` frame is a `LogicalRDD` too, but its RDD
    * is not checkpointed, so it is still cut.
    */
  object LocalCheckpointMaterializer extends StageMaterializer {
    def apply(stage: String)(d: => DataFrame): DataFrame = {
      val f = d
      f.queryExecution.analyzed match {
        case r: LogicalRDD if r.rdd.isCheckpointed => f
        case _ => f.localCheckpoint(true)
      }
    }
  }

  /** Durable stage landing — the F13 step-cache trade
    * ([[graft.exec.StepRunner.executeSql]]'s cacheDir round-trip)
    * applied to the chain's stage boundaries: each stage lands once as
    * parquet under `dir/<stage>` and downstream reads the landing. A
    * landing with its `_SUCCESS` marker (written last by the
    * committer, so a half-written stage re-lands) is REUSED without
    * recomputing anything upstream of it — a preempted or killed run
    * resumes from its last complete stage instead of restarting from
    * zero. Paths go through the Hadoop filesystem of `dir`, so
    * hdfs:///s3a:// landings work unchanged. One dir corresponds to
    * one logical run over one input: point a re-run at the same dir to
    * resume it, a new input at a fresh dir. The dir is BOUND to
    * `input`: `dir/_INPUT` records its sorted `inputFiles` with each
    * file's length and modification time, and a different listing
    * throws before any landing is reused. A frame with no input files
    * (an in-memory `toDF`) is not fingerprinted.
    */
  final case class DurableMaterializer(spark: SparkSession, dir: String,
                                       input: DataFrame) extends StageMaterializer {
    import org.apache.hadoop.fs.Path
    private val conf = spark.sparkContext.hadoopConfiguration
    private val fs = new Path(dir).getFileSystem(conf)

    // once per materializer, before its first stage is reused or landed
    private lazy val boundToInput: Unit = {
      val listing = input.inputFiles.sorted.toList.map { f =>
        val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
        s"$f\t${st.getLen}\t${st.getModificationTime}"
      }
      val marker = new Path(dir, "_INPUT")
      if (listing.isEmpty) ()
      else if (!fs.exists(marker)) {
        val out = fs.create(marker, false)
        try out.write(listing.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
      } else {
        val in = fs.open(marker)
        val recorded = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        for ((r, l) <- recorded.zipAll(listing, "", "").find(p => p._1 != p._2))
          throw new IllegalStateException(s"DurableMaterializer dir $dir was landed " +
            "from different input; first differing file: " +
            s"${(if (l.nonEmpty) l else r).takeWhile(_ != '\t')} (recorded [$r], now [$l])")
      }
    }

    def apply(stage: String)(d: => DataFrame): DataFrame = {
      boundToInput
      val path = new Path(dir, stage)
      if (!fs.exists(new Path(path, "_SUCCESS")))
        d.write.mode("overwrite").parquet(path.toString)
      Parquet.read(spark, path.toString)
    }
  }

  /** The whole chain, corpus in → packing summary out. */
  def run(corpus: DataFrame,
          mat: StageMaterializer = LocalCheckpointMaterializer): DataFrame = {
    val s1 = mat("s1_encoding_gate")(encodingGate(corpus))
    val s2 = mat("s2_normalize_dedup")(normalizeDedup(s1))
    val s3 = mat("s3_near_dup_dedup")(nearDupDedup(s2, mat))
    val s4 = mat("s4_decontaminate")(decontaminate(s3, corpus))
    pack(mixture(s4))
  }

  /** Per-document drop-stage attribution — the "why was my document
    * removed" debugging surface of the chain (q92): one row per
    * ORIGINAL corpus document naming the FIRST stage that removed it
    * (`encoding`, `exact_dup`, `near_dup`, `benchmark`,
    * `contaminated`, `mixture`) or `kept` for chain survivors
    * (packing only groups, it never drops). Stage semantics and
    * constants are [[run]]'s exactly, so the audit stays end-to-end
    * SQL-replayable (q92's oracle shares q88's CTE chain).
    *
    * Scale shape: each stage contributes only its survivor doc_id set
    * (8-byte keys; text never rides into the audit joins), and the
    * five id-joins reuse one hash-partitioning on doc_id. The chain
    * stages themselves are computed once each — the audit adds no
    * second pass over payloads.
    */
  def audit(corpus: DataFrame,
            mat: StageMaterializer = LocalCheckpointMaterializer): DataFrame = {
    // stage names shared with run(): an audit pointed at a finished
    // run's durable dir reuses its landings instead of recomputing
    val s1 = mat("s1_encoding_gate")(encodingGate(corpus))
    val s2 = mat("s2_normalize_dedup")(normalizeDedup(s1))
    val s3 = mat("s3_near_dup_dedup")(nearDupDedup(s2, mat))
    val s4 = mat("s4_decontaminate")(decontaminate(s3, corpus))
    val s5 = mat("s5_mixture")(mixture(s4))
    def ids(d: DataFrame, flag: String): DataFrame =
      d.select(col("doc_id")).withColumn(flag, lit(true))
    // stage-4 split: the benchmark slice leaves the training set by
    // definition (attributed directly from doc_id), so `contaminated`
    // is exactly "survived near-dup, not benchmark, missing from the
    // decontaminated set"
    val contam = s3.where(col("doc_id") % BenchMod =!= 0)
      .join(s4.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id")).withColumn("__contam", lit(true))
    corpus.select(col("doc_id"), col("lang"))
      .join(ids(s1, "__gated"), Seq("doc_id"), "left")
      .join(ids(s2, "__normed"), Seq("doc_id"), "left")
      .join(ids(s3, "__deduped"), Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(ids(s5, "__mixed"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("__gated").isNull, "encoding")
          .when(col("__normed").isNull, "exact_dup")
          .when(col("__deduped").isNull, "near_dup")
          .when(col("doc_id") % BenchMod === 0, "benchmark")
          .when(col("__contam").isNotNull, "contaminated")
          .when(col("__mixed").isNull, "mixture")
          .otherwise("kept").as("drop_stage"))
  }

  // --- incremental chain: a new batch against persisted corpus state ---

  /** The persisted corpus state the incremental chain probes: the
    * NORMALIZED-text digest index (stage-2 exact dedup, q74's shape on
    * q85's normalization) and the MinHash-LSH index (stage-3 near-dup,
    * q46's shape). Both are plain parquet frames — build once, roll
    * forward per batch with [[rollForward]], never rescan the corpus.
    */
  def corpusState(corpus: DataFrame): (DataFrame, DataFrame) =
    (Dedup.exactIndex(
        corpus.withColumn("__norm", TextOps.normalizeText(col("text"))), "__norm"),
      Dedup.minHashIndex(corpus, shingleSize = ShingleSize))

  /** [[run]]'s production sibling for INCREMENTAL ingest: curate a new
    * batch against the persisted corpus state instead of re-running the
    * whole corpus. Stage-for-stage the same semantics and constants:
    *  1. encoding gate (stateless);
    *  2. within-batch normalize-dedup, then drop batch texts already in
    *     the corpus digest index (first-seen wins — the corpus holds
    *     the copy that arrived first);
    *  3. drop batch docs near-duplicating ANY corpus document (the
    *     LSH probe against the MinHash index, exact-Jaccard-verified),
    *     then within-batch near-dup clustering, keep-min-id;
    *  4. decontaminate against the benchmark slice of
    *     `benchmarkSource` (the eval set is defined on the ORIGINAL
    *     reference corpus, exactly as in [[run]]);
    *  5. mixture sampling. (Packing is an export-time step over the
    *     accumulated corpus, not a per-batch step.)
    *
    * Returns the curated batch ready to append; pass it to
    * [[rollForward]] to update the state for the next batch. Cross-set
    * drops are FIRST-SEEN-WINS (batch loses to corpus regardless of
    * id), matching the streaming sinks; within-batch policy is [[run]]'s
    * keep-min-id. CurationSpec pins incremental ≡ full-chain-on-union
    * where the two policies coincide (corpus ids below batch ids, no
    * transitive chains through corpus losers).
    */
  def runIncremental(batch: DataFrame, normDigestIndex: DataFrame,
                     corpusMinHashIndex: DataFrame,
                     benchmarkSource: DataFrame,
                     mat: StageMaterializer = LocalCheckpointMaterializer)
      : DataFrame = {
    // batch-scoped stage names: a DurableMaterializer dir here must be
    // per-batch (one batch = one logical run over one input)
    val s1 = encodingGate(batch)
    val s2 = mat("inc_s2_exact_vs_index")(Dedup.exactAgainst(
        s1.withColumn("__norm", TextOps.normalizeText(col("text"))),
        normDigestIndex, "doc_id", "__norm")
      .drop("__norm"))
    val vsCorpus = Dedup.nearDupMinHashAgainstIndex(s2, corpusMinHashIndex,
        shingleSize = ShingleSize, threshold = JaccardThreshold, mat = mat)
      .select(col("a_id").as("doc_id")).distinct()
    val s3 = mat("inc_s3_near_dup")(
      nearDupDedup(s2.join(vsCorpus, Seq("doc_id"), "left_anti"), mat))
    val s4 = decontaminate(s3, benchmarkSource)
    mixture(s4)
  }

  /** Fold a curated batch into the corpus state: union the batch's
    * normalized digests and MinHash index rows in. Index-scale work —
    * the digests distinct on 16-byte keys, the MinHash rows append-only
    * (compact with `StreamingDedup.compactIndex` when the partition
    * count accretes).
    */
  def rollForward(normDigestIndex: DataFrame, corpusMinHashIndex: DataFrame,
                  curatedBatch: DataFrame): (DataFrame, DataFrame) =
    (normDigestIndex.unionByName(
        Dedup.exactIndex(
          curatedBatch.withColumn("__norm", TextOps.normalizeText(col("text"))),
          "__norm")).distinct(),
      corpusMinHashIndex.unionByName(
        Dedup.minHashIndex(curatedBatch, shingleSize = ShingleSize)))

  /** The view each fn step reads its input from and registers its
    * output as — the chain's hand-off convention inside a pipeline run.
    */
  val CurationView = "curation"
  /** The dependency alias the raw corpus must be registered under
    * (the decontamination stage reads the ORIGINAL corpus from it).
    */
  val CorpusView = "documents"

  private def step(name: String)(f: (SparkSession, DataFrame) => DataFrame)
    : (String, (SparkSession, EtlContext) => Option[DataFrame]) =
    name -> { (spark: SparkSession, _: EtlContext) =>
      val out = f(spark, spark.table(CurationView))
      out.createOrReplaceTempView(CurationView)
      Some(out)
    }

  /** The chain as named fn steps for `EtlContext.fns`. `curation_init`
    * seeds the hand-off view from the `documents` dependency alias;
    * each later step transforms view → view, and the last
    * data-producing step's output is what the runner journals+merges
    * (F18 semantics).
    */
  def fns: Map[String, (SparkSession, EtlContext) => Option[DataFrame]] = Map(
    ("curation_init" -> { (spark: SparkSession, _: EtlContext) =>
      val out = spark.table(CorpusView)
      out.createOrReplaceTempView(CurationView)
      Some(out)
    }),
    step("encoding_gate")((_, d) => encodingGate(d)),
    step("normalize_dedup")((_, d) => normalizeDedup(d)),
    step("near_dup_dedup")((_, d) => nearDupDedup(d)),
    step("decontaminate")((s, d) => decontaminate(d, s.table(CorpusView))),
    step("mixture_sample")((_, d) => mixture(d)),
    step("pack_sequences")((_, d) => pack(d)))
}
