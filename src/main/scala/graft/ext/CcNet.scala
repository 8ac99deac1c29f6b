package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.EtlContext

/** CCNet-style per-language LM bucketing (Wenzek et al. 2020,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data") — the composed pipeline: language-ID partitions the corpus,
  * a per-language LM scores every document, per-language score
  * TERCILES band it into head/middle/tail, and a band-keyed mixture
  * rule keeps the head, samples the middle, and drops the tail.
  *
  * Composition of already-oracled operators with the SAME semantics
  * and constants as their registry queries: [[TextOps.languageId]]
  * (q10), a per-language grouping of [[TextOps.unigramSurprisalBits]]
  * (q72's integer-exact LM score — chosen over [[TextOps.lmPerplexity]]
  * precisely so the WHOLE composed pipeline keeps an exact DuckDB
  * oracle; the perplexity path stays available through
  * [[TextOps.lmPerplexityAgainst]] for users who want the real
  * cross-entropy), exact terciles (Spark's exact `percentile`, as
  * verified by q24), and [[Sampling.mixtureSample]]'s md5
  * threshold rule (q33) keyed by band. Registry query q111.
  *
  * Like [[CurationChain]], two faces drive identical code: [[curate]]
  * directly, [[fns]] through the Step machinery (CurationSpec pins
  * fn-steps ≡ direct).
  *
  * Scale shape: language-ID is one broadcast cross join with map-side
  * argmax; the per-language LM is frequency aggregation on (lang,
  * token) with map-side partials — training and scoring are the SAME
  * single pass, no per-language loop, no driver-side iteration over
  * languages; tercile cuts are one tiny per-language aggregate
  * broadcast back; the band act is a broadcast threshold join. Nothing
  * is quadratic and no stage carries document text past the scoring
  * join.
  */
object CcNet {

  /** The CCNet act: keep the fluent third whole, half the middle, none
    * of the tail (shared with the q111 oracle's CASE thresholds).
    */
  val DefaultBandRates: Map[String, Double] =
    Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.0)

  /** Per-language integer-exact unigram LM score: q72's bit-length
    * surprisal with token frequencies computed WITHIN each `langCol`
    * group — each language is its own model, trained and applied in
    * one aggregation pass. Output: (id, lang, n_tokens,
    * surprisal_bits, avg_bits).
    */
  def perLanguageSurprisal(docs: DataFrame, langCol: String,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val words = docs.select(col(idCol), col(langCol),
      explode(TextOps.tokens(col(textCol))).as("token"))
    // ONE corpus-scale aggregation: the model's corpus frequencies (cf)
    // and per-language totals are ROLLUPS of the per-doc counts —
    // identical integers to aggregating `words` directly (sums of
    // counts), but the token explosion and everything UPSTREAM of it
    // (which can be an expensive trained-scorer join, q136's shape)
    // runs once, not three times. SCALE_r18 measured the difference:
    // the prior three-derivation plan carried 84 scans at q136 and
    // went superlinear in its second decade.
    val docTok = words.groupBy(col(idCol), col(langCol), col("token"))
      .agg(count(lit(1)).as("__m"))
    val cf = docTok.groupBy(col(langCol), col("token"))
      .agg(sum(col("__m")).as("__cf"))
    val total = cf.groupBy(col(langCol)).agg(sum(col("__cf")).as("__n"))
    docTok.join(cf, Seq(langCol, "token"))
      .join(broadcast(total), Seq(langCol))
      .groupBy(col(idCol), col(langCol))
      .agg(sum(col("__m")).as("n_tokens"),
        sum(col("__m") *
            (length(bin(col("__n"))) - length(bin(col("__cf")))).cast("long"))
          .as("surprisal_bits"))
      .withColumn("avg_bits",
        col("surprisal_bits").cast("double") / col("n_tokens").cast("double"))
  }

  /** Head/middle/tail banding by EXACT per-language terciles of
    * `scoreCol` (lower surprisal = more fluent = head). Cuts are one
    * row per language, broadcast back; ties at a cut land in the lower
    * band in both engines (`<=`).
    */
  def surprisalBands(scored: DataFrame, langCol: String,
                     scoreCol: String = "avg_bits"): DataFrame = {
    val cuts = scored.groupBy(col(langCol))
      .agg(percentile(col(scoreCol), lit(1.0 / 3)).as("__lo"),
        percentile(col(scoreCol), lit(2.0 / 3)).as("__hi"))
    scored.join(broadcast(cuts), Seq(langCol))
      .withColumn("band",
        when(col(scoreCol) <= col("__lo"), "head")
          .when(col(scoreCol) <= col("__hi"), "middle")
          .otherwise("tail"))
      .drop("__lo", "__hi")
  }

  /** The whole pipeline: corpus in → banded survivors out, columns
    * (id, lang_cand, n_tokens, surprisal_bits, avg_bits, band).
    */
  def curate(docs: DataFrame, profiles: Seq[(String, Seq[String])],
             bandRates: Map[String, Double] = DefaultBandRates,
             idCol: String = "doc_id", textCol: String = "text",
             mat: CurationChain.StageMaterializer =
               CurationChain.LocalCheckpointMaterializer): DataFrame = {
    val lid = TextOps.languageId(docs, profiles, idCol, textCol)
    // materialize at the stage boundary (CurationChain's discipline):
    // the banding consumes `scored` TWICE (tercile cuts + the join
    // back), and without the cut each consumer re-runs the whole
    // scoring lineage. `scored` is (doc × 5-narrow-column) cardinality
    // — text never crosses the boundary. The POLICY is injectable
    // (CurationChain's StageMaterializer seam): the localCheckpoint
    // default is the single-host trade; a preemptible-cluster run
    // passes DurableMaterializer and RESUMES from the landed stage
    // instead of dying with a lost executor (CurationSpec pins it).
    val scored = mat("ccnet_scored")(
      perLanguageSurprisal(lid, "lang_cand", idCol, textCol))
    val banded = surprisalBands(scored, "lang_cand")
    Sampling.mixtureSample(banded, bandRates, keyCol = "band", idCol = idCol)
  }

  /** [[curate]] routed by a TRAINED language model instead of the
    * marker profiles — the CCNet-as-published shape (its lang-id is a
    * trained fastText classifier, not a marker list): predictions come
    * from a persisted [[LangModel]] parquet (train once on labeled
    * text, score every batch forever), and everything downstream —
    * per-language LM surprisal, banding, band sampling — is [[curate]]
    * verbatim. Docs the model cannot place (no features, NULL text)
    * drop, the same posture as a page matching no marker profile
    * scoring 0 everywhere.
    *
    * `minMargin` is the abstention cut (fastText-lid's confidence
    * threshold reframed on the log-likelihood gap): docs whose
    * winner-vs-runner-up margin is below it are UNDECIDED and drop —
    * better no label than a coin-flip label routing a document into
    * the wrong language's LM. 0.0 (default) keeps every decided doc;
    * single-language models carry a NULL margin and always pass.
    */
  def curateWithModel(docs: DataFrame, langModel: DataFrame,
                      bandRates: Map[String, Double] = DefaultBandRates,
                      idCol: String = "doc_id", textCol: String = "text",
                      ns: Seq[Int] = LangModel.DefaultNs,
                      numBuckets: Int = LangModel.DefaultBuckets,
                      minMargin: Double = 0.0,
                      mat: CurationChain.StageMaterializer =
                        CurationChain.LocalCheckpointMaterializer): DataFrame = {
    // the trained scorer is the EXPENSIVE stage (n-gram explosion +
    // model join); everything downstream consumes its prediction frame
    // repeatedly, so it materializes at the boundary — (doc, lang)
    // two-column cardinality, the cheapest possible cut. SCALE_r18:
    // without these two boundaries the composition re-ran the scorer
    // per consumer (84-scan plan, 407 s at ×100 vs ~5 s components).
    // With a DurableMaterializer, the scorer's landing IS the resume
    // point: a preempted 100 TB run re-enters at the prediction frame
    // instead of re-paying the corpus's dominant linear cost.
    curateTail(docs,
      LangModel.langScoreAgainst(docs, langModel, idCol = idCol,
        textCol = textCol, ns = ns, numBuckets = numBuckets),
      bandRates, idCol, textCol, minMargin, mat)
  }

  /** [[curateWithModel]] with the scoring stage replaced by a PERSISTED
    * predictions artifact ([[LangModel.writePredictions]]) — the
    * production shape SCALE_r18's measurement points at: the scorer is
    * the corpus's dominant linear cost, so score each crawl once, land
    * the narrow frame, and every curation run (band-rate sweeps,
    * re-curations, replays) probes the artifact. Bit-identical to
    * [[curateWithModel]] under the same model and params — parquet
    * round-trips the doubles unchanged (ExtSpec pins it).
    */
  def curateWithPredictions(docs: DataFrame, predictions: DataFrame,
                            bandRates: Map[String, Double] = DefaultBandRates,
                            idCol: String = "doc_id", textCol: String = "text",
                            minMargin: Double = 0.0,
                            mat: CurationChain.StageMaterializer =
                              CurationChain.LocalCheckpointMaterializer): DataFrame =
    curateTail(docs, predictions, bandRates, idCol, textCol, minMargin, mat)

  /** The shared back half: abstention cut → per-language LM surprisal
    * → terciles → band sampling, with the stage-boundary
    * materializations SCALE_r18 added. The materialization POLICY is
    * the injectable [[CurationChain.StageMaterializer]] — the default
    * eager localCheckpoint is the single-host trade (non-replicated
    * executor blocks; an executor loss aborts the run), and a
    * dynamic-allocation / preemptible deployment passes
    * [[CurationChain.DurableMaterializer]] to land both boundaries as
    * parquet and resume a killed run from its last complete stage,
    * bit-for-bit (doubles round-trip parquet exactly; CurationSpec
    * pins resumed ≡ single-session).
    */
  private def curateTail(docs: DataFrame, predictions: DataFrame,
                         bandRates: Map[String, Double], idCol: String,
                         textCol: String, minMargin: Double,
                         mat: CurationChain.StageMaterializer): DataFrame = {
    val pred = mat("ccnet_predictions")(predictions
      .where(col("lang_pred").isNotNull &&
        (col("margin").isNull || col("margin") >= minMargin))
      .select(col(idCol), col("lang_pred").as("lang_cand")))
    val lid = docs.join(pred, Seq(idCol))
    val scored = mat("ccnet_scored")(
      perLanguageSurprisal(lid, "lang_cand", idCol, textCol))
    val banded = surprisalBands(scored, "lang_cand")
    Sampling.mixtureSample(banded, bandRates, keyCol = "band", idCol = idCol)
  }

  /** The view each fn step reads/writes — [[CurationChain.CurationView]]'s
    * convention for this pipeline.
    */
  val CcNetView = "ccnet"

  private def step(name: String)(f: (SparkSession, DataFrame) => DataFrame)
    : (String, (SparkSession, EtlContext) => Option[DataFrame]) =
    name -> { (spark: SparkSession, _: EtlContext) =>
      val out = f(spark, spark.table(CcNetView))
      out.createOrReplaceTempView(CcNetView)
      Some(out)
    }

  /** The pipeline as named fn steps for `EtlContext.fns` — seeded from
    * the `documents` dependency alias, one step per stage, identical
    * code to [[curate]].
    */
  def fns(profiles: Seq[(String, Seq[String])],
          bandRates: Map[String, Double] = DefaultBandRates)
      : Map[String, (SparkSession, EtlContext) => Option[DataFrame]] = Map(
    ("ccnet_init" -> { (spark: SparkSession, _: EtlContext) =>
      val out = spark.table(CurationChain.CorpusView)
      out.createOrReplaceTempView(CcNetView)
      Some(out)
    }),
    step("ccnet_lang_id")((_, d) => TextOps.languageId(d, profiles)),
    step("ccnet_score")((_, d) => perLanguageSurprisal(d, "lang_cand")),
    step("ccnet_band")((_, d) => surprisalBands(d, "lang_cand")),
    step("ccnet_keep")((_, d) =>
      Sampling.mixtureSample(d, bandRates, keyCol = "band")))
}
