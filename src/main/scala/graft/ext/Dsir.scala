package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection: score every candidate document by how
  * much more probable its hashed n-gram features are under a TARGET
  * corpus model than under the RAW (candidate) corpus model, then keep
  * the top-k — the published importance-resampling recipe for matching
  * a pretraining mixture to a high-quality target domain (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023), re-expressed Spark-first and integer-exact.
  *
  * Feature space (the paper's): unigrams ∪ adjacent bigrams, hashed
  * into [[NumBuckets]] buckets. The bucket is the first 4 hex chars of
  * `md5(feature || salt)` — the repo's one cross-engine hash idiom
  * ([[Sampling.hexBucket]]), so a DuckDB oracle replays the hashing
  * verbatim; collisions are part of the method (hashing IS the
  * dimensionality reduction), identically on both engines.
  *
  * Scoring. The paper's log importance weight is
  * `Σ_f m_f·(log p_target(f) − log p_raw(f))` over a doc's feature
  * multiset. Libm logs differ across engines past 1 ulp (the q73
  * problem), so like [[TextOps.unigramSurprisalBits]] each log is
  * quantized to its BIT-LENGTH surprisal: with add-one smoothing,
  * `s(f) = bitlen(N + NumBuckets) − bitlen(cf(f) + 1)` bits, and
  *
  *   weight_bits = Σ_f m_f · (s_raw(f) − s_target(f))
  *
  * — pure integer ops until one final IEEE division, exact in any
  * engine. Positive = more target-like than the raw corpus average;
  * the ranking signal of the paper's weight, reproducible anywhere.
  *
  * Scale shape (the part that must survive 100 TB): both models are
  * AT MOST [[NumBuckets]] = 65536 rows regardless of corpus size —
  * they build with one map-side-combinable bucket-count aggregation
  * each, are collected together into one dense per-bucket weight
  * table and ship once per executor as a BROADCAST. Scoring is then
  * one row-local expression per document
  * ([[graft.functions.DsirWeightSum]]): no explode, no join, no
  * shuffle, nothing that grows with corpus size beyond the scan
  * itself. Selection is a global top-k (TakeOrdered — no full sort).
  */
object Dsir {

  /** Feature-hash bucket count: 4 hex chars = 16 bits. The paper uses
    * 10⁴ buckets; 2¹⁶ halves collision mass and keeps the bucket a
    * fixed-width hex SLICE (no cross-engine integer parsing).
    */
  val NumBuckets: Int = 65536

  /** Hashed feature buckets of one text: unigrams ++ adjacent bigrams
    * of the single-space split, each `substr(md5(feature || salt), 1,
    * 4)`. One native row-local expression
    * ([[graft.functions.DsirFeatureBuckets]]) that builds no token or
    * bigram string.
    */
  def featureBuckets(text: Column, salt: String = "graft"): Column =
    graft.functions.DsirExprs.featureBuckets(text, salt)

  /** One corpus's hashed-feature model: (__bucket, __cf) with ≤
    * [[NumBuckets]] rows — broadcast-sized by construction, and the
    * PERSISTABLE state of the operator (the build-once/probe-forever
    * face every index family here has): land it as parquet, score
    * arriving batches with [[dsirScoreAgainstModels]] without ever
    * rescanning the corpus, and fold curated batches back in with
    * [[dsirModelRollForward]]. The total feature count N is
    * `sum(__cf)` — summed as the model is collected at probe time,
    * so the model needs no side-channel metadata.
    */
  def dsirModel(corpus: DataFrame, textCol: String = "text",
                salt: String = "graft"): DataFrame =
    corpus.select(explode(featureBuckets(col(textCol), salt)).as("__bucket"))
      .groupBy("__bucket").agg(count(lit(1)).as("__cf"))

  /** Fold a batch's features into a persisted model: union + one
    * re-aggregation on the ≤65536-row bucket key — model-scale work,
    * the corpus is never rescanned.
    */
  def dsirModelRollForward(model: DataFrame, batch: DataFrame,
                           textCol: String = "text",
                           salt: String = "graft"): DataFrame =
    model.unionByName(dsirModel(batch, textCol, salt))
      .groupBy("__bucket").agg(sum(col("__cf")).as("__cf"))

  /** Per-bucket weight table of a (raw, target) model pair:
    * `w(b) = s_raw(b) − s_target(b)` with `s(b) = bitlen(N + NumBuckets)
    * − bitlen(cf(b) + 1)` (a bucket a model lacks has cf 0), `bitlen`
    * being `Long.toBinaryString(x).length` — the function Spark's
    * `length(bin(x))` computes, so the integers are the SQL replay's.
    * Both models are collected in ONE job (each is ≤
    * [[NumBuckets]] rows, the size they were already broadcast at) and
    * the table ships once per executor as a broadcast. A model is
    * validated as it lands: a bucket that is not 4 lowercase hex chars
    * or that appears twice (an un-merged roll-forward) would silently
    * score wrong, so it is rejected here.
    */
  private def weightTable(rawModel: DataFrame, tgtModel: DataFrame)
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    def side(m: DataFrame, s: Int) =
      m.select(lit(s).as("__side"), col("__bucket"), col("__cf").cast("long"))
    val names = Array("raw", "target")
    val hex4 = "[0-9a-f]{4}".r
    val cf = Array.fill(2)(new Array[Long](NumBuckets))
    val seen = Array.fill(2)(new java.util.BitSet(NumBuckets))
    val total = new Array[Long](2)
    side(rawModel, 0).unionByName(side(tgtModel, 1)).collect().foreach { r =>
      val s = r.getInt(0)
      val b = r.getString(1)
      require(b != null && hex4.matches(b),
        s"DSIR ${names(s)} model bucket '$b' is not 4 lowercase hex chars " +
          "— a model must come from dsirModel")
      val i = Integer.parseInt(b, 16)
      require(!seen(s).get(i),
        s"DSIR ${names(s)} model holds bucket $b twice — aggregate it " +
          "per __bucket (dsirModelRollForward) before scoring")
      seen(s).set(i)
      val c = if (r.isNullAt(2)) 0L else r.getLong(2)
      cf(s)(i) = c
      total(s) += c
    }
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    def surprisal(s: Int, b: Int): Long =
      bitlen(total(s) + NumBuckets) - bitlen(cf(s)(b) + 1L)
    rawModel.sparkSession.sparkContext.broadcast(
      Array.tabulate(NumBuckets)(b => surprisal(0, b) - surprisal(1, b)))
  }

  /** Per-document DSIR importance score of `candidates` against
    * `target`: (idCol, n_features, weight_bits, avg_bits), one row per
    * candidate row with non-NULL text (whitespace tokenization never
    * yields zero features — split("") = [""]).
    *
    * The raw model is built from `candidates` itself (the paper's
    * setting: importance against the distribution you are sampling
    * FROM), which makes the candidate lineage a multi-consumer input
    * (model build + scoring), so it is cut once through
    * [[CurationChain.StageMaterializer]] (`dsir_candidates`) and every
    * consumer reads the same blocks; the call is eager. A candidate
    * frame that is already such a cut is not copied again. To score
    * against models built elsewhere, with no cut at all, use
    * [[dsirScoreAgainstModels]] directly.
    */
  def dsirScore(candidates: DataFrame, target: DataFrame,
                idCol: String = "doc_id", textCol: String = "text",
                salt: String = "graft"): DataFrame = {
    val c = CurationChain.LocalCheckpointMaterializer("dsir_candidates")(candidates)
    dsirScoreAgainstModels(c, dsirModel(c, textCol, salt),
      dsirModel(target, textCol, salt), idCol, textCol, salt)
  }

  /** Score a batch against PERSISTED models — the incremental face:
    * the raw/target models were built once ([[dsirModel]], typically
    * landed as parquet) and only the batch tokenizes here; probe cost
    * ∝ ǀbatchǀ plus one ≤2·65536-row model collect, never ∝ corpus.
    * Scoring is row-local ([[graft.functions.DsirWeightSum]] against
    * the broadcast weight table): no explode, join or shuffle. Features
    * unseen by a model take the smoothed count 1 — so a batch with
    * brand-new vocabulary still scores, integer-exactly. Rows with
    * NULL text get no score row.
    */
  def dsirScoreAgainstModels(batch: DataFrame, rawModel: DataFrame,
                             tgtModel: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text",
                             salt: String = "graft"): DataFrame = {
    val w = graft.functions.DsirExprs.weightSum(col(textCol), salt,
      weightTable(rawModel, tgtModel))
    batch.where(col(textCol).isNotNull)
      .select(col(idCol), w.as("__w"))
      .select(col(idCol), col("__w.n_features"), col("__w.weight_bits"))
      .withColumn("avg_bits",
        col("weight_bits").cast("double") / col("n_features").cast("double"))
  }

  /** Keep the k most target-like candidates: full candidate rows plus
    * their weight_bits, ordered (weight_bits DESC, id ASC) — the
    * deterministic, exactly-replayable face of the paper's Gumbel
    * top-k resample (the stochastic tie-break replaced by the id so
    * two engines select the identical set). Plans as TakeOrdered, not
    * a full sort.
    *
    * The score is appended in-row ([[dsirScoreAgainstModels]]'s
    * expression), so no id joins back. `candidates` is still consumed
    * twice (raw model build, scoring), so it is cut ONCE, eagerly, as
    * in [[dsirScore]] (`dsir_candidates`) and both consumers read the
    * same blocks: a direct call over a parquet corpus scans it exactly
    * once. Candidates with a NULL id or NULL text are not selected.
    *
    * `weight_bits` is a RESERVED output column (it carries the score):
    * a candidate frame that already has one is rejected at analysis
    * time with a clear message rather than failing ambiguous-column
    * later ([[dsirScoreAgainstModels]]'s n_features / avg_bits are not
    * selected here and stay caller-visible only through that API).
    */
  def dsirSelect(candidates: DataFrame, target: DataFrame, k: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 salt: String = "graft"): DataFrame = {
    require(k > 0, "dsirSelect requires k > 0")
    require(!candidates.columns.contains("weight_bits"),
      "dsirSelect: 'weight_bits' is a reserved output column — rename it on " +
        "the candidate frame (or score with dsirScoreAgainstModels and join yourself)")
    val c = CurationChain.LocalCheckpointMaterializer("dsir_candidates")(candidates)
    val w = graft.functions.DsirExprs.weightSum(col(textCol), salt,
      weightTable(dsirModel(c, textCol, salt), dsirModel(target, textCol, salt)))
    c.where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol) +: c.columns.toSeq.filter(_ != idCol).map(col) :+
        w.getField("weight_bits").as("weight_bits"): _*)
      .orderBy(col("weight_bits").desc, col(idCol).asc)
      .limit(k)
  }
}
