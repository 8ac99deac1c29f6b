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
  * each and then BROADCAST; scoring is explode → two broadcast hash
  * joins → one per-doc sum (map-side partial). No sort-merge join, no
  * per-feature shuffle wider than the 65536-row model build, nothing
  * grows with corpus size except the one per-doc aggregation every
  * scoring operator here shares. Selection is a global top-k
  * (TakeOrdered — no full sort).
  */
object Dsir {

  /** Feature-hash bucket count: 4 hex chars = 16 bits. The paper uses
    * 10⁴ buckets; 2¹⁶ halves collision mass and keeps the bucket a
    * fixed-width hex SLICE (no cross-engine integer parsing).
    */
  val NumBuckets: Int = 65536

  /** Hashed feature buckets of one text: unigrams ++ adjacent bigrams,
    * each `substr(md5(feature || salt), 1, 4)`. Row-local (an array
    * expression, no join, no shuffle): bigrams come from zipping the
    * token array against itself shifted by one.
    */
  def featureBuckets(text: Column, salt: String = "graft"): Column = {
    val toks = TextOps.tokens(text)
    val m = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => concat(a, lit(" "), b))
    transform(concat(toks, bigrams),
      f => substring(md5(concat(f, lit(salt))), 1, 4))
  }

  /** One corpus's hashed-feature model: (__bucket, __cf) with ≤
    * [[NumBuckets]] rows — broadcast-sized by construction, and the
    * PERSISTABLE state of the operator (the build-once/probe-forever
    * face every index family here has): land it as parquet, score
    * arriving batches with [[dsirScoreAgainstModels]] without ever
    * rescanning the corpus, and fold curated batches back in with
    * [[dsirModelRollForward]]. The total feature count N is
    * `sum(__cf)` — derived at probe time (one ≤65536-row aggregate),
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

  /** Bit-length of (n + add): `length(bin(n + add))` — the integer
    * `⌊log2⌋ + 1` both engines agree on exactly.
    */
  private def bitlen(n: Column, add: Long): Column =
    length(bin(n + lit(add))).cast("long")

  /** Per-document DSIR importance score of `candidates` against
    * `target`: (idCol, n_features, weight_bits, avg_bits), one row per
    * candidate document (docs whose text yields zero features cannot
    * exist under whitespace tokenization — split("") = [""] — so the
    * output covers every input row).
    *
    * The raw model is built from `candidates` itself (the paper's
    * setting: importance against the distribution you are sampling
    * FROM), which makes the candidate lineage a multi-consumer input
    * (model build + feature explode), so it is cut once through
    * [[CurationChain.StageMaterializer]] (`dsir_candidates`) and every
    * consumer reads the same blocks; the call is eager. A candidate
    * frame that is already such a cut is not copied again. To score
    * against models built elsewhere, with no cut at all, use
    * [[dsirScoreAgainstModels]] directly.
    *
    * Features absent from the target model take the smoothed count 1
    * via a left join + coalesce — integer-exact, no special cases.
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
    * ∝ ǀbatchǀ plus two ≤65536-row broadcasts, never ∝ corpus.
    * Features unseen by a model take the smoothed count 1 (left join +
    * coalesce 0, then the uniform +1) — so a batch with brand-new
    * vocabulary still scores, integer-exactly.
    */
  def dsirScoreAgainstModels(batch: DataFrame, rawModel: DataFrame,
                             tgtModel: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text",
                             salt: String = "graft"): DataFrame = {
    val rawCf = rawModel.select(col("__bucket"), col("__cf"))
    val tgtCf = tgtModel.select(col("__bucket"), col("__cf").as("__tcf"))
    val rawN = rawCf.agg(coalesce(sum(col("__cf")), lit(0L)).as("__rn"))
    val tgtN = tgtCf.agg(coalesce(sum(col("__tcf")), lit(0L)).as("__tn"))
    val feats = batch.select(col(idCol),
      explode(featureBuckets(col(textCol), salt)).as("__bucket"))
    // s_raw − s_target per feature OCCURRENCE (the weight is linear in
    // occurrences, so no per-(doc,bucket) pre-count is needed — one
    // per-doc sum does it all)
    feats
      .join(broadcast(rawCf), Seq("__bucket"), "left")
      .join(broadcast(tgtCf), Seq("__bucket"), "left")
      .crossJoin(broadcast(rawN)).crossJoin(broadcast(tgtN))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"),
        sum((bitlen(col("__rn"), NumBuckets.toLong) -
             bitlen(coalesce(col("__cf"), lit(0L)), 1L)) -
            (bitlen(col("__tn"), NumBuckets.toLong) -
             bitlen(coalesce(col("__tcf"), lit(0L)), 1L)))
          .as("weight_bits"))
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
    * `candidates` is consumed three ways (raw model, feature explode,
    * final join-back), so it is cut ONCE, eagerly, as in [[dsirScore]]
    * (`dsir_candidates`; the scoring call gets the cut back unchanged)
    * and every consumer reads the same blocks: a direct call over a
    * parquet corpus scans it exactly once, never ~4×.
    *
    * `weight_bits` is a RESERVED output column (it carries the score):
    * a candidate frame that already has one is rejected at analysis
    * time with a clear message rather than failing ambiguous-column
    * deep in the join ([[dsirScoreAgainstModels]]'s n_features /
    * avg_bits are not selected here and stay caller-visible only
    * through that API).
    */
  def dsirSelect(candidates: DataFrame, target: DataFrame, k: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 salt: String = "graft"): DataFrame = {
    require(k > 0, "dsirSelect requires k > 0")
    require(!candidates.columns.contains("weight_bits"),
      "dsirSelect: 'weight_bits' is a reserved output column — rename it on " +
        "the candidate frame (or score with dsirScoreAgainstModels and join yourself)")
    val c = CurationChain.LocalCheckpointMaterializer("dsir_candidates")(candidates)
    c.join(dsirScore(c, target, idCol, textCol, salt)
        .select(col(idCol), col("weight_bits")), Seq(idCol))
      .orderBy(col("weight_bits").desc, col(idCol).asc)
      .limit(k)
  }
}
