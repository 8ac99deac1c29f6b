package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trainable document-quality classifier — the standard model-based
  * curation gate that follows the heuristic filters (text-quality,
  * repetition, char-class, encoding-health profiles): train ONCE on a
  * labeled corpus (trusted reference text = positive, raw crawl =
  * negative), persist the model as parquet, score every candidate batch
  * forever (the GPT-3/CCNet quality-filter operational shape; same
  * train/score split as the n-gram LM in [[TextOps.lmTrain]] and the
  * ANN index in [[Similarity.annIndex]]).
  *
  * Model family: fastText-style linear classifier over HASHED word
  * n-gram features (unigrams + word bigrams, hashed into a fixed
  * bucket space — collisions are part of the model, exactly as in
  * fastText's hashing trick). Training is the closed-form
  * log-count-ratio fit (multinomial Naive Bayes weights, the NB-SVM
  * feature recipe): per-bucket per-class occurrence COUNTS, turned
  * into weights at score time by add-alpha smoothing,
  *   w(f) = ln (pos(f)+a)/(posTotal+a·B) − ln (neg(f)+a)/(negTotal+a·B)
  * with B = numBuckets. Why closed-form counts and not SGD: the fit is
  * ONE map-side-combinable integer aggregation — order-independent,
  * seed-free, bit-reproducible on any partitioning and any cluster
  * size — where SGD's result depends on instance order and shuffle
  * nondeterminism (the determinism contract every operator in this
  * repo carries). The model parquet stores exact integers, so the
  * persisted round-trip changes nothing about scoring.
  *
  * Scoring: per-doc logit = prior + (Σ_f m_f·w_f) / n_features —
  * fastText's mean-of-feature-vectors normalization, making the score
  * length-invariant — and quality = sigmoid(logit). The per-doc double
  * sum folds SEQUENTIALLY in bucket order ([[TextOps.orderedDocSums]],
  * the q31/lmPerplexity contract) so scores are bit-identical across
  * runs and partitionings. Logs/exp route through StrictMath → scores
  * are platform-stable but NOT oracle-comparable across engines on a
  * different libm, so the registry face is golden-pinned like q73.
  *
  * Scale shape (100 TB): feature extraction is a narrow projection;
  * training is one hash-aggregate over at most numBuckets keys (the
  * model is O(numBuckets) rows — bounded, broadcastable); scoring
  * joins one row per DISTINCT doc-bucket against the model (an
  * equi-join on an int key, broadcast when the model is small) and
  * folds each doc's rows in one window. No corpus-sized driver state,
  * no quadratic term anywhere.
  */
object QualityModel {

  /** One row per feature OCCURRENCE: (extra..., bucket). Features are
    * the [[TextOps.tokens]] word unigrams plus (when `bigrams`) word
    * bigrams, hashed with xxhash64 (Spark's fixed seed 42) into
    * [0, numBuckets) — the fastText hashing trick. The n-gram strings
    * never materialize: [[graft.functions.ArrayExprs.tokenWindowHashes]]
    * hashes each 1- and 2-token window's byte slice in place, the same
    * bits as xxhash64 of the space-joined words (FunctionsSpec pins
    * it). NULL text yields no rows. Narrow: explode only, no shuffle.
    */
  private def featureStream(docs: DataFrame, textCol: String,
                            numBuckets: Int, bigrams: Boolean,
                            carry: Seq[String]): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    def windows(n: Int) = graft.functions.ArrayExprs.tokenWindowHashes(col(textCol), n)
    val hashes = if (bigrams) concat(windows(1), windows(2)) else windows(1)
    docs.select(carry.map(col) :+ explode(hashes).as("__h"): _*)
      .select(carry.map(col) :+
        pmod(col("__h"), lit(numBuckets.toLong)).as("bucket"): _*)
  }

  /** Train the classifier ONCE and get a persistable model — one
    * DataFrame of exact integer counts: bucket rows (bucket, __pos,
    * __neg = feature occurrences in positive/negative docs) plus a
    * single PRIOR MARKER row (bucket NULL, __pos/__neg = positive/
    * negative DOCUMENT counts, which the class prior needs and bucket
    * rows can't recover). Like the LM's `n` and the MinHash index's
    * banding, the model is bound to its training (numBuckets, bigrams)
    * — score with the same values.
    *
    * `labelCol` is coerced to boolean (true = positive/high-quality).
    */
  def qualityTrain(labeled: DataFrame, labelCol: String = "label",
                   textCol: String = "text",
                   numBuckets: Int = 1 << 18,
                   bigrams: Boolean = true): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val bucketRows = featureStream(
        labeled.where(y.isNotNull).select(y.as("__y"), col(textCol)),
        textCol, numBuckets, bigrams, Seq("__y"))
      .groupBy("bucket")
      .agg(sum(when(col("__y"), lit(1L)).otherwise(lit(0L))).as("__pos"),
        sum(when(!col("__y"), lit(1L)).otherwise(lit(0L))).as("__neg"))
    val priorRow = labeled.where(y.isNotNull)
      .agg(sum(when(y, lit(1L)).otherwise(lit(0L))).as("__pos"),
        sum(when(!y, lit(1L)).otherwise(lit(0L))).as("__neg"))
      .select(lit(null).cast("long").as("bucket"), col("__pos"), col("__neg"))
    bucketRows.unionByName(priorRow)
  }

  /** Score a document batch against a PRE-TRAINED model (see
    * [[qualityTrain]]; pass the SAME numBuckets/bigrams). Add-alpha
    * smoothing gives every bucket — including ones the training corpus
    * never produced — a finite weight, so out-of-domain text scores
    * low, it doesn't fail. Output: (idCol, n_features, logit, quality)
    * with quality = sigmoid(logit) ∈ (0,1); docs whose text yields no
    * features (NULL text) score NULL. Scoring the training corpus
    * against its own persisted model is bit-identical to the in-memory
    * model (integer counts round-trip exactly; ExtSpec pins it).
    */
  def qualityScoreAgainst(docs: DataFrame, model: DataFrame,
                          alpha: Double = 0.5,
                          idCol: String = "doc_id", textCol: String = "text",
                          numBuckets: Int = 1 << 18,
                          bigrams: Boolean = true): DataFrame = {
    require(alpha > 0, "alpha must be positive (a=0 makes unseen buckets -inf)")
    val buckets = model.where(col("bucket").isNotNull)
    // totals derive from the model rows (model-sized agg, never a
    // corpus rescan) and ride a 1-row broadcast, like the LM's vocab
    val totals = buckets
      .agg(sum(col("__pos")).as("__post"), sum(col("__neg")).as("__negt"))
    val prior = model.where(col("bucket").isNull)
      .select((log(col("__pos").cast("double") + lit(alpha)) -
        log(col("__neg").cast("double") + lit(alpha))).as("__prior"))
    val docBuckets = featureStream(
        docs.select(col(idCol), col(textCol)), textCol, numBuckets, bigrams,
        Seq(idCol))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__m"))
    val aB = lit(alpha * numBuckets)
    // the model is O(numBuckets) rows by construction (~6 MB at the
    // default 2^18) no matter how big the training corpus was — always
    // broadcast it, don't let a union-of-aggregates stats estimate
    // push this into a sort-merge shuffle of the corpus side
    val contrib = docBuckets
      .join(broadcast(buckets), Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("bucket"), col("__m"),
        // exact expression shape matters: log(x) − log(y) (not
        // log(x/y)) so the fixture spec can reproduce it bit-for-bit
        ((log(coalesce(col("__pos"), lit(0L)).cast("double") + lit(alpha)) -
          log(col("__post").cast("double") + aB)) -
          (log(coalesce(col("__neg"), lit(0L)).cast("double") + lit(alpha)) -
            log(col("__negt").cast("double") + aB))).as("__w"))
    val perDoc = TextOps.orderedDocSums(contrib, idCol, Seq("bucket"),
        Seq(col("__m").cast("double") * col("__w")))
      .crossJoin(broadcast(prior))
      .select(col(idCol), col("__n").as("n_features"),
        (col("__prior") + col("__s0") / col("__n").cast("double"))
          .as("logit"))
      .withColumn("quality", lit(1.0) / (lit(1.0) + exp(negate(col("logit")))))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Train-and-score convenience (self-scoring, the q73/lmPerplexity
    * shape): fit on `labeled`, score the same rows.
    */
  def qualityScore(labeled: DataFrame, labelCol: String = "label",
                   alpha: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text",
                   numBuckets: Int = 1 << 18,
                   bigrams: Boolean = true): DataFrame =
    qualityScoreAgainst(labeled,
      qualityTrain(labeled, labelCol, textCol, numBuckets, bigrams),
      alpha, idCol, textCol, numBuckets, bigrams)
}
