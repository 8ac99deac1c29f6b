package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Trainable language identification — the CCNet/fastText-lid shape:
  * a char-n-gram classifier TRAINED on labeled text, persisted, and
  * used to route every downstream per-language stage (the
  * [[CcNet.curateWithModel]] integration), replacing the fixed
  * marker-token profiles of [[TextOps.languageId]] (which need a
  * human to pick markers per language and miss anything unlisted).
  *
  * Model family: multinomial Naive Bayes over HASHED char n-grams
  * (n = 2 and 3 over the lowercased, whitespace-squeezed text —
  * fastText-lid's feature space, [[QualityModel]]'s hashing trick),
  * one count per (language, bucket) plus one document-count prior row
  * per language. The fit is [[QualityModel]]'s discipline extended to
  * K classes: ONE map-side-combinable integer aggregation —
  * order-independent, seed-free, bit-reproducible on any partitioning
  * — and the model parquet stores exact integers, so the persisted
  * round-trip changes nothing about scoring (ExtSpec pins the
  * bit-identity).
  *
  * Scoring: add-alpha-smoothed per-language log-likelihood
  *   lp(doc, L) = ln p(L) + Σ_b m_b · [ln(cnt(b,L)+α) − ln(tot(L)+α·B)]
  * with the per-(doc, language) double sum folded SEQUENTIALLY in
  * bucket order (the repo's deterministic-sum contract), argmax by
  * (−lp, language) so ties break lexicographically. ln/exp route
  * through libm → scores are platform-stable but not oracle-comparable
  * across engines, so the registry face is golden-pinned like
  * q73/q86.
  *
  * Scale shape (100 TB): feature extraction is a narrow per-row HOF
  * projection; training is one hash-aggregate over ≤ K·numBuckets
  * keys; the model is O(K·numBuckets) rows — bounded and broadcast at
  * score time (≈ a few MB for K≈10, B=2^16), so scoring is one
  * broadcast join per distinct (doc, bucket) plus one per-doc window
  * fold ([[TextOps.orderedDocSums]], K sums at once). No corpus-sized
  * driver state, no quadratic term.
  */
object LangModel {

  /** Feature space defaults — bound to a trained model exactly like
    * the LM's `n` and the MinHash banding: score with the values you
    * trained with.
    */
  val DefaultNs: Seq[Int] = Seq(2, 3)
  val DefaultBuckets: Int = 1 << 16

  /** One row per feature OCCURRENCE: (carry..., bucket) — the char
    * n-grams (every n in `ns`, every code-point position) of the
    * [[TextOps.normalizeText]]-canonicalized text, hashed into
    * buckets. The grams never materialize as substring objects:
    * [[graft.functions.ArrayExprs.charNgramBuckets]] hashes each
    * gram's byte slice in place through the same XXH64 entry point
    * the previous `explode(substr grams) → pmod(xxhash64(__f), B)`
    * pipeline used, emitting the bit-identical bucket sequence
    * (FunctionsSpec pins it on multibyte fixtures) at a fraction of
    * the per-row allocation — this explode is the trained scorer's
    * dominant corpus-scale cost.
    */
  private def featureStream(docs: DataFrame, textCol: String, ns: Seq[Int],
                            numBuckets: Int, carry: Seq[String]): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(ns.nonEmpty && ns.forall(_ > 0), s"char n-gram sizes must be positive, got $ns")
    docs.select(carry.map(col) :+
      explode(graft.functions.ArrayExprs.charNgramBuckets(
        TextOps.normalizeText(col(textCol)), ns, numBuckets)).as("bucket"): _*)
  }

  /** Train the classifier ONCE and get a persistable model: one
    * DataFrame of exact integer counts — (lang, bucket, cnt) feature
    * rows plus one PRIOR MARKER row per language (bucket NULL, cnt =
    * document count). Rows with a NULL/empty language label are
    * skipped (unlabelable training text teaches nothing).
    */
  def langTrain(labeled: DataFrame, langCol: String = "lang",
                textCol: String = "text",
                ns: Seq[Int] = DefaultNs,
                numBuckets: Int = DefaultBuckets): DataFrame = {
    val rows = labeled.where(col(langCol).isNotNull && col(langCol) =!= "")
      .select(col(langCol).as("lang"), col(textCol))
    val bucketRows = featureStream(rows, textCol, ns, numBuckets, Seq("lang"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("cnt"))
    val priorRows = rows.groupBy("lang")
      .agg(count(lit(1)).as("cnt"))
      .select(col("lang"), lit(null).cast("long").as("bucket"), col("cnt"))
    bucketRows.unionByName(priorRows)
  }

  /** Score a batch against a PRE-TRAINED model (same ns/numBuckets as
    * training). Output: (idCol, lang_pred, logprob, margin) — the
    * argmax language, its smoothed log-likelihood, and the gap to the
    * runner-up (the abstention signal CCNet thresholds on; NULL when
    * the model holds a single language). Docs yielding no features
    * (NULL/empty text) predict NULL.
    */
  def langScoreAgainst(docs: DataFrame, model: DataFrame,
                       alpha: Double = 0.5,
                       idCol: String = "doc_id", textCol: String = "text",
                       ns: Seq[Int] = DefaultNs,
                       numBuckets: Int = DefaultBuckets): DataFrame = {
    require(alpha > 0, "alpha must be positive (a=0 makes unseen buckets -inf)")
    val buckets = model.where(col("bucket").isNotNull)
    // per-language totals + log prior: model-sized aggregation, K rows,
    // COLLECTED once (bounded by the model's language count — the
    // bounded-collect pattern) so the per-doc folds below run against
    // literal per-language constants. The priors are computed IN Spark
    // and collected as the resulting doubles — identical bits to the
    // previous in-plan expression.
    val priors = model.where(col("bucket").isNull)
      .groupBy("lang").agg(sum(col("cnt")).as("__docs"))
    val nDocs = priors.agg(sum(col("__docs")).as("__n"))
    val aB = alpha * numBuckets
    // __unseen is the fold's weight for a bucket absent from the model:
    // log(0 + α) − log(tot + αB), computed HERE by the same Spark `log`
    // expressions the fold used to evaluate per element — same libm
    // calls on the same doubles, so the collected constant is
    // bit-identical to the in-fold value it replaces.
    val langs = buckets.groupBy("lang").agg(sum(col("cnt")).as("__tot"))
      .join(priors, Seq("lang"), "right") // a lang may have prior but no features
      .na.fill(0L, Seq("__tot"))
      .crossJoin(nDocs)
      .select(col("lang"), col("__tot"),
        (log(col("__docs").cast("double")) - log(col("__n").cast("double")))
          .as("__prior"),
        (log(lit(0L).cast("double") + lit(alpha)) -
          log(col("__tot").cast("double") + lit(aB))).as("__unseen"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    require(langs.nonEmpty, "langScoreAgainst: the model holds no languages")
    // the model pivoted WIDE — one row per bucket, one count column per
    // language — so the scoring join and the per-doc fold carry each
    // doc feature ONCE, not once per language. The previous K-row form
    // shuffled a per-(doc, lang) collect_list — K× the whole feature
    // stream as structs — and SCALE_r18 measured it mildly superlinear
    // at ×100 (spill); this shape cuts the fold exchange to 1/K rows.
    // pivot output columns are renamed POSITIONALLY (groupBy col, then
    // one column per `values` entry in list order — documented pivot
    // layout): lang labels originate from self-declared page data, so
    // `col(label)` would mis-parse dots/backticks as struct access and
    // a label literally named "bucket" would collide with the grouping
    // column; positional __c<i> names are collision-proof for ANY label
    // each language's per-bucket weight log(cnt + α) − log(tot + αB)
    // depends only on (bucket, lang), so it is computed ONCE here in
    // the broadcast model frame, not per (doc, bucket, lang) element.
    val wide = buckets.groupBy("bucket")
      .pivot("lang", langs.map(_._1)).agg(first(col("cnt")))
      .toDF("bucket" +: langs.indices.map(i => s"__c$i"): _*)
      .select(col("bucket") +: langs.zipWithIndex.map { case ((_, tot, _, _), i) =>
        (log(coalesce(col(s"__c$i"), lit(0L)).cast("double") + lit(alpha)) -
          log(lit(tot.toDouble) + lit(aB))).as(s"__w$i")
      }: _*)
    val docBuckets = featureStream(
        docs.select(col(idCol), col(textCol)), textCol, ns, numBuckets,
        Seq(idCol))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__m"))
    // per-language SEQUENTIAL sum in bucket order of the product m·w
    // (unseen buckets take the collected constant) — same operands in
    // the same order → identical product doubles → identical sums
    val summed = TextOps.orderedDocSums(
      docBuckets.join(broadcast(wide), Seq("bucket"), "left"), idCol,
      Seq("bucket"), langs.zipWithIndex.map { case ((_, _, _, unseen), i) =>
        col("__m").cast("double") * coalesce(col(s"__w$i"), lit(unseen))
      })
    val lps = langs.zipWithIndex.map { case ((l, _, prior, _), i) =>
      (l, lit(prior) + col(s"__s$i"))
    }
    // argmax by (−lp, lang): deterministic winner AND runner-up margin,
    // now a row-local sort over K entries
    val ranked = sort_array(array(lps.map { case (l, lp) =>
      struct(negate(lp).as("__neg"), lit(l).as("lang"), lp.as("__lp")) }: _*))
    val perDoc = summed.select(col(idCol), ranked.as("__ranked"))
      .select(col(idCol),
        col("__ranked")(0).getField("lang").as("lang_pred"),
        col("__ranked")(0).getField("__lp").as("logprob"),
        when(lit(langs.size) >= 2,
          col("__ranked")(0).getField("__lp") -
            col("__ranked")(1).getField("__lp")).as("margin"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Persist the scorer's output — the build-once artifact SCALE_r18's
    * measurement points at: the char-n-gram scorer is the corpus's
    * dominant linear cost (~0.55 ms/doc on the reference host), so
    * production scores each crawl ONCE, lands the narrow
    * (id, lang_pred, logprob, margin) frame, and every downstream
    * consumer — curation runs, band-rate sweeps, incremental replays —
    * probes the artifact instead of re-paying the scorer
    * ([[CcNet.curateWithPredictions]]). Parquet round-trips the doubles
    * bit-exactly, so probing the artifact is bit-identical to scoring
    * in-line (ExtSpec pins it).
    */
  def writePredictions(spark: org.apache.spark.sql.SparkSession,
                       docs: DataFrame, model: DataFrame, outDir: String,
                       alpha: Double = 0.5,
                       idCol: String = "doc_id", textCol: String = "text",
                       ns: Seq[Int] = DefaultNs,
                       numBuckets: Int = DefaultBuckets): DataFrame = {
    langScoreAgainst(docs, model, alpha, idCol, textCol, ns, numBuckets)
      .write.mode("overwrite").parquet(s"$outDir/predictions")
    predictions(spark, outDir)
  }

  /** The persisted predictions face of a [[writePredictions]] dir. */
  def predictions(spark: org.apache.spark.sql.SparkSession,
                  snapshotDir: String): DataFrame =
    Parquet.read(spark, s"$snapshotDir/predictions")
}
