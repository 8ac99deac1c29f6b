package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-facet corpus sketches (§2c extension): HLL and theta distinct
  * counts, frequent items and quantiles — the scan-once answer to
  * "how many distinct users / documents / normalized texts per
  * (source, lang)" at 100 TB, where an exact `count(distinct)`
  * re-shuffles the whole corpus on every refresh.
  *
  * The sketch column is an opaque `binary` any DataSketches-speaking
  * engine can consume. The theta, frequent-items and quantile
  * families share the lifecycle of the repo's other persisted indexes
  * (digest / MinHash / ANN): BUILD once over the corpus, persist the
  * sketch table as plain parquet, then keep it current by folding each
  * ingest batch's sketch rows in with the family's merge
  * ([[thetaMerge]], [[freqMerge]], [[quantMerge]]) — the old data is
  * never rescanned. [[graft.streaming.StreamingSketches]] lands one
  * sketch table per micro-batch and reads through those merges.
  *
  * Scale shape: build is one partial-aggregated groupBy (partials
  * combine map-side; only the sketches shuffle, never values); merge
  * is a groupBy over (facets × generations) rows — index-scale, not
  * corpus-scale. HLL estimate error is the standard bound
  * ~1.04/sqrt(2^lgK) RSE (lgK=12 → ~1.6%); ExportSpec pins a 3-sigma
  * envelope against exact counts, and the merge ≡ rebuild and parquet
  * round-trip contracts of the merging families.
  */
object Sketches {

  /** One HLL sketch per `groupCols` facet over `valueCol`:
    * `(groupCols…, sketch: binary)`. `lgK` trades size for accuracy
    * (2^lgK registers; 12 → 4 KiB / ~1.6% RSE — the DataSketches
    * default tradeoff for corpus stats).
    */
  def build(df: DataFrame, groupCols: Seq[String], valueCol: String,
            lgK: Int = 12): DataFrame = {
    require(groupCols.nonEmpty, "Sketches.build: need at least one facet column")
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
  }

  /** Read the estimates off a sketch table:
    * `(groupCols…, distinct_est: double)` — rounded estimate as a
    * whole number of values (still a double: HLL's contract).
    */
  def estimates(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.select(
      groupCols.map(col) :+
        round(hll_sketch_estimate(col("sketch"))).as("distinct_est"): _*)

  // --- theta sketches: the set ALGEBRA (intersect / subtract) HLL
  // --- doesn't have — corpus overlap and novelty estimation.

  /** One THETA sketch per facet over `valueCol`:
    * `(groupCols…, sketch: binary)`. Estimates are EXACT below 2^lgK
    * distinct values per facet, ~1/sqrt(2^lgK) RSE above. Same
    * map-side partial-aggregation shape as [[build]].
    */
  def thetaBuild(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 lgK: Int = 12): DataFrame = {
    require(groupCols.nonEmpty, "Sketches.thetaBuild: need at least one facet column")
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.ThetaExprs.thetaSketchAgg(col(valueCol), lgK).as("sketch"))
  }

  /** Fold a frame of theta sketch rows — any number per facet, e.g.
    * one per landed batch — into one sketch per facet. `lgK` must be
    * the family's build value: a smaller union silently DOWNSAMPLES
    * (theta's contract — there is no strict mode), so this is a
    * parameter, not a guess, and [[thetaBuild]]'s default matches.
    */
  def thetaMerge(sketches: DataFrame, groupCols: Seq[String],
                 lgK: Int = 12): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.ThetaExprs.thetaUnionAgg(col("sketch"), lgK).as("sketch"))

  /** Estimates off a theta sketch table (same shape as [[estimates]]). */
  def thetaEstimates(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.select(
      groupCols.map(col) :+
        round(graft.functions.ThetaExprs.thetaEstimate(col("sketch"))).as("distinct_est"): _*)

  // --- frequent-items (Misra-Gries) sketches: mergeable HEAVY-HITTER
  // --- summaries — which tokens/domains dominate, without q40's full
  // --- distinct-token shuffle.

  /** One frequent-items sketch per facet over `valueCol`:
    * `(groupCols…, sketch: binary)`. Optional `weightCol` feeds
    * pre-aggregated (item, count) tables without re-expanding rows.
    * `maxMapSize` must be a power of 2; estimates are EXACT while a
    * facet stays under 0.75·maxMapSize distinct items, and within
    * n/maxMapSize above ([[graft.functions.FreqExprs]] contract).
    */
  def freqBuild(df: DataFrame, groupCols: Seq[String], valueCol: String,
                maxMapSize: Int = 256, weightCol: Option[String] = None): DataFrame = {
    require(groupCols.nonEmpty, "Sketches.freqBuild: need at least one facet column")
    val agg = weightCol match {
      case Some(w) => graft.functions.FreqExprs.freqSketchAgg(
        col(valueCol), col(w).cast("long"), maxMapSize)
      case None => graft.functions.FreqExprs.freqSketchAgg(col(valueCol), maxMapSize)
    }
    df.groupBy(groupCols.map(col): _*).agg(agg.as("sketch"))
  }

  /** Fold a frame of frequent-items sketch rows into one sketch per
    * facet — same family `maxMapSize` (the merged buffer keeps ITS
    * size; mixing sizes silently loosens the error bound, so thread one
    * value per family, as with theta lgK).
    */
  def freqMerge(sketches: DataFrame, groupCols: Seq[String],
                maxMapSize: Int = 256): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.FreqExprs.freqMergeAgg(col("sketch"), maxMapSize).as("sketch"))

  /** Top-k heavy hitters per facet off a sketch table, EXPLODED to one
    * row per item: `(groupCols…, item, est, lb, ub, max_err)` ordered
    * within a facet by (est DESC, item ASC). `max_err` 0 ⇒ the facet's
    * estimates are exact (the sketch never purged).
    *
    * `requireExact = true` adds the in-plan guard
    * ([[graft.functions.SketchGuards.freqExactOrFail]]): a facet that
    * HAS purged fails the query with an explicit "sketch left exact
    * mode" diagnostic — for callers (like the q99 registry entry)
    * whose downstream contract is exact counts, where the alternative
    * is a confusing value mismatch far from the cause.
    */
  def freqTopK(sketches: DataFrame, groupCols: Seq[String], k: Int,
               noFalsePositives: Boolean = false,
               requireExact: Boolean = false): DataFrame = {
    import graft.functions.FreqExprs._
    val guarded =
      if (requireExact)
        sketches.withColumn("sketch",
          graft.functions.SketchGuards.freqExactOrFail(col("sketch")))
      else sketches
    guarded
      .select(groupCols.map(col) :+
        freqMaxError(col("sketch")).as("max_err") :+
        explode(freqTopItems(col("sketch"), k, noFalsePositives)).as("__it"): _*)
      .select(groupCols.map(col) :+
        col("__it.item").as("item") :+
        col("__it.est").as("est") :+
        col("__it.lb").as("lb") :+
        col("__it.ub").as("ub") :+
        col("max_err"): _*)
  }

  // --- quantile sketches: mergeable percentile summaries (the
  // --- persistable sibling of facetQuantiles' one-shot GK pass).

  /** One deterministic quantile sketch per facet over `valueCol`
    * (cast to double): `(groupCols…, sketch: binary)`. Estimates are
    * EXACT below `k` values per facet (nothing compacts); the
    * deterministic-compactor envelope applies above
    * ([[graft.functions.QuantileExprs]] contract).
    */
  def quantBuild(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 k: Int = 256): DataFrame = {
    require(groupCols.nonEmpty, "Sketches.quantBuild: need at least one facet column")
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.QuantileExprs
        .quantSketchAgg(col(valueCol).cast("double"), k).as("sketch"))
  }

  /** Fold a frame of quantile sketch rows into one sketch per facet —
    * a `k` mismatch RAISES (the buffer checks).
    */
  def quantMerge(sketches: DataFrame, groupCols: Seq[String],
                 k: Int = 256): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.QuantileExprs.quantMergeAgg(col("sketch"), k).as("sketch"))

  /** Read quantile estimates off a sketch table: one row per facet
    * with `n` and a `q<pct>` column per requested quantile.
    */
  def quantEstimates(sketches: DataFrame, groupCols: Seq[String],
                     qs: Seq[Double], requireExact: Boolean = false): DataFrame = {
    import graft.functions.QuantileExprs._
    require(qs.nonEmpty, "Sketches.quantEstimates: need at least one quantile")
    // requireExact: fail with an explicit "sketch left exact mode"
    // diagnostic the moment a facet has compacted (> k values) —
    // see freqTopK's rationale
    val guarded =
      if (requireExact)
        sketches.withColumn("sketch",
          graft.functions.SketchGuards.quantExactOrFail(col("sketch")))
      else sketches
    guarded.select(
      groupCols.map(col) ++
        (quantCount(col("sketch")).as("n") +:
          qs.map(q => quantEstimate(col("sketch"), lit(q))
            .as(s"q${math.round(q * 100)}"))): _*)
  }

  /** Per-facet OVERLAP report between two theta sketch tables (inner
    * join on the facets — a facet absent from either side has no
    * overlap to report): distinct estimates of each side, of the
    * intersection, and of A-only/B-only. THE scalable contamination /
    * drift estimator: at 100 TB both sides reduce to facet-cardinality
    * sketch tables before this join ever runs.
    */
  def overlap(a: DataFrame, b: DataFrame, groupCols: Seq[String],
              requireExact: Boolean = false): DataFrame = {
    import graft.functions.ThetaExprs._
    // requireExact: fail with an explicit "sketch left exact mode"
    // diagnostic the moment either side's facet has started sampling
    // (> 2^lgK distinct values) — see freqTopK's rationale
    def guard(c: org.apache.spark.sql.Column) =
      if (requireExact) graft.functions.SketchGuards.thetaExactOrFail(c) else c
    val an = a.select(groupCols.map(col) :+ guard(col("sketch")).as("__a"): _*)
    val bn = b.select(groupCols.map(col) :+ guard(col("sketch")).as("__b"): _*)
    an.join(bn, groupCols)
      .select(groupCols.map(col) :+
        round(thetaEstimate(col("__a"))).as("a_distinct") :+
        round(thetaEstimate(col("__b"))).as("b_distinct") :+
        round(thetaEstimate(thetaIntersect(col("__a"), col("__b")))).as("overlap_est") :+
        round(thetaEstimate(thetaANotB(col("__a"), col("__b")))).as("a_only_est") :+
        round(thetaEstimate(thetaANotB(col("__b"), col("__a")))).as("b_only_est"): _*)
  }
}
