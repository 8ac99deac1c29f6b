package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling for training-data pipelines (§2c extension):
  * split assignment and mixture sampling keyed on a DETERMINISTIC hash
  * bucket instead of an RNG.
  *
  * Why not `df.sample()` / `sampleBy()`: a training pipeline's
  * train/val/test membership and mixture draws must be (a) stable
  * across reruns, partitionings, and cluster sizes, (b) replayable by
  * other engines auditing the pipeline, and (c) a pure function of the
  * ROW, so late-arriving data lands in the same split. Spark's sampler
  * is none of these (partition-seeded RNG). Here each row gets a
  * bucket = first 4 hex chars of `md5(id || salt)` — 16 bits, uniform,
  * computable verbatim in any engine with md5 — and every decision is
  * a string comparison against precomputed hex thresholds.
  *
  * Scale: a narrow codegen'd projection/filter, no shuffle, no state.
  * Changing `salt` draws an independent resample; keeping it pins the
  * assignment forever.
  */
object Sampling {

  /** 16-bit hex bucket of (id, salt): `substr(md5(id || salt), 1, 4)`.
    * A null id RAISES: sampling must be a total function of the row —
    * silently routing null-id rows into one split (or silently dropping
    * them) contaminates exactly the data a pipeline audits by split.
    */
  /** The single definition of a sampling decision's hash base: md5 of
    * (id, salt), with the null-id RAISE shared by every sampler here —
    * one place to change the policy or the encoding.
    */
  private def guardedMd5(id: Column, salt: String): Column =
    when(id.isNull, raise_error(lit(
      "Sampling: null id — sampling decisions must be a total function of the row")))
      .otherwise(md5(concat(id.cast("string"), lit(salt))))

  def hexBucket(id: Column, salt: String): Column =
    substring(guardedMd5(id, salt), 1, 4)

  private def hexThreshold(fraction: Double): String = {
    val v = math.floor(fraction * 65536).toLong
    // rate 1.0 must keep EVERY bucket: "g" sorts after all hex chars,
    // while the naive "10000" would sort BEFORE "2000".."ffff"
    if (v >= 65536) "g" else f"$v%04x"
  }

  /** [[hexThreshold]]'s in-plan form — THE load-bearing cross-engine
    * encoding (the 'g' keep-all sentinel, the 65535 clamp, the 4-hex
    * lpad), defined once for every data-derived-rate sampler. `keepAll`
    * selects the 'g' branch; a rounding-proof integer comparison where
    * the caller has one (temperatureSample) beats re-deriving it from
    * the double rate.
    */
  private def hexThresholdCol(rate: Column, keepAll: Column): Column =
    when(keepAll, lit("g"))
      .otherwise(lpad(lower(hex(least(
        floor(rate * 65536).cast("long"), lit(65535L)))), 4, "0"))

  /** Assign every row a named split by cumulative bucket thresholds,
    * e.g. `Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)`.
    * Fractions must sum to ~1; the last split absorbs rounding.
    */
  def assignSplit(df: DataFrame, splits: Seq[(String, Double)],
                  idCol: String = "doc_id", salt: String = "graft",
                  outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplit requires at least one split")
    require(splits.forall(_._2 >= 0), "split fractions must be non-negative")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val b = hexBucket(col(idCol), salt)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val expr = splits.init.zip(cum.init).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cumFrac)) =>
        val cond = b < lit(hexThreshold(cumFrac))
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }.fold(lit(splits.head._1))(_.otherwise(splits.last._1))
    df.withColumn(outCol, expr)
  }

  /** Mixture sampling: keep each row with its group's rate (by
    * `keyCol`, e.g. source/domain/language) — how a pipeline downweights
    * over-represented sources. Groups absent from `rates` are DROPPED
    * (rate 0): an unlisted source silently flooding the mixture is the
    * bug this default prevents.
    */
  def mixtureSample(df: DataFrame, rates: Map[String, Double],
                    keyCol: String = "source", idCol: String = "doc_id",
                    salt: String = "graft"): DataFrame = {
    require(rates.nonEmpty, "mixtureSample requires at least one rate")
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0, 1]")
    // broadcast-join the rates table rather than compiling an
    // O(|rates|) when-chain into the plan: a mixture over thousands of
    // domains would otherwise produce a thousands-deep expression tree
    // (slow analysis, codegen fallback) and |rates| comparisons per row
    val spark = df.sparkSession
    import spark.implicits._
    val thresholds = rates.toSeq.map { case (k, r) => (k, hexThreshold(r)) }
      .toDF("__graft_key", "__graft_thr")
    applyThresholds(df, thresholds, keyCol, idCol, salt)
  }

  /** Shared tail of the per-group samplers: broadcast the (key,
    * threshold) table and keep rows whose bucket clears their group's
    * threshold.
    */
  private def applyThresholds(df: DataFrame, thresholds: DataFrame,
                              keyCol: String, idCol: String, salt: String): DataFrame =
    df.join(broadcast(thresholds), col(keyCol) === col("__graft_key"))
      .where(hexBucket(col(idCol), salt) < col("__graft_thr"))
      .drop("__graft_key", "__graft_thr")

  /** Exactly `k` rows per group (fewer if the group is smaller),
    * chosen by DETERMINISTIC hash order — balanced eval-set
    * construction without an RNG: rerun, repartition, or replay on
    * another engine and the same rows come back. Ordering is the full
    * md5 hex of (id, salt) with the id as tiebreak, so selection is a
    * pure function of the rows.
    *
    * Scale shape: one window per group — rank shuffles narrow
    * (id, key, hash) rows only; with a hot group, the window carries
    * that group into one partition, acceptable because the OUTPUT is
    * k rows regardless (pair explosion impossible).
    */
  def samplePerGroup(df: DataFrame, k: Int, keyCol: String = "source",
                     idCol: String = "doc_id", salt: String = "graft"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(guardedMd5(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") <= k)
      .drop("__graft_rn")
  }

  /** Importance (weighted) sampling: keep each row with probability
    * proportional to `weightCol`, targeting an expected `fraction` of
    * rows overall — the training-mix op for "prefer longer / cleaner /
    * higher-scoring documents" without an RNG: the keep decision is
    * the same deterministic (id, salt) hex bucket every sampler here
    * uses, so the SAME rows come back on any rerun, partitioning, or
    * engine. Per-row keep rate = min(1, w·f·n / Σw) — mean-normalized
    * weight times the target fraction, clamped; rows whose rate clamps
    * at 1 are always kept, so the realized fraction lands UNDER `f`
    * when weights are extremely skewed (no redistribution pass — a
    * documented property, not a bug).
    *
    * A null or negative weight RAISES (the samplers' total-function
    * policy: silently scoring such rows corrupts the mix unnoticed),
    * an all-zero weight total RAISES (a proportional sample of nothing
    * is a silent empty set otherwise), and the weight column must be
    * INTEGRAL or DECIMAL — a double weight's sum is accumulation-order
    * -dependent, which would quietly void the determinism promise near
    * threshold boundaries; quantize scores (e.g. basis points) first.
    *
    * Scale shape: one 1-row aggregate (Σw, n) broadcast back; the
    * corpus side stays a narrow codegen filter. The rate→4-hex
    * threshold encoding is the samplers' shared one (proven bit-exact
    * cross-engine by q48's oracle): 'g' keep-all sentinel, 65535 clamp.
    */
  def weightedSample(df: DataFrame, weightCol: String, fraction: Double,
                     idCol: String = "doc_id", salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    val wType = df.schema(weightCol).dataType
    require(wType.isInstanceOf[DecimalType] ||
      Seq(ByteType, ShortType, IntegerType, LongType).contains(wType),
      s"weightedSample: $weightCol is $wType — use an integral or decimal weight " +
        "(a double sum is accumulation-order-dependent and breaks determinism); " +
        "quantize fractional scores first, e.g. to basis points")
    val guardedW = when(col(weightCol).isNull || col(weightCol) < 0, raise_error(lit(
      s"weightedSample: null/negative $weightCol — weights must be a total, non-negative function of the row")))
      .otherwise(col(weightCol))
    val tot = df.agg(sum(guardedW).cast("double").as("__sumw"),
      count(lit(1)).as("__n"))
    val sumw = when(col("__sumw") <= 0, raise_error(lit(
      s"weightedSample: total $weightCol is zero — a proportional sample of nothing would be a silent empty set")))
      .otherwise(col("__sumw"))
    val rate = col(weightCol).cast("double") * lit(fraction) *
      col("__n") / sumw
    df.crossJoin(broadcast(tot))
      .withColumn("__graft_thr", hexThresholdCol(rate, keepAll = rate >= 1))
      .where(hexBucket(col(idCol), salt) < col("__graft_thr"))
      .drop("__sumw", "__n", "__graft_thr")
  }

  /** Winsorize a numeric column per group: clip values outside the
    * group's own [pLo, pHi] exact percentiles and flag the clipped
    * rows — outlier taming for length/score features before
    * training-mix statistics, with thresholds derived FROM THE DATA
    * (no magic constants to re-tune per corpus).
    *
    * Exact `percentile` (not a sketch) so the output is a pure
    * function of the input and cross-engine comparable — the same
    * exact/approx trade as facetQuantiles: at extreme scale swap in
    * approx_percentile when a sketch is acceptable.
    *
    * Scale shape: one hash agg per group for the two bounds (one
    * output row per group), broadcast back, then a per-row codegen
    * projection. The heavy part is the exact percentile's per-group
    * sort inside the aggregate — the documented cost of exactness.
    */
  def winsorizeByGroup(df: DataFrame, keyCol: String, valueCol: String,
                       pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    // a NULL group key RAISES (temperatureSample's policy): the inner
    // bounds join would otherwise silently drop every null-key row —
    // NULL never equi-matches NULL
    val guarded = df.withColumn(keyCol,
      when(col(keyCol).isNull, raise_error(lit(
        s"winsorizeByGroup: null $keyCol — null-key rows would vanish in the bounds join")))
        .otherwise(col(keyCol)))
    val bounds = guarded.groupBy(col(keyCol)).agg(
      percentile(col(valueCol), lit(pLo)).as("__lo"),
      percentile(col(valueCol), lit(pHi)).as("__hi"))
    guarded.join(broadcast(bounds), Seq(keyCol))
      .withColumn(s"${valueCol}_clipped",
        greatest(col("__lo"), least(col("__hi"), col(valueCol).cast("double"))))
      .withColumn("is_clipped",
        col(valueCol) < col("__lo") || col(valueCol) > col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Temperature rebalancing (square-root flavor): per-group keep rate
    * `sqrt(min_count / count_g)` derived FROM THE DATA — the smallest
    * group keeps everything, larger groups are damped toward balance
    * (the classic multilingual-corpus reweighting, at temperature
    * T = 2). Deterministic end to end: the rates reduce to integer
    * counts pushed through division/sqrt/floor — all IEEE
    * correctly-rounded ops, so any engine replaying the same formula
    * lands on the same 4-hex threshold (that exactness is WHY this is
    * the sqrt flavor: a general `pow(x, alpha)` is libm-dependent and
    * not bit-stable across engines).
    *
    * Scale shape: one tiny count aggregate (one row per group) joined
    * to its own global min, broadcast back as thresholds; the corpus
    * side stays a narrow hash-bucket filter — no corpus shuffle.
    */
  def temperatureSample(df: DataFrame, keyCol: String = "source",
                        idCol: String = "doc_id", salt: String = "graft"): DataFrame = {
    // a NULL group key RAISES, mirroring hexBucket's null-id policy:
    // the rates are derived FROM the data, so a stray null-key group
    // (often a handful of malformed rows) would otherwise become the
    // global minimum and silently collapse every real group's rate
    // while its own rows vanish in the key join — the worst kind of
    // quiet corpus loss. (The same hazard from a tiny TYPO'D key is
    // the caller's to screen; it is indistinguishable from a
    // legitimate small group.)
    val guardedKey = when(col(keyCol).isNull, raise_error(lit(
      s"temperatureSample: null $keyCol — rates are data-derived, a null-key group would distort them")))
      .otherwise(col(keyCol))
    val counts = df.groupBy(guardedKey.as("__graft_key"))
      .agg(count(lit(1)).as("__cnt"))
    val minCnt = counts.agg(min(col("__cnt")).as("__min"))
    val thresholds = counts.crossJoin(broadcast(minCnt))
      .withColumn("__graft_thr", hexThresholdCol(
        sqrt(col("__min").cast("double") / col("__cnt")),
        keepAll = col("__cnt") <= col("__min")))
      .select("__graft_key", "__graft_thr")
    applyThresholds(df, thresholds, keyCol, idCol, salt)
  }

  /** CONSISTENT fixed-size sample: the k rows whose `md5(id ‖ salt)`
    * sorts lowest (id tie-break) — a deterministic "random" panel of
    * exactly k documents with the CONSISTENCY property rate-based
    * samplers can't give: as the corpus grows, a held panel changes
    * only by new low-hash arrivals displacing the highest-hash members
    * — it is never reshuffled wholesale, so human eval sets and
    * regression panels stay comparable across corpus snapshots. Same
    * md5-of-(id,salt) decision base as every sampler here (audit-
    * replayable in any engine with md5; null ids RAISE), new salt =
    * independent redraw.
    *
    * Scale shape: a global bottom-k = Spark's TakeOrdered — each
    * partition keeps its local k, only k-row heaps move to the driver;
    * no global sort, no full shuffle. (Mergeable for free: bottom-k of
    * a union = bottom-k of the per-shard bottom-k's.)
    */
  def consistentSample(df: DataFrame, k: Int, idCol: String = "doc_id",
                       salt: String = "graft"): DataFrame = {
    require(k > 0, "sample size k must be positive")
    df.orderBy(guardedMd5(col(idCol), salt), col(idCol)).limit(k)
  }

  /** MIXTURE EPOCH PLAN: given target mixture weights per group and a
    * total token budget, report — per group — what honoring the
    * mixture actually requires: available tokens, the group's token
    * target, the implied number of epochs (passes over the group), and
    * the keep-rate to feed [[mixtureSample]] for groups that must be
    * downsampled. `needs_upsampling` flags groups whose target exceeds
    * their data (epochs > 1) — the repetition decision every
    * data-constrained training run confronts, surfaced as a number
    * instead of discovered mid-training.
    *
    * The planner is the arithmetic bridge between a mixture DESIGN
    * (weights) and the sampling OPERATORS ([[mixtureSample]] /
    * [[temperatureSample]]): weights say what the training stream
    * should look like; this says what that costs against the corpus
    * actually held. Groups absent from `weights` are excluded (weight
    * 0 — not part of the mixture); weighted groups absent from the
    * corpus simply don't appear (there is nothing to plan over).
    *
    * Determinism: token counts are exact longs; `target_tokens` is one
    * double product floored to a long; `epochs`/`sample_rate` are one
    * IEEE division each — oracle-comparable.
    *
    * Scale shape: one map-side-combined aggregate to group-cardinality
    * rows, then a broadcast join against the literal weights frame.
    * The corpus is scanned once; only (group, count, token-sum)
    * partials move.
    */
  def epochPlan(df: DataFrame, weights: Map[String, Double],
                tokenBudget: Long, keyCol: String = "source",
                textCol: String = "text"): DataFrame = {
    require(weights.nonEmpty, "epochPlan needs at least one group weight")
    require(weights.values.forall(w => w >= 0.0 && w.isFinite),
      "mixture weights must be finite and non-negative")
    require(tokenBudget > 0, "tokenBudget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toSeq.sortBy(_._1).toDF(keyCol, "weight")
    val avail = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col(textCol))).cast("long")).as("n_tokens"))
    avail.join(broadcast(w), Seq(keyCol))
      .withColumn("target_tokens",
        floor(lit(tokenBudget).cast("double") * col("weight")).cast("long"))
      .withColumn("epochs",
        col("target_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("sample_rate", least(lit(1.0), col("epochs")))
      .withColumn("needs_upsampling", col("epochs") > 1.0)
  }

  /** [[epochPlan]] MATERIALIZED — the planner's `epochs` turned into
    * data: every row repeated once per epoch its group needs, with an
    * `epoch` index column (0-based), deterministic end to end. A group
    * needing `epochs = E` gets `floor(E)` COMPLETE passes (epoch
    * 0 … floor(E)−1 carry every row) plus a FRACTIONAL tail epoch
    * (index `floor(E)`) holding the rows whose hash bucket clears the
    * `E − floor(E)` rate — the samplers' shared md5-threshold encoding,
    * so for a DOWNSAMPLED group (E < 1) the single epoch 0 is exactly
    * [[mixtureSample]]'s keep set at rate E (pinned in the spec). This
    * is the repetition decision the planner surfaces made executable:
    * feed the result to [[Export.epochShardManifest]], whose shards are
    * keyed on (id, epoch), and the multi-epoch stream is reproducible
    * row for row.
    *
    * Groups absent from `weights` are excluded (the planner's weight-0
    * policy). `maxEpochs` is a runaway backstop, not a tuning knob: a
    * mistyped budget would otherwise explode every row thousands of
    * ways before anyone noticed — the guard raises in-plan, naming the
    * group.
    *
    * Determinism: `floor(E)` and the fractional threshold derive from
    * [[epochPlan]]'s already-exact arithmetic with one FLOOR/SUB each
    * — IEEE correctly-rounded, so any engine replaying the formula
    * lands on the same epoch counts and the same 4-hex threshold
    * (q156's oracle replays it verbatim).
    *
    * Scale shape: the plan is group-cardinality and BROADCASTS; the
    * corpus side is one generator-explode (bounded by the group's
    * epoch count) plus a codegen filter — no shuffle, no state. The
    * output is ≈ Σ_g E_g·|g| rows, i.e. sized by the TOKEN BUDGET the
    * caller asked for, never corpus² anything.
    */
  def materializeEpochs(df: DataFrame, weights: Map[String, Double],
                        tokenBudget: Long, keyCol: String = "source",
                        textCol: String = "text", idCol: String = "doc_id",
                        salt: String = "graft",
                        maxEpochs: Int = 1000): DataFrame = {
    require(maxEpochs >= 1, "materializeEpochs: maxEpochs must be >= 1")
    // the internal plan-join columns are guarded like the output column
    // (packSequences' lane-guard discipline): a caller frame already
    // carrying __full/__thr — plausible after another graft operator —
    // would otherwise hit an ambiguous-column error instead of a named
    // require
    val clash = Seq("epoch", "__graft_key", "__full", "__thr")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"materializeEpochs: input already carries ${clash.mkString(", ")} — " +
        "rename or drop (the operator OWNS these columns)")
    val guardedEpochs = when(col("epochs") > lit(maxEpochs.toDouble),
      raise_error(concat(
        lit("materializeEpochs: group '"), col(keyCol),
        lit(s"' needs "), col("epochs").cast("string"),
        lit(s" epochs (maxEpochs=$maxEpochs) — check tokenBudget/weights " +
          "or raise the bound deliberately"))))
      .otherwise(col("epochs"))
    val plan = epochPlan(df, weights, tokenBudget, keyCol, textCol)
      .withColumn("__full", floor(guardedEpochs).cast("long"))
      .withColumn("__thr", hexThresholdCol(
        col("epochs") - floor(col("epochs")), keepAll = lit(false)))
      .select(col(keyCol).as("__graft_key"), col("__full"), col("__thr"))
    df.join(broadcast(plan), col(keyCol) === col("__graft_key"))
      .withColumn("epoch", explode(sequence(lit(0L), col("__full"))))
      .where(col("epoch") < col("__full") ||
        hexBucket(col(idCol), salt) < col("__thr"))
      .drop("__graft_key", "__full", "__thr")
  }
}
