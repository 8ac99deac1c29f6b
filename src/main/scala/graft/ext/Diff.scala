package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff (§2c extension): per-document change status
  * between two snapshots of a corpus — the audit step after any
  * curation/normalization run ("what did this run add, drop, or
  * rewrite vs its input?") and the heart of incremental re-processing
  * (only `added`/`changed` docs need re-embedding, re-scoring, …).
  *
  * Statuses: `added` (id only in `newer`), `removed` (id only in
  * `older`), `changed` (both, content digest differs), `unchanged`.
  *
  * Scale shape: both sides reduce to (id, 16-byte md5) BEFORE the
  * join — full text never shuffles — and the full-outer join is a
  * plain equi-join on the id, so AQE/broadcast applies as usual. At
  * 100 TB this is one digest-only shuffle per side.
  */
object Diff {

  /** The diff: `(idCol, status, old_fp, new_fp)`, one row per id seen
    * in either snapshot. Digests are md5 hex of `contentCol` (null
    * for the side the id is absent from).
    */
  def snapshotDiff(older: DataFrame, newer: DataFrame,
                   idCol: String = "doc_id",
                   contentCol: String = "text"): DataFrame = {
    val o = older.select(col(idCol).as("__oid"), md5(col(contentCol)).as("old_fp"))
    val n = newer.select(col(idCol).as("__nid"), md5(col(contentCol)).as("new_fp"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(
        coalesce(col("__oid"), col("__nid")).as(idCol),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged")
          .as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** COMPOSITION DRIFT between two corpus snapshots, per band of a
    * categorical column (language, source, length bucket, quality
    * band, …): did a curation run — or a month of ingest — shift the
    * corpus mixture? The monitoring step every production pipeline
    * runs next to its diff: [[snapshotDiff]] says which documents
    * changed, this says whether the DISTRIBUTION changed.
    *
    * One row per band seen in either snapshot: exact counts, each
    * side's share, the share delta, and the chi-square contribution
    * `(share_new − share_old)² / share_old` (null where the band is
    * new — no baseline to compare against). Chi-square terms are kept
    * PER BAND rather than summed: each term is exact integer counts
    * followed by a fixed tree of IEEE double ops (reproducible across
    * engines), while a cross-partition double sum would be
    * order-dependent. Callers wanting a scalar can sum the column
    * after a sort, or read the bands directly — at report scale the
    * bands ARE the answer ("es fell 2 points, zh doubled").
    *
    * Scale shape: one map-side-combined count aggregate per side —
    * band cardinality rows each, never document rows — then a
    * band-cardinality full-outer join and a broadcast of the 1-row
    * totals frame. At 100 TB the corpus is scanned once per side with
    * only (band, count) partials shuffling.
    */
  def bandDrift(older: DataFrame, newer: DataFrame,
                bandCol: String = "lang"): DataFrame =
    bandDriftFromCounts(bandCounts(older, bandCol), bandCounts(newer, bandCol))

  /** One (band, n) row per distinct value of `bandCol` — the
    * band-cardinality summary [[bandDrift]] compares and the
    * per-micro-batch unit `streaming.StreamingDrift` persists (band
    * counts are sum-mergeable, so a stream's composition is the sum of
    * its batches' counts — no corpus re-scan ever).
    */
  def bandCounts(df: DataFrame, bandCol: String): DataFrame =
    df.groupBy(col(bandCol).as("band")).agg(count(lit(1)).as("n"))

  /** [[bandDrift]] over PRE-AGGREGATED (band, n) frames — the core the
    * streaming monitor reuses against a persisted baseline. Inputs are
    * [[bandCounts]]-shaped; output is identical to [[bandDrift]].
    */
  def bandDriftFromCounts(oldCounts: DataFrame, newCounts: DataFrame): DataFrame = {
    val joined = oldCounts.select(col("band"), col("n").as("n_old"))
      .join(newCounts.select(col("band"), col("n").as("n_new")),
        Seq("band"), "full_outer")
      .select(col("band"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    // an EMPTY side has sum() = null totals; its shares are defined as
    // 0.0 (not null) so the report — and any |share_diff| ordering a
    // caller applies — stays deterministic across engines instead of
    // inheriting engine null-ordering defaults
    val totals = joined.agg(coalesce(sum(col("n_old")), lit(0L)).as("__tot_old"),
      coalesce(sum(col("n_new")), lit(0L)).as("__tot_new"))
    joined.crossJoin(broadcast(totals))
      .withColumn("share_old", when(col("__tot_old") === 0L, lit(0.0))
        .otherwise(col("n_old").cast("double") / col("__tot_old").cast("double")))
      .withColumn("share_new", when(col("__tot_new") === 0L, lit(0.0))
        .otherwise(col("n_new").cast("double") / col("__tot_new").cast("double")))
      .withColumn("share_diff", col("share_new") - col("share_old"))
      .withColumn("chi2_term", when(col("n_old") > 0,
        col("share_diff") * col("share_diff") / col("share_old")))
      .drop("__tot_old", "__tot_new")
  }

  /** TOKEN-level drift between two corpus snapshots — the finest lens
    * of the drift family ([[snapshotDiff]] = which documents,
    * [[bandDrift]] = which bands, this = which WORDS): the `k` tokens
    * whose share of the corpus moved most between `older` and `newer`,
    * ranked by |share delta| — "what vocabulary did this ingest/
    * curation run actually add or lose?" Surfaces topic shifts and
    * boilerplate floods a band-level mixture check cannot see.
    *
    * Exact and cross-engine: integer occurrence counts per side, one
    * IEEE division per share, a subtraction, and a total (|delta|
    * DESC, token ASC) order for the cut — no log, no estimate.
    *
    * Scale shape: one map-side-combinable token count per side
    * (vocabulary-cardinality rows shuffle, never occurrences), a
    * vocabulary-scale full-outer join, broadcast 1-row totals, and a
    * TakeOrdered top-k — the corpus is scanned once per side.
    */
  def tokenDrift(older: DataFrame, newer: DataFrame, k: Int,
                 textCol: String = "text"): DataFrame = {
    require(k > 0, "tokenDrift requires k > 0")
    def counts(df: DataFrame) = df
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val joined = counts(older).select(col("token"), col("n").as("n_old"))
      .join(counts(newer).select(col("token"), col("n").as("n_new")),
        Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    // empty-side guard, same contract as [[bandDriftFromCounts]]: a
    // side with no documents has all shares 0.0, so the
    // |share_diff|-ranked cut below stays engine-deterministic (a null
    // share would sort by engine null-ordering defaults)
    val totals = joined.agg(coalesce(sum(col("n_old")), lit(0L)).as("__tot_old"),
      coalesce(sum(col("n_new")), lit(0L)).as("__tot_new"))
    joined.crossJoin(broadcast(totals))
      .withColumn("share_old", when(col("__tot_old") === 0L, lit(0.0))
        .otherwise(col("n_old").cast("double") / col("__tot_old").cast("double")))
      .withColumn("share_new", when(col("__tot_new") === 0L, lit(0.0))
        .otherwise(col("n_new").cast("double") / col("__tot_new").cast("double")))
      .withColumn("share_diff", col("share_new") - col("share_old"))
      .drop("__tot_old", "__tot_new")
      .orderBy(abs(col("share_diff")).desc, col("token").asc)
      .limit(k)
  }
}
