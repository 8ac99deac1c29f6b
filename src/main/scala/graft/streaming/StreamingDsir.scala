package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Dsir
import graft.io.Parquet

/** Streaming DSIR scoring — importance-score every arriving micro-batch
  * against the persisted hashed-feature models ([[graft.ext.Dsir]]),
  * the ingest-time face of target-matched data selection: "how
  * target-like is this crawl slice?" answered as it lands, with the
  * corpus never rescanned.
  *
  * The TARGET model is FROZEN (the published setting — the target
  * distribution is the fixed thing being matched); the RAW model ROLLS
  * FORWARD batch by batch, so each batch is scored against the raw
  * distribution of everything that arrived before it. Seed the raw
  * model root with a corpus model under `__batch=-1` (any partition id
  * below the first batch) to start from an existing corpus rather than
  * cold; cold-start is well-defined too — an empty raw model smooths
  * every count to 1, scores stay integer-exact.
  *
  * Replay contract: [[BatchRoot]] — a re-delivered batch id
  * reproduces its original scores exactly.
  *
  * Scale shape per micro-batch: merging the rolled model partitions is
  * a ≤65536-row-per-partition aggregation (model-scale, not
  * corpus-scale); scoring is [[Dsir.dsirScoreAgainstModels]]'s one
  * row-local expression per batch doc against the broadcast weight
  * table of the two models (no explode, join or shuffle). A
  * long-lived stream accretes one small partition per batch under the
  * model root; [[StreamingDedup.compactIndex]] folds them verbatim
  * (it rewrites rows without aggregating, and the probe re-aggregates
  * per bucket on read — StreamingSpec pins score equality across a
  * compaction), with its documented trade made precise: compaction
  * moves every partition at or below the fold point — INCLUDING a
  * `__batch=-1` seed model — into one partition AT the fold point, so
  * a replay of a batch id ≤ the fold point finds NO strictly-earlier
  * partitions and scores against an EMPTY raw model (every count
  * smoothed to 1), not against the folded state and not its original
  * scores. Replay-exactness therefore only holds for batch ids above
  * the last fold point: either compact only up to the checkpoint's
  * committed batch id (replays can't reach below it), or accept that
  * deeper manual replays are cold-model scores.
  */
object StreamingDsir {

  /** foreachBatch sink: land `(idCol, n_features, weight_bits,
    * avg_bits)` per batch doc under `outRoot/__batch=<id>`, roll the
    * raw model forward under `rawModelRoot/__batch=<id>`. `tgtModel`
    * is read once per batch from its fixed path.
    */
  def scoreSink(rawModelRoot: String, tgtModelPath: String, outRoot: String,
                idCol: String = "doc_id", textCol: String = "text",
                salt: String = "graft")
               (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val rawModel = BatchRoot.prior(spark, rawModelRoot, batchId) match {
      case Some(raw) => raw.groupBy("__bucket").agg(sum(col("__cf")).as("__cf"))
      case None => // cold start: every count smooths to 1, still exact
        spark.range(0).select(lit("").as("__bucket"), lit(0L).as("__cf"))
    }
    val tgtModel = Parquet.read(spark, tgtModelPath)
    // the micro-batch frame is tokenized twice (scoring + model roll) —
    // cached so the source is read once per batch, not once per write
    BatchRoot.cached(batch) {
      BatchRoot.land(Dsir.dsirScoreAgainstModels(batch, rawModel, tgtModel,
        idCol, textCol, salt), outRoot, batchId)
      BatchRoot.land(Dsir.dsirModel(batch, textCol, salt), rawModelRoot, batchId)
    }
  }

  /** The whole scored history, merged on read. */
  def scores(spark: org.apache.spark.sql.SparkSession,
             outRoot: String): DataFrame =
    Parquet.read(spark, outRoot)
}
