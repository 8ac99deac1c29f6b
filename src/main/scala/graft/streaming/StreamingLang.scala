package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.ext.LangModel
import graft.io.Parquet

/** Streaming language-prediction sink — the ingest-time face of the
  * persisted lang-prediction artifact ([[graft.ext.LangModel
  * .writePredictions]], q158): the trained char-n-gram scorer is the
  * corpus's dominant linear cost (~0.55 ms/doc measured, SCALE_r18),
  * so production scores each crawl batch ONCE as it lands and every
  * downstream consumer — [[graft.ext.CcNet.curateWithPredictions]]
  * runs, band-rate sweeps, incremental replays — probes the landed
  * frame instead of re-paying the scorer.
  *
  * The MODEL is FROZEN (read per batch from its fixed path — the
  * [[StreamingDsir]] target-model posture): language identity is the
  * fixed thing being predicted, and scoring depends only on (batch,
  * model), never on other batches. That makes the [[BatchRoot]] replay
  * contract trivial and exact: no strictly-earlier read is even
  * needed, so a re-delivered batch id rewrites byte-identical rows
  * whatever else exists on disk.
  *
  * The landed history, merged on read ([[predictions]]), equals the
  * batch [[graft.ext.LangModel.writePredictions]] over the union of
  * all batches bit-for-bit (per-doc scores are independent of the
  * rest of the frame; StreamingSpec pins it), and
  * [[StreamingDedup.compactIndex]] folds the accreted per-batch
  * partitions verbatim — predictions are plain per-doc rows, so
  * compaction can never change a probe.
  *
  * Scale shape per micro-batch: the model is bounded (≤ K·2^16 count
  * rows) and broadcasts; scoring is the [[graft.ext.LangModel
  * .langScoreAgainst]] plan — feature explode, one broadcast join,
  * one per-doc window fold ([[graft.ext.TextOps.orderedDocSums]]) —
  * all ∝ batch size. No corpus rescans, no state store.
  */
object StreamingLang {

  /** foreachBatch sink: land `(idCol, lang_pred, logprob, margin)` for
    * each batch doc under `outRoot/__batch=<id>`. `modelPath` is a
    * persisted [[graft.ext.LangModel.langTrain]] parquet; `ns` /
    * `numBuckets` must be the values the model was trained with (the
    * family's bound-to-the-model contract).
    */
  def scoreSink(modelPath: String, outRoot: String,
                alpha: Double = 0.5,
                idCol: String = "doc_id", textCol: String = "text",
                ns: Seq[Int] = LangModel.DefaultNs,
                numBuckets: Int = LangModel.DefaultBuckets)
               (batch: DataFrame, batchId: Long): Unit = {
    val model = Parquet.read(batch.sparkSession, modelPath)
    BatchRoot.land(LangModel.langScoreAgainst(batch, model, alpha, idCol,
      textCol, ns, numBuckets), outRoot, batchId)
  }

  /** The whole scored history, merged on read — drop-in for
    * [[graft.ext.CcNet.curateWithPredictions]] (the extra `__batch`
    * partition column rides along; the curation tail selects what it
    * needs).
    */
  def predictions(spark: org.apache.spark.sql.SparkSession,
                  outRoot: String): DataFrame =
    Parquet.read(spark, outRoot)
}
