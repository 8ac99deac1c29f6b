package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.io.Parquet

/** SQL registration for the graft expressions: user transform steps run
  * through `spark.sql` (the framework's SQL-step engine, F11), so the
  * extension operators are exposed as SQL functions too —
  * `cosine_similarity(a, b)`, `shingle_hashes(text, n)`,
  * `simhash_chunks(hashes)`, `sorted_intersect_count(a, b)`.
  *
  * Two registration paths:
  *  - [[GraftExtensions]] for session construction:
  *    `spark.sql.extensions=graft.functions.GraftExtensions` (the
  *    `SparkSessionExtensions.injectFunction` route);
  *  - [[GraftFunctions.register]] for an already-running session
  *    (temp-function registry), which is what the pipeline runner can
  *    call before executing user SQL.
  */
object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "_FUNC_(a, b) - cosine similarity of two float arrays in double precision"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "_FUNC_(text, n) - sorted distinct 64-bit hashes of n-word shingles"),
      (es: Seq[Expression]) => ShingleHashes(es(0), es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"shingle_hashes width must be an integer literal, got $other")
      })),
    (FunctionIdentifier("simhash_chunks"),
      info("simhash_chunks", "_FUNC_(hashes) - 64-bit simhash as four 16-bit chunks"),
      (es: Seq[Expression]) => SimHashChunks64(es(0))),
    (FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count", "_FUNC_(a, b) - intersection size of two sorted bigint arrays"),
      (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1))),
    (FunctionIdentifier("max_token_multiplicity"),
      info("max_token_multiplicity", "_FUNC_(text) - count of the most frequent whitespace token"),
      (es: Seq[Expression]) => MaxTokenMultiplicity(es(0))),
    // the two in-engine subword tokenizers, SQL-callable: the model
    // path must be a STRING LITERAL — the persisted model is loaded
    // driver-side at analysis time (O(model) rows, the fn-step
    // model-artifact pattern; deliberately NOT memoized, so a pipeline
    // that rolls the model forward mid-session reads the fresh frame)
    // and parameterizes the same Catalyst expression the Scala API
    // uses, carrying its integrity checks (contiguous ranks /
    // model-carried max_piece_len) into SQL
    (FunctionIdentifier("graft_bpe_tokens"),
      info("graft_bpe_tokens", "_FUNC_(text, model_path) - BPE piece array of text under the persisted merge table at model_path (string literal)"),
      (es: Seq[Expression]) => BpeEncode(es(0),
        graft.ext.Bpe.loadMerges(Parquet.read(org.apache.spark.sql.SparkSession.active,
          pathLiteral("graft_bpe_tokens", es(1)))))),
    (FunctionIdentifier("graft_unigram_tokens"),
      info("graft_unigram_tokens", "_FUNC_(text, model_path) - unigram-LM piece array of text under the persisted model at model_path (string literal)"),
      (es: Seq[Expression]) => {
        val m = graft.ext.UnigramLm.loadModel(
          Parquet.read(org.apache.spark.sql.SparkSession.active,
            pathLiteral("graft_unigram_tokens", es(1))))
        UnigramEncode(es(0), m.pieces, m.maxPieceLen)
      })
  )

  private def pathLiteral(fn: String, e: Expression): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
      v: org.apache.spark.unsafe.types.UTF8String,
      org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn model path must be a string literal, got $other")
  }

  // sessions already registered — once-per-session so repeated SQL-step
  // execution doesn't spam "function replaced" warnings into run logs
  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register on a live session (idempotent, once per session). */
  def register(spark: SparkSession): Unit = synchronized {
    if (registered.add(spark))
      functions.foreach { case (id, _, builder) =>
        org.apache.spark.sql.graft.FunctionBridge.registerTemp(spark, id.funcName, builder)
      }
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
