package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BpeCore, UnigramCore, UnigramExpr}

/** Native unigram-LM tokenizer (the SentencePiece family's other half,
  * Kudo 2018), train/apply split — the sibling of [[Bpe]]: where BPE
  * grows a vocabulary bottom-up by merging frequent pairs, the unigram
  * LM starts from a LARGE candidate-piece inventory and prunes toward
  * the target size, segmenting by maximum piece-probability (Viterbi)
  * instead of merge order. Both feed the same `tokensCol`/`tokenCount`
  * seams ([[TextOps.packSequences]], [[TextOps.chunkDocuments]], token
  * stats).
  *
  * Training is deterministic HARD-EM (Viterbi E-step), the published
  * recipe's lattice-EM simplified to its argmax path — the right trade
  * here because the repo's contract is bit-reproducibility (golden
  * digests, repartition determinism), which a soft E-step's float
  * accumulation order would complicate for marginal fit quality at
  * these vocab sizes. All randomness-free: seeds are substring counts
  * with (count DESC, piece ASC) caps, log-scores are [[java.lang.StrictMath]]
  * over exact integer counts with add-one smoothing, and Viterbi ties
  * break longer-piece-first ([[UnigramCore.viterbi]] — the ONE
  * segmenter trainer and apply expression share).
  *
  * Scale shape (the [[Bpe]]/IVF pattern): the corpus-sized work is ONE
  * distributed map-side-combinable word count; everything after — seed
  * enumeration, EM, pruning — is a driver loop over the BOUNDED
  * top-`maxWords` word table. Driver state is O(model input), never
  * O(corpus). Application is a per-document Catalyst expression
  * ([[graft.functions.UnigramEncode]]).
  */
object UnigramLm {

  /** Train a (piece, score) vocabulary: every single code point of the
    * capped word table (coverage guarantee) plus the highest-count
    * multi-char substrings, hard-EM-refitted `emIters` times and
    * pruned to `vocabSize`. Scores are add-one-smoothed StrictMath
    * log-probabilities of the final E-step counts.
    */
  def unigramTrain(corpus: DataFrame, textCol: String = "text",
                   vocabSize: Int = 400, maxPieceLen: Int = 6,
                   seedSize: Int = 2000, emIters: Int = 3,
                   maxWords: Int = 50000): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val spark = corpus.sparkSession
    import spark.implicits._
    // distributed word counts, deterministically capped (the Bpe shape)
    val wordFreq: Array[(String, Long)] = corpus
      .select(explode(split(col(textCol), " ")).as("__w"))
      .where(length(col("__w")) > 0)
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(maxWords)
      .as[(String, Long)].collect()
    val words: Array[(Array[String], Long)] =
      wordFreq.map { case (w, c) => (BpeCore.codepointStrings(w), c) }

    // seed inventory: substring occurrence counts up to maxPieceLen
    val seedCounts = new java.util.HashMap[String, Long]()
    for ((cps, c) <- words; i <- cps.indices;
         l <- 1 to math.min(maxPieceLen, cps.length - i))
      seedCounts.merge(cps.slice(i, i + l).mkString, c, _ + _)
    val (singles, multis) = {
      val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      seedCounts.forEach((k, v) => all += ((k, v)))
      all.toArray.partition(t => isSingle(t._1))
    }
    val keptMultis = multis
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(seedSize, vocabSize))
    var vocab: Map[String, Long] = (singles ++ keptMultis).toMap

    def scoresFrom(counts: Map[String, Long]): java.util.HashMap[String, java.lang.Double] = {
      // add-one smoothing keeps every retained piece finite (a single
      // code point can reach count 0 when multis cover all its uses)
      val total = counts.values.sum
      val m = new java.util.HashMap[String, java.lang.Double](counts.size * 2)
      // deterministic iteration is irrelevant for a per-key pure map,
      // but sort anyway so any future float accumulation stays ordered
      counts.toSeq.sortBy(_._1).foreach { case (p, c) =>
        m.put(p, java.lang.Double.valueOf(
          StrictMath.log((c + 1).toDouble / (total + counts.size).toDouble)))
      }
      m
    }
    def eStep(scores: java.util.HashMap[String, java.lang.Double]): Map[String, Long] = {
      val counts = new java.util.HashMap[String, Long]()
      for ((cps, c) <- words)
        UnigramCore.viterbi(cps.mkString, scores, maxPieceLen)
          .foreach(p => counts.merge(p, c, _ + _))
      val b = Map.newBuilder[String, Long]
      counts.forEach((k, v) => b += (k -> v))
      b.result()
    }

    var iter = 0
    while (iter < emIters) {
      val used = eStep(scoresFrom(vocab))
      // retain: every single code point (coverage), every USED multi
      vocab = vocab.map { case (p, _) =>
        p -> used.getOrElse(p, 0L)
      }.filter { case (p, c) => c > 0 || isSingle(p) }
      iter += 1
    }
    // prune to vocabSize: singles always survive; multis by (count
    // DESC, piece ASC) fill the remainder — then one refit so scores
    // describe the FINAL vocabulary
    val singlesKept = vocab.filter { case (p, _) => isSingle(p) }
    val room = math.max(0, vocabSize - singlesKept.size)
    val multisKept = vocab.filter { case (p, _) => !isSingle(p) }
      .toSeq.sortBy { case (p, c) => (-c, p) }.take(room)
    vocab = singlesKept ++ multisKept
    val finalCounts = eStep(scoresFrom(vocab))
    val finalScores = scoresFrom(vocab.map { case (p, _) =>
      p -> finalCounts.getOrElse(p, 0L) })
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    finalScores.forEach((k, v) => rows += ((k, v.doubleValue())))
    // the model CARRIES its segmentation window: tokens() under a
    // different maxPieceLen than training silently mis-segments (a
    // longer window admits pieces the fit never scored against each
    // other; a shorter one forbids trained pieces), so the parameter
    // travels with the (piece, score) table instead of out-of-band
    rows.sortBy(_._1).toSeq.toDF("piece", "score")
      .withColumn("max_piece_len", lit(maxPieceLen))
  }

  private def isSingle(p: String): Boolean = p.codePointCount(0, p.length) == 1

  /** A loaded unigram model: the (piece, score) vocabulary plus the
    * segmentation window it was trained with. Carrying `maxPieceLen`
    * IN the model (not beside it) is what lets [[tokens]] refuse a
    * mismatched window instead of silently mis-segmenting.
    */
  final case class Model(pieces: Seq[(String, Double)], maxPieceLen: Int)

  /** The model out of a persisted frame — driver-side O(model), the
    * [[Bpe.loadMerges]] face. Requires the `max_piece_len` column
    * [[unigramTrain]] writes (one constant value); a frame without it
    * predates the model-carried contract — re-train, or add the
    * column with the training value.
    */
  def loadModel(model: DataFrame): Model = {
    import model.sparkSession.implicits._
    require(model.columns.contains("max_piece_len"),
      "unigram model frame lacks the max_piece_len column unigramTrain writes; " +
        "re-train, or add the column with the training value")
    val lens = model.select("max_piece_len").distinct().as[Int].collect()
    require(lens.length == 1,
      s"unigram model must carry ONE max_piece_len, found ${lens.sorted.mkString(", ")}")
    Model(model.orderBy("piece").select("piece", "score").as[(String, Double)]
      .collect().toSeq, lens.head)
  }

  /** Unigram-LM piece array of `text` under a loaded model — plugs
    * into every `tokensCol`/`tokenCount` seam (e.g. `packSequences(...,
    * tokenCount = Some(size(UnigramLm.tokens(col, model))))`). The
    * segmentation window is the model's own.
    */
  def tokens(text: Column, model: Model): Column =
    UnigramExpr.unigramEncode(text, model.pieces, model.maxPieceLen)

  /** [[tokens]] with an explicit window assertion: RAISES if
    * `maxPieceLen` differs from the model's — for call sites that
    * spell the window locally and must not drift from the artifact.
    */
  def tokens(text: Column, model: Model, maxPieceLen: Int): Column = {
    require(maxPieceLen == model.maxPieceLen,
      s"explicit maxPieceLen $maxPieceLen does not match the model's " +
        s"${model.maxPieceLen} — a mismatched window silently mis-segments")
    tokens(text, model)
  }

  /** Raw-vocabulary escape hatch (no window check — the caller owns
    * consistency); prefer the [[Model]] overloads.
    */
  def tokens(text: Column, pieces: Seq[(String, Double)],
             maxPieceLen: Int): Column =
    UnigramExpr.unigramEncode(text, pieces, maxPieceLen)
}
