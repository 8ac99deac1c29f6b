package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the extension operators' hot inner
  * loops. Spark's higher-order functions (`transform`/`aggregate`)
  * interpret their lambda per element — fine per document, ruinous in
  * a pairwise join where the same arithmetic runs millions of times.
  * These expressions run the loop as straight JVM code (cosine also
  * participates in whole-stage codegen via doGenCode), which measured
  * ~20-40× faster on the sf0.1 bench while computing bit-identical
  * results (same element order, same double accumulation).
  */
object ArrayExprs {
  /** Cosine similarity of two float arrays as a Column. */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** MinHash signature over an array of 64-bit base hashes. */
  def affineMinHash(baseHashes: Column, as: Seq[Long], bs: Seq[Long]): Column =
    ColumnBridge.column(AffineMinHash(
      ColumnBridge.expression(baseHashes), as, bs))

  /** 64-bit SimHash over token hashes, packed as four 16-bit chunks. */
  def simHashChunks(tokenHashes: Column): Column =
    ColumnBridge.column(SimHashChunks64(ColumnBridge.expression(tokenHashes)))

  /** Intersection size of two SORTED long arrays (merge scan). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Hamming distance between two chunked 64-bit signatures. */
  def chunkHamming(a: Column, b: Column): Column =
    ColumnBridge.column(ChunkHammingDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Sorted distinct 64-bit hashes of a text's n-word shingles. */
  def shingleHashes(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))

  /** Hashed char-n-gram bucket per occurrence (the fastText feature
    * stream): pmod(xxhash64(gram), numBuckets) for every n in `ns`.
    */
  def charNgramBuckets(text: Column, ns: Seq[Int], numBuckets: Int): Column =
    ColumnBridge.column(CharNgramBuckets(
      ColumnBridge.expression(text), ns, numBuckets))

  /** xxhash64 of every n-TOKEN window of a text, in position order. */
  def tokenWindowHashes(text: Column, n: Int): Column =
    ColumnBridge.column(TokenWindowHashes(ColumnBridge.expression(text), n))

  /** xxhash64 of every n-CHAR window of a text, in position order. */
  def charWindowHashes(text: Column, n: Int): Column =
    ColumnBridge.column(CharWindowHashes(ColumnBridge.expression(text), n))

  /** Count of the most frequent whitespace token of a text. */
  def maxTokenMultiplicity(text: Column): Column =
    ColumnBridge.column(MaxTokenMultiplicity(ColumnBridge.expression(text)))

  /** Squared L2 distance of two float arrays (double accumulation). */
  def squaredL2(a: Column, b: Column): Column =
    ColumnBridge.column(SquaredL2Distance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Per-table random-hyperplane LSH bucket keys of a float vector. */
  def hyperplaneSignatures(vec: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(HyperplaneSignatures(ColumnBridge.expression(vec), planes))

  /** Probabilistic membership probe of a broadcast Bloom filter. */
  def bloomMightContainLong(hash: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    ColumnBridge.column(BloomMightContainLong(ColumnBridge.expression(hash), bloom))
}

/** `cos(a, b) = a·b / (√|a|² · √|b|²)`, computed in double precision in
  * one pass over the arrays, sequentially in element order — the exact
  * numeric contract of the single-threaded loop every other engine runs
  * (bit-reproducible vs DuckDB's list_cosine_similarity; verified by
  * the q14/q15 oracles).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `|a − b|²` in double precision, one sequential pass — the k-means
  * assignment metric, as a codegen'd tight loop (the IVF coarse
  * quantizer probes every centroid per vector, so this sits in an
  * n×nClusters loop).
  */
case class SquaredL2Distance(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "squared_l2_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash signature: for each of k universal hash functions
  * `h_i(x) = (a_i·x + b_i) mod P` (P = 2³¹−1; x = base hash mod P, so
  * every product stays < 2⁶² — no 64-bit overflow even under ANSI),
  * the minimum over the input's base hashes. Empty input → sentinel P.
  * Interpreted eval is a tight k×n JVM loop; per-row call overhead is
  * negligible at one call per document.
  */
case class AffineMinHash(child: Expression, as: Seq[Long], bs: Seq[Long])
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(as.length == bs.length && as.nonEmpty, "need matching non-empty a/b params")

  private val P = 2147483647L
  private val aArr = as.toArray
  private val bArr = bs.toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "affine_minhash"

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val k = aArr.length
    val mins = Array.fill[Long](k)(P)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val x = java.lang.Math.floorMod(hashes.getLong(j), P)
      var i = 0
      while (i < k) {
        val v = (aArr(i) * x + bArr(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `|A ∩ B|` of two sorted long arrays via a two-pointer merge scan —
  * the set-overlap verify for near-dup candidates. Built-in
  * `array_intersect` hashes per call and dominated the verify stage at
  * bench scale; this runs in O(|A|+|B|) with no allocation.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The shared tokenize+hash scan of the text expressions: FNV-1a 64
  * over chars, split on single spaces (empty tokens skipped — inputs
  * are single-space-normalized, the documented TextOps contract).
  */
private[functions] object FnvTok {
  val FnvOffset = 0xcbf29ce484222325L
  val FnvPrime = 0x100000001b3L

  /** One hash per token, in order, one pass over the chars. Primitive
    * grow-by-doubling buffer — this runs once per document in the hot
    * scans, so no boxing.
    */
  def tokenHashes(s: String): Array[Long] = {
    var out = new Array[Long](16)
    var n = 0
    def push(v: Long): Unit = {
      if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
      out(n) = v
      n += 1
    }
    var h = FnvOffset
    var inTok = false
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (inTok) { push(h); h = FnvOffset; inTok = false }
      } else {
        h = (h ^ c) * FnvPrime
        inTok = true
      }
      i += 1
    }
    if (inTok) push(h)
    java.util.Arrays.copyOf(out, n)
  }
}

/** Sorted, de-duplicated 64-bit hashes of the n-word shingles of a
  * single-space-tokenized text — one pass, no intermediate shingle
  * strings. This is the input shape every near-dup operator wants:
  * AffineMinHash consumes it directly, inverted-index postings explode
  * it as 8-byte longs (vs ~20-byte shingle strings), and
  * SortedIntersectCount merges two of them for the exact verify.
  * Token hash = FNV-1a 64 over chars; shingle hash = FNV-style mix of
  * the n token hashes. Fewer than n tokens → empty array.
  */
case class ShingleHashes(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1, "shingle width must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val tokHashes = FnvTok.tokenHashes(input.toString)
    val t = tokHashes.length
    if (t < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](t - n + 1)
    var j = 0
    while (j <= t - n) {
      var sh = FnvTok.FnvOffset
      var k = 0
      while (k < n) {
        sh = (sh ^ tokHashes(j + k)) * FnvTok.FnvPrime
        k += 1
      }
      out(j) = sh
      j += 1
    }
    java.util.Arrays.sort(out)
    // in-place unique
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hashed char-n-gram BUCKETS of a text, one entry per gram
  * OCCURRENCE (multiplicities feed NB counts — no dedup): for each n
  * in `ns` (list order) and each code-point position,
  * `pmod(xxhash64(substring(text, i, n)), numBuckets)` — bit-identical
  * to the Column pipeline `explode(transform(sequence, i →
  * substr(i, n)))` → `pmod(xxhash64(__f), B)` it replaces
  * (FunctionsSpec pins the exact sequence on multibyte fixtures), but
  * WITHOUT materializing the ~Σ(len−n+1) substring objects per row:
  * one pass records the code-point byte boundaries, then every gram
  * hashes its byte slice in place through the SAME entry point the
  * xxhash64() SQL function uses (`XXH64.hashUTF8String`, seed 42,
  * over a zero-copy `UTF8String.fromAddress` view). Texts shorter
  * than n contribute no grams for that n (the `when(length ≥ n)`
  * guard's semantics); the Pmod arm is the Long spelling
  * (r = h % B; r < 0 → r + B).
  */
case class CharNgramBuckets(child: Expression, ns: Seq[Int], numBuckets: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(ns.nonEmpty && ns.forall(_ > 0),
    s"char n-gram sizes must be positive, got $ns")
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_ngram_buckets"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val start = s.getBaseOffset
    val nBytes = s.numBytes()
    val nChars = s.numChars()
    // code-point boundary byte offsets: offs(i) = byte offset of the
    // i-th char, offs(nChars) = total bytes
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var b = 0
    while (b < nBytes) {
      offs(i) = b
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, start + b))
      i += 1
    }
    offs(nChars) = nBytes
    val bkt = numBuckets.toLong
    var total = 0
    ns.foreach(n => total += math.max(nChars - n + 1, 0))
    val out = new Array[Long](total)
    var w = 0
    ns.foreach { n =>
      var p = 0
      while (p + n <= nChars) {
        val from = offs(p)
        val view = org.apache.spark.unsafe.types.UTF8String.fromAddress(
          base, start + from, offs(p + n) - from)
        val h = XXH64.hashUTF8String(view, 42L)
        val r = h % bkt
        out(w) = if (r < 0) r + bkt else r
        w += 1
        p += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** xxhash64 (seed 42 — the `xxhash64()` SQL function's seed) of every
  * n-TOKEN window of a text, one entry per start position —
  * bit-identical to the Column pipeline it replaces,
  * `transform(shinglesOrdered(text, n), s => xxhash64(s))` with
  * `tokens = split(text, " ")` (TextOps), but WITHOUT materializing a
  * span string per position. The identity that makes this zero-copy:
  * splitting on the literal single space and rejoining with a single
  * space is lossless (consecutive spaces become empty tokens that
  * rejoin to the same bytes), so the n-token window's joined string IS
  * the contiguous byte slice of the original text from the start of
  * token i to the end of token i+n-1. One pass records the space byte
  * offsets (0x20 never occurs inside a multi-byte UTF-8 sequence),
  * then every window hashes its byte slice in place through the same
  * entry point the xxhash64() SQL function uses
  * (`XXH64.hashUTF8String` over a zero-copy `UTF8String.fromAddress`
  * view). Fewer than n tokens → empty array (split("") = [""] — one
  * empty segment, matching Spark's split semantics). NULL text → NULL
  * (the Column pipeline gave an empty array; both explode to no rows).
  */
case class TokenWindowHashes(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1, "window width must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_window_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val start = s.getBaseOffset
    val nBytes = s.numBytes()
    var spaces = 0
    var b = 0
    while (b < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, start + b) == 0x20) spaces += 1
      b += 1
    }
    val segs = spaces + 1 // split(" ") segment count; "" → one empty segment
    if (segs < n) return new GenericArrayData(Array.empty[Long])
    val sp = new Array[Int](spaces)
    var w = 0
    b = 0
    while (b < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, start + b) == 0x20) { sp(w) = b; w += 1 }
      b += 1
    }
    val out = new Array[Long](segs - n + 1)
    var i = 0
    while (i <= segs - n) {
      val from = if (i == 0) 0 else sp(i - 1) + 1
      val last = i + n - 1 // index of the window's last token
      val to = if (last < spaces) sp(last) else nBytes
      val view = org.apache.spark.unsafe.types.UTF8String.fromAddress(
        base, start + from, to - from)
      out(i) = XXH64.hashUTF8String(view, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** xxhash64 (seed 42) of every n-CHAR window of a text, one entry per
  * code-point start position — bit-identical to xxhash64 of
  * `substr(text, i + 1, n)` at each start i (windows in code-point
  * coordinates, the exact-substring dedup family's unit) but with
  * zero substring allocation: [[CharNgramBuckets]]'s boundary-offsets + in-place
  * `XXH64.hashUTF8String` scheme, minus the bucket pmod. Texts shorter
  * than n code points → empty array (the `when(length ≥ n)` guard's
  * semantics).
  */
case class CharWindowHashes(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1, "window width must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_window_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val start = s.getBaseOffset
    val nBytes = s.numBytes()
    val nChars = s.numChars()
    if (nChars < n) return new GenericArrayData(Array.empty[Long])
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var b = 0
    while (b < nBytes) {
      offs(i) = b
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, start + b))
      i += 1
    }
    offs(nChars) = nBytes
    val out = new Array[Long](nChars - n + 1)
    var p = 0
    while (p + n <= nChars) {
      val from = offs(p)
      val view = org.apache.spark.unsafe.types.UTF8String.fromAddress(
        base, start + from, offs(p + n) - from)
      out(p) = XXH64.hashUTF8String(view, 42L)
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Multiplicity of the most frequent token of a single-space-tokenized
  * text: FNV-1a hash per token (same tokenize+hash scan as
  * [[ShingleHashes]]), sort, longest equal run — O(n log n) per
  * document with primitive arrays. Replaces an interpreted
  * `array_sort` + `aggregate` fold over token STRINGS that dominated
  * the repetition-metrics bench. Distinct tokens map to distinct
  * hashes modulo 64-bit collisions (~n²/2⁶⁵ — the same accepted odds
  * as every other hashed-shingle operator here). Zero tokens → 0.
  */
case class MaxTokenMultiplicity(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "max_token_multiplicity"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = FnvTok.tokenHashes(input.toString)
    if (arr.isEmpty) return 0
    java.util.Arrays.sort(arr)
    var best = 1
    var run = 1
    var j = 1
    while (j < arr.length) {
      if (arr(j) == arr(j - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      j += 1
    }
    best
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hamming distance between two chunked int signatures: Σ
  * bit_count(a(i) ^ b(i)). Replaces the interpreted
  * `aggregate(zip_with(...))` HOF chain in the chunk-join verify —
  * HOFs don't participate in whole-stage codegen, and Catalyst inlines
  * the verify into the join CONDITION (it runs once per candidate,
  * then again in the project), so the interpreted chain sat twice in
  * the hottest loop of every chunk-signature family (text SimHash,
  * image dHash, audio hash). Null semantics match the HOF chain:
  * length-mismatched signatures (zip_with's null padding would null
  * the sum) return NULL, never a truncated distance that could
  * under-count into a false near-dup.
  */
case class ChunkHammingDistance(left: Expression, right: Expression)
  extends BinaryExpression {

  // both chunk layouts exist in the wild: SimHashChunks64 emits
  // array<bigint>, the perceptual hashes emit array<int> — accept
  // either (same width both sides) with NO inserted cast, so neither
  // family pays a per-row array conversion in the join loop
  private def elemOf(dt: DataType): Option[DataType] = dt match {
    case ArrayType(IntegerType, _) => Some(IntegerType)
    case ArrayType(LongType, _)    => Some(LongType)
    case _                         => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemOf(left.dataType), elemOf(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two arrays of the same integral chunk type " +
          s"(array<int> or array<bigint>), got ${left.dataType.simpleString} " +
          s"and ${right.dataType.simpleString}")
    }

  private lazy val longChunks =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def dataType: DataType = IntegerType
  override def prettyName: String = "chunk_hamming"

  // produces null beyond child-null (length mismatch), so nullability
  // cannot be inherited from the children: with two non-nullable inputs
  // the inherited `false` would make codegen assign to a constant
  // isNull literal (Janino failure → interpreted fallback) and let
  // nullSafeEval hand an undeclared null downstream
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      var acc = 0
      var i = 0
      while (i < x.numElements()) {
        acc += (if (longChunks) java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
                else java.lang.Integer.bitCount(x.getInt(i) ^ y.getInt(i)))
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val xor =
        if (longChunks) s"java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i))"
        else s"java.lang.Integer.bitCount($a.getInt($i) ^ $b.getInt($i))"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $acc = 0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    $acc += $xor;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH signatures: for each table, an int whose bit r
  * (first plane = highest bit) is sign(v · plane_r), i.e. the bucket
  * key of [[graft.ext.Similarity.lshBuckets]]. Replaces a
  * tables×bits×dims interpreted HOF pyramid (`transform`/`aggregate`/
  * `zip_with`) with one straight triple loop — the signature job was
  * the dominant cost of the ANN scan at the 10× scale factor. Numeric
  * contract is the HOF chain's, reproduced exactly: sequential double
  * accumulation in element order, strict `> 0` sign test,
  * `acc*2 + bit` packing — bit-identical buckets (the pinned q16
  * digest verifies this).
  */
case class HyperplaneSignatures(child: Expression, planes: Seq[Seq[Seq[Double]]])
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(planes.nonEmpty && planes.head.nonEmpty, "need >= 1 table of >= 1 plane")

  @transient private lazy val planeArr: Array[Array[Array[Double]]] =
    planes.map(_.map(_.toArray).toArray).toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hyperplane_signatures"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val tables = planeArr.length
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      val tPlanes = planeArr(t)
      var acc = 0
      var r = 0
      while (r < tPlanes.length) {
        val plane = tPlanes(r)
        // length mismatch -> bit 0, reproducing the HOF chain's
        // zip_with null-padding (the padded products made the dot NULL,
        // and NULL > 0 is false) — NOT a truncated dot, which would
        // bucket short vectors by a different function than the one
        // documented
        var bit = 0
        if (v.numElements() == plane.length) {
          var dot = 0.0
          var j = 0
          while (j < plane.length) {
            dot += v.getFloat(j).toDouble * plane(j)
            j += 1
          }
          if (dot > 0) bit = 1
        }
        acc = acc * 2 + bit
        r += 1
      }
      out(t) = acc
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of a token-hash multiset, returned as four 16-bit
  * chunk values (chunked storage sidesteps signed-overflow packing of
  * bit 63 AND is the Hamming-≤3 dedup index — see Dedup.nearDupSimHash).
  * Bit b = sign of Σ over tokens of (bit b set ? +1 : −1); chunk c
  * packs bits c·16..c·16+15 big-endian-first.
  */
case class SimHashChunks64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_chunks"

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    val chunks = new Array[Long](4)
    var c = 0
    while (c < 4) {
      var acc = 0L
      var i = 0
      while (i < 16) {
        acc = acc * 2 + (if (counts(c * 16 + i) > 0) 1L else 0L)
        i += 1
      }
      chunks(c) = acc
      c += 1
    }
    new GenericArrayData(chunks)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Membership probe of a BROADCAST Bloom filter: `true` iff the 64-bit
  * key might be in the set the filter was built over (no false
  * negatives; false positives at the filter's configured fpp). The
  * filter rides a `Broadcast` handle — tasks fetch it once per
  * executor via the block manager, so a multi-hundred-MB filter (10⁹
  * keys at 1% fpp ≈ 1.2 GB) never travels inside the task binary or
  * the generated code, and the probe itself stays inside whole-stage
  * codegen (`addReferenceObj` + one virtual call per row).
  *
  * Used by Dedup.exactAgainstBloom as the shuffle-avoidance gate of
  * incremental exact dedup: bloom-negative rows are DEFINITELY new and
  * skip the digest anti-join entirely.
  */
case class BloomMightContainLong(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(h: Any): Any =
    bloom.value.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)
         |  $bcRef.value()).mightContainLong($c);""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
