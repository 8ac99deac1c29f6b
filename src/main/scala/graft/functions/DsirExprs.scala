package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DSIR's hashed feature space ([[graft.ext.Dsir]]), walked in place:
  * the unigrams, then the adjacent bigrams, of a text split on the
  * single space, each hashed to the first 16 bits of
  * `md5(window ‖ salt)` — the integer that
  * `substr(md5(concat(window, salt)), 1, 4)` prints as 4 lowercase hex
  * chars. The windows are [[TokenWindowHashes]]' n = 1 and n = 2 byte
  * slices (split/rejoin on the literal space is lossless, so the
  * bigram `a || ' ' || b` IS the contiguous slice from a's start to
  * b's end), so no token or bigram string is materialized.
  * split("") = [""], so every non-NULL text has `2·segments − 1 ≥ 1`
  * features.
  */
object DsirExprs {

  /** The 4-hex bucket strings of a text's features, unigrams first. */
  def featureBuckets(text: Column, salt: String): Column =
    ColumnBridge.column(DsirFeatureBuckets(ColumnBridge.expression(text), salt))

  /** `struct(n_features, weight_bits)`: the feature count of a text and
    * the sum of `weights(bucket)` over its features.
    */
  def weightSum(text: Column, salt: String, weights: Broadcast[Array[Long]]): Column =
    ColumnBridge.column(DsirWeightSum(ColumnBridge.expression(text), salt, weights))

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Bucket id (0 until 65536) of every feature of `s`, unigrams then
    * bigrams.
    */
  private[functions] def buckets(s: UTF8String, salt: Array[Byte]): Array[Int] = {
    val bytes = s.getBytes
    val n = bytes.length
    var spaces = 0
    var b = 0
    while (b < n) { if (bytes(b) == ' ') spaces += 1; b += 1 }
    // segment i spans [from(i), from(i + 1) - 1)
    val from = new Array[Int](spaces + 2)
    var w = 1
    b = 0
    while (b < n) { if (bytes(b) == ' ') { from(w) = b + 1; w += 1 }; b += 1 }
    from(spaces + 1) = n + 1
    val segs = spaces + 1
    val md = md5.get()
    val digest = new Array[Byte](16)
    def bucket(lo: Int, hi: Int): Int = {
      md.update(bytes, lo, hi - lo)
      md.update(salt)
      md.digest(digest, 0, 16)
      ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
    }
    val out = new Array[Int](2 * segs - 1)
    var i = 0
    while (i < segs) { out(i) = bucket(from(i), from(i + 1) - 1); i += 1 }
    i = 0
    while (i < segs - 1) { out(segs + i) = bucket(from(i), from(i + 2) - 1); i += 1 }
    out
  }

  private val hex = "0123456789abcdef".getBytes("US-ASCII")

  /** Bucket id as the 4 lowercase hex chars md5's hex digest starts with. */
  private[functions] def hex4(b: Int): UTF8String =
    UTF8String.fromBytes(Array(hex(b >>> 12), hex((b >>> 8) & 15), hex((b >>> 4) & 15), hex(b & 15)))
}

/** `transform(concat(tokens, bigrams), f → substr(md5(concat(f, salt)), 1, 4))`
  * without the token, bigram and digest-hex strings: bit-identical
  * (FunctionsSpec keeps that Column pipeline as the reference). NULL
  * text → NULL.
  */
case class DsirFeatureBuckets(child: Expression, salt: String)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  @transient private lazy val saltBytes = salt.getBytes("UTF-8")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "dsir_feature_buckets"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(DsirExprs.buckets(input.asInstanceOf[UTF8String], saltBytes)
      .map(b => DsirExprs.hex4(b): Any))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One text's DSIR score in-row: `n_features` and the integer sum of
  * `weights(bucket)` over its features, against a dense per-bucket
  * table (65536 entries) shipped as a broadcast — fetched once per
  * executor, never inside the task binary or the generated code, which
  * stays the same class from one model to the next. NULL text → NULL.
  */
case class DsirWeightSum(child: Expression, salt: String, weights: Broadcast[Array[Long]])
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  @transient private lazy val saltBytes = salt.getBytes("UTF-8")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_features", LongType, nullable = false),
    StructField("weight_bits", LongType, nullable = false)))
  override def prettyName: String = "dsir_weight_sum"

  override protected def nullSafeEval(input: Any): Any = {
    val w = weights.value
    val bs = DsirExprs.buckets(input.asInstanceOf[UTF8String], saltBytes)
    var sum = 0L
    var i = 0
    while (i < bs.length) { sum += w(bs(i)); i += 1 }
    InternalRow(bs.length.toLong, sum)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
