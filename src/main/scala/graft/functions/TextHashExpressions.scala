package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression,
  ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}

/** Native md5-prefix hashing ([[Md5Hash32]], behind
  * [[graft.dedup.NearDup.md5Hash32]]) and the hashed bag-of-words
  * kernel on it: `hashed_bow(tokens)` is one row's 64 bucket counts,
  * count(b) = #{non-empty tokens w : md5Hash32(w) mod 64 = b}. */
object TextHashExpressions {
  // MessageDigest is stateful; one per task thread
  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** Hex digits start..start+7 (1-based) of md5(bytes) as a long;
    * digit k is the high nibble of byte k/2 for even k, else its low. */
  def md5Hash32At(bytes: Array[Byte], start: Int): Long = {
    val d = md5.get.digest(bytes)
    var v = 0L
    var k = start - 1
    while (k < start + 7) {
      val b = d(k >> 1)
      v = (v << 4) | (if ((k & 1) == 0) (b >> 4) & 0xF else b & 0xF)
      k += 1
    }
    v
  }

  def bucketCounts(tokens: ArrayData): ArrayData = {
    val cnt = new Array[Long](64)
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i)) {
        val w = tokens.getUTF8String(i)
        if (w.numBytes > 0) cnt((md5Hash32At(w.getBytes, 1) % 64).toInt) += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(cnt)
  }

  /** The 64 bucket counts of an `array<string>` column. */
  def hashedBow(tokens: Column): Column =
    GraftBridge.toColumn(HashedBow(GraftBridge.toExpression(tokens)))
}

case class Md5Hash32(child: Expression, start: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_hash32"
  override def nullSafeEval(input: Any): Any =
    TextHashExpressions.md5Hash32At(input.asInstanceOf[Array[Byte]], start)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashExpressions.md5Hash32At($c, $start)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class HashedBow(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_bow"
  override def nullSafeEval(input: Any): Any =
    TextHashExpressions.bucketCounts(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashExpressions.bucketCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
