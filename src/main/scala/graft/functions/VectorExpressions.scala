package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over
  * `array<float>` embeddings.
  *
  * WHY a custom Expression (SURVEY §7.3 / task preference (b)): the
  * composable form — `aggregate(zip_with(a,b,*), 0.0, +)` — is
  * evaluated through interpreted higher-order lambdas, which measured
  * as the single hottest cost in the n² similarity stage (~12 s at
  * 125k pairs). This expression computes dot + both norms in ONE tight
  * codegen'd loop: no per-element closure dispatch, no three passes.
  * Accumulation is left-to-right in double, bit-identical to the HOF
  * fold and to DuckDB's `list_sum` — oracle hashes are unaffected.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float>, got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = (double) $a.getFloat($i);
          double $yi = (double) $b.getFloat($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The Column forms of the vector stages the queries and `graft.ml`
  * share. Each two-vector fold accumulates left to right in double from
  * `0.0`, the order of the oracle's `list_sum`, so both engines agree
  * bit for bit. */
object VectorExpressions {
  import org.apache.spark.sql.functions._

  /** Column API for the native cosine. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.toColumn(CosineSimilarity(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b)))

  /** `v` when `a` and `b` are the same width; otherwise an in-plan error
    * naming both widths, since `zip_with` would pad the shorter side
    * with NULLs and turn the fold into a silent NULL. A NULL vector
    * stays NULL (`size(NULL)` is NULL in Spark's default ANSI mode). */
  private def sameWidth(a: Column, b: Column)(v: Column): Column =
    when(size(a) =!= size(b), raise_error(concat(lit("vector widths differ: "),
      size(a).cast("string"), lit(" vs "), size(b).cast("string"))))
      .otherwise(v)

  /** ⟨e, u⟩ against the literal vector `u`: each component of `e` in
    * double times its DOUBLE literal (LSH and JL sign planes, PCA and
    * OPQ eigenvectors). */
  def dotLit(e: Column, u: Seq[Double]): Column = {
    val ul = array(u.map(lit): _*)
    sameWidth(e, ul)(aggregate(
      zip_with(e, ul, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v))
  }

  /** Exact squared L2 distance ‖a − b‖², both sides cast to double. */
  def l2sq(a: Column, b: Column): Column =
    sameWidth(a, b)(aggregate(
      zip_with(a, b, (x, y) => {
        val dd = x.cast("double") - y.cast("double"); dd * dd
      }),
      lit(0.0), (acc, v) => acc + v))

  /** [[l2sq]] quantized to ROUND(·1e6) BIGINT — the ranking and
    * assignment currency of the L2 indexes. */
  def l2q(a: Column, b: Column): Column =
    round(l2sq(a, b) * 1e6, 0).cast("long")

  /** The element-wise residual a − b, subtracted in double and cast back
    * to FLOAT. */
  def residual(a: Column, b: Column): Column =
    sameWidth(a, b)(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double")).cast("float")))

  /** The exact mean's encoding: a component as a whole number of 2^-24
    * units (floor). A sum of these is an order-free integer, so a mean
    * computed from it does not depend on partitioning. */
  def enc24(x: Column): Column = floor(x.cast("double") * (1 << 24))

  /** The exact mean's decoding: the [[enc24]] sum `sv` of `n` values
    * back to a double mean. */
  def dec24(sv: Column, n: Column): Column =
    sv.cast("double") / (n.cast("double") * (1 << 24))
}
