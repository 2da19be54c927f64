package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native fused cosine similarity over two float/double array columns —
  * ONE loop accumulates the dot product and both squared norms, where the
  * composed formulation (`graft_dot(a,b) / (sqrt(graft_dot(a,a)) *
  * sqrt(graft_dot(b,b)))`) walks the arrays three times (and codegen
  * re-evaluates the zero-norm guard's operands). Same whole-stage-codegen
  * tier as [[DotProduct]]; same left-to-right double accumulation, so the
  * result is bit-identical to the composed version and the DuckDB oracle's
  * `list_dot_product` formulation.
  *
  * Semantics: 0.0 when either norm is zero (the library's cosine
  * convention); null if either array is null, contains a null element, or
  * lengths differ.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isAccepted(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isAccepted(left.dataType) && isAccepted(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cos expects array<float>/array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cos"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.eval(a.asInstanceOf[ArrayData], elemIsFloat(left),
      b.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = (double) $a.$lGet($i);
         |    final double $yv = (double) $b.$rGet($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |      : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The interpreted cosine loop of [[CosineSimilarity]], shared with the
    * task-side ANN walk (`Similarity.beamSearchKnnHier`) so both score
    * bit-identically: null when the lengths differ or an element is null,
    * 0.0 when either norm is zero. `xFloat`/`yFloat` say the element type.
    */
  private[graft] def eval(x: ArrayData, xFloat: Boolean, y: ArrayData,
      yFloat: Boolean): Any = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }
}
