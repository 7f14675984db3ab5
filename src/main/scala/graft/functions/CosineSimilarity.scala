package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns (SURVEY.md §7.4: "optional codegen Expression if
  * bench requires"). Participates in whole-stage codegen via [[doGenCode]]
  * — a tight primitive double loop with no per-element boxing, per-row
  * array allocation, or lambda dispatch, unlike a higher-order-function
  * composition (`zip_with` + `aggregate`; the specs keep one as the
  * parity oracle `HofTwins.cosine`).
  *
  * Numerical contract (MUST match the HofTwins.cosine parity oracle and the DuckDB oracle
  * bitwise): each float is widened to double before multiplying, the three
  * accumulators fold sequentially left-to-right, and the result is
  * `dot / (sqrt(na) * sqrt(nb))`. IEEE doubles make that reproducible
  * across engines given identical operand order.
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
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  // can yield null even for non-null inputs (ragged lengths, null element)
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // Parity with the HOF formulation (HofTwins.cosine): length mismatch
    // or any null element poisons the result to null — zip_with pads the
    // shorter side with null and null folds to null there.
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    // Zero-norm guard: 0/0 would be NaN, and Spark sorts NaN ABOVE every
    // number — a zero (missing/failed) embedding would rank #1 in every
    // top-k and read as a near-dup of everything in its block. Cosine to
    // the zero vector is defined here as 0 (no similarity). Mirrored in
    // doGenCode and every oracle twin.
    if (na == 0.0 || nb == 0.0) return 0.0
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      // mirrors nullSafeEval: ragged lengths or a null element → null
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |      : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
