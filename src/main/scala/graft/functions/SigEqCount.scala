package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression (r6): number of positions where two
  * `array<long>` columns hold equal values — the MinHash signature
  * agreement counter. The former formulation,
  * `aggregate(zip_with(sig_a, sig_b, 1.0/0.0), sum)`, materialized a
  * k-element array and two lambda closures PER CANDIDATE PAIR in the
  * banding join's hottest loop; this is one fused counting loop in
  * whole-stage codegen, zero allocation.
  *
  * A position where either slot is null never counts, as a null `x = y`
  * never counted in the old sum.
  *
  * Arithmetic equivalence: the old sum of 1.0/0.0 doubles is exactly
  * integer-valued (no rounding below 2^53), so `count / k` equals the
  * old `sum / k` bit for bit.
  */
case class SigEqCount(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  override def inputTypes: Seq[GraftSqlBridge.AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sig_eq_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) eq += 1L
      i += 1
    }
    eq
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val eq = ctx.freshName("eq")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $eq = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i) && $x.getLong($i) == $y.getLong($i)) $eq++;
         |}
         |${ev.value} = $eq;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SigEqCount =
    copy(left = newLeft, right = newRight)
}

object SigEqCount {
  /** Column API. */
  def sig_eq_count(a: Column, b: Column): Column =
    GraftSqlBridge.column(SigEqCount(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Register as a SQL function: `SELECT sig_eq_count(a, b) FROM ...`. */
  def register(spark: SparkSession): Unit =
    GraftSqlBridge.registerFunction(spark, "sig_eq_count", exprs => SigEqCount(exprs(0), exprs(1)))
}
