package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Custom Catalyst expression for the similarity hot path: the dot product
 * of two FLOAT arrays, accumulated in double precision.
 *
 * The composable form — `aggregate(zip_with(a, b, ...), 0.0, +)` — is a
 * higher-order function: Spark evaluates it interpreted (HOFs have no
 * codegen), allocating a zipped struct array and a boxed lambda frame per
 * element. On a pair-verification join that is millions of 64-dim dots —
 * the measured dominant cost of the ANN operators. This expression is one
 * primitive fused multiply-add loop over ArrayData, inside whole-stage
 * codegen via a static kernel call.
 *
 * Float-sum parity: accumulation is left-to-right `(double)a[i] *
 * (double)b[i]`, the exact operation order of both the HOF form and
 * DuckDB's `list_sum(list_transform(list_zip(...)))` — so results are
 * bit-identical to the SQL oracle, not merely close.
 */
object FloatVecOps {

  /** The codegen kernel. Iterates min(len) like zip_with-without-nulls;
    * the similarity operators only ever pass equal-length vectors. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  val FunctionName = "graft_float_dot"

  /** Expression builder shared by session-local registration and
    * [[graft.GraftExtensions]]. */
  def builder(exprs: Seq[Expression]): Expression =
    FloatArrayDot(exprs.head, exprs(1))

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerOnce(spark, FunctionName, builder)

  /** Column API: dot product of two array<float> columns (by name). */
  def floatDot(spark: SparkSession, a: String, b: String): Column = {
    register(spark)
    expr(s"$FunctionName($a, $b)")
  }
}

case class FloatArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> arguments, got " +
            s"${l.catalogString} and ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FloatVecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = FloatVecOps.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernel.dot($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatArrayDot =
    copy(left = newLeft, right = newRight)
}
