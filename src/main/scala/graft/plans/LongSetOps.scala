package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/**
 * Custom Catalyst expression for the near-dup hot path: the intersection
 * size of two BIGINT arrays.
 *
 * The built-in `array_intersect` materializes the intersection as a new
 * array through a boxed hash set — per-pair allocation churn that
 * dominates pair-verification joins (millions of evaluations). This
 * expression computes ONLY the size, via primitive sort-merge on long[]
 * (two clones + two sorts + one linear pass, zero boxing), and
 * participates in whole-stage codegen via `doGenCode` (the generated code
 * calls the static kernel — no virtual eval dispatch, no codegen
 * fallback).
 *
 * Inputs are expected to be duplicate-free (the dedup operators build
 * them with array_distinct); with duplicates the result counts matched
 * multiset elements like a merge join would.
 */
object LongSetOps {

  /** Primitive sort-merge intersection size — the codegen kernel.
    * When both inputs are already sorted ascending (the dedup operators
    * pre-sort sets ONCE in the projection, amortized over millions of
    * pair evaluations), the merge runs directly over ArrayData with zero
    * per-pair allocation; otherwise it falls back to clone+sort. */
  def intersectSize(a: ArrayData, b: ArrayData): Int =
    if (isSorted(a) && isSorted(b)) mergeCount(a, b)
    else {
      val x = a.toLongArray()
      val y = b.toLongArray()
      java.util.Arrays.sort(x)
      java.util.Arrays.sort(y)
      mergeCountArrays(x, y)
    }

  private def isSorted(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 1
    while (i < n) {
      if (a.getLong(i - 1) > a.getLong(i)) return false
      i += 1
    }
    true
  }

  private def mergeCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  private def mergeCountArrays(x: Array[Long], y: Array[Long]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { n += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    n
  }

  val FunctionName = "graft_long_intersect_size"

  /** Register the expression in the session's function registry
    * (idempotent) — Column construction from a catalyst Expression is
    * session-internal in Spark 4, so the registry is the public bridge. */
  /** Expression builder shared by session-local registration and
    * [[graft.GraftExtensions]]. */
  def builder(exprs: Seq[Expression]): Expression =
    LongArrayIntersectSize(exprs.head, exprs(1))

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerOnce(spark, FunctionName, builder)

  /** Column API: intersection size of two array<bigint> columns. The
    * columns must resolve by name in the calling plan. */
  def longIntersectSize(spark: SparkSession, a: String, b: String): Column = {
    register(spark)
    expr(s"$FunctionName($a, $b)")
  }
}

case class LongArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  // AbstractDataType (the ExpectsInputTypes path) is private[sql]; for a
  // third-party expression the analysis-time contract goes here instead —
  // misuse fails with a clear message, not a runtime ClassCastException.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> arguments, got " +
            s"${l.catalogString} and ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongSetOps.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = LongSetOps.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel.intersectSize($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayIntersectSize =
    copy(left = newLeft, right = newRight)
}
