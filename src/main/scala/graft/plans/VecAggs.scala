package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Fused outer-product-sum aggregate: `graft_outer_product_sum(vec)` over a
 * group of `array<bigint>` rows returns the flattened D×D second-moment
 * matrix Σ v·vᵀ as one `array<bigint>` of length D² (row-major, cell
 * (i,j) at index i·D+j — exactly the values of the double-posexplode
 * `groupBy(g, i, j).agg(sum(xi*xj))` it replaces).
 *
 * Why a TypedImperativeAggregate and not the declarative double explode
 * (q234's r14 shape): posexplode×posexplode fans every embedding out to
 * D² = 4,096 rows BEFORE partial aggregation ever sees them — the explode
 * volume, not the moment math, dominated the pass. Here each input row
 * costs one fused primitive loop over D(D+1)/2 cell pairs (the matrix is
 * symmetric; each product is computed once and written twice) straight
 * into the group's long[] buffer: zero per-row allocation, zero explode
 * rows, and the partial buffers that cross the shuffle are one D²-long
 * array per (group × partition) instead of D² rows per embedding.
 * ObjectHashAggregate partial-aggregates and spills the flat byte image
 * exactly like [[SegEntropyAgg]].
 *
 * Overflow envelope: quantized components |x| ≤ 2^m give per-row products
 * ≤ 2^2m, so a long buffer holds ≥ 2^(63−2m) rows per cell — identical to
 * the `sum(xi*xj)` long column it replaces (the caller's DECIMAL
 * discipline downstream is unchanged).
 */
object VecAggs {

  val OuterProductFunctionName = "graft_outer_product_sum"

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"$OuterProductFunctionName expects (vec), got ${exprs.length} args")
    OuterProductSumAggExpr(exprs.head)
  }

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerOnce(spark, OuterProductFunctionName, builder)

  /** Column API: Σ vec·vecᵀ (flattened row-major) for `array<bigint>`
    * column `vecCol`, resolved by name. */
  def outerProductSum(spark: SparkSession, vecCol: String): Column = {
    register(spark)
    expr(s"$OuterProductFunctionName($vecCol)")
  }

  val BucketSumsFunctionName = "graft_bucket_sums"

  def bucketSumsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"$BucketSumsFunctionName expects (vec, flag), got ${exprs.length} args")
    BucketSumsAggExpr(exprs.head, exprs(1))
  }

  def registerBucketSums(spark: SparkSession): Unit =
    graft.GraftExtensions.registerOnce(spark, BucketSumsFunctionName, bucketSumsBuilder)

  /** Column API: elementwise Σ of `array<bigint>` column `vecCol` over
    * ALL rows concatenated with the Σ over rows where boolean `flagCol`
    * holds — one 2·D array [cc_0..cc_{D-1}, ct_0..ct_{D-1}], exactly the
    * per-bucket (total, flagged) count pair the DSIR ratio pass reads
    * (one fused pass instead of an explode + two conditional sums). */
  def bucketSums(spark: SparkSession, vecCol: String, flagCol: String): Column = {
    registerBucketSums(spark)
    expr(s"$BucketSumsFunctionName($vecCol, $flagCol)")
  }
}

case class OuterProductSumAggExpr(
    vecExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(vecExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = vecExpr.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${t.catalogString}")
  }

  // empty sentinel: the dimension is learned from the first input row
  // (same lazy sizing as NswGraph's runtime dim read)
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = vecExpr.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    if (d == 0) return buffer
    val x = arr.toLongArray()
    val buf =
      if (buffer.length == 0) new Array[Long](d * d)
      else {
        require(buffer.length == d * d,
          s"$prettyName: mixed vector dimensions in one group " +
            s"(${buffer.length} buffer cells vs d=$d)")
        buffer
      }
    var i = 0
    while (i < d) {
      val xi = x(i)
      val row = i * d
      buf(row + i) += xi * xi
      var j = i + 1
      while (j < d) {
        val p = xi * x(j)
        buf(row + j) += p
        buf(j * d + i) += p
        j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) return buffer
    if (buffer.length == 0) return other
    require(buffer.length == other.length,
      s"$prettyName: mixed vector dimensions across partials " +
        s"(${buffer.length} vs ${other.length})")
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
    var i = 0
    while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): OuterProductSumAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OuterProductSumAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OuterProductSumAggExpr =
    copy(vecExpr = newChildren.head)
}

/**
 * Fused dual bucket-sum aggregate (r15): over `array<bigint>` rows of a
 * fixed dimension D, returns one `array<bigint>` of length 2·D — cells
 * [0, D) hold the elementwise sum over ALL rows, cells [D, 2·D) the
 * elementwise sum over rows whose boolean `flag` is true. Replaces the
 * DSIR ratio pass's token-grain
 * `groupBy(b).agg(sum(c), sum(when(flag, c)))` with one primitive loop
 * per DOCUMENT row; the partials that cross the shuffle are one 2·D
 * array per partition instead of one row per (doc, bucket). Same
 * buffer/serialize skeleton as [[OuterProductSumAggExpr]].
 */
case class BucketSumsAggExpr(
    vecExpr: Expression,
    flagExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(vecExpr, flagExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vecExpr.dataType, flagExpr.dataType) match {
      case (ArrayType(LongType, _), org.apache.spark.sql.types.BooleanType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, f) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, boolean), got " +
          s"(${v.catalogString}, ${f.catalogString})")
    }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = vecExpr.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    if (d == 0) return buffer
    val x = arr.toLongArray()
    val buf =
      if (buffer.length == 0) new Array[Long](2 * d)
      else {
        require(buffer.length == 2 * d,
          s"$prettyName: mixed vector dimensions in one group " +
            s"(${buffer.length / 2} buffer cells vs d=$d)")
        buffer
      }
    val f = flagExpr.eval(input)
    val flagged = f != null && f.asInstanceOf[Boolean]
    var i = 0
    while (i < d) {
      val xi = x(i)
      buf(i) += xi
      if (flagged) buf(d + i) += xi
      i += 1
    }
    buf
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) return buffer
    if (buffer.length == 0) return other
    require(buffer.length == other.length,
      s"$prettyName: mixed vector dimensions across partials " +
        s"(${buffer.length} vs ${other.length})")
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
    var i = 0
    while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BucketSumsAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BucketSumsAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BucketSumsAggExpr =
    copy(vecExpr = newChildren.head, flagExpr = newChildren(1))
}
