package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.functions.PairMoments

/**
 * `graft_pair_moments(x_0, …, x_{k-1})`: the pairwise-deletion moment
 * sums of every feature pair over a group, as one `array<double>` in
 * [[PairMoments]]' slot layout (six slots per pair). A null input is an
 * absent value, so a pair skips the rows where either side is null —
 * pandas' pairwise deletion.
 *
 * One per-row primitive loop over the k(k−1)/2 pairs replaces 6·k(k−1)/2
 * conditional SQL sums; the partial that crosses the shuffle is one
 * 6·k(k−1)/2-double array per (group × partition). Same buffer/serialize
 * skeleton as [[OuterProductSumAggExpr]].
 */
object PairMomentsAgg {

  val FunctionName = "graft_pair_moments"

  /** Group state: the moment array plus one row's scratch. */
  final class Buffer(val m: Array[Double], k: Int) {
    val x = new Array[Double](k)
    val present = new Array[Boolean](k)
  }

  def builder(exprs: Seq[Expression]): Expression = PairMomentsAggExpr(exprs)

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerOnce(spark, FunctionName, builder)

  /** Column API over the named double columns, in slot order. */
  def pairMoments(spark: SparkSession, cols: Seq[String]): Column = {
    register(spark)
    expr(cols.map(c => s"CAST(`${c.replace("`", "``")}` AS DOUBLE)")
      .mkString(s"$FunctionName(", ", ", ")"))
  }
}

case class PairMomentsAggExpr(
    features: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairMomentsAgg.Buffer] {

  import PairMomentsAgg.Buffer

  private def k = features.length

  override def children: Seq[Expression] = features
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    features.find(_.dataType != DoubleType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires double inputs, got ${e.dataType.catalogString}")
    }

  override def createAggregationBuffer(): Buffer = new Buffer(PairMoments.empty(k), k)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    var i = 0
    while (i < k) {
      val v = features(i).eval(input)
      buffer.present(i) = v != null
      if (v != null) buffer.x(i) = v.asInstanceOf[Double]
      i += 1
    }
    PairMoments.accumulate(buffer.m, buffer.x, buffer.present)
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    var i = 0
    while (i < buffer.m.length) { buffer.m(i) += other.m(i); i += 1 }
    buffer
  }

  override def eval(buffer: Buffer): Any = new GenericArrayData(buffer.m)

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.m.length * 8)
    buffer.m.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    new Buffer(Array.fill(bytes.length / 8)(bb.getDouble()), k)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PairMomentsAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PairMomentsAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PairMomentsAggExpr =
    copy(features = newChildren)
}
