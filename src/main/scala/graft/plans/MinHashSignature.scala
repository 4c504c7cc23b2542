package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Single-pass MinHash signature over a pre-hashed token array.
 *
 * The composable form (`array(array_min(transform(h, ...)) * k)`) walks
 * the token array k times and each `transform` materializes an
 * intermediate boxed array — measured at ~11 s for 5000 docs x 300
 * shingles x 64 permutations. This expression computes all k minima in
 * ONE pass of primitive arithmetic (no allocation beyond the k-long
 * output), ~20x faster, and stays inside whole-stage codegen via a
 * static kernel call.
 *
 * Permutation family (cross-engine verifiable): h_i(x) = (a_i*x + b_i)
 * mod P with P = 4294967311 (the smallest prime above 2^32), a_i in
 * [1, 2^31), b_i in [0, 2^31). INPUT CONTRACT: x must be under 2^32
 * (the md5-32 convention of graft.functions.PortableHash) so a_i*x + b_i stays
 * below 2^63 — exact in any engine's signed-64 arithmetic, which lets a
 * SQL oracle (DuckDB `list_min(list_transform(...))` over the same
 * constants) reproduce the signature bit-for-bit.
 */
object MinHashSignature {

  /** Smallest prime > 2^32: the permutation modulus. */
  val P: Long = 4294967311L

  /** splitmix64-style finalizer — used only to derive the fixed
    * coefficient tables below (never on the data path). */
  @inline private def mix(h: Long, perm: Int): Long = {
    var x = h + 0x9e3779b97f4a7c15L * (perm + 1)
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Multiplier of permutation i: 31-bit, never zero. */
  def coeffA(i: Int): Long = (mix(0xA11CE5EEDL, i) & 0x7fffffffL) | 1L

  /** Offset of permutation i: 31-bit. */
  def coeffB(i: Int): Long = mix(0xBEEFCAFEL, i) & 0x7fffffffL

  private val MaxK = 1024
  private lazy val A: Array[Long] = Array.tabulate(MaxK)(coeffA)
  private lazy val B: Array[Long] = Array.tabulate(MaxK)(coeffB)

  /** The codegen kernel: k minima in one pass. */
  def signature(hashes: ArrayData, k: Int): ArrayData = {
    require(k <= MaxK, s"k=$k exceeds precomputed coefficient table ($MaxK)")
    val a = A; val b = B
    val out = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      // INPUT CONTRACT enforced: a 64-bit hash (e.g. raw xxhash64 output)
      // would silently overflow a*h + b past 2^63 and corrupt every
      // signature minimum — fail loudly instead. One shift+branch per
      // token against k multiply-mods: noise.
      if ((h >>> 32) != 0L)
        throw new IllegalArgumentException(
          s"minhash token hash $h is not below 2^32 — feed md5-32 hashes " +
            "(graft.functions.PortableHash), not 64-bit hashes")
      var i = 0
      while (i < k) {
        val v = (a(i) * h + b(i)) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  val FunctionName = "graft_minhash_signature"

  /** Expression builder shared by session-local registration and
    * [[graft.GraftExtensions]]. The k argument is folded at plan time, so
    * a pure-SQL caller passing a non-constant gets a clear analysis-time
    * error instead of an opaque eval-time NPE. */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"$FunctionName expects (hashes, k), got ${exprs.length} args")
    if (!exprs(1).foldable)
      throw new IllegalArgumentException(
        s"$FunctionName: the k argument must be a constant (literal), got ${exprs(1).sql}")
    MinHashSignatureExpr(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())
  }

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerOnce(spark, FunctionName, builder)

  /** Column API; `hashesCol` must resolve by name in the calling plan. */
  def minhashSignature(spark: SparkSession, hashesCol: String, k: Int): Column = {
    register(spark)
    expr(s"$FunctionName($hashesCol, $k)")
  }
}

case class MinHashSignatureExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, s"k must be positive, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = MinHashSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kernel.signature($c, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}
