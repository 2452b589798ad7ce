package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/**
 * Pairwise correlation moments as one aggregate:
 * `graft_pair_moments(vec)` over a group of `array<double>` rows of a
 * fixed dimension D returns, for every feature pair (i, j) with j < i in
 * the order (1,0), (2,0), (2,1), (3,0), …, the six moments
 * (n, Σx_i, Σx_j, Σx_i², Σx_j², Σx_i·x_j) over the rows where BOTH cells
 * are non-null — pandas' pairwise deletion. The result is one flat
 * `array<double>` of 6·D(D−1)/2 cells, pair k at [6k, 6k+6). A NaN cell
 * is a value, not an absence: it is summed and makes that pair's
 * correlation NaN.
 *
 * Why an imperative aggregate and not 6·D(D−1)/2 declarative
 * conditional sums (168 `sum(when(...))` columns for 8 features): that
 * plan is code-generated and compiled per call, and its single wide
 * aggregate ran in one or two tasks. Here each input row costs one
 * primitive loop over the pairs
 * ([[update]], which the streaming window-local path calls too), and
 * the partials that cross the shuffle are one double array per
 * (group × partition). Same buffer/serialize skeleton as
 * [[OuterProductSumAggExpr]].
 */
object PairMoments {

  val FunctionName = "graft_pair_moments"

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"$FunctionName expects (vec), got ${exprs.length} args")
    PairMomentsAggExpr(exprs.head)
  }

  /** Column API: the pair moments of the `array<double>` SQL expression
    * `vecSql`, resolved in the calling plan. */
  def pairMoments(spark: SparkSession, vecSql: String): Column =
    graft.GraftExtensions.call(spark, FunctionName, vecSql)

  /** Moment cells for `d` features: six per pair (i, j < i). */
  def cells(d: Int): Int = 3 * d * (d - 1)

  /** The one per-row moment update: adds row `x` (cell i present iff
    * `present(i)`) to `buf`, pair by pair in the order above, skipping
    * the pairs with an absent cell. */
  def update(buf: Array[Double], x: Array[Double], present: Array[Boolean]): Unit = {
    var k = 0
    var i = 1
    while (i < x.length) {
      val xi = x(i)
      var j = 0
      while (j < i) {
        if (present(i) && present(j)) {
          val xj = x(j)
          buf(k) += 1.0
          buf(k + 1) += xi
          buf(k + 2) += xj
          buf(k + 3) += xi * xi
          buf(k + 4) += xj * xj
          buf(k + 5) += xi * xj
        }
        k += 6
        j += 1
      }
      i += 1
    }
  }
}

case class PairMomentsAggExpr(
    vecExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(vecExpr)
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = PairMoments.FunctionName

  // empty sentinel: the dimension is learned from the first input row
  // (the lazy sizing of OuterProductSumAggExpr)
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = vecExpr.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    if (d < 2) return buffer
    val x = new Array[Double](d)
    val present = new Array[Boolean](d)
    var i = 0
    while (i < d) {
      if (!arr.isNullAt(i)) { x(i) = arr.getDouble(i); present(i) = true }
      i += 1
    }
    val buf =
      if (buffer.length == 0) new Array[Double](PairMoments.cells(d))
      else {
        require(buffer.length == PairMoments.cells(d),
          s"$prettyName: mixed vector dimensions in one group " +
            s"(${buffer.length} buffer cells vs d=$d)")
        buffer
      }
    PairMoments.update(buf, x, present)
    buf
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] = {
    if (other.length == 0) return buffer
    if (buffer.length == 0) return other
    require(buffer.length == other.length,
      s"$prettyName: mixed vector dimensions across partials " +
        s"(${buffer.length} vs ${other.length})")
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Double]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
    var i = 0
    while (i < buffer.length) { bb.putDouble(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PairMomentsAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PairMomentsAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PairMomentsAggExpr =
    copy(vecExpr = newChildren.head)
}
