package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import java.nio.ByteBuffer

/** One-pass mean vector over an ARRAY<DOUBLE>/ARRAY<FLOAT> column.
  *
  * Replaces the posexplode→groupBy(label,pos)→avg→rebuild spelling, which
  * blows every row up 64× through a shuffle (at 1B×1024-dim vectors that is
  * a trillion-row shuffle). Here each partition folds its vectors into one
  * (dim longs + count) buffer, partials merge associatively, and the shuffle
  * carries dim+1 longs per group.
  *
  * Determinism: each component is quantized to a scaled long
  * (floor(x·10⁶ + 0.5)) BEFORE summation. Per-element quantization is
  * order-independent and long addition is exact and associative, so the
  * result is bit-identical at any partition count and any merge order —
  * unlike a double avg(), whose partial-aggregation order varies with
  * parallelism (FP addition is not associative). The DuckDB oracle mirrors
  * the same quantization, so both engines agree exactly. Magnitude bound:
  * |x| ≤ ~9.2·10¹² before a long sum of 10⁶-scaled values can overflow at
  * a trillion rows per group — far beyond unit-norm embedding components.
  */
case class VecCentroid(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecCentroid.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_centroid requires ARRAY<DOUBLE> or ARRAY<FLOAT>, got ${other.catalogString}")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def createAggregationBuffer(): VecCentroid.Buf =
    new VecCentroid.Buf(null, 0L)

  override def update(b: VecCentroid.Buf, input: InternalRow): VecCentroid.Buf = {
    val v = child.eval(input)
    if (v == null) return b
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (b.sums == null) b.sums = new Array[Long](n)
    require(b.sums.length == n,
      s"vec_centroid: vector length mismatch (${b.sums.length} vs $n)")
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      b.sums(i) += VecCentroid.quant(x)
      i += 1
    }
    b.n += 1
    b
  }

  override def merge(b: VecCentroid.Buf, o: VecCentroid.Buf): VecCentroid.Buf = {
    if (o.sums == null) return b
    if (b.sums == null) { b.sums = o.sums; b.n = o.n; return b }
    require(b.sums.length == o.sums.length,
      s"vec_centroid: vector length mismatch (${b.sums.length} vs ${o.sums.length})")
    var i = 0
    while (i < b.sums.length) { b.sums(i) += o.sums(i); i += 1 }
    b.n += o.n
    b
  }

  override def eval(b: VecCentroid.Buf): Any = {
    if (b.sums == null || b.n == 0) return null
    new GenericArrayData(VecCentroid.mean(b.sums, b.n))
  }

  override def serialize(b: VecCentroid.Buf): Array[Byte] = {
    val dim = if (b.sums == null) 0 else b.sums.length
    val bb = ByteBuffer.allocate(4 + 8 * dim + 8)
    bb.putInt(dim)
    var i = 0
    while (i < dim) { bb.putLong(b.sums(i)); i += 1 }
    bb.putLong(b.n)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecCentroid.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val dim = bb.getInt()
    val sums = if (dim == 0) null else {
      val a = new Array[Long](dim)
      var i = 0
      while (i < dim) { a(i) = bb.getLong(); i += 1 }
      a
    }
    new VecCentroid.Buf(sums, bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecCentroid =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecCentroid =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecCentroid =
    copy(child = newChildren.head)
}

object VecCentroid {
  /** Mutable aggregation state: per-position scaled-long sums + row count. */
  final class Buf(var sums: Array[Long], var n: Long)

  val Scale: Double = 1e6

  /** Per-element quantization: the scaled long a component adds to its sum. */
  def quant(x: Double): Long = math.floor(x * Scale + 0.5).toLong

  /** The mean vector of `n` vectors' quantized sums, in the oracle's op
    * sequence: sum→double, /count, /scale. Shared by the aggregate and the
    * driver-side k-means fit (AnnKMeans), so both give the same bits. */
  def mean(sums: Array[Long], n: Long): Array[Double] = {
    val out = new Array[Double](sums.length)
    var i = 0
    while (i < out.length) { out(i) = sums(i).toDouble / n / Scale; i += 1 }
    out
  }

  /** Oracle-side twin of the per-element quantization. */
  def oQuant(x: String): String =
    s"CAST(floor(($x) * 1000000 + 0.5) AS BIGINT)"

  /** Mean vector of a vector column, as an aggregate Column for `agg`. */
  def of(v: Column): Column =
    column(VecCentroid(expression(v)).toAggregateExpression())
}
