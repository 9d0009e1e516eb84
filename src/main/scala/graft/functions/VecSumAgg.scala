package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_vec_sum(v)` → `array<double>` of length d+1: the elementwise
  * sum of an `array<double>` vector column with the group's row count
  * appended (`[Σv₀ … Σv_{d-1}, n]`) — the per-cell statistic a Lloyd
  * round needs, in ONE aggregation buffer.
  *
  * The scale story (VERDICT r3 #7): the previous k-means mean EXPANDED
  * N×d `(cell, i, x)` rows through `posexplode` → `groupBy(cell, i)` —
  * hash-agg map-side combine kept the shuffle at k·d partials, but the
  * expansion itself (N·d rows built, hashed, and probed per round) was
  * the CPU cost, and per-dimension `(cell, i)` keys + sum/count pairs
  * made the partial buffers ~2.4× the bytes of this aggregate's packed
  * d+1-double buffer (BASELINE.md, Lloyd-round shuffle diet: 2.0 vs
  * 5.0 MiB shuffled at N=10⁶, d=64, k=64; wall 8.0 vs 11.5 s/round at
  * k=512).
  * Arithmetic is unchanged: per dimension the same doubles are added in
  * the same within-partition row order, and the final mean divides by
  * the same count (`VectorIndexSpec` pins centroid equality against
  * the relational form).
  *
  * Buffer sizes itself from the first vector seen (d is a data
  * property); mismatched lengths in one group throw rather than
  * silently mis-accumulate.
  */
final case class VecSumAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val x = v.asInstanceOf[ArrayData]
    val d = x.numElements()
    val b = if (buf.isEmpty) new Array[Double](d + 1) else buf
    require(b.length == d + 1,
      s"$prettyName: vector length $d does not match buffer d=${b.length - 1}")
    var i = 0
    while (i < d) {
      // toDoubleArray would read a null slot as 0.0 — silently diverging
      // from the relational posexplode+avg reference, whose avg skips null
      // elements with PER-DIMENSION denominators this d+1 buffer cannot
      // carry. Refuse loudly instead; callers pre-clean (VectorIndex
      // filters null/empty embeddings before the aggregate).
      require(!x.isNullAt(i),
        s"$prettyName: null element at index $i; null array elements are " +
          "not supported — filter or coalesce them before aggregating")
      b(i) += x.getDouble(i)
      i += 1
    }
    b(d) += 1.0
    b
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    if (other.isEmpty) return buf
    if (buf.isEmpty) return other
    require(buf.length == other.length, s"$prettyName: buffer size mismatch")
    var i = 0
    while (i < buf.length) {
      buf(i) += other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAgg =
    copy(child = newChildren(0))
  override def prettyName: String = "graft_vec_sum"
}
