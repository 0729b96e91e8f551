package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Group-buffering aggregates: each group's rows are copied into a
  * compact buffer that `eval` sorts once on an integer key and emits
  * straight into its output, with no `collect_list` + `array_sort` +
  * higher-order-function rebuild (HOFs are interpreted, `CodegenFallback`).
  *
  * They stay map-side combinable exactly like `collect_list` (partial
  * update → serialize → shuffle → merge), with the same
  * `ObjectHashAggregate` physical operator. Two families use the
  * buffer: [[OrderedVectorSumAgg]] (the GNN message and pool sums) and
  * the bounded top-k aggregates (`BoundedTopKAgg.scala`), whose partial
  * phase really reduces. Per-frame assemblies are frame kernels on the
  * group-local node instead ([[GroupLocal]]: the graph tensors, the PI
  * matrices, the AF node tensors).
  */
private[graft] abstract class OrderedBufferAgg
    extends TypedImperativeAggregate[ArrayBuffer[InternalRow]] {

  /** The per-row entry: children, evaluated and copied into the buffer. */
  override def children: Seq[Expression] = entryFields
  protected def entryFields: Seq[Expression]

  // evaluated per input row: an array built once, not the `Seq` that
  // subclasses rebuild on every `entryFields` call
  @transient private lazy val fields: Array[Expression] = entryFields.toArray
  private lazy val numFields = fields.length
  private lazy val entryType = StructType(entryFields.zipWithIndex.map {
    case (e, i) => StructField(s"_$i", e.dataType, nullable = true)
  })
  private lazy val serializer =
    UnsafeProjection.create(Array[DataType](ArrayType(entryType, containsNull = false)))

  override def createAggregationBuffer(): ArrayBuffer[InternalRow] =
    ArrayBuffer.empty[InternalRow]

  override def update(
      buffer: ArrayBuffer[InternalRow], input: InternalRow): ArrayBuffer[InternalRow] = {
    val vals = new Array[Any](numFields)
    var i = 0
    while (i < numFields) {
      vals(i) = InternalRow.copyValue(fields(i).eval(input))
      i += 1
    }
    buffer += new GenericInternalRow(vals)
    buffer
  }

  override def merge(
      buffer: ArrayBuffer[InternalRow],
      other: ArrayBuffer[InternalRow]): ArrayBuffer[InternalRow] = {
    buffer ++= other
    buffer
  }

  override def serialize(buffer: ArrayBuffer[InternalRow]): Array[Byte] =
    serializer(InternalRow(new GenericArrayData(buffer.toArray[Any]))).getBytes

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[InternalRow] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val n = arr.numElements()
    val buffer = new ArrayBuffer[InternalRow](n)
    var i = 0
    while (i < n) {
      // the UnsafeRow slices keep `bytes` reachable; no copy needed
      buffer += arr.getStruct(i, numFields)
      i += 1
    }
    buffer
  }

  override def nullable: Boolean = true

  /** Sort entries ascending on one integer key column (unique per
    * group ⇒ equivalent to the generic full-struct lexicographic sort). */
  protected final def sortedByInt(
      buffer: ArrayBuffer[InternalRow], keyOrdinal: Int): Array[InternalRow] = {
    val arr = buffer.toArray
    java.util.Arrays.sort(arr, (a: InternalRow, b: InternalRow) =>
      Integer.compare(a.getInt(keyOrdinal), b.getInt(keyOrdinal)))
    arr
  }
}

/** Index-ordered element-wise vector sum: (idx, vec ARRAY<DOUBLE>) →
  * ARRAY<DOUBLE>, summed sequentially in ascending-idx order — the
  * GNN message/pool aggregation ([[graft.graphs.GnnInference]]).
  * Bit-identical to `aggregate(transform(array_sort(collect_list(
  * struct(idx, vec))), …), zeros, zip_with(+))`: the fold's summation
  * order IS ascending idx (that is why the sort was there — run-to-run
  * reproducibility), and adding the zero vector first is an FP no-op.
  * Null semantics mirror the fold: a null vector nulls the whole
  * result (zip_with(acc, null) = null), a null element nulls its
  * position, and length mismatches null the positions the shorter
  * vector lacks (zip_with pads with null).
  *
  * Parity caveat: the generic fold seeds with a FIXED-length
  * `zeros(dim)` initializer, so a group whose vectors are ALL shorter
  * than `dim` still returns `dim` elements (null tail); this agg has
  * no dim argument and returns the longest length actually seen.
  * Bit-identical parity therefore assumes every input vector has the
  * uniform declared length — the [[graft.graphs.GnnInference]]
  * invariant (its vectors are dense dim-length rows by construction),
  * spec-pinned in OrderedTensorAggSpec. Callers with ragged inputs
  * who need the zeros-initializer shape should pad to `dim` upstream. */
private[graft] case class OrderedVectorSumAgg(
    idx: Expression,
    vec: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends OrderedBufferAgg {

  override protected def entryFields: Seq[Expression] = Seq(idx, vec)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def eval(buffer: ArrayBuffer[InternalRow]): Any = {
    val sorted = sortedByInt(buffer, 0)
    if (sorted.isEmpty) return null
    var acc: Array[Double] = null
    var nulls: Array[Boolean] = null
    var n = 0
    var k = 0
    while (k < sorted.length) {
      val r = sorted(k)
      if (r.isNullAt(1)) return null // zip_with(acc, null) = null
      val v = r.getArray(1)
      val m = v.numElements()
      if (acc == null) {
        n = m
        acc = new Array[Double](n)
        nulls = new Array[Boolean](n)
      } else if (m != n) {
        // zip_with pads the shorter side with null → those positions
        // null out; grow to the longest seen, nulling the new tail
        val widest = math.max(m, n)
        val acc2 = new Array[Double](widest)
        val nulls2 = new Array[Boolean](widest)
        System.arraycopy(acc, 0, acc2, 0, n)
        System.arraycopy(nulls, 0, nulls2, 0, n)
        var t = math.min(m, n)
        while (t < widest) { nulls2(t) = true; t += 1 }
        acc = acc2; nulls = nulls2; n = widest
      }
      var i = 0
      val lim = math.min(m, n)
      while (i < lim) {
        if (v.isNullAt(i)) nulls(i) = true
        else if (!nulls(i)) acc(i) += v.getDouble(i)
        i += 1
      }
      k += 1
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (nulls(i)) null else java.lang.Double.valueOf(acc(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def prettyName: String = "ordered_vector_sum"
  override def withNewMutableAggBufferOffset(newOffset: Int): OrderedVectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OrderedVectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idx = newChildren(0), vec = newChildren(1))
}

object OrderedTensorAgg {

  /** ARRAY<DOUBLE> element-wise sum in ascending-idx order. */
  def orderedVectorSum(idx: Column, vec: Column): Column =
    ColumnShim.column(OrderedVectorSumAgg(
      ColumnShim.expression(idx), ColumnShim.expression(vec)).toAggregateExpression())
}
