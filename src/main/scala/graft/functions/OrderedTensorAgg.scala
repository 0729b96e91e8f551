package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Direct-to-tensor aggregation for the staged graph assembly (the
  * Delaunay adjacency and [[graft.graphs.GraphConverter.graphFramesBucketed]])
  * and the GNN message sums.
  *
  * The generic assembly (`collect_list(struct) + array_sort +
  * transform/element_at`, now the test-side reference
  * `GraphAssemblyReference`) is correct but pays for generality three
  * times per frame: the sort runs a codegen'd struct comparator over
  * full payload structs, the higher-order `transform`/`element_at`
  * rebuild is interpreted (HOFs are CodegenFallback), and the matrix
  * build allocates a `sequence` and probes `element_at` n² times. These
  * `TypedImperativeAggregate`s accumulate each group's rows into a
  * compact buffer, which `eval` sorts once on the integer keys and emits
  * straight into the nested output arrays.
  *
  * All three stay map-side combinable exactly like `collect_list`
  * (partial update → serialize → shuffle → merge), with the same
  * `ObjectHashAggregate` physical operator — asserted in PlanAuditSpec.
  * Output values and ordering are bit-identical to the generic shape
  * (the sort keys are unique within a group, so sorting by key alone
  * reproduces the full-struct lexicographic sort). The default graph
  * path and the PI matrices are frame kernels on the group-local node
  * instead ([[graft.graphs.GraphKernel]], `PressingIntensity.matrices`).
  *
  * Reference for the tensor layouts:
  * `unravel/soccer/graphs/graph_converter.py:214-222` (node order).
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

  /** Sort entries ascending on two integer key columns (the pair
    * (i, j) is unique per group). */
  protected final def sortedByIntPair(
      buffer: ArrayBuffer[InternalRow], iOrd: Int, jOrd: Int): Array[InternalRow] = {
    val arr = buffer.toArray
    java.util.Arrays.sort(arr, (a: InternalRow, b: InternalRow) => {
      val c = Integer.compare(a.getInt(iOrd), b.getInt(iOrd))
      if (c != 0) c else Integer.compare(a.getInt(jOrd), b.getInt(jOrd))
    })
    arr
  }

  protected final def valueAt(r: InternalRow, ord: Int, dt: DataType): Any =
    if (r.isNullAt(ord)) null else r.get(ord, dt)
}

/** Node-side assembly: (node_idx, payload₀, payload₁, …) →
  * struct(name₀: array<payload₀>, …) in node-index order. Replaces
  * `array_sort(collect_list(struct(idx, p…)))` + one `transform` per
  * payload. */
private[graft] case class OrderedNodesAgg(
    idx: Expression,
    payloads: Seq[Expression],
    names: Seq[String],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends OrderedBufferAgg {
  require(payloads.nonEmpty && payloads.length == names.length,
    "one output name per payload expression")

  override protected def entryFields: Seq[Expression] = idx +: payloads

  override def dataType: DataType = StructType(names.zip(payloads).map {
    case (n, p) => StructField(n, ArrayType(p.dataType, containsNull = true))
  })

  override def eval(buffer: ArrayBuffer[InternalRow]): Any = {
    val sorted = sortedByInt(buffer, 0)
    val out = new Array[Any](payloads.length)
    var p = 0
    while (p < payloads.length) {
      val dt = payloads(p).dataType
      val col = new Array[Any](sorted.length)
      var k = 0
      while (k < sorted.length) {
        col(k) = valueAt(sorted(k), p + 1, dt)
        k += 1
      }
      out(p) = new GenericArrayData(col)
      p += 1
    }
    new GenericInternalRow(out)
  }

  override def prettyName: String = "ordered_nodes"
  override def withNewMutableAggBufferOffset(newOffset: Int): OrderedNodesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OrderedNodesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idx = newChildren.head, payloads = newChildren.tail)
}

/** Pair-side assembly for graph tensors: (i_idx, j_idx, a, e_features)
  * → struct(a: n×n int matrix, e: e_features of the a=1 cells in (i, j)
  * order). Positional like the generic shape: n = |distinct j|, cell
  * (i, j) of the matrix is sorted-entry i·n+j — no assumption that the
  * indices start at 0. */
private[graft] case class AdjacencyEdgesAgg(
    iIdx: Expression,
    jIdx: Expression,
    adj: Expression,
    edgeFeatures: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends OrderedBufferAgg {

  override protected def entryFields: Seq[Expression] =
    Seq(iIdx, jIdx, adj, edgeFeatures)

  override def dataType: DataType = StructType(Seq(
    StructField("a",
      ArrayType(ArrayType(IntegerType, containsNull = true), containsNull = true)),
    StructField("e",
      ArrayType(edgeFeatures.dataType, containsNull = true))))

  override def eval(buffer: ArrayBuffer[InternalRow]): Any = {
    val sorted = sortedByIntPair(buffer, 0, 1)
    val total = sorted.length
    // n = count of distinct j values (the generic shape's `__n`); with
    // sorted unique (i, j) pairs the distinct j's all appear in the
    // first row block, but count globally to stay exact on ragged input
    val seen = new java.util.HashSet[Integer]()
    var k = 0
    while (k < total) { seen.add(sorted(k).getInt(1)); k += 1 }
    val n = seen.size()
    val rows = if (n == 0) 0 else total / n

    val aRows = new Array[Any](rows)
    var i = 0
    while (i < rows) {
      val rowVals = new Array[Any](n)
      var j = 0
      while (j < n) {
        val r = sorted(i * n + j)
        rowVals(j) = if (r.isNullAt(2)) null else Integer.valueOf(r.getInt(2))
        j += 1
      }
      aRows(i) = new GenericArrayData(rowVals)
      i += 1
    }

    val eOut = new ArrayBuffer[Any](total)
    val eDt = edgeFeatures.dataType
    k = 0
    while (k < total) {
      val r = sorted(k)
      if (!r.isNullAt(2) && r.getInt(2) == 1) eOut += valueAt(r, 3, eDt)
      k += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(aRows), new GenericArrayData(eOut.toArray)))
  }

  override def prettyName: String = "adjacency_edges"
  override def withNewMutableAggBufferOffset(newOffset: Int): AdjacencyEdgesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): AdjacencyEdgesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(iIdx = newChildren(0), jIdx = newChildren(1),
      adj = newChildren(2), edgeFeatures = newChildren(3))
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

  /** struct(names…) of per-payload arrays in `idx` order. */
  def orderedNodes(idx: Column, payloadsAndNames: (Column, String)*): Column =
    ColumnShim.column(OrderedNodesAgg(
      ColumnShim.expression(idx),
      payloadsAndNames.map(p => ColumnShim.expression(p._1)),
      payloadsAndNames.map(_._2)).toAggregateExpression())

  /** ARRAY<DOUBLE> element-wise sum in ascending-idx order. */
  def orderedVectorSum(idx: Column, vec: Column): Column =
    ColumnShim.column(OrderedVectorSumAgg(
      ColumnShim.expression(idx), ColumnShim.expression(vec)).toAggregateExpression())

  /** struct(a: n×n int matrix, e: edge features of the a=1 cells). */
  def adjacencyEdges(i: Column, j: Column, a: Column, e: Column): Column =
    ColumnShim.column(AdjacencyEdgesAgg(
      ColumnShim.expression(i), ColumnShim.expression(j),
      ColumnShim.expression(a), ColumnShim.expression(e)).toAggregateExpression())
}
