package graft.models.formations

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Stage-4 stateless EFPI detection as a native-column aggregation
  * (optimization round 17).
  *
  * The typed `groupByKey(lambda).flatMapGroups` path costs two things
  * the native groupBy does not (plans/r17/q_efpi_frame_before.txt):
  * an `AppendColumns` + `Exchange` + `Sort` on the SERIALIZED lambda
  * key — Catalyst cannot see that the tuple fields equal the upstream
  * possession stage's partitioning columns, so every segment row
  * re-shuffles — and a per-row encoder round-trip (`SegRow` objects in,
  * `OutRow` objects out). Grouping on the NATIVE columns instead lets
  * the aggregation reuse the frame-key partitioning (zero exchange in
  * `every = "frame"` mode), and this TypedImperativeAggregate (the
  * house OrderedBufferAgg pattern) buffers raw rows and runs the SAME
  * [[Efpi.detectSegment]] + row-resolution logic per group in `eval`,
  * emitting one array of per-player structs that the caller explodes.
  * Output values are identical — `EfpiSpec`/the six q_efpi_* oracle
  * hashes pin it.
  */
private[formations] case class EfpiSegmentAgg(
    id: Expression,
    teamId: Expression,
    positionName: Expression,
    x: Expression,
    y: Expression,
    owning: Expression,
    lib: Templates.Library,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends graft.functions.OrderedBufferAgg {

  override protected def entryFields: Seq[Expression] =
    Seq(id, teamId, positionName, x, y, owning)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", StringType),
    StructField("team_id", StringType),
    StructField("position", StringType),
    StructField("formation", StringType),
    StructField("is_attacking", BooleanType))), containsNull = false)

  override def eval(buffer: ArrayBuffer[InternalRow]): Any = {
    // rebuild the flatMapGroups body exactly: detection input rows with
    // JVM strings (detectSegment compares and sorts java.lang.String)
    val rows = buffer.map { r =>
      Efpi.SegRow(
        "", 0, 0L,
        if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) null else r.getUTF8String(5).toString)
    }.toSeq
    val out = Efpi.resolveStatelessSegment(rows, lib)
    new GenericArrayData(out.map { o =>
      new GenericInternalRow(Array[Any](
        if (o.id == null) null else UTF8String.fromString(o.id),
        if (o.team_id == null) null else UTF8String.fromString(o.team_id),
        if (o.position == null) null else UTF8String.fromString(o.position),
        if (o.formation == null) null else UTF8String.fromString(o.formation),
        o.is_attacking.map(java.lang.Boolean.valueOf).orNull))
    }.toArray[Any])
  }

  override def prettyName: String = "efpi_segment"
  override def withNewMutableAggBufferOffset(newOffset: Int): EfpiSegmentAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EfpiSegmentAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), teamId = newChildren(1), positionName = newChildren(2),
      x = newChildren(3), y = newChildren(4), owning = newChildren(5))
}

private[formations] object EfpiSegmentAgg {
  def apply(lib: Templates.Library, id: Column, teamId: Column,
      positionName: Column, x: Column, y: Column, owning: Column): Column =
    ColumnShim.column(EfpiSegmentAgg(
      ColumnShim.expression(id),
      ColumnShim.expression(teamId),
      ColumnShim.expression(positionName),
      ColumnShim.expression(x),
      ColumnShim.expression(y),
      ColumnShim.expression(owning),
      lib).toAggregateExpression())
}
