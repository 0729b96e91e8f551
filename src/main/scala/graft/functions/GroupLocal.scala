package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** A plain Scala kernel that [[GroupLocal]] runs once for each group:
  * the run of rows that share the node's keys, in the node's order. */
abstract class GroupKernel extends Serializable {
  /** Columns the kernel reads, with the type it reads them as. The
    * [[Group]] accessors address them by their index here. */
  def inputs: Seq[(String, DataType)]
  /** Values it computes for each row. A value named like an input
    * column replaces that column in place; the others are appended in
    * this order (the column order of `withColumn`). */
  def values: Seq[StructField]
  /** Computes one group: sets every value of every row it keeps and
    * drops the rows the node must not emit. */
  def run(g: Group): Unit
}

/** One group's rows, read through the kernel's inputs, and the
  * kernel's values for each row. */
final class Group private[functions] (inputOrdinals: Array[Int], valueTypes: Array[DataType]) {
  private[this] var rows = new Array[InternalRow](64)
  private[this] var vals = new Array[SpecificInternalRow](64)
  private[this] var kept = new Array[Boolean](64)
  private[this] var n = 0

  def size: Int = n
  def isNull(i: Int, in: Int): Boolean = rows(i).isNullAt(inputOrdinals(in))
  def double(i: Int, in: Int): Double = rows(i).getDouble(inputOrdinals(in))
  def long(i: Int, in: Int): Long = rows(i).getLong(inputOrdinals(in))
  /** The string input, or null. */
  def string(i: Int, in: Int): UTF8String =
    if (isNull(i, in)) null else rows(i).getUTF8String(inputOrdinals(in))

  def setDouble(i: Int, v: Int, x: Double): Unit = vals(i).setDouble(v, x)
  def setBoolean(i: Int, v: Int, x: Boolean): Unit = vals(i).setBoolean(v, x)
  /** Sets a string value; null sets SQL NULL. */
  def setString(i: Int, v: Int, s: UTF8String): Unit = vals(i).update(v, s)
  def drop(i: Int): Unit = kept(i) = false

  private[functions] def row(i: Int): InternalRow = rows(i)
  private[functions] def value(i: Int): InternalRow = vals(i)
  private[functions] def keep(i: Int): Boolean = kept(i)
  private[functions] def clear(): Unit = n = 0

  /** Appends a row the group owns (the caller copies it). */
  private[functions] def add(row: InternalRow): Unit = {
    if (n == rows.length) {
      rows = java.util.Arrays.copyOf(rows, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2)
      kept = java.util.Arrays.copyOf(kept, n * 2)
    }
    if (vals(n) == null) vals(n) = new SpecificInternalRow(valueTypes.toIndexedSeq)
    else {
      var k = 0
      while (k < valueTypes.length) { vals(n).setNullAt(k); k += 1 }
    }
    rows(n) = row
    kept(n) = true
    n += 1
  }
}

/** Group-local execution: a logical node that runs a [[GroupKernel]]
  * over each group of rows sharing `keys`, sorted by `keys ++ order`.
  *
  * The physical [[GroupLocalExec]] asks for `ClusteredDistribution(keys)`
  * and that ordering, so the planner adds at most one exchange and one
  * sort, and none when the child already provides them: a chain of
  * nodes keyed by the same columns shares one shuffle. Each kept row
  * leaves through one `UnsafeProjection` over (input row, kernel
  * values). The output keeps the child's partitioning and ordering, so
  * a frame-keyed aggregate downstream rides the frame exchange.
  *
  * Groups follow `Window`'s partition semantics: rows whose key columns
  * are all equal form one group, null keys included. A group is held in
  * memory while its kernel runs (a frame, or one object's samples in
  * one period).
  *
  * Only columns the kernel reads, the keys, the order and the replaced
  * columns are references of the node; the other child columns pass
  * through, so column pruning above the node reaches below it. */
case class GroupLocal(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    kernel: GroupKernel,
    inputs: Seq[Attribute],
    replaced: Seq[Attribute],
    replacedBy: Seq[Int],
    values: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = {
    val inPlace = replaced.map(_.exprId).zip(replacedBy.map(values)).toMap
    child.output.map(a => inPlace.getOrElse(a.exprId, a)) ++
      values.indices.filterNot(replacedBy.contains).map(values)
  }

  override def producedAttributes: AttributeSet = AttributeSet(values)

  /** The node with fresh value attributes. */
  def renewed: GroupLocal = copy(values = values.map(_.newInstance()))

  override protected def withNewChildInternal(c: LogicalPlan): GroupLocal = copy(child = c)
}

object GroupLocal {

  /** `df` with `kernel` run over each group of rows sharing `keys`,
    * ordered by `order` ascending (nulls first, as `Window.orderBy`). */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[String], kernel: GroupKernel): DataFrame = {
    val child = df.queryExecution.analyzed
    val resolver = SQLConf.get.resolver
    def attr(name: String): Attribute = child.output.find(a => resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $name among ${child.output.map(_.name).mkString(", ")}"))
    val inputs = kernel.inputs.map { case (name, dt) =>
      val a = attr(name)
      require(a.dataType == dt, s"column $name is ${a.dataType.simpleString}, expected ${dt.simpleString}")
      a
    }
    val values = kernel.values.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val replaced = child.output.flatMap { a =>
      val i = kernel.values.indexWhere(f => resolver(a.name, f.name))
      if (i < 0) None else Some(a -> i)
    }
    PlanShim.ofRows(df, GroupLocal(keys.map(attr), order.map(n => SortOrder(attr(n), Ascending)),
      kernel, inputs, replaced.map(_._1), replaced.map(_._2), values, child))
  }
}

/** Renews the value attributes of a [[GroupLocal]] on the right side
  * of a join whose left side holds the same node, so a self-join of the
  * result resolves. Spark's own de-duplication
  * renews relations and the nodes it knows; this is the same step for
  * the attributes this node produces. Injected by [[GraftExtensions]]. */
object GroupLocalDedup extends Rule[LogicalPlan] {
  private def produced(p: LogicalPlan): AttributeSet =
    AttributeSet(p.collect { case g: GroupLocal => g.values }.flatten)

  private def dedupRight(left: LogicalPlan, right: LogicalPlan): LogicalPlan = {
    val taken = produced(left)
    if (taken.isEmpty) right
    else right.transformUpWithNewOutput {
      case g: GroupLocal if g.values.exists(taken.contains) =>
        val fresh = g.renewed
        (fresh, g.values.zip(fresh.values))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case j: Join if !j.duplicateResolved => j.copy(right = dedupRight(j.left, j.right))
  }
}

/** Plans [[GroupLocal]]; injected by [[GraftExtensions]]. */
object GroupLocalStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GroupLocal =>
      GroupLocalExec(g.keys, g.order, g.kernel, g.inputs, g.values, g.output, planLater(g.child)) :: Nil
    case _ => Nil
  }
}

case class GroupLocalExec(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    kernel: GroupKernel,
    inputs: Seq[Attribute],
    values: Seq[Attribute],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val ordinals = inputs.map(a => in.indexWhere(_.exprId == a.exprId)).toArray
    val types = values.map(_.dataType).toArray
    // locals, so the closure does not capture the plan
    val (keyExprs, outExprs, valueAttrs, k) = (keys, output, values, kernel)
    child.execute().mapPartitions { rows =>
      new GroupIterator(rows, UnsafeProjection.create(keyExprs, in),
        UnsafeProjection.create(outExprs, in ++ valueAttrs), k, new Group(ordinals, types))
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupLocalExec = copy(child = c)
}

/** Cuts sorted input into key runs, runs the kernel on each, and emits
  * the kept rows. */
private final class GroupIterator(
    input: Iterator[InternalRow],
    keyOf: UnsafeProjection,
    emit: UnsafeProjection,
    kernel: GroupKernel,
    group: Group) extends Iterator[InternalRow] {

  private[this] var pending: InternalRow = if (input.hasNext) input.next().copy() else null
  private[this] var pos = 0
  private[this] val joined = new JoinedRow

  override def hasNext: Boolean = {
    var more = true
    while (more) {
      while (pos < group.size && !group.keep(pos)) pos += 1
      if (pos < group.size || pending == null) more = false else load()
    }
    pos < group.size
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val out = emit(joined(group.row(pos), group.value(pos)))
    pos += 1
    out
  }

  private def load(): Unit = {
    group.clear()
    val key = keyOf(pending).copy()
    group.add(pending)
    pending = null
    while (pending == null && input.hasNext) {
      val r = input.next()
      if (keyOf(r) == key) group.add(r.copy()) else pending = r.copy()
    }
    kernel.run(group)
    pos = 0
  }
}
