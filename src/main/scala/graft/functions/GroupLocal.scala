package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** What [[GroupLocal]] runs once for each group: the run of rows that
  * share the node's keys, in the node's order. The kernel's type picks
  * the node's form: a [[GroupKernel]] computes values for the group's own
  * rows, a [[GroupGenerator]] emits rows of its own schema. */
sealed abstract class LocalKernel extends Serializable {
  /** Columns the kernel reads, with the type it reads them as. The
    * [[Group]] accessors address them by their index here. */
  def inputs: Seq[(String, DataType)]
  /** The kernel's name in a printed plan, which never shows its fields. */
  def name: String = getClass.getSimpleName
}

/** A plain Scala kernel that computes values for every row of a group. */
abstract class GroupKernel extends LocalKernel {
  /** Values it computes for each row. A value named like an input
    * column replaces that column in place; the others are appended in
    * this order (the column order of `withColumn`). */
  def values: Seq[StructField]
  /** Computes one group: sets every value of every row it keeps and
    * drops the rows the node must not emit. */
  def run(g: Group): Unit
}

/** A plain Scala kernel that emits any number of rows per group, each
  * made of the group's keys followed by the fields of `output`. */
abstract class GroupGenerator extends LocalKernel {
  /** The fields of each emitted row, after the keys. */
  def output: Seq[StructField]
  /** Computes one group: its rows, each holding `output`'s fields in
    * order as Catalyst values. They are read before the next group. */
  def run(g: Group): Iterator[InternalRow]
}

/** One group's rows, read through the kernel's inputs, and the
  * kernel's values for each row. */
final class Group private[functions] (
    inputOrdinals: Array[Int], inputTypes: Array[DataType], valueTypes: Array[DataType]) {
  private[this] var rows = new Array[InternalRow](64)
  private[this] var vals = new Array[SpecificInternalRow](64)
  private[this] var kept = new Array[Boolean](64)
  private[this] var n = 0

  def size: Int = n
  def isNull(i: Int, in: Int): Boolean = rows(i).isNullAt(inputOrdinals(in))
  def double(i: Int, in: Int): Double = rows(i).getDouble(inputOrdinals(in))
  def long(i: Int, in: Int): Long = rows(i).getLong(inputOrdinals(in))
  def int(i: Int, in: Int): Int = rows(i).getInt(inputOrdinals(in))
  def boolean(i: Int, in: Int): Boolean = rows(i).getBoolean(inputOrdinals(in))
  /** The input as a Catalyst value of its declared type, or null. */
  def get(i: Int, in: Int): Any =
    if (isNull(i, in)) null else rows(i).get(inputOrdinals(in), inputTypes(in))
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

/** Group-local execution: a logical node that runs a [[LocalKernel]]
  * over each group of rows sharing `keys`, sorted by `keys ++ order`.
  *
  * The physical [[GroupLocalExec]] asks for `ClusteredDistribution(keys)`
  * and that ordering, so the planner adds at most one exchange and one
  * sort, and none when the child already provides them: a chain of
  * nodes keyed by the same columns shares one shuffle. The output keeps
  * the child's partitioning, so a frame-keyed node or aggregate
  * downstream rides the frame exchange.
  *
  * Groups follow `Window`'s partition semantics: rows whose key columns
  * are all equal form one group, null keys included. A group is held in
  * memory while its kernel runs (a frame, or one object's samples in
  * one period).
  *
  * The two forms:
  *  - a [[GroupKernel]] keeps the child's rows: each kept row leaves
  *    through one `UnsafeProjection` over (input row, kernel values), in
  *    the child's order. Only columns the kernel reads, the keys, the
  *    order and the replaced columns are references of the node; the
  *    other child columns pass through, so column pruning above the
  *    node reaches below it;
  *  - a [[GroupGenerator]] outputs `keys ++ output` only, so its child is
  *    a projection to the keys, the order and the inputs cast to their
  *    declared types. An exchange below the node moves only those
  *    columns, and a file scan below reads only them. Its rows leave
  *    sorted by the keys.
  *
  * A printed plan shows the kernel's name and the keys, not the
  * kernel's fields. */
case class GroupLocal(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    kernel: LocalKernel,
    inputs: Seq[Attribute],
    replaced: Seq[Attribute],
    replacedBy: Seq[Int],
    values: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = kernel match {
    case _: GroupGenerator => keys ++ values
    case _: GroupKernel =>
      val inPlace = replaced.map(_.exprId).zip(replacedBy.map(values)).toMap
      child.output.map(a => inPlace.getOrElse(a.exprId, a)) ++
        values.indices.filterNot(replacedBy.contains).map(values)
  }

  override def producedAttributes: AttributeSet = AttributeSet(values)

  override protected def stringArgs: Iterator[Any] = Iterator(kernel.name, keys, order)

  /** The node with fresh value attributes. */
  def renewed: GroupLocal = copy(values = values.map(_.newInstance()))

  override protected def withNewChildInternal(c: LogicalPlan): GroupLocal = copy(child = c)
}

object GroupLocal {

  /** `df` with `kernel` run over each group of rows sharing `keys`,
    * ordered by `order` ascending (nulls first, as `Window.orderBy`). A
    * [[GroupKernel]] reads its inputs as they are (`require` fails on
    * another type); a [[GroupGenerator]] reads them cast to the declared
    * type. */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[String], kernel: LocalKernel): DataFrame = {
    val resolver = SQLConf.get.resolver
    val child = kernel match {
      case _: GroupKernel => df.queryExecution.analyzed
      case _: GroupGenerator =>
        val grouping = (keys ++ order).distinct
        val cast = kernel.inputs.filterNot(in => grouping.exists(resolver(_, in._1)))
          .map { case (name, dt) => col(name).cast(dt).as(name) }
        df.select(grouping.map(col) ++ cast: _*).queryExecution.analyzed
    }
    def attr(name: String): Attribute = child.output.find(a => resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $name among ${child.output.map(_.name).mkString(", ")}"))
    val inputs = kernel.inputs.map { case (name, dt) =>
      val a = attr(name)
      require(a.dataType == dt, s"column $name is ${a.dataType.simpleString}, expected ${dt.simpleString}")
      a
    }
    val (fields, replaced) = kernel match {
      case k: GroupKernel => (k.values, child.output.flatMap { a =>
        val i = k.values.indexWhere(f => resolver(a.name, f.name))
        if (i < 0) None else Some(a -> i)
      })
      case g: GroupGenerator => (g.output, Nil)
    }
    val values = fields.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    PlanShim.ofRows(df, GroupLocal(keys.map(attr), order.map(n => SortOrder(attr(n), Ascending)),
      kernel, inputs, replaced.map(_._1), replaced.map(_._2), values, child))
  }

  /** `kernel` over one group outside a plan: each row holds the
    * kernel's inputs in order, as Catalyst values of their declared
    * types. A streaming operator that buffers a group in state runs
    * the batch kernel through this. */
  private[graft] def runGroup(kernel: GroupGenerator, rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val types = kernel.inputs.map(_._2).toArray
    val group = new Group(types.indices.toArray, types, Array.empty)
    rows.foreach(group.add)
    kernel.run(group)
  }
}

/** Column definitions as expressions a kernel evaluates outside a
  * plan, one per row it builds. A kernel that evaluates the relational
  * definitions binds them here rather than restating their semantics. */
object KernelBinding {

  /** `cols` resolved against a relation of `fields` and bound to their
    * ordinals, so they evaluate over rows of those fields. */
  def bind(spark: SparkSession, fields: Seq[(String, DataType)], cols: Seq[Column]): Seq[Expression] = {
    val schema = StructType(fields.map { case (c, t) => StructField(c, t) })
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema).select(cols: _*)
      .queryExecution.analyzed match {
        case Project(list, child) => list.map {
          case Alias(c, _) => BindReferences.bindReference(c, child.output)
          case c => BindReferences.bindReference(c: Expression, child.output)
        }
      }
  }

  /** The last binding of one kernel definition, under what it depends
    * on: the definition's key (its settings or params and input types)
    * and the session conf (ANSI mode, for one, changes what the Columns
    * resolve to). Binding analyzes a `select` per row kind, tens of
    * milliseconds of driver time per query; each kernel definition
    * keeps its own entry, so two kernels of one job do not evict each
    * other. */
  final class Memo[K, V] {
    private var last: Option[((K, Map[String, String]), V)] = None

    /** The binding under `key` and `spark`'s conf: the last one, or a
      * fresh one from `bind`. */
    def apply(spark: SparkSession, key: K)(bind: => V): V = {
      val full = (key, spark.conf.getAll)
      synchronized {
        last.collect { case (k, bound) if k == full => bound }.getOrElse {
          val bound = bind
          last = Some(full -> bound)
          bound
        }
      }
    }
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
    kernel: LocalKernel,
    inputs: Seq[Attribute],
    values: Seq[Attribute],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil
  override def outputPartitioning: Partitioning = kernel match {
    case _: GroupKernel => child.outputPartitioning
    // a partitioning over columns the generator does not output says nothing
    case _: GroupGenerator => child.outputPartitioning match {
      case p: Expression if !p.references.subsetOf(outputSet) => UnknownPartitioning(p.numPartitions)
      case p => p
    }
  }
  override def outputOrdering: Seq[SortOrder] = kernel match {
    case _: GroupKernel => child.outputOrdering
    case _: GroupGenerator => keys.map(SortOrder(_, Ascending))
  }

  override protected def stringArgs: Iterator[Any] = Iterator(kernel.name, keys, order)

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val ordinals = inputs.map(a => in.indexWhere(_.exprId == a.exprId)).toArray
    val inTypes = inputs.map(_.dataType).toArray
    val types = values.map(_.dataType).toArray
    // locals, so the closure does not capture the plan
    val (keyExprs, outExprs, valueAttrs, k) = (keys, output, values, kernel)
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(keyExprs, in)
      k match {
        case rk: GroupKernel => new KeptRows(rows, keyOf,
          UnsafeProjection.create(outExprs, in ++ valueAttrs), rk, new Group(ordinals, inTypes, types))
        case gk: GroupGenerator => new GeneratedRows(rows, keyOf,
          UnsafeProjection.create(outExprs, keyExprs ++ valueAttrs), gk, new Group(ordinals, inTypes, Array.empty))
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupLocalExec = copy(child = c)
}

/** Cuts sorted input into key runs and loads each into `group`; the
  * subclass turns a loaded group into output rows. */
private abstract class GroupIterator(
    input: Iterator[InternalRow],
    keyOf: UnsafeProjection,
    protected val group: Group) extends Iterator[InternalRow] {

  private[this] var pending: InternalRow = if (input.hasNext) input.next().copy() else null
  private[this] var ready: InternalRow = null

  /** Runs the kernel on the group just loaded, whose keys are `key`. */
  protected def start(key: InternalRow): Unit
  /** The group's next output row, or null when it has none left. */
  protected def nextRow(): InternalRow

  override def hasNext: Boolean = {
    while (ready == null) {
      ready = nextRow()
      if (ready == null) {
        if (pending == null) return false
        load()
      }
    }
    true
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val out = ready
    ready = null
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
    start(key)
  }
}

/** The row form: the group's kept rows with their values. */
private final class KeptRows(
    input: Iterator[InternalRow],
    keyOf: UnsafeProjection,
    emit: UnsafeProjection,
    kernel: GroupKernel,
    group: Group) extends GroupIterator(input, keyOf, group) {

  private[this] var pos = 0
  private[this] val joined = new JoinedRow

  override protected def start(key: InternalRow): Unit = {
    kernel.run(group)
    pos = 0
  }

  override protected def nextRow(): InternalRow = {
    while (pos < group.size && !group.keep(pos)) pos += 1
    if (pos == group.size) null
    else {
      pos += 1
      emit(joined(group.row(pos - 1), group.value(pos - 1)))
    }
  }
}

/** The generator form: the group's keys joined to each generated row. */
private final class GeneratedRows(
    input: Iterator[InternalRow],
    keyOf: UnsafeProjection,
    emit: UnsafeProjection,
    kernel: GroupGenerator,
    group: Group) extends GroupIterator(input, keyOf, group) {

  private[this] var rows: Iterator[InternalRow] = Iterator.empty
  private[this] val joined = new JoinedRow

  override protected def start(key: InternalRow): Unit = {
    joined.withLeft(key)
    rows = kernel.run(group)
  }

  override protected def nextRow(): InternalRow =
    if (rows.hasNext) emit(joined.withRight(rows.next())) else null
}
