package graft.graphs

import scala.collection.mutable.ArrayBuffer

import graft.functions.{Group, GroupGenerator, KernelBinding}
import graft.tracking.Cols
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.array
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One frame's rows → its graph tensors: pad → completeness filter →
  * node ordering → node features → adjacency → edge features, in one
  * pass on the group-local node ([[graft.functions.GroupLocal]]). It
  * emits one row per complete frame (the label columns,
  * ball_owning_team_id, x, object_ids, a, e) and nothing for a frame the
  * padding or completeness rules drop. It is the only graph assembly,
  * for every adjacency type.
  *
  * It evaluates the relational definitions, bound by
  * [[GraphKernel.apply]] once per settings, labels and conf, so
  * `withNodeFeatures` and `pairs` compute the same values by
  * construction:
  *  - `order` is [[GraphConverter.sortValue]] and `nodeFeatures` the array of
  *    `Features.nodeFeatureColumns` (the default features), over a node
  *    row of the kernel's inputs and the frame's ball position;
  *  - `adjacency` is [[GraphConverter.adjacency]] and `edgeFeatures` the array of
  *    `Features.edgeFeatureColumns` (the default features), over a pair
  *    row: the values of the two node rows as the pair table's
  *    `i_*`/`j_*` columns, then `__delaunay`; `edgeFeatures` only for
  *    connected pairs.
  *
  * The kernel itself does only what is frame-level, as defined
  * reductions, so the result does not depend on row order:
  *  - G8 padding and the 1/11/11 completeness filter, or with `pad` off
  *    G9's three distinct teams;
  *  - each label column (label, graph_id) must hold at most one non-null
  *    value per frame, which the frame carries; two raise the reference's
  *    G10 "graph integrity violation" (`graph_converter.py:610-623`);
  *  - ball_owning_team_id is the minimum non-null value (UTF8String
  *    binary order), also the synthetic ball row's owning team;
  *  - the ball position is the maximum of `nanvl(coordinate, 1e-10)`
  *    over the ball rows, 0.0 without one (`withNodeFeatures`' window
  *    aggregate);
  *  - the node order ([[NodeOrder]]);
  *  - the Delaunay adjacency triangulates the padded frame's players in
  *    id order ([[Delaunay.frameEdges]]);
  *  - packing the tensors.
  *
  * Not supported: custom feature plugins (`Features.NodeFeature` /
  * `EdgeFeature` lists), which only the relational `withNodeFeatures`
  * and `pairs` take. */
private[graphs] final case class GraphKernel(
    settings: GraphSettings,
    labels: Seq[(String, DataType)],
    order: Expression,
    nodeFeatures: Expression,
    adjacency: Expression,
    edgeFeatures: Expression) extends GroupGenerator {
  import Cols._
  import GraphKernel._

  override def inputs: Seq[(String, DataType)] = nodeFields.take(InputWidth) ++ labels

  private val matrix = ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)
  override def output: Seq[StructField] =
    labels.map { case (name, dt) => StructField(name, dt) } ++ Seq(
      StructField(BallOwningTeamId, StringType),
      StructField("x", matrix),
      StructField("object_ids", ArrayType(StringType, containsNull = true)),
      StructField("a", ArrayType(ArrayType(IntegerType, containsNull = true), containsNull = true)),
      StructField("e", matrix))

  // one projection of each kind per task, built on first use
  @transient private lazy val nodeProj = UnsafeProjection.create(Seq(order, nodeFeatures))
  @transient private lazy val aProj = UnsafeProjection.create(Seq(adjacency))
  @transient private lazy val eProj = UnsafeProjection.create(Seq(edgeFeatures))

  /** The frame's ball-owning team: the minimum non-null value. */
  private def owningOf(g: Group): UTF8String = {
    var min: UTF8String = null
    var i = 0
    while (i < g.size) {
      val o = g.string(i, OwningIn)
      if (o != null && (min == null || o.compareTo(min) < 0)) min = o
      i += 1
    }
    min
  }

  /** SQL equality of two non-null values (NaN equals NaN, as in
    * `countDistinct`). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Double, y: java.lang.Double) => x.doubleValue == y.doubleValue || (x.isNaN && y.isNaN)
    case (x: java.lang.Float, y: java.lang.Float) => x.floatValue == y.floatValue || (x.isNaN && y.isNaN)
    case _ => a == b
  }

  /** Each label column's one non-null value in the frame, or null. */
  private def labelsOf(g: Group): Array[Any] = Array.tabulate[Any](labels.length) { l =>
    var v: Any = null
    var i = 0
    while (i < g.size) {
      val lv = g.get(i, InputWidth + l)
      if (lv != null) {
        if (v == null) v = lv
        else require(same(v, lv), GraphConverter.integrityViolation(labels.map(_._1)))
      }
      i += 1
    }
    v
  }

  private def readNode(g: Group, i: Int): Node = {
    val v = new Array[Any](nodeFields.length)
    var k = 0
    while (k < InputWidth) { v(k) = g.get(i, k); k += 1 }
    new Node(v)
  }

  /** A G8 pad row: the reference's dtype defaults ("" , 0, false). */
  private def padRow(team: UTF8String, own: UTF8String): Node = new Node(Array[Any](
    EmptyS, team, if (team != null && team.equals(BallS)) BallS else EmptyS,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, own, false, null, null, null))

  override def run(g: Group): Iterator[InternalRow] = {
    val owning = owningOf(g)
    val passed = labelsOf(g) :+ owning
    val nodes = new ArrayBuffer[Node](g.size + 8)
    var b = 0
    while (b < g.size) { nodes += readNode(g, b); b += 1 }

    if (settings.pad) {
      // G8 padding: per-(team, owning) deficits against the 11/11/1
      // targets, dtype-default pad rows, synthetic ball row for
      // ball-less frames, then the 1/11/11 completeness filter.
      val groups = new ArrayBuffer[(UTF8String, UTF8String, Int)]()
      var hasBall = false
      var i = 0
      while (i < nodes.length) {
        val nd = nodes(i)
        if (nd.isBall) hasBall = true
        var found = false
        var g = 0
        while (g < groups.length && !found) {
          val (t, o, c) = groups(g)
          val tEqG = (t == null && nd.team == null) || (t != null && nd.team != null && t.equals(nd.team))
          val oEqG = (o == null && nd.owning == null) || (o != null && nd.owning != null && o.equals(nd.owning))
          if (tEqG && oEqG) { groups(g) = (t, o, c + 1); found = true }
          g += 1
        }
        if (!found) groups += ((nd.team, nd.owning, 1))
        i += 1
      }
      var g = 0
      while (g < groups.length) {
        val (t, o, c) = groups(g)
        val target = if (t != null && t.equals(BallS)) 1 else 11
        var k = c
        while (k < target) { nodes += padRow(t, o); k += 1 }
        g += 1
      }
      if (!hasBall) nodes += padRow(BallS, owning)

      // completeness: exactly 1 ball, 11 owning, 11 defending
      var nb = 0; var no = 0; var nd0 = 0
      i = 0
      while (i < nodes.length) {
        val nd = nodes(i)
        if (nd.isBall) nb += 1
        if (nd.team != null && nd.owning != null && nd.team.equals(nd.owning)) no += 1
        if (!nd.isBall && nd.team != null && nd.owning != null && !nd.team.equals(nd.owning)) nd0 += 1
        i += 1
      }
      if (nb != 1 || no != 11 || nd0 != 11) return Iterator.empty
    } else {
      // removeIncompleteFrames: exactly 3 distinct non-null team ids
      val teams = new ArrayBuffer[UTF8String](4)
      var i = 0
      while (i < nodes.length) {
        val t = nodes(i).team
        if (t != null && !teams.exists(_.equals(t))) teams += t
        i += 1
      }
      if (teams.length != 3) return Iterator.empty
    }

    // the frame's ball position completes each node row
    var k = 0
    while (k < 3) {
      var m: java.lang.Double = null
      nodes.foreach { nd =>
        val c = nd.v(XIn + k)
        if (nd.isBall && c != null) {
          val d = c.asInstanceOf[Double]
          val vv = if (d.isNaN) 1e-10 else d
          if (m == null || java.lang.Double.compare(vv, m) > 0) m = vv
        }
      }
      val ball = if (m == null) 0.0 else m.doubleValue
      nodes.foreach(_.v(InputWidth + k) = ball)
      k += 1
    }

    nodes.foreach { nd =>
      val out = nodeProj(nd.row)
      nd.rank = if (out.isNullAt(0)) null else Integer.valueOf(out.getInt(0))
      nd.features = out.getArray(1).copy()
    }
    val arr = nodes.toArray
    // a stable sort: ties keep the padding's row order
    java.util.Arrays.sort(arr, (p: Node, q: Node) => NodeOrder.compare(p.rank, p.id, q.rank, q.id))
    val n = arr.length

    // Delaunay: the id pairs of the triangulated players, which the pair
    // table left-joins as `__delaunay`
    val delaunay: Set[(UTF8String, UTF8String)] =
      if (settings.adjacencyMatrixType != GraphSettings.Delaunay) null
      else Delaunay.frameEdges(arr.toSeq.map(nd => (nd.id, nd.team,
        nd.v(XIn).asInstanceOf[java.lang.Double], nd.v(XIn + 1).asInstanceOf[java.lang.Double])))
    // one reused pair row, filled with the two node rows' values: a
    // JoinedRow's accessors are shared with every Spark operator, so
    // their calls do not inline (measured 2x slower per pair)
    val w = nodeFields.length
    val pv = new Array[Any](2 * w + 1)
    val pair = new GenericInternalRow(pv)
    val aOut = new Array[Any](n)
    val eOut = new ArrayBuffer[Any](n * 4)
    var i = 0
    while (i < n) {
      val ni = arr(i)
      System.arraycopy(ni.v, 0, pv, 0, w)
      val aRow = new Array[Any](n)
      var j = 0
      while (j < n) {
        val nj = arr(j)
        System.arraycopy(nj.v, 0, pv, w, w)
        if (delaunay != null) pv(2 * w) =
          if (ni.id != null && nj.id != null && delaunay.contains((ni.id, nj.id))) true else null
        val av = aProj(pair)
        if (!av.isNullAt(0)) {
          val c = av.getInt(0)
          aRow(j) = Integer.valueOf(c)
          if (c == 1) eOut += eProj(pair).getArray(0).copy()
        }
        j += 1
      }
      aOut(i) = new GenericArrayData(aRow)
      i += 1
    }

    Iterator.single(new GenericInternalRow(passed ++ Array[Any](
      new GenericArrayData(arr.map(nd => nd.features: Any)), new GenericArrayData(arr.map(nd => nd.id: Any)),
      new GenericArrayData(aOut), new GenericArrayData(eOut.toArray))))
  }
}

private[graphs] object GraphKernel {
  import Cols._

  /** A node row: the kernel's inputs before the labels, then the frame's
    * ball position. */
  private val nodeFields: Seq[(String, DataType)] =
    Seq(ObjectId -> StringType, TeamId -> StringType, PositionName -> StringType) ++
      Seq(X, Y, Z, Vx, Vy, Vz, Speed).map(_ -> DoubleType) ++
      Seq(BallOwningTeamId -> StringType, IsBallCarrier -> BooleanType) ++
      Seq("__ball_x", "__ball_y", "__ball_z").map(_ -> DoubleType)
  private val XIn = 3
  private val OwningIn = 10
  private val InputWidth = 12

  private val BallS = UTF8String.fromString(Ball)
  private val EmptyS = UTF8String.fromString("")

  /** One frame row (real or pad) and what the kernel computes for it. */
  private final class Node(val v: Array[Any]) {
    val row = new GenericInternalRow(v)
    def id: UTF8String = v(0).asInstanceOf[UTF8String]
    def team: UTF8String = v(1).asInstanceOf[UTF8String]
    def owning: UTF8String = v(OwningIn).asInstanceOf[UTF8String]
    def isBall: Boolean = team != null && team.equals(BallS)
    var rank: Integer = null
    var features: ArrayData = null
  }

  private val memo = new KernelBinding.Memo[(GraphSettings, Seq[(String, DataType)]), GraphKernel]

  /** The kernel for `settings`, its definitions bound in `spark`, or
    * the last binding under the same settings, labels and conf. */
  def apply(spark: SparkSession, settings: GraphSettings, labels: Seq[(String, DataType)]): GraphKernel =
    // a fresh instance: its projections are per instance
    memo(spark, (settings, labels))(bindKernel(spark, settings, labels)).copy()

  private def bindKernel(
      spark: SparkSession,
      settings: GraphSettings,
      labels: Seq[(String, DataType)]): GraphKernel = {
    val Seq(order, x) = KernelBinding.bind(spark, nodeFields, Seq(GraphConverter.sortValue,
      array(Features.nodeFeatureColumns(settings, Features.defaultNodeFeatures(settings)): _*)))
    val pairFields = Seq("i_", "j_").flatMap(side => nodeFields.map { case (c, t) => (side + c, t) }) :+
      ("__delaunay" -> BooleanType)
    val Seq(a, e) = KernelBinding.bind(spark, pairFields, Seq(GraphConverter.adjacency(settings),
      array(Features.edgeFeatureColumns(settings, Features.defaultEdgeFeatures(settings)): _*)))
    GraphKernel(settings, labels, order, x, a, e)
  }
}

/** The reference node order (`graph_converter.py:214-222`), as
  * [[GraphConverter.withNodeIndex]] sorts: [[GraphConverter.sortValue]]
  * ascending, nulls first, then the id ascending in UTF8String (UTF-8
  * byte) order, nulls first. `value` is the order value bound over
  * (team_id, ball_owning_team_id), for the streaming graphs; the frame
  * kernel binds the same definition over its node row. */
private[graft] final case class NodeOrder(value: Expression) {
  /** The order value of a node of `team` in a frame owned by `owning`. */
  def rank(team: String, owning: String): Integer =
    value.eval(new GenericInternalRow(Array[Any](
      UTF8String.fromString(team), UTF8String.fromString(owning)))).asInstanceOf[Integer]
}

private[graft] object NodeOrder {
  def apply(spark: SparkSession): NodeOrder = NodeOrder(KernelBinding.bind(spark,
    Seq(Cols.TeamId -> StringType, Cols.BallOwningTeamId -> StringType), Seq(GraphConverter.sortValue)).head)

  /** Compares two nodes by their order value, then id. */
  def compare(ra: Integer, ia: UTF8String, rb: Integer, ib: UTF8String): Int = {
    val byRank = nullsFirst(ra, rb)(Integer.compare(ra, rb))
    if (byRank != 0) byRank else nullsFirst(ia, ib)(ia.compareTo(ib))
  }

  private def nullsFirst(a: AnyRef, b: AnyRef)(both: => Int): Int =
    if (a == null) (if (b == null) 0 else -1) else if (b == null) 1 else both
}
