package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-graph per-frame aggregation: pad → completeness filter → node
  * ordering → node features → adjacency → edge features, fused into ONE
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]]
  * pass over the raw frame rows.
  *
  * Motivation (optimization round 17, guide §2.4/§1.2): the staged
  * [[graft.graphs.GraphConverter.graphFrames]] pipeline materializes two
  * MEMORY_AND_DISK caches (input + prepared) and executes padFrames'
  * union + two full window passes, a frame-key pair self-join, two
  * tensor aggregates and a final frame-key join — and because the
  * caches sit under `AdaptiveSparkPlan`, every cache consumer loses the
  * producer's partitioning and re-shuffles (3 extra exchanges at sf0.1,
  * measured in plans/r17/q_graph_frames_before.txt). All of that work
  * is per-frame-local: one aggregate keyed on the frame does the whole
  * conversion in compiled Scala with zero caches, zero self-joins and —
  * when the input is already frame-partitioned (it always is: the
  * possession stage runs right upstream) — zero additional exchanges.
  *
  * Faithfulness: `eval` transcribes the padFrames/withNodeIndex/
  * Features/pairs column expressions operation-for-operation, including
  * Catalyst's exact null/NaN semantics (`Greatest`/`Least` skip nulls
  * and order NaN greatest, `atan2` adds +0.0 to both args, three-valued
  * boolean logic in the adjacency predicate, `nanvl` null passthrough,
  * UTF8String binary ordering in the node sort). Output is bit-identical
  * to the staged path — pinned by the `q_graph_frames` /
  * `q_graph_frames_edges` oracle hashes and by GraphTensorAggSpec's
  * staged-vs-fused full-row equality (both adjacency connect modes,
  * pad on/off, null/NaN corners).
  *
  * Not supported (callers fall back to the staged path): the Delaunay
  * adjacency type (needs the per-frame geometric edge table) and custom
  * feature plugins (arbitrary `Column`s cannot be transcribed — note
  * `graphFrames` itself always uses the default registry).
  */
private[graft] case class GraphTensorAgg(
    id: Expression,
    teamId: Expression,
    positionName: Expression,
    x: Expression,
    y: Expression,
    z: Expression,
    vx: Expression,
    vy: Expression,
    vz: Expression,
    v: Expression,
    owning: Expression,
    carrier: Expression,
    adjacencyType: String,
    connectType: String,
    pad: Boolean,
    defendingValue: Double,
    xMin: Double,
    xMax: Double,
    yMin: Double,
    yMax: Double,
    goalX: Double,
    goalY: Double,
    maxDistance: Double,
    maxPlayerSpeed: Double,
    maxBallSpeed: Double,
    goalkeeperId: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends OrderedBufferAgg {

  import graft.graphs.GraphSettings._
  require(adjacencyType != Delaunay, "delaunay needs the staged geometric path")

  override protected def entryFields: Seq[Expression] =
    Seq(id, teamId, positionName, x, y, z, vx, vy, vz, v, owning, carrier)

  override def dataType: DataType = StructType(Seq(
    StructField("x",
      ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)),
    StructField("object_ids", ArrayType(StringType, containsNull = true)),
    StructField("a",
      ArrayType(ArrayType(IntegerType, containsNull = true), containsNull = true)),
    StructField("e",
      ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true))))

  // ---------------------------------------------------------------- eval

  private val BallS = UTF8String.fromString(graft.tracking.Cols.Ball)
  private val EmptyS = UTF8String.fromString("")
  private val GkS = UTF8String.fromString(goalkeeperId)

  /** One frame row (real or pad). Nullable scalars stay boxed; the
    * nnPos'd coordinates (null/NaN → 1e-10, features/utils semantics)
    * are precomputed primitives. */
  private final class Nd(
      val id: UTF8String, val team: UTF8String, val pos: UTF8String,
      val x: java.lang.Double, val y: java.lang.Double, val z: java.lang.Double,
      val vx: java.lang.Double, val vy: java.lang.Double, val vz: java.lang.Double,
      val v: java.lang.Double, val owning: UTF8String, val carrier: java.lang.Boolean) {
    val pxn: Double = nnPos(x); val pyn: Double = nnPos(y); val pzn: Double = nnPos(z)
    val vxn: Double = nnPos(vx); val vyn: Double = nnPos(vy); val vzn: Double = nnPos(vz)
    def isBall: Boolean = team != null && team.equals(BallS)
  }

  private def nnPos(c: java.lang.Double): Double =
    if (c == null || c.isNaN) 1e-10 else c.doubleValue()
  private def nn(d: Double): Double = if (java.lang.Double.isNaN(d)) 0.0 else d
  /** Catalyst Greatest/Least on two non-null doubles: Double.compare
    * ordering (NaN greatest, -0.0 < 0.0). */
  private def cGreatest(a: Double, b: Double): Double =
    if (java.lang.Double.compare(b, a) > 0) b else a
  private def cLeast(a: Double, b: Double): Double =
    if (java.lang.Double.compare(b, a) < 0) b else a
  /** clip01 over a NULLABLE operand: Greatest SKIPS nulls, so
    * clip01(null) = least(greatest(null, 0.0), 1.0) = 0.0. */
  private def clip01(c: java.lang.Double): Double =
    if (c == null) 0.0 else cLeast(cGreatest(c.doubleValue(), 0.0), 1.0)
  /** Catalyst Atan2 evaluates math.atan2(left + 0.0, right + 0.0)
    * (normalizes -0.0). */
  private def atan2c(yv: Double, xv: Double): Double = math.atan2(yv + 0.0, xv + 0.0)
  private def sincosNorm(d: Double): Double = (d + 1.0) / 2.0

  // three-valued boolean algebra (java.lang.Boolean, null = unknown)
  private def tEq(a: UTF8String, b: UTF8String): java.lang.Boolean =
    if (a == null || b == null) null else java.lang.Boolean.valueOf(a.equals(b))
  private def tNot(a: java.lang.Boolean): java.lang.Boolean =
    if (a == null) null else java.lang.Boolean.valueOf(!a.booleanValue())
  private def tAnd(a: java.lang.Boolean, b: java.lang.Boolean): java.lang.Boolean =
    if (a != null && !a.booleanValue()) java.lang.Boolean.FALSE
    else if (b != null && !b.booleanValue()) java.lang.Boolean.FALSE
    else if (a == null || b == null) null
    else java.lang.Boolean.TRUE
  private def tOr(a: java.lang.Boolean, b: java.lang.Boolean): java.lang.Boolean =
    if (a != null && a.booleanValue()) java.lang.Boolean.TRUE
    else if (b != null && b.booleanValue()) java.lang.Boolean.TRUE
    else if (a == null || b == null) null
    else java.lang.Boolean.FALSE

  private def readNd(r: InternalRow): Nd = new Nd(
    if (r.isNullAt(0)) null else r.getUTF8String(0),
    if (r.isNullAt(1)) null else r.getUTF8String(1),
    if (r.isNullAt(2)) null else r.getUTF8String(2),
    if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)),
    if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)),
    if (r.isNullAt(5)) null else java.lang.Double.valueOf(r.getDouble(5)),
    if (r.isNullAt(6)) null else java.lang.Double.valueOf(r.getDouble(6)),
    if (r.isNullAt(7)) null else java.lang.Double.valueOf(r.getDouble(7)),
    if (r.isNullAt(8)) null else java.lang.Double.valueOf(r.getDouble(8)),
    if (r.isNullAt(9)) null else java.lang.Double.valueOf(r.getDouble(9)),
    if (r.isNullAt(10)) null else r.getUTF8String(10),
    if (r.isNullAt(11)) null else java.lang.Boolean.valueOf(r.getBoolean(11)))

  private def padRow(team: UTF8String, own: UTF8String): Nd = new Nd(
    EmptyS, team,
    if (team != null && team.equals(BallS)) BallS else EmptyS,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, own, java.lang.Boolean.FALSE)

  override def eval(buffer: ArrayBuffer[InternalRow]): Any = {
    if (buffer.isEmpty) return null
    var nodes = new ArrayBuffer[Nd](buffer.length + 8)
    var b = 0
    while (b < buffer.length) { nodes += readNd(buffer(b)); b += 1 }

    if (pad) {
      // padFrames: per-(team, owning) deficits against the 11/11/1
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
      // synthetic-ball owning: a DEFINED reduction (minimum non-null
      // owning, UTF8String binary order) instead of `nodes(0).owning` —
      // buffer order after a partial-aggregate merge is
      // shuffle-fetch-order-dependent, so "first" would be
      // nondeterministic on a frame with mixed owning values. Identical
      // on every per-frame-constant input (the possession invariant);
      // pinned for the mixed case in GraphTensorAggSpec.
      var firstOwning: UTF8String = null
      i = 0
      while (i < nodes.length) {
        val o = nodes(i).owning
        if (o != null && (firstOwning == null || o.compareTo(firstOwning) < 0))
          firstOwning = o
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
      if (!hasBall) nodes += padRow(BallS, firstOwning)

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
      if (nb != 1 || no != 11 || nd0 != 11) return null
    } else {
      // removeIncompleteFrames: exactly 3 distinct non-null team ids
      val teams = new ArrayBuffer[UTF8String](4)
      var i = 0
      while (i < nodes.length) {
        val t = nodes(i).team
        if (t != null && !teams.exists(_.equals(t))) teams += t
        i += 1
      }
      if (teams.length != 3) return null
    }

    // node order (withNodeIndex): (ball*2 - owningPlayer) ASC NULLS
    // FIRST, id ASC NULLS FIRST; ties are bit-identical rows, so any
    // tie order reproduces the window's row_number assignment.
    val arr = nodes.toArray
    java.util.Arrays.sort(arr, (p: Nd, q: Nd) => {
      val rp = sortRank(p); val rq = sortRank(q)
      val c =
        if (rp == null && rq == null) 0
        else if (rp == null) -1
        else if (rq == null) 1
        else Integer.compare(rp.intValue(), rq.intValue())
      if (c != 0) c
      else if (p.id == null && q.id == null) 0
      else if (p.id == null) -1
      else if (q.id == null) 1
      else p.id.compareTo(q.id)
    })
    val n = arr.length

    // per-frame ball position: max over ball rows of nanvl(coord,
    // 1e-10) (nulls skipped), 0.0 when empty — withNodeFeatures exactly
    var bx = java.lang.Double.MIN_VALUE; var bxSet = false
    var by = java.lang.Double.MIN_VALUE; var bySet = false
    var bz = java.lang.Double.MIN_VALUE; var bzSet = false
    var i = 0
    while (i < n) {
      val nd = arr(i)
      if (nd.isBall) {
        if (nd.x != null) {
          val vv = if (nd.x.isNaN) 1e-10 else nd.x.doubleValue()
          if (!bxSet || java.lang.Double.compare(vv, bx) > 0) { bx = vv; bxSet = true }
        }
        if (nd.y != null) {
          val vv = if (nd.y.isNaN) 1e-10 else nd.y.doubleValue()
          if (!bySet || java.lang.Double.compare(vv, by) > 0) { by = vv; bySet = true }
        }
        if (nd.z != null) {
          val vv = if (nd.z.isNaN) 1e-10 else nd.z.doubleValue()
          if (!bzSet || java.lang.Double.compare(vv, bz) > 0) { bz = vv; bzSet = true }
        }
      }
      i += 1
    }
    val ballX = if (bxSet) bx else 0.0
    val ballY = if (bySet) by else 0.0
    val ballZ = if (bzSet) bz else 0.0

    // ------------------------------------------------ node features (15)
    val xOut = new Array[Any](n)
    val idsOut = new Array[Any](n)
    i = 0
    while (i < n) {
      val nd = arr(i)
      val f = new Array[Any](15)
      val isBall = nd.isBall
      // x_normed / y_normed
      f(0) = java.lang.Double.valueOf(nn((nd.pxn - xMin) / (xMax - xMin)))
      f(1) = java.lang.Double.valueOf(nn((nd.pyn - yMin) / (yMax - yMin)))
      // speeds_normed: clip01 swallows a null speed to 0.0
      val vOver: java.lang.Double =
        if (nd.v == null) null
        else java.lang.Double.valueOf(
          nd.v.doubleValue() / (if (isBall) maxBallSpeed else maxPlayerSpeed))
      f(2) = java.lang.Double.valueOf(nn(clip01(vOver)))
      // velocity_components_2d_normed
      val mag = math.sqrt(nd.vxn * nd.vxn + nd.vyn * nd.vyn + nd.vzn * nd.vzn)
      val m = if (mag == 0.0) 1.0 else mag
      val va = ((atan2c(nd.vyn / m, nd.vxn / m) - (-math.Pi)) * 1.0) / (2 * math.Pi)
      f(3) = java.lang.Double.valueOf(nn(sincosNorm(math.sin(va))))
      f(4) = java.lang.Double.valueOf(nn(sincosNorm(math.cos(va))))
      // distance_to_goal_normed / distance_to_ball_normed
      f(5) = java.lang.Double.valueOf(nn(math.sqrt(
        (nd.pxn - goalX) * (nd.pxn - goalX) + (nd.pyn - goalY) * (nd.pyn - goalY)
          + nd.pzn * nd.pzn) / maxDistance))
      f(6) = java.lang.Double.valueOf(nn(math.sqrt(
        (nd.pxn - ballX) * (nd.pxn - ballX) + (nd.pyn - ballY) * (nd.pyn - ballY)
          + (nd.pzn - ballZ) * (nd.pzn - ballZ)) / maxDistance))
      // is_possession_team / is_gk / is_ball
      f(7) = java.lang.Double.valueOf(nn(
        if (nd.team != null && nd.owning != null && nd.team.equals(nd.owning)) 1.0
        else defendingValue))
      f(8) = java.lang.Double.valueOf(
        if (nd.pos != null && nd.pos.equals(GkS)) 1.0 else 0.1)
      f(9) = java.lang.Double.valueOf(if (isBall) 1.0 else 0.1)
      // angle_to_goal / angle_to_ball components
      val ag = atan2c(goalY - nd.pyn, goalX - nd.pxn)
      f(10) = java.lang.Double.valueOf(nn(sincosNorm(math.sin(ag))))
      f(11) = java.lang.Double.valueOf(nn(sincosNorm(math.cos(ag))))
      val ab = atan2c(ballY - nd.pyn, ballX - nd.pxn)
      f(12) = java.lang.Double.valueOf(nn(sincosNorm(math.sin(ab))))
      f(13) = java.lang.Double.valueOf(nn(sincosNorm(math.cos(ab))))
      // is_ball_carrier
      f(14) = java.lang.Double.valueOf(
        if (nd.carrier != null && nd.carrier.booleanValue()) 1.0 else 0.1)
      xOut(i) = new GenericArrayData(f)
      idsOut(i) = nd.id
      i += 1
    }

    // ------------------------------------- adjacency + edge features
    val aOut = new Array[Any](n)
    val eOut = new ArrayBuffer[Any](n * 4)
    i = 0
    while (i < n) {
      val ni = arr(i)
      val iBall = tEq(ni.team, BallS)
      val aRow = new Array[Any](n)
      var j = 0
      while (j < n) {
        val nj = arr(j)
        val jBall = tEq(nj.team, BallS)
        // `owning` in pairs() is the i side's column for both operands
        val base: java.lang.Boolean = adjacencyType match {
          case Dense => java.lang.Boolean.TRUE
          case DenseAp => tAnd(tEq(ni.team, ni.owning), tEq(nj.team, ni.owning))
          case DenseDp => tAnd(
            tAnd(tNot(iBall), tNot(tEq(ni.team, ni.owning))),
            tAnd(tNot(jBall), tNot(tEq(nj.team, ni.owning))))
          case SplitByTeam => tEq(ni.team, nj.team)
          case other => throw new NotImplementedError(
            s"$other matrix not implemented for Soccer...")
        }
        val conn: java.lang.Boolean = connectType match {
          case ConnectBall => tOr(tOr(base, iBall), jBall)
          case ConnectBallCarrier => tOr(base,
            tOr(tAnd(ni.carrier, jBall), tAnd(iBall, nj.carrier)))
          case ConnectNone => base
        }
        aRow(j) =
          if (conn == null) null
          else Integer.valueOf(if (conn.booleanValue()) 1 else 0)
        if (conn != null && conn.booleanValue()) eOut += edgeFeatures(ni, nj)
        j += 1
      }
      aOut(i) = new GenericArrayData(aRow)
      i += 1
    }

    new GenericInternalRow(Array[Any](
      new GenericArrayData(xOut), new GenericArrayData(idsOut),
      new GenericArrayData(aOut), new GenericArrayData(eOut.toArray)))
  }

  /** sortValue of withNodeIndex: isBall.cast(int)*2 - owningPlayer.cast
    * (int); three-valued — a null owning on a non-ball row nulls the
    * whole key (NULLS FIRST). */
  private def sortRank(nd: Nd): Integer = {
    val isBall = tEq(nd.team, BallS)
    val owningPlayer = tAnd(tEq(nd.owning, nd.team), tNot(isBall))
    if (isBall == null || owningPlayer == null) null
    else Integer.valueOf(
      (if (isBall.booleanValue()) 2 else 0) - (if (owningPlayer.booleanValue()) 1 else 0))
  }

  /** The 6 default edge features for pair (i = matrix row, j = column),
    * Features.defaultEdgeFeatures transcribed. */
  private def edgeFeatures(ni: Nd, nj: Nd): GenericArrayData = {
    val e = new Array[Any](6)
    // distances_between_players_normed
    e(0) = java.lang.Double.valueOf(nn(math.sqrt(
      (ni.pxn - nj.pxn) * (ni.pxn - nj.pxn) + (ni.pyn - nj.pyn) * (ni.pyn - nj.pyn)
        + (ni.pzn - nj.pzn) * (ni.pzn - nj.pzn)) / maxDistance))
    // speed_difference_normed: null v on either side → null feature
    // (clip01(null)=0.0 but 0.0 * signum(null) = null, and nn(null)
    // stays null)
    if (ni.v == null || nj.v == null) e(1) = null
    else {
      val rawDiff = nj.v.doubleValue() - ni.v.doubleValue()
      val diff = if (java.lang.Double.isNaN(rawDiff)) 0.0 else rawDiff
      val maxSpeed =
        if (ni.team != null && ni.team.equals(BallS)) maxBallSpeed else maxPlayerSpeed
      val clipped = cLeast(cGreatest(diff / maxSpeed, 0.0), 1.0)
      e(1) = java.lang.Double.valueOf(nn(clipped * math.signum(diff)))
    }
    // angle_between_players_normed (cos, sin)
    val pa0 = atan2c(ni.pyn - nj.pyn, ni.pxn - nj.pxn)
    val pa = if (java.lang.Double.isNaN(pa0)) 0.0 else pa0
    e(2) = java.lang.Double.valueOf(nn(sincosNorm(nn(math.cos(pa)))))
    e(3) = java.lang.Double.valueOf(nn(sincosNorm(nn(math.sin(pa)))))
    // velocity_difference_normed (cos, sin)
    val v1x = ni.pxn - nj.pxn; val v1y = ni.pyn - nj.pyn
    val v2x = nj.vxn - ni.vxn; val v2y = nj.vyn - ni.vyn
    val n1 = math.sqrt(v1x * v1x + v1y * v1y)
    val n2 = math.sqrt(v2x * v2x + v2y * v2y)
    val u1x = if (n1 == 0.0) 0.0 else v1x / n1
    val u1y = if (n1 == 0.0) 0.0 else v1y / n1
    val u2x = if (n2 == 0.0) 0.0 else v2x / n2
    val u2y = if (n2 == 0.0) 0.0 else v2y / n2
    val va = math.acos(cLeast(cGreatest(u1x * u2x + u1y * u2y, -1.0), 1.0))
    e(4) = java.lang.Double.valueOf(nn(sincosNorm(nn(math.cos(va)))))
    e(5) = java.lang.Double.valueOf(nn(sincosNorm(nn(math.sin(va)))))
    new GenericArrayData(e)
  }

  override def prettyName: String = "graph_tensor"
  override def withNewMutableAggBufferOffset(newOffset: Int): GraphTensorAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraphTensorAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), teamId = newChildren(1), positionName = newChildren(2),
      x = newChildren(3), y = newChildren(4), z = newChildren(5),
      vx = newChildren(6), vy = newChildren(7), vz = newChildren(8),
      v = newChildren(9), owning = newChildren(10), carrier = newChildren(11))
}

object GraphTensorAgg {
  import graft.graphs.GraphSettings

  /** struct(x, object_ids, a, e) for one frame group; null for frames
    * the padding/completeness rules drop. Children are cast to the
    * types the staged path's feature expressions would see. */
  def graphTensor(settings: GraphSettings, id: Column, teamId: Column,
      positionName: Column, x: Column, y: Column, z: Column,
      vx: Column, vy: Column, vz: Column, v: Column,
      owning: Column, carrier: Column): Column = {
    val (gx, gy, _) = settings.goalMouth
    ColumnShim.column(GraphTensorAgg(
      ColumnShim.expression(id.cast("string")),
      ColumnShim.expression(teamId.cast("string")),
      ColumnShim.expression(positionName.cast("string")),
      ColumnShim.expression(x.cast("double")),
      ColumnShim.expression(y.cast("double")),
      ColumnShim.expression(z.cast("double")),
      ColumnShim.expression(vx.cast("double")),
      ColumnShim.expression(vy.cast("double")),
      ColumnShim.expression(vz.cast("double")),
      ColumnShim.expression(v.cast("double")),
      ColumnShim.expression(owning.cast("string")),
      ColumnShim.expression(carrier.cast("boolean")),
      settings.adjacencyMatrixType,
      settings.adjacencyMatrixConnectType,
      settings.pad,
      settings.defendingTeamNodeValue,
      settings.pitch.xMin, settings.pitch.xMax,
      settings.pitch.yMin, settings.pitch.yMax,
      gx, gy,
      settings.maxDistance,
      settings.maxPlayerSpeed, settings.maxBallSpeed,
      settings.goalkeeperId).toAggregateExpression())
  }
}
