package graft.graphs

import scala.collection.mutable.ArrayBuffer

import graft.functions.{Group, GroupGenerator}
import graft.tracking.Cols
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One frame's rows → its graph tensors: pad → completeness filter →
  * node ordering → node features → adjacency → edge features, in one
  * pass of compiled Scala on the group-local node
  * ([[graft.functions.GroupLocal]]). It emits one row per complete frame
  * (the label columns, ball_owning_team_id, x, object_ids, a, e) and
  * nothing for a frame the padding or completeness rules drop. It is
  * the only graph assembly, for every adjacency type.
  *
  * Faithfulness: the kernel transcribes the column expressions of the
  * relational form (`withNodeIndex`, `Features`, `pairs`, and the padding
  * of the test-side `GraphAssemblyReference`) operation-for-operation,
  * including Catalyst's exact null/NaN semantics (`Greatest`/`Least` skip
  * nulls and order NaN greatest, `atan2` adds +0.0 to both args,
  * three-valued boolean logic in the adjacency predicate, `nanvl` null
  * passthrough, UTF8String binary ordering in the node sort). The
  * `q_graph_frames` / `q_graph_frames_edges` oracle hashes pin it, and
  * the graph specs compare it with `GraphAssemblyReference` (every
  * adjacency type, both connect modes, pad on/off, null/NaN corners).
  *
  * Per-frame columns are defined reductions, so the result does not
  * depend on row order:
  *  - each label column (label, graph_id) must hold at most one non-null
  *    value per frame, which the frame carries; two raise the reference's
  *    G10 "graph integrity violation" (`graph_converter.py:610-623`);
  *  - ball_owning_team_id is the minimum non-null value (UTF8String
  *    binary order), also the synthetic ball row's owning team;
  *  - the Delaunay adjacency triangulates the padded frame's players in
  *    id order ([[Delaunay.frameEdges]]).
  *
  * Not supported: custom feature plugins (`Features.NodeFeature` /
  * `EdgeFeature` lists), which only the relational `withNodeFeatures`
  * and `pairs` take. */
private[graphs] final case class GraphKernel(
    settings: GraphSettings,
    labels: Seq[(String, DataType)]) extends GroupGenerator {
  import Cols._
  import GraphSettings._

  override def inputs: Seq[(String, DataType)] =
    Seq(ObjectId -> StringType, TeamId -> StringType, PositionName -> StringType) ++
      Seq(X, Y, Z, Vx, Vy, Vz, Speed).map(_ -> DoubleType) ++
      Seq(BallOwningTeamId -> StringType, IsBallCarrier -> BooleanType) ++ labels

  private val matrix = ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)
  override def output: Seq[StructField] =
    labels.map { case (name, dt) => StructField(name, dt) } ++ Seq(
      StructField(BallOwningTeamId, StringType),
      StructField("x", matrix),
      StructField("object_ids", ArrayType(StringType, containsNull = true)),
      StructField("a", ArrayType(ArrayType(IntegerType, containsNull = true), containsNull = true)),
      StructField("e", matrix))

  private val adjacencyType = settings.adjacencyMatrixType
  private val connectType = settings.adjacencyMatrixConnectType
  private val pad = settings.pad
  private val defendingValue = settings.defendingTeamNodeValue
  private val (xMin, xMax, yMin, yMax) =
    (settings.pitch.xMin, settings.pitch.xMax, settings.pitch.yMin, settings.pitch.yMax)
  private val (goalX, goalY, _) = settings.goalMouth
  private val maxDistance = settings.maxDistance
  private val maxPlayerSpeed = settings.maxPlayerSpeed
  private val maxBallSpeed = settings.maxBallSpeed
  private val goalkeeperId = settings.goalkeeperId

  private val OwningIn = 10
  private val LabelsIn = 12

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
      val x = g.get(i, LabelsIn + l)
      if (x != null) {
        if (v == null) v = x
        else require(same(v, x), GraphConverter.integrityViolation(labels.map(_._1)))
      }
      i += 1
    }
    v
  }

  private val BallS = UTF8String.fromString(Ball)
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
  private def tEqB(a: java.lang.Boolean, b: java.lang.Boolean): java.lang.Boolean =
    if (a == null || b == null) null else java.lang.Boolean.valueOf(a.booleanValue() == b.booleanValue())
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

  private def readNd(g: Group, i: Int): Nd = {
    def num(in: Int) = if (g.isNull(i, in)) null else java.lang.Double.valueOf(g.double(i, in))
    new Nd(g.string(i, 0), g.string(i, 1), g.string(i, 2),
      num(3), num(4), num(5), num(6), num(7), num(8), num(9), g.string(i, 10),
      if (g.isNull(i, 11)) null else java.lang.Boolean.valueOf(g.boolean(i, 11)))
  }

  private def padRow(team: UTF8String, own: UTF8String): Nd = new Nd(
    EmptyS, team,
    if (team != null && team.equals(BallS)) BallS else EmptyS,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, own, java.lang.Boolean.FALSE)

  override def run(g: Group): Iterator[InternalRow] = {
    val owning = owningOf(g)
    val passed = labelsOf(g) :+ owning
    var nodes = new ArrayBuffer[Nd](g.size + 8)
    var b = 0
    while (b < g.size) { nodes += readNd(g, b); b += 1 }

    if (pad) {
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
    // Delaunay: the id pairs of the triangulated players; a pair of
    // nodes is an edge when both ids are non-null and the pair is in
    // the set (the pair table's equi-join on ids)
    val delaunayEdges: Set[(UTF8String, UTF8String)] =
      if (adjacencyType != Delaunay) Set.empty
      else graft.graphs.Delaunay.frameEdges(arr.toSeq.map(nd => (nd.id, nd.team, nd.x, nd.y)))
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
          case Delaunay => java.lang.Boolean.valueOf(
            ni.id != null && nj.id != null && delaunayEdges.contains((ni.id, nj.id)))
          case other => throw new NotImplementedError(
            s"$other matrix not implemented for Soccer...")
        }
        val conn: java.lang.Boolean = connectType match {
          // Delaunay keeps the ball self-loop off (adjacency_matrix.py:
          // 104-124): the ball connects to every player, not to itself
          case ConnectBall if adjacencyType == Delaunay => tOr(base, tNot(tEqB(iBall, jBall)))
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

    Iterator.single(new GenericInternalRow(passed ++ Array[Any](
      new GenericArrayData(xOut), new GenericArrayData(idsOut),
      new GenericArrayData(aOut), new GenericArrayData(eOut.toArray))))
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
}
