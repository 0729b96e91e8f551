package graft.graphs

import graft.functions.{Group, GroupGenerator, GroupLocal}
import graft.tracking.Cols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Delaunay adjacency (G1's fifth matrix type) — implemented to the
  * reference's LEGACY numpy semantics (`soccer/graphs/features/
  * adjacency_matrix.py:60-124`; the active polars path raises
  * NotImplementedError, so this is a strict superset of the
  * reference): players are triangulated in 2D, every triangle edge
  * connects its endpoints symmetrically, players get NO self-loops,
  * NaN positions are excluded (edgeless), and the ball joins via the
  * usual connect type composition ([[GraphKernel]], and
  * [[GraphConverter.pairs]] for the pair table).
  *
  * The triangulation itself (Bowyer-Watson, O(n²) at n ≤ 22 per
  * frame) is per-frame geometry, so it runs as a frame kernel on the
  * group-local node ([[graft.functions.GroupLocal]]): the shuffle key
  * is the frame and per-frame work is bounded by the squad size.
  * Verified by the empty-circumcircle property test (DelaunaySpec) —
  * the defining invariant of the triangulation — plus exact
  * small-configuration goldens.
  */
object Delaunay {

  /** 2D Bowyer-Watson. Returns the undirected edge set over the input
    * indices. Exact duplicate points collapse to their first index
    * (later duplicates end up edgeless, like the reference's NaN
    * handling); fewer than 3 distinct points fall back to a path
    * (2 points → 1 edge, < 2 → none). */
  def triangulate(pts: IndexedSeq[(Double, Double)]): Set[(Int, Int)] = {
    val firstOf = scala.collection.mutable.Map.empty[(Double, Double), Int]
    val keep = pts.indices.filter { i =>
      val p = pts(i)
      !p._1.isNaN && !p._2.isNaN && {
        if (firstOf.contains(p)) false else { firstOf(p) = i; true }
      }
    }
    if (keep.size < 2) return Set.empty
    if (keep.size == 2) return Set((keep(0) min keep(1), keep(0) max keep(1)))

    // super-triangle comfortably containing all points
    val xs = keep.map(i => pts(i)._1); val ys = keep.map(i => pts(i)._2)
    val (minX, maxX) = (xs.min, xs.max); val (minY, maxY) = (ys.min, ys.max)
    val d = math.max(maxX - minX, maxY - minY) max 1.0
    val cx = (minX + maxX) / 2; val cy = (minY + maxY) / 2
    val superPts = IndexedSeq(
      (cx - 20 * d, cy - 10 * d), (cx + 20 * d, cy - 10 * d), (cx, cy + 20 * d))
    val all: IndexedSeq[(Double, Double)] = pts ++ superPts
    val s0 = pts.size; val s1 = s0 + 1; val s2 = s0 + 2

    final case class Tri(a: Int, b: Int, c: Int) {
      // circumcircle containment via the standard determinant, sign
      // normalized by triangle orientation
      def circumContains(p: (Double, Double)): Boolean = {
        val (ax, ay) = all(a); val (bx, by) = all(b); val (cx0, cy0) = all(c)
        val (dx, dy) = p
        val orient = (bx - ax) * (cy0 - ay) - (by - ay) * (cx0 - ax)
        val m11 = ax - dx; val m12 = ay - dy; val m13 = m11 * m11 + m12 * m12
        val m21 = bx - dx; val m22 = by - dy; val m23 = m21 * m21 + m22 * m22
        val m31 = cx0 - dx; val m32 = cy0 - dy; val m33 = m31 * m31 + m32 * m32
        val det = m11 * (m22 * m33 - m23 * m32) -
          m12 * (m21 * m33 - m23 * m31) + m13 * (m21 * m32 - m22 * m31)
        if (orient >= 0) det > 1e-12 else det < -1e-12
      }
      def edges: Seq[(Int, Int)] =
        Seq((a min b, a max b), (b min c, b max c), (a min c, a max c))
    }

    var tris = List(Tri(s0, s1, s2))
    keep.foreach { i =>
      val p = all(i)
      val (bad, good) = tris.partition(_.circumContains(p))
      // boundary of the cavity = edges appearing in exactly one bad tri
      val counts = scala.collection.mutable.Map.empty[(Int, Int), Int]
      bad.foreach(_.edges.foreach(e => counts(e) = counts.getOrElse(e, 0) + 1))
      // NB: collect on a Map with tuple results would rebuild a Map
      // (first vertex as key!) and silently drop boundary edges —
      // iterate explicitly
      val boundary = counts.iterator.collect { case (e, 1) => e }.toList
      tris = good ++ boundary.map { case (u, v) => Tri(u, v, i) }
    }
    tris.iterator
      .filterNot(t => Set(t.a, t.b, t.c).exists(_ >= s0))
      .flatMap(_.edges)
      .toSet
  }

  /** One frame's player-player edges as (i_id, j_id), both directions.
    * `rows` are the frame's (id, team_id, x, y): ball rows (a team
    * that is null or the ball) and rows with a null x or y are left
    * out, as [[triangulate]] leaves out NaN. The players are
    * triangulated sorted by id (UTF-8 binary order, nulls first), then
    * x and y, so the edges do not depend on the order the rows arrive
    * in: of two players on one point the first id takes the edges, and
    * four cocircular players get the same diagonal every time. Both
    * [[edges]] and the graph frame kernel ([[GraphKernel]]) call it. */
  private[graphs] def frameEdges(
      rows: Seq[(UTF8String, UTF8String, java.lang.Double, java.lang.Double)])
      : Set[(UTF8String, UTF8String)] = {
    val players = rows.filter { case (_, team, x, y) =>
      team != null && !team.equals(BallS) && x != null && y != null
    }.sortWith { case ((ia, _, xa, ya), (ib, _, xb, yb)) =>
      val byId =
        if (ia == null) (if (ib == null) 0 else -1)
        else if (ib == null) 1
        else ia.compareTo(ib)
      val c = if (byId != 0) byId else java.lang.Double.compare(xa, xb)
      (if (c != 0) c else java.lang.Double.compare(ya, yb)) < 0
    }.toIndexedSeq
    triangulate(players.map(p => (p._3.doubleValue, p._4.doubleValue))).flatMap { case (i, j) =>
      val (a, b) = (players(i)._1, players(j)._1)
      Seq(a -> b, b -> a)
    }
  }

  private val BallS = UTF8String.fromString(Cols.Ball)

  /** Per-frame player-player Delaunay edge table:
    * `(game_id, period_id, frame_id, i_id, j_id)`, BOTH directions,
    * one row per id pair ([[frameEdges]] on the group-local node).
    * Input: the canonical long table. */
  def edges(df: DataFrame): DataFrame = {
    import Cols._
    GroupLocal(df, Seq(GameId, PeriodId, FrameId), Nil, new EdgesKernel)
  }

  /** [[frameEdges]] of each frame, one row per edge. */
  private final class EdgesKernel extends GroupGenerator {
    import Cols._
    override def inputs: Seq[(String, DataType)] =
      Seq(ObjectId -> StringType, TeamId -> StringType, X -> DoubleType, Y -> DoubleType)
    override def output: Seq[StructField] =
      Seq(StructField("i_id", StringType), StructField("j_id", StringType))
    override def run(g: Group): Iterator[InternalRow] = {
      def num(i: Int, in: Int) = if (g.isNull(i, in)) null else java.lang.Double.valueOf(g.double(i, in))
      frameEdges((0 until g.size).map(i => (g.string(i, 0), g.string(i, 1), num(i, 2), num(i, 3))))
        .iterator.map { case (a, b) => new GenericInternalRow(Array[Any](a, b)) }
    }
  }
}
