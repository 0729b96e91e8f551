package graft.graphs

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The triangulation is verified against its DEFINING invariant — for
  * every Delaunay triangle, no other input point lies strictly inside
  * its circumcircle — on seeded random point clouds, plus exact
  * goldens for hand-checkable configurations. The DataFrame operator
  * is then checked for symmetry, self-loop absence, and connect-type
  * composition through GraphConverter.pairs. */
class DelaunaySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def circumContains(
      a: (Double, Double), b: (Double, Double), c: (Double, Double),
      p: (Double, Double)): Boolean = {
    val orient = (b._1 - a._1) * (c._2 - a._2) - (b._2 - a._2) * (c._1 - a._1)
    val m = Array(
      Array(a._1 - p._1, a._2 - p._2, (a._1 - p._1) * (a._1 - p._1) + (a._2 - p._2) * (a._2 - p._2)),
      Array(b._1 - p._1, b._2 - p._2, (b._1 - p._1) * (b._1 - p._1) + (b._2 - p._2) * (b._2 - p._2)),
      Array(c._1 - p._1, c._2 - p._2, (c._1 - p._1) * (c._1 - p._1) + (c._2 - p._2) * (c._2 - p._2)))
    val det = m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    if (orient >= 0) det > 1e-9 else det < -1e-9
  }

  /** Reconstruct triangles from the edge set (any 3 mutually-connected
    * points whose interior contains no other edge crossing is a face;
    * for the invariant we only need candidate triangles = 3-cliques). */
  private def triangles(edges: Set[(Int, Int)], n: Int): Seq[(Int, Int, Int)] = {
    val adj = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    edges.foreach { case (i, j) => adj(i) += j; adj(j) += i }
    for {
      i <- 0 until n; j <- (i + 1) until n if adj(i)(j)
      k <- (j + 1) until n if adj(i)(k) && adj(j)(k)
    } yield (i, j, k)
  }

  test("empty-circumcircle property holds on seeded random clouds (22 points, 20 trials)") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { trial =>
      val pts = IndexedSeq.fill(22)((rnd.nextDouble() * 105 - 52.5, rnd.nextDouble() * 68 - 34))
      val edges = Delaunay.triangulate(pts)
      // the Delaunay edge set's 3-cliques must include only
      // empty-circumcircle triangles for the faces; test the DEFINING
      // property edge-wise: every edge belongs to at least one triangle
      // whose circumcircle is empty (locally Delaunay)
      val tris = triangles(edges, pts.size)
      edges.foreach { case (u, v) =>
        val own = tris.filter(t => Set(t._1, t._2, t._3).intersect(Set(u, v)).size == 2)
        assert(own.nonEmpty || tris.isEmpty, s"trial $trial: edge ($u,$v) in no triangle")
        val hasEmpty = own.exists { case (i, j, k) =>
          pts.indices.forall(q =>
            q == i || q == j || q == k ||
              !circumContains(pts(i), pts(j), pts(k), pts(q)))
        }
        assert(hasEmpty, s"trial $trial: edge ($u,$v) has no empty-circumcircle triangle")
      }
      // planarity bound and connectivity-ish sanity
      assert(edges.size <= 3 * pts.size - 6)
      assert(edges.size >= pts.size - 1)
    }
  }

  test("exact small configurations") {
    // unit square: 4 points, 5 edges (both diagonally-split triangles
    // are valid — one diagonal edge either way)
    val sq = Delaunay.triangulate(IndexedSeq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)))
    assert(sq.size === 5)
    assert(Set((0, 1), (0, 2), (1, 3), (2, 3)).subsetOf(sq)) // hull edges always present
    // triangle with center: every center edge present, 6 edges total
    val tc = Delaunay.triangulate(IndexedSeq((0.0, 0.0), (4.0, 0.0), (2.0, 3.0), (2.0, 1.0)))
    assert(tc === Set((0, 1), (0, 2), (1, 2), (0, 3), (1, 3), (2, 3)))
    // degenerate inputs
    assert(Delaunay.triangulate(IndexedSeq((0.0, 0.0), (1.0, 1.0))) === Set((0, 1)))
    assert(Delaunay.triangulate(IndexedSeq((0.0, 0.0))) === Set.empty)
    assert(Delaunay.triangulate(IndexedSeq.empty) === Set.empty)
    // duplicates collapse (later index edgeless), NaN excluded
    val dup = Delaunay.triangulate(IndexedSeq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0), (Double.NaN, 2.0)))
    assert(dup.forall { case (i, j) => i < 3 && j < 3 })
  }

  test("DataFrame operator: symmetric player edges, no self-loops, ball composes via connect type") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 3).flatMap { f =>
      (1 to 11).map(i => ("g", 1, f.toLong, s"h$i", "home",
        rnd.nextDouble() * 50 - 25, rnd.nextDouble() * 60 - 30)) ++
        (1 to 11).map(i => ("g", 1, f.toLong, s"a$i", "away",
          rnd.nextDouble() * 50 - 25, rnd.nextDouble() * 60 - 30)) :+
        (("g", 1, f.toLong, "ball", "ball", 0.0, 0.0))
    }
    val df = rows.toDF("game_id", "period_id", "frame_id", "id", "team_id", "x", "y")
      .withColumn("z", lit(0.0)).withColumn("vx", lit(0.0)).withColumn("vy", lit(0.0))
      .withColumn("vz", lit(0.0)).withColumn("v", lit(0.0))
      .withColumn("ball_owning_team_id", lit("home"))
      .withColumn("is_ball_carrier", col("id") === "h1")

    val settings = GraphSettings(adjacencyMatrixType = GraphSettings.Delaunay)
    val pairs = GraphConverter.pairs(df, settings)
      .select("game_id", "period_id", "frame_id", "i_id", "j_id", "a").cache()

    // full dense pair table kept (23x23 per frame), delaunay flags inside
    assert(pairs.count() === 3L * 23 * 23)
    val on = pairs.filter(col("a") === 1).collect()
      .map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSet
    // symmetry
    assert(on.forall { case (f, i, j) => on.contains((f, j, i)) })
    // no self-loops at all — including the ball: the legacy reference's
    // delaunay b-block is `1 if self_loop_ball else 0` with
    // self_loop_ball=False (adjacency_matrix.py:104-124)
    assert(!on.exists { case (_, i, j) => i == j })
    (1 to 3).foreach { f =>
      (1 to 11).foreach { i =>
        assert(on.contains((f.toLong, s"h$i", "ball")) && on.contains((f.toLong, "ball", s"h$i")))
      }
    }
    // players-only edge count per frame obeys the planarity bound
    (1 to 3).foreach { f =>
      val player = on.count { case (ff, i, j) => ff == f.toLong && i != "ball" && j != "ball" && i < j }
      assert(player <= 3 * 22 - 6 && player >= 21)
    }
    pairs.unpersist()
  }

  test("edges and graphs do not depend on row order: a shared point, four cocircular players") {
    import spark.implicits._
    // h1..h4 are the corners of a square, so either diagonal is a valid
    // triangulation; a1 and a2 stand on one point, so only one of them
    // can take its edges. The input order below would give diagonal
    // h1-h4 and the edges to a1; reversed, h2-h3 and a2.
    val players = Seq(("h1", "home", 0.0, 0.0), ("h4", "home", 10.0, 10.0),
      ("h2", "home", 10.0, 0.0), ("h3", "home", 0.0, 10.0),
      ("a1", "away", 5.0, 25.0), ("a2", "away", 5.0, 25.0), ("a3", "away", -12.0, 5.0),
      ("ball", "ball", 5.0, 5.0))
    def frame(rows: Seq[(String, String, Double, Double)]) =
      rows.toDF("id", "team_id", "x", "y")
        .withColumn("game_id", lit("g")).withColumn("period_id", lit(1))
        .withColumn("frame_id", lit(1L)).withColumn("z", lit(0.0))
        .withColumn("vx", lit(0.0)).withColumn("vy", lit(0.0)).withColumn("vz", lit(0.0))
        .withColumn("v", lit(0.0)).withColumn("position_name", lit(null).cast("string"))
        .withColumn("ball_owning_team_id", lit("home"))
        .withColumn("is_ball_carrier", col("id") === "h1")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val settings = GraphSettings(pad = false, adjacencyMatrixType = GraphSettings.Delaunay)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val outcomes = try Seq("1", "7").flatMap { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n)
      Seq(players, players.reverse).map { rows =>
        (sorted(Delaunay.edges(frame(rows))), sorted(GraphConverter.graphFrames(frame(rows), settings)))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(outcomes.distinct.size === 1, outcomes.mkString("\n"))
    // the rule: players triangulated in id order
    val edges = outcomes.head._1
    assert(edges.exists(_.contains("a1")) && !edges.exists(_.contains("a2")), edges)
    assert(edges.contains("[g,1,1,h2,h3]") && !edges.contains("[g,1,1,h1,h4]"), edges)
  }
}
