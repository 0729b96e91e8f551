package graft.graphs

import graft.SparkTestSession
import graft.tracking.Cols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

class GraphConverterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  private def mkFrame(rows: Seq[(String, String, Double, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF(ObjectId, TeamId, X, Y)
      .withColumn(GameId, lit("g")).withColumn(PeriodId, lit(1))
      .withColumn(FrameId, lit(1L)).withColumn(Timestamp, lit(0L))
      .withColumn(Z, lit(0.0))
      .withColumn(Vx, lit(1.0)).withColumn(Vy, lit(0.5)).withColumn(Vz, lit(0.0))
      .withColumn(Speed, lit(1.118))
      .withColumn(Ax, lit(0.0)).withColumn(Ay, lit(0.0)).withColumn(Az, lit(0.0))
      .withColumn(Acceleration, lit(0.0))
      .withColumn(BallState, lit("alive"))
      .withColumn(PositionName, lit(null).cast("string"))
      .withColumn(BallOwningTeamId, lit("home"))
      .withColumn(IsBallCarrier, col(ObjectId) === "h1")
  }

  private val smallFrame = mkFrame(Seq(
    ("h1", "home", 1.0, 2.0), ("h2", "home", 3.0, 4.0),
    ("a1", "away", -1.0, 0.0), ("a2", "away", -2.0, 1.0),
    ("ball", "ball", 1.1, 2.1)))

  test("graphFrames: the native tensor aggregates equal the generic assembly end-to-end") {
    val settings = GraphSettings(pad = false)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(GraphConverter.graphFrames(smallFrame, settings)) ===
      rows(GraphAssemblyReference.graphFrames(smallFrame, settings)))
  }

  test("node order: possession players, defenders, ball (by id)") {
    val idx = GraphConverter.withNodeIndex(smallFrame)
      .orderBy("node_idx").select(ObjectId).collect().map(_.getString(0))
    assert(idx.toSeq == Seq("h1", "h2", "a1", "a2", "ball"))
  }

  test("split_by_team + ball connect adjacency") {
    val p = GraphConverter.pairs(smallFrame, GraphSettings(pad = false))
    val a = p.select("i_node_idx", "j_node_idx", "a").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(a((0, 1)) == 1) // same team
    assert(a((0, 2)) == 0) // cross team
    assert(a((0, 4)) == 1 && a((4, 2)) == 1 && a((4, 4)) == 1) // ball row/col + self
    assert(a((2, 3)) == 1) // defenders connected
  }

  test("dense_ap / dense_dp / ball_carrier connect") {
    val ap = GraphConverter.pairs(smallFrame,
      GraphSettings(adjacencyMatrixType = GraphSettings.DenseAp,
        adjacencyMatrixConnectType = GraphSettings.ConnectNone, pad = false))
      .filter(col("a") === 1).count()
    assert(ap == 4) // 2x2 owning block only
    val dp = GraphConverter.pairs(smallFrame,
      GraphSettings(adjacencyMatrixType = GraphSettings.DenseDp,
        adjacencyMatrixConnectType = GraphSettings.ConnectNone, pad = false))
      .filter(col("a") === 1).count()
    assert(dp == 4)
    val carrier = GraphConverter.pairs(smallFrame,
      GraphSettings(adjacencyMatrixType = GraphSettings.SplitByTeam,
        adjacencyMatrixConnectType = GraphSettings.ConnectBallCarrier, pad = false))
      .filter(col("a") === 1)
      .select("i_node_idx", "j_node_idx").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    // team blocks (2x2 + 2x2 + ball self) + carrier<->ball
    assert(carrier.contains((0, 4)) && carrier.contains((4, 0)))
    assert(!carrier.contains((1, 4)) && !carrier.contains((4, 1)))
  }

  test("delaunay settings accepted (superset of the reference, which raises); unknown types still rejected") {
    // the active reference path raises here (adjacency_matrix_pl.py:32-33);
    // we implement the legacy semantics instead — see DelaunaySpec
    GraphSettings(adjacencyMatrixType = GraphSettings.Delaunay)
    intercept[IllegalArgumentException] {
      GraphSettings(adjacencyMatrixType = "voronoi")
    }
  }

  test("padding to 23 nodes and 287 edges (split_by_team + ball)") {
    val g = GraphConverter.graphFrames(smallFrame, GraphSettings(pad = true))
    val row = g.collect().head
    val a = row.getAs[scala.collection.Seq[scala.collection.Seq[Int]]]("a")
    val x = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("x")
    val e = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("e")
    assert(a.length == 23 && a.head.length == 23)
    assert(x.length == 23 && x.head.length == 15)
    assert(e.length == 11 * 11 * 2 + 22 * 2 + 1) // 287 (default_graph_settings.py:75-114)
    assert(e.head.length == 6)
    assert(GraphSettings().maxPaddedEdges == 287)
    val ids = row.getAs[scala.collection.Seq[String]]("object_ids")
    assert(ids.length == 23 && ids.count(_ == "") == 18) // padded slots
    assert(ids.last == "ball")
  }

  test("padded node features use dtype defaults (position 0 -> x_normed 0.5)") {
    val g = GraphConverter.graphFrames(smallFrame, GraphSettings(pad = true)).collect().head
    val x = g.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("x")
    val ids = g.getAs[scala.collection.Seq[String]]("object_ids")
    val padIdx = ids.indexOf("")
    assert(math.abs(x(padIdx).head - 0.5) < 1e-12) // (0 - -52.5)/105
    assert(x(padIdx)(2) == 0.0) // v = 0
  }

  test("G7 feature lists replace the defaults: a built-in and a user feature each") {
    val s = GraphSettings(pad = false)
    val nodeFeats = Seq(
      Features.defaultNodeFeatures(s).find(_.name == "x_normed").get,
      Features.NodeFeature("y_scaled", 2, c => Seq(c.py * 2.0, c.py + 1.0)))
    val x = GraphConverter.withNodeFeatures(smallFrame, s, nodeFeats)
      .select(ObjectId, "x_features").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(x.size === 5)
    assert(x.values.forall(_.length == nodeFeats.map(_.dims).sum)) // 3, not the default 15
    // h2 at (3, 4)
    assert(x("h2") === Seq((3.0 - s.pitch.xMin) / (s.pitch.xMax - s.pitch.xMin), 8.0, 5.0))

    val edgeFeats = Seq(
      Features.defaultEdgeFeatures(s).find(_.name == "distances_between_players_normed").get,
      Features.EdgeFeature("dx", 1, c => Seq(c.ix - c.jx)))
    val e = GraphConverter.pairs(smallFrame, s, edgeFeats)
      .select(s"i_$ObjectId", s"j_$ObjectId", "e_features").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Double](2).toSeq).toMap
    assert(e.size === 25)
    assert(e.values.forall(_.length == edgeFeats.map(_.dims).sum)) // 2, not the default 6
    // h1 at (1, 2) to a1 at (-1, 0)
    assert(e(("h1", "a1")) === Seq(math.sqrt(8.0) / s.maxDistance, 2.0))
    assert(e(("a1", "h1")) === Seq(math.sqrt(8.0) / s.maxDistance, -2.0))
  }

  test("remove incomplete frames requires 3 distinct teams") {
    val noBall = mkFrame(Seq(
      ("h1", "home", 1.0, 2.0), ("a1", "away", -1.0, 0.0)))
    assert(GraphConverter.removeIncompleteFrames(noBall).count() == 0)
    assert(GraphConverter.removeIncompleteFrames(smallFrame).count() == 5)
  }

  test("edge features row-major order matches np.where order") {
    val p = GraphConverter.pairs(smallFrame, GraphSettings(pad = false))
    val g = GraphConverter.graphFrames(smallFrame, GraphSettings(pad = false))
    val row = g.collect().head
    val e = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("e")
    // first nonzero of A row-major is (0,0) self-loop (split_by_team diag)
    // whose distance feature is 0
    assert(e.head.head == 0.0)
    val nnz = p.filter(col("a") === 1).count()
    assert(e.length == nnz)
  }

  test("split assignment is leakage-aware by graph id") {
    import spark.implicits._
    val df = (1 to 100).flatMap(i => Seq((s"g$i", i.toLong, "x"), (s"g$i", i.toLong, "y")))
      .toDF(GraphId, FrameId, ObjectId)
      .withColumn(GameId, lit("g")).withColumn(PeriodId, lit(1))
    val split = GraphDataset.withSplit(df, 0.6, 0.3, 0.1, byGraphId = true)
    val counts = split.select(GraphId, "split").distinct()
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash-bucketing honors fractions in expectation (±15 on 100 ids)
    assert(math.abs(counts("train") - 60L) <= 15)
    assert(math.abs(counts.getOrElse("test", 0L) - 30L) <= 15)
    // every graph id maps to exactly one split
    val multi = split.groupBy(GraphId).agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(multi == 0)
  }

  test("validateIntegrity passes on consistent frames, raises on mixed") {
    import spark.implicits._
    val ok = smallFrame.withColumn(GraphId, lit("g-1")).withColumn(Label, lit(1L))
    GraphConverter.validateIntegrity(ok, Seq(GraphId, Label)) // no throw
    val bad = smallFrame.withColumn(GraphId,
      when(col(ObjectId) === "h1", "g-X").otherwise("g-1"))
      .withColumn(Label, lit(1L))
    val e = intercept[IllegalArgumentException](
      GraphConverter.validateIntegrity(bad, Seq(GraphId, Label)))
    assert(e.getMessage.contains("integrity"))
  }

  /** The frame kernel's adjacency types: split_by_team and Delaunay. */
  private val kernelSettings = Seq(GraphSettings(pad = false),
    GraphSettings(pad = false, adjacencyMatrixType = GraphSettings.Delaunay))

  test("graphFrames raises the integrity error on a frame with two labels or graph ids") {
    kernelSettings.foreach { settings =>
      val ok = smallFrame.withColumn(GraphId, lit("g-1")).withColumn(Label, lit(1L))
      val one = GraphConverter.graphFrames(ok, settings).collect()
      assert(one.map(r => (r.getAs[Long](Label), r.getAs[String](GraphId))).toSeq === Seq((1L, "g-1")))
      // a null label leaves the frame's one value standing
      val partial = ok.withColumn(Label, when(col(ObjectId) === "a1", lit(null).cast("long"))
        .otherwise(lit(1L)))
      assert(GraphConverter.graphFrames(partial, settings).collect().map(_.getAs[Long](Label)).toSeq ===
        Seq(1L))
      val mixed = Seq(
        ok.withColumn(Label, when(col(ObjectId) === "h1", 0L).otherwise(1L)),
        ok.withColumn(GraphId, when(col(ObjectId) === "ball", "g-X").otherwise("g-1")))
      mixed.foreach { bad =>
        val e = intercept[Exception](GraphConverter.graphFrames(bad, settings).collect())
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
        assert(messages(e).exists(_.contains("graph integrity violation")), s"$settings: ${messages(e)}")
      }
    }
  }

  test("GraphKernel keeps its last binding until the settings or the conf change") {
    val labels = Seq(Label -> LongType)
    def bound(k: GraphKernel) = Seq(k.order, k.nodeFeatures, k.adjacency, k.edgeFeatures)
    val settings = GraphSettings(pad = false)
    val first = GraphKernel(spark, settings, labels)
    val again = GraphKernel(spark, settings, labels)
    assert(again ne first)
    assert(bound(again).zip(bound(first)).forall { case (a, b) => a eq b })
    val other = GraphKernel(spark, settings.copy(adjacencyMatrixType = GraphSettings.Dense), labels)
    assert(other.adjacency ne first.adjacency)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", (!ansi.toBoolean).toString)
    try {
      val flipped = GraphKernel(spark, settings, labels)
      assert(bound(flipped).zip(bound(first)).forall { case (a, b) => a ne b })
      assert(flipped.adjacency != first.adjacency || flipped.edgeFeatures != first.edgeFeatures ||
        flipped.nodeFeatures != first.nodeFeatures)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("PI pairs keep their binding across graph kernels until the conf changes") {
    import graft.functions.GroupLocal
    import graft.models.{PiPairsKernel, PressingIntensity}
    def piKernel(df: DataFrame): PiPairsKernel =
      df.queryExecution.logical.collectFirst { case g: GroupLocal => g.kernel }.get.asInstanceOf[PiPairsKernel]
    def bound(k: PiPairsKernel) = k.node ++ Seq(k.tti) ++ k.scored
    def graphBound(k: GraphKernel) = Seq(k.order, k.nodeFeatures, k.adjacency, k.edgeFeatures)
    def same(a: Seq[AnyRef], b: Seq[AnyRef]) = a.zip(b).forall { case (x, y) => x eq y }
    val params = PressingIntensity.Params(method = "full", speedThreshold = Some(2.0))
    def pi() = piKernel(PressingIntensity.pairs(smallFrame, params = params))
    def graph() = GraphKernel(spark, GraphSettings(pad = false), Seq(Label -> LongType))
    val (p0, g0) = (pi(), graph())
    // alternating PI and graph kernels re-bind neither
    (1 to 2).foreach { _ =>
      val (p, g) = (pi(), graph())
      assert((p ne p0) && (g ne g0))
      assert(same(bound(p), bound(p0)))
      assert(same(graphBound(g), graphBound(g0)))
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", (!ansi.toBoolean).toString)
    try {
      val flipped = pi()
      assert(bound(flipped).zip(bound(p0)).forall { case (a, b) => a ne b })
      assert(bound(flipped) != bound(p0))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("graphFrames: ball_owning_team_id is the frame's minimum owning team") {
    // h1 (a home player) is the one row naming "away", so it sorts among
    // the defenders and is not the frame's first row in node order
    val mixed = smallFrame.withColumn(BallOwningTeamId,
      when(col(ObjectId) === "h1", lit("away")).otherwise(lit("home")))
    kernelSettings.foreach { settings =>
      val forward = GraphConverter.graphFrames(mixed, settings).collect()
      val reversed = GraphConverter.graphFrames(mixed.orderBy(col(ObjectId).desc), settings).collect()
      assert(forward.map(_.getAs[String](BallOwningTeamId)).toSeq === Seq("away"), settings)
      assert(forward.map(_.toString).toSeq === reversed.map(_.toString).toSeq, settings)
    }
  }

  test("global features: ball type targets the ball row, all type every row") {
    val nf = GraphConverter.withNodeFeatures(
      GraphConverter.removeIncompleteFrames(smallFrame), GraphSettings(pad = false))
    val ballType = GraphConverter.withGlobalFeatures(nf, Seq(Timestamp), "ball")
      .select(col(ObjectId), element_at(col("x_features"), 16).as("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ballType("ball") === 0.0) // Timestamp is 0 in the fixture
    val nf2 = GraphConverter.withNodeFeatures(
      GraphConverter.removeIncompleteFrames(smallFrame.withColumn(Timestamp, lit(5L))),
      GraphSettings(pad = false))
    val b2 = GraphConverter.withGlobalFeatures(nf2, Seq(Timestamp), "ball")
      .select(col(ObjectId), element_at(col("x_features"), 16).as("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(b2("ball") === 5.0 && b2("h1") === 0.0)
    val allType = GraphConverter.withGlobalFeatures(nf2, Seq(Timestamp), "all")
      .select(element_at(col("x_features"), 16).as("g"))
      .collect().map(_.getDouble(0)).toSet
    assert(allType === Set(5.0))
    assertThrows[IllegalArgumentException](
      GraphConverter.withGlobalFeatures(nf2, Seq(Timestamp), "bogus"))
  }

  test("validateGlobalConstancy raises when a global column varies in a frame") {
    val varying = smallFrame.withColumn("gcol",
      when(col(ObjectId) === "h1", 1.0).otherwise(2.0))
    assertThrows[IllegalArgumentException](
      GraphConverter.validateGlobalConstancy(varying, Seq("gcol")))
    GraphConverter.validateGlobalConstancy(smallFrame.withColumn("gcol", lit(3.0)), Seq("gcol"))
  }

  test("graph sink round-trips the nested schema via partitioned parquet") {
    val g = GraphConverter.graphFrames(smallFrame, GraphSettings(pad = true))
    val path = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/graphs"
    GraphSink.write(g, path)
    val back = GraphSink.read(spark, path)
    assert(back.count() === g.count())
    val row = back.collect().head
    val a = row.getAs[scala.collection.Seq[scala.collection.Seq[Int]]]("a")
    assert(a.length === 23 && a.head.length === 23)
    // partition pruning surface: game_id is a partition column
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("game_id=")))
  }
}
