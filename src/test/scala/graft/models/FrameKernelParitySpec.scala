package graft.models

import graft.SparkTestSession
import graft.graphs.{GraphAssemblyReference, GraphConverter, GraphSettings}
import graft.models.formations.{Efpi, Templates}
import graft.tracking.Cols
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The frame kernels of [[PressingIntensity.pairs]],
  * [[GraphConverter.graphFrames]] and stateless [[Efpi.fit]] against
  * their references: [[PiStagedReference]] (`tti` bit-exact, `pti`
  * within 4 ULP), [[GraphAssemblyReference]] (equal rows) and the typed
  * `groupByKey` detection over [[Efpi.resolveStatelessSegment]] (equal
  * rows).
  *
  * scalacheck draws small frame tables with the degenerate input the
  * kernels have to handle: null frame keys, NaN and `-0.0` coordinates,
  * null velocities and speeds, frames without a ball or with a
  * duplicated ball row, one-team frames, one-row frames and frames with
  * 12 players on one team. Every table runs at
  * `spark.sql.shuffle.partitions` 1 and 7, and again with its rows
  * shuffled over three input partitions, with AQE on and off, so a
  * result that depends on partitioning, on row order or on the
  * adaptive plan fails. */
class FrameKernelParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  private val schema = StructType(Seq(
    StructField(GameId, StringType), StructField(PeriodId, IntegerType),
    StructField(FrameId, LongType), StructField(Timestamp, LongType),
    StructField(ObjectId, StringType), StructField(TeamId, StringType),
    StructField(PositionName, StringType),
    StructField(X, DoubleType), StructField(Y, DoubleType), StructField(Z, DoubleType),
    StructField(Vx, DoubleType), StructField(Vy, DoubleType), StructField(Vz, DoubleType),
    StructField(Speed, DoubleType), StructField(BallOwningTeamId, StringType),
    StructField(IsBallCarrier, BooleanType), StructField(Label, LongType),
    StructField(GraphId, StringType)))

  private def value(range: Double): Gen[Any] = Gen.frequency(
    85 -> Gen.choose(-range, range),
    5 -> Gen.oneOf(0.0, -0.0),
    5 -> Gen.const(Double.NaN),
    5 -> Gen.const(null))

  private val speed: Gen[Any] = Gen.frequency(
    90 -> Gen.choose(0.0, 9.0), 4 -> Gen.const(Double.NaN), 6 -> Gen.const(null))

  /** The players of a frame by shape: (id, team). */
  private def players(shape: String): Seq[(String, String)] = {
    def team(prefix: String, t: String, n: Int) = (0 until n).map(i => s"$prefix$i" -> t)
    shape match {
      case "full" => team("h", "home", 11) ++ team("a", "away", 11)
      case "twelve" => team("h", "home", 12) ++ team("a", "away", 11)
      case "oneTeam" => team("h", "home", 11)
      case "small" => team("h", "home", 3) ++ team("a", "away", 3)
      case "single" => team("h", "home", 1)
    }
  }

  /** One frame: players by shape plus no, one or two (identical) ball
    * rows; the owning team, label and graph id are frame constants. */
  private def frame(game: Any, period: Any, frameId: Any): Gen[Seq[Row]] = for {
    shape <- Gen.frequency(3 -> "full", 2 -> "twelve", 1 -> "oneTeam", 2 -> "small", 2 -> "single")
    balls <- Gen.frequency(5 -> Gen.const(1), 1 -> Gen.const(0), 1 -> Gen.const(2))
    owning <- Gen.frequency(6 -> Gen.const("home"), 3 -> Gen.const("away"), 1 -> Gen.const(null))
    carrier <- Gen.choose(0, 30)
    nullCarrier <- Gen.frequency(9 -> false, 1 -> true)
    label <- Gen.oneOf(0L, 1L)
    objects = (if (shape == "single") Nil else Seq.fill(balls)(Ball -> Ball)) ++ players(shape)
    motion <- Gen.listOfN(objects.size, Gen.zip(value(50.0), value(34.0), value(5.0), value(5.0),
      value(2.0), speed))
  } yield {
    val ts: Any = if (frameId == null) null else frameId.asInstanceOf[Long] * 40000L
    // a duplicated ball is the same row twice
    val moves = if (balls == 2 && shape != "single") motion.head +: motion.tail.updated(0, motion.head) else motion
    objects.zip(moves).zipWithIndex.map { case (((id, team), (x, y, vx, vy, vz, v)), i) =>
      val position = if (id == "h0" || id == "a0") "GK" else null
      val isCarrier = if (team == Ball) false else if (nullCarrier && i == carrier) null else i == carrier
      Row(game, period, frameId, ts, id, team, position, x, y, if (id == Ball) 0.4 else 0.0,
        vx, vy, vz, v, owning, isCarrier, label, s"$game-$frameId")
    }
  }

  private def table(keys: Gen[(Any, Any, Any)]): Gen[Seq[Row]] = for {
    k <- Gen.choose(2, 5)
    ks <- Gen.listOfN(k, keys)
    rows <- Gen.sequence[Seq[Seq[Row]], Seq[Row]](ks.distinct.map { case (g, p, f) => frame(g, p, f) })
  } yield rows.flatten

  private val anyKeys: Gen[(Any, Any, Any)] = Gen.zip(
    Gen.oneOf[Any]("g1", "g2", null), Gen.oneOf[Any](1, null), Gen.oneOf[Any](0L, 1L, 2L, null))

  // the typed path reads period and segment as JVM primitives
  private val efpiKeys: Gen[(Any, Any, Any)] = Gen.zip(
    Gen.oneOf[Any]("g1", null), Gen.oneOf[Any](1, 2), Gen.oneOf[Any](0L, 1L, 2L))

  private def draw(gen: Gen[Seq[Row]], n: Int, seed: Long): Seq[Seq[Row]] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** The generators reach the degenerate cases they exist for. */
  private def assertReaches(cases: Seq[Seq[Row]], nullKeys: Boolean): Unit = {
    val rows = cases.flatten
    def has(p: Row => Boolean) = rows.exists(p)
    assert(!nullKeys || has(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)), "no null key")
    assert(has(r => r.get(7) match { case d: Double => d.isNaN; case _ => false }), "no NaN")
    assert(has(r => r.get(8) match {
      case d: Double => java.lang.Double.doubleToLongBits(d) == java.lang.Double.doubleToLongBits(-0.0)
      case _ => false
    }), "no -0.0")
    val frames = cases.flatMap(_.groupBy(r => (r.get(0), r.get(1), r.get(2))).values)
    assert(frames.exists(_.size == 1), "no one-row frame")
    assert(frames.exists(_.count(_.getString(5) == Ball) == 2), "no duplicated ball")
    assert(frames.exists(f => f.size > 1 && !f.exists(_.getString(5) == Ball)), "no ball-less frame")
    assert(frames.exists(_.count(_.getString(5) == "home") == 12), "no 12-player team")
    assert(frames.exists(f => !f.exists(_.getString(5) == "away") && f.size > 1), "no one-team frame")
  }

  /** Runs `check` on the table at 1 and 7 shuffle partitions, and on
    * its rows shuffled over three input partitions, planned with AQE
    * on and again with AQE off. */
  private def underPartitionings(rows: Seq[Row], seed: Long)(check: DataFrame => Unit): Unit = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      Seq(1, 7).foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        check(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
      }
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      Seq("true", "false").foreach { aqe =>
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        check(spark.createDataFrame(spark.sparkContext.parallelize(shuffled, 3), schema))
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Column names and types; the generic assembly's arrays differ in
    * `containsNull` only. */
  private def typed(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => f.name -> f.dataType.catalogString)

  private val piCombos: Seq[(graft.tracking.TrackingSettings, PressingIntensity.Params)] = {
    import graft.tracking.TrackingSettings
    val home = TrackingSettings(homeTeamId = Some("home"))
    Seq(
      TrackingSettings() -> PressingIntensity.Params(),
      TrackingSettings() -> PressingIntensity.Params(method = "full", ballMethod = "exclude",
        orient = "pressing"),
      home -> PressingIntensity.Params(ballMethod = "include", orient = "away_home"),
      home -> PressingIntensity.Params(speedThreshold = Some(2.0), orient = "home_away"),
      TrackingSettings() -> PressingIntensity.Params(method = "full", ballMethod = "max"))
  }

  /** Every `Params` arm: method × ball method × orient × speed threshold,
    * with the home team set for the home/away orients. */
  private val piGrid: Seq[(graft.tracking.TrackingSettings, PressingIntensity.Params)] = {
    import graft.tracking.TrackingSettings
    for {
      method <- Seq("teams", "full")
      ballMethod <- Seq("max", "include", "exclude")
      orient <- Seq("ball_owning", "pressing", "home_away", "away_home")
      speed <- Seq(None, Some(2.0))
    } yield {
      val settings = if (orient.contains("home")) TrackingSettings(homeTeamId = Some("home"))
        else TrackingSettings()
      settings -> PressingIntensity.Params(method, ballMethod, orient, speed)
    }
  }

  /** PI rows keyed by every column but tti/pti, with tti and pti bits. */
  private def piRows(df: DataFrame): Seq[(String, java.lang.Long, java.lang.Long)] = {
    def bits(r: Row, c: String): java.lang.Long = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) null else java.lang.Double.doubleToLongBits(r.getDouble(i))
    }
    df.collect().toSeq.map { r =>
      val key = df.columns.zip(r.toSeq).collect { case (c, v) if c != "tti" && c != "pti" => s"$c=$v" }
      (key.mkString("|"), bits(r, "tti"), bits(r, "pti"))
    }.sortBy(t => (t._1, Option(t._2).map(_.longValue), Option(t._3).map(_.longValue)))
  }

  test("pi pair kernel equals the staged pairs: tti bit-exact, pti within 4 ULP") {
    // twelve tables over the hand-picked combos, then one per grid point
    val combos = Seq.tabulate(12)(i => piCombos(i % piCombos.size)) ++ piGrid
    assert(piGrid.distinct.size === 48)
    val cases = draw(table(anyKeys), combos.size, 5101L)
    assertReaches(cases, nullKeys = true)
    cases.zipWithIndex.foreach { case (rows, i) =>
      val (settings, params) = combos(i)
      underPartitionings(rows, 5101L + i) { df =>
        val got = PressingIntensity.pairs(df, settings, params)
        val want = PiStagedReference.pairs(df, settings, params)
        assert(typed(got) === typed(want))
        val (a, b) = (piRows(got), piRows(want))
        assert(a.map(_._1) === b.map(_._1), s"case $i $params: rows differ on\n${rows.mkString("\n")}")
        a.zip(b).foreach { case ((k, ta, pa), (_, tb, pb)) =>
          assert(ta == tb, s"case $i: tti differs at $k")
          assert((pa == null && pb == null) ||
            (pa != null && pb != null && math.abs(pa - pb) <= 4L), s"case $i: pti differs at $k")
        }
      }
    }
  }

  test("graph kernel equals the generic graph assembly") {
    val settings = Seq(
      GraphSettings(pad = true),
      GraphSettings(pad = false, adjacencyMatrixType = GraphSettings.DenseAp,
        adjacencyMatrixConnectType = GraphSettings.ConnectBallCarrier),
      GraphSettings(pad = true, adjacencyMatrixType = GraphSettings.DenseDp,
        adjacencyMatrixConnectType = GraphSettings.ConnectNone),
      GraphSettings(pad = false, adjacencyMatrixType = GraphSettings.Dense),
      GraphSettings(pad = true, adjacencyMatrixType = GraphSettings.Delaunay),
      GraphSettings(pad = false, adjacencyMatrixType = GraphSettings.Delaunay,
        adjacencyMatrixConnectType = GraphSettings.ConnectBallCarrier))
    // three tables per settings
    val cases = draw(table(anyKeys), 3 * settings.size, 5201L)
    assertReaches(cases, nullKeys = true)
    val emitted = cases.zipWithIndex.map { case (rows, i) =>
      val s = settings(i % settings.size)
      var n = 0
      underPartitionings(rows, 5201L + i) { df =>
        val got = GraphConverter.graphFrames(df, s)
        val want = GraphAssemblyReference.graphFrames(df, s)
        assert(typed(got) === typed(want))
        val g = sortedRows(got)
        assert(g === sortedRows(want), s"case $i $s: graphs differ on\n${rows.mkString("\n")}")
        n = g.size
      }
      n
    }
    // the comparison covers frames the kernel emits, not only drops,
    // Delaunay frames included
    assert(emitted.sum > 0)
    assert(emitted.indices.filter(i => settings(i % settings.size).adjacencyMatrixType ==
      GraphSettings.Delaunay).map(emitted).sum > 0)
  }

  /** The typed detection path: `groupByKey` on the segment and the
    * stateless resolution, over the same segment rows. */
  private def efpiTyped(df: DataFrame, cfg: Efpi.Config): DataFrame = {
    import spark.implicits._
    val lib = Templates.library(cfg.formations)
    Efpi.segmentRows(spark, df, cfg, None)
      .groupByKey(r => (r.game_id, r.period_id, r.segment_id, r.ball_owning_team_id))
      .flatMapGroups { (k: (String, Int, Long, String), it: Iterator[Efpi.SegRow]) =>
        Efpi.resolveStatelessSegment(it.toSeq, lib)
          .map(_.copy(game_id = k._1, period_id = k._2, segment_id = k._3))
      }.toDF()
  }

  /** Sorted rows, or the innermost error of a failed job. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(sortedRows(df)) catch {
      case t: Throwable =>
        Left(Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.toString)
    }

  test("efpi segment kernel equals the typed detection, every segment mode") {
    val modes = Seq("frame", "possession", "period", "1s")
    // every third table keeps its NaN coordinates, the others read NaN
    // as -0.0; the typed path reads coordinates as JVM primitives, so a
    // null x/y is NaN or -0.0 too
    val cases = draw(table(efpiKeys), 12, 5301L).zipWithIndex.map { case (rows, i) =>
      val dirty = i % 3 == 0
      rows.map(r => Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v, c) if (c == 7 || c == 8) && (v == null || v.asInstanceOf[Double].isNaN) =>
          if (dirty) Double.NaN else -0.0
        case (v, _) => v
      }))
    }
    assertReaches(cases, nullKeys = false)
    val outcomes = cases.zipWithIndex.flatMap { case (rows, i) =>
      val cfg = Efpi.Config(every = modes(i % modes.size))
      val seen = Seq.newBuilder[Either[String, Seq[String]]]
      underPartitionings(rows, 5301L + i) { df =>
        val got = Efpi.fit(spark, df, cfg)
        assert(typed(got) === typed(efpiTyped(df, cfg)))
        val (a, b) = (outcome(got), outcome(efpiTyped(df, cfg)))
        assert(a === b, s"case $i ${cfg.every}: results differ on\n${rows.mkString("\n")}")
        seen += a
      }
      seen.result()
    }
    // a NaN reaching the assignment raises scipy's named error; both
    // outcomes are exercised, and some team matches a template
    assert(outcomes.collect { case Left(e) => e }.forall(_.contains("invalid numeric entries")))
    assert(outcomes.exists(_.isLeft))
    def templated(row: String): Boolean = {
      val f = row.stripPrefix("[").stripSuffix("]").split(",")
      f(4) != Ball && f(6) != "null"
    }
    assert(outcomes.exists(_.exists(_.exists(templated))))
  }
}
