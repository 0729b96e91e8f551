package graft.tracking

import graft.SparkTestSession
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The group kernels of [[Kinematics]], [[Possession]] and
  * [[Goalkeepers]] against their window twins in [[WindowReference]],
  * bit for bit: same columns in the same order, same rows, doubles
  * compared by their bits (so `-0.0` and `0.0` differ), and the same
  * named error where the window plan raises one.
  *
  * scalacheck draws small tracking tables with the degenerate input the
  * chain has to handle: null x/y/z, NaN coordinates, `-0.0`, frames
  * without a ball or with two, one-team frames, null key columns,
  * series of one row and shorter than the smoothing window, null and
  * duplicate timestamps (a zero dt: `DIVIDE_BY_ZERO` under ANSI) and
  * sub-millisecond steps that truncate to a zero dt. */
class TrackingKernelParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  private val schema = StructType(Seq(
    StructField(GameId, StringType), StructField(PeriodId, IntegerType),
    StructField(FrameId, LongType), StructField(Timestamp, LongType),
    StructField(ObjectId, StringType), StructField(TeamId, StringType),
    StructField(PositionName, StringType),
    StructField(X, DoubleType), StructField(Y, DoubleType), StructField(Z, DoubleType),
    StructField(BallOwningTeamId, StringType)))

  private def orNull[T](p: Int, g: Gen[T]): Gen[Any] =
    Gen.frequency(p -> Gen.const(null), (100 - p) -> g)

  private val coord: Gen[Any] = Gen.frequency(
    80 -> Gen.choose(-40.0, 40.0),
    4 -> Gen.oneOf(0.0, -0.0, 1.5),
    6 -> Gen.const(Double.NaN),
    10 -> Gen.const(null))

  /** One object's samples in one period: ms-spaced timestamps with the
    * odd repeated, sub-millisecond or null step. */
  private def series(game: String, period: Any, id: String, team: String): Gen[Seq[Row]] = for {
    n <- Gen.oneOf(1, 2, 3, 4, 6, 7, 8, 13)
    dupes <- Gen.frequency(3 -> false, 1 -> true)
    steps <- Gen.listOfN(n, Gen.frequency(
      20 -> Gen.const(40000L), 3 -> Gen.const(40400L), 2 -> Gen.const(700L),
      (if (dupes) 3 else 0) -> Gen.const(0L)))
    nullTs <- Gen.listOfN(n, Gen.frequency(19 -> false, 1 -> true))
    xyz <- Gen.listOfN(n, Gen.zip(coord, coord, coord))
  } yield steps.scanLeft(0L)(_ + _).tail.zip(nullTs).zip(xyz).zipWithIndex.map {
    case (((ts, noTs), (x, y, z)), f) =>
      Row(game, period, f.toLong, if (noTs) null else ts, id, team, null, x, y, z, null)
  }

  private val genSeriesTable: Gen[Seq[Row]] = for {
    k <- Gen.choose(1, 4)
    keys <- Gen.listOfN(k, Gen.zip(
      Gen.oneOf[Any]("g1", "g2", null), Gen.oneOf[Any](1, 2, null),
      Gen.oneOf[Any]("h1", "a1", Ball, null)))
    rows <- Gen.sequence[Seq[Seq[Row]], Seq[Row]](keys.distinct.map { case (g, p, id) =>
      series(g.asInstanceOf[String], p, id.asInstanceOf[String],
        if (id == Ball) Ball else if (id == null) null else "home")
    })
  } yield rows.flatten

  /** One frame: a ball (or none, or two) and players around it,
    * sometimes one team only, sometimes with a preset owning team. */
  private def frame(game: Any, period: Any, frameId: Any): Gen[Seq[Row]] = for {
    ball <- Gen.frequency(6 -> Gen.const(1), 1 -> Gen.const(0), 1 -> Gen.const(2))
    bxyz <- Gen.zip(Gen.choose(-20.0, 20.0), Gen.choose(-20.0, 20.0), coord)
    oneTeam <- Gen.frequency(4 -> false, 1 -> true)
    players = Seq("h1" -> "home", "h2" -> "home", "h3" -> "home", "a1" -> "away", "a2" -> "away",
      null.asInstanceOf[String] -> "away", "u1" -> null.asInstanceOf[String])
      .filter { case (_, t) => !oneTeam || t == "home" }
    offsets <- Gen.listOfN(players.size, Gen.frequency(
      12 -> Gen.zip(Gen.choose(-30.0, 30.0), Gen.choose(-30.0, 30.0)).map { case (a, b) => (a: Any, b: Any) },
      2 -> Gen.const((0.0: Any, 0.0: Any)),
      2 -> Gen.zip(coord, coord)))
    present <- Gen.listOfN(players.size, Gen.frequency(6 -> true, 1 -> false))
    owning <- Gen.listOfN(players.size + ball, Gen.frequency(
      9 -> Gen.const(null), 1 -> Gen.oneOf("home", "away", "x")))
    position <- Gen.listOfN(players.size + ball, orNull(50, Gen.const("DEF")))
  } yield {
    val (bx, by, bz) = bxyz
    val balls = (0 until ball).map { b =>
      Row(game, period, frameId, 0L, Ball, Ball, position(b), bx + b, by, bz, owning(b))
    }
    val ps = players.indices.filter(present).map { i =>
      val (id, team) = players(i)
      val (dx, dy) = offsets(i)
      def at(base: Double, d: Any): Any = d match {
        case null => null
        case v: Double => base + v
      }
      Row(game, period, frameId, 0L, id, team, position(ball + i), at(bx, dx), at(by, dy), 0.0,
        owning(ball + i))
    }
    balls ++ ps
  }

  private val genFrameTable: Gen[Seq[Row]] = for {
    k <- Gen.choose(1, 4)
    keys <- Gen.listOfN(k, Gen.zip(
      Gen.oneOf[Any]("g1", null), Gen.oneOf[Any](1, null), Gen.oneOf[Any](0L, 1L, 2L, null)))
    rows <- Gen.sequence[Seq[Seq[Row]], Seq[Row]](keys.distinct.map { case (g, p, f) => frame(g, p, f) })
  } yield rows.flatten

  private def draw[T](gen: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** Rows as bit-exact strings, sorted: a multiset comparison. */
  private def canonical(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def condition(t: Throwable): Option[String] = t match {
    case null => None
    case s: SparkThrowable if s.getCondition != null => Some(s.getCondition)
    case _ => condition(t.getCause)
  }

  private def outcome(df: => DataFrame): Either[String, (Seq[(String, DataType)], Seq[String])] =
    try {
      val d = df
      Right((d.schema.map(f => f.name -> f.dataType), canonical(d)))
    } catch {
      case t: Throwable => Left(condition(t).getOrElse(t.toString))
    }

  /** Asserts both paths agree; returns whether they raised. */
  private def assertParity(name: String, rows: Seq[Row])(
      kernel: DataFrame => DataFrame, window: DataFrame => DataFrame): Boolean = {
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val (got, want) = (outcome(kernel(df)), outcome(window(df)))
    assert(got == want, s"$name diverges on\n${rows.mkString("\n")}")
    got.isLeft
  }

  private val smoothings = Seq(
    (None, None),
    (Some(SavGol.DefaultPlayer), Some(SavGol.DefaultBall)),
    (Some(SavGol(5, 2)), None))

  test("kinematics kernel equals the window chain, errors included") {
    val cases = draw(genSeriesTable, 24, 4101L)
    // the generator must reach the degenerate cases it exists for
    val all = cases.flatten
    assert(all.exists(r => r.get(3) == null) && all.exists(r => r.get(7) == null))
    val raised = for ((rows, i) <- cases.zipWithIndex; (player, ball) = smoothings(i % smoothings.size))
      yield assertParity(s"case $i ($player, $ball)", rows)(
        Kinematics(_, TrackingSettings(), player, ball),
        WindowReference.kinematics(_, TrackingSettings(), player, ball))
    // both outcomes are exercised: tables that compute and tables that raise
    assert(raised.count(identity) > 0 && raised.count(!_) > raised.size / 2, raised)
  }

  test("a repeated timestamp raises DIVIDE_BY_ZERO on both paths") {
    val rows = Seq(0L, 40000L, 40000L).zipWithIndex.map { case (ts, f) =>
      Row("g", 1, f.toLong, ts, "h1", "home", null, 1.0 * f, 0.0, 0.0, null)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    assert(outcome(Kinematics(df)) == Left("DIVIDE_BY_ZERO"))
    assert(outcome(WindowReference.kinematics(df)) == Left("DIVIDE_BY_ZERO"))
  }

  test("without ANSI a zero dt fills 0 on both paths") {
    val cases = draw(genSeriesTable, 8, 4301L)
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try cases.zipWithIndex.foreach { case (rows, i) =>
      assert(!assertParity(s"non-ANSI case $i", rows)(
        Kinematics(_), WindowReference.kinematics(_)))
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("possession and goalkeeper kernels equal the window forms") {
    draw(genFrameTable, 24, 4201L).zipWithIndex.foreach { case (rows, i) =>
      assert(!assertParity(s"possession case $i", rows)(
        Possession.inferBallCarrier(_), WindowReference.possession(_)))
      assert(!assertParity(s"goalkeepers case $i", rows)(
        Goalkeepers.infer(_), WindowReference.goalkeepers(_)))
      assertParity(s"chain case $i", rows.map { r =>
        Row.fromSeq(r.toSeq.updated(3, Option(r.get(2)).map(_.asInstanceOf[Long] * 40000L).orNull))
      })(
        d => Goalkeepers.infer(Possession.inferBallCarrier(Kinematics(d))),
        d => WindowReference.goalkeepers(WindowReference.possession(WindowReference.kinematics(d))))
    }
  }

  test("a self-join of a kernel's output resolves") {
    val rows = draw(genFrameTable, 1, 4401L).head
    val df = Possession.inferBallCarrier(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    val owning = df.groupBy(GameId, PeriodId, FrameId).agg(
      org.apache.spark.sql.functions.max(BallOwningTeamId).as("owning"))
    val joined = df.join(owning, Seq(GameId, PeriodId, FrameId))
    assert(joined.count() === df.filter(
      Cols.ByFrame.map(c => org.apache.spark.sql.functions.col(c).isNotNull).reduce(_ && _)).count())
    assert(df.join(df, Seq(GameId, PeriodId, FrameId, ObjectId)).columns.length > df.columns.length)
  }
}
