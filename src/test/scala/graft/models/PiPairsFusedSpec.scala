package graft.models

import graft.SparkTestSession
import graft.tracking._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Staged-vs-fused equality for the PI pair kernel: the fused
  * [[PressingIntensity.pairs]] must reproduce [[PiStagedReference.pairs]]
  * bit-for-bit on the real pipeline for every declared parameter
  * combination, and on corner frames with null/NaN coordinates, null
  * carrier flags, and null object ids. */
class PiPairsFusedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  private lazy val dat: DataFrame = {
    val trk = SyntheticTracking.df(spark, "/root/testdata/sf0.001", Cols.ByObjectPeriod)
    val kin = Kinematics(trk, TrackingSettings(), None, None)
    Possession.inferBallCarrier(kin, TrackingSettings())
  }

  /** Equality contract: everything bit-exact EXCEPT `pti`, which may
    * differ by 1 ULP — pti is the only output through `exp`, and
    * HotSpot's `_dexp` intrinsic differs from the `StrictMath.exp`
    * fallback by ≤1 ULP on some inputs, so which value a call site
    * produces depends on its JIT compilation state (the STAGED path is
    * itself not bit-reproducible there; verified with a standalone
    * JVM probe — `Math.exp` vs `StrictMath.exp` on the failing inputs).
    * The declared queries round tti/pti to 6 decimals, which absorbs
    * the wobble — checked exactly below via the rounded projection. */
  private def assertEqual(df: DataFrame, staged: DataFrame): Unit = {
    assert(df.schema.map(f => (f.name, f.dataType)) ===
      staged.schema.map(f => (f.name, f.dataType)))
    def keyed(d: DataFrame): Map[String, org.apache.spark.sql.Row] =
      d.collect().map { r =>
        val key = d.columns.zip(r.toSeq).collect {
          case (c, v) if c != "tti" && c != "pti" => s"$c=$v"
        }.mkString("|")
        key -> r
      }.toMap
    val a = keyed(df)
    val b = keyed(staged)
    assert(a.size === b.size, s"row counts differ: ${a.size} vs ${b.size}")
    assert(a.keySet === b.keySet)
    def bits(r: org.apache.spark.sql.Row, c: String): java.lang.Long = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) null else java.lang.Double.doubleToLongBits(r.getDouble(i))
    }
    a.foreach { case (k, ra) =>
      val rb = b(k)
      assert(bits(ra, "tti") === bits(rb, "tti"), s"tti differs at $k")
      val pa = bits(ra, "pti"); val pb = bits(rb, "pti")
      // exp intrinsic and StrictMath.exp are each within 1 ULP of the
      // correctly-rounded result (≤2 ULP apart), and the 1/(1+e)
      // division rounds once more — bound the compound wobble at 4 ULP
      val ok = (pa == null && pb == null) ||
        (pa != null && pb != null && math.abs(pa - pb) <= 4L)
      assert(ok, s"pti differs by >4 ULP at $k: $pa vs $pb")
    }
    // and the query-level contract is EXACT: round-6 projections equal
    def rounded(d: DataFrame): Seq[String] =
      d.withColumn("tti", round(col("tti"), 6)).withColumn("pti", round(col("pti"), 6))
        .collect().map(_.toString).sorted.toSeq
    assert(rounded(df) === rounded(staged))
  }

  private val declaredCombos: Seq[(TrackingSettings, PressingIntensity.Params)] = Seq(
    TrackingSettings() -> PressingIntensity.Params(),
    TrackingSettings() -> PressingIntensity.Params(
      method = "full", ballMethod = "exclude", orient = "pressing"),
    TrackingSettings(homeTeamId = Some("home")) -> PressingIntensity.Params(
      ballMethod = "include", orient = "away_home"),
    TrackingSettings(homeTeamId = Some("home")) -> PressingIntensity.Params(
      speedThreshold = Some(2.0), orient = "home_away"))

  test("fused pairs == staged pairs on the real pipeline, all declared combos") {
    declaredCombos.foreach { case (settings, params) =>
      assertEqual(
        PressingIntensity.pairs(dat, settings, params),
        PiStagedReference.pairs(dat, settings, params))
    }
  }

  test("fused == staged under the time-range filter") {
    val scoped = PressingIntensity.filterTimeRange(dat, 100000000L, 500000000L, 1)
    assertEqual(
      PressingIntensity.pairs(scoped, TrackingSettings(), PressingIntensity.Params()),
      PiStagedReference.pairs(scoped, TrackingSettings(), PressingIntensity.Params()))
  }

  test("remaining enum arms: full/max, full/include, teams/exclude") {
    val combos = Seq(
      TrackingSettings() -> PressingIntensity.Params(method = "full", ballMethod = "max"),
      TrackingSettings() -> PressingIntensity.Params(
        method = "full", ballMethod = "include", orient = "pressing"),
      TrackingSettings(homeTeamId = Some("home")) -> PressingIntensity.Params(
        ballMethod = "exclude", orient = "home_away",
        speedThreshold = Some(1.0)))
    combos.foreach { case (settings, params) =>
      assertEqual(
        PressingIntensity.pairs(dat, settings, params),
        PiStagedReference.pairs(dat, settings, params))
    }
  }

  test("corner frames: null/NaN coordinates, null carrier, null id") {
    import spark.implicits._
    val rows = Seq(
      // frame 1: a null vx on the carrier + NaN coordinate on a defender
      ("f1", "a1", "home", Some(10.0), Some(5.0), Some(0.0),
        None: Option[Double], Some(0.0), Some(0.0), Some(2.0), Some(true)),
      ("f1", "a2", "home", Some(20.0), Some(-5.0), Some(0.0),
        Some(0.0), Some(1.0), Some(0.0), Some(1.0), Some(false)),
      ("f1", "d1", "away", Some(Double.NaN), Some(6.0), Some(0.0),
        Some(-1.0), Some(0.5), Some(0.0), Some(1.1), Some(false)),
      ("f1", "ball", "ball", Some(10.5), Some(5.2), Some(0.1),
        Some(2.0), Some(0.1), Some(0.0), Some(2.0), Some(false)),
      // frame 2: null speed (masking arm), null carrier flag
      ("f2", "a1", "home", Some(1.0), Some(1.0), Some(0.0),
        Some(0.5), Some(0.0), Some(0.0), None: Option[Double], Some(true)),
      ("f2", "d1", "away", Some(4.0), Some(2.0), Some(0.0),
        Some(0.0), Some(0.0), Some(0.0), Some(0.5), None: Option[Boolean]),
      ("f2", "ball", "ball", Some(1.1), Some(1.0), Some(0.0),
        Some(0.5), Some(0.0), Some(0.0), Some(0.5), Some(false)),
      // frame 3: a null object id on a defender
      ("f3", "a1", "home", Some(0.0), Some(0.0), Some(0.0),
        Some(0.0), Some(0.0), Some(0.0), Some(0.0), Some(true)),
      ("f3", null.asInstanceOf[String], "away", Some(6.0), Some(0.0), Some(0.0),
        Some(0.0), Some(0.0), Some(0.0), Some(0.0), Some(false)),
      ("f3", "ball", "ball", Some(0.1), Some(0.0), Some(0.0),
        Some(0.0), Some(0.0), Some(0.0), Some(0.0), Some(false)))
      .toDF("f", ObjectId, TeamId, X, Y, Z, Vx, Vy, Vz, Speed, IsBallCarrier)
      .withColumn(GameId, lit("g")).withColumn(PeriodId, lit(1))
      .withColumn(FrameId, abs(hash(col("f"))).cast("long"))
      .withColumn(Timestamp, col(FrameId) * 40000L)
      .withColumn(BallOwningTeamId, lit("home"))
      .drop("f")
    val combos = Seq(
      TrackingSettings() -> PressingIntensity.Params(),
      TrackingSettings() -> PressingIntensity.Params(
        method = "full", ballMethod = "exclude", orient = "pressing"),
      TrackingSettings(homeTeamId = Some("home")) -> PressingIntensity.Params(
        speedThreshold = Some(2.0), orient = "home_away"))
    combos.foreach { case (settings, params) =>
      assertEqual(
        PressingIntensity.pairs(rows, settings, params),
        PiStagedReference.pairs(rows, settings, params))
    }
  }

  test("rows with a null frame key form no frame on either path") {
    import spark.implicits._
    val frame = Seq(
      ("a1", "home", 10.0, 5.0, 1.0, true),
      ("a2", "home", 20.0, -5.0, 0.5, false),
      ("d1", "away", 12.0, 6.0, -1.0, false),
      ("ball", "ball", 10.5, 5.2, 1.0, false))
    def rows(game: Option[String], period: Option[Int], frameId: Option[Long]) =
      frame.map { case (id, team, x, y, vx, carrier) =>
        (game, period, frameId, id, team, x, y, vx, carrier)
      }
    val df = (rows(Some("g"), Some(1), Some(7L)) ++ rows(Some("g"), Some(1), None) ++
      rows(None, Some(1), Some(8L)) ++ rows(Some("g"), None, Some(9L)))
      .toDF(GameId, PeriodId, FrameId, ObjectId, TeamId, X, Y, Vx, IsBallCarrier)
      .withColumn(Timestamp, coalesce(col(FrameId), lit(0L)) * 40000L)
      .withColumn(Z, lit(0.0)).withColumn(Vy, lit(0.0)).withColumn(Vz, lit(0.0))
      .withColumn(Speed, abs(col(Vx)))
      .withColumn(BallOwningTeamId, lit("home"))
    Seq(PressingIntensity.Params(),
      PressingIntensity.Params(method = "full", ballMethod = "include")).foreach { params =>
      val fused = PressingIntensity.pairs(df, TrackingSettings(), params)
      assert(fused.select(GameId, PeriodId, FrameId).distinct().collect().toSeq ===
        Seq(org.apache.spark.sql.Row("g", 1, 7L)))
      assertEqual(fused, PiStagedReference.pairs(df, TrackingSettings(), params))
    }
  }
}
