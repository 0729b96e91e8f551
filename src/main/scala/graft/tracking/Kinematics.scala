package graft.tracking

import graft.functions.{Group, GroupKernel, GroupLocal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Velocity / acceleration / capping over the canonical long table.
  *
  * Reference semantics (`kloppy_polars.py:382-491`, `soccer/dataset/
  * utils.py:6-39`):
  *  - dt in seconds is derived from *milliseconds* (duration truncated
  *    to ms, then /1000);
  *  - vx = Δx/Δt per (object, period), first row filled with 0;
  *  - optional Savitzky-Golay smoothing of vx/vy/vz with separate
  *    player/ball params (defaults (7,1)/(3,1));
  *  - v = √(vx²+vy²+vz²) from the (smoothed) components;
  *  - ax = Δvx/Δt with the *same* dt column; a = magnitude;
  *  - only the magnitudes v and a are capped (components untouched).
  *
  * The chain runs as one series kernel on [[GroupLocal]]: one group per
  * (game, id, period), ordered by timestamp, so the plan is one shuffle
  * and one sort. The kernel reads each series once, differences it,
  * smooths the velocity components with [[SavGol.smoothArray]],
  * differences again and caps the magnitudes. Its arithmetic is the
  * SQL arithmetic term for term, so the results equal the window form
  * (`WindowReference` in the tests) bit for bit:
  *  - a difference with a null operand is null, and a null quotient is
  *    filled with 0;
  *  - a zero dt raises Spark's `DIVIDE_BY_ZERO` under ANSI (as `Divide`
  *    does) when the numerator is not null; without ANSI the quotient
  *    is null, so 0. The acceleration of a dropped row is never
  *    computed;
  *  - a cap applies when the magnitude is greater than the limit in SQL
  *    order (NaN is greater than every number); a null id is neither
  *    ball nor player and is not capped.
  *
  * Rows with null x and y are dropped after the series is computed, as
  * the reference drops null-position rows. The timestamp is a BIGINT of
  * microseconds and the coordinates DOUBLE.
  */
object Kinematics {
  import Cols._

  /** Full kinematics chain of the reference `load()` steps 5-8
    * (`kloppy_polars.py:882-894`): velocity (+smoothing), acceleration,
    * caps, and the drop of null-position rows. */
  def apply(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      playerSmoothing: Option[SavGol] = Some(SavGol.DefaultPlayer),
      ballSmoothing: Option[SavGol] = Some(SavGol.DefaultBall)): DataFrame =
    GroupLocal(df, ByObjectPeriod, Seq(Timestamp),
      SeriesKernel(settings, playerSmoothing, ballSmoothing, SQLConf.get.ansiEnabled))

  // The step of the series, as listed above; the streaming twin
  // (`graft.streaming.StreamingKinematics`) runs it too.

  /** Seconds from micros truncated to milliseconds. */
  private[graft] def seconds(tsMicros: Long): Double =
    (tsMicros.toDouble / 1000.0).toLong.toDouble / 1000.0

  /** `coalesce(num / dt, 0)` for a non-null numerator and dt. */
  private[graft] def quotient(num: Double, dt: Double, ansi: Boolean): Double =
    if (dt == 0.0) { if (ansi) throw PlanShim.divideByZero() else 0.0 }
    else num / dt

  private[graft] def magnitude(x: Double, y: Double, z: Double): Double =
    math.sqrt(x * x + y * y + z * z)

  /** The cap of a magnitude: `isBall` is empty for a null id. */
  private[graft] def cap(x: Double, isBall: Option[Boolean], ballLimit: Double, playerLimit: Double): Double =
    isBall match {
      case Some(true) if greater(x, ballLimit) => ballLimit
      case Some(false) if greater(x, playerLimit) => playerLimit
      case _ => x
    }

  /** SQL `a > b` on doubles: NaN is greater than every number. */
  private def greater(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b
}

/** One object's samples in one period → vx, vy, vz, v, ax, ay, az, a,
  * through the step functions of [[Kinematics]]. */
private final case class SeriesKernel(
    settings: TrackingSettings,
    playerSmoothing: Option[SavGol],
    ballSmoothing: Option[SavGol],
    ansi: Boolean) extends GroupKernel {
  import Cols._
  import Kinematics.{cap, magnitude, seconds}

  override def inputs: Seq[(String, DataType)] =
    Seq(ObjectId -> StringType, Timestamp -> LongType, X -> DoubleType, Y -> DoubleType, Z -> DoubleType)
  override def values: Seq[StructField] =
    Seq(Vx, Vy, Vz, Speed, Ax, Ay, Az, Acceleration).map(StructField(_, DoubleType, nullable = false))

  private val IdIn = 0; private val TsIn = 1; private val XIn = 2; private val YIn = 3
  private val ball = UTF8String.fromString(Ball)

  private def quotient(num: Double, dt: Double): Double = Kinematics.quotient(num, dt, ansi)

  override def run(g: Group): Unit = {
    val n = g.size
    val isBall = Option(g.string(0, IdIn)).map(_ == ball)
    // dt(i) in seconds from ms-truncated timestamps; NaN marks a null dt
    val dt = new Array[Double](n)
    var prev = Double.NaN
    var i = 0
    while (i < n) {
      val sec =
        if (g.isNull(i, TsIn)) Double.NaN
        else seconds(g.long(i, TsIn))
      dt(i) = if (i == 0 || sec.isNaN || prev.isNaN) Double.NaN else sec - prev
      prev = sec
      i += 1
    }
    val smoothing = if (isBall.contains(true)) ballSmoothing else playerSmoothing
    val vel = Array.tabulate(3) { c =>
      val in = XIn + c
      val raw = new Array[Double](n)
      var i = 1
      while (i < n) {
        if (!dt(i).isNaN && !g.isNull(i, in) && !g.isNull(i - 1, in))
          raw(i) = quotient(g.double(i, in) - g.double(i - 1, in), dt(i))
        i += 1
      }
      smoothing.fold(raw)(_.smoothArray(raw))
    }
    val (vx, vy, vz) = (vel(0), vel(1), vel(2))
    i = 0
    while (i < n) {
      if (g.isNull(i, XIn) && g.isNull(i, YIn)) g.drop(i)
      else {
        val fromPrev = i > 0 && !dt(i).isNaN
        val ax = if (fromPrev) quotient(vx(i) - vx(i - 1), dt(i)) else 0.0
        val ay = if (fromPrev) quotient(vy(i) - vy(i - 1), dt(i)) else 0.0
        val az = if (fromPrev) quotient(vz(i) - vz(i - 1), dt(i)) else 0.0
        g.setDouble(i, 0, vx(i)); g.setDouble(i, 1, vy(i)); g.setDouble(i, 2, vz(i))
        g.setDouble(i, 3, cap(magnitude(vx(i), vy(i), vz(i)),
          isBall, settings.maxBallSpeed, settings.maxPlayerSpeed))
        g.setDouble(i, 4, ax); g.setDouble(i, 5, ay); g.setDouble(i, 6, az)
        g.setDouble(i, 7, cap(magnitude(ax, ay, az),
          isBall, settings.maxBallAcceleration, settings.maxPlayerAcceleration))
      }
      i += 1
    }
  }
}
