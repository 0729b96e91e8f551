package graft.tracking

import graft.functions.{Group, GroupKernel, GroupLocal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Goalkeeper inference (M9, `kloppy_polars.py:669-723`): per (frame,
  * team) the player closest to the relevant goal is labeled "GK" —
  * the left goal for the possessing team, the right goal otherwise
  * (orientation is already possession-normalized upstream). Equality
  * with the per-(frame, team) minimum replicates the reference exactly,
  * including its multi-GK behavior on exact ties. Ball rows pass
  * through untouched.
  *
  * Runs as one frame kernel on [[GroupLocal]], keyed by (game, period,
  * frame) — the key [[Possession]] already clusters and sorts by, so
  * after it the stage adds no exchange and no sort. Within a frame the
  * kernel groups rows by team (null team included), takes each team's
  * minimum distances in SQL order (nulls ignored, NaN greatest) and
  * compares with SQL equality (NaN equals NaN).
  */
object Goalkeepers {
  import Cols._

  def infer(df: DataFrame, settings: TrackingSettings = TrackingSettings()): DataFrame =
    GroupLocal(df, ByFrame, Nil, GoalkeeperKernel(settings.pitch.length / 2))
}

/** One frame → position_name (in place). */
private final case class GoalkeeperKernel(goalX: Double) extends GroupKernel {
  import Cols._

  override def inputs: Seq[(String, DataType)] = Seq(TeamId -> StringType,
    BallOwningTeamId -> StringType, X -> DoubleType, Y -> DoubleType, PositionName -> StringType)
  override def values: Seq[StructField] = Seq(StructField(PositionName, StringType))

  private val TeamIn = 0; private val OwningIn = 1; private val XIn = 2; private val YIn = 3
  private val PositionIn = 4
  private val ball = UTF8String.fromString(Ball)
  private val gk = UTF8String.fromString("GK")

  /** SQL `min` of two non-null doubles: NaN is greater than every number. */
  private def least(a: Double, b: Double): Double = if (a.isNaN || (!b.isNaN && b < a)) b else a

  /** SQL equality on doubles: NaN equals NaN. */
  private def same(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)

  override def run(g: Group): Unit = {
    val n = g.size
    val team = Array.tabulate(n)(g.string(_, TeamIn))
    // distances to the left (0) and right (1) goal; NaN with `has` false for null
    val dist = Array.ofDim[Double](2, n)
    val has = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (ball != team(i) && !g.isNull(i, XIn) && !g.isNull(i, YIn)) {
        val x = g.double(i, XIn); val y = g.double(i, YIn)
        dist(0)(i) = math.sqrt((x - -goalX) * (x - -goalX) + y * y)
        dist(1)(i) = math.sqrt((x - goalX) * (x - goalX) + y * y)
        has(i) = true
      }
      i += 1
    }
    // per-team minima: the team's first row holds them
    val first = Array.tabulate(n)(i => team.indexWhere(t => t == team(i)))
    val minOf = Array.fill(2, n)(Double.NaN)
    val minHas = new Array[Boolean](n)
    i = 0
    while (i < n) {
      if (has(i)) {
        val f = first(i)
        var s = 0
        while (s < 2) {
          minOf(s)(f) = if (minHas(f)) least(minOf(s)(f), dist(s)(i)) else dist(s)(i)
          s += 1
        }
        minHas(f) = true
      }
      i += 1
    }
    i = 0
    while (i < n) {
      if (ball == team(i)) g.setString(i, 0, g.string(i, PositionIn))
      else {
        val side = if (team(i) != null && team(i) == g.string(i, OwningIn)) 0 else 1
        val f = first(i)
        g.setString(i, 0, if (has(i) && same(dist(side)(i), minOf(side)(f))) gk else null)
      }
      i += 1
    }
  }
}
