package graft.tracking

import graft.functions.{Group, GroupKernel, GroupLocal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ball-owning team / ball-carrier inference (M8,
  * `kloppy_polars.py:546-667`).
  *
  * Reference shape: split players/ball, join ball xyz per frame, two
  * join-aggregates ("arg-min with threshold"), re-join, flag carrier,
  * drop frames without possession.
  *
  * Spark shape: one frame kernel on [[GroupLocal]], keyed by (game,
  * period, frame): one shuffle by the frame key and one sort, no join.
  * For each frame the kernel takes
  *  - the ball position: the maximum x, y and z over the ball rows
  *    (team `ball`), nulls ignored;
  *  - each player's distance to it, null when a coordinate is null;
  *  - the candidate owning team: the team of the least (distance, id,
  *    team) among players closer than the threshold, in SQL order (nulls
  *    first, NaN greatest). A row's own non-null owning team wins over
  *    the candidate;
  *  - the carrier: the id of the least (distance, id) among players
  *    closer than the threshold whose team equals their row's owning
  *    team.
  * Frames with no owning team are dropped. Ties break by (distance, id),
  * so the result does not depend on row order, unlike the reference's
  * insertion-order `first()`. The window form of the same inference
  * (`WindowReference` in the tests) is its bit-for-bit twin.
  */
object Possession {
  import Cols._

  def inferBallCarrier(df: DataFrame, settings: TrackingSettings = TrackingSettings()): DataFrame =
    GroupLocal(df, ByFrame, Nil, PossessionKernel(settings.ballCarrierThreshold))
}

/** One frame → ball_owning_team_id (in place), is_ball_carrier. */
private final case class PossessionKernel(threshold: Double) extends GroupKernel {
  import Cols._

  override def inputs: Seq[(String, DataType)] = Seq(TeamId -> StringType, ObjectId -> StringType,
    X -> DoubleType, Y -> DoubleType, Z -> DoubleType, BallOwningTeamId -> StringType)
  override def values: Seq[StructField] = Seq(
    StructField(BallOwningTeamId, StringType),
    StructField(IsBallCarrier, BooleanType, nullable = false))

  private val TeamIn = 0; private val IdIn = 1; private val XIn = 2; private val OwningIn = 5
  private val ball = UTF8String.fromString(Ball)

  /** SQL order on doubles: NaN is greater than every number. */
  private def compare(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** SQL order on nullable strings: null first. */
  private def compare(a: UTF8String, b: UTF8String): Int =
    if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else a.compareTo(b)

  override def run(g: Group): Unit = {
    val n = g.size
    def isBall(i: Int) = ball == g.string(i, TeamIn)
    // ball position: max over ball rows per coordinate (NaN greatest)
    val at = Array.fill(3)(Double.NaN)
    val seen = new Array[Boolean](3)
    var i = 0
    while (i < n) {
      if (isBall(i)) {
        var c = 0
        while (c < 3) {
          if (!g.isNull(i, XIn + c)) {
            val v = g.double(i, XIn + c)
            if (!seen(c) || compare(v, at(c)) > 0) { at(c) = v; seen(c) = true }
          }
          c += 1
        }
      }
      i += 1
    }
    // distance to the ball; NaN also marks a null distance, which a
    // `< threshold` test rejects just the same
    val near = new Array[Boolean](n)
    val dist = new Array[Double](n)
    i = 0
    while (i < n) {
      if (!isBall(i) && seen(0) && seen(1) && seen(2) &&
          !g.isNull(i, XIn) && !g.isNull(i, XIn + 1) && !g.isNull(i, XIn + 2)) {
        val dx = g.double(i, XIn) - at(0)
        val dy = g.double(i, XIn + 1) - at(1)
        val dz = g.double(i, XIn + 2) - at(2)
        dist(i) = math.sqrt(dx * dx + dy * dy + dz * dz)
        near(i) = dist(i) < threshold
      }
      i += 1
    }
    /** The least near row by (distance, id, team?) among `eligible`, or -1. */
    def argMin(eligible: Int => Boolean, byTeam: Boolean): Int = {
      var best = -1
      var i = 0
      while (i < n) {
        if (near(i) && eligible(i)) {
          if (best < 0) best = i
          else {
            var c = compare(dist(i), dist(best))
            if (c == 0) c = compare(g.string(i, IdIn), g.string(best, IdIn))
            if (c == 0 && byTeam) c = compare(g.string(i, TeamIn), g.string(best, TeamIn))
            if (c < 0) best = i
          }
        }
        i += 1
      }
      best
    }
    val cand = argMin(_ => true, byTeam = true)
    val candTeam = if (cand < 0) null else g.string(cand, TeamIn)
    val owning = Array.tabulate(n)(i => Option(g.string(i, OwningIn)).getOrElse(candTeam))
    val carrier = argMin(i => owning(i) != null && owning(i) == g.string(i, TeamIn), byTeam = false)
    val carrierId = if (carrier < 0) null else g.string(carrier, IdIn)
    i = 0
    while (i < n) {
      if (owning(i) == null) g.drop(i)
      else {
        val id = g.string(i, IdIn)
        g.setString(i, 0, owning(i))
        g.setBoolean(i, 1, id != null && carrierId != null && id == carrierId)
      }
      i += 1
    }
  }
}
