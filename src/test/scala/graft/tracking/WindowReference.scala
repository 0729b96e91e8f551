package graft.tracking

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The window-plan forms of the tracking chain: the reference twins of
  * the group kernels in [[Kinematics]], [[Possession]] and
  * [[Goalkeepers]]. Each builds the same columns as its kernel out of
  * `Window` aggregates and `lag`/`lead` terms, so the parity spec can
  * compare the two bit for bit, errors included. */
object WindowReference {
  import Cols._

  /** Savitzky-Golay smoothing as a window FIR filter: `lag`/`lead` sums
    * with the coefficients of [[SavGol.projection]], folded from the
    * first term. `ordered` is the partition's ordering window; `n`/`rn`
    * are count-over-partition and row_number over the same keys. */
  def savGol(sg: SavGol, v: Column, ordered: WindowSpec, n: Column, rn: Column): Column = {
    import sg.{m, projection, window}
    def at(offset: Int): Column =
      if (offset == 0) v
      else if (offset < 0) lag(v, -offset).over(ordered)
      else lead(v, offset).over(ordered)
    def dot(coeffs: Array[Double], term: Int => Column): Column =
      coeffs.indices.map(j => lit(coeffs(j)) * term(j)).reduce(_ + _)
    val interior = dot(sg.centerCoeffs, j => at(j - m))
    val headCases = (0 until m).map(i => (rn - 1 === i, dot(projection(i), j => at(j - i))))
    val tailCases = (0 until m).map { d =>
      (n - rn === d, dot(projection(window - 1 - d), j => at(j - (window - 1) + d)))
    }
    val branched = (headCases ++ tailCases)
      .foldLeft(when(lit(false), v)) { case (acc, (cond, value)) => acc.when(cond, value) }
      .otherwise(interior)
    when(n < window, v).otherwise(branched)
  }

  private def wObj = Window.partitionBy(ByObjectPeriod.map(col): _*).orderBy(col(Timestamp))
  private def wObjAll = Window.partitionBy(ByObjectPeriod.map(col): _*)
  private def mag(a: Column, b: Column, c: Column): Column = sqrt(a * a + b * b + c * c)

  def withVelocity(
      df: DataFrame,
      playerSmoothing: Option[SavGol] = Some(SavGol.DefaultPlayer),
      ballSmoothing: Option[SavGol] = Some(SavGol.DefaultBall)): DataFrame = {
    val w = wObj
    val sec = (col(Timestamp).cast("long") / 1000L).cast("long") / lit(1000.0)
    val raw = df
      .select(col("*"),
        lag(sec, 1).over(w).as("__lsec"),
        lag(col(X), 1).over(w).as("__lx"),
        lag(col(Y), 1).over(w).as("__ly"),
        lag(col(Z), 1).over(w).as("__lz"))
      .withColumn("__dt", sec - col("__lsec"))
      .withColumn(Vx, coalesce((col(X) - col("__lx")) / col("__dt"), lit(0.0)))
      .withColumn(Vy, coalesce((col(Y) - col("__ly")) / col("__dt"), lit(0.0)))
      .withColumn(Vz, coalesce((col(Z) - col("__lz")) / col("__dt"), lit(0.0)))
      .drop("__lsec", "__lx", "__ly", "__lz")
    val smoothed =
      if (playerSmoothing.isEmpty && ballSmoothing.isEmpty) raw
      else {
        val withIdx = raw.withColumn("__n", count(lit(1)).over(wObjAll))
          .withColumn("__rn", row_number().over(wObj))
        def smooth(c: String): Column = {
          def by(s: Option[SavGol]) = s.map(savGol(_, col(c), wObj, col("__n"), col("__rn"))).getOrElse(col(c))
          when(col(ObjectId) === Ball, by(ballSmoothing)).otherwise(by(playerSmoothing))
        }
        Seq(Vx, Vy, Vz).foldLeft(withIdx)((d, c) => d.withColumn(c, smooth(c)))
          .drop("__n", "__rn")
      }
    smoothed.withColumn(Speed, mag(col(Vx), col(Vy), col(Vz)))
  }

  def withAcceleration(df: DataFrame): DataFrame = {
    val w = wObj
    df.select(col("*"),
        lag(col(Vx), 1).over(w).as("__lvx"),
        lag(col(Vy), 1).over(w).as("__lvy"),
        lag(col(Vz), 1).over(w).as("__lvz"))
      .withColumn(Ax, coalesce((col(Vx) - col("__lvx")) / col("__dt"), lit(0.0)))
      .withColumn(Ay, coalesce((col(Vy) - col("__lvy")) / col("__dt"), lit(0.0)))
      .withColumn(Az, coalesce((col(Vz) - col("__lvz")) / col("__dt"), lit(0.0)))
      .withColumn(Acceleration, mag(col(Ax), col(Ay), col(Az)))
      .drop("__lvx", "__lvy", "__lvz")
  }

  def capSpeedAcceleration(df: DataFrame, s: TrackingSettings): DataFrame = {
    val isBall = col(ObjectId) === Ball
    df.withColumn(Speed,
        when(isBall && col(Speed) > s.maxBallSpeed, s.maxBallSpeed)
          .when(!isBall && col(Speed) > s.maxPlayerSpeed, s.maxPlayerSpeed)
          .otherwise(col(Speed)))
      .withColumn(Acceleration,
        when(isBall && col(Acceleration) > s.maxBallAcceleration, s.maxBallAcceleration)
          .when(!isBall && col(Acceleration) > s.maxPlayerAcceleration, s.maxPlayerAcceleration)
          .otherwise(col(Acceleration)))
  }

  /** The window form of [[Kinematics.apply]]. */
  def kinematics(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      playerSmoothing: Option[SavGol] = Some(SavGol.DefaultPlayer),
      ballSmoothing: Option[SavGol] = Some(SavGol.DefaultBall)): DataFrame =
    capSpeedAcceleration(withAcceleration(withVelocity(df, playerSmoothing, ballSmoothing)), settings)
      .drop("__dt")
      .filter(!(col(X).isNull && col(Y).isNull))

  /** The window form of [[Possession.inferBallCarrier]]: conditional
    * window maxima for the ball position and `min(struct(dist, id, …))`
    * arg-mins over the frame key. */
  def possession(df: DataFrame, settings: TrackingSettings = TrackingSettings()): DataFrame = {
    val theta = settings.ballCarrierThreshold
    val wf = Window.partitionBy(ByFrame.map(col): _*)
    val isBall = col(TeamId) === Ball
    val withBall = df
      .select(col("*"),
        max(when(isBall, col(X))).over(wf).as("__bx"),
        max(when(isBall, col(Y))).over(wf).as("__by"),
        max(when(isBall, col(Z))).over(wf).as("__bz"))
      .withColumn("__dist",
        when(isBall, lit(null).cast("double")).otherwise(
          sqrt((col(X) - col("__bx")) * (col(X) - col("__bx"))
            + (col(Y) - col("__by")) * (col(Y) - col("__by"))
            + (col(Z) - col("__bz")) * (col(Z) - col("__bz")))))
    val p1 = withBall
      .withColumn("__cand",
        min(when(col("__dist") < theta,
          struct(col("__dist"), col(ObjectId), col(TeamId)))).over(wf)
          .getField(TeamId))
      .withColumn(BallOwningTeamId, coalesce(col(BallOwningTeamId), col("__cand")))
    val onOwning = col(TeamId) === col(BallOwningTeamId)
    val p2 = p1
      .withColumn("__carrier",
        min(when(onOwning && col("__dist") < theta,
          struct(col("__dist"), col(ObjectId)))).over(wf)
          .getField(ObjectId))
      .withColumn(IsBallCarrier, coalesce(col(ObjectId) === col("__carrier"), lit(false)))
    p2.filter(col(BallOwningTeamId).isNotNull)
      .drop("__bx", "__by", "__bz", "__dist", "__cand", "__carrier")
  }

  /** The window form of [[Goalkeepers.infer]]: per-(frame, team)
    * window minima of the goal distances. */
  def goalkeepers(df: DataFrame, settings: TrackingSettings = TrackingSettings()): DataFrame = {
    val goalX = settings.pitch.length / 2
    val isBall = col(TeamId) === Ball
    val dl = sqrt((col(X) - lit(-goalX)) * (col(X) - lit(-goalX)) + col(Y) * col(Y))
    val dr = sqrt((col(X) - lit(goalX)) * (col(X) - lit(goalX)) + col(Y) * col(Y))
    val wft = Window.partitionBy(ByFrameTeam.map(col): _*)
    df.withColumn("__dl", when(isBall, lit(null).cast("double")).otherwise(dl))
      .withColumn("__dr", when(isBall, lit(null).cast("double")).otherwise(dr))
      .withColumn("__mdl", min(col("__dl")).over(wft))
      .withColumn("__mdr", min(col("__dr")).over(wft))
      .withColumn(PositionName,
        when(isBall, col(PositionName)).otherwise(
          when(col(TeamId) === col(BallOwningTeamId),
            when(col("__dl") === col("__mdl"), lit("GK")).otherwise(lit(null).cast("string")))
            .otherwise(
              when(col("__dr") === col("__mdr"), lit("GK")).otherwise(lit(null).cast("string")))))
      .drop("__dl", "__dr", "__mdl", "__mdr")
  }
}
