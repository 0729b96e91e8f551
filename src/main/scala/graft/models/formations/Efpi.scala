package graft.models.formations

import graft.functions.{Group, GroupGenerator, GroupLocal}
import graft.tracking.Cols
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EFPI formation detection (M5-M7, arXiv:2506.23843), re-expressed
  * Spark-first from `soccer/models/formations/efpi.py:340-748`.
  *
  * Pipeline stages and their distribution story:
  *
  *  1. '''Segmentation''' (`efpi.py:540-585`): every ∈ {frame,
  *     possession, period, "5m"} becomes a `segment_id` column —
  *     possession via the sessionization idiom (lag + cumsum over
  *     per-game frame order, W3), time buckets via integer division of
  *     the long-micros timestamp (F6, no base-date hack needed).
  *  2. '''Substitution handling''' (`efpi.py:594-645`): segments where
  *     a team fields >10 distinct outfield players rank players by
  *     appearance length and drop rank > 11 via anti join (W4 + J4).
  *  3. '''Segment coordinates''' (`efpi.py:655-680`): mean positions
  *     per (game, period, owning, object, segment) — one partial-agg
  *     shuffle. Means are rounded to 9 decimals so the detection input
  *     is bit-identical across engines regardless of partial-sum order.
  *  4. '''Detection''' (`efpi.py:150-290`): per segment and team, scale
  *     the candidate template set jointly to the team bounding box,
  *     build the player×slot cost matrix, solve the assignment
  *     ([[Hungarian.solveCanonical]] — canonical lexicographic brute
  *     force at n ≤ 4, Kuhn-Munkres O(n³) beyond, replacing scipy's
  *     `linear_sum_assignment`), pick the min-total-cost formation.
  *     Runs as one kernel per (game, period, segment, owning) group on
  *     the group-local node ([[EfpiKernel]]) — one group is ≤23 rows,
  *     so detection parallelism is the number of segments, which
  *     scales with the data.
  *  5. '''Hysteresis''' (`efpi.py:222-242`, only when `changeThreshold`
  *     is set): the keep-or-update decision is a sequential fold over
  *     segment-ordered detections. Detection stays parallel (stage 4
  *     emits per-segment candidates); only the tiny candidate stream
  *     (one row per team per segment) folds sequentially per game via
  *     `groupByKey(game).flatMapGroups`, mirroring the reference's
  *     `maintain_order=True` global state at per-game scope — the
  *     natural distributed unit (state never crosses games).
  *
  * With the default `changeThreshold = None` the reference always
  * updates (`efpi.py:228-230`), so detection is stateless per segment
  * and the whole fit is embarrassingly parallel — that path skips
  * stage 5 entirely.
  */
object Efpi {

  final case class Config(
      every: String = "frame", // "frame" | "possession" | "period" | "<N>m" | "<N>s"
      formations: Seq[String] = Templates.ShawGlickman,
      substitutions: String = "drop",
      changeAfterPossession: Boolean = true,
      changeThreshold: Option[Double] = None,
      /** Pre-resolved template geometry (e.g. from
        * [[Templates.library(df*]] over a user table carrying
        * mplsoccer-exact coordinates). When set, `formations` is
        * ignored and this library is broadcast as-is. */
      customTemplates: Option[Templates.Library] = None)

  /** One detection-input row (segment-mean or raw frame coordinates). */
  final case class SegRow(
      game_id: String, period_id: Int, segment_id: Long,
      id: String, team_id: String, position_name: String,
      x: Double, y: Double, ball_owning_team_id: String)

  /** Per-team per-segment detection candidate (stage-4 output). */
  final case class Candidate(
      game_id: String, period_id: Int, segment_id: Long,
      team_id: String, is_attack: Boolean, formation: String, cost: Double,
      ids: Seq[String], labels: Seq[String])

  /** Final exploded per-player row. */
  final case class OutRow(
      game_id: String, period_id: Int, segment_id: Long,
      id: String, team_id: String, position: String, formation: String,
      is_attacking: Option[Boolean])

  private val ballId = Cols.Ball

  // -------------------------------------------------------------------
  // Stage 1: segmentation
  // -------------------------------------------------------------------

  /** Adds `segment_id: Long`. Input must carry game_id, period_id,
    * frame_id, timestamp (long micros), ball_owning_team_id. */
  def addSegmentId(df: DataFrame, every: String): DataFrame = every match {
    case "frame" =>
      df.withColumn("segment_id", col(Cols.FrameId))
    case "period" =>
      df.withColumn("segment_id", col(Cols.PeriodId).cast("long"))
    case "possession" =>
      // sessionize over distinct frames: new segment when the owning
      // team or the period changes (efpi.py:553-571), per game
      val frames = df
        .select(col(Cols.GameId), col(Cols.PeriodId), col(Cols.FrameId),
          col(Cols.BallOwningTeamId))
        .distinct()
      val w = Window.partitionBy(col(Cols.GameId)).orderBy(col(Cols.FrameId))
      val chg =
        (col(Cols.BallOwningTeamId) =!= lag(col(Cols.BallOwningTeamId), 1).over(w)) ||
        (col(Cols.PeriodId) =!= lag(col(Cols.PeriodId), 1).over(w))
      val seg = frames.withColumn("segment_id",
        sum(when(coalesce(chg, lit(true)), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      df.join(seg, Seq(Cols.GameId, Cols.PeriodId, Cols.FrameId, Cols.BallOwningTeamId))
    case dur =>
      // bucket start in micros; integer arithmetic (ts - ts mod bucket)
      // so bucketing is exact — a double division could round a value
      // just below a boundary into the next bucket
      val micros = parseDurationMicros(dur)
      df.withColumn("segment_id",
        col(Cols.Timestamp) - pmod(col(Cols.Timestamp), lit(micros)))
  }

  private[formations] def parseDurationMicros(s: String): Long = {
    val m = "^(\\d+)(m|s)$".r
    s match {
      case m(n, "m") => n.toLong * 60L * 1000000L
      case m(n, "s") => n.toLong * 1000000L
      case _ => throw new IllegalArgumentException(
        s"every='$s' is not one of frame|possession|period|<N>m|<N>s")
    }
  }

  // -------------------------------------------------------------------
  // Stage 2: substitution handling (segment modes only)
  // -------------------------------------------------------------------

  /** Drops the shortest-appearing players beyond 11 per (team, segment)
    * whenever a team fields >10 distinct outfield players in a segment
    * (`efpi.py:594-645`, substitutions="drop"). Tie-break on equal
    * appearance length is by object id (the reference uses ordinal rank
    * in frame order — deterministic id order is the documented
    * deviation). */
  def dropOverlappingSubstitutions(df: DataFrame): DataFrame = {
    val segKeys = Seq(Cols.GameId, Cols.PeriodId, Cols.TeamId, "segment_id")
    val overlapping = df
      .filter(col(Cols.TeamId) =!= ballId &&
        (col(Cols.PositionName).isNull || col(Cols.PositionName) =!= "GK"))
      .groupBy(segKeys.map(col): _*)
      .agg(countDistinct(col(Cols.ObjectId)).as("objects"))
      .filter(col("objects") > 10)
      .drop("objects")
    val playerKeys = Seq(Cols.GameId, Cols.PeriodId, Cols.TeamId, Cols.ObjectId, "segment_id")
    val w = Window.partitionBy(segKeys.map(col): _*)
      .orderBy(col("length").desc, col(Cols.ObjectId))
    val toDrop = df
      .join(overlapping, segKeys)
      .groupBy(playerKeys.map(col): _*)
      .agg(count(lit(1)).as("length"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") > 11)
      .select(playerKeys.map(col): _*)
    df.join(toDrop, playerKeys, "left_anti")
  }

  // -------------------------------------------------------------------
  // Stage 4: per-segment detection (pure function)
  // -------------------------------------------------------------------

  /** Detect both teams of one segment group. Rows are one
    * (game, period, segment, owning) group. Returns attack candidate
    * first, then defend — the order the reference writes state
    * (`efpi.py:314-323`). */
  def detectSegment(rowsIn: Seq[SegRow], lib: Templates.Library): Seq[Candidate] = {
    val rows = rowsIn.sortBy(_.id)
    val owning = rows.head.ball_owning_team_id
    def side(isAttack: Boolean): Option[Candidate] = {
      val teamRows =
        if (isAttack) rows.filter(r => r.team_id == owning && r.team_id != ballId)
        else rows.filter(r => r.team_id != owning && r.team_id != ballId)
      if (teamRows.isEmpty) None
      else {
        val teamId = teamRows.head.team_id
        val outfield = teamRows.filter(r => r.position_name != "GK")
        val gk = teamRows.filter(r => r.position_name == "GK")
        val templates = lib.templates(outfield.size, ltr = isAttack)
        if (outfield.isEmpty || templates.isEmpty) None
        else {
          val (labels, formation, cost) =
            assignFormation(outfield.map(r => (r.x, r.y)).toArray, outfield.size,
              templates, lib.boundsFor(outfield.size, ltr = isAttack))
          Some(Candidate(rows.head.game_id, rows.head.period_id, rows.head.segment_id,
            teamId, isAttack, formation, cost,
            outfield.map(_.id) ++ gk.map(_.id),
            labels.toSeq ++ gk.map(_ => "GK")))
        }
      }
    }
    side(isAttack = true).toSeq ++ side(isAttack = false).toSeq
  }

  /** The stateless (always-update) per-segment resolution — the former
    * `flatMapGroups` body, run by [[EfpiKernel]]. Key columns of the
    * returned [[OutRow]]s are left at their defaults (the caller
    * re-attaches the grouping columns). */
  private[graft] def resolveStatelessSegment(
      rows: Seq[SegRow], lib: Templates.Library): Seq[OutRow] = {
    val cands = detectSegment(rows, lib)
    val byTeam = cands.map(c => c.team_id -> c).toMap
    val labelOf = cands.flatMap(c => c.ids.zip(c.labels).map {
      case (id, l) => id -> (l, c.formation) }).toMap
    val owning = rows.head.ball_owning_team_id
    rows.sortBy(_.id).map { r =>
      if (r.team_id == ballId)
        OutRow("", 0, 0L, r.id, r.team_id, ballId, ballId, None)
      else {
        val lf = labelOf.get(r.id)
        OutRow("", 0, 0L, r.id, r.team_id,
          lf.map(_._1).orNull,
          lf.map(_._2).orElse(byTeam.get(r.team_id).map(_.formation)).orNull,
          Some(r.team_id == owning))
      }
    }
  }

  /** Template matching for one team: joint bounding-box scaling
    * (`efpi.py:150-164`), per-formation assignment cost, argmin with
    * first-index tie-break (np.argmin semantics, `efpi.py:203-205`). */
  def assignFormation(
      coords: Array[(Double, Double)],
      n: Int,
      templates: IndexedSeq[Template],
      jointBounds: (Double, Double, Double, Double)): (Array[String], String, Double) = {
    val (gxMin, gyMin, gxMax, gyMax) = jointBounds
    var minX = Double.PositiveInfinity; var maxX = Double.NegativeInfinity
    var minY = Double.PositiveInfinity; var maxY = Double.NegativeInfinity
    coords.foreach { case (x, y) =>
      if (x < minX) minX = x; if (x > maxX) maxX = x
      if (y < minY) minY = y; if (y > maxY) maxY = y
    }
    val sx = if (gxMax - gxMin != 0.0) (maxX - minX) / (gxMax - gxMin) else 1.0
    val sy = if (gyMax - gyMin != 0.0) (maxY - minY) / (gyMax - gyMin) else 1.0

    var bestCost = Double.PositiveInfinity
    var bestIdx = -1
    var bestAssign: Array[Int] = null
    var t = 0
    while (t < templates.length) {
      val tpl = templates(t)
      val cost = Array.ofDim[Double](n, n)
      var i = 0
      while (i < n) {
        val (px, py) = coords(i)
        var j = 0
        while (j < n) {
          val s = tpl.slots(j)
          val tx = (s.x - gxMin) * sx + minX
          val ty = (s.y - gyMin) * sy + minY
          cost(i)(j) = math.sqrt((px - tx) * (px - tx) + (py - ty) * (py - ty))
          j += 1
        }
        i += 1
      }
      val (assign, total) = Hungarian.solveCanonical(cost)
      if (total < bestCost) { bestCost = total; bestIdx = t; bestAssign = assign }
      t += 1
    }
    val tpl = templates(bestIdx)
    (bestAssign.map(j => tpl.slots(j).label), tpl.name, bestCost)
  }

  // -------------------------------------------------------------------
  // Stage 5: hysteresis fold (reference state classes detection.py:19-148)
  // -------------------------------------------------------------------

  private[graft] final case class TeamState(
      isAttack: Boolean, formation: String, cost: Double,
      ids: Set[String], var labelsDict: Map[String, String])

  /** `__is_update` (`efpi.py:222-242`). */
  private def isUpdate(
      state: Option[TeamState], cand: Candidate, cfg: Config): Boolean = state match {
    case None => true
    case Some(st) =>
      if (cfg.changeThreshold.isEmpty) true
      else if (st.ids != cand.ids.toSet) true
      else if (cfg.changeAfterPossession && st.isAttack != cand.is_attack) true
      else (st.cost - cand.cost) / cand.cost > cfg.changeThreshold.get
  }

  /** One segment's keep-or-update decisions plus row resolution against
    * the running per-team state (mutated in place) — the fold body
    * shared by [[hysteresisFold]], the streamed `mapPartitions` path
    * in [[fit]], and [[graft.streaming.StreamingFormations]]. */
  private[graft] def foldStep(
      state: scala.collection.mutable.Map[String, TeamState],
      game: String, periodId: Int, segId: Long, owning: String,
      cands: Seq[Candidate], present: Seq[(String, String)],
      cfg: Config): Seq[OutRow] = {
    cands.foreach { c =>
      if (isUpdate(state.get(c.team_id), c, cfg)) {
        val dict = state.get(c.team_id).map(_.labelsDict).getOrElse(Map.empty) ++
          c.ids.zip(c.labels).toMap
        state(c.team_id) = TeamState(c.is_attack, c.formation, c.cost, c.ids.toSet, dict)
      }
    }
    present.map { case (objId, teamId) =>
      if (teamId == ballId)
        OutRow(game, periodId, segId, objId, teamId, ballId, ballId, None)
      else {
        val st = state.get(teamId)
        OutRow(game, periodId, segId, objId, teamId,
          st.flatMap(_.labelsDict.get(objId)).orNull,
          st.map(_.formation).orNull,
          Some(teamId == owning))
      }
    }
  }

  /** Sequential keep-or-update fold over segment-ordered candidates of
    * one game. `present` carries every (id, team) in each segment so
    * rows resolve through the (possibly stale) per-team label dict —
    * exactly `get_detected_formations_as_dict` (`detection.py:129-148`).
    * Streaming: one output chunk per input element, O(1) memory in the
    * number of segments. */
  def hysteresisFold(
      game: String,
      perSegment: Iterator[(Long, Int, String, Seq[Candidate], Seq[(String, String)])],
      cfg: Config): Iterator[OutRow] = {
    val state = scala.collection.mutable.Map.empty[String, TeamState]
    perSegment.flatMap { case (segId, periodId, owning, cands, present) =>
      foldStep(state, game, periodId, segId, owning, cands, present, cfg)
    }
  }

  // -------------------------------------------------------------------
  // Driver
  // -------------------------------------------------------------------

  /** Full fit. Input: long-format tracking in BALL_OWNING_TEAM
    * orientation with non-null `ball_owning_team_id` (rows with a null
    * owning team are dropped, as the reference's loader guarantees
    * their absence). Output: one row per object per segment with
    * columns (game_id, period_id, segment_id, id, team_id, position,
    * formation, is_attacking). */
  def fit(
      spark: SparkSession,
      df: DataFrame,
      cfg: Config,
      timeRange: Option[(Long, Long, Int)] = None): DataFrame = {
    import spark.implicits._
    val lib = cfg.customTemplates.getOrElse(Templates.library(cfg.formations))
    val segRows = segmentRows(spark, df, cfg, timeRange)

    if (cfg.changeThreshold.isEmpty) {
      // stateless: always-update (efpi.py:228-230) ⇒ fully parallel.
      // One segment kernel per (game, period, segment, owning) group on
      // the group-local node; in "frame" mode it rides the possession
      // stage's frame partitioning, so detection adds no exchange.
      GroupLocal(segRows.toDF(),
        Seq(Cols.GameId, Cols.PeriodId, "segment_id", Cols.BallOwningTeamId), Nil, EfpiKernel(lib))
        .drop(Cols.BallOwningTeamId)
    } else {
      // parallel detection, then per-game sequential hysteresis fold
      val detected = segRows
        .groupByKey(r => (r.game_id, r.period_id, r.segment_id, r.ball_owning_team_id))
        .mapGroups { (key: (String, Int, Long, String), it: Iterator[SegRow]) =>
          val (game, period, seg, owning) = key
          val rows = it.toSeq
          (game, period, seg, owning, detectSegment(rows, lib),
            rows.sortBy(_.id).map(r => (r.id, r.team_id)))
        }(Encoders.product)
      // stream the fold: co-locate each game's candidate rows, let the
      // shuffle machinery order them (spillable sort, not an in-memory
      // toSeq), and fold with O(1) memory in segments — a full match at
      // every="frame" would otherwise buffer ~270k candidate tuples in
      // one task
      // (game, period, segment): period before segment, because segment
      // ids may restart per period and the fold must never interleave
      // periods (same order as the streaming fold)
      detected
        .repartition(col("_1"))
        .sortWithinPartitions(col("_1"), col("_2"), col("_3"))
        .mapPartitions { it =>
          var game: String = null
          var state: scala.collection.mutable.Map[String, TeamState] = null
          it.flatMap { case (g, period, seg, owning, cands, present) =>
            if (g != game) { // partition holds whole games; reset per game
              game = g
              state = scala.collection.mutable.Map.empty[String, TeamState]
            }
            foldStep(state, g, period, seg, owning, cands, present, cfg)
          }
        }.toDF()
    }
  }

  /** Stages 1-3: the detection input, one row per object per segment
    * (raw coordinates in "frame" mode, rounded segment means
    * otherwise). */
  private[graft] def segmentRows(
      spark: SparkSession,
      df: DataFrame,
      cfg: Config,
      timeRange: Option[(Long, Long, Int)]): Dataset[SegRow] = {
    import spark.implicits._
    require(cfg.substitutions == "drop",
      "substitutions='merge' is not implemented (matches reference efpi.py:645-649)")

    // analysis-window filter (efpi.py:342-344, 404): the reference takes
    // start_time/end_time/period_id together or not at all — the tupled
    // Option makes partial specification unrepresentable
    val scoped = timeRange match {
      case Some((startMicros, endMicros, periodId)) =>
        df.filter(col(Cols.Timestamp).between(startMicros, endMicros) &&
          col(Cols.PeriodId) === periodId)
      case None => df
    }

    val withSeg = addSegmentId(scoped.filter(col(Cols.BallOwningTeamId).isNotNull), cfg.every)

    if (cfg.every == "frame") {
      withSeg.select(
        col(Cols.GameId), col(Cols.PeriodId), col("segment_id"),
        col(Cols.ObjectId).as("id"), col(Cols.TeamId),
        col(Cols.PositionName), col(Cols.X), col(Cols.Y),
        col(Cols.BallOwningTeamId)).as[SegRow]
    } else {
      // segment modes read the segmented table three times through
      // dropOverlappingSubstitutions (overlap agg, rank join, anti
      // join); persist so the upstream kinematics lineage executes
      // once instead of three source scans at scale
      val segBase = withSeg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pruned = dropOverlappingSubstitutions(segBase)
      // mean coordinates per (game, period, owning, object, segment)
      // (efpi.py:655-680); rounded so partial-agg order can't leak
      // into detection input
      val means = pruned
        .groupBy(col(Cols.GameId), col(Cols.PeriodId), col(Cols.BallOwningTeamId),
          col(Cols.ObjectId), col("segment_id"))
        .agg(
          round(avg(col(Cols.X)), 9).as(Cols.X),
          round(avg(col(Cols.Y)), 9).as(Cols.Y),
          first(col(Cols.PositionName)).as(Cols.PositionName),
          first(col(Cols.TeamId)).as(Cols.TeamId))
        .select(
          col(Cols.GameId), col(Cols.PeriodId), col("segment_id"),
          col(Cols.ObjectId).as("id"), col(Cols.TeamId),
          col(Cols.PositionName), col(Cols.X), col(Cols.Y),
          col(Cols.BallOwningTeamId)).as[SegRow]
      // eagerly materialize the tiny per-(object, segment) mean table
      // (localCheckpoint blocks are GC-reclaimed by the context
      // cleaner), then release the full segmented cache — the big
      // persist does not outlive this call
      val mat = means.localCheckpoint(true)
      segBase.unpersist()
      mat
    }
  }

  /** Segment metadata table (`efpi.py:729-744`): one row per distinct
    * (segment, per-object frame span) combination, exactly the
    * reference's `.unique()` on the six selected columns. */
  def segments(df: DataFrame, cfg: Config): DataFrame = {
    val segBase = addSegmentId(df.filter(col(Cols.BallOwningTeamId).isNotNull), cfg.every)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = dropOverlappingSubstitutions(segBase)
      .groupBy(col(Cols.GameId), col(Cols.PeriodId), col(Cols.BallOwningTeamId),
        col(Cols.ObjectId), col("segment_id"))
      .agg(
        countDistinct(col(Cols.FrameId)).as("n_frames"),
        min(col(Cols.Timestamp)).as("start_timestamp"),
        max(col(Cols.Timestamp)).as("end_timestamp"),
        min(col(Cols.FrameId)).as("start_frame_id"),
        max(col(Cols.FrameId)).as("end_frame_id"))
      .select(col("segment_id"), col("n_frames"), col("start_timestamp"),
        col("end_timestamp"), col("start_frame_id"), col("end_frame_id"))
      .distinct()
      // eager: the distinct segment table is tiny; release the big cache
      // before returning instead of leaking it in the session cache
      .localCheckpoint(true)
    segBase.unpersist()
    out
  }
}

/** One (game, period, segment, owning) group → one row per object (id,
  * team_id, position, formation, is_attacking): the stateless detection
  * and row resolution of [[Efpi.resolveStatelessSegment]]. A null
  * coordinate reads as 0.0. */
private[formations] final case class EfpiKernel(lib: Templates.Library) extends GroupGenerator {
  override def inputs: Seq[(String, DataType)] = Seq("id" -> StringType,
    "team_id" -> StringType, "position_name" -> StringType, "x" -> DoubleType,
    "y" -> DoubleType, "ball_owning_team_id" -> StringType)
  override def output: Seq[StructField] = Seq("id", "team_id", "position", "formation")
    .map(StructField(_, StringType)) :+ StructField("is_attacking", BooleanType)

  override def run(g: Group): Iterator[InternalRow] = {
    // detectSegment compares and sorts java.lang.String
    def str(i: Int, in: Int): String = Option(g.string(i, in)).map(_.toString).orNull
    def num(i: Int, in: Int): Double = if (g.isNull(i, in)) 0.0 else g.double(i, in)
    def utf(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    val rows = (0 until g.size).map(i =>
      Efpi.SegRow("", 0, 0L, str(i, 0), str(i, 1), str(i, 2), num(i, 3), num(i, 4), str(i, 5)))
    Efpi.resolveStatelessSegment(rows, lib).iterator.map { o =>
      new GenericInternalRow(Array[Any](utf(o.id), utf(o.team_id), utf(o.position),
        utf(o.formation), o.is_attacking.map(java.lang.Boolean.valueOf).orNull))
    }
  }
}
