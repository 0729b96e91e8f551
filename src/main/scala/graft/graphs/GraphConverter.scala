package graft.graphs

import graft.functions.GroupLocal
import graft.tracking.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frame → graph tensors (G1-G10), Spark-first.
  *
  * Reference: `unravel/soccer/graphs/graph_converter.py` runs a NumPy
  * callback per frame (`map_groups`). Here the assembly is the same
  * per-frame program, for every adjacency type: [[GraphKernel]] on the
  * group-local node ([[graft.functions.GroupLocal]]) pads, orders,
  * featurizes and connects one frame in compiled Scala, keyed by the
  * frame. [[graphFrames]] plans it over the input, and
  * [[graphFramesBucketed]] over a frame-key-bucketed copy of it.
  *
  * The relational building blocks serve queries that read them
  * directly: node features are row-local `Column`s (Features.scala) with
  * the per-frame ball position from a window aggregate, [[pairs]] is the
  * within-frame pair table with the adjacency value ([[adjacency]]) and
  * edge features, and [[withNodeIndex]] replicates the reference's node
  * sort (`graph_converter.py:214-222`, [[sortValue]]): possession
  * players, then defenders, then ball, each by object id. They are also
  * the kernel's only definitions: [[GraphKernel]] binds the default
  * feature Columns, [[adjacency]] and [[sortValue]] (once per settings
  * and conf) and evaluates them per node and per pair, so a change to
  * any of them changes [[graphFrames]] too.
  */
object GraphConverter {
  import Cols._

  private val frameKeys = Seq(GameId, PeriodId, FrameId)
  private def wFrame = Window.partitionBy(frameKeys.map(col): _*)

  /** Node-order value of the reference sort expression:
    * ball → 2, possession player → -1, defender → 0; null when a team or
    * owning-team comparison is null. [[withNodeIndex]] orders by it, and
    * [[GraphKernel]] and the streaming graphs evaluate it bound
    * ([[NodeOrder]]). */
  private[graphs] def sortValue: Column = {
    val isBall = col(TeamId) === Ball
    val owning = (col(BallOwningTeamId) === col(TeamId)) && !isBall
    isBall.cast("int") * 2 - owning.cast("int")
  }

  /** Adds `node_idx` (0-based position in the frame's node order).
    * Idempotent: a pre-indexed input passes through, so pipelines that
    * index once (graphFrames) don't pay the window twice. */
  def withNodeIndex(df: DataFrame): DataFrame =
    if (df.columns.contains("node_idx")) df
    else {
      val w = Window.partitionBy(frameKeys.map(col): _*)
        .orderBy(sortValue.asc, col(ObjectId).asc)
      df.withColumn("node_idx", row_number().over(w) - 1)
    }

  /** G9: keep frames with exactly 3 distinct team ids (2 teams + ball)
    * — one window pass, no join (`graph_converter.py:224-238`). */
  def removeIncompleteFrames(df: DataFrame): DataFrame =
    df.withColumn("__nteams", size(collect_set(col(TeamId)).over(wFrame)))
      .filter(col("__nteams") === 3)
      .drop("__nteams")

  /** O5 frame sampling (`graph_converter.py:206-212`). */
  def sample(df: DataFrame, rate: Double): DataFrame =
    df.filter(col(FrameId) % (1.0 / rate) === 0)

  /** G10: fail fast if any frame carries >1 graph_id or label
    * (`graph_converter.py:610-623`). */
  def validateIntegrity(df: DataFrame, cols: Seq[String]): Unit = {
    val present = cols.filter(df.columns.contains)
    if (present.nonEmpty) {
      val bad = df.groupBy(frameKeys.map(col): _*)
        .agg(present.map(c => countDistinct(col(c)).as(c)).head,
          present.map(c => countDistinct(col(c)).as(c)).tail: _*)
        .filter(present.map(c => col(c) > 1).reduce(_ || _))
        .limit(1).count()
      require(bad == 0, integrityViolation(present))
    }
  }

  private[graphs] def integrityViolation(cols: Seq[String]): String =
    s"graph integrity violation: a frame has multiple values for ${cols.mkString(",")}"

  /** Per-node features: adds the ball-position helper columns and
    * `x_features` ARRAY<DOUBLE> (+ `node_idx`). */
  def withNodeFeatures(
      df: DataFrame,
      settings: GraphSettings,
      features: Seq[Features.NodeFeature] = Nil): DataFrame = {
    val feats = if (features.nonEmpty) features else Features.defaultNodeFeatures(settings)
    val isBall = col(TeamId) === Ball
    // ball position default (0,0,0) when absent (features/utils.py:235-242)
    val base = df
      .select(col("*"),
        coalesce(max(when(isBall, nanvl(col(X), lit(1e-10)))).over(wFrame), lit(0.0)).as("__ball_x"),
        coalesce(max(when(isBall, nanvl(col(Y), lit(1e-10)))).over(wFrame), lit(0.0)).as("__ball_y"),
        coalesce(max(when(isBall, nanvl(col(Z), lit(1e-10)))).over(wFrame), lit(0.0)).as("__ball_z"))
    withNodeIndex(base)
      .withColumn("x_features", array(Features.nodeFeatureColumns(settings, feats): _*))
      .drop("__ball_x", "__ball_y", "__ball_z")
  }

  /** G6 global/graph features (`node_features_pl.py:6-16`,
    * `graph_converter.py:643-667`): append constant-per-frame columns
    * to each node's feature array — on the ball row only (zeros
    * elsewhere, `type="ball"`) or on every row (`type="all"`). Call
    * [[validateGlobalConstancy]] first to replicate the reference's
    * multiple-values error. */
  def withGlobalFeatures(
      df: DataFrame,
      globalCols: Seq[String],
      globalType: String = "ball"): DataFrame = {
    require(Set("ball", "all")(globalType),
      "global_features_type should be either of {ball, all}")
    val isBall = col(TeamId) === Ball
    val globals = array(globalCols.map(c => col(c).cast("double")): _*)
    val zeros = array(globalCols.map(_ => lit(0.0)): _*)
    val extra = globalType match {
      case "ball" => when(isBall, globals).otherwise(zeros)
      case "all" => globals
    }
    df.withColumn("x_features", concat(col("x_features"), extra))
  }

  /** Fail fast when a would-be global feature varies within a frame
    * (`graph_converter.py:643-652`). */
  def validateGlobalConstancy(df: DataFrame, globalCols: Seq[String]): Unit = {
    val bad = df.groupBy(frameKeys.map(col): _*)
      .agg(globalCols.map(c => countDistinct(col(c)).as(c)).head,
        globalCols.map(c => countDistinct(col(c)).as(c)).tail: _*)
      .filter(globalCols.map(c => col(c) > 1).reduce(_ || _))
      .limit(1).count()
    require(bad == 0,
      s"global_feature_cols contains multiple different values per frame for ${globalCols.mkString(",")}")
  }

  /** Within-frame pair table with the adjacency value `a` and
    * `e_features` ARRAY<DOUBLE>; `i_*` is the matrix row node, `j_*`
    * the column node. */
  def pairs(
      df: DataFrame,
      settings: GraphSettings,
      features: Seq[Features.EdgeFeature] = Nil): DataFrame = {
    val feats = if (features.nonEmpty) features else Features.defaultEdgeFeatures(settings)
    // no repartition of its own: the two sides share the upstream's
    // frame-key exchange, and the planner drops a repartition on the
    // keys the node-index window already hash-partitions by
    val indexed = withNodeIndex(df)
    val cols = Seq(ObjectId, TeamId, BallOwningTeamId, IsBallCarrier,
      X, Y, Z, Vx, Vy, Vz, Speed, "node_idx")
    def sided(prefix: String): DataFrame =
      indexed.select(frameKeys.map(col) ++ cols.map(c => col(c).as(s"${prefix}_$c")): _*)
    val p0 = sided("i").join(sided("j"), frameKeys)
    // Delaunay needs the per-frame edge table (a geometric, not
    // pairwise-predicate, relation): left-join it onto the dense pair
    // table so absent pairs keep a=0. The edge table is ~3 rows per
    // player per frame.
    val p = if (settings.adjacencyMatrixType == GraphSettings.Delaunay)
      p0.join(
        graft.graphs.Delaunay.edges(df).withColumn("__delaunay", lit(true)),
        frameKeys ++ Seq(s"i_$ObjectId", s"j_$ObjectId"), "left")
    else p0

    p.withColumn("a", adjacency(settings))
      .withColumn("e_features", array(Features.edgeFeatureColumns(settings, feats): _*))
      .drop("__delaunay")
  }

  /** The adjacency value `a` of a pair over the pair table's `i_*`/`j_*`
    * columns: 1 connected, 0 not, null when the predicate is unknown.
    * The Delaunay type reads `__delaunay`, true on a triangulated id pair
    * and null otherwise. [[pairs]] and [[GraphKernel]] evaluate it. */
  private[graphs] def adjacency(settings: GraphSettings): Column = {
    import GraphSettings._
    val iTeam = col(s"i_$TeamId"); val jTeam = col(s"j_$TeamId")
    val iBall = iTeam === Ball; val jBall = jTeam === Ball
    val owning = col(s"i_$BallOwningTeamId")
    val base: Column = settings.adjacencyMatrixType match {
      case Dense => lit(true)
      case DenseAp => (iTeam === owning) && (jTeam === owning)
      case DenseDp =>
        val iDef = !iBall && iTeam =!= owning
        val jDef = !jBall && jTeam =!= owning
        iDef && jDef
      case SplitByTeam => iTeam === jTeam
      // legacy-reference Delaunay (adjacency_matrix.py:60-124):
      // triangle edges only, no player self-loops, ball via connect
      case Delaunay => coalesce(col("__delaunay"), lit(false))
      case other => throw new NotImplementedError(s"$other matrix not implemented for Soccer...")
    }
    val connected: Column = settings.adjacencyMatrixConnectType match {
      // Legacy delaunay keeps the ball self-loop OFF: its `b` block is
      // `1 if self_loop_ball else 0` with self_loop_ball=False
      // (adjacency_matrix.py:104-124), unlike dense's b=[[1]] — so the
      // ball connects to every player (XOR) but not to itself.
      case ConnectBall if settings.adjacencyMatrixType == Delaunay =>
        base || (iBall =!= jBall)
      case ConnectBall => base || iBall || jBall
      case ConnectBallCarrier =>
        base || (col(s"i_$IsBallCarrier") && jBall) || (iBall && col(s"j_$IsBallCarrier"))
      case ConnectNone => base
    }
    connected.cast("int")
  }

  /** Full conversion to the nested per-frame graph schema
    * (FIXTURES.md §6): keys, [label, graph_id,] ball_owning_team_id, x,
    * object_ids, a, e. Shapes live in the array type — the reference's
    * `*_shape_*` columns are recoverable via `size()`. A frame with two
    * labels or graph ids raises the G10 integrity error. */
  def graphFrames(
      df: DataFrame,
      settings: GraphSettings,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame =
    // The whole conversion — padding, completeness, node order, node
    // features, adjacency, edge features — is frame-local, so one frame
    // kernel does it, with no cache, no self-join and at most the one
    // exchange that clusters the input by frame.
    assemble(framed(df), settings, labelCol, graphIdCol)

  /** [[graphFrames]] over a durable copy of the input: the rows are
    * written ONCE as a parquet table bucketed and bucket-sorted by the
    * frame key ([[graft.core.BucketedStore]]), and the frame kernel runs
    * over the bucketed scan. The buckets already cluster the rows by
    * frame, so the plan has ZERO exchanges, and the upstream lineage
    * (source scan, kinematics, possession) executes once, into a
    * restart-safe table rather than a cache. Pick `numBuckets` ≈ the
    * cluster's target parallelism for the input's size. */
  def graphFramesBucketed(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      settings: GraphSettings,
      path: String,
      table: String = "graft_graph_prepared",
      numBuckets: Int = 32,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    graft.core.BucketedStore.write(framed(df), table, path,
      frameKeys, numBuckets, sortCols = frameKeys)
    assemble(graft.core.BucketedStore.read(spark, table), settings, labelCol, graphIdCol)
  }

  /** The rows that belong to a frame: a null frame key belongs to none. */
  private def framed(df: DataFrame): DataFrame =
    df.filter(frameKeys.map(col(_).isNotNull).reduce(_ && _))

  private def assemble(
      df: DataFrame,
      settings: GraphSettings,
      labelCol: String,
      graphIdCol: String): DataFrame = {
    val labels = Seq(labelCol, graphIdCol).filter(df.columns.contains)
    GroupLocal(df, frameKeys, Nil,
      GraphKernel(df.sparkSession, settings, labels.map(c => c -> df.schema(c).dataType)))
  }
}
