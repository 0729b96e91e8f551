package graft.models

import scala.collection.mutable.ArrayBuffer

import graft.functions.{Group, GroupGenerator, GroupLocal, KernelBinding}
import graft.graphs.NodeOrder
import graft.tracking.{Cols, TrackingSettings}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pressing Intensity (arXiv:2501.04712) — Time-to-Intercept /
  * Probability-to-Intercept matrices per frame.
  *
  * Reference: `unravel/soccer/models/pressing_intensity.py:136-565` and
  * `models/utils.py:4-99`, which run a NumPy kernel per frame via
  * `map_groups`. Here the model is the same per-frame program: two
  * Scala kernels on the group-local node ([[GroupLocal]]). The pair
  * kernel scores every (row, column) pair of a frame; the matrix kernel
  * folds a frame's pairs into the nested output. Both are keyed by the
  * frame, so they ride the frame partitioning of the possession stage
  * upstream, or add one exchange of the frame keys and the columns they
  * read.
  *
  * TTI per (row i = defending side, col j = possession side), all 3D
  * (`models/utils.py:74-97`):
  * {{{
  *   u_j   = (p1_j + v1_j) - p1_j
  *   d2_i  = p2_i + v2_i
  *   angle = acos( u_j·(d2_i - p1_j) / (|u_j| |d2_i - p1_j| + 1e-10) )
  *   tti   = |u_j|·angle/π + t_r + |d2_i - (p1_j + v1_j·t_r)| / v_max
  * }}}
  * PTI = 1/(1+exp(clip(-π/√3/σ·(θ - tti), ±700))) (`utils.py:4-14`).
  */
object PressingIntensity {
  import Cols._

  final case class Params(
      method: String = "teams",        // teams | full
      ballMethod: String = "max",      // include | exclude | max
      orient: String = "ball_owning",  // ball_owning | pressing | home_away | away_home
      speedThreshold: Option[Double] = None,
      reactionTime: Double = 0.7,
      timeThreshold: Double = 1.5,
      sigma: Double = 0.45) {
    require(Set("teams", "full")(method), "method should be 'teams' or 'full'")
    require(Set("include", "exclude", "max")(ballMethod),
      "ball_method should be 'include', 'exclude' or 'max'")
    require(Set("ball_owning", "pressing", "home_away", "away_home")(orient),
      "orient should be 'ball_owning', 'pressing', 'home_away', 'away_home'")
  }

  private val frameKeys = Seq(GameId, PeriodId, FrameId)

  /** M4 time-range filter (`pressing_intensity.py:510-514`): keep one
    * period's frames inside [start, end] micros. The reference requires
    * all three or none — mirrored here by taking them together. */
  def filterTimeRange(df: DataFrame, startMicros: Long, endMicros: Long, periodId: Int): DataFrame =
    df.filter(col(Timestamp).between(startMicros, endMicros) && col(PeriodId) === periodId)

  /** Long-format pair table: one row per (frame, row object, col object)
    * with `tti`/`pti`, plus the 0-based matrix indices `row_idx`/
    * `col_idx` that reproduce the reference's node ordering (possession
    * side ordered players-then-ball by id; defending side by id). This
    * is the scalable core; [[matrices]] folds it to the nested form.
    *
    * One frame kernel ([[PiPairsKernel]]) scores each frame: it assigns
    * the indices, fans out the pairs and evaluates the definitions below
    * (TTI/PTI, the ball merge, masking and the orientation transpose)
    * on each. Output matches the staged window →
    * self-join → window chain, the test-side reference
    * `PiStagedReference` (six q_pi_* oracle hashes + PiPairsFusedSpec:
    * `tti` bit-exact, `pti` within 4 ULP). */
  def pairs(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      params: Params = Params()): DataFrame = {
    require(!Set("home_away", "away_home")(params.orient) || settings.homeTeamId.isDefined,
      s"orient='${params.orient}' requires TrackingSettings.homeTeamId to be set")
    // the staged `.filter(colSide || rowSide)` — pre-filter before the
    // kernel so non-member rows are not shuffled (the kernel re-checks
    // membership, so the two are exactly equivalent)
    val (colSide, rowSide) = sides(params)
    // a row with a null frame key belongs to no frame: the staged
    // chain's frame-key inner join drops it, so it must not form a group
    val keyed = frameKeys.map(col(_).isNotNull).reduce(_ && _)
    GroupLocal(df.filter(keyed && (colSide || rowSide)), frameKeys, Nil,
      PiPairsKernel(df.sparkSession, df.schema(Timestamp).dataType, params, settings))
  }

  /** Nested per-frame output matching the reference schema
    * (`pressing_intensity.py:328-337`): `time_to_intercept` /
    * `probability_to_intercept` ARRAY<ARRAY<DOUBLE>> in row-major node
    * order plus `rows`/`columns` label arrays. */
  def matrices(pairsDf: DataFrame): DataFrame =
    // one frame kernel over the pairs; it rides their frame partitioning
    GroupLocal(pairsDf, frameKeys :+ Timestamp, Nil,
      PiMatricesKernel(pairsDf.schema("row_id").dataType))

  // ---- The model's definitions. Over a node row (a tracking row): ----

  /** The ball's row. */
  private[models] val isBall: Column = col(TeamId) === Ball
  private val isOwning = col(TeamId) === col(BallOwningTeamId)
  /** A player of the owning team; the row side's indices start after them. */
  private[models] val owningPlayer: Column = isOwning && !isBall

  /** Side membership (`pressing_intensity.py:164-251`): the column side
    * (possession) and the row side (defending). */
  private[models] def sides(params: Params): (Column, Column) = params.method match {
    case "teams" => params.ballMethod match {
      case "exclude" => (isOwning && !isBall, !isOwning && !isBall)
      case _         => (isOwning || isBall, !(isOwning || isBall))
    }
    case "full" =>
      val all = if (params.ballMethod == "exclude") !isBall else lit(true)
      (all, all)
  }

  /** The node order's first key, then the id: the reference's
    * orient-dependent stable sort (`pressing_intensity.py:520-552`), the
    * ball always last. For "teams" the owning side comes first in every
    * orient; for "full" the orient picks the first side. */
  private[models] def sideRank(settings: TrackingSettings, params: Params): Column = {
    val isHomeTeam = col(TeamId) === lit(settings.homeTeamId.getOrElse(""))
    params.method match {
      case "full" => params.orient match {
        case "home_away" => when(isBall, 2).when(isHomeTeam, 0).otherwise(1)
        case "away_home" => when(isBall, 2).when(isHomeTeam, 1).otherwise(0)
        case "pressing"  => when(isBall, 2).when(isOwning, 1).otherwise(0)
        case _           => when(isBall, 2).when(isOwning, 0).otherwise(1)
      }
      case _ => when(isBall, 2).when(isOwning, 0).otherwise(1)
    }
  }

  // ---- Over a pair row: the row object's fields `r_*`, the column
  // object's `c_*` (`id`, `ball`, `carrier`, `x`..`vz`, `v`, `boti`). ----

  /** TTI of the row object reaching the column object
    * (`models/utils.py:74-99`, operation for operation). */
  private[models] def tti(settings: TrackingSettings, params: Params): Column = {
    val ux = (col("c_x") + col("c_vx")) - col("c_x")
    val uy = (col("c_y") + col("c_vy")) - col("c_y")
    val uz = (col("c_z") + col("c_vz")) - col("c_z")
    val uMag = sqrt(ux * ux + uy * uy + uz * uz)
    val d2x = col("r_x") + col("r_vx")
    val d2y = col("r_y") + col("r_vy")
    val d2z = col("r_z") + col("r_vz")
    val vxx = d2x - col("c_x"); val vyy = d2y - col("c_y"); val vzz = d2z - col("c_z")
    val vMag = sqrt(vxx * vxx + vyy * vyy + vzz * vzz)
    val dot = ux * vxx + uy * vyy + uz * vzz
    val angle = acos(dot / (uMag * vMag + lit(1e-10)))
    val rt = lit(params.reactionTime)
    val dx = d2x - (col("c_x") + col("c_vx") * rt)
    val dy = d2y - (col("c_y") + col("c_vy") * rt)
    val dz = d2z - (col("c_z") + col("c_vz") * rt)
    val dMag = sqrt(dx * dx + dy * dy + dz * dz)
    uMag * angle / lit(math.Pi) + rt + dMag / lit(settings.maxPlayerSpeed)
  }

  /** A scored pair, over the pair row plus `ball_tti`, the row object's
    * largest TTI to a ball: whether the pair is kept, its tti and pti,
    * and whether it is transposed.
    *  - ball method "max" folds the ball column into the carrier's
    *    (elementwise min) and drops the ball column, and in "full" the
    *    ball row (`pressing_intensity.py:153-160, 279-287`);
    *  - PTI from the merged TTI (`utils.py:4-14`), then the full-method
    *    diagonal zeroes tti only (the reference fills it after pti);
    *  - the speed threshold zeroes pti of slow rows and columns
    *    (`:299-301`);
    *  - the orient swaps rows and columns (`:303-326`). */
  private[models] def scored(settings: TrackingSettings, params: Params): Seq[Column] = {
    val raw = tti(settings, params)
    val (merged, kept) = if (params.ballMethod == "max") {
      (when(col("c_carrier"), least(raw, col("ball_tti"))).otherwise(raw),
        if (params.method == "full") !col("c_ball") && !col("r_ball") else !col("c_ball"))
    } else (raw, lit(true))
    val expArg = lit(-math.Pi) / lit(math.sqrt(3.0)) / lit(params.sigma) *
      (lit(params.timeThreshold) - merged)
    val pti = lit(1.0) / (lit(1.0) + exp(least(greatest(expArg, lit(-700.0)), lit(700.0))))
    val diagonal = if (params.method == "full") when(col("r_id") === col("c_id"), 0.0).otherwise(merged)
      else merged
    val masked = params.speedThreshold match {
      case Some(th) => when(col("r_v") < th || col("c_v") < th, 0.0).otherwise(pti)
      case None => pti
    }
    val home = lit(settings.homeTeamId.getOrElse(""))
    val transposed = params.orient match {
      case "pressing" => lit(true)
      case "home_away" => col("r_boti") === home
      case "away_home" => col("r_boti") =!= home
      case _ => lit(false)
    }
    Seq(kept, diagonal, masked, transposed)
  }
}

/** One frame's rows → its scored PI pairs (ts, row_id, col_id,
  * row_idx, col_idx, tti, pti).
  *
  * It evaluates the definitions of [[PressingIntensity]], bound by
  * [[PiPairsKernel.apply]] once per params, settings, timestamp type
  * and conf, so the kernel and the relational definitions compute the
  * same values by construction:
  *  - `node`, over a node row of its inputs: the side masks (`sides`,
  *    which `pairs` also filters on), `sideRank`, the ball flag and the
  *    owning-player flag;
  *  - `tti`, over a pair row (the two node rows as the staged pair
  *    table's `r_*`/`c_*` fields), for the pairs of a ball column;
  *  - `scored`, over the pair row plus the row object's ball TTI: the
  *    ball-method filter, the carrier merge of `tti`, PTI, the
  *    full-method diagonal, the speed mask and the transpose flag.
  *
  * The kernel itself does only what is frame-level: membership (a side
  * mask TRUE), the node order and each node's matrix index (`gidx`, and
  * `nOwn` for the teams method), the per-`r_id` ball-TTI maximum
  * (Catalyst `Max`: nulls skipped, NaN greatest), the pair fan-out and
  * row packing.
  *
  * Output is bit-identical to the staged path (`PiStagedReference`) for
  * every column except `pti`, which can differ by a few ULP on ~0.1% of
  * rows: pti is the only output through `exp`, and HotSpot's `_dexp`
  * intrinsic differs from the `StrictMath.exp` fallback by ≤1 ULP on
  * some inputs, so which value a call site produces depends on its JIT
  * compilation state — the staged path is itself not bit-reproducible
  * there (verified with a standalone JVM probe). Every declared query
  * rounds tti/pti to 6 decimals, which absorbs the wobble.
  *
  * The same kernel scores the frames of
  * [[graft.streaming.StreamingPressing]], which runs it on each frame
  * it buffers through [[GroupLocal.runGroup]]. */
private[graft] final case class PiPairsKernel(
    tsType: DataType,
    params: PressingIntensity.Params,
    node: Seq[Expression],
    tti: Expression,
    scored: Seq[Expression]) extends GroupGenerator {
  import PiPairsKernel._

  override def inputs: Seq[(String, DataType)] = nodeFields(tsType)
  override def output: Seq[StructField] = Seq(
    StructField(Cols.Timestamp, tsType), StructField("row_id", StringType),
    StructField("col_id", StringType), StructField("row_idx", IntegerType),
    StructField("col_idx", IntegerType), StructField("tti", DoubleType),
    StructField("pti", DoubleType))

  private val teams = params.method == "teams"
  private val ballMax = params.ballMethod == "max"

  // one projection of each kind per task, built on first use
  @transient private lazy val nodeProj = UnsafeProjection.create(node)
  @transient private lazy val ttiProj = UnsafeProjection.create(Seq(tti))
  @transient private lazy val scoreProj = UnsafeProjection.create(scored)

  override def run(g: Group): Iterator[InternalRow] = {
    val nodes = new ArrayBuffer[Nd](g.size)
    var b = 0
    while (b < g.size) {
      val v = new Array[Any](Width)
      var k = 0
      while (k < InputWidth) { v(k) = g.get(b, k); k += 1 }
      val o = nodeProj(new GenericInternalRow(v))
      if (o.getBoolean(0) || o.getBoolean(1)) {
        v(InputWidth) = if (o.isNullAt(3)) null else o.getBoolean(3)
        nodes += new Nd(v, o.getBoolean(0), o.getBoolean(1), o.getInt(2), o.getBoolean(4), o.getBoolean(5))
      }
      b += 1
    }
    if (nodes.isEmpty) return Iterator.empty

    // the window's (sideRank, id) order → gidx; ties are between rows
    // the staged row_number also ordered arbitrarily (ids are unique
    // per frame in every declared input)
    val arr = nodes.toArray
    java.util.Arrays.sort(arr, (p: Nd, q: Nd) => NodeOrder.compare(p.rank, p.id, q.rank, q.id))
    var nOwn = 0
    var i = 0
    while (i < arr.length) {
      arr(i).gidx = i
      if (arr(i).owningPlayer) nOwn += 1
      i += 1
    }
    def cIdx(nd: Nd): Int = if (teams && nd.isBall) nOwn else nd.gidx
    def rIdx(nd: Nd): Int = if (teams) nd.gidx - nOwn else nd.gidx

    // pair fan-out: r side × c side (inner join on the frame key)
    val cRows = arr.filter(_.colSide)
    val rRows = arr.filter(_.rowSide)
    if (cRows.isEmpty || rRows.isEmpty) return Iterator.empty

    // one reused pair row: the r node, the c node, then ball_tti
    val pv = new Array[Any](2 * Width + 1)
    val pair = new GenericInternalRow(pv)

    // ball method "max": each r_id's largest TTI to a ball. The staged
    // window partitions by the r_id VALUE, so the max is keyed on the
    // id, not the row (null ids pool under a sentinel exactly like a
    // null window key)
    val ballTti = new java.util.HashMap[Any, java.lang.Double]()
    def key(r: Nd): Any = if (r.id == null) NullKey else r.id
    if (ballMax) for (r <- rRows; c <- cRows if c.isBall) {
      System.arraycopy(r.v, 0, pv, 0, Width)
      System.arraycopy(c.v, 0, pv, Width, Width)
      val t = ttiProj(pair)
      if (!t.isNullAt(0)) {
        val cur = ballTti.get(key(r))
        if (cur == null || java.lang.Double.compare(t.getDouble(0), cur) > 0) ballTti.put(key(r), t.getDouble(0))
      }
    }

    val out = new ArrayBuffer[InternalRow](rRows.length * cRows.length)
    var ri = 0
    while (ri < rRows.length) {
      val r = rRows(ri)
      System.arraycopy(r.v, 0, pv, 0, Width)
      pv(2 * Width) = ballTti.get(key(r))
      var ci = 0
      while (ci < cRows.length) {
        val c = cRows(ci)
        System.arraycopy(c.v, 0, pv, Width, Width)
        val s = scoreProj(pair)
        if (s.getBoolean(0)) {
          val tti: Any = if (s.isNullAt(1)) null else s.getDouble(1)
          val pti: Any = if (s.isNullAt(2)) null else s.getDouble(2)
          val transposed = s.getBoolean(3)
          val (rowNd, colNd) = if (transposed) (c, r) else (r, c)
          val (rowIdx, colIdx) = if (transposed) (cIdx(c), rIdx(r)) else (rIdx(r), cIdx(c))
          out += new GenericInternalRow(Array[Any](c.ts, rowNd.id, colNd.id, rowIdx, colIdx, tti, pti))
        }
        ci += 1
      }
      ri += 1
    }
    out.iterator
  }
}

private[graft] object PiPairsKernel {
  import Cols._

  /** A node row: the kernel's inputs. */
  private def nodeFields(tsType: DataType): Seq[(String, DataType)] = Seq(Timestamp -> tsType,
    ObjectId -> StringType, TeamId -> StringType, BallOwningTeamId -> StringType,
    IsBallCarrier -> BooleanType) ++ Seq(X, Y, Z, Vx, Vy, Vz, Speed).map(_ -> DoubleType)
  private val InputWidth = 12
  /** One side of a pair row: a node row under the staged pair table's
    * names, then the node's ball flag. */
  private val sideNames = Seq("ts", "id", "team", "boti", "carrier", "x", "y", "z", "vx", "vy", "vz", "v", "ball")
  private val Width = sideNames.length

  private val NullKey = new Object

  /** One member row and what the node definitions say of it. */
  private final class Nd(val v: Array[Any], val colSide: Boolean, val rowSide: Boolean,
      val rank: Integer, val isBall: Boolean, val owningPlayer: Boolean) {
    def ts: Any = v(0)
    def id: UTF8String = v(1).asInstanceOf[UTF8String]
    var gidx: Int = -1
  }

  private val memo = new KernelBinding.Memo[(DataType, PressingIntensity.Params, TrackingSettings), PiPairsKernel]

  /** The kernel for `params`, its definitions bound in `spark`, or the
    * last binding under the same timestamp type, params, settings and
    * conf. */
  def apply(spark: SparkSession, tsType: DataType, params: PressingIntensity.Params,
      settings: TrackingSettings): PiPairsKernel =
    // a fresh instance: its projections are per instance
    memo(spark, (tsType, params, settings))(bindKernel(spark, tsType, params, settings)).copy()

  private def bindKernel(spark: SparkSession, tsType: DataType, params: PressingIntensity.Params,
      settings: TrackingSettings): PiPairsKernel = {
    import PressingIntensity._
    // a filter keeps a row iff its predicate is TRUE: NULL drops it
    def holds(c: Column): Column = c <=> lit(true)
    val (colSide, rowSide) = sides(params)
    val node = KernelBinding.bind(spark, nodeFields(tsType), Seq(holds(colSide), holds(rowSide),
      sideRank(settings, params), isBall, holds(isBall), holds(owningPlayer)))
    val side = sideNames.zip(nodeFields(tsType).map(_._2) :+ BooleanType)
    val pairFields = Seq("r_", "c_").flatMap(p => side.map { case (c, t) => (p + c, t) })
    val Seq(t) = KernelBinding.bind(spark, pairFields, Seq(PressingIntensity.tti(settings, params)))
    val Seq(kept, tti, pti, transposed) = scored(settings, params)
    val score = KernelBinding.bind(spark, pairFields :+ ("ball_tti" -> DoubleType),
      Seq(holds(kept), tti, pti, holds(transposed)))
    PiPairsKernel(tsType, params, node, t, score)
  }
}

/** One frame's pairs → the nested matrices (time_to_intercept,
  * probability_to_intercept, rows, columns). The grid is positional,
  * the generic reshape's exact recipe: pairs sorted by (row_idx,
  * col_idx), cols = |distinct col_idx|, rows = pairs/cols, the row label
  * from cell (i, 0) and the column label from cell (0, j). */
private final case class PiMatricesKernel(labelType: DataType) extends GroupGenerator {
  override def inputs: Seq[(String, DataType)] = Seq("row_idx" -> IntegerType,
    "col_idx" -> IntegerType, "row_id" -> labelType, "col_id" -> labelType,
    "tti" -> DoubleType, "pti" -> DoubleType)
  private val matrix = ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)
  override def output: Seq[StructField] = Seq(
    StructField("time_to_intercept", matrix), StructField("probability_to_intercept", matrix),
    StructField("rows", ArrayType(labelType, containsNull = true)),
    StructField("columns", ArrayType(labelType, containsNull = true)))

  private val RowIdx = 0; private val ColIdx = 1; private val RowId = 2; private val ColId = 3
  private val Tti = 4

  override def run(g: Group): Iterator[InternalRow] = {
    val total = g.size
    val sorted = Array.tabulate[Integer](total)(i => Integer.valueOf(i))
    java.util.Arrays.sort(sorted, (a: Integer, b: Integer) => {
      val c = Integer.compare(g.int(a, RowIdx), g.int(b, RowIdx))
      if (c != 0) c else Integer.compare(g.int(a, ColIdx), g.int(b, ColIdx))
    })
    val seen = new java.util.HashSet[Integer]()
    var k = 0
    while (k < total) { seen.add(g.int(sorted(k), ColIdx)); k += 1 }
    val cols = seen.size()
    val rows = if (cols == 0) 0 else total / cols

    val rowLabels = Array.tabulate[Any](rows)(i => g.get(sorted(i * cols), RowId))
    val colLabels = Array.tabulate[Any](cols)(j => g.get(sorted(j), ColId))
    def grid(in: Int): GenericArrayData = new GenericArrayData(Array.tabulate[Any](rows) { i =>
      new GenericArrayData(Array.tabulate[Any](cols)(j => g.get(sorted(i * cols + j), in)))
    })
    Iterator.single(new GenericInternalRow(Array[Any](grid(Tti), grid(Tti + 1),
      new GenericArrayData(rowLabels), new GenericArrayData(colLabels))))
  }
}
