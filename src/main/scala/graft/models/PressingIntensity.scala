package graft.models

import scala.collection.mutable.ArrayBuffer

import graft.functions.{Group, GroupGenerator, GroupLocal}
import graft.tracking.{Cols, TrackingSettings}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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
    * One frame kernel ([[PiPairsKernel]]) does the index assignment, the
    * pair fan-out, the TTI/PTI arithmetic, the ball merge, masking and
    * the orientation transpose. Output matches the staged window →
    * self-join → window chain, the test-side reference
    * `PiStagedReference` (six q_pi_* oracle hashes + PiPairsFusedSpec:
    * `tti` bit-exact, `pti` within 4 ULP). */
  def pairs(
      df: DataFrame,
      settings: TrackingSettings = TrackingSettings(),
      params: Params = Params()): DataFrame = {
    require(!Set("home_away", "away_home")(params.orient) || settings.homeTeamId.isDefined,
      s"orient='${params.orient}' requires TrackingSettings.homeTeamId to be set")
    val isBall = col(TeamId) === Ball
    val isOwning = col(TeamId) === col(BallOwningTeamId)
    // the staged `.filter(colSide || rowSide)` — pre-filter before the
    // kernel so non-member rows are not shuffled (the kernel re-checks
    // membership, so the two are exactly equivalent)
    val (colSide, rowSide) = params.method match {
      case "teams" => params.ballMethod match {
        case "exclude" => (isOwning && !isBall, !isOwning && !isBall)
        case _         => (isOwning || isBall, !(isOwning || isBall))
      }
      case "full" =>
        val all = if (params.ballMethod == "exclude") !isBall else lit(true)
        (all, all)
    }
    // a row with a null frame key belongs to no frame: the staged
    // chain's frame-key inner join drops it, so it must not form a group
    val keyed = frameKeys.map(col(_).isNotNull).reduce(_ && _)
    GroupLocal(df.filter(keyed && (colSide || rowSide)), frameKeys, Nil,
      PiPairsKernel(df.schema(Timestamp).dataType, params, settings))
  }

  /** Nested per-frame output matching the reference schema
    * (`pressing_intensity.py:328-337`): `time_to_intercept` /
    * `probability_to_intercept` ARRAY<ARRAY<DOUBLE>> in row-major node
    * order plus `rows`/`columns` label arrays. */
  def matrices(pairsDf: DataFrame): DataFrame =
    // one frame kernel over the pairs; it rides their frame partitioning
    GroupLocal(pairsDf, frameKeys :+ Timestamp, Nil,
      PiMatricesKernel(pairsDf.schema("row_id").dataType))
}

/** One frame's rows → its scored PI pairs (ts, row_id, col_id,
  * row_idx, col_idx, tti, pti).
  *
  * Faithfulness: the kernel transcribes the staged Column tree
  * operation-for-operation with Catalyst's exact semantics — the
  * three-valued side masks and the `colSide || rowSide` filter,
  * `when`'s null-as-false predicate handling, `Greatest`/`Least`/`Max`
  * null-skipping with Double.compare (NaN-greatest) ordering, null
  * propagation through the TTI arithmetic (null iff any of the 12
  * coordinates is null — every coordinate feeds every surviving term),
  * and UTF8String equality in the diagonal/transpose tests. Output is
  * bit-identical to the staged path for every column except `pti`,
  * which can differ by a few ULP on ~0.1% of rows: pti is the only output
  * through `exp`, and HotSpot's `_dexp` intrinsic differs from the
  * `StrictMath.exp` fallback by ≤1 ULP on some inputs, so which value
  * a call site produces depends on its JIT compilation state — the
  * staged path is itself not bit-reproducible there (verified with a
  * standalone JVM probe). Every declared query rounds tti/pti to 6
  * decimals, which absorbs the wobble.
  *
  * The same kernel scores the frames of
  * [[graft.streaming.StreamingPressing]], which runs it on each frame
  * it buffers through [[GroupLocal.runGroup]]. */
private[graft] final case class PiPairsKernel(
    tsType: DataType,
    params: PressingIntensity.Params,
    settings: TrackingSettings) extends GroupGenerator {
  import Cols._
  import params.{ballMethod, reactionTime, sigma, timeThreshold}

  override def inputs: Seq[(String, DataType)] = Seq(Timestamp -> tsType,
    ObjectId -> StringType, TeamId -> StringType, BallOwningTeamId -> StringType,
    IsBallCarrier -> BooleanType) ++ Seq(X, Y, Z, Vx, Vy, Vz, Speed).map(_ -> DoubleType)
  override def output: Seq[StructField] = Seq(
    StructField(Timestamp, tsType), StructField("row_id", StringType),
    StructField("col_id", StringType), StructField("row_idx", IntegerType),
    StructField("col_idx", IntegerType), StructField("tti", DoubleType),
    StructField("pti", DoubleType))

  private val method = params.method
  private val orient = params.orient
  private val hasSpeedThreshold = params.speedThreshold.isDefined
  private val speedLimit = params.speedThreshold.getOrElse(0.0)
  private val maxPlayerSpeed = settings.maxPlayerSpeed
  private val homeTeamId = settings.homeTeamId.getOrElse("")

  private val BallS = UTF8String.fromString(Ball)
  private val HomeS = UTF8String.fromString(homeTeamId)
  /** Catalyst folds lit(-π)/lit(√3)/lit(σ) left-associatively. */
  private val expK = -math.Pi / math.sqrt(3.0) / sigma

  /** One input row; `tsVal` stays the raw value so any timestamp
    * column type passes through unchanged. */
  private final class Nd(
      val tsVal: Any, val id: UTF8String, val team: UTF8String,
      val boti: UTF8String, val carrier: java.lang.Boolean,
      val x: java.lang.Double, val y: java.lang.Double, val z: java.lang.Double,
      val vx: java.lang.Double, val vy: java.lang.Double, val vz: java.lang.Double,
      val v: java.lang.Double) {
    var gidx: Int = -1
    def isBall: java.lang.Boolean = tEq(team, BallS)
    def isOwning: java.lang.Boolean = tEq(team, boti)
  }

  // three-valued boolean algebra (java.lang.Boolean, null = unknown)
  private def tEq(a: UTF8String, b: UTF8String): java.lang.Boolean =
    if (a == null || b == null) null else java.lang.Boolean.valueOf(a.equals(b))
  private def tNot(a: java.lang.Boolean): java.lang.Boolean =
    if (a == null) null else java.lang.Boolean.valueOf(!a.booleanValue())
  private def tAnd(a: java.lang.Boolean, b: java.lang.Boolean): java.lang.Boolean =
    if (a != null && !a.booleanValue()) java.lang.Boolean.FALSE
    else if (b != null && !b.booleanValue()) java.lang.Boolean.FALSE
    else if (a == null || b == null) null
    else java.lang.Boolean.TRUE
  private def tOr(a: java.lang.Boolean, b: java.lang.Boolean): java.lang.Boolean =
    if (a != null && a.booleanValue()) java.lang.Boolean.TRUE
    else if (b != null && b.booleanValue()) java.lang.Boolean.TRUE
    else if (a == null || b == null) null
    else java.lang.Boolean.FALSE
  private def isTrue(a: java.lang.Boolean): Boolean = a != null && a.booleanValue()

  private def readNd(g: Group, i: Int): Nd = {
    def num(in: Int) = if (g.isNull(i, in)) null else java.lang.Double.valueOf(g.double(i, in))
    new Nd(g.get(i, 0), g.string(i, 1), g.string(i, 2), g.string(i, 3),
      if (g.isNull(i, 4)) null else java.lang.Boolean.valueOf(g.boolean(i, 4)),
      num(5), num(6), num(7), num(8), num(9), num(10), num(11))
  }

  /** Side membership — the staged chain's indexed base (`PiStagedReference`) transcribed. */
  private def colSide(nd: Nd): java.lang.Boolean = method match {
    case "teams" => ballMethod match {
      case "exclude" => tAnd(nd.isOwning, tNot(nd.isBall))
      case _         => tOr(nd.isOwning, nd.isBall)
    }
    case "full" =>
      if (ballMethod == "exclude") tNot(nd.isBall) else java.lang.Boolean.TRUE
  }
  private def rowSide(nd: Nd): java.lang.Boolean = method match {
    case "teams" => ballMethod match {
      case "exclude" => tAnd(tNot(nd.isOwning), tNot(nd.isBall))
      case _         => tNot(tOr(nd.isOwning, nd.isBall))
    }
    case "full" =>
      if (ballMethod == "exclude") tNot(nd.isBall) else java.lang.Boolean.TRUE
  }

  /** The window's sort rank: `when` chains treat a null predicate as
    * false, so the rank itself is never null. */
  private def sideRank(nd: Nd): Int = {
    val isBall = nd.isBall
    method match {
      case "full" => orient match {
        case "home_away" =>
          if (isTrue(isBall)) 2 else if (isTrue(tEq(nd.team, HomeS))) 0 else 1
        case "away_home" =>
          if (isTrue(isBall)) 2 else if (isTrue(tEq(nd.team, HomeS))) 1 else 0
        case "pressing" =>
          if (isTrue(isBall)) 2 else if (isTrue(nd.isOwning)) 1 else 0
        case _ =>
          if (isTrue(isBall)) 2 else if (isTrue(nd.isOwning)) 0 else 1
      }
      case _ => if (isTrue(isBall)) 2 else if (isTrue(nd.isOwning)) 0 else 1
    }
  }

  /** TTI (`PiStagedReference` scorePairs transcribed): null iff any of the 12 coordinates
    * is null — every coordinate feeds at least one term of the sum and
    * SQL nulls propagate through every arithmetic step. */
  private def ttiOf(r: Nd, c: Nd): java.lang.Double = {
    if (c.x == null || c.y == null || c.z == null ||
        c.vx == null || c.vy == null || c.vz == null ||
        r.x == null || r.y == null || r.z == null ||
        r.vx == null || r.vy == null || r.vz == null) return null
    val cx = c.x.doubleValue(); val cy = c.y.doubleValue(); val cz = c.z.doubleValue()
    val cvx = c.vx.doubleValue(); val cvy = c.vy.doubleValue(); val cvz = c.vz.doubleValue()
    val rx = r.x.doubleValue(); val ry = r.y.doubleValue(); val rz = r.z.doubleValue()
    val rvx = r.vx.doubleValue(); val rvy = r.vy.doubleValue(); val rvz = r.vz.doubleValue()
    val ux = (cx + cvx) - cx
    val uy = (cy + cvy) - cy
    val uz = (cz + cvz) - cz
    val uMag = math.sqrt(ux * ux + uy * uy + uz * uz)
    val d2x = rx + rvx; val d2y = ry + rvy; val d2z = rz + rvz
    val vxx = d2x - cx; val vyy = d2y - cy; val vzz = d2z - cz
    val vMag = math.sqrt(vxx * vxx + vyy * vyy + vzz * vzz)
    val dot = ux * vxx + uy * vyy + uz * vzz
    val angle = math.acos(dot / (uMag * vMag + 1e-10))
    val rt = reactionTime
    val dx = d2x - (cx + cvx * rt)
    val dy = d2y - (cy + cvy * rt)
    val dz = d2z - (cz + cvz * rt)
    val dMag = math.sqrt(dx * dx + dy * dy + dz * dz)
    java.lang.Double.valueOf(uMag * angle / math.Pi + rt + dMag / maxPlayerSpeed)
  }

  /** Catalyst Least on nullable doubles: skips nulls, Double.compare
    * (NaN-greatest) ordering. */
  private def cLeast(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b
    else if (b == null) a
    else if (java.lang.Double.compare(b.doubleValue(), a.doubleValue()) < 0) b else a

  /** PTI (`PiStagedReference` scorePairs transcribed): greatest/least SKIP a null expArg,
    * so a null TTI clamps to exp(-700), not null. */
  private def ptiOf(tti: java.lang.Double): Double = {
    val expArg: java.lang.Double =
      if (tti == null) null
      else java.lang.Double.valueOf(expK * (timeThreshold - tti.doubleValue()))
    val g: Double =
      if (expArg == null) -700.0
      else if (java.lang.Double.compare(expArg.doubleValue(), -700.0) > 0)
        expArg.doubleValue()
      else -700.0
    val l: Double = if (java.lang.Double.compare(700.0, g) < 0) 700.0 else g
    1.0 / (1.0 + math.exp(l))
  }

  override def run(g: Group): Iterator[InternalRow] = {
    // read + the staged `.filter(colSide || rowSide)` (keep iff TRUE)
    val nodes = new ArrayBuffer[Nd](g.size)
    var b = 0
    while (b < g.size) {
      val nd = readNd(g, b)
      if (isTrue(tOr(colSide(nd), rowSide(nd)))) nodes += nd
      b += 1
    }
    if (nodes.isEmpty) return Iterator.empty

    // the window's (sideRank ASC, id ASC NULLS FIRST) order → gidx;
    // ties are between rows the staged row_number also ordered
    // arbitrarily (ids are unique per frame in every declared input)
    val arr = nodes.toArray
    java.util.Arrays.sort(arr, (p: Nd, q: Nd) => {
      val c = Integer.compare(sideRank(p), sideRank(q))
      if (c != 0) c
      else if (p.id == null && q.id == null) 0
      else if (p.id == null) -1
      else if (q.id == null) 1
      else p.id.compareTo(q.id)
    })
    var i = 0
    var nOwn = 0L
    while (i < arr.length) {
      arr(i).gidx = i
      if (isTrue(tAnd(arr(i).isOwning, tNot(arr(i).isBall)))) nOwn += 1
      i += 1
    }

    // pair fan-out: r side × c side (inner join on the frame key)
    val cRows = arr.filter(nd => isTrue(colSide(nd)))
    val rRows = arr.filter(nd => isTrue(rowSide(nd)))
    if (cRows.isEmpty || rRows.isEmpty) return Iterator.empty

    def cIdx(nd: Nd): Int = method match {
      case "teams" => if (isTrue(nd.isBall)) nOwn.toInt else nd.gidx
      case "full" => nd.gidx
    }
    def rIdx(nd: Nd): Int = method match {
      case "teams" => (nd.gidx - nOwn).toInt
      case "full" => nd.gidx
    }

    // TTI for every pair, plus (ball_method "max") the per-r_id ball
    // TTI — the staged window partitions by the r_id VALUE, so the
    // max is keyed on the id, not the row (null ids pool under a
    // sentinel exactly like a null window key)
    val tti0 = Array.ofDim[java.lang.Double](rRows.length, cRows.length)
    val ballTti = new java.util.HashMap[Any, java.lang.Double]()
    val NullKey = new Object
    var ri = 0
    while (ri < rRows.length) {
      val r = rRows(ri)
      var ci = 0
      while (ci < cRows.length) {
        val c = cRows(ci)
        val t = ttiOf(r, c)
        tti0(ri)(ci) = t
        if (ballMethod == "max" && isTrue(c.isBall) && t != null) {
          val key: Any = if (r.id == null) NullKey else r.id
          val cur = ballTti.get(key)
          if (cur == null || java.lang.Double.compare(t.doubleValue(), cur.doubleValue()) > 0)
            ballTti.put(key, t)
        }
        ci += 1
      }
      ri += 1
    }

    val out = new ArrayBuffer[InternalRow](rRows.length * cRows.length)
    ri = 0
    while (ri < rRows.length) {
      val r = rRows(ri)
      var ci = 0
      while (ci < cRows.length) {
        val c = cRows(ci)
        var keep = true
        var tti: java.lang.Double = tti0(ri)(ci)
        if (ballMethod == "max") {
          // merge: when(c_carrier, least(tti, ballTti)).otherwise(tti)
          if (isTrue(c.carrier)) {
            val key: Any = if (r.id == null) NullKey else r.id
            tti = cLeast(tti, ballTti.get(key))
          }
          // filter !c_ball (null team ⇒ null predicate ⇒ dropped)
          if (!isTrue(tNot(c.isBall))) keep = false
          if (method == "full" && !isTrue(tNot(r.isBall))) keep = false
        }
        if (keep) {
          var pti: java.lang.Double = java.lang.Double.valueOf(ptiOf(tti))
          // full-method diagonal: tti := 0.0 AFTER pti (reference order)
          if (method == "full" && isTrue(tEq(r.id, c.id)))
            tti = java.lang.Double.valueOf(0.0)
          if (hasSpeedThreshold) {
            // when(r_v < th || c_v < th, 0.0).otherwise(pti)
            val rLow: java.lang.Boolean =
              if (r.v == null) null
              else java.lang.Boolean.valueOf(r.v.doubleValue() < speedLimit)
            val cLow: java.lang.Boolean =
              if (c.v == null) null
              else java.lang.Boolean.valueOf(c.v.doubleValue() < speedLimit)
            if (isTrue(tOr(rLow, cLow))) pti = java.lang.Double.valueOf(0.0)
          }
          // orientation transpose (null predicate ⇒ not transposed)
          val transposed: Boolean = orient match {
            case "pressing" => true
            case "home_away" => isTrue(tEq(r.boti, HomeS))
            case "away_home" => isTrue(tNot(tEq(r.boti, HomeS)))
            case _ => false
          }
          val rowId: Any = if (transposed) c.id else r.id
          val colId: Any = if (transposed) r.id else c.id
          val rowIdx: Any =
            Integer.valueOf(if (transposed) cIdx(c) else rIdx(r))
          val colIdx: Any =
            Integer.valueOf(if (transposed) rIdx(r) else cIdx(c))
          out += new GenericInternalRow(Array[Any](
            c.tsVal, rowId, colId, rowIdx, colIdx, tti, pti))
        }
        ci += 1
      }
      ri += 1
    }
    out.iterator
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
