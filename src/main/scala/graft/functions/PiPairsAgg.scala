package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pressing-Intensity pair table fused into ONE per-frame
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]]
  * (optimization round 18, guide §1.2/§2.4 — the
  * [[graft.functions.GraphTensorAgg]] treatment for
  * [[graft.models.PressingIntensity.pairs]]).
  *
  * Motivation: the staged pipeline runs a frame-key window (row_number +
  * owning count), an explicit frame-key repartition (the r17 stage
  * boundary that stops the window chain re-executing per join side), a
  * within-frame pair self-join, and — for ball_method "max" — a second
  * window over (frame, row id) for the ball-TTI merge. Every one of
  * those steps is frame-local, so a single aggregate keyed on the frame
  * does the index assignment, the pair fan-out, the TTI/PTI arithmetic,
  * the ball merge, masking and the orientation transpose in compiled
  * Scala: zero self-joins, zero windows, and no exchange beyond the one
  * that clusters rows by frame (none at all when the upstream
  * possession stage already established it — it always does in the
  * declared queries).
  *
  * Faithfulness: `eval` transcribes the staged Column tree
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
  * decimals, which absorbs the wobble — pinned by the six q_pi_*
  * oracle hashes and by PiPairsFusedSpec (tti bit-exact, pti ≤4 ULP —
  * the exp wobble compounded by the final division — and the round-6
  * projection exact) on every declared parameter combination
  * plus null/NaN corner frames. The staged path is the test-side
  * reference `PiStagedReference.pairs` those specs compare against.
  */
private[graft] case class PiPairsAgg(
    ts: Expression,
    id: Expression,
    team: Expression,
    boti: Expression,
    carrier: Expression,
    x: Expression,
    y: Expression,
    z: Expression,
    vx: Expression,
    vy: Expression,
    vz: Expression,
    v: Expression,
    method: String,
    ballMethod: String,
    orient: String,
    hasSpeedThreshold: Boolean,
    speedThreshold: Double,
    reactionTime: Double,
    timeThreshold: Double,
    sigma: Double,
    maxPlayerSpeed: Double,
    homeTeamId: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends OrderedBufferAgg {

  override protected def entryFields: Seq[Expression] =
    Seq(ts, id, team, boti, carrier, x, y, z, vx, vy, vz, v)

  // lazy: children are unresolved at construction (dataType would throw)
  private lazy val pairStruct = StructType(Seq(
    StructField("ts", ts.dataType, nullable = true),
    StructField("row_id", id.dataType, nullable = true),
    StructField("col_id", id.dataType, nullable = true),
    StructField("row_idx", IntegerType, nullable = true),
    StructField("col_idx", IntegerType, nullable = true),
    StructField("tti", DoubleType, nullable = true),
    StructField("pti", DoubleType, nullable = true)))

  override def dataType: DataType = ArrayType(pairStruct, containsNull = false)

  // ---------------------------------------------------------------- eval

  private val BallS = UTF8String.fromString(graft.tracking.Cols.Ball)
  private val HomeS = UTF8String.fromString(homeTeamId)
  /** Catalyst folds lit(-π)/lit(√3)/lit(σ) left-associatively. */
  private val expK = -math.Pi / math.sqrt(3.0) / sigma

  /** One input row; `tsVal` stays the raw (copied) value so any
    * timestamp column type passes through unchanged. */
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

  private def readNd(r: InternalRow): Nd = new Nd(
    if (r.isNullAt(0)) null else r.get(0, ts.dataType),
    if (r.isNullAt(1)) null else r.getUTF8String(1),
    if (r.isNullAt(2)) null else r.getUTF8String(2),
    if (r.isNullAt(3)) null else r.getUTF8String(3),
    if (r.isNullAt(4)) null else java.lang.Boolean.valueOf(r.getBoolean(4)),
    if (r.isNullAt(5)) null else java.lang.Double.valueOf(r.getDouble(5)),
    if (r.isNullAt(6)) null else java.lang.Double.valueOf(r.getDouble(6)),
    if (r.isNullAt(7)) null else java.lang.Double.valueOf(r.getDouble(7)),
    if (r.isNullAt(8)) null else java.lang.Double.valueOf(r.getDouble(8)),
    if (r.isNullAt(9)) null else java.lang.Double.valueOf(r.getDouble(9)),
    if (r.isNullAt(10)) null else java.lang.Double.valueOf(r.getDouble(10)),
    if (r.isNullAt(11)) null else java.lang.Double.valueOf(r.getDouble(11)))

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

  override def eval(buffer: ArrayBuffer[InternalRow]): Any = {
    if (buffer.isEmpty) return null
    // read + the staged `.filter(colSide || rowSide)` (keep iff TRUE)
    val nodes = new ArrayBuffer[Nd](buffer.length)
    var b = 0
    while (b < buffer.length) {
      val nd = readNd(buffer(b))
      if (isTrue(tOr(colSide(nd), rowSide(nd)))) nodes += nd
      b += 1
    }
    if (nodes.isEmpty) return new GenericArrayData(Array.empty[Any])

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
    if (cRows.isEmpty || rRows.isEmpty)
      return new GenericArrayData(Array.empty[Any])

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

    val out = new ArrayBuffer[Any](rRows.length * cRows.length)
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
              else java.lang.Boolean.valueOf(r.v.doubleValue() < speedThreshold)
            val cLow: java.lang.Boolean =
              if (c.v == null) null
              else java.lang.Boolean.valueOf(c.v.doubleValue() < speedThreshold)
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
    new GenericArrayData(out.toArray)
  }

  override def prettyName: String = "pi_pairs"
  override def withNewMutableAggBufferOffset(newOffset: Int): PiPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PiPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ts = newChildren(0), id = newChildren(1), team = newChildren(2),
      boti = newChildren(3), carrier = newChildren(4),
      x = newChildren(5), y = newChildren(6), z = newChildren(7),
      vx = newChildren(8), vy = newChildren(9), vz = newChildren(10),
      v = newChildren(11))
}

object PiPairsAgg {
  import graft.models.PressingIntensity.Params
  import graft.tracking.TrackingSettings

  /** ARRAY<STRUCT<ts, row_id, col_id, row_idx, col_idx, tti, pti>> of
    * the frame's scored PI pairs. */
  def piPairs(settings: TrackingSettings, params: Params,
      ts: Column, id: Column, team: Column, boti: Column, carrier: Column,
      x: Column, y: Column, z: Column,
      vx: Column, vy: Column, vz: Column, v: Column): Column =
    ColumnShim.column(PiPairsAgg(
      ColumnShim.expression(ts),
      ColumnShim.expression(id),
      ColumnShim.expression(team),
      ColumnShim.expression(boti),
      ColumnShim.expression(carrier),
      ColumnShim.expression(x.cast("double")),
      ColumnShim.expression(y.cast("double")),
      ColumnShim.expression(z.cast("double")),
      ColumnShim.expression(vx.cast("double")),
      ColumnShim.expression(vy.cast("double")),
      ColumnShim.expression(vz.cast("double")),
      ColumnShim.expression(v.cast("double")),
      params.method, params.ballMethod, params.orient,
      params.speedThreshold.isDefined,
      params.speedThreshold.getOrElse(0.0),
      params.reactionTime, params.timeThreshold, params.sigma,
      settings.maxPlayerSpeed,
      settings.homeTeamId.getOrElse("")).toAggregateExpression())
}
