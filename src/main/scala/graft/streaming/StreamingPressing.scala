package graft.streaming

import graft.functions.GroupLocal
import graft.models.{PiPairsKernel, PressingIntensity}
import graft.tracking.TrackingSettings
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming Pressing Intensity: per-frame TTI/PTI pairs
  * from a live kinematics feed, for live pressing dashboards.
  *
  * Frames complete in one state store keyed by frame
  * ([[FrameCompletion]]), where a stream-stream self-join would shuffle
  * the feed twice and hold state on both sides. A closed frame is one
  * group of the batch model, so the stream runs the batch frame kernel
  * on it: [[graft.models.PiPairsKernel]] through [[GroupLocal.runGroup]], with
  * `PressingIntensity.Params(ballMethod = "include")` and this call's
  * reaction time, threshold and sigma. Its pairs are those of
  * `PressingIntensity.pairs` on the same rows (StreamingPressingSpec).
  */
object StreamingPressing {

  /** `abs_ts` = absolute event-time micros (monotone across periods,
    * see [[AbsoluteTime]]); `timestamp` stays canonical
    * period-relative. */
  final case class KinRow(
      game_id: String, period_id: Int, frame_id: Long, timestamp: Long,
      abs_ts: Long,
      id: String, team_id: String, ball_owning_team_id: String,
      x: Double, y: Double, z: Double,
      vx: Double, vy: Double, vz: Double)

  final case class PressPair(
      game_id: String, period_id: Int, frame_id: Long,
      row_id: String, col_id: String, tti: Double, pti: Double)

  /** A buffered row as [[graft.models.PiPairsKernel]]'s inputs. The
    * ball carrier and the speed are null: the twin's params read
    * neither. */
  private def kernelRow(r: KinRow): InternalRow = new GenericInternalRow(Array[Any](
    r.timestamp, UTF8String.fromString(r.id), UTF8String.fromString(r.team_id),
    UTF8String.fromString(r.ball_owning_team_id), null,
    r.x, r.y, r.z, r.vx, r.vy, r.vz, null))

  private def label(s: UTF8String): String = if (s == null) null else s.toString

  /** Frame-keyed TTI/PTI pair stream; frames emit when the watermark
    * passes their event time ([[FrameCompletion]]). */
  def pairs(
      rows: Dataset[KinRow],
      settings: TrackingSettings = TrackingSettings(),
      lateness: String = "10 seconds",
      reactionTime: Double = 0.7,
      timeThreshold: Double = 1.5,
      sigma: Double = 0.45): Dataset[PressPair] = {
    val kernel = PiPairsKernel(rows.sparkSession, LongType, PressingIntensity.Params(
      ballMethod = "include", reactionTime = reactionTime, timeThreshold = timeThreshold,
      sigma = sigma), settings)
    FrameCompletion(rows, lateness, (r: KinRow) => (r.game_id, r.period_id, r.frame_id),
      (r: KinRow) => r.abs_ts) { case ((game, period, frame), buffered) =>
      // kernel rows: (ts, row_id, col_id, row_idx, col_idx, tti, pti)
      GroupLocal.runGroup(kernel, buffered.iterator.map(kernelRow)).map(p =>
        PressPair(game, period, frame, label(p.getUTF8String(1)), label(p.getUTF8String(2)),
          p.getDouble(5), p.getDouble(6)))
    }
  }
}
