package graft.streaming

import graft.tracking.TrackingSettings
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming kinematics: the streaming form of the batch
  * `Kinematics` chain (W1 diffs + speed caps) for live tracking feeds.
  *
  * Batch velocity is a lag window — unsupported over unbounded
  * streams — so the per-object previous position becomes explicit
  * keyed state: `flatMapGroupsWithState` over (game, object, period)
  * carries the last observed (ts, x, y, z) across micro-batches and
  * emits one velocity row per event. State is one small case class per
  * tracked object (≤23 per match), so a 1000-match stream holds ~23k
  * state entries per executor-partition share — negligible; the
  * shuffle key (game, object, period) is the same partitioning the
  * batch series kernel uses.
  *
  * Arithmetic mirrors the unsmoothed `Kinematics` velocity
  * (ms-truncated seconds, forward diffs, magnitude capped at the
  * settings max) so a replayed
  * stream converges to the batch result — asserted in
  * StreamingKinematicsSpec.
  */
object StreamingKinematics {

  /** `abs_ts` = absolute event-time micros (monotone across periods,
    * see [[AbsoluteTime]]); `timestamp` stays canonical
    * period-relative. The velocity arithmetic keys on period, so it is
    * period-safe by construction — `abs_ts` exists to order events
    * in-batch and to give [[windowedMeanSpeed]] a watermarkable axis
    * that does not regress at half-time. */
  final case class TrackEvent(
      game_id: String, id: String, period_id: Int, timestamp: Long,
      abs_ts: Long,
      team_id: String, x: Double, y: Double, z: Double)

  final case class VelocityRow(
      game_id: String, id: String, period_id: Int, timestamp: Long,
      abs_ts: Long,
      vx: Double, vy: Double, vz: Double, v: Double)

  final case class LastPos(timestamp: Long, x: Double, y: Double, z: Double)

  private def sec(tsMicros: Long): Double = (tsMicros / 1000L) / 1000.0

  /** Per-event velocities with keyed previous-position state. Events
    * inside a micro-batch are processed in timestamp order; the first
    * event of a key emits zeros (the batch chain's coalesce-to-0). */
  def velocities(
      events: Dataset[TrackEvent],
      settings: TrackingSettings = TrackingSettings()): Dataset[VelocityRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.game_id, e.id, e.period_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, String, Int), it: Iterator[TrackEvent], state: GroupState[LastPos]) => {
          val (game, id, period) = key
          val isBall = id == graft.tracking.Cols.Ball
          val vMax = if (isBall) settings.maxBallSpeed else settings.maxPlayerSpeed
          var last = state.getOption
          // Buffer-and-sort is bounded by ONE key's events within ONE
          // micro-batch — a single object of a single game period. At
          // 25 fps that is ~250 events per 10-s trigger, and even a
          // pathological full-period replay delivered as one batch is
          // ~67k 48-byte events (~3 MB) for the key — far below task
          // memory. StreamingKinematicsSpec drives a 100k-event
          // single-key batch to pin this.
          val buf = it.toArray
          scala.util.Sorting.stableSort(buf, (a: TrackEvent, b: TrackEvent) => a.timestamp < b.timestamp)
          val out = buf.iterator.map { e =>
            val row = last match {
              case Some(lp) =>
                val dt = sec(e.timestamp) - sec(lp.timestamp)
                val (vx, vy, vz) =
                  if (dt == 0.0) (0.0, 0.0, 0.0)
                  else ((e.x - lp.x) / dt, (e.y - lp.y) / dt, (e.z - lp.z) / dt)
                val vRaw = math.sqrt(vx * vx + vy * vy + vz * vz)
                VelocityRow(game, id, period, e.timestamp, e.abs_ts, vx, vy, vz, math.min(vRaw, vMax))
              case None =>
                VelocityRow(game, id, period, e.timestamp, e.abs_ts, 0.0, 0.0, 0.0, 0.0)
            }
            last = Some(LastPos(e.timestamp, e.x, e.y, e.z))
            row
          }.toVector
          last.foreach(state.update)
          out.iterator
        })
  }

  /** Watermarked tumbling-window aggregate over the velocity stream:
    * per-second mean speed per game — the streaming analog of a
    * frame-bucketed groupBy, with late events beyond 10 s dropped at
    * the watermark instead of buffered forever. */
  def windowedMeanSpeed(velocities: Dataset[VelocityRow]): DataFrame =
    velocities
      .withColumn("event_time", timestamp_micros(col("abs_ts")))
      .withWatermark("event_time", "10 seconds")
      .groupBy(window(col("event_time"), "1 second"), col("game_id"))
      .agg(avg(col("v")).as("mean_v"), count(lit(1)).as("n_events"))
}
