package graft.streaming

import graft.tracking.{Cols, Kinematics, TrackingSettings}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming kinematics: the unsmoothed velocity and speed
  * of the batch [[Kinematics]] chain for live tracking feeds.
  *
  * A stream sees a series a micro-batch at a time, so the previous
  * position is keyed state: `flatMapGroupsWithState` over the batch
  * series key (game, object, period) carries the last (ts, x, y, z)
  * and emits one row per event; state is one small case class per
  * tracked object (≤23 per match). Each step runs the batch step
  * functions (`Kinematics.seconds`, `quotient`, `magnitude`, `cap`).
  * The one intended difference: the quotient runs without ANSI, so a
  * zero dt (a redelivered event) emits zeros instead of raising
  * `DIVIDE_BY_ZERO` and stopping a live query.
  */
object StreamingKinematics {
  import Kinematics.{cap, magnitude, quotient, seconds}

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
          val isBall = Option(id).map(_ == Cols.Ball)
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
                val dt = seconds(e.timestamp) - seconds(lp.timestamp)
                val vx = quotient(e.x - lp.x, dt, ansi = false)
                val vy = quotient(e.y - lp.y, dt, ansi = false)
                val vz = quotient(e.z - lp.z, dt, ansi = false)
                val v = cap(magnitude(vx, vy, vz), isBall, settings.maxBallSpeed, settings.maxPlayerSpeed)
                VelocityRow(game, id, period, e.timestamp, e.abs_ts, vx, vy, vz, v)
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
