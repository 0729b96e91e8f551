package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Frame completion, shared by [[StreamingPressing]] and
  * [[StreamingGraphs]]: rows buffer in keyed state per
  * (game, period, frame), since a frame can straddle micro-batches, and
  * `emit` gets the frame once the watermark on the absolute `abs_ts`
  * clock ([[AbsoluteTime]]) passes its event time, with whatever rows
  * arrived. State is one frame's rows, dropped on emission.
  */
private[streaming] object FrameCompletion {

  type FrameKey = (String, Int, Long)

  def apply[R <: Product : TypeTag, O <: Product : TypeTag](
      rows: Dataset[R], lateness: String, key: R => FrameKey, absTs: R => Long)(
      emit: (FrameKey, Seq[R]) => Iterator[O]): Dataset[O] = {
    import rows.sparkSession.implicits._
    rows
      .withColumn("event_time", timestamp_micros(col("abs_ts")))
      .withWatermark("event_time", lateness)
      .as[R]
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (frame: FrameKey, it: Iterator[R], state: GroupState[Seq[R]]) => {
          if (state.hasTimedOut) {
            val buffered = state.getOption.getOrElse(Seq.empty)
            state.remove()
            emit(frame, buffered)
          } else {
            val buffered = state.getOption.getOrElse(Seq.empty) ++ it
            state.update(buffered)
            // fire once the watermark passes the frame's own event time:
            // all on-time rows of this frame have then arrived. Clamped
            // past the current watermark — a row admitted by the
            // late-data predicate whose ms-truncated time fell below the
            // eviction watermark would otherwise make the call throw
            state.setTimeoutTimestamp(math.max(
              buffered.map(absTs(_) / 1000L).max,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }
}
