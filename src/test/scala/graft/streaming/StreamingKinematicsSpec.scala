package graft.streaming

import graft.SparkTestSession
import graft.tracking.{Cols, Kinematics, SyntheticTracking, TrackingSettings}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingKinematicsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import StreamingKinematics._

  private def runStream(batches: Seq[Seq[TrackEvent]]): Seq[VelocityRow] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[TrackEvent]
    val q = velocities(source.toDS())
      .writeStream.format("memory").queryName("vel_out")
      .outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b); q.processAllAvailable() }
      spark.table("vel_out").as[VelocityRow].collect().toSeq
    } finally q.stop()
  }

  private val base = Seq(
    TrackEvent("g", "p1", 1, 0L, 0L, "home", 0.0, 0.0, 0.0),
    TrackEvent("g", "p1", 1, 40000L, 40000L, "home", 0.2, 0.1, 0.0),
    TrackEvent("g", "p1", 1, 80000L, 80000L, "home", 0.5, 0.1, 0.0))

  test("state carries across micro-batches; first event emits zeros") {
    val out = runStream(Seq(base.take(2), base.drop(2)))
      .sortBy(_.timestamp)
    assert(out.map(_.v).head === 0.0)
    // dt = 0.04s, dx = 0.2 -> vx = 5.0
    assert(math.abs(out(1).vx - 5.0) < 1e-9)
    // third event arrived in a LATER batch: state must have carried
    assert(math.abs(out(2).vx - 7.5) < 1e-9)
  }

  test("speed magnitude capped at player max") {
    val fast = Seq(
      TrackEvent("g", "p1", 1, 0L, 0L, "home", 0.0, 0.0, 0.0),
      TrackEvent("g", "p1", 1, 40000L, 40000L, "home", 10.0, 0.0, 0.0)) // 250 m/s
    val out = runStream(Seq(fast)).sortBy(_.timestamp)
    assert(out(1).v === TrackingSettings().maxPlayerSpeed)
    assert(math.abs(out(1).vx - 250.0) < 1e-9) // components stay raw like the batch chain
  }

  test("streaming replay converges to the batch kinematics result") {
    import spark.implicits._
    val trk = SyntheticTracking.df(spark, "/root/testdata/sf0.001")
      .filter(col(Cols.GameId) === "0" && col(Cols.ObjectId) === "1")
    // the same series with a NaN x on every fifth frame: a NaN speed
    // is above the cap, so it is capped
    val nanSeries = trk.withColumn(Cols.ObjectId, lit("nan"))
      .withColumn(Cols.X, when(col(Cols.FrameId) % 5 === 2, lit(Double.NaN)).otherwise(col(Cols.X)))
    val series = trk.unionByName(nanSeries)
    val events = series.select(
        col(Cols.GameId), col(Cols.ObjectId).as("id"), col(Cols.PeriodId),
        col(Cols.Timestamp), col(Cols.Timestamp).as("abs_ts"),
        col(Cols.TeamId), col(Cols.X), col(Cols.Y), col(Cols.Z))
      .as[TrackEvent].collect().toSeq
    val streamed = runStream(Seq(events))
      .map(r => (r.game_id, r.id, r.period_id, r.timestamp) -> (r.vx, r.v)).toMap
    val batch = Kinematics(series, TrackingSettings(), None, None)
      .select(col(Cols.GameId), col(Cols.ObjectId), col(Cols.PeriodId), col(Cols.Timestamp),
        col(Cols.Vx), col(Cols.Speed))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)) -> (r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(streamed.keySet === batch.keySet)
    assert(batch.exists { case (k, (vx, v)) =>
      k._2 == "nan" && vx.isNaN && v == TrackingSettings().maxPlayerSpeed })
    // the stream runs the batch step functions: equal bit for bit
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    streamed.foreach { case (k, (vx, v)) =>
      assert(bits(vx) === bits(batch(k)._1), s"vx mismatch at $k")
      assert(bits(v) === bits(batch(k)._2), s"v mismatch at $k")
    }
  }

  test("streaming replay of the real Sportec fixture matches batch kinematics") {
    import spark.implicits._
    import graft.tracking.SportecSource
    val files = "/root/reference/tests/files"
    val trk = SportecSource.load(spark,
      s"$files/sportec_tracking.xml", s"$files/sportec_meta.xml")
    val events = trk.select(
        col(Cols.GameId), col(Cols.ObjectId).as("id"), col(Cols.PeriodId),
        col(Cols.Timestamp), col(Cols.Timestamp).as("abs_ts"),
        col(Cols.TeamId), col(Cols.X), col(Cols.Y), col(Cols.Z))
      .as[TrackEvent].collect().toSeq.sortBy(_.timestamp)
    // replay in two micro-batches to force state carry-over mid-match
    val (b1, b2) = events.splitAt(events.length / 2)
    val streamed = runStream(Seq(b1, b2))
      .map(r => (r.id, r.timestamp) -> (r.vx, r.vy, r.v)).toMap
    val batch = Kinematics(trk, TrackingSettings(), None, None)
      .select(col(Cols.ObjectId), col(Cols.Timestamp),
        col(Cols.Vx), col(Cols.Vy), col(Cols.Speed))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(streamed.keySet === batch.keySet && streamed.size === 483)
    streamed.foreach { case (k, (vx, vy, v)) =>
      assert(math.abs(vx - batch(k)._1) < 1e-9, s"vx mismatch at $k")
      assert(math.abs(vy - batch(k)._2) < 1e-9, s"vy mismatch at $k")
      assert(math.abs(v - batch(k)._3) < 1e-9, s"v mismatch at $k")
    }
  }

  test("single-key 100k-event micro-batch: the per-key buffer bound holds") {
    // one object, one game period, 100k unsorted events in ONE batch —
    // the worst case the buffer-and-sort in velocities() has to absorb
    // (a full period replayed as a single trigger is ~67k events).
    val n = 100000
    val rnd = new scala.util.Random(11)
    val events = rnd.shuffle((0 until n).toVector).map { i =>
      TrackEvent("g", "p1", 1, i.toLong * 40000L, i.toLong * 40000L, "home", i * 0.01, 0.0, 0.0)
    }
    val out = runStream(Seq(events))
    assert(out.length === n)
    val byTs = out.map(r => r.timestamp -> r.vx).toMap
    assert(byTs(0L) === 0.0) // first event of the key
    // every subsequent diff is 0.01 m / 0.04 s regardless of arrival order
    assert(byTs(40000L * (n - 1)) === 0.25)
    assert(byTs(40000L) === 0.25 && byTs(40000L * 1234) === 0.25)
  }

  test("windowed mean speed aggregates per second with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[TrackEvent]
    val q = windowedMeanSpeed(velocities(source.toDS()))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // two full seconds of data, then advance far enough to close them
      val evs = (0 to 60).map(i =>
        TrackEvent("g", "p1", 1, i * 40000L, i * 40000L, "home", i * 0.1, 0.0, 0.0))
      source.addData(evs)
      q.processAllAvailable()
      source.addData(Seq(TrackEvent("g", "p1", 1, 60000000L, 60000000L, "home", 0.0, 0.0, 0.0)))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.length >= 2) // at least the first two closed windows
      assert(rows.forall(_.getLong(3) > 0))
    } finally q.stop()
  }
}
