package graft.tracking

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dummy labels are a function of the key columns: the same under any
  * shuffle partitioning, one label per key, values in {0, 1}. */
class LabelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Cols._

  private def labels(partitions: Int): Map[(String, Long), Long] = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, partitions.toString)
    try {
      // 2000 (game, frame) keys, three object rows each
      val tracking = spark.range(6000).select(
        (col("id") % 4).cast("string").as(GameId), (col("id") / 3).cast("long").as(FrameId))
      val rows = Labels.addDummyLabels(tracking)
        .select(col(GameId), col(FrameId), col(Label)).distinct().collect()
      val byKey = rows.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(byKey.size === rows.length, "a key got two labels")
      byKey
    } finally spark.conf.set(key, before)
  }

  test("labels do not depend on the shuffle partitioning") {
    val one = labels(1)
    val seven = labels(7)
    assert(one === seven)
    assert(one.values.toSet.subsetOf(Set(0L, 1L)) && one.values.toSet.size == 2)
  }
}
