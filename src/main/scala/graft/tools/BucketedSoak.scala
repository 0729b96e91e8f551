package graft.tools

import graft.SparkEntry
import graft.graphs.{GraphConverter, GraphSettings}
import graft.queries.GraphQueries
import org.apache.spark.sql.SparkSession

/** Times the two `graphFrames` materialization strategies head-to-head
  * on SPARK_GRAFT_SF_DIR — the double MEMORY_AND_DISK persist
  * ([[GraphConverter.graphFrames]], the bench path) vs the
  * frame-key-bucketed parquet materialization
  * ([[GraphConverter.graphFramesBucketed]], the documented 100 TB
  * swap). The bucketed time INCLUDES the bucketed write: that is the
  * honest cost a cluster pays for replacing cache pressure with a
  * durable zero-exchange table.
  *
  * Prints one JSON line:
  * {{{ {"metric":"graph_frames_soak","persisted":s,"bucketed":s,"sf":dir} }}}
  *
  * Run (after `ScaleGen` for the sf1 dir):
  * {{{
  * SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  *   SPARK_DRIVER_MEM=32g sbt "runMain graft.tools.BucketedSoak"
  * }}}
  */
object BucketedSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val settings = GraphSettings(pad = true)
    val bucketDir = "/tmp/graft_bucketed_soak"

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      if (spark.catalog.tableExists("graft_graph_prepared"))
        spark.sql("DROP TABLE graft_graph_prepared")
      val p = new org.apache.hadoop.fs.Path(bucketDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

    // the sink hashes every output column: a bare count() over the
    // nested graph table lets Catalyst strip the tensor aggregates
    // (count-over-groupBy keeps only the keys), timing the exchanges
    // but not the tensor assembly
    def consumeAll(df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, struct, sum, xxhash64}
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
        .agg(sum(org.apache.spark.sql.functions.col("__h").cast("decimal(38,0)"))).collect()
    }

    def timed(run: () => Unit): Double = {
      cleanup()
      val t0 = System.nanoTime()
      run()
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup()
      dt
    }

    // one untimed warm-up of the cheaper plan pays codegen + shuffle
    // service setup for both
    cleanup()
    consumeAll(GraphConverter.graphFrames(
      GraphQueries.paddedInput(spark, sfDir), settings))
    cleanup()

    // min of two: single runs on a shared box swing by seconds
    val persisted = (1 to 2).map(_ => timed(() =>
      consumeAll(GraphConverter.graphFrames(
        GraphQueries.paddedInput(spark, sfDir), settings)))).min
    val bucketed = (1 to 2).map(_ => timed(() =>
      consumeAll(GraphConverter.graphFramesBucketed(
        spark, GraphQueries.paddedInput(spark, sfDir), settings,
        bucketDir)))).min

    println(s"""{"metric":"graph_frames_soak","persisted":$persisted,""" +
      s""""bucketed":$bucketed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
