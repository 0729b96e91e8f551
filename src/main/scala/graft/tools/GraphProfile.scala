package graft.tools

import graft.SparkEntry
import graft.graphs.{GraphConverter, GraphSettings}
import graft.queries.GraphQueries
import graft.tracking.Cols._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage profile of the honest q_graph_frames cost (VERDICT r10 #8) —
  * the largest headline entry (~8 s of ~18 s at sf0.1) and the one
  * without a recorded headroom conclusion. Method: time the REAL
  * production sub-plans (graphFrames was
  * refactored into `nodeTensor`/`pairTensor` stage functions the way
  * PI's `pairs` was — plan-neutral, oracle-verified) under the
  * HonestBench xxhash64-all-columns sink, min-of-3 after a warm-up.
  *
  * Stage map (mirrors how the production operator actually executes —
  * it materializes `prepared` ONCE into a MEMORY_AND_DISK cache, then
  * both tensor halves and the final join read that cache):
  *
  *   upstream       — tracking + kinematics + possession (cold, no caches)
  *   prepared_build — + padFrames + node index, INCLUDING the two
  *                    production persists (each timed run re-caches
  *                    from cold and unpersists after)
  *   node_tensor    — node features + OrderedTensorAgg, from the warm
  *                    prepared cache (the operator's real node half)
  *   pair_tensor    — pair fan-out + adjacency/edge OrderedTensorAgg,
  *                    from the same warm cache (the real pair half)
  *   assembled      — node ⋈ pair on the frame key, warm cache (the
  *                    full operator tail)
  *   exploded       — + the q_graph_frames posexplode projection
  *                    (the exact headline query tail)
  *   full_query     — the headline query from scratch (builds its own
  *                    caches; ≈ prepared_build + exploded)
  *
  * Prints one JSON line {"metric":"graph_profile","stages":{...},"sf":…}.
  */
object GraphProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val settings = GraphSettings(pad = true)
    def upstream = GraphQueries.paddedInput(spark, sfDir)

    def consumeAll(df: DataFrame): Unit =
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
        .agg(sum(col("__h").cast("decimal(38,0)"))).collect()

    def timed(body: () => Unit): Double = {
      body() // warm-up
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        body()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    results("upstream") = timed(() => consumeAll(upstream))

    // prepared_build: the production double-persist, re-built cold per run
    def buildWith(level: org.apache.spark.storage.StorageLevel,
        cacheInput: Boolean): Unit = {
      val input = if (cacheInput) upstream.persist(level) else upstream
      val prepared = GraphConverter.withNodeIndex(GraphConverter.padFrames(input))
        .persist(level)
      consumeAll(prepared)
      prepared.unpersist(blocking = true)
      if (cacheInput) input.unpersist(blocking = true)
    }
    import org.apache.spark.storage.StorageLevel._
    results("prepared_build") = timed(() => buildWith(MEMORY_AND_DISK, cacheInput = true))
    // the r12 headroom A/B on the profile's dominant stage: storage
    // level (deser rows vs serialized vs memory-only) and cache
    // structure (is the transient input cache worth its write cost,
    // given padFrames reads its input 4×?)
    results("prepared_build_ser") =
      timed(() => buildWith(MEMORY_AND_DISK_SER, cacheInput = true))
    results("prepared_build_memonly") =
      timed(() => buildWith(MEMORY_ONLY, cacheInput = true))
    results("prepared_build_noinput") =
      timed(() => buildWith(MEMORY_AND_DISK, cacheInput = false))

    // warm shared cache for the tail stages — exactly what graphFrames builds
    val inputC = upstream.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prepared = GraphConverter.withNodeIndex(GraphConverter.padFrames(inputC))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    consumeAll(prepared)

    results("node_tensor") = timed(() =>
      consumeAll(GraphConverter.nodeTensor(prepared, settings)))
    results("pair_tensor") = timed(() =>
      consumeAll(GraphConverter.pairTensor(prepared, settings)))
    def assembled = GraphConverter.assembleGraphFrames(prepared, settings, Label, GraphId)
    results("assembled") = timed(() => consumeAll(assembled))
    def exploded(g: DataFrame): DataFrame =
      g.select(Seq(col(GameId), col(PeriodId), col(FrameId)) :+
          posexplode(arrays_zip(col("x"), col("object_ids"))).as(Seq("node_idx", "node")): _*)
        .select(Seq(col(GameId), col(PeriodId), col(FrameId),
          col("node_idx").cast("long").as("node_idx"),
          col("node.object_ids").as("id")) :+
          posexplode(col("node.x")).as(Seq("feature_idx", "value")): _*)
        .select(col(GameId), col(PeriodId), col(FrameId), col("node_idx"), col("id"),
          col("feature_idx").cast("long").as("feature_idx"),
          round(col("value"), 6).as("value"))
    results("exploded") = timed(() => consumeAll(exploded(assembled)))
    prepared.unpersist(blocking = true)
    inputC.unpersist(blocking = true)

    // the headline query from scratch (its own caches, dropped per run)
    results("full_query") = timed { () =>
      consumeAll(SparkEntry.queries("q_graph_frames")(spark, sfDir))
      spark.catalog.clearCache()
    }

    val stages = results.map { case (k, v) =>
      s""""$k":${math.rint(v * 1000) / 1000}""" }.mkString(",")
    println(s"""{"metric":"graph_profile","stages":{$stages},"sf":"$sfDir"}""")
    spark.stop()
  }
}
