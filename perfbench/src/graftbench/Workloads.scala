package graftbench

import graft.api.{CurationPipeline, SoccerPipeline}
import graft.graphs.GraphSink
import graft.llm.MinHash
import graft.tracking.{Cols, Goalkeepers, Kinematics, Possession, TrackingSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: the job an analyst runs on one input slice,
  * and the same job cut into a prefix ladder for the traced run. */
trait Workload {
  /** The job: input slice directory → complete result under `out`. */
  def job(spark: SparkSession, in: String, out: String): Unit

  /** The prefix ladder, as segments of (layer, step). Within a segment
    * each step runs the segment up to and including its layer into the
    * `noop` sink, and the segment's last step writes the real sink, so
    * a layer's self time is its step's time minus the previous step's.
    * The job is its segments run in order. */
  def ladder(spark: SparkSession, in: String, out: String): Seq[Seq[(String, () => Unit)]]

  /** Work counts at the layer boundaries, computed outside the timed
    * steps from the slice and from a finished job's output `out`. */
  def counts(spark: SparkSession, in: String, out: String): Seq[(String, Double)]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "match_pipeline" => MatchPipeline
    case "corpus_dedup" => CorpusDedup
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def parquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
}

/** A match analyst's journey: wide provider CSV → long table →
  * kinematics → possession → goalkeepers → prepared parquet; then, over
  * the prepared table, Pressing Intensity, graph tensors (with their
  * sink) and EFPI formations, each to parquet. */
object MatchPipeline extends Workload {
  import Workloads._

  val PlayerIds: Seq[String] = (1 to 12).map(i => s"h$i") ++ (1 to 12).map(i => s"a$i")

  private def glob(in: String) = s"$in/*.csv"

  /** The source prefix of [[SoccerPipeline.load]]: scan + melt, with the
    * constant columns `load` adds before kinematics. */
  private def source(spark: SparkSession, in: String) =
    TrackingSource.toLong(TrackingSource.scanWide(spark, glob(in), PlayerIds), PlayerIds)
      .withColumn(Cols.PositionName, lit(null).cast("string"))
      .withColumn(Cols.BallState, lit("alive"))
      .withColumn(Cols.BallOwningTeamId, lit(null).cast("string"))

  private def loaded(spark: SparkSession, in: String) =
    Goalkeepers.infer(SoccerPipeline.load(spark, glob(in), PlayerIds))

  private def models(spark: SparkSession, out: String): Unit = {
    val p = spark.read.parquet(s"$out/prepared")
    parquet(SoccerPipeline.pressingIntensity(p), s"$out/pi")
    GraphSink.write(SoccerPipeline.graphs(p), s"$out/graphs")
    parquet(SoccerPipeline.formations(spark, p), s"$out/efpi")
  }

  def job(spark: SparkSession, in: String, out: String): Unit = {
    parquet(loaded(spark, in), s"$out/prepared")
    models(spark, out)
  }

  def ladder(spark: SparkSession, in: String, out: String): Seq[Seq[(String, () => Unit)]] = {
    def p = spark.read.parquet(s"$out/prepared")
    def pi = SoccerPipeline.pressingIntensity(p)
    def graphs = SoccerPipeline.graphs(p)
    def efpi = SoccerPipeline.formations(spark, p)
    Seq(
      Seq(
        "tracking.source" -> (() => noop(source(spark, in))),
        "tracking.kinematics" -> (() => noop(Kinematics(source(spark, in)))),
        "tracking.possession" -> (() =>
          noop(Possession.inferBallCarrier(Kinematics(source(spark, in))))),
        "tracking.goalkeepers" -> (() => noop(loaded(spark, in))),
        "sink" -> (() => parquet(loaded(spark, in), s"$out/prepared"))),
      Seq(
        "prepared.scan" -> (() => noop(p)),
        "models.pressing" -> (() => noop(pi)),
        "graphs.convert" -> (() => { noop(pi); noop(graphs) }),
        "models.formations" -> (() => { noop(pi); noop(graphs); noop(efpi) }),
        "sink" -> (() => models(spark, out))))
  }

  def counts(spark: SparkSession, in: String, out: String): Seq[(String, Double)] = {
    val src = source(spark, in)
    val kinRows = Kinematics(src).count()
    val p = spark.read.parquet(s"$out/prepared")
    val frames = p.select(Cols.ByFrame.map(col): _*).distinct().count()
    val graphsOut = spark.read.parquet(s"$out/graphs").count()
    val pairs = spark.read.parquet(s"$out/pi")
      .select(sum(size(col("rows")).cast("long") * size(col("columns")))).head().getLong(0)
    Seq(
      "tracking.source.rows_out" -> src.count().toDouble,
      "tracking.possession.rows_dropped" -> (kinRows - p.count()).toDouble,
      "prepared.scan.rows_out" -> p.count().toDouble,
      "models.pressing.pairs_out" -> pairs.toDouble,
      "graphs.convert.graphs_out" -> graphsOut.toDouble,
      "graphs.convert.frames_dropped" -> (frames - graphsOut).toDouble,
      "models.formations.rows_out" -> spark.read.parquet(s"$out/efpi").count().toDouble)
  }
}

/** Document corpus → score/gate → MinHash LSH → clusters → chunks. */
object CorpusDedup extends Workload {
  import Workloads._

  private def docs(spark: SparkSession, in: String) = spark.read.parquet(in)
  private def gated(spark: SparkSession, in: String) =
    CurationPipeline.gate(CurationPipeline.score(docs(spark, in)))
  private def pairs(g: DataFrame) = CurationPipeline.nearDuplicatePairs(g)
  private def deduped(g: DataFrame) = CurationPipeline.dedup(g, pairs(g))

  def job(spark: SparkSession, in: String, out: String): Unit =
    parquet(CurationPipeline.run(docs(spark, in)), s"$out/chunks")

  def ladder(spark: SparkSession, in: String, out: String): Seq[Seq[(String, () => Unit)]] = {
    def g = gated(spark, in)
    Seq(Seq(
      "llm.gate" -> (() => noop(g)),
      "llm.lsh" -> (() => noop(pairs(g))),
      "llm.cluster" -> (() => noop(deduped(g))),
      "llm.chunk" -> (() => noop(CurationPipeline.chunk(deduped(g)))),
      "sink" -> (() => job(spark, in, out))))
  }

  def counts(spark: SparkSession, in: String, out: String): Seq[(String, Double)] = {
    val g = gated(spark, in)
    // the candidate set nearDuplicatePairs verifies: same shingles,
    // signatures, bands and bucket guard
    val candidates = MinHash.candidatePairs(MinHash.signatures(g, "doc_id", "text"),
      "doc_id", maxBucket = Some(10000)).count()
    val verified = pairs(g).count()
    Seq(
      "llm.gate.rows_out" -> g.count().toDouble,
      "llm.lsh.candidate_pairs" -> candidates.toDouble,
      "llm.lsh.verified_pairs" -> verified.toDouble,
      "llm.lsh.precision" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "llm.cluster.survivors" -> deduped(g).count().toDouble,
      "llm.chunk.rows_out" -> spark.read.parquet(s"$out/chunks").count().toDouble)
  }
}
