package graft

import graft.core.{GraftQuery, QueryModule}
import graft.queries.{FootballQueries, FormationQueries, GraphQueries, LlmQueries, ModelQueries, RelationalQueries, SketchQueries, SourceQueries, TrackingQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered query modules; each covers a slice of SURVEY.md §2. */
  def modules: Seq[QueryModule] = Seq(
    RelationalQueries,
    TrackingQueries,
    ModelQueries,
    GraphQueries,
    LlmQueries,
    SketchQueries,
    FormationQueries,
    FootballQueries,
    SourceQueries)

  def allQueries: Seq[GraftQuery] = modules.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Session settings shared by Verify/Bench/tests: local shuffle
    * partitioning, AQE on, and nanos-timestamp parquet compat. The
    * driver's events table ships INT64 TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ); the `nanosAsLong` flag is kept for nanos-typed
    * inputs from other sources — it reads TIMESTAMP(NANOS) columns as
    * raw longs instead of failing, and has no effect on micros.
    *
    * The generated-code cache is an LRU of compiled Janino classes keyed
    * by (source, context class loader), bounded by a static conf that is
    * read once per JVM, when codegen is first used. One cold pass of the
    * match journey (load → kinematics → possession → keepers → PI, graph
    * tensors, EFPI) fills 62 entries, and a new SparkContext recompiles
    * 52 of them on the task side; the curation journey fills 72. With
    * the Window operators the tracking chain used to plan, the match
    * pass filled 140, so Spark's default bound of 100 made its LRU
    * cycle and every repeat recompile. 1000 holds both working sets
    * several times over. */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
}
