package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rank-window forms of [[Urls.dedupByUrl]] and [[Urls.hostCap]],
  * which the `min_by` and k-bounded aggregates replaced. Same survivors
  * and output columns; UrlsSpec compares each pair. */
object UrlsReference {

  /** One row per canonical URL: the smallest `idCol`, picked by a
    * per-URL `row_number` window. */
  def dedupByUrlWindow(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val w = Window.partitionBy(col("canonical_url")).orderBy(col(idCol).asc)
    Urls.canonicalize(df, urlCol)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** At most `maxPerHost` smallest-id documents per host, ranked by a
    * per-host `row_number` window over the over-cap hosts only;
    * null-host rows pass through. */
  def hostCapWindow(df: DataFrame, idCol: String, urlCol: String, maxPerHost: Int): DataFrame = {
    val c = Urls.canonicalize(df, urlCol)
    val over = c.filter(col("host").isNotNull)
      .groupBy(col("host")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxPerHost)
      .select(col("host"))
    val flagged = c.join(broadcast(over), Seq("host"), "left_semi")
    val under = c.join(broadcast(over), Seq("host"), "left_anti")
    val w = Window.partitionBy(col("host")).orderBy(col(idCol).asc)
    val capped = flagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerHost).drop("__rn")
    under.unionByName(capped)
  }
}
