package graft.llm

import graft.SparkTestSession
import graft.core.Tables
import org.scalatest.funsuite.AnyFunSuite

/** GraphX cross-validation of the relational connected-components
  * loop: `graphx.lib.ConnectedComponents` (Pregel) and
  * [[DedupClusters.connectedComponents]] both label every node with
  * its component's minimum id — they must agree node-for-node. */
class GraphXBridgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("agrees with GraphX on chains, cliques and islands") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, island 7-9
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (9L, 7L)).toDF("id_a", "id_b")
    val rel = labelsOf(DedupClusters.connectedComponents(pairs, "id_a", "id_b"))
    val gx = labelsOf(DedupClusters.connectedComponentsGraphX(pairs, "id_a", "id_b"))
    assert(rel === gx)
  }

  test("agrees with GraphX on seeded random graphs") {
    val rng = new scala.util.Random(137L)
    for (trial <- 0 until 3) {
      val n = 40
      val edges = Seq.fill(35)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("id_a", "id_b")
      val rel = labelsOf(DedupClusters.connectedComponents(pairs, "id_a", "id_b"))
      val gx = labelsOf(DedupClusters.connectedComponentsGraphX(pairs, "id_a", "id_b"))
      assert(rel === gx, s"trial $trial, edges $edges")
    }
  }

  test("converges on a chain whose diameter exceeds the old 20-superstep cap") {
    // 60-node chain: a capped ConnectedComponents.run(graph, 20) would
    // silently return partially-propagated labels here (the exact case
    // the relational loop fails loudly on); the uncapped default must
    // label every node with the chain's minimum id
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gx = labelsOf(DedupClusters.connectedComponentsGraphX(pairs, "id_a", "id_b"))
    assert(gx.size === 60)
    assert(gx.values.toSet === Set(1L), "all 60 chain nodes must share component 1")
    // the relational loop propagates one hop per round, so the same
    // chain needs its cap raised explicitly — its 20-round default
    // fails loudly here (by design), never silently
    assertThrows[IllegalStateException] {
      DedupClusters.connectedComponents(pairs, "id_a", "id_b")
    }
    val rel = labelsOf(
      DedupClusters.connectedComponents(pairs, "id_a", "id_b", maxIter = 64))
    assert(rel === gx)
  }

  test("agrees with GraphX on the real minhash near-dup graph (sf0.001)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = MinHash.nearDuplicates(docs, "doc_id", "text", n = 3, threshold = 0.2)
      .select("id_a", "id_b")
    val rel = labelsOf(DedupClusters.connectedComponents(pairs, "id_a", "id_b"))
    val gx = labelsOf(DedupClusters.connectedComponentsGraphX(pairs, "id_a", "id_b"))
    assert(rel.nonEmpty, "the sf0.001 corpus should produce near-dup pairs")
    assert(rel === gx)
  }

  test("keepTable and updateComponents over non-numeric string ids equal the relational loop") {
    // ids GraphX's BIGINT cast rejects under ANSI (and turns to NULL
    // without it): the id type must route them to the relational loop
    val old = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b"), ("x1", "x2")).toDF("id_a", "id_b")
    val inc = Seq(("doc-c", "x2"), ("new-1", "new-0")).toDF("id_a", "id_b")
    val ids = Seq("doc-a", "doc-b", "doc-c", "x1", "x2", "new-0", "new-1", "lone")
    def strLabels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val rel = strLabels(DedupClusters.connectedComponents(old.union(inc), "id_a", "id_b"))
    assert(rel("x1") === "doc-a" && rel("new-1") === "new-0")

    val keep = DedupClusters.keepTable(ids.toDF("doc_id"), old.union(inc), "doc_id")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(keep === ids.map { d => val c = rel.getOrElse(d, d); d -> (c, c == d) }.toMap)

    val oldLabels = DedupClusters.connectedComponents(old, "id_a", "id_b")
    assert(strLabels(DedupClusters.updateComponents(oldLabels, inc)) === rel)
  }
}
