package graft.llm

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the incremental-label-maintenance identity: chaining
  * [[DedupClusters.updateComponents]] over pair increments must equal
  * [[DedupClusters.connectedComponents]] over the union of every pair
  * ever seen — label for label — including under merges of multiple
  * old components, new-node bridges, old-singleton links, and new ids
  * smaller than existing labels. */
@graft.SlowTest
class IncrementalCcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    labelsOf(DedupClusters.connectedComponents(
      pairs.toDF("id_a", "id_b"), "id_a", "id_b"))

  test("hand-shaped increments: merge two old components via a new bridge node") {
    // old graph: {1,2} and {5,6}; increment: new node 9 links both
    val old = Seq((1L, 2L), (5L, 6L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Seq((9L, 2L), (9L, 6L)).toDF("id_a", "id_b")
    val got = labelsOf(DedupClusters.updateComponents(oldLabels, inc))
    assert(got === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L))
  }

  test("a new id smaller than every old label relabels the old component") {
    val old = Seq((10L, 12L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Seq((3L, 12L)).toDF("id_a", "id_b")
    val got = labelsOf(DedupClusters.updateComponents(oldLabels, inc))
    assert(got === Map(3L -> 3L, 10L -> 3L, 12L -> 3L))
  }

  test("an increment that touches nothing old leaves the at-rest table intact") {
    val old = Seq((1L, 2L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Seq((20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    assert(labelsOf(DedupClusters.updateComponents(oldLabels, inc)) ===
      Map(1L -> 1L, 2L -> 1L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // and the delta carries ONLY the new rows
    assert(labelsOf(DedupClusters.componentDelta(oldLabels, inc)) ===
      Map(20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("multi-increment chains equal the full recompute on seeded random graphs (both arms)") {
    // the id type picks the arm: BIGINT ids run GraphX, zero-padded
    // string ids (which sort like the numbers) the relational loop
    val rng = new scala.util.Random(41L)
    for (trial <- 0 until 4; useGraphX <- Seq(true, false)) {
      val n = 30
      val all = Seq.fill(36)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val cuts = all.grouped((all.size + 2) / 3).toSeq // 3 increments
      def pairsOf(ps: Seq[(Long, Long)]) =
        if (useGraphX) ps.toDF("id_a", "id_b")
        else ps.map { case (a, b) => (f"$a%06d", f"$b%06d") }.toDF("id_a", "id_b")
      var labels =
        if (useGraphX) DedupClusters.connectedComponentsGraphX(pairsOf(cuts.head), "id_a", "id_b")
        else DedupClusters.connectedComponents(pairsOf(cuts.head), "id_a", "id_b")
      var seen = cuts.head
      for (inc <- cuts.tail) {
        labels = DedupClusters.updateComponents(labels, pairsOf(inc))
          .localCheckpoint() // keep the chained lineage bounded in-test
        seen = seen ++ inc
        assert(labels.schema("component").dataType.typeName ===
          (if (useGraphX) "long" else "string"))
        val got = labels.collect()
          .map(r => r.get(0).toString.toLong -> r.get(1).toString.toLong).toMap
        assert(got === cc(seen),
          s"trial $trial graphX=$useGraphX after ${seen.size} pairs")
      }
    }
  }

  test("componentDelta applied to the old table reproduces updateComponents") {
    val rng = new scala.util.Random(99L)
    val n = 25
    val old = Seq.fill(20)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val inc = Seq.fill(10)((rng.nextInt(n + 10).toLong, rng.nextInt(n + 10).toLong))
      .filter { case (a, b) => a != b }
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val full = labelsOf(DedupClusters.updateComponents(oldLabels, inc.toDF("id_a", "id_b")))
    val delta = labelsOf(DedupClusters.componentDelta(oldLabels, inc.toDF("id_a", "id_b")))
    val applied = labelsOf(oldLabels) ++ delta
    assert(applied === full)
    // delta rows must all genuinely differ from the at-rest table
    val before = labelsOf(oldLabels)
    delta.foreach { case (node, comp) =>
      assert(!before.get(node).contains(comp), s"no-op delta row $node -> $comp")
    }
  }

  test("keepTableIncremental equals keepTable over the accumulated pair set") {
    val docs = (0L until 40L).toDF("doc_id")
    val old = Seq((1L, 4L), (7L, 8L), (8L, 9L), (20L, 25L))
    val inc = Seq((4L, 7L), (30L, 31L), (2L, 20L)) // merges {1,4}+{7,8,9}, links old singletons
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val gotInc = DedupClusters.keepTableIncremental(
      docs, oldLabels, inc.toDF("id_a", "id_b"), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val gotFull = DedupClusters.keepTable(
      docs, (old ++ inc).toDF("id_a", "id_b"), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(gotInc === gotFull)
    assert(gotInc(7L) === (1L, false)) // merged across the bridge
    assert(gotInc(2L) === (2L, true)) // new min of the old {20,25} component
    assert(gotInc(20L) === (2L, false))
  }

  test("revoked keeps: a bridge increment retracts the larger-labeled canonical") {
    // old graph: {1,2} and {5,6} — kept canonicals 1 and 5 (plus all
    // untouched singletons); a NEW node 9 bridges the two components
    val old = Seq((1L, 2L), (5L, 6L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val inc = Seq((9L, 2L), (9L, 6L)).toDF("id_a", "id_b")
    val (labels, revoked) = DedupClusters.updateComponentsWithRevokedKeeps(
      oldLabels, inc, Seq(9L).toDF("node"))
    assert(labelsOf(labels) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L))
    // 5 was kept, now shadowed by 1; 9 is NEW (never kept — not revoked)
    assert(revoked.as[Long].collect().toSet === Set(5L))
  }

  test("revoked keeps: an old singleton linked under a smaller id is retracted") {
    val old = Seq((1L, 2L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    // 7 is an OLD kept singleton (no at-rest row); new doc 0 shadows it,
    // and new doc 30 links old singleton 31 WITHOUT shadowing it
    val inc = Seq((0L, 7L), (30L, 31L)).toDF("id_a", "id_b")
    val (labels, revoked) = DedupClusters.updateComponentsWithRevokedKeeps(
      oldLabels, inc, Seq(0L, 30L).toDF("node"))
    assert(labelsOf(labels) ===
      Map(1L -> 1L, 2L -> 1L, 0L -> 0L, 7L -> 0L, 30L -> 30L, 31L -> 30L))
    // 31's label 30 is a NEW doc's id, so 31 flips; 30 itself is new
    assert(revoked.as[Long].collect().toSet === Set(7L, 31L))
  }

  test("revoked keeps equal the keep-set difference on seeded random chained increments") {
    val rng = new scala.util.Random(7L)
    for (trial <- 0 until 3) {
      val n = 25
      def kept(labels: Map[Long, Long], universe: Range): Set[Long] =
        universe.map(_.toLong).filter(x => labels.getOrElse(x, x) == x).toSet
      val old = Seq.fill(18)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      var labels = DedupClusters.connectedComponentsGraphX(
        old.toDF("id_a", "id_b"), "id_a", "id_b").localCheckpoint()
      var universe = 0 until n
      for (batch <- 0 until 2) {
        val newIds = (n + 10 * batch) until (n + 10 * (batch + 1))
        // pairs always touch ≥ 1 new id (the incremental-pairing shape)
        val inc = Seq.fill(8)((newIds(rng.nextInt(10)).toLong,
          rng.nextInt(newIds.end).toLong)).filter { case (a, b) => a != b }
        val before = kept(labelsOf(labels), universe)
        val (next, revoked) = DedupClusters.updateComponentsWithRevokedKeeps(
          labels, inc.toDF("id_a", "id_b"), newIds.map(_.toLong).toDF("node"))
        labels = next.localCheckpoint()
        universe = 0 until newIds.end
        val after = kept(labelsOf(labels), universe)
        val expected = before -- after
        assert(revoked.as[Long].collect().toSet === expected,
          s"trial $trial batch $batch")
      }
    }
  }

  test("old-by-old increment pairs (re-crawl overlap) merge correctly too") {
    val old = Seq((1L, 2L), (5L, 6L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    // an already-known pair (no-op) plus an old-old bridge
    val inc = Seq((1L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    assert(labelsOf(DedupClusters.updateComponents(oldLabels, inc)) ===
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("empty increment is a no-op; self-pairs are ignored") {
    val old = Seq((1L, 2L))
    val oldLabels = DedupClusters.connectedComponentsGraphX(
      old.toDF("id_a", "id_b"), "id_a", "id_b")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(labelsOf(DedupClusters.updateComponents(oldLabels, empty)) ===
      Map(1L -> 1L, 2L -> 1L))
    val selfOnly = Seq((9L, 9L)).toDF("id_a", "id_b")
    assert(labelsOf(DedupClusters.updateComponents(oldLabels, selfOnly)) ===
      Map(1L -> 1L, 2L -> 1L))
  }
}
