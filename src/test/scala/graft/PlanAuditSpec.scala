package graft

import graft.core.Tables
import graft.llm.{MinHash, TextHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executable form of the 100 TB plan claims: these assertions pin the
  * physical-plan properties the scale design depends on, so a refactor
  * that silently loses a broadcast, an exchange reuse, or a pushed
  * filter fails the build instead of surfacing as a cluster bill.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_join_dims broadcasts both dimension tables") {
    val q = SparkEntry.allQueries.find(_.name == "q_join_dims").get
    val p = plan(q.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$p")
  }

  test("minhash near-dup reuses one shingle-hash exchange for all four consumers") {
    val df = MinHash.nearDuplicates(Tables.documents(spark, sf), "doc_id", "text",
      n = 3, threshold = 0.2)
    df.collect() // executes THIS plan, letting AQE finalize it
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"no exchange reuse in:\n$p")
  }

  test("curation score plans each language marker list once: at most 8 ArrayFilter nodes") {
    import org.apache.spark.sql.catalyst.expressions.ArrayFilter
    // parquet input: a local relation would be constant-folded away
    val scored = graft.api.CurationPipeline.score(Tables.documents(spark, sf))
    val filters = scored.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case f: ArrayFilter => f }))
    assert(filters.size <= 8,
      s"${filters.size} ArrayFilter nodes — a column builder duplicates subtrees:\n" +
        scored.queryExecution.optimizedPlan)
  }

  test("pi pairs: fused per-frame aggregate — no join, map-side combine, two exchanges") {
    import graft.tracking._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val trk = SyntheticTracking.df(spark, sf, Cols.ByObjectPeriod)
    val dat = Possession.inferBallCarrier(
      Kinematics(trk, TrackingSettings(), None, None), TrackingSettings())
    val df = graft.models.PressingIntensity.pairs(dat)
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    // r18 fuse: the pair self-join and both PI windows are gone
    val names = nodes.map(_.nodeName)
    assert(!names.exists(n => n.contains("Join")),
      s"fused PI pairs still joins:\n${names.mkString("\n")}")
    // the aggregate keeps its partial (map-side) phase
    val aggs = nodes.filter(_.nodeName.contains("ObjectHashAggregate"))
      .map(_.simpleString(10000))
    assert(aggs.exists(_.contains("partial_pi_pairs")),
      s"fused PI pairs lost map-side combine:\n${aggs.mkString("\n")}")
    assert(aggs.exists(a => a.contains("pi_pairs(") && !a.contains("partial_")),
      s"missing final-phase PI aggregate:\n${aggs.mkString("\n")}")
    // exactly two exchanges: the kinematics object-period key and the
    // possession frame key (the aggregate rides the possession window's
    // partitioning — no exchange of its own)
    val exchanges = nodes.count(n =>
      n.nodeName.contains("Exchange") && !n.nodeName.contains("Reused"))
    assert(exchanges <= 2, s"fused PI pairs gained exchanges ($exchanges):\n${names.mkString("\n")}")
  }

  test("bucketed tables join with zero exchange") {
    import graft.core.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    BucketedStore.write(li, "bk_a", s"$dir/a", Seq("l_orderkey"), 4)
    BucketedStore.write(li.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")),
      "bk_b", s"$dir/b", Seq("l_orderkey"), 4)
    // force the SMJ path: at test scale the planner would broadcast the
    // small side (also exchange-free, but not the property under audit —
    // at 100 TB neither side broadcasts and bucketing is what saves the
    // shuffle)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = BucketedStore.read(spark, "bk_a")
        .join(BucketedStore.read(spark, "bk_b"), "l_orderkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("incremental journey verify: zero shuffle of any corpus-sized at-rest relation when served bucketed") {
    import graft.core.BucketedStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

    val dir = java.nio.file.Files.createTempDirectory("graft_shidx_bkt").toString
    val docs = Tables.documents(spark, sf)
    val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val index = MinHash.shingleIndex(oldDocs, "doc_id", "text", n = 3)
    val bi = MinHash.bandIndexOf(index, "doc_id")
    // each corpus-sized relation bucketed by exactly its serve-join key
    BucketedStore.write(index, "shb_index", s"$dir/index",
      Seq("doc_id", "h"), 4, Seq("doc_id", "h"))
    BucketedStore.write(bi.bandKeys, "shb_bandkeys", s"$dir/bandkeys",
      Seq("band", "key"), 4)
    BucketedStore.write(bi.bucketCounts, "shb_bucketcounts", s"$dir/bucketcounts",
      Seq("band", "key"), 4)
    BucketedStore.write(bi.sizes, "shb_sizes", s"$dir/sizes",
      Seq("doc_id"), 4, Seq("doc_id"))
    // force the SMJ path (see the bucketed-join test above): at test
    // scale AQE would broadcast the tiny corpus side, which hides the
    // property under audit — at 100 TB the corpus side never broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = MinHash.nearDuplicatesIncremental(
        newDocs, "doc_id", "text", spark.table("shb_index"),
        n = 3, threshold = 0.01, maxBucket = Some(10000),
        sideTables = Some(MinHash.BandIndex(
          spark.table("shb_bandkeys"), spark.table("shb_bucketcounts"),
          spark.table("shb_sizes"))))
      val rows = served.collect()
      // bit-parity with the in-memory serve
      val plain = MinHash.nearDuplicatesIncremental(
        newDocs, "doc_id", "text", index, n = 3, threshold = 0.01,
        maxBucket = Some(10000), sideTables = Some(bi)).collect()
      assert(rows.map(_.toSeq).toSet === plain.map(_.toSeq).toSet)
      assert(rows.nonEmpty, "fixture must produce near-dup pairs")

      // walk the FINAL adaptive plan: no exchange (shuffle OR
      // broadcast) may move the stored relations' RAW rows — i.e.
      // reach a stored scan through row-preserving nodes only
      // (project/filter/sort/codegen plumbing/union). Once the stored
      // rows pass a JOIN (candidate-matched: bounded by the
      // increment-sized pair set) or an AGGREGATE, the data on the
      // wire is increment-sized and repartitioning it is exactly what
      // should happen — the pre-r16 defect was the full index itself
      // shuffling twice per step.
      import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, SortExec, UnionExec, WholeStageCodegenExec}
      def kids(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case o => o.children
      }
      def subtree(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(subtree)
      def isStored(s: FileSourceScanExec): Boolean =
        s.relation.location.rootPaths.exists(_.toString.contains(dir))
      def rawStoredScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case s: FileSourceScanExec if isStored(s) => Seq(s)
        case _: ProjectExec | _: FilterExec | _: SortExec | _: UnionExec |
             _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec =>
          p.children.flatMap(rawStoredScans)
        case _ => Seq.empty
      }
      val all = subtree(served.queryExecution.executedPlan)
      val scans = all.collect {
        case s: FileSourceScanExec if isStored(s) => s
      }
      assert(scans.nonEmpty, "stored relations must actually be read")
      assert(scans.forall(_.bucketedScan),
        s"stored-relation scan not bucket-aware:\n${scans.mkString("\n")}")
      val offending = all.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange
          if rawStoredScans(e.child).nonEmpty => e
      }
      assert(offending.isEmpty,
        s"corpus-sized stored relation's raw rows on the wire:\n" +
          offending.mkString("\n\n"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("graphFramesBucketed: zero exchange downstream of the bucketed materialization, same result") {
    import graft.tracking._
    import graft.graphs.{GraphConverter, GraphSettings}
    val trk = Labels.addDummyLabels(
      Labels.addGraphIds(
        Possession.inferBallCarrier(
          Kinematics(SyntheticTracking.df(spark, sf), TrackingSettings(), None, None)),
        Seq("game_id", "frame_id")),
      Seq("game_id", "frame_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_gfb").toString
    val settings = GraphSettings()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = GraphConverter.graphFramesBucketed(
        spark, trk, settings, s"$dir/prepared", table = "gfb_prepared", numBuckets = 4)
      val rows = bucketed.collect()
      val p = bucketed.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed graph assembly still shuffles:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
      // identical output to the cached-pipeline path
      val base = GraphConverter.graphFrames(trk, settings).collect()
      assert(rows.length === base.length)
      def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getInt(1), r.getLong(2))
      assert(rows.map(key).sorted.toSeq === base.map(key).sorted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS gfb_prepared")
    }
  }

  test("graph tensor aggregates stay map-side combinable (partial before the exchange)") {
    import graft.tracking._
    import graft.graphs.{GraphConverter, GraphSettings}
    val trk = Labels.addDummyLabels(
      Labels.addGraphIds(
        Possession.inferBallCarrier(
          Kinematics(SyntheticTracking.df(spark, sf), TrackingSettings(), None, None)),
        Seq("game_id", "frame_id")),
      Seq("game_id", "frame_id"))
    val df = GraphConverter.graphFrames(trk, GraphSettings())
    df.collect()
    // traverse the finalized plan tree (the toString dump truncates on
    // plans this wide, hiding the pair-agg subtree from string greps)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(flatten)
    }
    val aggs = flatten(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("ObjectHashAggregate"))
      .map(_.simpleString(10000))
    // the fused whole-graph TypedImperativeAggregate (r17) must run as
    // ObjectHashAggregate with a partial (map-side) phase, exactly
    // like the staged tensor aggregates did — losing the partial phase
    // would shuffle raw node rows instead of per-frame buffers
    assert(aggs.nonEmpty, "tensor agg lost ObjectHashAggregate")
    assert(aggs.exists(_.contains("partial_graph_tensor")),
      s"fused graph assembly lost map-side combine:\n${aggs.mkString("\n")}")
    assert(aggs.exists(a => a.contains("graph_tensor(") && !a.contains("partial_")),
      s"missing final-phase graph aggregate:\n${aggs.mkString("\n")}")
    // and the fused query must carry no shuffle join — the staged
    // path's node⋈pair SortMergeJoin is gone by construction (the
    // input's own label broadcast join is allowed)
    val all = flatten(df.queryExecution.executedPlan).map(_.nodeName)
    assert(!all.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin")),
      s"fused graphFrames still shuffle-joins:\n${all.mkString("\n")}")

    // the staged tensor aggregates (the Delaunay/bucketed/A-B path)
    // keep their own map-side combine — audited via the generic
    // entry point on the same input
    val staged = GraphConverter.graphFrames(trk, GraphSettings(
      adjacencyMatrixType = GraphSettings.Delaunay,
      adjacencyMatrixConnectType = GraphSettings.ConnectNone, pad = false))
    staged.collect()
    val stagedAggs = flatten(staged.queryExecution.executedPlan)
      .filter(_.nodeName.contains("ObjectHashAggregate"))
      .map(_.simpleString(10000))
    assert(stagedAggs.exists(_.contains("partial_ordered_nodes")),
      s"staged node assembly lost map-side combine:\n${stagedAggs.mkString("\n")}")
    assert(stagedAggs.exists(_.contains("partial_adjacency_edges")),
      s"staged pair assembly lost map-side combine:\n${stagedAggs.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("sportec load: per-match aggregates broadcast, one frame-key window shuffle") {
    import graft.tracking.SportecSource
    val files = "/root/reference/tests/files"
    // another suite may have cached this exact load — a cache hit would
    // replace the audited subtree with an InMemoryTableScan
    spark.catalog.clearCache()
    val df = SportecSource.load(spark,
      s"$files/sportec_tracking.xml", s"$files/sportec_meta.xml")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // every join against the per-match aggregates (offsets, games,
    // roster, orientation) must broadcast — the frame-row side never
    // shuffles for a join (the tiny aggregate subtrees shuffle their
    // row-per-match outputs, which is irrelevant at scale)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a per-match join fell back to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in load plan:\n$p")
    // bounded source scans: tracking feeds the main path + the section
    // offsets + the orientation detection (3), meta feeds games + the
    // two roster joins (3) — NOT one scan per downstream reference
    // (sparkPlan: the single pre-AQE plan, so each scan prints once)
    val single = df.queryExecution.sparkPlan.toString
    val scans = "FileScan xml".r.findAllIn(single).size
    assert(scans <= 6, s"tracking/meta XML scanned $scans times:\n$single")
  }

  test("tracab load: broadcast-only joins, bounded text/meta scans") {
    import graft.tracking.{SyntheticTracking, TracabSource}
    spark.catalog.clearCache()
    val out = "/tmp/graft_tracab_planaudit"
    TracabSource.writeDat(
      SyntheticTracking.df(spark, sf).filter(col("game_id") === "0"), out)
    val df = TracabSource.load(spark, s"$out/dat/*.txt", s"$out/meta.xml")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"a per-match join fell back to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in load plan:\n$p")
    val single = df.queryExecution.sparkPlan.toString
    // text feeds players+ball on the main path and again under the
    // orientation detection (4); meta feeds match+periods twice (4)
    val txtScans = "FileScan text".r.findAllIn(single).size
    val xmlScans = "FileScan xml".r.findAllIn(single).size
    assert(txtScans <= 4, s"DAT text scanned $txtScans times:\n$single")
    assert(xmlScans <= 4, s"meta XML scanned $xmlScans times:\n$single")
  }

  test("secondspectrum load: broadcast-only joins, bounded jsonl/meta scans") {
    import graft.tracking.{SecondSpectrumSource, SyntheticTracking}
    spark.catalog.clearCache()
    val out = "/tmp/graft_2spectrum_planaudit"
    SecondSpectrumSource.writeJsonl(
      SyntheticTracking.df(spark, sf).filter(col("game_id") === "1"), out)
    val df = SecondSpectrumSource.load(spark, s"$out/frames/*.txt", s"$out/meta.json")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"a per-match join fell back to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in load plan:\n$p")
    val single = df.queryExecution.sparkPlan.toString
    // jsonl feeds home+away+ball on the main path and again under the
    // orientation detection (6); meta feeds games+roster twice (4)
    val jsonScans = "FileScan json".r.findAllIn(single).size
    assert(jsonScans <= 10, s"jsonl/meta scanned $jsonScans times:\n$single")
  }

  test("event attach: section starts and the fill broadcast nothing data-sized unasked") {
    import graft.tracking.{SportecEvents, SportecSource}
    spark.catalog.clearCache()
    val files = "/root/reference/tests/files"
    val trk = SportecSource.load(spark,
      s"$files/sportec_tracking.xml", s"$files/sportec_meta.xml")
    val df = SportecEvents.attach(trk,
      SportecEvents.events(spark, s"$files/sportec_events.xml"),
      SportecEvents.sectionStarts(spark, s"$files/sportec_tracking.xml"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the section-start bridge must broadcast; the final frame-key
    // equi-join may be any strategy (it is data-sized by design)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in attach plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in attach plan:\n$p")
    // exactly one window (the forward fill) beyond the loader's own
    val loaderWindows = "Window".r.findAllIn(
      trk.queryExecution.sparkPlan.toString).size
    val attachWindows = "Window".r.findAllIn(
      df.queryExecution.sparkPlan.toString).size
    assert(attachWindows <= loaderWindows + 1,
      s"attach added ${attachWindows - loaderWindows} windows:\n$p")
  }

  test("chunking is shuffle-free: no Exchange anywhere in the plan") {
    val df = graft.llm.Chunker.chunks(Tables.documents(spark, sf), "doc_id", "text")
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"chunker shuffles:\n$p")
  }

  test("decontaminate: benchmark side broadcasts, corpus text joins map-side") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val df = graft.llm.Decontaminate.overlaps(
      docs, "doc_id", "text", bench, "bench_id", "text", n = 5, minOverlap = 1)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-vs-benchmark join degraded to a corpus-wide shuffle:\n$p")
  }

  test("mixer sampling is a scan-stage filter: no exchange, predicate in codegen") {
    val df = graft.llm.Mixer.sample(Tables.documents(spark, sf),
      "doc_id", "source", Map("src0" -> 0.25), defaultRate = 0.9)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"mixer shuffles:\n$p")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
      s"mixer predicate fell out of whole-stage codegen:\n$p")
  }

  test("bloom decontamination: corpus side joins nothing — membership is pure expression") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 17 === 0)
      .select(col("text"))
    val bm = graft.llm.Bloom.buildBitmap(bench, "text", n = 5, mBits = 1 << 16)
    val df = graft.llm.Bloom.contaminationFlags(docs, "doc_id", "text", bm,
      n = 5, mBits = 1 << 16)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Join"), s"bloom membership must not join:\n$p")
    // the only exchanges are the per-doc distinct + final groupBy, both
    // keyed on doc_id — never on text or shingles alone
    assert(p.contains("Exchange"), "per-doc aggregation expected")
  }

  test("pq adc: LUT broadcasts; the search join input carries codes, not vectors") {
    val emb = Tables.embeddings(spark, sf)
    val df = graft.llm.Pq.topKAdc(emb, emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", kNeighbors = 2, dim = 64, m = 4, k = 8)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"ADC LUT not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ADC search degraded to a corpus-wide sort-merge join:\n$p")
  }

  test("semdedup: codebook broadcasts; the pair join shuffles on the cell id only") {
    val emb = Tables.embeddings(spark, sf)
    val df = graft.llm.Similarity.semDeDup(emb, "vec_id", "embedding",
      threshold = 0.4, nCells = 8)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"codebook not broadcast:\n$p")
    val pairJoinOnCell = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("[cell"))
    assert(pairJoinOnCell, s"in-cell pair join must key on cell:\n$p")
  }

  test("sharder: bases broadcast back; every window is key-partitioned") {
    val df = graft.llm.Sharder.assign(Tables.documents(spark, sf),
      "doc_id", "text", nShards = 8, bandWidth = 64L, bucketSize = 64L)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"bucket bases not broadcast:\n$p")
    // both windows partition on the band key — no data-sized
    // single-partition Window stage anywhere (WindowExec would warn
    // "No Partition Defined" and hashpartitioning would disappear)
    val specs = p.split("windowspecdefinition\\(").drop(1)
    assert(specs.nonEmpty, s"expected Window operators in:\n$p")
    specs.foreach(s =>
      assert(s.startsWith("band"),
        s"window lost its band partition key: windowspecdefinition($s"))
    assert(p.contains("hashpartitioning(band"),
      s"window shuffle not keyed on band:\n$p")
  }

  test("unigram segmentation adds no shuffle beyond the source partitioning") {
    // vocab training runs once (bounded, collected to a broadcast);
    // the segmentation pass itself must stay a scan + explode +
    // partition-local kernel, exactly like BPE
    val df = graft.llm.Unigram.segments(Tables.documents(spark, sf),
      "doc_id", "text", topMulti = 16, maxLen = 4)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"unigram segmentation shuffles:\n$p")
  }

  test("parquet filter pushdown reaches the lineitem scan") {
    val q = SparkEntry.allQueries.find(_.name == "q_filter_sample").get
    val p = plan(q.run(spark, sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("IsNotNull") || p.contains("GreaterThan") || p.contains("LessThan"),
      s"scan-level predicate missing:\n$p")
  }

  test("split assignment stays shuffle-free (seeded hash bucketing)") {
    val trk = graft.tracking.SyntheticTracking.df(spark, sf)
      .withColumn("graph_id", concat_ws("-", col("game_id"), col("frame_id")))
    val split = graft.graphs.GraphDataset
      .withSplit(trk, 0.6, 0.3, 0.1, byGraphId = true, seed = 7L, exactHash = true)
    // the split column itself must add no exchange beyond the source's
    val base = trk.queryExecution.executedPlan.toString
    val after = split.queryExecution.executedPlan.toString
    def exchanges(s: String) = s.split("Exchange").length - 1
    assert(exchanges(after) == exchanges(base),
      s"withSplit added an exchange:\nbase=$base\nafter=$after")
  }

  test("column pruning: 2-column projection reads 2 columns from parquet") {
    val df = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment"), s"over-wide scan: $readSchema")
  }

  test("dsir: the 512-row ratio table broadcasts into the scoring join") {
    val df = graft.llm.Dsir.weights(Tables.documents(spark, sf), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"ratio join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bucket join degraded to SMJ:\n$p")
  }

  test("bm25: top-k is the k-bounded payload aggregate, no window anywhere") {
    val df = graft.llm.Bm25.topk(Tables.documents(spark, sf), "doc_id", "text",
      Seq("spark", "join", "window", "stream"), 25)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("top_k_score_id_payload"), s"top-k lost the bounded aggregate:\n$p")
    assert(!p.contains("Window"),
      s"a rank window ranks the posting-list-sized scored relation:\n$p")
    assert(!p.contains("SortMergeJoin"), s"df/stats join degraded to SMJ:\n$p")
  }

  test("bm25 indexed serve: no corpus re-tokenize, bounded top-k, broadcast joins") {
    val docs = Tables.documents(spark, sf)
    val postings = graft.llm.Bm25.buildIndex(docs, "doc_id", "text").localCheckpoint()
    val stats = graft.llm.Bm25.indexStats(docs, "doc_id", "text").localCheckpoint()
    val df = graft.llm.Bm25.topkFromIndex(postings, stats,
      Seq("spark", "join", "window", "stream"), 25)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the serve plan's only inputs are the posting lists and the 1-row
    // stats — a 'toks' column anywhere means the corpus tokenize crept
    // back into the per-query path
    assert(!p.contains("toks"), s"serve plan re-tokenizes the corpus:\n$p")
    assert(p.contains("top_k_score_id_payload"), s"top-k lost the bounded aggregate:\n$p")
    assert(!p.contains("Window"), s"rank window in the indexed serve:\n$p")
    assert(!p.contains("SortMergeJoin"), s"df/stats join degraded to SMJ:\n$p")
  }

  test("ngram lm: the one-row vocabulary aggregate broadcasts into scoring") {
    val df = graft.llm.NgramLm.scored(Tables.documents(spark, sf), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"vocab not broadcast:\n$p")
  }

  test("hll registers: one exchange total, partial agg absorbs the token stream") {
    val occ = Tables.documents(spark, sf)
      .select(col("lang"), explode(graft.llm.Shingles.tokens(col("text"))).as("tok"))
    val df = graft.llm.Sketches.hllRegisters(occ, "lang", "tok")
    df.collect()
    // AQE's toString repeats the plan under "== Initial Plan ==" —
    // audit only the finalized section
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"register build should shuffle exactly once:\n$p")
    assert(p.contains("partial_max") || p.contains("partial"),
      s"no map-side combine before the register exchange:\n$p")
  }

  test("cms heavy hitters: the 3072-cell sketch broadcasts into the probe join") {
    val occ = Tables.documents(spark, sf)
      .select(explode(graft.llm.Shingles.tokens(col("text"))).as("tok"))
    val df = graft.llm.Sketches.cmsHeavyHitters(occ, "tok", k = 25)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"sketch probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sketch probe degraded to SMJ:\n$p")
  }

  test("priority sample: top-k is a partial TakeOrdered, never a global sort") {
    val df = graft.llm.Mixer.prioritySample(Tables.documents(spark, sf),
      "doc_id", "n_chars", k = 100)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"sample lost the partial top-k:\n$p")
  }

  test("suffix ranks: no single-partition exchange anywhere in the doubling") {
    val df = graft.llm.SuffixArray.boundedSuffixRanks(
      Tables.documents(spark, sf), "doc_id", "text", window = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"a doubling round collapsed to one partition:\n$p")
    // the pair pull must stay a per-document window
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("PartitionBy") &&
          l.contains("windowspecdefinition()")),
      s"unpartitioned window in the doubling:\n$p")
  }

  test("kneser-ney: the type-sized count table materializes once (persist visible)") {
    val df = graft.llm.KneserNey.scored(Tables.documents(spark, sf), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"bc persist lost — four corpus re-explosions return:\n$p")
  }

  test("per-query bm25: membership joins broadcast, top-k is the bounded aggregate") {
    val df = graft.llm.Bm25.topkPerQuery(Tables.documents(spark, sf), "doc_id",
      "text", graft.queries.SketchQueries.RrfQueries, k = 20)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"qt/df join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a broadcast side degraded to SMJ:\n$p")
    assert(p.contains("top_k_score_id_payload"), s"top-k lost the bounded aggregate:\n$p")
    assert(!p.contains("Window"),
      s"a per-query rank window ranks posting-list-sized partitions:\n$p")
  }

  test("clustered-corpus transform is shuffle-free: a stateless projection that fuses") {
    val df = graft.llm.ClusteredCorpus.mixtureOfGaussians(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the MoG transform must fuse into the scan, not shuffle:\n$p")
  }

  test("bandCostTable: one (band,key) exchange per config, partial-agg combine") {
    val sigs = MinHash.signatures(Tables.documents(spark, sf), "doc_id", "text")
    val df = MinHash.bandCostTable(sigs, "doc_id", Seq((11, 1), (4, 3)),
      maxBucket = Some(4))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // per config: the bucket groupBy shuffles on (band, key) — the SAME
    // key the production join would — then a one-row final aggregate;
    // nothing else may shuffle (the measurement costs candidate
    // generation, not a join)
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("band"))
    assert(hashEx >= 2, s"expected a (band,key) exchange per config:\n$p")
    assert(p.contains("partial_"),
      s"bucket counting lost its map-side combine:\n$p")
  }

  test("sq8 scan: queries broadcast against the coded corpus, bounded top-k agg") {
    val emb = Tables.embeddings(spark, sf)
    val df = graft.llm.Sq.topKCosineSq(emb, emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", k = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus is scanned where it lives; the |Q|-sized query set is
    // the broadcast side of the non-equi (q != c) join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query set must broadcast into the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the SQ scan must never shuffle the corpus for the join:\n$p")
    assert(!p.contains("Window"),
      s"per-query ranking regressed to a window sort:\n$p")
    assert(p.contains("top_k_score_id"), s"bounded top-k aggregate missing:\n$p")
  }

  test("repetition signals: every exchange is doc-keyed, nothing single-partition") {
    val df = graft.llm.QualityRules.repetitionSignals(
      Tables.documents(spark, sf).filter(col("doc_id") < 50))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"a global (non-doc-local) aggregate crept into the matrix:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the n-gram joins must stay equi-keyed:\n$p")
    val exLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exLines.nonEmpty && exLines.forall(_.contains("doc_id")),
      s"an exchange lost the doc_id key (no longer doc-local):\n$p")
  }

  test("image dhash near-dup: the candidate join shuffles on (band, key) only") {
    import spark.implicits._
    val media = spark.range(64).map { id =>
      graft.llm.Multimodal.MediaRow(id,
        graft.llm.Multimodal.syntheticPngBlocks(id % 16, 9, 8), "image/png", 9, 8)
    }
    val df = graft.llm.ImageDedup.nearDuplicates(
      graft.llm.ImageDedup.dHash(media), maxHamming = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing degraded to all-pairs:\n$p")
    val bandEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("band") && l.contains("key"))
    assert(bandEx >= 1, s"no (band, key) exchange — candidate join lost its key:\n$p")
  }

  test("url canonicalization is a shuffle-free scan-stage projection") {
    import spark.implicits._
    val df = graft.llm.Urls.canonicalize(
      spark.range(100).select(col("id"),
        concat(lit("http://h"), (col("id") % 7).cast("string"),
          lit(".com/p?utm_source=x&a=1#f")).as("url")), "url")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"canonicalization must ride the scan, not shuffle:\n$p")
  }

  test("host cap: under-cap hosts bypass the survivor pick via broadcast joins") {
    import spark.implicits._
    val df = graft.llm.Urls.hostCap(
      spark.range(200).select(col("id"),
        concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".com/"), col("id").cast("string")).as("url")),
      "id", "url", maxPerHost = 10)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the over-cap host set must broadcast into semi/anti joins:\n$p")
    assert(!p.contains("Window"),
      s"survivor pick regressed to a per-host rank window:\n$p")
    assert(p.contains("smallest_k_longs"),
      s"k-bounded survivor aggregate missing:\n$p")
  }

  test("ccnet buckets: threshold aggregate broadcasts, no global sort or rank window") {
    val df = graft.llm.NgramLm.ccnetBuckets(Tables.documents(spark, sf), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row tercile thresholds must broadcast into the scan:\n$p")
    assert(!p.contains("Window"),
      s"bucket assignment must be a CASE, never a corpus-wide rank window:\n$p")
  }

  test("html extraction and c4 cleaning are shuffle-free scan projections") {
    import spark.implicits._
    val pages = spark.range(100).select(col("id"),
      concat(lit("<html><head><title>t</title></head><body><p>body text of "),
        col("id").cast("string"),
        lit(" with plenty of words here.</p><a href='/'>x</a></body></html>"))
        .as("html"))
    val extracted = graft.llm.HtmlExtract.extract(pages, "html")
    extracted.collect()
    val p1 = extracted.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"HTML extraction must ride the scan:\n$p1")
    val cleaned = graft.llm.QualityRules.c4Clean(
      extracted.select(col("id").as("doc_id"), col("text")))
    cleaned.collect()
    val p2 = cleaned.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), s"c4 cleaning must ride the scan:\n$p2")
  }

  test("ann top-k ranks via bounded partial aggregation, never a per-query window") {
    val emb = Tables.embeddings(spark, sf)
    val df = graft.llm.Similarity.topKCosine(emb,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "the serving ladder's flat scan regressed to a per-query window sort " +
        "(one task holds the whole scored corpus for a query)")
    val aggs = nodes.filter(_.nodeName.contains("ObjectHashAggregate"))
      .map(_.simpleString(10000))
    assert(aggs.exists(_.contains("partial_top_k_score_id")),
      s"top-k lost its map-side k-bounded combine:\n${aggs.mkString("\n")}")
    assert(aggs.exists(a => a.contains("top_k_score_id(") && !a.contains("partial_")),
      s"missing final-phase top-k aggregate:\n${aggs.mkString("\n")}")
  }

  test("host cap never windows; survivors come from a k-bounded partial agg") {
    val urls = spark.range(5000).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 5).cast("string"),
        lit(".example.com/p/"), col("id").cast("string")).as("url"))
    val df = graft.llm.Urls.hostCap(urls, "doc_id", "url", maxPerHost = 10)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "hostCap regressed to a per-host rank window — the Zipf-head host " +
        "would land on one task at crawl scale")
    val aggs = nodes.filter(_.nodeName.contains("ObjectHashAggregate"))
      .map(_.simpleString(10000))
    assert(aggs.exists(_.contains("partial_smallest_k_longs")),
      s"host cap lost its map-side k-bounded combine:\n${aggs.mkString("\n")}")
  }

  test("banded maxBucket guard never windows: over-cap keys drop via broadcast anti-join") {
    import spark.implicits._
    // images (BandedHamming), video (frame-keyed), and the embedding
    // LSH guard all share the skew-safe dropOverCap shape — a count
    // window here would land a saturated bucket's every row on ONE task
    val media = spark.range(64).map { id =>
      graft.llm.Multimodal.MediaRow(id,
        graft.llm.Multimodal.syntheticPngBlocks(id % 16, 9, 8), "image/png", 9, 8)
    }
    val img = graft.llm.ImageDedup.nearDuplicates(
      graft.llm.ImageDedup.dHash(media), maxHamming = 3, maxBucket = 8)
    img.collect()
    val p1 = img.queryExecution.executedPlan.toString
    assert(!p1.contains("Window"),
      s"image guard regressed to a count window (hot bucket on one task):\n$p1")
    assert(p1.contains("BroadcastHashJoin") && p1.contains("LeftAnti"),
      s"over-cap keys must drop via a broadcast anti-join:\n$p1")
    val emb = Tables.embeddings(spark, sf)
    val sem = graft.llm.Similarity.nearDuplicates(emb, "vec_id", "embedding",
      threshold = 0.4, maxBucket = Some(50))
    sem.collect()
    val p2 = sem.queryExecution.executedPlan.toString
    assert(!p2.contains("Window"),
      s"embedding LSH guard regressed to a count window:\n$p2")
  }

  test("url dedup picks survivors via a min_by partial agg, never a per-url window") {
    val urls = spark.range(5000).select(col("id").as("doc_id"),
      concat(lit("https://mirror.example.com/p/"), (col("id") % 50).cast("string"))
        .as("url"))
    val df = graft.llm.Urls.dedupByUrl(urls, "doc_id", "url")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "dedupByUrl regressed to a per-url rank window — a hotlinked " +
        s"canonical URL would land on one task at crawl scale:\n$p")
    assert(p.contains("partial_min_by") || p.contains("min_by"),
      s"first-crawl-wins lost its partial aggregation:\n$p")
  }

  test("incremental crawl hygiene never windows; boundary keep-lists broadcast") {
    val old = spark.range(3000).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 5).cast("string"),
        lit(".example.com/p/"), col("id").cast("string")).as("url"))
    val nw = spark.range(3000, 4000).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 5).cast("string"),
        lit(".example.com/p/"), col("id").cast("string")).as("url"))
    val capped = graft.llm.Urls.hostCapIncremental(nw, "doc_id", "url",
      maxPerHost = 700, graft.llm.Urls.hostSeenCounts(old, "url"))
    capped.collect()
    val p1 = capped.queryExecution.executedPlan.toString
    assert(!p1.contains("Window"),
      s"hostCapIncremental regressed to a rank window:\n$p1")
    assert(p1.contains("smallest_k_longs"),
      s"k-bounded survivor aggregate missing:\n$p1")
    assert(p1.contains("BroadcastHashJoin"),
      s"boundary host set / keep-list must broadcast:\n$p1")
    val deduped = graft.llm.Urls.dedupByUrlIncremental(nw, "doc_id", "url",
      graft.llm.Urls.seenUrls(old, "url"))
    deduped.collect()
    val p2 = deduped.queryExecution.executedPlan.toString
    assert(!p2.contains("Window"),
      s"dedupByUrlIncremental regressed to a per-url window:\n$p2")
    assert(p2.contains("min_by") || p2.contains("partial_min_by"),
      s"first-crawl-wins lost its partial aggregation:\n$p2")
  }

  test("poly_hash native expression stays inside whole-stage codegen") {
    val df = Tables.documents(spark, sf)
      .select(TextHash.polyHash(lower(col("text"))).as("fp"))
      .groupBy(col("fp")).count()
    df.collect() // AQE shows codegen stages only in the finalized plan
    val p = df.queryExecution.executedPlan.toString
    // codegen membership prints as a "*(n)" stage prefix on the operator
    val projLine = p.linesIterator.find(_.contains("poly_hash")).getOrElse("")
    assert(projLine.trim.stripPrefix("+- ").startsWith("*("),
      s"poly_hash projection outside codegen:\n$p")
  }
}
