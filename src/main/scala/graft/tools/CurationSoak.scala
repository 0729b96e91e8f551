package graft.tools

import graft.SparkEntry
import graft.core.Tables
import graft.llm.{Bloom, Bm25, Bpe, ClusteredCorpus, Decontaminate, Dsir, KMeansLite, Mixer, NgramLm, Packer, Pca, Pq, Quantize, Sharder, Shingles, Similarity, SpanDedup, Sq, Unigram}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times the round-7 curation operators on SPARK_GRAFT_SF_DIR —
  * decontamination (broadcast n-gram overlap), source-ratio mixing
  * (md5 scan predicate), sequence packing (two-level prefix sum), and
  * int8 quantization (row-local transform) — so their scale shape is
  * measured like the headline queries in SCALING.md, not just
  * plan-audited. min-of-3 with one warm-up, count() as the sink.
  *
  * Prints one JSON line:
  * {{{ {"metric":"curation_soak","queries":{...},"rows":{...},"sf":dir} }}}
  *
  * Run (after `ScaleGen` for the sf1 dir):
  * {{{
  * SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  *   SPARK_DRIVER_MEM=32g sbt "runMain graft.tools.CurationSoak"
  * }}}
  */
object CurationSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def docs = Tables.documents(spark, sfDir)
    def emb = Tables.embeddings(spark, sfDir)
    val scaledCells = Similarity.cellsFor(emb.count())
    val nDocs = docs.count() // sizes the synthetic image corpus, once
    // optional comma-separated name filter for single-op reruns
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY").map(_.split(",").toSet)

    // SQ8 index BUILD (once, outside the timed thunks — the serving
    // shape is build-once / serve-every-batch): the at-rest arm scans
    // this 4×-narrower parquet instead of the float corpus
    val sqIndexDir = "/tmp/graft_sq_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.contains("sq_ann_at_rest"))) {
      Sq.buildIndex(emb, "vec_id", "embedding")
        .write.mode("overwrite").parquet(sqIndexDir)
    }

    // image fixture corpus (once, outside the timed thunks — the PNG
    // encode is fixture manufacturing; the dedup operator's production
    // input is image bytes at rest)
    val mediaDir = "/tmp/graft_media_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(o =>
      o.contains("image_dhash_neardup") || o.contains("image_phash_neardup"))) {
      import spark.implicits._
      val nPatterns = math.max(1L, nDocs / 4)
      spark.range(nDocs).map { id =>
        val pid = id % nPatterns
        val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
        graft.llm.Multimodal.MediaRow(
          id, graft.llm.Multimodal.syntheticPngBlocks(pid, w, h), "image/png", w, h)
      }.write.mode("overwrite").parquet(mediaDir)
    }
    val audioDir = "/tmp/graft_audio_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.contains("audio_ahash_neardup"))) {
      import spark.implicits._
      val nPatterns = math.max(1L, nDocs / 4)
      spark.range(nDocs).map { id =>
        val pid = id % nPatterns
        val n = 130 + 13 * (id % 10).toInt
        graft.llm.Multimodal.MediaRow(
          id, graft.llm.Multimodal.syntheticWavBlocks(pid, n), "audio/wav", n, 1)
      }.write.mode("overwrite").parquet(audioDir)
    }
    val videoDir = "/tmp/graft_video_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(o =>
      o.contains("video_vhash_neardup") || o.contains("video_vhash_offset"))) {
      import spark.implicits._
      val nPatterns = math.max(1L, nDocs / 4)
      spark.range(nDocs).map { id =>
        val pid = id % nPatterns
        val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
        graft.llm.Multimodal.MediaRow(id,
          graft.llm.Multimodal.syntheticAviBlocks(pid, 5, w, h), "video/avi", w, h)
      }.write.mode("overwrite").parquet(videoDir)
    }

    // Zipf-head crawl shape for the host-cap arm, 50 url rows per
    // corpus document (the cap is a CRAWL-scale operator — the skew
    // cliff only prices in when the head host holds ~10^6 rows): every
    // even id on ONE giant host, odd ids spread over 20011 ordinary
    // hosts so each stays UNDER the cap — the production geometry
    // where exactly the Zipf head ranks and everything else passes
    // through. At sf1 that is a 2.5M-row crawl with a 1.25M-row head
    // host: a per-host rank window would sort all of it in one task.
    def zipfUrls = spark.range(50L * nDocs).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0,
        concat(lit("https://zipfhead.example.com/p/"), col("id").cast("string")))
        .otherwise(concat(lit("https://h"), (col("id") % 20011).cast("string"),
          lit(".example.com/p/"), col("id").cast("string"))).as("url"))

    // skewed-term BM25 corpus: every doc contains "common" (a 20M-doc
    // posting list), plus a ~1/97 term and a unique token
    def skewDocs = spark.range(20000000L).select(col("id").as("doc_id"),
      concat(lit("common t"), (col("id") % 97).cast("string"),
        lit(" u"), col("id").cast("string")).as("text"))

    // guard-knob A/B corpus (see the guard_overcap arms): 2M over-cap
    // (band, key) buckets of 22 rows each (cap 20) + 4M singletons;
    // 2000000 % 4 == 0 makes key determine band, so the bucket count
    // is exactly 2M — an over-cap key set just past the broadcast
    // threshold
    def guardCorpus = spark.range(48000000L).select(
      col("id").as("media_id"),
      (col("id") % 4).as("band"),
      when(col("id") < 44000000L, col("id") % 2000000L)
        .otherwise(col("id")).as("key"))

    // serving-sized synthetic corpus for the ranking arm: 1M 16-dim
    // vectors of deterministic pseudo-random floats (pure projection —
    // no fixture i/o)
    def bigEmb = spark.range(1000000L).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        d => (((col("id") * 37 + d * 101) % 997) / lit(997.0) - 0.5).cast("float"))
        .as("embedding"))

    // at-rest SemDeDup cell index (codebook + assignments + keep) for
    // the incremental-semantic-dedup A/B — build-once, serve-every-
    // increment, the same production shape as the SQ8/shingle indexes
    val semIdxDir = "/tmp/graft_semidx_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.contains("semdedup_incremental"))) {
      val oldE = emb.filter(col("vec_id") % 5 =!= 0)
      val cb = Similarity.coarseCodebook(oldE, "vec_id", "embedding", scaledCells)
      cb.write.mode("overwrite").parquet(s"$semIdxDir/codebook")
      Similarity.semDeDupWithCodebook(oldE, "vec_id", "embedding", 0.4,
          spark.read.parquet(s"$semIdxDir/codebook"))
        .join(oldE.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("cell"), col("keep"))
        .write.mode("overwrite").parquet(s"$semIdxDir/index")
    }

    // at-rest line-hash counts for the incremental line-dedup A/B —
    // docs salted with a shared footer + a unique line (the oracle's
    // shape) so the banned path fires on every document
    def saltedDocs = docs.select(col("doc_id"),
      concat(col("text"), lit("\nSHARED BOILERPLATE FOOTER\nunique "),
        col("doc_id")).as("text"))
    val lineIdxDir = "/tmp/graft_lineidx_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.contains("line_dedup_incremental"))) {
      graft.llm.LineDedup.lineCounts(saltedDocs.filter(col("doc_id") % 5 =!= 0))
        .write.mode("overwrite").parquet(lineIdxDir)
    }

    // at-rest BM25 inverted index over the SKEW corpus (build-once /
    // serve-every-query): postings RANGE-clustered by (w, doc_id) —
    // min/max stats still prune untouched terms' files, but a HOT
    // term's posting list splits across many files and reads in
    // parallel. (Hash-partitioning by w alone put the 20M-row
    // "common" list in ONE file: a single-task read, measured 53 s —
    // the very skew shape the house guards exist for.)
    val bm25IdxDir = "/tmp/graft_bm25idx_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.contains("bm25_skew_indexed"))) {
      Bm25.clusterIndex(Bm25.buildIndex(skewDocs, "doc_id", "text"))
        .write.mode("overwrite").parquet(bm25IdxDir)
      Bm25.indexStats(skewDocs, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$bm25IdxDir-stats")
    }

    // at-rest composed-journey state (bootstrap over the 80% "old"
    // corpus, persisted as production would) for the end-to-end
    // daily-step A/B — index, labels, and watermark written once.
    // The split is the TOP ~20% of ids (not doc_id % 5): the step's
    // default-on watermark guard enforces the monotone-id contract a
    // production daily batch actually has, so the soak increment must
    // arrive ABOVE the at-rest corpus, exactly like a real crawl day
    // lazy: the exact full-corpus quantile is an eager action — only
    // the journey cases should pay it, not every filtered soak run
    lazy val journeyCut =
      docs.stat.approxQuantile("doc_id", Array(0.8), 0.0).head.toLong
    val journeyDir = "/tmp/graft_journey_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    // the 4%-increment tier: the 20% arms above measure a stress
    // ratio where increment-sized work is a fifth of the corpus; a
    // production daily increment is ≤ 1%, so this arm is the one that
    // shows the step's cost tracking the INCREMENT while the
    // bootstrap's tracks the corpus
    lazy val journeyCut4 =
      docs.stat.approxQuantile("doc_id", Array(0.96), 0.0).head.toLong
    val journeyDir4 = "/tmp/graft_journey4_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.exists(_.contains("journey4_step")))) {
      val st = graft.api.IncrementalCuration.stateOf(
        docs.filter(col("doc_id") < journeyCut4), dupThreshold = 0.01)
      st.shingleIndex.write.mode("overwrite").parquet(s"$journeyDir4/index")
      st.labels.write.mode("overwrite").parquet(s"$journeyDir4/labels")
      st.maxId.get.write.mode("overwrite").parquet(s"$journeyDir4/maxid")
      val bi = st.bands.get
      bi.bandKeys.write.mode("overwrite").parquet(s"$journeyDir4/bandkeys")
      bi.bucketCounts.write.mode("overwrite").parquet(s"$journeyDir4/bucketcounts")
      bi.sizes.write.mode("overwrite").parquet(s"$journeyDir4/sizes")
    }

    // the ~1%-increment tier — the production daily ratio itself
    // (completes the 20% → 4% → 1% measured ladder; r15 stopped at
    // 4%). Bootstrapped BOTH ways: plain parquet (the journey4 shape)
    // AND through core.BucketedStore with each side-table bucketed by
    // its serve-join key — the layout under which the step's pairing
    // and role-split verify run with zero exchange on the corpus side
    // (PlanAuditSpec pins the plan; this measures it).
    lazy val journeyCut1 =
      docs.stat.approxQuantile("doc_id", Array(0.99), 0.0).head.toLong
    val journeyDir1 = "/tmp/graft_journey1_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(_.exists(_.contains("journey1_step")))) {
      val st = graft.api.IncrementalCuration.stateOf(
        docs.filter(col("doc_id") < journeyCut1), dupThreshold = 0.01)
      st.shingleIndex.write.mode("overwrite").parquet(s"$journeyDir1/index")
      st.labels.write.mode("overwrite").parquet(s"$journeyDir1/labels")
      st.maxId.get.write.mode("overwrite").parquet(s"$journeyDir1/maxid")
      val bi = st.bands.get
      bi.bandKeys.write.mode("overwrite").parquet(s"$journeyDir1/bandkeys")
      bi.bucketCounts.write.mode("overwrite").parquet(s"$journeyDir1/bucketcounts")
      bi.sizes.write.mode("overwrite").parquet(s"$journeyDir1/sizes")
      // the bucketed twins (read back from the plain write so the
      // bucketed write does not re-run the bootstrap derivation)
      import graft.core.BucketedStore
      BucketedStore.write(spark.read.parquet(s"$journeyDir1/index"),
        "j1_index", s"$journeyDir1/b_index", Seq("doc_id", "h"), 32,
        Seq("doc_id", "h"))
      BucketedStore.write(spark.read.parquet(s"$journeyDir1/bandkeys"),
        "j1_bandkeys", s"$journeyDir1/b_bandkeys", Seq("band", "key"), 32)
      BucketedStore.write(spark.read.parquet(s"$journeyDir1/bucketcounts"),
        "j1_bucketcounts", s"$journeyDir1/b_bucketcounts", Seq("band", "key"), 32)
      BucketedStore.write(spark.read.parquet(s"$journeyDir1/sizes"),
        "j1_sizes", s"$journeyDir1/b_sizes", Seq("doc_id"), 32, Seq("doc_id"))
    }

    // substring match: BOTH journey arms (banded + nosides) share this
    // bootstrap, and neither equals the literal "journey_step"
    if (only.forall(_.exists(_.contains("journey_step")))) {
      val st = graft.api.IncrementalCuration.stateOf(
        docs.filter(col("doc_id") < journeyCut), dupThreshold = 0.01)
      st.shingleIndex.write.mode("overwrite").parquet(s"$journeyDir/index")
      st.labels.write.mode("overwrite").parquet(s"$journeyDir/labels")
      st.maxId.get.write.mode("overwrite").parquet(s"$journeyDir/maxid")
      // the banded-LSH side-tables, persisted next to the index like
      // production would (stateOf derives them from the index once)
      val bi = st.bands.get
      bi.bandKeys.write.mode("overwrite").parquet(s"$journeyDir/bandkeys")
      bi.bucketCounts.write.mode("overwrite").parquet(s"$journeyDir/bucketcounts")
      bi.sizes.write.mode("overwrite").parquet(s"$journeyDir/sizes")
    }

    // at-rest shingle index for the incremental-dedup A/B (build-once,
    // serve-every-increment — the production shape, like the SQ8 index)
    val shingleIndexDir = "/tmp/graft_shidx_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    if (only.forall(o =>
      o.contains("minhash_incremental") || o.contains("jaccard_incremental"))) {
      graft.llm.MinHash.shingleIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        .write.mode("overwrite").parquet(shingleIndexDir)
      // the df/size side-tables that make the Jaccard step fully
      // increment-sized — built once next to the index, like it
      graft.llm.Jaccard.indexDfs(spark.read.parquet(shingleIndexDir))
        .write.mode("overwrite").parquet(s"$shingleIndexDir-dfs")
      graft.llm.Jaccard.indexSizes(spark.read.parquet(shingleIndexDir), "doc_id")
        .write.mode("overwrite").parquet(s"$shingleIndexDir-sizes")
    }

    val cases: Seq[(String, () => DataFrame)] = Seq(
      // incremental dedup: the 20% "daily increment" against the
      // at-rest index vs re-running the full batch join and filtering
      // — the number that matters is the absent old×old candidate work
      "minhash_incremental" -> { () =>
        graft.llm.MinHash.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          spark.read.parquet(shingleIndexDir), n = 3, threshold = 0.01)
      },
      "minhash_batch_restricted" -> { () =>
        graft.llm.MinHash.nearDuplicates(docs, "doc_id", "text",
          n = 3, threshold = 0.01)
          .filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      },
      // n-gram Jaccard over the SAME at-rest shingle index — one
      // stored artifact serves two dedup flavors; the absent term is
      // the old×old inverted-index self-join
      "jaccard_incremental" -> { () =>
        graft.llm.Jaccard.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          spark.read.parquet(shingleIndexDir), n = 3, threshold = 0.1, maxDf = 50)
      },
      "jaccard_batch_restricted" -> { () =>
        graft.llm.Jaccard.nearDuplicates(docs, "doc_id", "text",
          n = 3, threshold = 0.1, maxDf = 50)
          .filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      },
      // with the at-rest df/size side-tables: the two linear index
      // passes become increment-keyed joins against stored relations
      "jaccard_incremental_sidetables" -> { () =>
        graft.llm.Jaccard.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          spark.read.parquet(shingleIndexDir), n = 3, threshold = 0.1, maxDf = 50,
          sideTables = Some((
            spark.read.parquet(s"$shingleIndexDir-dfs"),
            spark.read.parquet(s"$shingleIndexDir-sizes"))))
      },
      // incremental line dedup: the 20% daily batch cleaned against
      // the at-rest per-line-hash counts vs the full-corpus batch run
      // restricted — the absent term is the old-corpus explode+count
      "line_dedup_incremental" -> { () =>
        graft.llm.LineDedup.dedupLinesIncremental(
          saltedDocs.filter(col("doc_id") % 5 === 0),
          spark.read.parquet(lineIdxDir))
      },
      "line_dedup_batch_restricted" -> { () =>
        graft.llm.LineDedup.dedupLines(saltedDocs)
          .filter(col("doc_id") % 5 === 0)
      },
      // the COMPOSED daily step, end to end: score → gate →
      // incremental pairs → contraction-CC keep (+ revoked) + the
      // state-advance append (the increment's own index rows —
      // recomputed here where production shares the scored pass, so
      // the incremental arm is measured CONSERVATIVELY) vs the
      // bootstrap batch run over the full corpus with ITS index build
      // the production arm: every stage serves from at-rest state,
      // INCLUDING the banded-LSH side-tables (band keys + bucket
      // counts + sizes) — no aggregate runs over the accumulated
      // index. The sink additionally consumes the increment's OWN
      // band-key rows (the daily side-table append production writes),
      // so this arm is measured conservatively.
      "journey_step_incremental" -> { () =>
        val nw = docs.filter(col("doc_id") >= journeyCut)
        val state = graft.api.IncrementalCuration.State(
          spark.read.parquet(s"$journeyDir/index"),
          spark.read.parquet(s"$journeyDir/labels"),
          Some(spark.read.parquet(s"$journeyDir/maxid")),
          Some(graft.llm.MinHash.BandIndex(
            spark.read.parquet(s"$journeyDir/bandkeys"),
            spark.read.parquet(s"$journeyDir/bucketcounts"),
            spark.read.parquet(s"$journeyDir/sizes"))))
        val (sv, rv, _) = graft.api.IncrementalCuration.step(
          nw, state, dupThreshold = 0.01)
        val append = graft.llm.MinHash.shingleIndex(
          graft.api.CurationPipeline.gate(graft.api.CurationPipeline.score(nw)),
          "doc_id", "text")
        sv.select(col("doc_id")).unionByName(rv)
          .unionByName(append.select(col("doc_id")))
          .unionByName(graft.llm.MinHash.indexBandKeys(append, "doc_id")
            .select(col("doc_id")))
      },
      // the production-ratio tier: a 4% increment against the 96%
      // at-rest corpus, banded side-tables on — the arm where
      // increment-proportional cost separates from corpus-proportional
      "journey4_step_incremental" -> { () =>
        val nw = docs.filter(col("doc_id") >= journeyCut4)
        val state = graft.api.IncrementalCuration.State(
          spark.read.parquet(s"$journeyDir4/index"),
          spark.read.parquet(s"$journeyDir4/labels"),
          Some(spark.read.parquet(s"$journeyDir4/maxid")),
          Some(graft.llm.MinHash.BandIndex(
            spark.read.parquet(s"$journeyDir4/bandkeys"),
            spark.read.parquet(s"$journeyDir4/bucketcounts"),
            spark.read.parquet(s"$journeyDir4/sizes"))))
        val (sv, rv, _) = graft.api.IncrementalCuration.step(
          nw, state, dupThreshold = 0.01)
        val append = graft.llm.MinHash.shingleIndex(
          graft.api.CurationPipeline.gate(graft.api.CurationPipeline.score(nw)),
          "doc_id", "text")
        sv.select(col("doc_id")).unionByName(rv)
          .unionByName(append.select(col("doc_id")))
          .unionByName(graft.llm.MinHash.indexBandKeys(append, "doc_id")
            .select(col("doc_id")))
      },
      // the production-daily tier: a ~1% increment against the 99%
      // at-rest corpus, banded side-tables on — with the r16
      // role-split verify, every term of this step should track the
      // INCREMENT (the r15 `weak` item was the verify stage's two
      // corpus-index shuffles; this arm is where their removal prices)
      "journey1_step_incremental" -> { () =>
        val nw = docs.filter(col("doc_id") >= journeyCut1)
        val state = graft.api.IncrementalCuration.State(
          spark.read.parquet(s"$journeyDir1/index"),
          spark.read.parquet(s"$journeyDir1/labels"),
          Some(spark.read.parquet(s"$journeyDir1/maxid")),
          Some(graft.llm.MinHash.BandIndex(
            spark.read.parquet(s"$journeyDir1/bandkeys"),
            spark.read.parquet(s"$journeyDir1/bucketcounts"),
            spark.read.parquet(s"$journeyDir1/sizes"))))
        val (sv, rv, _) = graft.api.IncrementalCuration.step(
          nw, state, dupThreshold = 0.01)
        val append = graft.llm.MinHash.shingleIndex(
          graft.api.CurationPipeline.gate(graft.api.CurationPipeline.score(nw)),
          "doc_id", "text")
        sv.select(col("doc_id")).unionByName(rv)
          .unionByName(append.select(col("doc_id")))
          .unionByName(graft.llm.MinHash.indexBandKeys(append, "doc_id")
            .select(col("doc_id")))
      },
      // the SAME 1% step served from the BUCKETED at-rest layout:
      // identical relational plan, but the corpus-side scans satisfy
      // the join distributions natively — what the stored-layout
      // prescription buys at the measured tier
      "journey1_step_bucketed" -> { () =>
        val state = graft.api.IncrementalCuration.State(
          spark.table("j1_index"),
          spark.read.parquet(s"$journeyDir1/labels"),
          Some(spark.read.parquet(s"$journeyDir1/maxid")),
          Some(graft.llm.MinHash.BandIndex(
            spark.table("j1_bandkeys"),
            spark.table("j1_bucketcounts"),
            spark.table("j1_sizes"))))
        val nw = docs.filter(col("doc_id") >= journeyCut1)
        val (sv, rv, _) = graft.api.IncrementalCuration.step(
          nw, state, dupThreshold = 0.01)
        val append = graft.llm.MinHash.shingleIndex(
          graft.api.CurationPipeline.gate(graft.api.CurationPipeline.score(nw)),
          "doc_id", "text")
        sv.select(col("doc_id")).unionByName(rv)
          .unionByName(append.select(col("doc_id")))
          .unionByName(graft.llm.MinHash.indexBandKeys(append, "doc_id")
            .select(col("doc_id")))
      },
      // the same 4% increment WITHOUT side-tables: the old-side
      // signature groupBy is a FIXED corpus cost, so at production
      // ratios this arm exposes exactly the term the BandIndex deletes
      "journey4_step_nosides" -> { () =>
        val nw = docs.filter(col("doc_id") >= journeyCut4)
        val state = graft.api.IncrementalCuration.State(
          spark.read.parquet(s"$journeyDir4/index"),
          spark.read.parquet(s"$journeyDir4/labels"),
          Some(spark.read.parquet(s"$journeyDir4/maxid")))
        val (sv, rv, _) = graft.api.IncrementalCuration.step(
          nw, state, dupThreshold = 0.01)
        val append = graft.llm.MinHash.shingleIndex(
          graft.api.CurationPipeline.gate(graft.api.CurationPipeline.score(nw)),
          "doc_id", "text")
        sv.select(col("doc_id")).unionByName(rv)
          .unionByName(append.select(col("doc_id")))
      },
      // the r14 shape (no side-tables): the step re-derives old-side
      // signatures from the index — the corpus-sized term the banded
      // arm deletes; kept as the A/B yardstick
      "journey_step_nosides" -> { () =>
        val nw = docs.filter(col("doc_id") >= journeyCut)
        val state = graft.api.IncrementalCuration.State(
          spark.read.parquet(s"$journeyDir/index"),
          spark.read.parquet(s"$journeyDir/labels"),
          Some(spark.read.parquet(s"$journeyDir/maxid")))
        val (sv, rv, _) = graft.api.IncrementalCuration.step(
          nw, state, dupThreshold = 0.01)
        val append = graft.llm.MinHash.shingleIndex(
          graft.api.CurationPipeline.gate(graft.api.CurationPipeline.score(nw)),
          "doc_id", "text")
        sv.select(col("doc_id")).unionByName(rv)
          .unionByName(append.select(col("doc_id")))
      },
      "journey_batch_bootstrap" -> { () =>
        val gated = graft.api.CurationPipeline.gate(
          graft.api.CurationPipeline.score(docs))
        val pairs = graft.api.CurationPipeline.nearDuplicatePairs(
          gated, threshold = 0.01)
        graft.api.CurationPipeline.dedup(gated, pairs).select(col("doc_id"))
          .unionByName(graft.llm.MinHash.shingleIndex(gated, "doc_id", "text")
            .select(col("doc_id")))
      },
      // BM25 under a manufactured skewed term: "common" sits in EVERY
      // one of 20M synthetic docs, so the scored relation for the
      // query is corpus-sized — a per-query rank window would land it
      // all on ONE task; the k-bounded payload aggregate ships ≤ k
      // entries per map partition (generation is inline)
      "bm25_skew" -> { () =>
        Bm25.topkPerQuery(skewDocs, "doc_id", "text",
          Seq((0L, Seq("common", "t3"))), 25)
      },
      // the same query served from the AT-REST inverted index: no
      // corpus tokenize/explode in the per-query path — the absent
      // term is the 60M-token generate+filter both scan arms pay
      "bm25_skew_indexed" -> { () =>
        Bm25.topkPerQueryFromIndex(
          spark.read.parquet(bm25IdxDir),
          spark.read.parquet(s"$bm25IdxDir-stats"),
          Seq((0L, Seq("common", "t3"))), 25)
      },
      // Gopher's full repetition matrix — the widest single-scan
      // explode in the quality family (9 n-gram sizes + lines + paras
      // from ONE pass over the text); the number to watch is that it
      // stays linear in corpus size (all keys doc-local)
      "gopher_rep" -> { () =>
        graft.llm.QualityRules.repetitionSignals(docs)
      },
      "decontaminate" -> { () =>
        val bench = docs.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id").as("bench_id"),
            array_join(slice(Shingles.tokens(col("text")), 4, 22), " ").as("text"))
        Decontaminate.overlaps(docs, "doc_id", "text",
          bench, "bench_id", "text", n = 5, minOverlap = 3)
      },
      "source_mix" -> { () =>
        Mixer.sample(docs, "doc_id", "source",
          (0 until 20 by 2).map(i => s"src$i" -> 0.25).toMap, defaultRate = 0.6)
      },
      "pack" -> { () =>
        Packer.packed(docs, "doc_id", "text", budget = 1024, bucketSize = 4096L)
      },
      "quantize" -> { () =>
        Quantize.int8(emb, "vec_id", "embedding")
          .select(col("vec_id"), col("amax"), size(col("codes")).as("n"))
      },
      "lm_ppl" -> { () => NgramLm.scored(docs, "doc_id", "text") },
      "bm25" -> { () =>
        Bm25.topk(docs, "doc_id", "text",
          Seq("spark", "join", "window", "stream"), 25)
      },
      "dsir" -> { () => Dsir.weights(docs, "doc_id", "text") },
      "bpe_segments" -> { () => Bpe.segments(docs, "doc_id", "text") },
      "dup_regions" -> { () => SpanDedup.dupRegions(docs, "doc_id", "text", n = 13) },
      "semdedup" -> { () =>
        Similarity.semDeDup(emb, "vec_id", "embedding", threshold = 0.4, nCells = 8)
      },
      // the production knob rule, measured: nCells ∝ corpus bounds the
      // per-cell population (target ~2.5k vectors/cell) so the in-cell
      // quadratic term stays constant per cell as the corpus grows —
      // the fixed-8-cell case above deliberately stresses the opposite
      // (cell count computed OUTSIDE the thunk so the timed run covers
      // only the semDeDup plan, not an extra corpus scan)
      "semdedup_scaled" -> { () =>
        Similarity.semDeDup(emb, "vec_id", "embedding", threshold = 0.4,
          nCells = scaledCells)
      },
      // the clustered-regime arms (r11): the MoG transform is a
      // stateless fused projection (plan-audited), so these time the
      // OPERATORS in the bucket/cell geometry production corpora
      // actually have — concentrated buckets, dense cells
      "neardup_mog_uncapped" -> { () =>
        Similarity.nearDuplicates(
          ClusteredCorpus.mixtureOfGaussians(emb, "vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9)
      },
      "neardup_mog_capped" -> { () =>
        Similarity.nearDuplicates(
          ClusteredCorpus.mixtureOfGaussians(emb, "vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, maxBucket = Some(500))
      },
      "semdedup_mog" -> { () =>
        Similarity.semDeDup(
          ClusteredCorpus.mixtureOfGaussians(emb, "vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, nCells = scaledCells)
      },
      // bucketed LSH serving, single-probe vs Hamming-1 multi-probe —
      // the 9× query-side fan-out's measured cost next to its measured
      // recall lift (ann_recall's lsh_mp row)
      "lsh_ann" -> { () =>
        Similarity.topKCosineBucketed(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3)
      },
      "lsh_ann_mp" -> { () =>
        Similarity.topKCosineBucketedMultiProbe(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3, hamming = 1)
      },
      // SQ8 serving, three ways: the exact float scan it competes
      // with, the inline-quantized scan (encode fused into the same
      // corpus pass — pays the encode, saves nothing at rest), and
      // the at-rest index scan (pre-built codes parquet — the real
      // residency story: same ranking, 4× fewer scan bytes)
      "exact_ann" -> { () =>
        Similarity.topKCosine(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3)
      },
      "sq_ann_inline" -> { () =>
        Sq.topKCosineSq(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3)
      },
      "sq_ann_at_rest" -> { () =>
        Sq.topKCosineCoded(spark.read.parquet(sqIndexDir),
          emb.filter(col("vec_id") < 16), "vec_id", "embedding", k = 3)
      },
      // flat-scan ranking at serving-corpus size: 1M synthetic 16-dim
      // vectors (deterministic hash floats, generated inline), 8
      // probes. The k-bounded partial aggregation keeps ≤ k entries
      // per query per map task and never ships the scored relation
      // anywhere (the row_number window it replaced had 8 tasks each
      // receive and sort a FULL 1M-row scored corpus copy)
      "exact_ann_1m" -> { () =>
        Similarity.topKCosine(bigEmb, bigEmb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
      },
      // the SHORTLIST ranker on the clustered corpus — the regime
      // where per-bucket shortlists concentrate (the r11 MoG
      // measurement) and a per-query window's empirical bound is
      // weakest
      "lsh_ann_mog" -> { () =>
        val mog = ClusteredCorpus.mixtureOfGaussians(emb, "vec_id", "embedding")
        Similarity.topKCosineBucketed(mog, mog.filter(col("vec_id") < 256),
          "vec_id", "embedding", k = 5)
      },
      // incremental SemDeDup: the 20% "daily increment" scored against
      // the at-rest cell index (codebook + assignments + keep flags,
      // built once above) vs re-running the whole-corpus batch dedup
      // under the same codebook — the absent old×old in-cell pair work
      "semdedup_incremental" -> { () =>
        Similarity.semDeDupIncremental(
          emb.filter(col("vec_id") % 5 === 0),
          spark.read.parquet(s"$semIdxDir/index"),
          spark.read.parquet(s"$semIdxDir/codebook"),
          "vec_id", "embedding", 0.4)
      },
      "semdedup_batch_rerun" -> { () =>
        Similarity.semDeDupWithCodebook(emb, "vec_id", "embedding", 0.4,
          spark.read.parquet(s"$semIdxDir/codebook"))
      },
      // the Guards.broadcastBounded force|auto A/B, measured at the
      // regime where the modes actually diverge: the over-cap guard
      // set is ~2M (band, key) rows — ABOVE the 10 MB broadcast
      // threshold — so `force` broadcasts it anyway (the hint ignores
      // the threshold; driver + executors each hold the set) while
      // `auto` lets AQE's byte-accurate accounting degrade both
      // anti-joins to shuffles. The corpus: 2M over-cap buckets of 22
      // rows (cap 20) + 4M singletons, generated inline (both arms
      // pay identically)
      "guard_overcap_force" -> { () =>
        graft.llm.BandedHamming.dropOverCap(
          guardCorpus, Seq("band", "key"), 20)
      },
      "guard_overcap_auto" -> { () =>
        spark.conf.set(graft.llm.Guards.ConfKey, "auto")
        // the knob is read at PLAN-BUILD time, so the reset below
        // cannot un-choose the shuffled join; it just keeps the
        // session default for every later arm
        try graft.llm.BandedHamming.dropOverCap(
          guardCorpus, Seq("band", "key"), 20)
        finally spark.conf.unset(graft.llm.Guards.ConfKey)
      },
      // per-host crawl cap under a manufactured Zipf head (half the
      // corpus on ONE host): the bounded-agg survivor pick, where a
      // per-host rank window would land the head host's every row on
      // a single task
      "host_cap_zipf" -> { () =>
        graft.llm.Urls.hostCap(zipfUrls, "doc_id", "url", maxPerHost = 100)
      },
      // perceptual image dedup at corpus scale: one synthetic PNG per
      // document (pattern count = corpus/4, so ~4 renders per pattern
      // keep the dup structure constant as sf grows), REAL decode on
      // the executors, banded-Hamming pair join — the number to watch
      // is linearity: decode is partition-local, the only shuffle keys
      // on (band, key16). The PNG ENCODE is fixture manufacturing,
      // not operator cost, so the corpus is materialized once above
      // (mediaDir) and the timed run starts from bytes at rest — the
      // production shape.
      "image_dhash_neardup" -> { () =>
        import spark.implicits._
        val media = spark.read.parquet(mediaDir)
          .as[graft.llm.Multimodal.MediaRow]
        graft.llm.ImageDedup.nearDuplicates(
          graft.llm.ImageDedup.dHash(media), maxHamming = 3, maxBucket = 2000)
      },
      // the DCT pHash over the same fixture corpus: what the 32×32
      // grid + integer 8×8 DCT adds on top of dHash's decode cost
      "image_phash_neardup" -> { () =>
        import spark.implicits._
        val media = spark.read.parquet(mediaDir)
          .as[graft.llm.Multimodal.MediaRow]
        graft.llm.PHashDct.nearDuplicates(
          graft.llm.PHashDct.hash(media), maxHamming = 3, maxBucket = 2000)
      },
      // the audio/video analogs of the image arm — same banded join
      // core (BandedHamming), so the number these add is the decode
      // cost: WAV PCM walk per clip, RIFF/AVI container walk + 5 DIB
      // frame decodes per video
      "audio_ahash_neardup" -> { () =>
        import spark.implicits._
        val media = spark.read.parquet(audioDir)
          .as[graft.llm.Multimodal.MediaRow]
        graft.llm.AudioDedup.nearDuplicates(
          graft.llm.AudioDedup.envelopeHash(media), maxHamming = 3, maxBucket = 2000)
      },
      "video_vhash_neardup" -> { () =>
        import spark.implicits._
        val media = spark.read.parquet(videoDir)
          .as[graft.llm.Multimodal.MediaRow]
        graft.llm.VideoDedup.nearDuplicates(
          graft.llm.VideoDedup.frameHashes(media), maxPerFrameHamming = 3,
          maxBucket = 2000)
      },
      // the offset-tolerant arm over the SAME clip corpus — the
      // direct price of dropping frame_no from the collision key
      // (buckets widen nFrames×, candidates carry an offset column):
      // what trimmed-copy tolerance costs next to the aligned join
      "video_vhash_offset_neardup" -> { () =>
        import spark.implicits._
        val media = spark.read.parquet(videoDir)
          .as[graft.llm.Multimodal.MediaRow]
        graft.llm.VideoDedup.nearDuplicatesAligned(
          graft.llm.VideoDedup.frameHashes(media), maxPerFrameHamming = 3,
          minOverlap = 5, maxBucket = 2000)
      },
      "pq_ann" -> { () =>
        Pq.topKAdc(emb, emb.filter(col("vec_id") < 16), "vec_id", "embedding",
          kNeighbors = 3, dim = 64, m = 4, k = 8)
      },
      // the refine stage's measured overhead vs the bare ADC scan:
      // same quantized shortlist 3× deeper, plus the candidate-bounded
      // exact re-scoring join
      "pq_ann_refine" -> { () =>
        Pq.topKAdcRefined(emb, emb.filter(col("vec_id") < 16), "vec_id",
          "embedding", kNeighbors = 3, dim = 64, m = 4, k = 8, refineFactor = 3)
      },
      "unigram" -> { () =>
        Unigram.segments(docs, "doc_id", "text", topMulti = 48, maxLen = 4)
      },
      "shards" -> { () =>
        Sharder.assign(docs, "doc_id", "text", nShards = 8,
          bandWidth = 64L, bucketSize = 4096L)
      },
      "top_pc" -> { () =>
        Pca.topComponent(emb, "embedding", dim = 64, iters = 2)
      },
      "top_pc_float" -> { () =>
        Pca.topComponent(emb, "embedding", dim = 64, iters = 2, exact = false)
      },
      "kmeans" -> { () =>
        val (_, asg) = KMeansLite.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
        asg.select(col("vec_id"), col("cluster"))
      },
      "ivfpq_ann" -> { () =>
        graft.llm.IvfPq.topKAdc(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", kNeighbors = 3, dim = 64,
          nlist = 4, nprobe = 2, m = 4, k = 8)
      },
      "wordpiece" -> { () =>
        graft.llm.WordPiece.segments(docs, "doc_id", "text",
          topMulti = 48, maxLen = 4)
      },
      "quality_clf" -> { () =>
        graft.llm.QualityClassifier.scored(docs, "doc_id", "text",
          col("source").isin("src1", "src4", "src7"))
      },
      "kn_ppl" -> { () =>
        graft.llm.KneserNey.scored(docs, "doc_id", "text")
      },
      "abtt" -> { () =>
        graft.llm.Pca.allButTheTop(emb, "vec_id", "embedding",
          dim = 64, iters = 2)
      },
      "jl_project" -> { () =>
        graft.llm.RandomProjection.project(emb, "vec_id", "embedding", k = 16)
      },
      "bloom_decontam" -> { () =>
        val bench = docs.filter(col("doc_id") % 17 === 0)
          .select(array_join(slice(Shingles.tokens(col("text")), 4, 22), " ").as("text"))
        val bm = Bloom.buildBitmap(bench, "text", n = 5, mBits = Bloom.DefaultMBits)
        Bloom.contaminationFlags(docs, "doc_id", "text", bm,
          n = 5, mBits = Bloom.DefaultMBits)
      },
      "hll" -> { () =>
        val occ = docs.select(col("lang"),
          explode(Shingles.tokens(col("text"))).as("tok"))
        graft.llm.Sketches.hllDistinct(occ, "lang", "tok")
      },
      "cms_topk" -> { () =>
        val occ = docs.select(explode(Shingles.tokens(col("text"))).as("tok"))
        graft.llm.Sketches.cmsHeavyHitters(occ, "tok", k = 25)
      },
      "len_hist" -> { () =>
        graft.llm.Sketches.histQuantiles(docs, "n_chars",
          lo = 0L, hi = 4096L, bins = 64, quantiles = Seq(0.5, 0.9, 0.99))
      },
      "rrf_fusion" -> { () =>
        val lex = Bm25.topkPerQuery(docs, "doc_id", "text",
          graft.queries.SketchQueries.RrfQueries, k = 20)
        val dense = Similarity
          .topKCosine(emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", 20)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        graft.llm.Hybrid.rrfFuse(lex, dense, k = 10)
      },
      "unigram_em" -> { () =>
        Unigram.emRound(docs, "doc_id", "text", topMulti = 48, maxLen = 4)
      },
      "suffix_rank" -> { () =>
        graft.llm.SuffixArray.boundedSuffixRanks(docs, "doc_id", "text", window = 8)
      },
      "suffix_repeat" -> { () =>
        graft.llm.SuffixArray.crossDocRepeats(docs, "doc_id", "text",
          window = 8, minDocs = 2)
      },
      // window 16 = one more prefix-doubling round than window 8: the
      // empirical check that cost grows by the ROUND COUNT (log w),
      // not the window content — the scale-invariance claim in
      // SCALING.md's suffix rows
      "suffix_rank_w16" -> { () =>
        graft.llm.SuffixArray.boundedSuffixRanks(docs, "doc_id", "text", window = 16)
      },
      "dedup_text" -> { () =>
        SpanDedup.dedupText(docs, "doc_id", "text", n = 13)
      },
      "priority_sample" -> { () =>
        Mixer.prioritySample(docs, "doc_id", "n_chars", k = 100)
      },
      "lsh_recall" -> { () =>
        graft.llm.LshEval.recallCurve(docs, "doc_id", "text", n = 3,
          thresholds = Seq(0.02, 0.05, 0.1, 0.2), maxDf = 50)
      },
      "ann_recall" -> { () =>
        graft.llm.AnnEval.recallAtK(emb, "vec_id", "embedding",
          col("vec_id") < 16, k = 5)
      },
      "evt_funnel" -> { () =>
        import org.apache.spark.sql.functions.{col, min => fmin}
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(fmin(col("ts")).as("t1"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(fmin(col("ts")).as("t2"))
        ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(fmin(col("ts")).as("t3"))
      },
      "evt_retention" -> { () =>
        import org.apache.spark.sql.functions.{col, countDistinct, expr, min => fmin}
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        val first = ev.groupBy(col("user_id")).agg(fmin(col("day")).as("day0"))
        ev.join(first, "user_id")
          .select(col("user_id"), expr("day0 div 7").as("cohort_week"),
            expr("(day - day0) div 7").as("week_offset"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      })

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // The timed sink must CONSUME every output column: under a bare
    // count(), Catalyst prunes projections whose values don't affect
    // the row count (quantize/jl/abtt read as scan-speed), drops a
    // final left join with an unreferenced unique-keyed side, and
    // folds count-over-global-aggregate to the constant 1. Hashing all
    // columns into one aggregated value defeats all three for ~one
    // xxhash per row.
    def consumeAll(df: org.apache.spark.sql.DataFrame): Unit = {
      val h = xxhash64(struct(df.columns.map(col): _*))
      df.select(h.as("__h")).agg(sum(col("__h").cast("decimal(38,0)"))).collect()
    }
    cases.filter(c => only.forall(_.contains(c._1))).foreach { case (name, mk) =>
      val n = mk().count() // warm-up: JIT, parquet footers, broadcasts
      val t = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        consumeAll(mk())
        (System.nanoTime() - t0) / 1e9
      }.min
      times(name) = math.rint(t * 1000) / 1000
      rows(name) = n
    }

    val qs = times.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val rs = rows.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"curation_soak","queries":{$qs},"rows":{$rs},"sf":"$sfDir"}""")
    spark.stop()
  }
}
