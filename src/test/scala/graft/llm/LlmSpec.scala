package graft.llm

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely unrelated text here now"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "ab")                                           // < 3 tokens
  ).toDF("doc_id", "text")

  test("shingles: 3-grams of tokens; short docs empty") {
    val r = docs.select($"doc_id",
      Shingles.shingles(Shingles.tokens($"text"), 3).as("sh"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(1).head === "the quick brown")
    assert(r(1).size === 7) // 9 tokens -> 7 shingles
    assert(r(5).isEmpty)
  }

  test("polyHash matches Java string hash semantics mod prime") {
    val h = docs.limit(1).select(TextHash.polyHash(lit("hello"))).head.getLong(0)
    // "hello".hashCode fits in Int and is < prime, so equals the fold
    assert(h === "hello".hashCode.toLong)
  }

  test("native polyHash is bit-identical to the HOF fold form") {
    val r = docs.select(
      TextHash.polyHash($"text").as("n"),
      TextReference.polyHashFold($"text").as("f")).collect()
    assert(r.forall(x => x.getLong(0) === x.getLong(1)))
    val sql = docs.limit(1)
      .selectExpr("poly_hash('the quick brown fox')").head.getLong(0)
    assert(sql === docs.limit(1)
      .select(TextReference.polyHashFold(lit("the quick brown fox"))).head.getLong(0))
  }

  test("exact dedup clusters identical texts") {
    val r = TextStats.exactDupClusters(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r(1) === (1L, 2L)) // canonical 1, cluster of {1,4}
    assert(r(4) === (1L, 2L))
    assert(r(3)._2 === 1L)
  }

  test("minhash near-duplicates find the 1-token-apart pair, not the unrelated doc") {
    val nd = MinHash.nearDuplicates(docs, "doc_id", "text", n = 3, threshold = 0.2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(5)).toMap
    // docs 1/2 share 6 of 8 distinct shingles; 1/4 are identical
    assert(nd.contains((1L, 4L)) && nd((1L, 4L)) === 1.0)
    assert(nd.contains((1L, 2L)) && nd((1L, 2L)) > 0.5)
    assert(!nd.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: identical docs equal; near-dups closer than unrelated") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sh = docs.select($"doc_id", SimHash.simhash($"text").as("s"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(sh(1) === sh(4))
    assert(ham(sh(1), sh(2)) < ham(sh(1), sh(3)))
  }

  test("langId picks marker-dominant language, und when no markers") {
    val r = Seq(
      (1L, "the house of the rising sun and the moon"),
      (2L, "der hund und die katze und das haus"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
      .select($"doc_id", TextStats.langId($"text").as("l"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1) === "en" && r(2) === "de" && r(3) === "und")
  }

  test("cosine top-k: nearest neighbor of a vector is its duplicate") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.topKCosine(emb, emb.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .collect().map(r => (r.getInt(2), r.getLong(1), r.getDouble(3)))
    assert(top.head._2 === 2L && math.abs(top.head._3 - 1.0) < 1e-9)
    assert(top(1)._2 === 4L)
  }

  test("lsh bucket is deterministic and within range") {
    val emb = Seq((1L, Array.tabulate(16)(i => i * 0.1f))).toDF("vec_id", "embedding")
    val b1 = Similarity.withLshBucket(emb, "embedding").select($"bucket").head.getLong(0)
    val b2 = Similarity.withLshBucket(emb, "embedding").select($"bucket").head.getLong(0)
    assert(b1 === b2 && b1 >= 0 && b1 < (1L << Similarity.PlaneBits))
  }

  test("multimodal fake decoder: strided byte sums, partition-local") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.features).toMap
    val expected = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
      .zipWithIndex.groupBy(_._2 % 8).map { case (k, xs) => k -> xs.map(_._1.toInt & 0xff).sum.toFloat }
    assert(feats(1L).zipWithIndex.forall { case (v, k) => v === expected.getOrElse(k, 0f) })
    assert(feats(1L).toSeq === feats(4L).toSeq)
  }

  test("bucketed ANN finds the duplicate vector (same bucket by construction)") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.5f)),
      (3L, Array(-1.0f, 0.2f, 0.1f, -0.5f))).toDF("vec_id", "embedding")
    val top = Similarity.topKCosineBucketed(emb, emb.filter($"vec_id" === 1),
      "vec_id", "embedding", 1).collect()
    assert(top.length === 1 && top.head.getLong(1) === 2L)
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-9)
  }

  test("embedding near-duplicates: identical vectors pair, opposites do not") {
    val emb = Seq(
      (1L, Array(0.3f, 0.4f, 0.1f, 0.2f)),
      (2L, Array(0.3f, 0.4f, 0.1f, 0.2f)),
      (3L, Array(-0.3f, -0.4f, -0.1f, -0.2f))).toDF("vec_id", "embedding")
    val nd = Similarity.nearDuplicates(emb, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSeq === Seq((1L, 2L)))
  }

  test("bpe token count: letter runs, digit runs, punctuation marks") {
    val r = Seq((1L, "Hello, world! v2.0 end"))
      .toDF("doc_id", "text")
      .select(TextStats.bpeTokenCount($"text")).head.getInt(0)
    // hello , world ! v 2 . 0 end -> 9
    assert(r === 9)
  }

  test("ngram jaccard near-duplicates match minhash on the near-dup pair, exactly") {
    val nd = Jaccard.nearDuplicates(docs, "doc_id", "text", n = 3, threshold = 0.2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(5)).toMap
    assert(nd((1L, 4L)) === 1.0)
    // docs 1/2: 9 tokens, 7 shingles each, 6 shared -> 6/8 = 0.75
    assert(math.abs(nd((1L, 2L)) - 0.75) < 1e-9)
    assert(!nd.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ngram jaccard df cap drops ubiquitous shingles from candidate gen only") {
    // every doc shares shingle set; maxDf=1 kills all candidates
    val all = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    assert(Jaccard.nearDuplicates(all, "doc_id", "text", n = 3,
      threshold = 0.0, maxDf = 1).count() === 0)
    assert(Jaccard.nearDuplicates(all, "doc_id", "text", n = 3,
      threshold = 0.0, maxDf = 2).count() === 1)
  }

  test("winnowing: identical docs share fingerprint sets; shared substrings overlap") {
    val fps = Winnow.fingerprintTable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L) === fps(4L))                   // identical docs
    assert((fps(1L) & fps(2L)).nonEmpty)          // long shared prefix
    assert(!fps.contains(5L))                     // "ab" shorter than k+w-1
    // guarantee: any shared substring of length >= k+w-1 yields a shared fp
    assert((fps(1L) & fps(3L)).isEmpty)
  }

  test("simhash banded near-dup: dup pair at hamming 0, unrelated excluded") {
    val nd = SimHash.nearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(nd((1L, 4L)) === 0L)
    assert(!nd.contains((1L, 3L)) && !nd.contains((2L, 3L)))
  }

  test("imageio decoder: real PNG decode matches the closed-form pixel stats") {
    // 6x4 image id=5: pixels follow the syntheticPng formula; the PNG
    // round-trip is lossless so decoded sums equal the direct sums
    val w = 6; val h = 4; val id = 5L
    val png = Multimodal.syntheticPng(id, w, h)
    // PNG magic: a real encoder ran, not a stub
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte)
    val f = Multimodal.ImageIoDecoder.decode(png, "image/png")
    var sr = 0L; var sg = 0L; var sb = 0L; var mn = 255L; var mx = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = (7L * x + 13L * y + id) % 256
      val g = (3L * x + 5L * y + 2 * id) % 256
      val b = (11L * x + 17L * y + 3 * id) % 256
      sr += r; sg += g; sb += b
      val l = (r * 299 + g * 587 + b * 114) / 1000
      mn = math.min(mn, l); mx = math.max(mx, l)
    }
    assert(f.toSeq === Seq(w, h, sr, sg, sb, mn, mx, w * h).map(_.toFloat))
  }

  test("imageio decoder: jpeg decodes dims exactly; unknown formats fall back to fake") {
    val img = new java.awt.image.BufferedImage(9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val f = Multimodal.ImageIoDecoder.decode(bos.toByteArray, "image/jpeg")
    assert(f(0) === 9.0f && f(1) === 7.0f && f(7) === 63.0f)
    // lossy codec: exact sums unknowable, but an all-black image stays ~black
    assert(f(2) <= 63.0f * 8 && f(5) === 0.0f)
    // unknown format → deterministic fake path, not a decode attempt
    val payload = "hello".getBytes("UTF-8")
    assert(Multimodal.ImageIoDecoder.decode(payload, "text/plain").toSeq ===
      Multimodal.DeterministicFakeDecoder.decode(payload, "text/plain").toSeq)
    // corrupt bytes under an image format → fake fallback, no throw
    assert(Multimodal.ImageIoDecoder.decode(payload, "image/png").toSeq ===
      Multimodal.DeterministicFakeDecoder.decode(payload, "image/png").toSeq)
  }

  test("decontaminate: overlap pairs count distinct shared n-grams; clean drops them") {
    val bench = Seq((100L, "quick brown fox jumps")).toDF("bench_id", "text")
    val ov = Decontaminate.overlaps(docs, "doc_id", "text",
        bench, "bench_id", "text", n = 3, minOverlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // "quick brown fox jumps" has 2 distinct 3-grams, both inside docs 1/2/4
    assert(ov((1L, 100L)) === 2L && ov((2L, 100L)) === 2L && ov((4L, 100L)) === 2L)
    assert(!ov.contains((3L, 100L)) && !ov.contains((5L, 100L)))
    val kept = Decontaminate.clean(docs, "doc_id", "text",
      bench, "bench_id", "text", n = 3, minOverlap = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 5L))
    // raising minOverlap above the shared count keeps everything
    assert(Decontaminate.clean(docs, "doc_id", "text",
      bench, "bench_id", "text", n = 3, minOverlap = 3).count() === 5L)
  }

  test("mixer: md5-keyed sampling is deterministic, per-source, and rate-shaped") {
    val big = spark.range(2000).select($"id".as("doc_id"),
      concat(lit("src"), ($"id" % 2).cast("string")).as("source"))
    val kept = Mixer.sample(big, "doc_id", "source",
      Map("src0" -> 0.25), defaultRate = 0.9)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 rows per source; md5 variates are uniform so counts land
    // near rate * 1000 (bounds are loose: ±10% absolute)
    assert(kept("src0") > 150 && kept("src0") < 350)
    assert(kept("src1") > 800 && kept("src1") <= 1000)
    // repeatable: same input, same kept set
    val a = Mixer.sample(big, "doc_id", "source", Map("src0" -> 0.25), 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Mixer.sample(big.repartition(7), "doc_id", "source", Map("src0" -> 0.25), 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    // rate 0 drops a source entirely; rate 1 keeps it whole
    val edge = Mixer.sample(big, "doc_id", "source", Map("src0" -> 0.0, "src1" -> 1.0))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!edge.contains("src0") && edge("src1") === 1000L)
  }

  test("packer: two-level prefix sum matches the global cumsum, any bucket size") {
    // token counts by doc_id: 1→9, 2→9, 3→8, 4→9, 5→1
    val expected = Map(
      1L -> (9L, 0L, 0L, 0L), 2L -> (9L, 9L, 0L, 9L), 3L -> (8L, 18L, 1L, 8L),
      4L -> (9L, 26L, 2L, 6L), 5L -> (1L, 35L, 3L, 5L))
    for (bucket <- Seq(1L, 2L, 1000L)) {
      val r = Packer.packed(docs, "doc_id", "text", budget = 10, bucketSize = bucket)
        .collect()
        .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
        .toMap
      assert(r === expected, s"bucketSize=$bucket")
    }
  }

  test("packer tokens: every token lands at its global slot; boundary docs split") {
    // budget 10: doc 2 (offset 9, 9 tokens) straddles seqs 0 and 1
    val r = Packer.packedTokens(docs, "doc_id", "text", budget = 10, bucketSize = 2L)
      .collect()
      .map(x => (x.getLong(3), x.getString(2)) -> (x.getLong(0), x.getLong(1)))
      .toMap
    // keyed on unique (doc, token) pairs — "the" repeats within docs
    assert(r((1L, "dog")) === (0L, 8L))        // doc 1 ends at slot 8 of seq 0
    assert(r((2L, "quick")) === (1L, 0L))      // doc 2 token 1 → global 10 → seq 1
    assert(r((2L, "cat")) === (1L, 7L))        // doc 2's last token, inside seq 1
    assert(r((5L, "ab")) === (3L, 5L))         // offset 35
    // total token rows = total tokens
    assert(Packer.packedTokens(docs, "doc_id", "text", 10, 2L).count() === 36L)
  }

  test("bpe: canonical merge scheduling — lowest rank first, merge-all, non-overlap") {
    val rk = Bpe.DefaultMerges.zipWithIndex.toMap
    // 'there': t+h(0) → th+e(1) → [the,r,e]; then r+e(8) beats the+r(25)
    assert(Bpe.encodeWord("there", rk) === Seq("the", "re"))
    // 'and': a+n(4) → an+d(5) → single piece
    assert(Bpe.encodeWord("and", rk) === Seq("and"))
    // 'where': w+h(26) → wh+e(27)? no — e+r(6)... h+e(9)? lowest first:
    // pairs (w,h)=26 (h,e)=9 (e,r)=6 (r,e)=8 → e+r first → [w,h,er,e]
    // → (h,e)? gone; (w,h)=26 → [wh,er,e]; no (wh,er); no (er,e) → done
    assert(Bpe.encodeWord("where", rk) === Seq("wh", "er", "e"))
    // non-overlap on runs: 'qu'+'un'? 'quun': q+u(31) → [qu,u,n] →
    // u+n(30) → [qu,un]
    assert(Bpe.encodeWord("quun", rk) === Seq("qu", "un"))
    // no applicable merges
    assert(Bpe.encodeWord("zzz", rk) === Seq("z", "z", "z"))
    assert(Bpe.encodeWord("x", rk) === Seq("x"))
    val segs = Bpe.segments(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getString(3))
      .toMap
    // doc 1 word 0 = "the" → t+h, th+e → one piece
    assert(segs((1L, 0L, 0L)) === "the")
    // doc 1 word 6 = "the", word 7 = "lazy" → l+a? no; a? pairs:
    // (l,a)? no (a,z)? no (z,y)? no → chars
    assert(segs((1L, 7L, 0L)) === "l" && segs((1L, 7L, 3L)) === "y")
  }

  test("bpe: concatenated pieces always reproduce the word (seeded random)") {
    val rk = Bpe.DefaultMerges.zipWithIndex.toMap
    val alphabet = "theringandoulswqz"
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(12)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val pieces = Bpe.encodeWord(w, rk)
      assert(pieces.mkString === w, s"lossy segmentation of '$w': $pieces")
      assert(pieces.forall(_.nonEmpty))
    }
  }

  test("bpe: merges file round-trip drives the same segmentation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merges")
    val f = dir.resolve("merges.txt")
    val lines = "#version: test" +: Bpe.DefaultMerges.map { case (a, b) => s"$a $b" }
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    val loaded = Bpe.loadMerges(spark, f.toString)
    assert(loaded === Bpe.DefaultMerges)
    assert(Bpe.encodeWord("there", loaded.zipWithIndex.toMap) === Seq("the", "re"))
  }

  test("bpe learn: distributed pair counting matches an in-memory reference") {
    def naiveLearn(words: Seq[String], n: Int, minCount: Long): Seq[(String, String)] = {
      var vocab: Seq[(Vector[String], Long)] = words.groupBy(identity).toSeq
        .map { case (w, ws) => w.map(_.toString).toVector -> ws.size.toLong }
      val out = Seq.newBuilder[(String, String)]
      var stop = false
      for (_ <- 1 to n if !stop) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        vocab.foreach { case (syms, cnt) =>
          syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + cnt
          }
        }
        val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
        best.filter(_._2 >= minCount) match {
          case None => stop = true
          case Some(((a, b), _)) =>
            out += ((a, b))
            vocab = vocab.map { case (syms, cnt) =>
              val m = Vector.newBuilder[String]
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                  m += a + b; j += 2
                } else { m += syms(j); j += 1 }
              }
              (m.result(), cnt)
            }
        }
      }
      out.result()
    }
    val words = docs.collect().flatMap(_.getString(1).toLowerCase
      .split("\\s+").filter(_.nonEmpty)).toSeq
    val expected = naiveLearn(words, 8, 2L)
    val learned = Bpe.learn(docs, "text", nMerges = 8)
    assert(learned === expected)
    assert(learned.nonEmpty)
    // the learned table drives the apply side: "the" (3× in corpus
    // tokens) should compress below character granularity
    val rk = learned.zipWithIndex.toMap
    assert(Bpe.encodeWord("the", rk).length < 3)
  }

  test("ngram lm: avg_nll matches hand-computed add-one bigram model") {
    val corpus = Seq((10L, "a b a b"), (20L, "a b"), (30L, "x")).toDF("doc_id", "text")
    val r = NgramLm.scored(corpus, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // uni: a->3 b->3 x->1, V=3; bigrams: "a b"->3 (2 in doc10 + 1 in
    // doc20), "b a"->1
    def lp(c12: Long, c1: Long): BigDecimal =
      BigDecimal(math.log((c12 + 1.0) / (c1 + 3L)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d10 = (-(lp(3, 3) + lp(1, 3) + lp(3, 3))).toDouble / 3
    assert(r(10L)._1 === 3L)
    assert(math.abs(r(10L)._2 -
      BigDecimal(d10).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // doc20 is the single most-frequent bigram: exactly -lp("a b")
    assert(r(20L) === ((1L, (-lp(3, 3)).toDouble)))
    assert(!r.contains(30L)) // single-token doc: no bigram evidence
    // the rarer-transition doc scores higher nll than the pure-frequent one
    assert(r(10L)._2 > r(20L)._2)
  }

  test("ccnet buckets: terciles ordered head < middle < tail, roughly equal sizes") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = NgramLm.ccnetBuckets(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Double]("avg_nll") -> r.getAs[String]("ppl_bucket"))
    val byBucket = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    // every head score <= every middle score <= every tail score
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // terciles: sizes within one of each other modulo ties at the cuts
    val sizes = byBucket.view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 2, s"bucket sizes too skewed: $byBucket")
  }

  test("bm25: term-heavy doc ranks first; scores replay the formula") {
    val corpus = Seq(
      (1L, "spark spark spark join"),
      (2L, "spark join filter sort"),
      (3L, "filter sort scan agg"),
      (4L, "join join spark window stream")).toDF("doc_id", "text")
    val r = Bm25.topk(corpus, "doc_id", "text", Seq("spark", "join"), 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // doc 3 has no query terms -> absent; the 3 hits are docs 1, 2, 4
    assert(r.map(_._2).toSet === Set(1L, 2L, 4L))
    // replay: N=4 docs, avgdl = round(17/4, 6); df(spark)=3, df(join)=3
    val avgdl = BigDecimal(17.0 / 4).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def term(tf: Long, dl: Long, df: Long): BigDecimal = {
      val idf = math.log(1.0 + (4L - df + 0.5) / (df + 0.5))
      BigDecimal(idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val d1 = (term(3, 4, 3) + term(1, 4, 3)).toDouble // spark×3, join×1, dl=4
    assert(math.abs(r.find(_._2 == 1L).get._4 - d1) < 1e-9)
    assert(r.find(_._2 == 1L).get._3 === 2L) // both terms hit
  }

  test("bm25: the bounded-aggregate tail matches the window arm bit-for-bit") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val terms = Seq("spark", "join", "window", "stream")
    assert(rows(Bm25.topk(docs, "doc_id", "text", terms, 25)) ===
      rows(Bm25Reference.topk(docs, "doc_id", "text", terms, 25)))
    val qs = graft.queries.SketchQueries.RrfQueries
    assert(rows(Bm25.topkPerQuery(docs, "doc_id", "text", qs, 20)) ===
      rows(Bm25Reference.topkPerQuery(docs, "doc_id", "text", qs, 20)))
  }

  test("bm25: the at-rest index serves bit-identical scores and advances by increment-add") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val terms = Seq("spark", "join", "window", "stream")
    val postings = Bm25.buildIndex(docs, "doc_id", "text").localCheckpoint()
    val stats = Bm25.indexStats(docs, "doc_id", "text").localCheckpoint()
    assert(rows(Bm25.topkFromIndex(postings, stats, terms, 25)) ===
      rows(Bm25.topk(docs, "doc_id", "text", terms, 25)))
    val qs = graft.queries.SketchQueries.RrfQueries
    assert(rows(Bm25.topkPerQueryFromIndex(postings, stats, qs, 20)) ===
      rows(Bm25.topkPerQuery(docs, "doc_id", "text", qs, 20)))
    // maintenance identity: the old index advanced by a disjoint batch
    // equals the index rebuilt from the union corpus, row for row
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val nw = docs.filter(col("doc_id") % 5 === 0)
    val (p2, s2) = Bm25.indexAdd(
      Bm25.buildIndex(old, "doc_id", "text"),
      Bm25.indexStats(old, "doc_id", "text"),
      nw, "doc_id", "text")
    assert(rows(p2) === rows(postings))
    assert(rows(s2) === rows(stats))
  }

  test("bm25 index lifecycle: removes and rewrites keep serve equal to rebuild") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val terms = Seq("spark", "join", "window", "stream")
    val postings = Bm25.buildIndex(docs, "doc_id", "text").localCheckpoint()
    val stats = Bm25.indexStats(docs, "doc_id", "text").localCheckpoint()
    // retire a slice: postings AND stats equal the shrunk-corpus rebuild
    val keptCorpus = docs.filter(col("doc_id") % 7 =!= 0)
    val (p1, s1) = Bm25.indexRemove(postings, stats,
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    assert(rows(p1) === rows(Bm25.buildIndex(keptCorpus, "doc_id", "text")))
    assert(rows(s1) === rows(Bm25.indexStats(keptCorpus, "doc_id", "text")))
    assert(rows(Bm25.topkFromIndex(p1, s1, terms, 25)) ===
      rows(Bm25.topk(keptCorpus, "doc_id", "text", terms, 25)))
    // rewrite a slice (the line-dedup journey's output shape), one doc
    // rewritten to EMPTY — it must drop from postings AND stats exactly
    // as a full rebuild over the rewritten corpus drops it
    val rewrites = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 22 === 0, lit(""))
          .otherwise(concat(lit("rewritten body "), col("text"))).as("text"))
    assert(rewrites.filter(col("text") === "").count() > 0,
      "fixture must exercise the rewritten-to-empty case")
    val rewrittenCorpus = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("text"))
      .unionByName(rewrites)
    val (p2b, s2b) = Bm25.indexRebuildDocs(postings, stats, rewrites, "doc_id", "text")
    assert(rows(p2b) === rows(Bm25.buildIndex(rewrittenCorpus, "doc_id", "text")))
    assert(rows(s2b) === rows(Bm25.indexStats(rewrittenCorpus, "doc_id", "text")))
    assert(rows(Bm25.topkFromIndex(p2b, s2b, terms, 25)) ===
      rows(Bm25.topk(rewrittenCorpus, "doc_id", "text", terms, 25)))
  }

  test("dsir: target-slice lookalikes weigh higher than off-distribution docs") {
    // target slice: doc_id % 17 == 3 -> only doc 3
    val corpus = Seq(
      (3L, "alpha beta alpha beta gamma"),
      (1L, "alpha beta alpha gamma beta"),   // same bag as target
      (2L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val r = Dsir.weights(corpus, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r.keySet === Set(1L, 2L, 3L))
    assert(r(1L)._1 === 5L)
    // lookalike doc scores strictly above the disjoint-vocab doc
    assert(r(1L)._2 > r(2L)._2)
    // same bag of tokens -> identical weight as the target doc itself
    assert(r(1L)._2 === r(3L)._2)
  }

  test("span dedup: shared 15-token run flags 3 spans merging into one region per doc") {
    val common = (1 to 15).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, common + " uniquea uniqueb"),
      (2L, "pre1 pre2 " + common),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val regions = SpanDedup.dupRegions(corpus, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // 15 shared tokens -> 15-13+1 = 3 flagged 13-grams -> one island,
    // positioned where `common` sits in each doc
    assert(regions(1L) === ((0L, 14L, 3L)))
    assert(regions(2L) === ((2L, 16L, 3L)))
    assert(!regions.contains(3L))
    val st = SpanDedup.stats(corpus, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(st(1L) === ((17L, 15L, 1L)))
    assert(st(2L) === ((17L, 15L, 1L)))
    assert(st(3L) === ((20L, 0L, 0L)))
  }

  test("quantize: symmetric int8 codes with exact extremes; zero vector all-zero") {
    val emb = Seq(
      (1L, Array(3.0f, -6.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Quantize.int8(emb, "vec_id", "embedding")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getSeq[Int](2))).toMap
    assert(r(1L)._1 === 6.0)
    // floor(3*127/6)=63, the extreme hits exactly -127, zero stays 0
    assert(r(1L)._2 === Seq(63, -127, 0))
    assert(r(2L)._1 === 0.0 && r(2L)._2 === Seq(0, 0))
  }

  test("wav decoder: real RIFF/PCM decode matches the closed-form sample stats") {
    val id = 7L; val n = 250
    val wav = Multimodal.syntheticWav(id, n)
    // RIFF magic: a real encoder ran, not a stub
    assert(wav.take(4).map(_.toChar).mkString === "RIFF")
    assert(wav.slice(8, 12).map(_.toChar).mkString === "WAVE")
    val f = Multimodal.WavDecoder.decode(wav, "audio/wav")
    val samples = (0 until n).map(i => (((31L * i + 17L * id) % 2001L) - 1000L).toInt)
    val zc = samples.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
    assert(f.toSeq === Seq[Float](1f, 8000f, n.toFloat,
      samples.map(v => math.abs(v).toLong).sum.toFloat,
      samples.min.toFloat, samples.max.toFloat,
      zc.toFloat, samples.count(v => math.abs(v) >= 500).toFloat))
  }

  test("wav decoder: non-wav formats and corrupt payloads fall back to fake") {
    val payload = "not audio".getBytes("UTF-8")
    assert(Multimodal.WavDecoder.decode(payload, "text/plain").toSeq ===
      Multimodal.DeterministicFakeDecoder.decode(payload, "text/plain").toSeq)
    assert(Multimodal.WavDecoder.decode(payload, "audio/wav").toSeq ===
      Multimodal.DeterministicFakeDecoder.decode(payload, "audio/wav").toSeq)
  }

  test("imageio resizer: real decode→resample→encode with the pinned floor mapping") {
    val id = 3L; val w0 = 9; val h0 = 11; val w1 = 4; val h1 = 5
    val png = Multimodal.syntheticPng(id, w0, h0)
    val out = Multimodal.ImageIoResizer.resize(png, w0, h0, w1, h1)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img.getWidth === w1 && img.getHeight === h1)
    for (y <- 0 until h1; x <- 0 until w1) {
      val sx = x * w0 / w1; val sy = y * h0 / h1
      val r = ((7L * sx + 13L * sy + id) % 256).toInt
      val g = ((3L * sx + 5L * sy + 2 * id) % 256).toInt
      val b = ((11L * sx + 17L * sy + 3 * id) % 256).toInt
      assert((img.getRGB(x, y) & 0xffffff) === ((r << 16) | (g << 8) | b))
    }
    // corrupt payload → fake fallback, no throw
    val junk = "junk".getBytes("UTF-8")
    assert(Multimodal.ImageIoResizer.resize(junk, 4, 1, 2, 1).toSeq ===
      Multimodal.DeterministicFakeResizer.resize(junk, 4, 1, 2, 1).toSeq)
  }

  test("multimodal resize: metadata tracks target dims, payload length tracks width") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val r = Multimodal.resize(media, targetWidth = 5, targetHeight = 1)
      .collect().map(m => m.media_id -> m).toMap
    assert(r(1L).width === 5 && r(1L).height === 1)
    assert(r(1L).payload.length === 5)
    assert(r(5L).payload.length === 2) // shorter than target: clamped
  }

  test("multimodal frame sampling: every 2nd 16-byte window, byte-sum feature") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val f = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
      .collect().groupBy(_.media_id)
    val text = "the quick brown fox jumps over the lazy dog" // 43 bytes -> 2 frames
    assert(f(1L).map(_.frame_no).sorted.toSeq === Seq(0)) // frames 0,1; stride 2 keeps 0
    val expected = text.getBytes("UTF-8").take(16).map(_ & 0xff).sum.toDouble
    assert(f(1L).head.value === expected)
    assert(!f.contains(5L)) // "ab" shorter than one frame
  }

  test("ivf ann assigns to nearest centroid cell and finds the duplicate") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // centroid cell 0
      (1L, Array(0.0f, 1.0f, 0.0f)),   // centroid cell 1
      (8L, Array(0.9f, 0.1f, 0.0f)),   // -> cell 0
      (9L, Array(0.9f, 0.1f, 0.0f)),   // -> cell 0, dup of 8
      (10L, Array(0.0f, 0.9f, 0.3f))). // -> cell 1
      toDF("vec_id", "embedding")
    val top = Similarity.topKCosineIvf(emb, emb.filter($"vec_id" === 8),
      "vec_id", "embedding", k = 1, nCentroids = 2).collect()
    assert(top.length === 1 && top.head.getLong(1) === 9L)
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-9)
  }

  test("chunker: sliding windows with overlap, short tail, short docs single-chunk") {
    val r = Chunker.chunks(docs, "doc_id", "text", size = 4, stride = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getString(3))).toMap
    // doc 1 has 9 tokens -> starts 1,4,7 -> chunks of 4,4,3
    assert(r((1L, 0L)) === (4L, "the quick brown fox"))
    assert(r((1L, 1L)) === (4L, "fox jumps over the"))
    assert(r((1L, 2L)) === (3L, "the lazy dog"))
    assert(r((5L, 0L)) === (1L, "ab")) // 1 token -> one short chunk
  }

  test("winnow near-dup: identical long docs pair up; unrelated do not") {
    val long1 = "the quick brown fox jumps over the lazy dog again and again today"
    val docs2 = Seq(
      (1L, long1), (2L, long1),
      (3L, "zqx wvu tsr qpo nml kji hgf edc ba completely different text")).toDF("doc_id", "text")
    val nd = Winnow.nearDuplicates(docs2, "doc_id", "text", minShared = 3, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd === Set((1L, 2L)))
  }

  test("candidate pair bucket cap drops oversized band buckets only") {
    // three identical docs share every band bucket (bucket size 3);
    // cap 2 removes all their candidate pairs, leaving unrelated docs out
    val trip = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "aa bb cc dd ee ff gg"),
      (3L, "aa bb cc dd ee ff gg"),
      (4L, "xx yy zz ww vv uu tt")).toDF("doc_id", "text")
    val sig = MinHash.signatures(trip, "doc_id", "text")
    val uncapped = MinHash.candidatePairs(sig, "doc_id").count()
    val capped = MinHash.candidatePairs(sig, "doc_id", maxBucket = Some(2)).count()
    assert(uncapped === 3L) // (1,2),(1,3),(2,3)
    assert(capped === 0L)
  }

  test("connected components: chain collapses to min id, disjoint pair separate") {
    // chain 1-2-3-4 (diameter 3 — needs >1 propagation round) + island 7-9
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (9L, 7L)).toDF("id_a", "id_b")
    val comp = DedupClusters.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components agree with union-find on seeded random graphs") {
    val rng = new scala.util.Random(73L)
    for (trial <- 0 until 5) {
      val n = 20
      val edges = Seq.fill(15)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: in-memory union-find with min-id relabel
      val parent = Array.tabulate(n)(identity)
      def find(v: Int): Int = if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.map { v =>
        val root = find(v.toInt)
        val minMember = (0 until n).filter(u => find(u) == root &&
          edges.exists(e => e._1 == u || e._2 == u)).min
        v -> minMember.toLong
      }.toMap
      val got = DedupClusters
        .connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial, edges $edges")
    }
  }

  test("keepTable: cluster members share cluster_id, only min kept; singletons keep") {
    val pairs = Seq((1L, 4L), (1L, 2L)).toDF("id_a", "id_b")
    val kt = DedupClusters.keepTable(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(kt(1L) === (1L, true))
    assert(kt(2L) === (1L, false))
    assert(kt(4L) === (1L, false))
    assert(kt(3L) === (3L, true)) // not in any pair -> own cluster, kept
    assert(kt(5L) === (5L, true))
  }

  test("incremental dedup equals the batch run restricted to new-doc pairs") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = col("doc_id") % 5 === 0
    val batch = MinHash.nearDuplicates(corpus, "doc_id", "text",
      n = 3, threshold = 0.01)
      .filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      .collect().map(_.toSeq).toSet
    val inc = MinHash.nearDuplicatesIncremental(
      corpus.filter(isNew), "doc_id", "text",
      MinHash.shingleIndex(corpus.filter(!isNew), "doc_id", "text", n = 3),
      n = 3, threshold = 0.01)
    val incRows = inc.collect().map(_.toSeq).toSet
    assert(incRows === batch)
    assert(incRows.nonEmpty)
    // old×old pairs never surface — the whole point of the index path
    assert(!incRows.exists(r =>
      r.head.asInstanceOf[Long] % 5 != 0 && r(1).asInstanceOf[Long] % 5 != 0))
  }

  test("minhash band-index side-tables: serve identical, maintenance equals union bootstrap") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val isNew = col("doc_id") % 5 === 0
    val oldIdx = MinHash.shingleIndex(
      corpus.filter(!isNew), "doc_id", "text", n = 3).localCheckpoint()
    val bi = MinHash.bandIndexOf(oldIdx, "doc_id")
    def inc(side: Option[MinHash.BandIndex], cap: Option[Int]) =
      MinHash.nearDuplicatesIncremental(corpus.filter(isNew), "doc_id", "text",
        oldIdx, n = 3, threshold = 0.01, maxBucket = cap, sideTables = side)
    // uncapped: the stored band keys + sizes serve bit-identically to
    // re-deriving old-side signatures from the index
    val plain = rows(inc(None, None))
    assert(rows(inc(Some(bi), None)) === plain)
    assert(plain.nonEmpty)
    // capped: the increment-keyed join against stored bucket counts
    // equals the union-counted guard — and the cap must BITE on this
    // fixture or the guard path went unexercised
    val cappedPlain = rows(inc(None, Some(2)))
    assert(rows(inc(Some(bi), Some(2))) === cappedPlain)
    assert(cappedPlain !== plain, "maxBucket=2 must drop at least one bucket")
    // maintenance rule: bandIndexAdd over the increment's own index
    // rows equals bandIndexOf over the union index, table for table
    val newIdx = MinHash.shingleIndex(
      corpus.filter(isNew), "doc_id", "text", n = 3).localCheckpoint()
    val advanced = MinHash.bandIndexAdd(bi, newIdx, "doc_id")
    val union = MinHash.bandIndexOf(oldIdx.unionByName(newIdx), "doc_id")
    assert(rows(advanced.bandKeys) === rows(union.bandKeys))
    assert(rows(advanced.bucketCounts) === rows(union.bucketCounts))
    assert(rows(advanced.sizes) === rows(union.sizes))
  }
}
