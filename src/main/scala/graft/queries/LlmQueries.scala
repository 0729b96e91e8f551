package graft.queries

import graft.core.{GraftQuery, QueryModule, Tables}
import graft.llm._
import org.apache.spark.sql.functions._

/** LLM-training-data-pipeline operators over the `documents` /
  * `embeddings` tables: dedup (exact, MinHash+LSH, SimHash), similarity
  * search (exact top-k + LSH buckets), text analysis (token stats,
  * language ID, quality score), and multimodal-column plumbing.
  *
  * These have no counterpart in the reference repo (a sports-tracking
  * library); they come from the engine brief's 100 TB curation
  * requirements. Every query is pure DataFrame algebra with a DuckDB
  * oracle that mirrors the arithmetic bit-for-bit (ordered double folds,
  * integer aggregates, shared hash definitions in [[graft.llm.TextHash]]).
  *
  * Scale design notes live with the operators: [[graft.llm.MinHash]]
  * (banded LSH — candidate generation shuffles on band keys, never
  * all-pairs), [[graft.llm.Similarity]] (broadcast probe set / bucketed
  * ANN), [[graft.llm.TextStats]] (shuffle-free row algebra),
  * [[graft.llm.Multimodal]] (partition-local decode, no payload shuffle).
  */
object LlmQueries extends QueryModule {

  private val P = TextHash.Prime

  // ---- shared DuckDB fragments (mirror graft.llm column algebra) ----
  private val toksSql = Shingles.tokensSql("text")
  private def polySql(e: String) = TextHash.polyHashSql(e)

  /** The dHash fixture corpus (see `q_media_dhash`): 24 block-keyed
    * pixel patterns ([[graft.llm.Multimodal.syntheticPngBlocks]],
    * pattern seed = id % 24), ids 0..47 two exact copies each, ids
    * 48..95 the same patterns at id-derived dimensions — exact dups
    * AND resolution-variant near-dups, with different patterns
    * perceptually far (block layouts differ in many cells). */
  private def dhashCorpus(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.range(96).map { id =>
      val pid = (id % 24).toInt
      val (w, h) =
        if (id < 48) (8 + pid % 9, 8 + (pid * 3) % 7)
        else (9 + (id % 8).toInt, 8 + (id % 6).toInt)
      Multimodal.MediaRow(id, Multimodal.syntheticPngBlocks(pid, w, h), "image/png", w, h)
    }
  }

  /** DuckDB twin of [[dhashCorpus]]'s dimension rule. */
  private val dhashDimsSql: String =
    """dims AS (
      |  SELECT id AS media_id,
      |    CASE WHEN id < 48 THEN 8 + ((id % 24) % 9) ELSE 9 + (id % 8) END AS w,
      |    CASE WHEN id < 48 THEN 8 + (((id % 24) * 3) % 7) ELSE 8 + (id % 6) END AS h
      |  FROM (SELECT unnest(generate_series(0, 95)) AS id))""".stripMargin

  /** The WIDE dHash fixture corpus (see `q_media_dhash_wide`): the
    * [[dhashCorpus]] recipe at dimensions large enough (≥ 33 px) that
    * every cell of the 17×16 grid receives pixels — exact dups AND
    * resolution variants in the regime the 256-bit hash exists for. */
  private def dhashWideCorpus(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.range(96).map { id =>
      val pid = (id % 24).toInt
      val (w, h) =
        if (id < 48) (34 + pid % 9, 33 + (pid * 3) % 7)
        else (35 + (id % 8).toInt, 34 + (id % 6).toInt)
      Multimodal.MediaRow(id, Multimodal.syntheticPngBlocks(pid, w, h), "image/png", w, h)
    }
  }

  /** DuckDB twin of [[dhashWideCorpus]]'s dimension rule. */
  private val dhashWideDimsSql: String =
    """dims AS (
      |  SELECT id AS media_id,
      |    CASE WHEN id < 48 THEN 34 + ((id % 24) % 9) ELSE 35 + (id % 8) END AS w,
      |    CASE WHEN id < 48 THEN 33 + (((id % 24) * 3) % 7) ELSE 34 + (id % 6) END AS h
      |  FROM (SELECT unnest(generate_series(0, 95)) AS id))""".stripMargin

  /** CTE chain for the offset-tolerant video fixture (see
    * `q_media_vhash_offset`): trimmed-clip dims, per-frame dHash from
    * the pixel formula (content frame = fstart + file frame), and the
    * brute-force per-offset frame alignment
    * `ph(media_id_a, media_id_b, off, fh)` — shared by the alignment
    * query and the keep-table journey built on it. Composes after
    * WITH or WITH RECURSIVE. */
  private val vhashOffsetCtes: String = {
    val pid = "(g.media_id % 8)"
    val f = "(g.fstart + g.j)"
    val add = s"(CASE WHEN ((((sx * 4) // w + 4 * ((sy * 4) // h)) * 7 + $pid + $f) " +
      "% 16) < 5 THEN 128 ELSE 0 END)"
    val rE = s"((7 * sx + 13 * sy + 5 * $f + $pid) % 256) // 2 + $add"
    val gE = s"((3 * sx + 5 * sy + 7 * $f + 2 * $pid) % 256) // 2 + $add"
    val bE = s"((11 * sx + 17 * sy + 19 * $f + 3 * $pid) % 256) // 2 + $add"
    s"""dims AS (
       |  SELECT id AS media_id, 12 AS w, 10 AS h,
       |    CASE WHEN id < 8 THEN 0 WHEN id < 16 THEN 2 ELSE 1 END AS fstart,
       |    CASE WHEN id < 8 THEN 6 ELSE 4 END AS nf
       |  FROM (SELECT unnest(generate_series(0, 23)) AS id)),
       |g AS (
       |  SELECT d.media_id, d.w, d.h, d.fstart, fr.j,
       |         CAST(xs.sx AS BIGINT) AS sx, CAST(ys.sy AS BIGINT) AS sy
       |  FROM dims d
       |  JOIN (SELECT unnest(generate_series(0, 5)) AS j) fr ON fr.j < d.nf
       |  JOIN (SELECT unnest(generate_series(0, 11)) AS sx) xs ON xs.sx < d.w
       |  JOIN (SELECT unnest(generate_series(0, 9)) AS sy) ys ON ys.sy < d.h),
       |cells AS (
       |  SELECT media_id, j, (sx * 9) // w AS cx, (sy * 8) // h AS cy,
       |         sum((($rE) * 299 + ($gE) * 587 + ($bE) * 114) // 1000) AS s,
       |         count(*) AS n
       |  FROM g GROUP BY media_id, j, (sx * 9) // w, (sy * 8) // h),
       |bits AS (
       |  SELECT a.media_id, a.j, a.cy * 8 + a.cx AS bj,
       |         CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON a.media_id = b.media_id AND a.j = b.j AND a.cy = b.cy
       |       AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |fhx AS (
       |  SELECT media_id, j,
       |    CAST(sum(CASE WHEN bj // 16 = 0 THEN bit * (1 << (bj % 16)) ELSE 0 END) AS INT) AS b0,
       |    CAST(sum(CASE WHEN bj // 16 = 1 THEN bit * (1 << (bj % 16)) ELSE 0 END) AS INT) AS b1,
       |    CAST(sum(CASE WHEN bj // 16 = 2 THEN bit * (1 << (bj % 16)) ELSE 0 END) AS INT) AS b2,
       |    CAST(sum(CASE WHEN bj // 16 = 3 THEN bit * (1 << (bj % 16)) ELSE 0 END) AS INT) AS b3
       |  FROM bits GROUP BY media_id, j),
       |offs AS (SELECT unnest(generate_series(-5, 5)) AS off),
       |ph AS (
       |  SELECT a.media_id AS media_id_a, b.media_id AS media_id_b, o.off,
       |         bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
       |         bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
       |         bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
       |         bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS fh
       |  FROM fhx a CROSS JOIN offs o JOIN fhx b
       |    ON a.media_id < b.media_id AND a.j = b.j + o.off)""".stripMargin
  }

  /** CTE chain retraining the add-one bigram LM and scoring every doc
    * (mirrors [[graft.llm.NgramLm.scored]]); ends in
    * `ppl(doc_id, n_pairs, avg_nll)` — shared by the LM-perplexity
    * query and the CCNet bucket query built on it. */
  private val lmPplCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tk AS (SELECT doc_id, unnest(toks) AS w FROM t),
       |uni AS (SELECT w, count(*) AS c1 FROM tk GROUP BY w),
       |v AS (SELECT count(DISTINCT w) AS vs FROM tk),
       |bg AS (SELECT doc_id, unnest(${Shingles.shinglesSql("toks", 2)}) AS b
       |       FROM t WHERE len(toks) >= 2),
       |bc AS (SELECT b, count(*) AS c12 FROM bg GROUP BY b),
       |lp AS (SELECT g.doc_id,
       |  CAST(round(ln((bc.c12 + CAST(1.0 AS DOUBLE)) / (u.c1 + v.vs)), 6)
       |       AS DECIMAL(20,9)) AS l
       |  FROM bg g JOIN bc ON bc.b = g.b
       |  JOIN uni u ON u.w = string_split(g.b, ' ')[1]
       |  CROSS JOIN v),
       |ppl AS (SELECT doc_id, count(*) AS n_pairs,
       |  CAST(round(CAST(CAST(-sum(l) AS DOUBLE) / count(*)
       |    AS DECIMAL(20,9)), 6) AS DOUBLE) AS avg_nll
       |FROM lp GROUP BY doc_id)""".stripMargin

  /** From-scratch BM25 top-25 for the fixed probe query — shared by
    * `q_doc_bm25` (corpus-scan arm) and `q_doc_bm25_indexed` (the
    * at-rest inverted-index arm): one oracle, two plans, bit-identical
    * scores required of both. */
  private val bm25Sql: String =
    s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |t AS (SELECT doc_id, toks, len(toks) AS dl FROM t0 WHERE len(toks) > 0),
       |st AS (SELECT count(*) AS n_docs,
       |  round(CAST(sum(dl) AS DOUBLE) / count(*), 6) AS avgdl FROM t),
       |tk AS (SELECT doc_id, dl, unnest(toks) AS w FROM t),
       |ftk AS (SELECT * FROM tk WHERE w IN ('spark','join','window','stream')),
       |tf AS (SELECT doc_id, dl, w, count(*) AS tf
       |       FROM ftk GROUP BY doc_id, dl, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |pt AS (SELECT tf.doc_id,
       |  CAST(round(
       |    ln(CAST(1.0 AS DOUBLE) +
       |       (st.n_docs - df.df + CAST(0.5 AS DOUBLE)) /
       |       (df.df + CAST(0.5 AS DOUBLE))) *
       |    (tf.tf * CAST(2.2 AS DOUBLE)) /
       |    (tf.tf + CAST(1.2 AS DOUBLE) *
       |      (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
       |       CAST(0.75 AS DOUBLE) * tf.dl / st.avgdl)), 6)
       |    AS DECIMAL(20,9)) AS sc
       |  FROM tf JOIN df USING (w) CROSS JOIN st),
       |sc AS (SELECT doc_id, count(*) AS n_hit_terms,
       |       round(CAST(sum(sc) AS DOUBLE), 6) AS score
       |       FROM pt GROUP BY doc_id)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
       |         doc_id, n_hit_terms, score
       |  FROM sc) WHERE rank <= 25""".stripMargin

  /** The video frame-hash fixture corpus (see `q_media_vhash`): 12
    * block-rotating patterns ([[graft.llm.Multimodal.syntheticAviBlocks]],
    * pattern seed = id % 12, 5 DIB frames), ids 0..23 two exact copies
    * each, ids 24..47 the same patterns at id-derived dimensions. */
  private def vhashCorpus(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.range(48).map { id =>
      val pid = (id % 12).toInt
      val (w, h) =
        if (id < 24) (8 + pid % 9, 8 + (pid * 3) % 7)
        else (9 + (id % 8).toInt, 8 + (id % 6).toInt)
      Multimodal.MediaRow(id,
        Multimodal.syntheticAviBlocks(pid, nFrames = 5, w, h), "video/avi", w, h)
    }
  }

  /** DuckDB twin of [[vhashCorpus]]'s dimension rule. */
  private val vhashDimsSql: String =
    """dims AS (
      |  SELECT id AS media_id,
      |    CASE WHEN id < 24 THEN 8 + ((id % 12) % 9) ELSE 9 + (id % 8) END AS w,
      |    CASE WHEN id < 24 THEN 8 + (((id % 12) * 3) % 7) ELSE 8 + (id % 6) END AS h
      |  FROM (SELECT unnest(generate_series(0, 47)) AS id))""".stripMargin

  /** [[graft.llm.Multimodal.syntheticAviBlocks]]'s channel formulas at
    * source pixel (sx, sy) of frame f, pattern seed media_id % 12. */
  private val vhashAdd =
    "CASE WHEN ((((sx * 4) // w + 4 * ((sy * 4) // h)) * 7 + (media_id % 12) + f) % 16) < 5 " +
      "THEN 128 ELSE 0 END"
  private val vhashR =
    s"((7 * sx + 13 * sy + 5 * f + (media_id % 12)) % 256) // 2 + $vhashAdd"
  private val vhashG =
    s"((3 * sx + 5 * sy + 7 * f + 2 * (media_id % 12)) % 256) // 2 + $vhashAdd"
  private val vhashB =
    s"((11 * sx + 17 * sy + 19 * f + 3 * (media_id % 12)) % 256) // 2 + $vhashAdd"

  /** The envelope-hash fixture corpus (see `q_media_ahash`): 24
    * loud-segment patterns ([[graft.llm.Multimodal.syntheticWavBlocks]],
    * pattern seed = id % 24), ids 0..47 two exact copies each, ids
    * 48..95 the same patterns at id-derived lengths. */
  private def ahashCorpus(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.range(96).map { id =>
      val pid = (id % 24).toInt
      val n = if (id < 48) 160 + 16 * (pid % 10) else 130 + 13 * (id % 10).toInt
      Multimodal.MediaRow(id, Multimodal.syntheticWavBlocks(pid, n), "audio/wav", n, 1)
    }
  }

  /** DuckDB twin of [[ahashCorpus]]'s length rule. */
  private val ahashDimsSql: String =
    """dims AS (
      |  SELECT id AS media_id,
      |    CASE WHEN id < 48 THEN 160 + 16 * ((id % 24) % 10)
      |         ELSE 130 + 13 * (id % 10) END AS n
      |  FROM (SELECT unnest(generate_series(0, 95)) AS id))""".stripMargin

  /** [[graft.llm.Multimodal.syntheticWavBlocks]]'s sample formula at
    * index i of clip media_id (pattern seed media_id % 24). */
  private val ahashSampleSql: String =
    "((31 * i + 17 * (media_id % 24)) % 2001) + " +
      "CASE WHEN ((((i * 16) // n) * 7 + (media_id % 24)) % 16) < 5 THEN 4000 ELSE 0 END"

  /** Synthetic URL per document (the corpus has no URL column, so —
    * q_doc_scrub-style — both engines derive the same one): exercises
    * every canonicalization rule: scheme/host case, www + trailing-dot
    * host noise, default vs real ports, tracking params (including an
    * all-tracking query), fragments, and unparseable rows (%11). Host
    * ids below 10 collapse onto host 0 — the Zipf head for the cap. */
  private def syntheticUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hostNum = when(id % 40 < 10, lit(0L)).otherwise(id % 40).cast("string")
    when(id % 11 === 0, concat(lit("doc "), id.cast("string"), lit(" has no scheme")))
      .otherwise(concat(
        when(id % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
        when(id % 7 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Host"), hostNum, lit(".Example.COM"),
        when(id % 13 === 0, lit(".")).otherwise(lit("")),
        when(id % 2 === 0, lit(":80")).when(id % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/Path/"), (id % 25).cast("string"),
        when(id % 12 === 9, lit("?utm_source=only&gclid=g"))
          .when(id % 3 === 0,
            concat(lit("?utm_source=x&id="), (id % 6).cast("string"), lit("&fbclid=z")))
          .when(id % 3 === 1,
            concat(lit("?id="), (id % 6).cast("string"), lit("&utm_medium=m")))
          .otherwise(lit("")),
        when(id % 4 === 0, lit("#frag")).otherwise(lit(""))))
  }

  /** DuckDB twins: the EXPECTED canonical form / host, derived from
    * the generation parameters directly (an independent derivation,
    * not a replay of the Scala regex chain). */
  private val urlCanonSql: String =
    """CASE WHEN doc_id % 11 = 0 THEN 'doc ' || doc_id || ' has no scheme'
      |ELSE (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://host' ||
      |  (CASE WHEN doc_id % 40 < 10 THEN 0 ELSE doc_id % 40 END) || '.example.com' ||
      |  (CASE WHEN doc_id % 2 = 0 THEN ''
      |        WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
      |  '/Path/' || (doc_id % 25) ||
      |  (CASE WHEN doc_id % 12 = 9 THEN ''
      |        WHEN doc_id % 3 IN (0, 1) THEN '?id=' || (doc_id % 6)
      |        ELSE '' END)
      |END""".stripMargin
  private val urlHostSql: String =
    """CASE WHEN doc_id % 11 = 0 THEN NULL
      |ELSE 'host' || (CASE WHEN doc_id % 40 < 10 THEN 0 ELSE doc_id % 40 END) ||
      |  '.example.com' END""".stripMargin

  /** [[graft.llm.Multimodal.syntheticPngBlocks]]'s channel formulas at
    * source pixel (sx, sy) with pattern seed media_id % 24: halved
    * gradient base + 128 on the pid-keyed normalized bright cells. */
  private val dhashAdd =
    "CASE WHEN ((((sx * 4) // w + 4 * ((sy * 4) // h)) * 7 + (media_id % 24)) % 16) < 5 " +
      "THEN 128 ELSE 0 END"
  private val dhashR = s"((7 * sx + 13 * sy + (media_id % 24)) % 256) // 2 + $dhashAdd"
  private val dhashG = s"((3 * sx + 5 * sy + 2 * (media_id % 24)) % 256) // 2 + $dhashAdd"
  private val dhashB = s"((11 * sx + 17 * sy + 3 * (media_id % 24)) % 256) // 2 + $dhashAdd"

  /** CTE chain replaying [[graft.llm.Unigram]] training + Viterbi
    * segmentation (topMulti=48, maxLen=4): frequency-initialized vocab
    * (`voc`/`vlp`), recursive-CTE Viterbi (DP score/backpointer lists
    * carried one position per step, LATERAL best-piece probe, ties to
    * the longer piece), backpointer walk (`bt`), ending in `px`
    * (doc_id, word_idx, pieces, i) — shared by the segmentation query
    * and the hard-EM round built on it. Goes after WITH RECURSIVE. */
  private val unigramSegCtes: String =
    s"""toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |w0 AS (SELECT doc_id, toks,
       |         unnest(generate_series(1, len(toks))) AS i FROM toks),
       |words AS (SELECT doc_id, i - 1 AS word_idx, toks[i] AS word FROM w0),
       |wc AS (SELECT word, count(*) AS wcnt FROM words GROUP BY word),
       |st AS (SELECT word, wcnt,
       |         unnest(generate_series(1, length(word))) AS s FROM wc),
       |sl AS (SELECT word, wcnt, s,
       |         unnest(generate_series(1, least(4, length(word) - s + 1))) AS l
       |       FROM st),
       |pc AS (SELECT substr(word, s, l) AS piece,
       |              CAST(sum(wcnt) AS BIGINT) AS cnt FROM sl GROUP BY 1),
       |voc AS (
       |  SELECT piece, cnt FROM pc WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
       |    FROM pc WHERE length(piece) > 1) WHERE rn <= 48),
       |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM voc),
       |vlp AS (SELECT piece, length(piece) AS lp,
       |               round(ln(cnt / tot.t), 6) AS logp
       |        FROM voc CROSS JOIN tot),
       |vit AS (
       |  SELECT word, 0 AS j,
       |         [CAST(0.0 AS DOUBLE)] AS scores,
       |         CAST([] AS BIGINT[]) AS lens
       |  FROM wc
       |  UNION ALL
       |  SELECT vit.word, vit.j + 1,
       |         list_append(vit.scores, best.s),
       |         list_append(vit.lens, best.l)
       |  FROM vit, LATERAL (
       |    SELECT cand.s, cand.l FROM (
       |      SELECT vit.scores[vit.j + 2 - v.lp] + v.logp AS s, v.lp AS l
       |      FROM vlp v
       |      WHERE v.lp <= vit.j + 1
       |        AND v.piece = substr(vit.word, vit.j + 2 - v.lp, v.lp)
       |    ) cand ORDER BY cand.s DESC, cand.l DESC LIMIT 1) best
       |  WHERE vit.j < length(vit.word)
       |),
       |fin AS (SELECT word, lens FROM vit WHERE j = length(word)),
       |bt AS (
       |  SELECT word, lens, length(word) AS pos,
       |         CAST([] AS VARCHAR[]) AS rev
       |  FROM fin
       |  UNION ALL
       |  SELECT word, lens, CAST(pos - lens[pos] AS BIGINT),
       |         list_append(rev, substr(word, pos - lens[pos] + 1, lens[pos]))
       |  FROM bt WHERE pos > 0
       |),
       |pieces AS (SELECT word, list_reverse(rev) AS pieces
       |           FROM bt WHERE pos = 0),
       |px AS (SELECT doc_id, word_idx, pieces,
       |              unnest(generate_series(1, len(pieces))) AS i
       |       FROM words JOIN pieces USING (word))""".stripMargin

  /** CTE chain replaying [[graft.llm.Pca.topComponent]] (dim 64, two
    * power steps): ends in `mu` (dim, mu), `b2` (j, b) and `n2` (nv) —
    * shared by the statistics query and the all-but-the-top transform
    * built on it. */
  private val topPcCtes: String =
    """nn AS (SELECT count(*) AS n FROM embeddings),
      |mu AS (
      |  -- REAL→DOUBLE→DECIMAL: DuckDB's direct REAL→DECIMAL cast goes
      |  -- through the float's SHORTEST decimal repr (0.1f → 0.100000000)
      |  -- while Spark casts through the double value (0.100000001)
      |  SELECT i.i AS dim,
      |         CAST(sum(CAST(CAST(e.embedding[i.i + 1] AS DOUBLE) AS DECIMAL(20,9))) AS DOUBLE)
      |           / (SELECT n FROM nn) AS mu
      |  FROM embeddings e CROSS JOIN generate_series(0, 63) i(i)
      |  GROUP BY i.i),
      |xx AS (
      |  SELECT (CAST(e.embedding[i.i + 1] AS DOUBLE) - mi.mu) *
      |         (CAST(e.embedding[j.j + 1] AS DOUBLE) - mj.mu) AS p,
      |         i.i AS i, j.j AS j
      |  FROM embeddings e
      |  CROSS JOIN generate_series(0, 63) i(i)
      |  CROSS JOIN generate_series(0, 63) j(j)
      |  JOIN mu mi ON mi.dim = i.i
      |  JOIN mu mj ON mj.dim = j.j),
      |cov AS (
      |  SELECT i, j,
      |         CAST(sum(CAST(p AS DECIMAL(20,9))) AS DOUBLE)
      |           / (SELECT n FROM nn) AS cov
      |  FROM xx GROUP BY i, j),
      |b0 AS (SELECT i.i AS j, CAST(0.125 AS DOUBLE) AS b
      |       FROM generate_series(0, 63) i(i)),
      |c1 AS (SELECT cov.i,
      |              CAST(sum(CAST(cov.cov * b0.b AS DECIMAL(20,9))) AS DOUBLE) AS c
      |       FROM cov JOIN b0 ON b0.j = cov.j GROUP BY cov.i),
      |n1 AS (SELECT sqrt(CAST(sum(CAST(c * c AS DECIMAL(20,9))) AS DOUBLE)) AS nv
      |       FROM c1),
      |b1 AS (SELECT c1.i AS j, c1.c / n1.nv AS b FROM c1 CROSS JOIN n1),
      |c2 AS (SELECT cov.i,
      |              CAST(sum(CAST(cov.cov * b1.b AS DECIMAL(20,9))) AS DOUBLE) AS c
      |       FROM cov JOIN b1 ON b1.j = cov.j GROUP BY cov.i),
      |n2 AS (SELECT sqrt(CAST(sum(CAST(c * c AS DECIMAL(20,9))) AS DOUBLE)) AS nv
      |       FROM c2),
      |b2 AS (SELECT c2.i AS j, c2.c / n2.nv AS b FROM c2 CROSS JOIN n2)""".stripMargin

  /** CTE chain ending in `nd` = the MinHash near-dup pair table
    * (id_a, id_b, inter, size_a, size_b, jaccard) at `threshold` —
    * shared by the pairwise query and the clustering query built on it. */
  /** The tokens→shingles→hashes→signatures CTE chain (t, sh, shx,
    * sig) shared by the near-dup replay and the band-cost replay. */
  private def minhashSigCtes(numHashes: Int): String = {
    val mins = (0 until numHashes)
      .map(i => s"min((h * ${MinHash.A(i)} + ${MinHash.B(i)}) % $P) AS mh$i")
      .mkString(", ")
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, ${Shingles.shinglesSql("toks", 3)} AS shingles FROM t),
       |shx AS (SELECT DISTINCT doc_id, ${polySql("shingle")} AS h
       |        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) u),
       |sig AS (SELECT doc_id, $mins FROM shx GROUP BY doc_id)""".stripMargin
  }

  private def minhashNdCtes(
      threshold: Double,
      bands: Int = MinHash.Bands,
      rows: Int = MinHash.Rows): String = {
    val bandCollide = (0 until bands).map { b =>
      (0 until rows)
        .map(r => s"a.mh${b * rows + r} = b.mh${b * rows + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val jac = "CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE)"
    s"""${minhashSigCtes(bands * rows)},
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandCollide)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
       |          FROM cand c
       |          JOIN shx x ON x.doc_id = c.id_a
       |          JOIN shx y ON y.doc_id = c.id_b AND y.h = x.h
       |          GROUP BY c.id_a, c.id_b),
       |nd AS (SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
       |              round($jac, 6) AS jaccard
       |       FROM inter i
       |       JOIN sizes sa ON sa.doc_id = i.id_a
       |       JOIN sizes sb ON sb.doc_id = i.id_b
       |       WHERE $jac >= $threshold)""".stripMargin
  }

  override def queries: Seq[GraftQuery] = baseQueries ++ clusteredTwins

  /** Clustered-regime twins of the ANN eval queries: the same
    * eight-variant recall matrix and nprobe curve, rerun on the
    * deterministic mixture-of-Gaussians corpus ([[ClusteredCorpus]]).
    * The oracle SQL is the PROVEN base replay retargeted at a `mog`
    * CTE (every `embeddings` table reference substituted — the word
    * never appears in any other role in these two replays), so the
    * clustered rows are exactly as strongly verified as the
    * clusterless ones. */
  private def clusteredTwins: Seq[GraftQuery] = {
    def mogOracle(base: String): Option[String] =
      baseQueries.find(_.name == base)
        .flatMap(_.oracle)
        .map(sql =>
          s"WITH mog AS (\n${ClusteredCorpus.sql("embeddings")}),\n" +
            sql.stripPrefix("WITH ").replaceAll("\\bembeddings\\b", "mog"))
    Seq(
      GraftQuery(
        "q_emb_ann_recall_clustered",
        (s, d) => AnnEval.recallAtK(
          ClusteredCorpus.mixtureOfGaussians(
            Tables.embeddings(s, d), "vec_id", "embedding"),
          "vec_id", "embedding", col("vec_id") < 16, k = 5, nCentroids = 8),
        mogOracle("q_emb_ann_recall")),
      GraftQuery(
        "q_emb_probe_tuning_clustered",
        (s, d) => {
          val mog = ClusteredCorpus.mixtureOfGaussians(
            Tables.embeddings(s, d), "vec_id", "embedding")
          Similarity.probeRecallCurve(mog, mog.filter(col("vec_id") < 16),
            "vec_id", "embedding", k = 5, nCentroids = 8, maxProbe = 3)
        },
        mogOracle("q_emb_probe_tuning")),
      // the degenerate-bucket guard exercised where it matters: on the
      // clustered corpus the 8-plane buckets concentrate (measured max
      // bucket 42 of 500 at sf0.01 vs 8 on the uniform corpus), and the
      // cap drops exactly the over-cap buckets before the self-join —
      // the oracle replays bucket sizing, the cap, and the verification
      GraftQuery(
        "q_emb_near_dup_clustered",
        (s, d) => Similarity.nearDuplicates(
          ClusteredCorpus.mixtureOfGaussians(
            Tables.embeddings(s, d), "vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, maxBucket = Some(25)),
        Some {
          val cos = Similarity.cosineSql("a.va", "b.vb")
          val bucket = Similarity.lshBucketSql("embedding")
          s"""WITH mog AS (
             |${ClusteredCorpus.sql("embeddings")}),
             |bk0 AS (SELECT vec_id, embedding, $bucket AS bucket FROM mog),
             |bsz AS (SELECT bucket, count(*) AS c FROM bk0 GROUP BY bucket),
             |bk AS (SELECT bk0.vec_id, bk0.embedding, bk0.bucket
             |       FROM bk0 JOIN bsz USING (bucket) WHERE c <= 25),
             |a AS (SELECT vec_id AS id_a, embedding AS va, bucket FROM bk),
             |b AS (SELECT vec_id AS id_b, embedding AS vb, bucket FROM bk)
             |SELECT id_a, id_b, round($cos, 6) AS cos_sim
             |FROM a JOIN b USING (bucket)
             |WHERE id_a < id_b AND $cos >= 0.9""".stripMargin
        }))
  }

  private lazy val baseQueries: Seq[GraftQuery] = Seq(

    // ----- text analysis: token counts, language ID, quality score -----
    GraftQuery(
      "q_doc_text_stats",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), Shingles.tokens(col("text")).as("__toks"))
          .filter(size(col("__toks")) > 0)
          .select(
            col("doc_id"),
            size(col("__toks")).cast("long").as("n_tokens"),
            TextStats.distinctCountOfTokens(col("__toks")).cast("long").as("n_distinct"),
            TextStats.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
            TextStats.langIdOfTokens(col("__toks")).as("lang_guess"),
            round(TextStats.qualityScoreOfTokens(col("__toks")), 6).as("quality")),
      Some {
        val q = "0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)" +
          " + 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))" +
          " + 0.2 * (1.0 - CAST(" +
          TextStats.markerHitsSql("toks", TextStats.Stopwords) +
          " AS DOUBLE) / CAST(len(toks) AS DOUBLE))"
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
           |SELECT doc_id,
           |  len(toks) AS n_tokens,
           |  len(list_distinct(toks)) AS n_distinct,
           |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           |  ${TextStats.langIdSql("toks")} AS lang_guess,
           |  round($q, 6) AS quality
           |FROM t WHERE len(toks) > 0""".stripMargin
      }),

    // ----- Gopher-style rule filter (quality pre-gate) -----
    GraftQuery(
      "q_doc_quality_rules",
      (s, d) => graft.llm.QualityRules.signals(Tables.documents(s, d))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("bullet_line_ratio"), 6).as("bullet_line_ratio"),
          round(col("ellipsis_line_ratio"), 6).as("ellipsis_line_ratio"),
          round(col("alpha_word_ratio"), 6).as("alpha_word_ratio"),
          col("stopword_distinct"), round(col("dup_line_frac"), 6).as("dup_line_frac"),
          col("gopher_pass")),
      Some {
        val stops = graft.llm.QualityRules.GopherStopwords
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id, text,
           |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS nel,
           |    $toksSql AS toks
           |  FROM documents
           |),
           |s AS (
           |  SELECT doc_id,
           |    len(toks) AS n_words,
           |    CAST(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))) AS DOUBLE)
           |      / len(toks) AS mwl,
           |    (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
           |      + (len(string_split(text, '...')) - 1)
           |      + (len(string_split(text, '…')) - 1)) / len(toks) AS swr,
           |    CASE WHEN len(nel) > 0 THEN
           |      CAST(len(list_filter(nel, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(nel)
           |      ELSE 0.0 END AS blr,
           |    CASE WHEN len(nel) > 0 THEN
           |      CAST(len(list_filter(nel, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE) / len(nel)
           |      ELSE 0.0 END AS elr,
           |    CAST(len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]'))) AS DOUBLE)
           |      / len(toks) AS awr,
           |    CAST(len(list_intersect(list_distinct(toks), $stops)) AS INTEGER) AS stopword_distinct,
           |    CASE WHEN len(nel) > 0 THEN
           |      1.0 - CAST(len(list_distinct(nel)) AS DOUBLE) / len(nel)
           |      ELSE 0.0 END AS dlf
           |  FROM t WHERE len(toks) > 0
           |)
           |SELECT doc_id, n_words,
           |  round(mwl, 6) AS mean_word_len,
           |  round(swr, 6) AS symbol_word_ratio,
           |  round(blr, 6) AS bullet_line_ratio,
           |  round(elr, 6) AS ellipsis_line_ratio,
           |  round(awr, 6) AS alpha_word_ratio,
           |  stopword_distinct,
           |  round(dlf, 6) AS dup_line_frac,
           |  (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
           |    AND swr <= 0.1 AND blr <= 0.9 AND elr <= 0.3 AND awr >= 0.8
           |    AND stopword_distinct >= 2 AND dlf <= 0.3 AS gopher_pass
           |FROM s""".stripMargin
      }),

    // ----- repetition signal: top bigram coverage per document -----
    GraftQuery(
      "q_doc_top_bigram",
      (s, d) => graft.llm.QualityRules.topBigramCoverage(Tables.documents(s, d))
        .select(col("doc_id"), col("top_bigram"),
          col("top_bigram_count").cast("long").as("top_bigram_count"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac")),
      Some {
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |f AS (
           |  SELECT doc_id, len(toks) AS n,
           |    unnest(${Shingles.shinglesSql("toks", 2)}) AS bigram
           |  FROM t WHERE len(toks) >= 2
           |),
           |c AS (SELECT doc_id, n, bigram, count(*) AS cnt FROM f GROUP BY doc_id, n, bigram),
           |r AS (
           |  SELECT doc_id, bigram, cnt, n,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn
           |  FROM c
           |)
           |SELECT doc_id, bigram AS top_bigram, cnt AS top_bigram_count,
           |  round(cnt * 2.0 / n, 6) AS top_bigram_frac
           |FROM r WHERE rn = 1""".stripMargin
      }),

    // ----- Gopher's FULL repetition matrix (Rae et al. Table A1) -----
    // The synthetic corpus has no newlines and no duplicate >=5-grams,
    // so (q_doc_scrub-style) both engines derive the same repetition-
    // rich input: text + "\n\n" + first-half + "\n\n" + text — three
    // paragraphs (two duplicated), the same three as lines, and the
    // doubled body makes every dup-n-gram family fire with doc-varying
    // fractions. The oracle replays unit counting, top-gram selection,
    // and the position-set-union coverage end-to-end.
    GraftQuery(
      "q_doc_gopher_rep",
      (s, d) => {
        val half = floor(length(col("text")) / 2).cast("int")
        val derived = Tables.documents(s, d).select(col("doc_id"),
          concat_ws("\n\n", col("text"), col("text").substr(lit(1), half),
            col("text")).as("text"))
        graft.llm.QualityRules.repetitionSignals(derived)
      },
      Some {
        val topNs = Seq(2, 3, 4)
        val dupNs = Seq(5, 6, 7, 8, 9, 10)
        val taCols = topNs.map(x =>
          s"max(CASE WHEN n = $x THEN chars END) AS t$x").mkString(",\n|       ")
        val daCols = dupNs.map(x =>
          s"max(CASE WHEN n = $x THEN chars END) AS d$x").mkString(",\n|       ")
        val topFr = topNs.map(x =>
          s"coalesce(CAST(ta.t$x AS DOUBLE) / tot.tot, 0.0) AS top_${x}gram_char_frac")
          .mkString(",\n|  ")
        val dupFr = dupNs.map(x =>
          s"coalesce(CAST(da.d$x AS DOUBLE) / tot.tot, 0.0) AS dup_${x}gram_char_frac")
          .mkString(",\n|  ")
        val gates = (Seq(
          "dup_line_frac <= 0.30", "dup_para_frac <= 0.30",
          "dup_line_char_frac <= 0.20", "dup_para_char_frac <= 0.20") ++
          topNs.map(x =>
            s"top_${x}gram_char_frac <= ${graft.llm.QualityRules.TopNgramThresholds(x)}") ++
          dupNs.map(x =>
            s"dup_${x}gram_char_frac <= ${graft.llm.QualityRules.DupNgramThresholds(x)}"))
          .mkString("\n|  AND ")
        s"""WITH d2 AS (
           |  SELECT doc_id,
           |         concat_ws(chr(10)||chr(10), text,
           |                   substr(text, 1, CAST(floor(length(text)/2) AS INT)),
           |                   text) AS text
           |  FROM documents),
           |tb AS (SELECT doc_id, text, $toksSql AS toks FROM d2
           |       WHERE len($toksSql) > 0),
           |tot AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
           |        list_transform(toks, t -> CAST(length(t) AS BIGINT))),
           |        (a, x) -> a + x) AS tot FROM tb),
           |lu AS (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
           |       l -> trim(l) <> '')) AS u FROM tb),
           |luc AS (SELECT doc_id, u, count(*) AS c FROM lu GROUP BY 1, 2),
           |la AS (SELECT doc_id,
           |       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
           |         / sum(c) AS dup_line_frac,
           |       CAST(sum(CASE WHEN c >= 2 THEN c * CAST(length(u) AS BIGINT)
           |                     ELSE 0 END) AS DOUBLE)
           |         / sum(c * CAST(length(u) AS BIGINT)) AS dup_line_char_frac
           |       FROM luc GROUP BY doc_id),
           |pu AS (SELECT doc_id, unnest(list_filter(list_transform(
           |       string_split(text, chr(10)||chr(10)), p -> trim(p)),
           |       p -> p <> '')) AS u FROM tb),
           |puc AS (SELECT doc_id, u, count(*) AS c FROM pu GROUP BY 1, 2),
           |pa AS (SELECT doc_id,
           |       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
           |         / sum(c) AS dup_para_frac,
           |       CAST(sum(CASE WHEN c >= 2 THEN c * CAST(length(u) AS BIGINT)
           |                     ELSE 0 END) AS DOUBLE)
           |         / sum(c * CAST(length(u) AS BIGINT)) AS dup_para_char_frac
           |       FROM puc GROUP BY doc_id),
           |nn AS (SELECT unnest([${(topNs ++ dupNs).mkString(",")}]) AS n),
           |ngx AS (SELECT doc_id, n, unnest(generate_series(1, len(toks) - n + 1)) AS i,
           |        toks FROM tb CROSS JOIN nn WHERE len(toks) >= n),
           |ng AS (SELECT doc_id, n, i - 1 AS pos,
           |       array_to_string(toks[i:i+n-1], ' ') AS ng FROM ngx),
           |ngc AS (SELECT doc_id, n, ng, count(*) AS cnt FROM ng GROUP BY 1, 2, 3),
           |topx AS (SELECT doc_id, n, cnt, ng,
           |         row_number() OVER (PARTITION BY doc_id, n
           |                            ORDER BY cnt DESC, ng ASC) AS rn
           |         FROM ngc WHERE n IN (${topNs.mkString(", ")})),
           |topc AS (SELECT doc_id, n,
           |         cnt * CAST(length(ng) - (n - 1) AS BIGINT) AS chars
           |         FROM topx WHERE rn = 1),
           |ta AS (SELECT doc_id,
           |       $taCols FROM topc GROUP BY doc_id),
           |ds AS (SELECT g.doc_id, g.n, g.pos FROM ng g
           |       JOIN ngc c USING (doc_id, n, ng)
           |       WHERE c.cnt >= 2 AND g.n IN (${dupNs.mkString(", ")})),
           |cov0 AS (SELECT doc_id, n, unnest(generate_series(pos, pos + n - 1)) AS idx
           |         FROM ds),
           |cov AS (SELECT DISTINCT doc_id, n, idx FROM cov0),
           |tl0 AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
           |        FROM tb),
           |tl AS (SELECT doc_id, i - 1 AS idx, CAST(length(toks[i]) AS BIGINT) AS l
           |       FROM tl0),
           |dc AS (SELECT cov.doc_id, cov.n, sum(tl.l) AS chars
           |       FROM cov JOIN tl USING (doc_id, idx) GROUP BY 1, 2),
           |da AS (SELECT doc_id,
           |       $daCols FROM dc GROUP BY doc_id),
           |f AS (SELECT tb.doc_id,
           |  la.dup_line_frac, la.dup_line_char_frac,
           |  pa.dup_para_frac, pa.dup_para_char_frac,
           |  $topFr,
           |  $dupFr
           |FROM tb JOIN tot USING (doc_id) JOIN la USING (doc_id)
           |        JOIN pa USING (doc_id)
           |        LEFT JOIN ta ON ta.doc_id = tb.doc_id
           |        LEFT JOIN da ON da.doc_id = tb.doc_id)
           |SELECT *,
           |  $gates AS rep_pass
           |FROM f""".stripMargin
      }),

    // ----- PII/URL scrubbing (masked text + telemetry counts). The
    // synthetic corpus has no identifiers, so each doc is salted with
    // a URL / e-mail / IP prefix in BOTH engines — every row exercises
    // every pattern, not just the no-match path. -----
    GraftQuery(
      "q_doc_scrub",
      (s, d) => graft.llm.Scrub.scrub(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("see https://ex.com/p/"), col("doc_id"),
            lit(" mail me at u"), col("doc_id"), lit("@mail.example.org or 10.0.0."),
            pmod(col("doc_id"), lit(256)), lit(" :: "), col("text")).as("text")))
        .select(col("doc_id"),
          col("n_urls").cast("long").as("n_urls"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"),
          col("scrubbed")),
      Some {
        val url = graft.llm.Scrub.UrlPattern
        val email = graft.llm.Scrub.EmailPattern
        val ip = graft.llm.Scrub.Ipv4Pattern
        s"""WITH t AS (
           |  SELECT doc_id,
           |    'see https://ex.com/p/' || doc_id || ' mail me at u' || doc_id ||
           |    '@mail.example.org or 10.0.0.' || (doc_id % 256) || ' :: ' || text AS text
           |  FROM documents
           |),
           |s1 AS (SELECT doc_id, text,
           |  len(regexp_extract_all(text, '$url')) AS n_urls,
           |  regexp_replace(text, '$url', '<URL>', 'g') AS t1 FROM t),
           |s2 AS (SELECT doc_id, n_urls,
           |  len(regexp_extract_all(t1, '$email')) AS n_emails,
           |  regexp_replace(t1, '$email', '<EMAIL>', 'g') AS t2 FROM s1),
           |s3 AS (SELECT doc_id, n_urls, n_emails,
           |  len(regexp_extract_all(t2, '$ip')) AS n_ips,
           |  regexp_replace(t2, '$ip', '<IP>', 'g') AS scrubbed FROM s2)
           |SELECT doc_id, n_urls, n_emails, n_ips, scrubbed FROM s3""".stripMargin
      }),

    // ----- corpus-level line dedup (C4-style boilerplate removal).
    // Every doc is salted with the same footer line plus a unique
    // line, so the banned-line path fires on every row while the
    // unique content survives. -----
    GraftQuery(
      "q_doc_line_dedup",
      (s, d) => graft.llm.LineDedup.dedupLines(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit("\nSHARED BOILERPLATE FOOTER\nunique "),
            col("doc_id")).as("text")),
        maxOccurrences = 2L),
      Some {
        s"""WITH d AS (
           |  SELECT doc_id,
           |    text || chr(10) || 'SHARED BOILERPLATE FOOTER' || chr(10) ||
           |    'unique ' || doc_id AS text
           |  FROM documents
           |),
           |l AS (
           |  SELECT doc_id, generate_subscripts(lines, 1) AS idx, unnest(lines) AS line
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d)
           |),
           |b AS (SELECT line FROM l GROUP BY line HAVING count(*) > 2),
           |k AS (SELECT l.* FROM l ANTI JOIN b USING (line)),
           |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
           |      FROM k GROUP BY doc_id)
           |SELECT ids.doc_id, coalesce(r.text, '') AS text
           |FROM (SELECT DISTINCT doc_id FROM d) ids LEFT JOIN r USING (doc_id)""".stripMargin
      }),

    // ----- INCREMENTAL line dedup: the new batch (doc_id % 5 == 0)
    // cleaned against the at-rest per-line-hash counts of the
    // accumulated corpus (union-counting: at-rest + in-batch counts
    // reproduce exactly the batch ban rule). The oracle replays the
    // FULL batch line dedup over old ∪ new and restricts to new ids —
    // the shared footer is banned by accumulated occurrences the
    // incremental path never re-reads. -----
    GraftQuery(
      "q_doc_line_dedup_incremental",
      (s, d) => {
        val salted = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit("\nSHARED BOILERPLATE FOOTER\nunique "),
            col("doc_id")).as("text"))
        graft.llm.LineDedup.dedupLinesIncremental(
          salted.filter(col("doc_id") % 5 === 0),
          graft.llm.LineDedup.lineCounts(salted.filter(col("doc_id") % 5 =!= 0)),
          maxOccurrences = 2L)
      },
      Some {
        s"""WITH d AS (
           |  SELECT doc_id,
           |    text || chr(10) || 'SHARED BOILERPLATE FOOTER' || chr(10) ||
           |    'unique ' || doc_id AS text
           |  FROM documents
           |),
           |l AS (
           |  SELECT doc_id, generate_subscripts(lines, 1) AS idx, unnest(lines) AS line
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d)
           |),
           |b AS (SELECT line FROM l GROUP BY line HAVING count(*) > 2),
           |k AS (SELECT l.* FROM l ANTI JOIN b USING (line)),
           |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
           |      FROM k GROUP BY doc_id)
           |SELECT ids.doc_id, coalesce(r.text, '') AS text
           |FROM (SELECT DISTINCT doc_id FROM d WHERE doc_id % 5 = 0) ids
           |LEFT JOIN r USING (doc_id)""".stripMargin
      }),

    // ----- INCREMENTAL line dedup, the OLD-document half: the rewrites
    // an increment forces on already-cleaned old shards, resolved
    // through the at-rest (line-hash -> doc) inverted index. The salt
    // adds a 3-doc group line ('grp ' || doc_id div 3) so increments
    // (doc_id % 5 == 0) push some groups over the cap whose OLD count
    // was <= 2 (newly banned -> their old members are rewritten) while
    // other groups are all-old (banned at rest -> untouched here). The
    // oracle replays the FULL batch dedup over old ∪ new restricted to
    // exactly the old docs containing a newly-banned line. -----
    GraftQuery(
      "q_doc_line_dedup_rewrites",
      (s, d) => {
        val salted = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit("\nSHARED BOILERPLATE FOOTER\ngrp "),
            expr("doc_id div 3"), lit("\nunique "), col("doc_id")).as("text"))
        val old = salted.filter(col("doc_id") % 5 =!= 0)
        graft.llm.LineDedup.rewritesIncremental(
          old,
          graft.llm.LineDedup.lineIndex(old),
          graft.llm.LineDedup.lineCounts(old),
          salted.filter(col("doc_id") % 5 === 0),
          maxOccurrences = 2L)
      },
      Some {
        s"""WITH d AS (
           |  SELECT doc_id,
           |    text || chr(10) || 'SHARED BOILERPLATE FOOTER' || chr(10) ||
           |    'grp ' || (doc_id // 3) || chr(10) || 'unique ' || doc_id AS text
           |  FROM documents
           |),
           |l AS (
           |  SELECT doc_id, generate_subscripts(lines, 1) AS idx, unnest(lines) AS line
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d)
           |),
           |oc AS (SELECT line, count(*) AS ocnt FROM l WHERE doc_id % 5 <> 0 GROUP BY line),
           |nc AS (SELECT line, count(*) AS ncnt FROM l WHERE doc_id % 5 = 0 GROUP BY line),
           |nb AS (SELECT nc.line FROM nc LEFT JOIN oc USING (line)
           |       WHERE coalesce(oc.ocnt, 0) <= 2 AND coalesce(oc.ocnt, 0) + nc.ncnt > 2),
           |aff AS (SELECT DISTINCT l.doc_id FROM l JOIN nb USING (line)
           |        WHERE l.doc_id % 5 <> 0),
           |b AS (SELECT line FROM l GROUP BY line HAVING count(*) > 2),
           |k AS (SELECT l.* FROM l ANTI JOIN b USING (line)
           |      WHERE l.doc_id IN (SELECT doc_id FROM aff)),
           |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
           |      FROM k GROUP BY doc_id)
           |SELECT aff.doc_id, coalesce(r.text, '') AS text
           |FROM aff LEFT JOIN r USING (doc_id)""".stripMargin
      }),

    // ----- per-(lang, source) corpus aggregates (exact integer sums) -----
    GraftQuery(
      "q_doc_lang_agg",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars")),
      Some("""SELECT lang, source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars,
             |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
             |FROM documents GROUP BY lang, source""".stripMargin)),

    // ----- exact dedup: fingerprint groupBy → canonical id + size -----
    GraftQuery(
      "q_doc_exact_dedup",
      (s, d) => TextStats.exactDupClusters(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""WITH fps AS (SELECT doc_id, ${polySql("lower(text)")} AS fp FROM documents),
              |cl AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS cluster_size
              |       FROM fps GROUP BY fp)
              |SELECT f.doc_id, f.fp, cl.canonical_id, cl.cluster_size
              |FROM fps f JOIN cl USING (fp)""".stripMargin)),

    // ----- INCREMENTAL exact dedup: the new batch (doc_id % 5 == 0)
    // against the at-rest per-fingerprint index of the accumulated
    // corpus — canonical = least(at-rest canonical, batch min), sizes
    // summed; the old corpus is never re-fingerprinted. The oracle is
    // the full batch run restricted to new ids — counts and canonicals
    // must reflect the old members the incremental path never reads. -----
    GraftQuery(
      "q_doc_exact_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextStats.exactDupClustersIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          TextStats.exactDupIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"))
      },
      Some(s"""WITH fps AS (SELECT doc_id, ${polySql("lower(text)")} AS fp FROM documents),
              |cl AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS cluster_size
              |       FROM fps GROUP BY fp)
              |SELECT f.doc_id, f.fp, cl.canonical_id, cl.cluster_size
              |FROM fps f JOIN cl USING (fp)
              |WHERE f.doc_id % 5 = 0""".stripMargin)),

    // ----- MinHash signatures (one shuffle row per doc) -----
    GraftQuery(
      "q_doc_minhash_sig",
      (s, d) => MinHash.signatures(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val mins = (0 until MinHash.NumHashes)
          .map(i => s"min((h * ${MinHash.A(i)} + ${MinHash.B(i)}) % $P) AS mh$i")
          .mkString(", ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |sh AS (SELECT doc_id, ${Shingles.shinglesSql("toks", 3)} AS shingles FROM t),
           |shx AS (SELECT DISTINCT doc_id, ${polySql("shingle")} AS h
           |        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) u)
           |SELECT doc_id, $mins FROM shx GROUP BY doc_id""".stripMargin
      }),

    // ----- MinHash + banded LSH near-duplicate pairs with exact Jaccard -----
    GraftQuery(
      "q_doc_minhash_dedup",
      (s, d) => MinHash.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.01),
      Some(s"""WITH ${minhashNdCtes(0.01)}
              |SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM nd""".stripMargin),
      headline = true),

    // ----- INCREMENTAL near-dup: a new batch (doc_id % 5 == 0)
    // against the at-rest shingle index of the accumulated corpus —
    // the daily-crawl-increment shape: old×old candidate work never
    // runs. The oracle replays the FULL batch near-dup over old ∪ new
    // and keeps pairs involving ≥ 1 new doc — the semantics the
    // incremental operator promises to match bit-for-bit. -----
    GraftQuery(
      "q_doc_minhash_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        MinHash.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          MinHash.shingleIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3),
          n = 3, threshold = 0.01)
      },
      Some(s"""WITH ${minhashNdCtes(0.01)}
              |SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM nd
              |WHERE id_a % 5 = 0 OR id_b % 5 = 0""".stripMargin)),

    // ----- the SAME increment served from the at-rest BandIndex
    // side-tables (band keys + bucket counts + sizes — the production
    // mode, where no aggregate ever runs over the accumulated index).
    // The oracle is the IDENTICAL from-scratch SQL as
    // q_doc_minhash_incremental, so the side-table serve is forced
    // bit-identical to both the no-side-table arm and the batch
    // restriction. -----
    GraftQuery(
      "q_doc_minhash_incr_banded",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val index = MinHash.shingleIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        MinHash.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", index,
          n = 3, threshold = 0.01,
          sideTables = Some(MinHash.bandIndexOf(index, "doc_id")))
      },
      Some(s"""WITH ${minhashNdCtes(0.01)}
              |SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM nd
              |WHERE id_a % 5 = 0 OR id_b % 5 = 0""".stripMargin)),

    // ----- the SAME increment served from BUCKETED at-rest storage:
    // every corpus-sized relation (shingle index, band keys, bucket
    // counts, sizes) written through core.BucketedStore with its
    // serve-join key as the bucket key, so the step's joins — the
    // (band, key) pairing AND the exact-verify's (id, h)/(id) lookups
    // (the role-split join tree, MinHash.exactJaccardVerifySplit) —
    // run with zero exchange on the corpus side (plan-pinned in
    // PlanAuditSpec). The oracle is again the identical from-scratch
    // SQL, forcing the bucketed serve bit-identical. -----
    GraftQuery(
      "q_doc_minhash_incr_bucketed",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val index = MinHash.shingleIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        val bi = MinHash.bandIndexOf(index, "doc_id")
        val dir = java.nio.file.Files.createTempDirectory("graft_q_shidx").toString
        // table names carry the temp-dir suffix so concurrent runs in
        // one session can't clobber each other's catalog entries
        // (fixed q_shb_* names + a fresh dir per invocation raced)
        val tag = dir.substring(dir.lastIndexOf("graft_q_shidx"))
          .replaceAll("[^A-Za-z0-9_]", "_")
        graft.core.BucketedStore.write(index, s"${tag}_index",
          s"$dir/index", Seq("doc_id", "h"), 4, Seq("doc_id", "h"))
        graft.core.BucketedStore.write(bi.bandKeys, s"${tag}_bandkeys",
          s"$dir/bandkeys", Seq("band", "key"), 4)
        graft.core.BucketedStore.write(bi.bucketCounts, s"${tag}_bucketcounts",
          s"$dir/bucketcounts", Seq("band", "key"), 4)
        graft.core.BucketedStore.write(bi.sizes, s"${tag}_sizes",
          s"$dir/sizes", Seq("doc_id"), 4, Seq("doc_id"))
        MinHash.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          s.table(s"${tag}_index"), n = 3, threshold = 0.01,
          sideTables = Some(MinHash.BandIndex(
            s.table(s"${tag}_bandkeys"), s.table(s"${tag}_bucketcounts"),
            s.table(s"${tag}_sizes"))))
      },
      Some(s"""WITH ${minhashNdCtes(0.01)}
              |SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM nd
              |WHERE id_a % 5 = 0 OR id_b % 5 = 0""".stripMargin)),

    // ----- dedup clustering: connected components → keep/drop decision -----
    // Pairwise near-dup output alone doesn't say which docs to delete;
    // the actionable artifact is one row per doc with its duplicate
    // cluster and a canonical-keep flag. Components come from iterative
    // min-label propagation (one node-keyed shuffle per round, lineage
    // truncated each round — see [[graft.llm.DedupClusters]]); the
    // oracle replays it as a DuckDB recursive transitive closure.
    GraftQuery(
      "q_doc_dedup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        DedupClusters.keepTable(docs,
          MinHash.nearDuplicates(docs, "doc_id", "text", n = 3, threshold = 0.01),
          "doc_id")
      },
      Some(s"""WITH RECURSIVE ${minhashNdCtes(0.01)},
              |edges AS (SELECT id_a AS u, id_b AS v FROM nd
              |          UNION SELECT id_b, id_a FROM nd),
              |reach(u, v) AS (
              |  SELECT u, v FROM edges
              |  UNION
              |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
              |         FROM reach GROUP BY u)
              |SELECT d.doc_id,
              |       coalesce(c.component, d.doc_id) AS cluster_id,
              |       coalesce(c.component, d.doc_id) = d.doc_id AS keep
              |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // ----- the FULL incremental dedup journey: at-rest labels of the
    // accumulated corpus + incremental pairs of the new batch →
    // incremental label maintenance → keep/drop decision. The entire
    // decision is computed WITHOUT re-pairing old×old and WITHOUT
    // re-running connected components over the accumulated pair set
    // (DedupClusters.updateComponents contracts old components to
    // super-nodes and runs CC on the increment-sized graph only). The
    // oracle is the from-scratch full-batch replay — the exact
    // recursive-CTE SQL of q_doc_dedup_clusters — so the whole
    // incremental path is pinned equal to the ground-up recompute. -----
    GraftQuery(
      "q_doc_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
        val newDocs = docs.filter(col("doc_id") % 5 === 0)
        val oldLabels = DedupClusters.connectedComponentsGraphX(
          MinHash.nearDuplicates(oldDocs, "doc_id", "text", n = 3, threshold = 0.01),
          "id_a", "id_b")
        val newPairs = MinHash.nearDuplicatesIncremental(
          newDocs, "doc_id", "text",
          MinHash.shingleIndex(oldDocs, "doc_id", "text", n = 3),
          n = 3, threshold = 0.01)
        DedupClusters.keepTableIncremental(docs, oldLabels, newPairs, "doc_id")
      },
      Some(s"""WITH RECURSIVE ${minhashNdCtes(0.01)},
              |edges AS (SELECT id_a AS u, id_b AS v FROM nd
              |          UNION SELECT id_b, id_a FROM nd),
              |reach(u, v) AS (
              |  SELECT u, v FROM edges
              |  UNION
              |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
              |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
              |         FROM reach GROUP BY u)
              |SELECT d.doc_id,
              |       coalesce(c.component, d.doc_id) AS cluster_id,
              |       coalesce(c.component, d.doc_id) = d.doc_id AS keep
              |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // ----- SimHash fingerprints (shuffle-free per-doc bits) -----
    GraftQuery(
      "q_doc_simhash",
      (s, d) => SimHash.fingerprintTable(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val hashes = s"list_transform(toks, t -> ${polySql("t")})"
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
           |SELECT doc_id, ${SimHash.simhashSql(hashes)} AS simhash FROM t""".stripMargin
      }),

    // ----- exact top-k cosine neighbors (broadcast probe set) -----
    GraftQuery(
      "q_emb_topk_cosine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.topKCosine(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val cos = Similarity.cosineSql("q.qv", "c.cv")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
           |sc AS (SELECT q.query_id, c.neighbor_id, $cos AS cosv
           |       FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS cos_sim FROM (
           |  SELECT query_id, neighbor_id, cosv,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 5""".stripMargin
      },
      headline = true),

    // ----- random-hyperplane LSH bucket assignment (ANN scale path) -----
    GraftQuery(
      "q_emb_lsh_buckets",
      (s, d) =>
        Similarity.withLshBucket(Tables.embeddings(s, d), "embedding")
          .select(col("vec_id"), col("bucket"), col("label")),
      Some(s"""SELECT vec_id, ${Similarity.lshBucketSql("embedding")} AS bucket, label
              |FROM embeddings""".stripMargin)),

    // ----- bucketed ANN: probe searches only its own LSH bucket -----
    GraftQuery(
      "q_emb_ann_bucketed",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.topKCosineBucketed(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val cos = Similarity.cosineSql("q.qv", "c.cv")
        val bucket = Similarity.lshBucketSql("embedding")
        s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
           |sc AS (SELECT q.query_id, c.neighbor_id, $cos AS cosv
           |       FROM q JOIN c USING (bucket) WHERE q.query_id <> c.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS cos_sim FROM (
           |  SELECT query_id, neighbor_id, cosv,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- multi-probe bucketed ANN (Lv et al. 2007) -----
    // The LSH recall remedy: each query also searches the 8 buckets
    // one hyperplane-sign flip away (Hamming-1 masks XORed onto the
    // query bucket) — query-side fan-out only, corpus stays
    // one-bucket-per-vector, so no pair dedup is needed.
    GraftQuery(
      "q_emb_lsh_multiprobe",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.topKCosineBucketedMultiProbe(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3, hamming = 1)
      },
      Some {
        val cos = Similarity.cosineSql("q.qv", "c.cv")
        val bucket = Similarity.lshBucketSql("embedding")
        s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
           |mk AS (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS m),
           |q AS (SELECT vec_id AS query_id, embedding AS qv, xor(bucket, m) AS bucket
           |      FROM b CROSS JOIN mk WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
           |sc AS (SELECT q.query_id, c.neighbor_id, $cos AS cosv
           |       FROM q JOIN c USING (bucket) WHERE q.query_id <> c.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS cos_sim FROM (
           |  SELECT query_id, neighbor_id, cosv,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- SQ8 asymmetric scan: full-precision query vs int8 codes -----
    // The FAISS IndexScalarQuantizer rung: per-dimension resolution is
    // kept (cosine is invariant to the per-vector amax scale, so the
    // scan ranks by cos(q, codes) with no dequantization), trading a 4×
    // scan-byte cut for near-exact recall — the contrast arm to PQ-ADC,
    // which collapses on clusterless corpora. The oracle replays the
    // int8 encoding and the asymmetric ranking end-to-end.
    GraftQuery(
      "q_emb_sq_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Sq.topKCosineSq(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3)
      },
      Some {
        val cos = Similarity.cosineSql("q.qv", "c.cv")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, ${Sq.codesSql("embedding")} AS cv
           |      FROM embeddings),
           |sc AS (SELECT q.query_id, c.neighbor_id, $cos AS cosv
           |       FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS sq_sim FROM (
           |  SELECT query_id, neighbor_id, cosv,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- SQ8 + exact refine (IndexRefineFlat over the SQ scan) -----
    GraftQuery(
      "q_emb_sq_refine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Sq.topKCosineSqRefined(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3, refineFactor = 3)
      },
      Some {
        val cosSq = Similarity.cosineSql("q.qv", "c.cv")
        val cosEx = Similarity.cosineSql("q.qv", "c.cv")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < 16),
           |sqd AS (SELECT vec_id AS neighbor_id, ${Sq.codesSql("embedding")} AS cv
           |        FROM embeddings),
           |shortl AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosSq DESC, c.neighbor_id ASC) AS rank
           |  FROM q CROSS JOIN sqd c WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 9),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS cos_sim FROM (
           |  SELECT sh.query_id, sh.neighbor_id, $cosEx AS cosv,
           |         row_number() OVER (PARTITION BY sh.query_id
           |                            ORDER BY $cosEx DESC, sh.neighbor_id ASC) AS rank
           |  FROM shortl sh JOIN q ON q.query_id = sh.query_id
           |                 JOIN c ON c.neighbor_id = sh.neighbor_id) r
           |WHERE rank <= 3""".stripMargin
      }),

    // ----- embedding-cosine near-duplicates via bucket collisions -----
    GraftQuery(
      "q_emb_near_dup",
      (s, d) => Similarity.nearDuplicates(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.4),
      Some {
        val cos = Similarity.cosineSql("a.va", "b.vb")
        val bucket = Similarity.lshBucketSql("embedding")
        s"""WITH bk AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
           |a AS (SELECT vec_id AS id_a, embedding AS va, bucket FROM bk),
           |b AS (SELECT vec_id AS id_b, embedding AS vb, bucket FROM bk)
           |SELECT id_a, id_b, round($cos, 6) AS cos_sim
           |FROM a JOIN b USING (bucket)
           |WHERE id_a < id_b AND $cos >= 0.4""".stripMargin
      }),

    // ----- context-window chunking (shuffle-free sliding windows) -----
    GraftQuery(
      "q_doc_chunks",
      (s, d) => Chunker.chunks(Tables.documents(s, d), "doc_id", "text",
        size = 64, stride = 48),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |st AS (SELECT doc_id, toks,
              |         unnest(generate_series(1, len(toks), 48)) AS s
              |       FROM t WHERE len(toks) > 0)
              |SELECT doc_id, (s - 1) // 48 AS chunk_idx,
              |  len(toks[s : s + 63]) AS n_tokens,
              |  array_to_string(toks[s : s + 63], ' ') AS chunk_text
              |FROM st""".stripMargin)),

    // ----- corpus profiling: per-source length quantiles -----
    // Exact linear-interpolation percentiles (Spark `percentile` ==
    // DuckDB `quantile_cont`), so the oracle hash-matches. At 100 TB
    // the same call shape swaps to `approx_percentile` (t-digest,
    // partial-aggregable) — exact percentile holds all group values;
    // the groups here (sources) are few and the profile is a one-off
    // corpus-curation step.
    GraftQuery(
      "q_doc_len_quantiles",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
            round(expr("percentile(n_chars, 0.9)"), 6).as("p90"),
            round(expr("percentile(n_chars, 0.99)"), 6).as("p99")),
      Some("""SELECT source, count(*) AS n_docs,
             |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
             |  round(quantile_cont(n_chars, 0.9), 6) AS p90,
             |  round(quantile_cont(n_chars, 0.99), 6) AS p99
             |FROM documents GROUP BY source""".stripMargin)),

    // ----- corpus stats: top-k token bigrams per language -----
    // The classic corpus-profiling aggregate: one partial-agg groupBy on
    // (lang, bigram) — map-side combine absorbs the explode fan-out —
    // then a per-language top-k window over the (tiny) distinct-bigram
    // aggregate, never over raw rows.
    GraftQuery(
      "q_doc_top_ngrams",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("n").desc, col("bigram").asc)
        Tables.documents(s, d)
          .select(col("lang"), Shingles.tokens(col("text")).as("__toks"))
          .select(col("lang"), explode(Shingles.shingles(col("__toks"), 2)).as("bigram"))
          .groupBy(col("lang"), col("bigram"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
      },
      Some(s"""WITH t AS (SELECT lang, $toksSql AS toks FROM documents),
              |bg AS (SELECT lang, unnest(${Shingles.shinglesSql("toks", 2)}) AS bigram FROM t),
              |cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY lang, bigram)
              |SELECT lang, bigram, n, rank FROM (
              |  SELECT *, row_number() OVER (PARTITION BY lang
              |           ORDER BY n DESC, bigram ASC) AS rank
              |  FROM cnt) WHERE rank <= 5""".stripMargin)),

    // ----- direct n-gram Jaccard near-dup (df-capped inverted index) -----
    GraftQuery(
      "q_doc_ngram_jaccard",
      (s, d) => Jaccard.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.1, maxDf = 50),
      Some {
        val jac = "CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |sh AS (SELECT doc_id, ${Shingles.shinglesSql("toks", 3)} AS shingles FROM t),
           |shx AS (SELECT DISTINCT doc_id, ${polySql("shingle")} AS h
           |        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) u),
           |rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM shx GROUP BY h)
           |         WHERE df <= 50),
           |idx AS (SELECT s.doc_id, s.h FROM shx s JOIN rare USING (h)),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |         FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY doc_id),
           |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |          FROM cand c
           |          JOIN shx x ON x.doc_id = c.id_a
           |          JOIN shx y ON y.doc_id = c.id_b AND y.h = x.h
           |          GROUP BY c.id_a, c.id_b)
           |SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
           |       round($jac, 6) AS jaccard
           |FROM inter i
           |JOIN sizes sa ON sa.doc_id = i.id_a
           |JOIN sizes sb ON sb.doc_id = i.id_b
           |WHERE $jac >= 0.1""".stripMargin
      }),

    // ----- INCREMENTAL n-gram Jaccard: the new batch against the SAME
    // at-rest shingle index the incremental MinHash path serves from
    // (one stored artifact, two dedup flavors); union-counted df cap,
    // old×old never joins. Oracle = the batch run restricted to pairs
    // with a new member. -----
    GraftQuery(
      "q_doc_jaccard_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // the at-rest df/size side-tables on (the fully increment-sized
        // shape — its plain twin is spec-pinned identical); the oracle
        // is still the full batch replay, so the side-table df/size
        // arithmetic is verified against ground truth, not against the
        // plain arm
        val index = MinHash.shingleIndex(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        Jaccard.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", index,
          n = 3, threshold = 0.1, maxDf = 50,
          sideTables = Some((Jaccard.indexDfs(index),
            Jaccard.indexSizes(index, "doc_id"))))
      },
      Some {
        val jac = "CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |sh AS (SELECT doc_id, ${Shingles.shinglesSql("toks", 3)} AS shingles FROM t),
           |shx AS (SELECT DISTINCT doc_id, ${polySql("shingle")} AS h
           |        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) u),
           |rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM shx GROUP BY h)
           |         WHERE df <= 50),
           |idx AS (SELECT s.doc_id, s.h FROM shx s JOIN rare USING (h)),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |         FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
           |         WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY doc_id),
           |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |          FROM cand c
           |          JOIN shx x ON x.doc_id = c.id_a
           |          JOIN shx y ON y.doc_id = c.id_b AND y.h = x.h
           |          GROUP BY c.id_a, c.id_b)
           |SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
           |       round($jac, 6) AS jaccard
           |FROM inter i
           |JOIN sizes sa ON sa.doc_id = i.id_a
           |JOIN sizes sb ON sb.doc_id = i.id_b
           |WHERE $jac >= 0.1""".stripMargin
      }),

    // ----- LSH recall curve: banded MinHash vs exact-Jaccard truth -----
    // The oracle rebuilds BOTH pipelines (the shared minhash chain plus
    // a gt_-prefixed df-capped ground truth reusing its shx/sizes),
    // joins them on the pair key, and replays the single-pass
    // conditional aggregate per threshold.
    GraftQuery(
      "q_doc_lsh_recall",
      (s, d) => LshEval.recallCurve(Tables.documents(s, d), "doc_id", "text",
        n = 3, thresholds = Seq(0.02, 0.05, 0.1, 0.2), maxDf = 50),
      Some {
        val ts = Seq(0.02, 0.05, 0.1, 0.2)
        val jac = "CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE)"
        val sums = ts.zipWithIndex.map { case (t, i) =>
          s"CAST(sum(CASE WHEN jaccard >= $t THEN 1 ELSE 0 END) AS BIGINT) AS nt$i, " +
            s"CAST(sum(CASE WHEN jaccard >= $t THEN hit ELSE 0 END) AS BIGINT) AS nd$i"
        }.mkString(", ")
        val arms = ts.zipWithIndex.map { case (t, i) =>
          s"""SELECT CAST($t AS DOUBLE) AS threshold,
             |  coalesce(nt$i, 0) AS n_truth, coalesce(nd$i, 0) AS n_detected,
             |  CASE WHEN coalesce(nt$i, 0) > 0 THEN
             |    CAST(round(CAST(CAST(coalesce(nd$i, 0) AS DOUBLE) / nt$i
             |      AS DECIMAL(20,9)), 6) AS DOUBLE) END AS recall
             |FROM agg""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${minhashNdCtes(0.02)},
           |gt_rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM shx GROUP BY h)
           |            WHERE df <= 50),
           |gt_idx AS (SELECT s2.doc_id, s2.h FROM shx s2 JOIN gt_rare USING (h)),
           |gt_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |            FROM gt_idx a JOIN gt_idx b
           |              ON a.h = b.h AND a.doc_id < b.doc_id),
           |gt_inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |             FROM gt_cand c
           |             JOIN shx x ON x.doc_id = c.id_a
           |             JOIN shx y ON y.doc_id = c.id_b AND y.h = x.h
           |             GROUP BY c.id_a, c.id_b),
           |gt AS (SELECT i.id_a, i.id_b, round($jac, 6) AS jaccard
           |       FROM gt_inter i
           |       JOIN sizes sa ON sa.doc_id = i.id_a
           |       JOIN sizes sb ON sb.doc_id = i.id_b
           |       WHERE $jac >= 0.02),
           |jj AS (SELECT gt.jaccard,
           |         CASE WHEN nd.id_a IS NULL THEN 0 ELSE 1 END AS hit
           |       FROM gt LEFT JOIN nd
           |         ON nd.id_a = gt.id_a AND nd.id_b = gt.id_b),
           |agg AS (SELECT $sums FROM jj)
           |$arms""".stripMargin
      }),

    // ----- tuned-bands LSH dedup: the tuneBands journey, oracled -----
    // The knobs come from the closed form (tuneBands(0.2, 0.9) →
    // (11, 1) within the 12-hash budget), the pipeline runs with them
    // (generalized bands/rows signatures + collision), and the oracle
    // replays the 11-band single-row collision rule — pinning the
    // tune → run journey cross-engine, not just the tuner arithmetic.
    GraftQuery(
      "q_doc_lsh_tuned",
      (s, d) => {
        val t = graft.llm.MinHash.tuneBands(threshold = 0.2, targetRecall = 0.9)
        MinHash.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.2, bands = t.bands, rows = t.rows)
      },
      Some {
        val t = graft.llm.MinHash.tuneBands(threshold = 0.2, targetRecall = 0.9)
        s"""WITH ${minhashNdCtes(0.2, t.bands, t.rows)}
           |SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM nd""".stripMargin
      }),

    // ----- band-config candidate-volume measurement -----
    // The cost dimension tuneBands' closed form cannot see: measured
    // Σ sz·(sz−1)/2 over (band, key) buckets — the exact-Jaccard work
    // each config's LSH join emits — plus the volume a maxBucket guard
    // would silently drop. Replayed for the tuned (11,1) pick next to
    // the (4,3) default so the 16× volume gap and the r=1 truncation
    // exposure are pinned cross-engine.
    GraftQuery(
      "q_doc_band_cost",
      (s, d) => {
        val t = graft.llm.MinHash.tuneBands(threshold = 0.2, targetRecall = 0.9)
        val sigs = MinHash.signatures(Tables.documents(s, d), "doc_id", "text")
        MinHash.bandCostTable(sigs, "doc_id",
          Seq((t.bands, t.rows), (MinHash.Bands, MinHash.Rows)), maxBucket = Some(4))
      },
      Some {
        val t = graft.llm.MinHash.tuneBands(threshold = 0.2, targetRecall = 0.9)
        def cost(b: Int, r: Int): String = {
          val bandSel = (0 until b).map { i =>
            val keys = (0 until r).map(k => s"mh${i * r + k} AS k$k").mkString(", ")
            s"SELECT $i AS band, $keys FROM sig"
          }.mkString(" UNION ALL ")
          val kcols = (0 until r).map(k => s"k$k").mkString(", ")
          s"""SELECT $b AS n_bands, $r AS n_rows,
             |  CAST(coalesce(sum((sz * (sz - 1)) // 2), 0) AS BIGINT) AS candidate_pairs,
             |  CAST(coalesce(sum(CASE WHEN sz > 4 THEN (sz * (sz - 1)) // 2 ELSE 0 END), 0) AS BIGINT) AS capped_pairs,
             |  CAST(coalesce(max(sz), 0) AS BIGINT) AS max_bucket_sz
             |FROM (SELECT band, $kcols, count(*) AS sz
             |      FROM ($bandSel) bk GROUP BY ALL) z""".stripMargin
        }
        s"""WITH ${minhashSigCtes(MinHash.NumHashes)}
           |${cost(t.bands, t.rows)}
           |UNION ALL
           |${cost(MinHash.Bands, MinHash.Rows)}""".stripMargin
      }),

    // ----- winnowing fingerprints (rolling k-gram hash, window minima) -----
    GraftQuery(
      "q_doc_winnow_fp",
      (s, d) => Winnow.fingerprintTable(Tables.documents(s, d), "doc_id", "text"),
      Some(Winnow.fingerprintSql())),

    // ----- winnowing near-dup pairs (shared-fingerprint inverted index) -----
    GraftQuery(
      "q_doc_winnow_dup",
      (s, d) => Winnow.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
        minShared = 5, maxDf = 10),
      Some(s"""WITH fpt AS (${Winnow.fingerprintSql()}),
              |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fpt GROUP BY fp)
              |         WHERE df <= 10),
              |idx AS (SELECT f.doc_id, f.fp FROM fpt f JOIN rare USING (fp))
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin)),

    // ----- INCREMENTAL winnowing near-dup: the new batch against the
    // at-rest fingerprint table; the boilerplate df cap counts over
    // the union (exactly the batch df), old×old never self-joins.
    // Oracle = the full batch pairing restricted to new-member pairs. -----
    GraftQuery(
      "q_doc_winnow_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Winnow.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          Winnow.fingerprintTable(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
          minShared = 5, maxDf = 10)
      },
      Some(s"""WITH fpt AS (${Winnow.fingerprintSql()}),
              |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fpt GROUP BY fp)
              |         WHERE df <= 10),
              |idx AS (SELECT f.doc_id, f.fp FROM fpt f JOIN rare USING (fp))
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
              |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin)),

    // ----- the SAME increment served through the at-rest df
    // side-table (Winnow.indexDfs — the guard becomes an
    // increment-keyed join; no aggregate over the accumulated
    // fingerprint table). Identical from-scratch SQL, so the
    // side-table serve is forced bit-identical. -----
    GraftQuery(
      "q_doc_winnow_incr_dfs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val index = Winnow.fingerprintTable(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        Winnow.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", index,
          minShared = 5, maxDf = 10, dfs = Some(Winnow.indexDfs(index)))
      },
      Some(s"""WITH fpt AS (${Winnow.fingerprintSql()}),
              |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fpt GROUP BY fp)
              |         WHERE df <= 10),
              |idx AS (SELECT f.doc_id, f.fp FROM fpt f JOIN rare USING (fp))
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
              |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin)),

    // ----- SimHash near-dup pairs via banded Hamming join -----
    GraftQuery(
      "q_doc_simhash_dup",
      (s, d) => SimHash.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3),
      Some {
        val hashes = s"list_transform(toks, t -> ${polySql("t")})"
        val bandCollide = (0 until SimHash.Bands).map { b =>
          val sh = b * SimHash.BandBits
          val mask = (1L << SimHash.BandBits) - 1
          s"((a.simhash >> $sh) & $mask) = ((b.simhash >> $sh) & $mask)"
        }.mkString(" OR ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |fp AS (SELECT doc_id, ${SimHash.simhashSql(hashes)} AS simhash FROM t)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ($bandCollide)
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
      }),

    // ----- INCREMENTAL SimHash near-dup: the new batch against the
    // at-rest fingerprint table (one BIGINT per accumulated doc);
    // old×old never pairs. Oracle = the full batch pairing restricted
    // to pairs with a new member. -----
    GraftQuery(
      "q_doc_simhash_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        SimHash.nearDuplicatesIncremental(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          SimHash.fingerprintTable(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
          maxHamming = 3)
      },
      Some {
        val hashes = s"list_transform(toks, t -> ${polySql("t")})"
        val bandCollide = (0 until SimHash.Bands).map { b =>
          val sh = b * SimHash.BandBits
          val mask = (1L << SimHash.BandBits) - 1
          s"((a.simhash >> $sh) & $mask) = ((b.simhash >> $sh) & $mask)"
        }.mkString(" OR ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |fp AS (SELECT doc_id, ${SimHash.simhashSql(hashes)} AS simhash FROM t)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ($bandCollide)
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |  AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)""".stripMargin
      }),

    // ----- IVF ANN: coarse-quantizer cells, nprobe=1 -----
    GraftQuery(
      "q_emb_ivf_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.topKCosineIvf(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3, nCentroids = 8)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some {
        val cosQC = Similarity.cosineSql("q.qv", "c.cv")
        val cosAC = Similarity.cosineSql("v.embedding", "ct.embedding")
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |asg AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT v.vec_id, v.embedding, ct.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |                              ORDER BY $cosAC DESC, ct.cell ASC) AS crn
           |    FROM embeddings v CROSS JOIN cents ct) WHERE crn = 1
           |),
           |q AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM asg WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM asg),
           |sc AS (SELECT q.query_id, c.neighbor_id, $cosQC AS cosv
           |       FROM q JOIN c USING (cell) WHERE q.query_id <> c.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS cos_sim FROM (
           |  SELECT query_id, neighbor_id, cosv,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- ANN recall@k: the vector-side eval artifact -----
    // Like q_doc_lsh_recall for text dedup: measure what the two
    // approximate serving paths (single-probe IVF, random-hyperplane
    // LSH buckets) actually recall of the exact cosine top-k on THIS
    // corpus — the knob-tuning artifact for nCells/hyperplanes. The
    // oracle replays every pipeline and the metric — including the
    // pq_adc_refine remedy (15-deep ADC shortlist, exact L2 re-rank).
    GraftQuery(
      "q_emb_ann_recall",
      (s, d) => AnnEval.recallAtK(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 16, k = 5, nCentroids = 8),
      Some {
        val cosQC = Similarity.cosineSql("q.qv", "c.cv")
        val cosAC = Similarity.cosineSql("v.embedding", "ct.embedding")
        val bucket = Similarity.lshBucketSql("embedding")
        val l2QC = Pq.l2sqSql("q.qv", "c.cv")
        def sl(v: String) = s"list_slice($v, s.sub * 16 + 1, s.sub * 16 + 16)"
        val dEnc = Pq.l2sqSql(sl("v.embedding"), sl("cbq.embedding"))
        val dLut = Pq.l2sqSql(sl("q.embedding"), sl("cbq.embedding"))
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |asgr AS (
           |  SELECT v.vec_id, v.embedding, ct.cell,
           |         row_number() OVER (PARTITION BY v.vec_id
           |                            ORDER BY $cosAC DESC, ct.cell ASC) AS crn
           |  FROM embeddings v CROSS JOIN cents ct),
           |asg AS (SELECT vec_id, embedding, cell FROM asgr WHERE crn = 1),
           |bk AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
           |ex AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosQC DESC, c.neighbor_id ASC) AS rank
           |  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |ci AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM asg),
           |qi AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM asg WHERE vec_id < 16),
           |iv AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosQC DESC, c.neighbor_id ASC) AS rank
           |  FROM qi q JOIN ci c USING (cell) WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |q2 AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM asgr
           |       WHERE crn <= 2 AND vec_id < 16),
           |iv2 AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosQC DESC, c.neighbor_id ASC) AS rank
           |  FROM q2 q JOIN ci c USING (cell) WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bk WHERE vec_id < 16),
           |cb AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM bk),
           |lb AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosQC DESC, c.neighbor_id ASC) AS rank
           |  FROM qb q JOIN cb c USING (bucket) WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |mk AS (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS m),
           |qbm AS (SELECT query_id, qv, xor(bucket, m) AS bucket FROM qb CROSS JOIN mk),
           |lbm AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosQC DESC, c.neighbor_id ASC) AS rank
           |  FROM qbm q JOIN cb c USING (bucket) WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |sqd AS (SELECT vec_id AS neighbor_id, ${Sq.codesSql("embedding")} AS cv
           |        FROM embeddings),
           |sqrk AS (SELECT query_id, neighbor_id, rank FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosQC DESC, c.neighbor_id ASC) AS rank
           |  FROM q CROSS JOIN sqd c WHERE q.query_id <> c.neighbor_id) r),
           |sq5 AS (SELECT query_id, neighbor_id FROM sqrk WHERE rank <= 5),
           |sqr AS (SELECT query_id, neighbor_id FROM (
           |  SELECT p.query_id, p.neighbor_id,
           |         row_number() OVER (PARTITION BY p.query_id
           |                            ORDER BY $cosQC DESC, p.neighbor_id ASC) AS rrank
           |  FROM sqrk p JOIN q ON q.query_id = p.query_id
           |              JOIN c ON c.neighbor_id = p.neighbor_id
           |  WHERE p.rank <= 15) r WHERE rrank <= 5),
           |exl2 AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $l2QC ASC, c.neighbor_id ASC) AS rank
           |  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |cbq AS (SELECT cell AS code, embedding FROM cents),
           |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
           |encd AS (
           |  SELECT vec_id AS neighbor_id, sub, code FROM (
           |    SELECT v.vec_id, s.sub, cbq.code,
           |           row_number() OVER (PARTITION BY v.vec_id, s.sub
           |                              ORDER BY $dEnc ASC, cbq.code ASC) AS rn
           |    FROM embeddings v CROSS JOIN subs s CROSS JOIN cbq) WHERE rn = 1),
           |lut AS (
           |  SELECT q.vec_id AS query_id, s.sub, cbq.code,
           |         CAST($dLut AS DECIMAL(20,9)) AS d
           |  FROM embeddings q CROSS JOIN subs s CROSS JOIN cbq WHERE q.vec_id < 16),
           |pqrk AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY adist ASC, neighbor_id ASC) AS rank
           |  FROM (SELECT l.query_id, e.neighbor_id,
           |               CAST(sum(l.d) AS DOUBLE) AS adist
           |        FROM encd e JOIN lut l USING (sub, code)
           |        WHERE l.query_id <> e.neighbor_id
           |        GROUP BY 1, 2) sc),
           |pq AS (SELECT query_id, neighbor_id FROM pqrk WHERE rank <= 5),
           |pqr AS (SELECT query_id, neighbor_id FROM (
           |  SELECT p.query_id, p.neighbor_id,
           |         row_number() OVER (PARTITION BY p.query_id
           |                            ORDER BY $l2QC ASC, p.neighbor_id ASC) AS rrank
           |  FROM pqrk p JOIN q ON q.query_id = p.query_id
           |              JOIN c ON c.neighbor_id = p.neighbor_id
           |  WHERE p.rank <= 15) r WHERE rrank <= 5),
           |vcb AS (SELECT cell, embedding AS cent FROM cents WHERE cell < 4),
           |vres AS (
           |  SELECT vec_id, cell, r FROM (
           |    SELECT e.vec_id, cv.cell, ${IvfPq.residualSql("e.embedding", "cv.cent")} AS r,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${KMeansLite.l2sqFoldSql("e.embedding", "cv.cent")} ASC,
           |                                       cv.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN vcb cv) WHERE rn = 1),
           |vrcb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS code,
           |         r AS rv
           |  FROM vres ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |vencd AS (
           |  SELECT vec_id AS neighbor_id, cell, sub, code FROM (
           |    SELECT v.vec_id, v.cell, s.sub, rc.code,
           |           row_number() OVER (PARTITION BY v.vec_id, s.sub
           |                              ORDER BY ${KMeansLite.l2sqFoldSql("list_slice(v.r, s.sub * 16 + 1, s.sub * 16 + 16)", "list_slice(rc.rv, s.sub * 16 + 1, s.sub * 16 + 16)")} ASC,
           |                                       rc.code ASC) AS rn
           |    FROM vres v CROSS JOIN subs s CROSS JOIN vrcb rc) WHERE rn = 1),
           |vprobes AS (
           |  SELECT query_id, cell, qr FROM (
           |    SELECT qe.vec_id AS query_id, cv.cell,
           |           ${IvfPq.residualSql("qe.embedding", "cv.cent")} AS qr,
           |           row_number() OVER (PARTITION BY qe.vec_id
           |                              ORDER BY ${KMeansLite.l2sqFoldSql("qe.embedding", "cv.cent")} ASC,
           |                                       cv.cell ASC) AS pr
           |    FROM embeddings qe CROSS JOIN vcb cv WHERE qe.vec_id < 16) WHERE pr <= 2),
           |vlut AS (
           |  SELECT p.query_id, p.cell, s.sub, rc.code,
           |         CAST(${KMeansLite.l2sqFoldSql("list_slice(p.qr, s.sub * 16 + 1, s.sub * 16 + 16)", "list_slice(rc.rv, s.sub * 16 + 1, s.sub * 16 + 16)")} AS DECIMAL(20,9)) AS d
           |  FROM vprobes p CROSS JOIN subs s CROSS JOIN vrcb rc),
           |vrk AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY adist ASC, neighbor_id ASC) AS rank
           |  FROM (SELECT l.query_id, e.neighbor_id,
           |               CAST(sum(l.d) AS DOUBLE) AS adist
           |        FROM vencd e JOIN vlut l USING (cell, sub, code)
           |        WHERE l.query_id <> e.neighbor_id
           |        GROUP BY 1, 2) sc),
           |vtop AS (SELECT query_id, neighbor_id FROM vrk WHERE rank <= 5),
           |vref AS (SELECT query_id, neighbor_id FROM (
           |  SELECT p.query_id, p.neighbor_id,
           |         row_number() OVER (PARTITION BY p.query_id
           |                            ORDER BY $l2QC ASC, p.neighbor_id ASC) AS rrank
           |  FROM vrk p JOIN q ON q.query_id = p.query_id
           |             JOIN c ON c.neighbor_id = p.neighbor_id
           |  WHERE p.rank <= 15) r WHERE rrank <= 5)
           |SELECT m.method, m.returned, m.hits, m.possible,
           |       CAST(round(CAST(CAST(m.hits AS DOUBLE) / m.possible
           |            AS DECIMAL(20,9)), 6) AS DOUBLE) AS recall
           |FROM (
           |  SELECT 'ivf_p1' AS method, CAST(count(*) AS BIGINT) AS returned,
           |         CAST(count(ex.query_id) AS BIGINT) AS hits,
           |         (SELECT CAST(count(*) AS BIGINT) FROM ex) AS possible
           |  FROM iv LEFT JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'ivf_p2', CAST(count(*) AS BIGINT),
           |         CAST(count(ex.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM ex)
           |  FROM iv2 LEFT JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'lsh_bucketed', CAST(count(*) AS BIGINT),
           |         CAST(count(ex.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM ex)
           |  FROM lb LEFT JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'sq', CAST(count(*) AS BIGINT),
           |         CAST(count(ex.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM ex)
           |  FROM sq5 LEFT JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'sq_refine', CAST(count(*) AS BIGINT),
           |         CAST(count(ex.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM ex)
           |  FROM sqr LEFT JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'lsh_mp', CAST(count(*) AS BIGINT),
           |         CAST(count(ex.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM ex)
           |  FROM lbm LEFT JOIN ex USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'pq_adc', CAST(count(*) AS BIGINT),
           |         CAST(count(exl2.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM exl2)
           |  FROM pq LEFT JOIN exl2 USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'pq_adc_refine', CAST(count(*) AS BIGINT),
           |         CAST(count(exl2.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM exl2)
           |  FROM pqr LEFT JOIN exl2 USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'ivfpq_adc', CAST(count(*) AS BIGINT),
           |         CAST(count(exl2.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM exl2)
           |  FROM vtop LEFT JOIN exl2 USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'ivfpq_refine', CAST(count(*) AS BIGINT),
           |         CAST(count(exl2.query_id) AS BIGINT),
           |         (SELECT CAST(count(*) AS BIGINT) FROM exl2)
           |  FROM vref LEFT JOIN exl2 USING (query_id, neighbor_id)
           |) m""".stripMargin
      }),

    // ----- IVF nprobe tuning curve: one pass, recall per probe depth -----
    // The sampled recall probe that turns the ann_recall warning into a
    // knob decision: candidates are generated ONCE at maxProbe depth,
    // fanned out to the probe levels they are visible at, and scored
    // per level — Similarity.tuneProbes picks the cheapest depth
    // meeting a target from this curve.
    GraftQuery(
      "q_emb_probe_tuning",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.probeRecallCurve(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 5, nCentroids = 8, maxProbe = 3)
      },
      Some {
        val cosQC = Similarity.cosineSql("qp.qv", "ci.cv")
        val cosTQ = Similarity.cosineSql("q.qv", "c.cv")
        val cosAC = Similarity.cosineSql("v.embedding", "ct.embedding")
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |asgr AS (
           |  SELECT v.vec_id, v.embedding, ct.cell,
           |         row_number() OVER (PARTITION BY v.vec_id
           |                            ORDER BY $cosAC DESC, ct.cell ASC) AS crn
           |  FROM embeddings v CROSS JOIN cents ct),
           |ci AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell
           |       FROM asgr WHERE crn = 1),
           |qp AS (SELECT vec_id AS query_id, embedding AS qv, cell, crn AS pr
           |       FROM asgr WHERE crn <= 3 AND vec_id < 16),
           |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
           |ex AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.neighbor_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosTQ DESC, c.neighbor_id ASC) AS rank
           |  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id) r
           |  WHERE rank <= 5),
           |lv AS (SELECT unnest(generate_series(1, 3)) AS nprobe),
           |cand AS (
           |  SELECT qp.query_id, ci.neighbor_id, $cosQC AS cosv, qp.pr
           |  FROM qp JOIN ci USING (cell) WHERE qp.query_id <> ci.neighbor_id),
           |cl AS (SELECT query_id, neighbor_id, cosv, l.nprobe
           |       FROM cand JOIN lv l ON cand.pr <= l.nprobe),
           |top AS (SELECT query_id, neighbor_id, nprobe FROM (
           |  SELECT query_id, neighbor_id, nprobe,
           |         row_number() OVER (PARTITION BY query_id, nprobe
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM cl) r WHERE rank <= 5)
           |SELECT CAST(t.nprobe AS BIGINT) AS nprobe,
           |       CAST(count(*) AS BIGINT) AS returned,
           |       CAST(count(ex.query_id) AS BIGINT) AS hits,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ex) AS possible,
           |       CAST(round(CAST(CAST(count(ex.query_id) AS DOUBLE) /
           |            (SELECT count(*) FROM ex) AS DECIMAL(20,9)), 6) AS DOUBLE) AS recall
           |FROM top t LEFT JOIN ex USING (query_id, neighbor_id)
           |GROUP BY t.nprobe""".stripMargin
      }),

    // ----- SemDeDup: cluster-local semantic dedup (arXiv:2303.09540) -----
    // Cells from the same deterministic md5 coarse codebook as IVF;
    // the pairwise cosine pass never leaves a cell, so candidate
    // generation shuffles on the cell id exactly like banded-LSH dedup
    // shuffles on band keys — never all-pairs.
    GraftQuery(
      "q_emb_semdedup",
      (s, d) => Similarity.semDeDup(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.4, nCells = 8),
      Some {
        val cosAC = Similarity.cosineSql("v.embedding", "ct.embedding")
        val cosAB = Similarity.cosineSql("a.embedding", "b.embedding")
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |asg AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT v.vec_id, v.embedding, ct.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |                              ORDER BY $cosAC DESC, ct.cell ASC) AS crn
           |    FROM embeddings v CROSS JOIN cents ct) WHERE crn = 1),
           |drp AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE $cosAB >= 0.4)
           |SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
           |FROM asg a LEFT JOIN drp d ON a.vec_id = d.vec_id""".stripMargin
      }),

    // ----- INCREMENTAL SemDeDup: a new batch (vec_id % 5 == 0)
    // deduplicated against the at-rest cell index of the accumulated
    // corpus — old×old never re-pairs; the output is the new batch's
    // decisions plus the at-rest delta (previously-kept old vectors a
    // smaller new id now shadows). The oracle replays the SHARED
    // old-corpus codebook, assigns the union, and derives both row
    // classes from the full pair relation — so a wrong drop rule,
    // a moved cell boundary, or a missed/invented delta row all
    // mismatch. -----
    GraftQuery(
      "q_emb_semdedup_incremental",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val isNew = col("vec_id") % 5 === 0
        val oldEmb = emb.filter(!isNew)
        val codebook = Similarity.coarseCodebook(oldEmb, "vec_id", "embedding", 8)
        val index = Similarity
          .semDeDupWithCodebook(oldEmb, "vec_id", "embedding", 0.4, codebook)
          .join(oldEmb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("cell"), col("keep"))
        Similarity.semDeDupIncremental(
          emb.filter(isNew), index, codebook, "vec_id", "embedding", 0.4)
      },
      Some {
        val cosAC = Similarity.cosineSql("v.embedding", "ct.embedding")
        val cosAB = Similarity.cosineSql("a.embedding", "b.embedding")
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding
           |  FROM embeddings WHERE vec_id % 5 <> 0
           |  ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |asg AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT v.vec_id, v.embedding, ct.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |                              ORDER BY $cosAC DESC, ct.cell ASC) AS crn
           |    FROM embeddings v CROSS JOIN cents ct) WHERE crn = 1),
           |prs AS (
           |  SELECT a.vec_id AS ida, b.vec_id AS idb
           |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE $cosAB >= 0.4),
           |drp_new AS (SELECT DISTINCT idb FROM prs WHERE idb % 5 = 0),
           |old_by_new AS (SELECT DISTINCT idb FROM prs
           |               WHERE idb % 5 <> 0 AND ida % 5 = 0),
           |old_by_old AS (SELECT DISTINCT idb FROM prs
           |               WHERE idb % 5 <> 0 AND ida % 5 <> 0)
           |SELECT a.vec_id, a.cell, (d.idb IS NULL) AS keep
           |FROM asg a LEFT JOIN drp_new d ON a.vec_id = d.idb
           |WHERE a.vec_id % 5 = 0
           |UNION ALL
           |SELECT a.vec_id, a.cell, false AS keep
           |FROM asg a JOIN old_by_new n ON a.vec_id = n.idb
           |WHERE a.vec_id NOT IN (SELECT idb FROM old_by_old)""".stripMargin
      }),

    // ----- product-quantization ANN: encoded corpus + ADC lookup -----
    // The corpus side of the search join carries only (id, sub, code)
    // rows; approximate distances are sums of M broadcast-LUT lookups
    // in exact DECIMAL arithmetic (order-free, engine-replayable).
    GraftQuery(
      "q_emb_pq_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Pq.topKAdc(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", kNeighbors = 3, dim = 64, m = 4, k = 8)
      },
      Some {
        def sl(v: String) = s"list_slice($v, s.sub * 16 + 1, s.sub * 16 + 16)"
        val dEnc = Pq.l2sqSql(sl("v.embedding"), sl("cb.embedding"))
        val dLut = Pq.l2sqSql(sl("q.embedding"), sl("cb.embedding"))
        s"""WITH cb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS code,
           |         embedding
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
           |encd AS (
           |  SELECT vec_id AS neighbor_id, sub, code FROM (
           |    SELECT v.vec_id, s.sub, cb.code,
           |           row_number() OVER (PARTITION BY v.vec_id, s.sub
           |                              ORDER BY $dEnc ASC, cb.code ASC) AS rn
           |    FROM embeddings v CROSS JOIN subs s CROSS JOIN cb) WHERE rn = 1),
           |lut AS (
           |  SELECT q.vec_id AS query_id, s.sub, cb.code,
           |         CAST($dLut AS DECIMAL(20,9)) AS d
           |  FROM embeddings q CROSS JOIN subs s CROSS JOIN cb WHERE q.vec_id < 16),
           |sc AS (
           |  SELECT l.query_id, e.neighbor_id, CAST(sum(l.d) AS DOUBLE) AS adist
           |  FROM encd e JOIN lut l USING (sub, code)
           |  WHERE l.query_id <> e.neighbor_id
           |  GROUP BY 1, 2)
           |SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
           |  SELECT query_id, neighbor_id, adist,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY adist ASC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- deterministic Lloyd's k-means (the codebook trainer) -----
    // Fixed two-pass Lloyd's: md5-sample init, fold-exact L2
    // assignment, DECIMAL-exact centroid update, second assignment.
    // The oracle replays the ENTIRE algorithm — if any pass diverges
    // anywhere, final assignments shift and the hash goes red.
    GraftQuery(
      "q_emb_kmeans",
      (s, d) => {
        val (_, asg) = KMeansLite.fit(Tables.embeddings(s, d),
          "vec_id", "embedding", k = 4, iters = 2)
        asg.select(col("vec_id"), col("cluster"))
      },
      Some {
        def l2(a: String, b: String) = KMeansLite.l2sqFoldSql(a, b)
        s"""WITH c0 AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cluster,
           |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 4),
           |a1 AS (
           |  SELECT vec_id, embedding, cluster FROM (
           |    SELECT e.vec_id, e.embedding, c.cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${l2("e.embedding", "c.cent")} ASC,
           |                                       c.cluster ASC) AS rn
           |    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
           |ex AS (
           |  SELECT cluster, i - 1 AS dim, CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,9)) AS v
           |  FROM (SELECT cluster, embedding,
           |               unnest(generate_series(1, len(embedding))) AS i FROM a1)),
           |m1 AS (
           |  SELECT cluster, dim, CAST(sum(v) AS DOUBLE) / count(*) AS m
           |  FROM ex GROUP BY cluster, dim),
           |cn AS (SELECT cluster, list(m ORDER BY dim) AS cent FROM m1 GROUP BY cluster),
           |c1 AS (SELECT c0.cluster, coalesce(cn.cent, c0.cent) AS cent
           |       FROM c0 LEFT JOIN cn USING (cluster)),
           |a2 AS (
           |  SELECT vec_id, cluster FROM (
           |    SELECT e.vec_id, c.cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${l2("e.embedding", "c.cent")} ASC,
           |                                       c.cluster ASC) AS rn
           |    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1)
           |SELECT vec_id, cluster FROM a2""".stripMargin
      }),

    // ----- train-to-serve: k-means codebook feeding IVF search -----
    // The full journey: two Lloyd's passes train the codebook, the
    // float-cast centroids (serve-time quantization) drive cell
    // assignment by cosine, probes search only their cell. The oracle
    // replays training AND serving — init, both assignment passes,
    // both DECIMAL centroid updates, the float cast, the cosine cell
    // argmax, and the per-cell top-k.
    GraftQuery(
      "q_emb_ivf_kmeans",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val (cents, _) = KMeansLite.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
        Similarity.topKCosineIvfTrained(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3, KMeansLite.asFloatCodebook(cents))
      },
      Some {
        def l2(a: String, b: String) = KMeansLite.l2sqFoldSql(a, b)
        val cosAC = Similarity.cosineSql("v.embedding", "ct.cent")
        val cosQC = Similarity.cosineSql("q.qv", "c.cv")
        s"""WITH c0 AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cluster,
           |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 4),
           |a1 AS (
           |  SELECT vec_id, embedding, cluster FROM (
           |    SELECT e.vec_id, e.embedding, c.cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${l2("e.embedding", "c.cent")} ASC,
           |                                       c.cluster ASC) AS rn
           |    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
           |m1 AS (
           |  SELECT cluster, i - 1 AS dim,
           |         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,9))) AS DOUBLE) / count(*) AS m
           |  FROM (SELECT cluster, embedding,
           |               unnest(generate_series(1, len(embedding))) AS i FROM a1)
           |  GROUP BY cluster, i),
           |cn1 AS (SELECT cluster, list(m ORDER BY dim) AS cent FROM m1 GROUP BY cluster),
           |c1 AS (SELECT c0.cluster, coalesce(cn1.cent, c0.cent) AS cent
           |       FROM c0 LEFT JOIN cn1 USING (cluster)),
           |a2 AS (
           |  SELECT vec_id, embedding, cluster FROM (
           |    SELECT e.vec_id, e.embedding, c.cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${l2("e.embedding", "c.cent")} ASC,
           |                                       c.cluster ASC) AS rn
           |    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
           |m2 AS (
           |  SELECT cluster, i - 1 AS dim,
           |         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,9))) AS DOUBLE) / count(*) AS m
           |  FROM (SELECT cluster, embedding,
           |               unnest(generate_series(1, len(embedding))) AS i FROM a2)
           |  GROUP BY cluster, i),
           |cn2 AS (SELECT cluster, list(m ORDER BY dim) AS cent FROM m2 GROUP BY cluster),
           |c2 AS (SELECT c1.cluster, coalesce(cn2.cent, c1.cent) AS cent
           |       FROM c1 LEFT JOIN cn2 USING (cluster)),
           |fcb AS (SELECT cluster AS cell,
           |               list_transform(cent, x -> CAST(x AS REAL)) AS cent FROM c2),
           |asg AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT v.vec_id, v.embedding, ct.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |                              ORDER BY $cosAC DESC, ct.cell ASC) AS crn
           |    FROM embeddings v CROSS JOIN fcb ct) WHERE crn = 1),
           |q AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM asg WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM asg),
           |sc AS (SELECT q.query_id, c.neighbor_id, $cosQC AS cosv
           |       FROM q JOIN c USING (cell) WHERE q.query_id <> c.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(cosv, 6) AS cos_sim FROM (
           |  SELECT query_id, neighbor_id, cosv,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY cosv DESC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- per-label centroid vectors (IVF/classifier "training" step) -----
    GraftQuery(
      "q_emb_centroids",
      (s, d) => Similarity.groupCentroids(Tables.embeddings(s, d), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "m")))
        .select(col("label"), col("dim").cast("long").as("dim"),
          round(col("m"), 6).as("mean_v")),
      Some("""WITH ix AS (SELECT label, embedding,
             |  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
             |ex AS (SELECT label, i - 1 AS dim,
             |  CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,9)) AS v FROM ix),
             |ag AS (SELECT label, dim, CAST(sum(v) AS DOUBLE) AS s, count(*) AS n
             |       FROM ex GROUP BY label, dim)
             |SELECT label, dim, round(s / n, 6) AS mean_v FROM ag""".stripMargin)),

    // ----- end-to-end curation: quality gate + lang gate + exact dedup -----
    // The composed pipeline a training-data curator actually ships:
    // quality/language filters are row-local; the dedup keep-rule
    // (minimum doc_id per fingerprint) is one groupBy + semi-join on the
    // fingerprint — the only shuffle, keyed exactly like the exact-dedup
    // operator it reuses.
    GraftQuery(
      "q_doc_curated",
      (s, d) => {
        val staged = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), Shingles.tokens(col("text")).as("__toks"))
          .filter(size(col("__toks")) > 0)
          .select(col("doc_id"),
            TextHash.polyHash(lower(col("text"))).as("__fp"),
            TextStats.langIdOfTokens(col("__toks")).as("lang_guess"),
            TextStats.qualityScoreOfTokens(col("__toks")).as("__q"))
          .filter(col("__q") >= 0.5 && col("lang_guess") =!= "und")
        val keep = staged.groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
        staged.join(keep, Seq("__fp", "doc_id"))
          .select(col("doc_id"), col("lang_guess"), round(col("__q"), 6).as("quality"))
      },
      Some {
        val q = "0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)" +
          " + 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))" +
          " + 0.2 * (1.0 - CAST(" +
          TextStats.markerHitsSql("toks", TextStats.Stopwords) +
          " AS DOUBLE) / CAST(len(toks) AS DOUBLE))"
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
           |scored AS (
           |  SELECT doc_id, ${polySql("lower(text)")} AS fp,
           |    ${TextStats.langIdSql("toks")} AS lang_guess, $q AS q
           |  FROM t WHERE len(toks) > 0),
           |gated AS (SELECT * FROM scored WHERE q >= 0.5 AND lang_guess <> 'und'),
           |keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp)
           |SELECT g.doc_id, g.lang_guess, round(g.q, 6) AS quality
           |FROM gated g JOIN keep k ON k.fp = g.fp AND k.doc_id = g.doc_id""".stripMargin
      }),

    // ----- benchmark decontamination: n-gram overlap vs an eval set -----
    // The benchmark corpus is synthesized from the documents table
    // (every 17th doc contributes its tokens 4..25 as one "eval
    // prompt") so overlaps are guaranteed and both engines derive the
    // same benchmark deterministically. The benchmark shingle set is
    // broadcast — the corpus side never shuffles text (see
    // [[graft.llm.Decontaminate]]).
    GraftQuery(
      "q_doc_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") / 17).cast("long").as("bench_id"),
            array_join(slice(Shingles.tokens(col("text")), 4, 22), " ").as("text"))
        Decontaminate.overlaps(docs, "doc_id", "text",
          bench, "bench_id", "text", n = 5, minOverlap = 3)
      },
      Some {
        val docSh = Shingles.shinglesSql("t", 5)
        val benchSh = Shingles.shinglesSql("t[4:25]", 5)
        s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
           |d AS (
           |  SELECT DISTINCT doc_id, unnest($docSh) AS s FROM toks
           |),
           |b AS (
           |  SELECT DISTINCT doc_id // 17 AS bench_id, unnest($benchSh) AS s
           |  FROM toks WHERE doc_id % 17 = 0
           |),
           |ov AS (
           |  SELECT d.doc_id, b.bench_id, count(*) AS overlap_ngrams
           |  FROM d JOIN b USING (s) GROUP BY 1, 2
           |)
           |SELECT doc_id, bench_id, overlap_ngrams FROM ov
           |WHERE overlap_ngrams >= 3""".stripMargin
      }),

    // ----- bloom-filter decontamination: constant-size benchmark side -----
    // Same synthesized benchmark as q_doc_decontaminate, different
    // mechanism: the benchmark compresses to a fixed 8 KiB bitmap and
    // the corpus-side membership test is row-local bit arithmetic
    // against an in-plan literal — zero joins on the corpus text (see
    // [[graft.llm.Bloom]]). The oracle replays the whole filter —
    // bitmap construction AND membership — exactly, false positives
    // included.
    GraftQuery(
      "q_doc_bloom_decontam",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 17 === 0)
          .select(array_join(slice(Shingles.tokens(col("text")), 4, 22), " ").as("text"))
        val bm = Bloom.buildBitmap(bench, "text", n = 5, mBits = Bloom.DefaultMBits)
        Bloom.contaminationFlags(docs, "doc_id", "text", bm,
          n = 5, mBits = Bloom.DefaultMBits)
      },
      Some {
        val mBits = Bloom.DefaultMBits
        val docSh = Shingles.shinglesSql("t", 5)
        val benchSh = Shingles.shinglesSql("t[4:25]", 5)
        def posList(h: String) =
          (0 until Bloom.NumHashes)
            .map(j => Bloom.bitPositionSql(h, j, mBits)).mkString("[", ", ", "]")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
           |b AS (SELECT unnest($benchSh) AS s FROM toks WHERE doc_id % 17 = 0),
           |bh AS (SELECT DISTINCT ${polySql("s")} AS h FROM b),
           |bits AS (SELECT DISTINCT unnest(${posList("h")}) AS p FROM bh),
           |d AS (SELECT DISTINCT doc_id, unnest($docSh) AS s FROM toks),
           |dh AS (SELECT doc_id, s, ${polySql("s")} AS h FROM d),
           |dp AS (SELECT DISTINCT doc_id, s, unnest(${posList("h")}) AS p FROM dh),
           |ms AS (SELECT doc_id, s, count(*) AS need, count(bits.p) AS got
           |       FROM dp LEFT JOIN bits USING (p) GROUP BY doc_id, s)
           |SELECT doc_id, count(*) AS ngrams,
           |       CAST(sum(CASE WHEN got = need THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
           |       CAST(sum(CASE WHEN got = need THEN 1 ELSE 0 END) AS BIGINT) > 0 AS flagged
           |FROM ms GROUP BY doc_id""".stripMargin
      }),

    // ----- token-balanced shard assignment (banded round-robin) -----
    // The oracle collapses the two-level rank into the single window
    // it must equal: if the bucketed bases drop or double-count a row
    // anywhere, every later shard assignment in that band shifts.
    GraftQuery(
      "q_doc_shards",
      (s, d) => Sharder.assign(Tables.documents(s, d), "doc_id", "text",
        nShards = 8, bandWidth = 64L, bucketSize = 64L),
      Some(s"""SELECT doc_id, n_tokens, band,
              |       (row_number() OVER (PARTITION BY band ORDER BY doc_id) - 1) % 8 AS shard
              |FROM (SELECT doc_id, len($toksSql) AS n_tokens,
              |             len($toksSql) // 64 AS band
              |      FROM documents)""".stripMargin)),

    // ----- source-ratio mixing: md5-keyed deterministic sampling -----
    // Data-mixing weights as a shuffle-free scan predicate: membership
    // depends only on md5(salt|doc_id), so the kept set is replayable
    // in DuckDB and stable under any re-partitioning (see
    // [[graft.llm.Mixer]]). Even sources keep 25%, src19 keeps all,
    // everything else the 60% default.
    GraftQuery(
      "q_doc_source_mix",
      (s, d) => {
        val rates = (0 until 20 by 2).map(i => s"src$i" -> 0.25).toMap +
          ("src19" -> 1.0)
        Mixer.sample(Tables.documents(s, d), "doc_id", "source",
          rates, defaultRate = 0.6)
          .select(col("doc_id"), col("source"))
      },
      Some("""SELECT doc_id, source FROM documents
             |WHERE CAST(('0x' || substring(md5('graft-mix|' || doc_id), 1, 8)) AS BIGINT)
             |  < CAST(CASE
             |      WHEN source = 'src19' THEN 1.0
             |      WHEN CAST(substring(source, 4) AS INTEGER) % 2 = 0 THEN 0.25
             |      ELSE 0.6 END * 4294967296.0 AS DOUBLE)""".stripMargin)),

    // ----- α-temperature mixing: count-derived keep-rates -----
    // Rates are DERIVED (per-source counts → α-weights → expected-
    // total normalization), not configured — the oracle recomputes
    // the whole derivation and the kept row set must still match
    // exactly (DECIMAL-exact Σ terms, round-6 rates, md5 threshold).
    GraftQuery(
      "q_doc_temp_mix",
      (s, d) => Mixer.temperatureSample(Tables.documents(s, d),
          "doc_id", "source", alpha = 0.5, targetFrac = 0.5)
        .select(col("doc_id"), col("source")),
      Some("""WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
             |          FROM documents GROUP BY source),
             |t AS (SELECT CAST(sum(CAST(n AS DECIMAL(20,9))) AS DOUBLE) AS tn,
             |             CAST(sum(CAST(pow(n, 0.5) AS DECIMAL(20,9))) AS DOUBLE) AS tw
             |      FROM c),
             |r AS (SELECT source,
             |             round(least(CAST(1.0 AS DOUBLE),
             |                   0.5 * t.tn * CAST(CAST(pow(c.n, 0.5) AS DECIMAL(20,9)) AS DOUBLE)
             |                   / (t.tw * c.n)), 6) AS rate
             |      FROM c CROSS JOIN t)
             |SELECT d.doc_id, d.source
             |FROM documents d JOIN r USING (source)
             |WHERE CAST(('0x' || substring(md5('graft-mix|' || doc_id), 1, 8)) AS BIGINT)
             |      < rate * 4294967296.0""".stripMargin)),

    // ----- sequence packing: global token offsets via two-level scan -----
    // The two-level prefix sum (within-bucket window + broadcast
    // bucket bases) must reproduce the single-axis cumulative sum
    // exactly, so the oracle computes the naive global window — if
    // bucketing drops or double-counts a row anywhere, every
    // downstream offset shifts and the hash goes red.
    GraftQuery(
      "q_doc_pack",
      (s, d) => Packer.packed(Tables.documents(s, d), "doc_id", "text",
        budget = 1024, bucketSize = 64L),
      Some(s"""WITH t AS (SELECT doc_id, len($toksSql) AS n FROM documents),
              |c AS (
              |  SELECT doc_id, n,
              |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS off
              |  FROM t
              |)
              |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, off AS "offset",
              |  off // 1024 AS seq_id, off % 1024 AS seq_pos
              |FROM c""".stripMargin)),

    // ----- packed training rows: every token placed on the global axis -----
    GraftQuery(
      "q_doc_pack_tokens",
      (s, d) => Packer.packedTokens(Tables.documents(s, d), "doc_id", "text",
        budget = 1024, bucketSize = 64L),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |c AS (
              |  SELECT doc_id, toks,
              |    CAST(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS off
              |  FROM t
              |),
              |e0 AS (
              |  SELECT doc_id, off, toks,
              |    unnest(generate_series(1, len(toks))) AS i
              |  FROM c
              |),
              |e AS (
              |  SELECT doc_id, off, i - 1 AS pos, toks[i] AS token FROM e0
              |)
              |SELECT (off + pos) // 1024 AS seq_id,
              |  (off + pos) % 1024 AS pos_in_seq, token, doc_id
              |FROM e""".stripMargin)),

    // ----- real BPE segmentation vs a SQL replay of the merge loop -----
    // The oracle implements GPT-2 merge scheduling in a recursive CTE:
    // a word's symbols live in a chr(31)-double-separated string where
    // replace() IS left-to-right non-overlapping merge-all, a LATERAL
    // min-rank probe picks each next merge, and recursion stops when
    // no merge-table pattern matches. Any scheduling or tie-break
    // difference in the Scala kernel mismatches the hash.
    GraftQuery(
      "q_doc_bpe",
      (s, d) => Bpe.segments(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val sep = "chr(31)"
        val pat = s"$sep||r.a||$sep||$sep||r.b||$sep"
        s"""WITH RECURSIVE
           |ranks(rnk, a, b) AS (VALUES ${Bpe.mergesSql()}),
           |toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |w0 AS (SELECT doc_id, toks,
           |  unnest(generate_series(1, len(toks))) AS i FROM toks),
           |words AS (SELECT doc_id, i - 1 AS word_idx, toks[i] AS word FROM w0),
           |init AS (
           |  SELECT doc_id, word_idx,
           |    $sep || array_to_string(string_split_regex(word, ''), $sep||$sep)
           |      || $sep AS st
           |  FROM words
           |),
           |it AS (
           |  SELECT doc_id, word_idx, st FROM init
           |  UNION ALL
           |  SELECT it.doc_id, it.word_idx,
           |    replace(it.st, $sep||best.a||$sep||$sep||best.b||$sep,
           |      $sep||best.a||best.b||$sep) AS st
           |  FROM it, LATERAL (
           |    SELECT r.a, r.b FROM ranks r WHERE contains(it.st, $pat)
           |    ORDER BY r.rnk LIMIT 1) best
           |),
           |fin AS (
           |  SELECT * FROM it WHERE NOT EXISTS (
           |    SELECT 1 FROM ranks r WHERE contains(it.st, $pat))
           |),
           |p0 AS (
           |  SELECT doc_id, word_idx,
           |    string_split(trim(st, chr(31)), $sep||$sep) AS pieces
           |  FROM fin
           |),
           |p1 AS (SELECT doc_id, word_idx, pieces,
           |  unnest(generate_series(1, len(pieces))) AS i FROM p0)
           |SELECT doc_id, word_idx, i - 1 AS piece_idx, pieces[i] AS piece
           |FROM p1""".stripMargin
      }),

    // ----- unigram-LM vocabulary (SentencePiece-style training) -----
    GraftQuery(
      "q_doc_unigram_vocab",
      (s, d) => Unigram.vocab(Tables.documents(s, d), "text",
          topMulti = 48, maxLen = 4)
        .select(col("piece"), col("cnt"), col("logp")),
      Some(s"""WITH wc AS (
              |  SELECT word, count(*) AS wcnt FROM (
              |    SELECT unnest($toksSql) AS word FROM documents) GROUP BY word),
              |st AS (SELECT word, wcnt,
              |         unnest(generate_series(1, length(word))) AS s FROM wc),
              |sl AS (SELECT word, wcnt, s,
              |         unnest(generate_series(1, least(4, length(word) - s + 1))) AS l
              |       FROM st),
              |pc AS (SELECT substr(word, s, l) AS piece,
              |              CAST(sum(wcnt) AS BIGINT) AS cnt FROM sl GROUP BY 1),
              |voc AS (
              |  SELECT piece, cnt FROM pc WHERE length(piece) = 1
              |  UNION ALL
              |  SELECT piece, cnt FROM (
              |    SELECT piece, cnt,
              |           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
              |    FROM pc WHERE length(piece) > 1) WHERE rn <= 48),
              |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM voc)
              |SELECT piece, cnt, round(ln(cnt / tot.t), 6) AS logp
              |FROM voc CROSS JOIN tot""".stripMargin)),

    // ----- unigram-LM Viterbi segmentation -----
    // The oracle replays the ENTIRE tokenizer in SQL: vocabulary
    // training (substring counts, coverage singles + top-48 multis,
    // round-6 log-probs) and then per-word Viterbi — a recursive CTE
    // carries the DP score/backpointer lists forward one position per
    // step (LATERAL picks the best piece ending at each position,
    // ties to the longer piece), and a second recursion walks the
    // backpointers into pieces. Any divergence anywhere — a count, a
    // log-prob, a DP comparison — shifts segmentations and the hash
    // goes red.
    GraftQuery(
      "q_doc_unigram",
      (s, d) => Unigram.segments(Tables.documents(s, d), "doc_id", "text",
        topMulti = 48, maxLen = 4),
      Some(s"""WITH RECURSIVE
              |$unigramSegCtes
              |SELECT doc_id, word_idx, i - 1 AS piece_idx, pieces[i] AS piece
              |FROM px""".stripMargin)),

    // ----- one hard-EM (Viterbi-EM) unigram refinement round -----
    // Re-estimates piece scores from Viterbi usage counts (the
    // SentencePiece iteration with hard counts), pruning unused
    // multi-char pieces. The oracle replays the ENTIRE round: the
    // recursive-CTE Viterbi above, the usage groupBy, the prune, and
    // the renormalized log-probs.
    GraftQuery(
      "q_doc_unigram_em",
      (s, d) => Unigram.emRound(Tables.documents(s, d), "doc_id", "text",
        topMulti = 48, maxLen = 4),
      Some(s"""WITH RECURSIVE
              |$unigramSegCtes,
              |seg AS (SELECT pieces[i] AS piece FROM px),
              |usg AS (SELECT piece, count(*) AS used FROM seg GROUP BY piece),
              |kept AS (SELECT v.piece, v.cnt, vl.logp AS logp0,
              |                coalesce(u.used, 0) AS used
              |         FROM voc v
              |         JOIN vlp vl ON vl.piece = v.piece
              |         LEFT JOIN usg u ON u.piece = v.piece
              |         WHERE coalesce(u.used, 0) > 0 OR length(v.piece) = 1),
              |ktot AS (SELECT CAST(sum(used) AS DOUBLE) AS t FROM kept)
              |SELECT piece, cnt, logp0, CAST(used AS BIGINT) AS used,
              |       CASE WHEN used > 0 THEN round(ln(used / ktot.t), 6)
              |            ELSE ${Unigram.UnkLogp} END AS logp1
              |FROM kept CROSS JOIN ktot""".stripMargin)),

    // ----- interpolated Kneser-Ney bigram perplexity (KenLM default) -----
    // Absolute discount D=0.75, continuation probabilities from
    // distinct-context counts. The oracle replays every count table
    // (raw, fan-out types, continuation types, the type total) and the
    // exact arithmetic order of the interpolation.
    GraftQuery(
      "q_doc_kn_ppl",
      (s, d) => KneserNey.scored(Tables.documents(s, d), "doc_id", "text"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |tk AS (SELECT doc_id, unnest(toks) AS w FROM t),
           |uni AS (SELECT w, count(*) AS c1 FROM tk GROUP BY w),
           |bg AS (SELECT doc_id, unnest(${Shingles.shinglesSql("toks", 2)}) AS b
           |       FROM t WHERE len(toks) >= 2),
           |bc0 AS (SELECT b, count(*) AS c12 FROM bg GROUP BY b),
           |bc AS (SELECT b, c12,
           |              string_split(b, ' ')[1] AS w1,
           |              string_split(b, ' ')[2] AS w2
           |       FROM bc0),
           |fan AS (SELECT w1, count(*) AS n_succ FROM bc GROUP BY w1),
           |cont AS (SELECT w2, count(*) AS n_pred FROM bc GROUP BY w2),
           |ty AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM bc),
           |lp AS (SELECT g.doc_id,
           |  CAST(round(ln(
           |    greatest(bc.c12 - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE)) / u.c1 +
           |    CAST(0.75 AS DOUBLE) * f.n_succ / u.c1 * (ct.n_pred / ty.bt)), 6)
           |       AS DECIMAL(20,9)) AS l
           |  FROM bg g JOIN bc ON bc.b = g.b
           |  JOIN uni u ON u.w = bc.w1
           |  JOIN fan f ON f.w1 = bc.w1
           |  JOIN cont ct ON ct.w2 = bc.w2
           |  CROSS JOIN ty)
           |SELECT doc_id, count(*) AS n_pairs,
           |  CAST(round(CAST(CAST(-sum(l) AS DOUBLE) / count(*)
           |    AS DECIMAL(20,9)), 6) AS DOUBLE) AS avg_nll
           |FROM lp GROUP BY doc_id""".stripMargin)),

    // ----- all-but-the-top embedding post-processing -----
    // Consumes the ROUNDED (mu, pc) statistics from the q_emb_top_pc
    // chain, so the oracle replays the statistics once more and then
    // the per-vector center/project/subtract exactly.
    GraftQuery(
      "q_emb_abtt",
      (s, d) => Pca.allButTheTop(Tables.embeddings(s, d),
        "vec_id", "embedding", dim = 64, iters = 2),
      Some(s"""WITH $topPcCtes,
              |tc AS (SELECT m.dim,
              |         CAST(round(CAST(m.mu AS DECIMAL(20,9)), 6) AS DOUBLE) AS mu,
              |         CAST(round(CAST(b2.b AS DECIMAL(20,9)), 6) AS DOUBLE) AS pc
              |       FROM mu m JOIN b2 ON b2.j = m.dim),
              |ex AS (SELECT e.vec_id, i.i AS dim,
              |              CAST(e.embedding[i.i + 1] AS DOUBLE) AS v
              |       FROM embeddings e CROSS JOIN generate_series(0, 63) i(i)),
              |ctr AS (SELECT ex.vec_id, ex.dim, ex.v - tc.mu AS c, tc.pc
              |        FROM ex JOIN tc ON tc.dim = ex.dim),
              |pr AS (SELECT vec_id,
              |              CAST(sum(CAST(c * pc AS DECIMAL(20,9))) AS DOUBLE) AS p
              |       FROM ctr GROUP BY vec_id)
              |SELECT ctr.vec_id, ctr.dim,
              |       CAST(round(CAST(ctr.c - pr.p * ctr.pc AS DECIMAL(20,9)), 6)
              |            AS DOUBLE) AS value
              |FROM ctr JOIN pr USING (vec_id)""".stripMargin)),

    // ----- Johnson-Lindenstrauss sign random projection -----
    // The "random" matrix is a hash parity recomputed on demand; the
    // oracle regenerates it and the DECIMAL-exact cell sums. k=16 so
    // the 1/√k scale is the exactly-representable 0.25.
    GraftQuery(
      "q_emb_jl_project",
      (s, d) => RandomProjection.project(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 16),
      Some(s"""WITH ex AS (
              |  SELECT e.vec_id, i.i AS i,
              |         CAST(e.embedding[i.i + 1] AS DOUBLE) AS v
              |  FROM embeddings e CROSS JOIN generate_series(0, 63) i(i)),
              |fan AS (SELECT ex.vec_id, ex.i, ex.v, j.j AS j
              |        FROM ex CROSS JOIN generate_series(0, 15) j(j)),
              |s AS (SELECT vec_id, j,
              |  CAST(sum(CAST(${RandomProjection.signSql("i", "j")} * v
              |                AS DECIMAL(20,9))) AS DOUBLE) AS s
              |  FROM fan GROUP BY vec_id, j)
              |SELECT vec_id, j,
              |  CAST(round(CAST(s * CAST(0.25 AS DOUBLE) AS DECIMAL(20,9)), 6)
              |       AS DOUBLE) AS value
              |FROM s""".stripMargin)),

    // ----- seed-vs-corpus quality classifier (GPT-3/CCNet recipe) -----
    // Closed-form NB log-odds stand in for fastText's logistic fit;
    // the oracle replays training (class counts, smoothed weights)
    // and scoring (DECIMAL-exact mean log-odds) end to end.
    GraftQuery(
      "q_doc_quality_clf",
      (s, d) => QualityClassifier.scored(Tables.documents(s, d),
        "doc_id", "text", col("source").isin("src1", "src4", "src7")),
      Some(s"""WITH tk AS (
              |  SELECT doc_id,
              |         CASE WHEN source IN ('src1','src4','src7')
              |              THEN 1 ELSE 0 END AS pos,
              |         unnest(toks) AS w
              |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)),
              |wc AS (SELECT w, CAST(sum(pos) AS BIGINT) AS c_pos,
              |              CAST(sum(1 - pos) AS BIGINT) AS c_neg
              |       FROM tk GROUP BY w),
              |tot AS (SELECT CAST(sum(c_pos) AS DOUBLE) AS np,
              |               CAST(sum(c_neg) AS DOUBLE) AS nn,
              |               CAST(count(*) AS DOUBLE) AS v FROM wc),
              |lo AS (SELECT w,
              |  CAST(round(ln((c_pos + CAST(1.0 AS DOUBLE)) / (np + v)) -
              |             ln((c_neg + CAST(1.0 AS DOUBLE)) / (nn + v)), 6)
              |       AS DECIMAL(20,9)) AS lo
              |  FROM wc CROSS JOIN tot),
              |sc AS (SELECT tk.doc_id, count(*) AS n_tokens,
              |              CAST(round(CAST(CAST(sum(lo.lo) AS DOUBLE) / count(*)
              |                AS DECIMAL(20,9)), 6) AS DOUBLE) AS score
              |       FROM tk JOIN lo USING (w) GROUP BY tk.doc_id)
              |SELECT doc_id, n_tokens, score, score > 0 AS keep FROM sc""".stripMargin)),

    // ----- WordPiece: greedy longest-match subword tokenization -----
    // The BERT-family scheme, completing the subword triple next to
    // BPE (merge rules) and unigram (Viterbi). Both halves replayed:
    // the position-classed vocabulary, and the greedy scan as a
    // recursive CTE advancing one piece per step with a LATERAL
    // longest-match probe.
    GraftQuery(
      "q_doc_wordpiece_vocab",
      (s, d) => WordPiece.vocab(Tables.documents(s, d), "text",
          topMulti = 48, maxLen = 4)
        .select(col("cont").cast("long").as("cont"), col("core"),
          col("piece"), col("cnt")),
      Some(s"""WITH wc AS (
              |  SELECT word, count(*) AS wcnt FROM (
              |    SELECT unnest($toksSql) AS word FROM documents) GROUP BY word),
              |st AS (SELECT word, wcnt,
              |         unnest(generate_series(1, length(word))) AS s FROM wc),
              |sl AS (SELECT word, wcnt, s,
              |         unnest(generate_series(1, least(4, length(word) - s + 1))) AS l
              |       FROM st),
              |pc AS (SELECT CASE WHEN s > 1 THEN 1 ELSE 0 END AS cont,
              |              substr(word, s, l) AS core,
              |              CAST(sum(wcnt) AS BIGINT) AS cnt
              |       FROM sl GROUP BY 1, 2),
              |pd AS (SELECT cont, core,
              |              CASE WHEN cont = 1 THEN '##' || core ELSE core END AS piece,
              |              cnt FROM pc),
              |voc AS (
              |  SELECT cont, core, piece, cnt FROM pd WHERE length(core) = 1
              |  UNION ALL
              |  SELECT cont, core, piece, cnt FROM (
              |    SELECT cont, core, piece, cnt,
              |           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
              |    FROM pd WHERE length(core) > 1) WHERE rn <= 48)
              |SELECT CAST(cont AS BIGINT) AS cont, core, piece, cnt FROM voc""".stripMargin)),

    GraftQuery(
      "q_doc_wordpiece",
      (s, d) => WordPiece.segments(Tables.documents(s, d), "doc_id", "text",
        topMulti = 48, maxLen = 4),
      Some(s"""WITH RECURSIVE
              |toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |w0 AS (SELECT doc_id, toks,
              |         unnest(generate_series(1, len(toks))) AS i FROM toks),
              |words AS (SELECT doc_id, i - 1 AS word_idx, toks[i] AS word FROM w0),
              |wc AS (SELECT word, count(*) AS wcnt FROM words GROUP BY word),
              |st AS (SELECT word, wcnt,
              |         unnest(generate_series(1, length(word))) AS s FROM wc),
              |sl AS (SELECT word, wcnt, s,
              |         unnest(generate_series(1, least(4, length(word) - s + 1))) AS l
              |       FROM st),
              |pc AS (SELECT CASE WHEN s > 1 THEN 1 ELSE 0 END AS cont,
              |              substr(word, s, l) AS core,
              |              CAST(sum(wcnt) AS BIGINT) AS cnt
              |       FROM sl GROUP BY 1, 2),
              |pd AS (SELECT cont, core,
              |              CASE WHEN cont = 1 THEN '##' || core ELSE core END AS piece,
              |              cnt FROM pc),
              |voc AS (
              |  SELECT cont, core FROM pd WHERE length(core) = 1
              |  UNION ALL
              |  SELECT cont, core FROM (
              |    SELECT cont, core, cnt, piece,
              |           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
              |    FROM pd WHERE length(core) > 1) WHERE rn <= 48),
              |v2 AS (SELECT cont, core, length(core) AS lc FROM voc),
              |seg AS (
              |  SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM wc
              |  UNION ALL
              |  SELECT seg.word, seg.pos + best.lc,
              |         list_append(seg.pieces,
              |           CASE WHEN seg.pos > 0 THEN '##' || best.core
              |                ELSE best.core END)
              |  FROM seg, LATERAL (
              |    SELECT v.core, v.lc FROM v2 v
              |    WHERE v.cont = CASE WHEN seg.pos > 0 THEN 1 ELSE 0 END
              |      AND v.lc <= length(seg.word) - seg.pos
              |      AND v.core = substr(seg.word, seg.pos + 1, v.lc)
              |    ORDER BY v.lc DESC LIMIT 1) best
              |  WHERE seg.pos < length(seg.word)),
              |fin AS (SELECT word, pieces FROM seg WHERE pos = length(word)),
              |px AS (SELECT doc_id, word_idx, pieces,
              |              unnest(generate_series(1, len(pieces))) AS i
              |       FROM words JOIN fin USING (word))
              |SELECT doc_id, word_idx, i - 1 AS piece_idx, pieces[i] AS piece
              |FROM px""".stripMargin)),

    // ----- top principal component (whitening / all-but-the-top) -----
    // Fixed-point power iteration: DECIMAL-rounded products before
    // every sum, constant 0.125 start, fixed two steps — the oracle
    // replays mean, centered covariance, both matvecs, and both
    // normalizations. Outputs round through DECIMAL(20,9) because
    // round(double, 6) resolves 6th-decimal boundaries differently
    // across engines (exact BigDecimal vs float multiply).
    GraftQuery(
      "q_emb_top_pc",
      (s, d) => Pca.topComponent(Tables.embeddings(s, d), "embedding",
        dim = 64, iters = 2),
      Some(s"""WITH $topPcCtes
              |SELECT m.dim,
              |       CAST(round(CAST(m.mu AS DECIMAL(20,9)), 6) AS DOUBLE) AS mu,
              |       CAST(round(CAST(b2.b AS DECIMAL(20,9)), 6) AS DOUBLE) AS pc,
              |       CAST(round(CAST(n2.nv AS DECIMAL(20,9)), 6) AS DOUBLE) AS eigval
              |FROM mu m JOIN b2 ON b2.j = m.dim CROSS JOIN n2""".stripMargin)),

    // ----- int8 embedding quantization: exact cross-engine codes -----
    // floor((float→double v) · 127 / amax) is bit-deterministic (see
    // graft.llm.Quantize), so codes compare EXACTLY — no rounding
    // tolerance anywhere in this row.
    GraftQuery(
      "q_emb_quantize",
      (s, d) => Quantize.int8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("amax"),
          posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("code"), col("amax")),
      Some("""WITH ix AS (SELECT vec_id, embedding,
             |  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
             |ex AS (SELECT vec_id, i - 1 AS dim,
             |  CAST(embedding[i] AS DOUBLE) AS v FROM ix),
             |am AS (SELECT vec_id, max(abs(v)) AS amax FROM ex GROUP BY vec_id)
             |SELECT e.vec_id, e.dim,
             |  CAST(CASE WHEN a.amax > 0 THEN floor((e.v * 127.0) / a.amax)
             |       ELSE 0 END AS INTEGER) AS code,
             |  a.amax
             |FROM ex e JOIN am a USING (vec_id)""".stripMargin)),

    // ----- multimodal: frame sampling over fixed-size payload windows -----
    GraftQuery(
      "q_media_frames",
      (s, d) => {
        val media = Multimodal.syntheticMedia(Tables.documents(s, d), "doc_id", "text")
        Multimodal.sampleFrames(media, frameBytes = 16, stride = 2).toDF()
          .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
            col("value"))
      },
      Some("""SELECT doc_id AS media_id, f AS frame_no,
             |  CAST(list_sum(list_transform(generate_series(f*16 + 1, f*16 + 16),
             |    i -> ascii(text[i:i]))) AS DOUBLE) AS value
             |FROM documents
             |CROSS JOIN (SELECT unnest(generate_series(0, 200)) AS f) fs
             |WHERE f % 2 = 0 AND (f + 1) * 16 <= length(text)""".stripMargin)),

    // ----- multimodal: resize metadata/payload contract -----
    // The resize transform itself is the (stubbed) per-partition
    // kernel; the oracle pins the Spark-side contract — metadata
    // update, nearest-neighbor byte selection, payload length — via a
    // byte-sum checksum, exactly representable in BIGINT.
    GraftQuery(
      "q_media_resize",
      (s, d) => {
        val media = Multimodal.syntheticMedia(Tables.documents(s, d), "doc_id", "text")
        Multimodal.resize(media, targetWidth = 32, targetHeight = 1).toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            length(col("payload")).cast("long").as("payload_len"),
            aggregate(transform(split(col("payload").cast("string"), ""),
              c => ascii(c).cast("long")), lit(0L), (acc, x) => acc + x).as("byte_sum"))
      },
      Some("""SELECT doc_id AS media_id, 32 AS width, 1 AS height,
             |  least(32, length(text)) AS payload_len,
             |  CAST(coalesce(list_sum(list_transform(
             |    generate_series(0, least(32, length(text)) - 1),
             |    i -> ascii(text[(i * length(text)) // 32 + 1 : (i * length(text)) // 32 + 1]))),
             |    0) AS BIGINT) AS byte_sum
             |FROM documents""".stripMargin)),

    // ----- multimodal: binary payload → partition-local feature extract -----
    GraftQuery(
      "q_media_features",
      (s, d) => {
        val media = Multimodal.syntheticMedia(Tables.documents(s, d), "doc_id", "text")
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"),
            posexplode(col("features")).as(Seq("feature_idx", "value")))
          .select(col("media_id"), col("feature_idx").cast("long"),
            col("value").cast("double").as("value"))
      },
      Some("""SELECT doc_id AS media_id, k AS feature_idx,
             |  CAST(coalesce(list_sum(list_transform(
             |    generate_series(1 + k, len(text), 8), i -> ascii(text[i:i]))), 0) AS DOUBLE) AS value
             |FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks""".stripMargin)),

    // ----- multimodal: REAL image decode (javax.imageio, zero added
    // deps). 64 synthetic PNGs whose pixels follow a closed-form
    // pattern are encoded through a real PNG encoder, decoded back by
    // ImageIoDecoder on the executors, and reduced to integer pixel
    // stats; DuckDB recomputes the same stats from the pixel formula
    // directly — if the decode is wrong in any channel or pixel, the
    // sums mismatch. -----
    GraftQuery(
      "q_media_image_decode",
      (s, _) => {
        import s.implicits._
        val media = s.range(64).map { id =>
          val w = 8 + (id % 9).toInt
          val h = 8 + ((id * 3) % 7).toInt
          Multimodal.MediaRow(id, Multimodal.syntheticPng(id, w, h), "image/png", w, h)
        }
        Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder).toDF()
          .select(col("media_id"),
            posexplode(col("features")).as(Seq("feature_idx", "value")))
          .select(col("media_id"), col("feature_idx").cast("long"),
            col("value").cast("double").as("value"))
      },
      Some("""WITH imgs AS (
             |  SELECT id, 8 + (id % 9) AS w, 8 + ((id * 3) % 7) AS h
             |  FROM (SELECT unnest(generate_series(0, 63)) AS id)
             |),
             |px AS (
             |  SELECT i.id, i.w, i.h, xs.x, ys.y,
             |    (7 * xs.x + 13 * ys.y + i.id) % 256 AS r,
             |    (3 * xs.x + 5 * ys.y + 2 * i.id) % 256 AS g,
             |    (11 * xs.x + 17 * ys.y + 3 * i.id) % 256 AS b
             |  FROM imgs i
             |  JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs ON xs.x < i.w
             |  JOIN (SELECT unnest(generate_series(0, 13)) AS y) ys ON ys.y < i.h
             |),
             |feat AS (
             |  SELECT id, max(w) AS f0, max(h) AS f1,
             |    sum(r) AS f2, sum(g) AS f3, sum(b) AS f4,
             |    min((r * 299 + g * 587 + b * 114) // 1000) AS f5,
             |    max((r * 299 + g * 587 + b * 114) // 1000) AS f6,
             |    count(*) AS f7
             |  FROM px GROUP BY id
             |)
             |SELECT id AS media_id, k AS feature_idx,
             |  CAST(CASE k WHEN 0 THEN f0 WHEN 1 THEN f1 WHEN 2 THEN f2
             |       WHEN 3 THEN f3 WHEN 4 THEN f4 WHEN 5 THEN f5
             |       WHEN 6 THEN f6 ELSE f7 END AS DOUBLE) AS value
             |FROM feat CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks""".stripMargin)),

    // ----- multimodal: REAL audio decode (javax.sound.sampled, zero
    // added deps). 48 synthetic WAV clips whose 16-bit PCM samples
    // follow a closed-form formula are written through the real
    // RIFF/WAVE encoder, parsed back by WavDecoder on the executors,
    // and reduced to integer sample stats; DuckDB recomputes the same
    // stats from the sample formula directly — a wrong byte order,
    // header offset, or sample width mismatches the sums. -----
    GraftQuery(
      "q_media_audio_decode",
      (s, _) => {
        import s.implicits._
        val media = s.range(48).map { id =>
          val n = 160 + 16 * (id % 10).toInt
          Multimodal.MediaRow(id, Multimodal.syntheticWav(id, n), "audio/wav", n, 1)
        }
        Multimodal.extractFeatures(media, Multimodal.WavDecoder).toDF()
          .select(col("media_id"),
            posexplode(col("features")).as(Seq("feature_idx", "value")))
          .select(col("media_id"), col("feature_idx").cast("long"),
            col("value").cast("double").as("value"))
      },
      Some("""WITH clips AS (
             |  SELECT id, 160 + 16 * (id % 10) AS n
             |  FROM (SELECT unnest(generate_series(0, 47)) AS id)
             |),
             |samples AS (
             |  SELECT c.id, s.i, ((31 * s.i + 17 * c.id) % 2001) - 1000 AS v
             |  FROM clips c
             |  JOIN (SELECT unnest(generate_series(0, 303)) AS i) s ON s.i < c.n
             |),
             |lagged AS (
             |  SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
             |  FROM samples
             |),
             |feat AS (
             |  SELECT id, 1 AS f0, 8000 AS f1, count(*) AS f2,
             |    sum(abs(v)) AS f3, min(v) AS f4, max(v) AS f5,
             |    sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
             |        THEN 1 ELSE 0 END) AS f6,
             |    sum(CASE WHEN abs(v) >= 500 THEN 1 ELSE 0 END) AS f7
             |  FROM lagged GROUP BY id
             |)
             |SELECT id AS media_id, k AS feature_idx,
             |  CAST(CASE k WHEN 0 THEN f0 WHEN 1 THEN f1 WHEN 2 THEN f2
             |       WHEN 3 THEN f3 WHEN 4 THEN f4 WHEN 5 THEN f5
             |       WHEN 6 THEN f6 ELSE f7 END AS DOUBLE) AS value
             |FROM feat CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks""".stripMargin)),

    // ----- multimodal: REAL image resample. Closed-form PNGs are
    // decoded, nearest-neighbor-resampled to 10×6 with the pinned
    // floor mapping src(x)=x·w0//w1, re-encoded as PNG, then decoded
    // AGAIN for feature stats — two real decodes and one real encode
    // per image; DuckDB replays the whole journey from the pixel
    // formula composed with the same floor mapping. -----
    GraftQuery(
      "q_media_image_resize",
      (s, _) => {
        import s.implicits._
        val media = s.range(32).map { id =>
          val w = 8 + (id % 9).toInt
          val h = 8 + ((id * 3) % 7).toInt
          Multimodal.MediaRow(id, Multimodal.syntheticPng(id, w, h), "image/png", w, h)
        }
        val resized = Multimodal.resize(media, 10, 6, Multimodal.ImageIoResizer)
        Multimodal.extractFeatures(resized, Multimodal.ImageIoDecoder).toDF()
          .select(col("media_id"),
            posexplode(col("features")).as(Seq("feature_idx", "value")))
          .select(col("media_id"), col("feature_idx").cast("long"),
            col("value").cast("double").as("value"))
      },
      Some("""WITH imgs AS (
             |  SELECT id, 8 + (id % 9) AS w0, 8 + ((id * 3) % 7) AS h0
             |  FROM (SELECT unnest(generate_series(0, 31)) AS id)
             |),
             |px AS (
             |  SELECT i.id,
             |    (7 * ((xs.x * i.w0) // 10) + 13 * ((ys.y * i.h0) // 6) + i.id) % 256 AS r,
             |    (3 * ((xs.x * i.w0) // 10) + 5 * ((ys.y * i.h0) // 6) + 2 * i.id) % 256 AS g,
             |    (11 * ((xs.x * i.w0) // 10) + 17 * ((ys.y * i.h0) // 6) + 3 * i.id) % 256 AS b
             |  FROM imgs i
             |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS x) xs
             |  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y) ys
             |),
             |feat AS (
             |  SELECT id, 10 AS f0, 6 AS f1,
             |    sum(r) AS f2, sum(g) AS f3, sum(b) AS f4,
             |    min((r * 299 + g * 587 + b * 114) // 1000) AS f5,
             |    max((r * 299 + g * 587 + b * 114) // 1000) AS f6,
             |    count(*) AS f7
             |  FROM px GROUP BY id
             |)
             |SELECT id AS media_id, k AS feature_idx,
             |  CAST(CASE k WHEN 0 THEN f0 WHEN 1 THEN f1 WHEN 2 THEN f2
             |       WHEN 3 THEN f3 WHEN 4 THEN f4 WHEN 5 THEN f5
             |       WHEN 6 THEN f6 ELSE f7 END AS DOUBLE) AS value
             |FROM feat CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks""".stripMargin)),

    // ----- multimodal: REAL video decode (JDK-only RIFF/AVI walker,
    // [[graft.llm.Multimodal.AviCodec]]). 6 closed-form synthetic
    // videos (5 frames of 8×6) are written as uncompressed-DIB AVIs
    // through the real container writer, parsed back chunk-by-chunk on
    // the executors (LIST recursion, strf header, movi traversal,
    // bottom-up BGR row decode), and reduced to per-frame pixel stats;
    // DuckDB recomputes the stats from the pixel formula alone — the
    // lossless-codec half of the video story (the MJPEG half is
    // spec-pinned with a lossy tolerance in MultimodalSpec). -----
    GraftQuery(
      "q_media_video_frames",
      (s, _) => {
        import s.implicits._
        val media = s.range(6).map { id =>
          Multimodal.MediaRow(id, Multimodal.syntheticAvi(id, nFrames = 5, w = 8, h = 6),
            "video/avi", 8, 6)
        }
        Multimodal.videoFrameStats(media).toDF()
          .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"),
            col("min_luma"), col("max_luma"))
      },
      Some("""WITH px AS (
             |  SELECT ids.media_id, fx.f, xs.x, ys.y,
             |    (7 * xs.x + 13 * ys.y + 5 * fx.f + ids.media_id) % 256 AS r,
             |    (3 * xs.x + 5 * ys.y + 7 * fx.f + 2 * ids.media_id) % 256 AS g,
             |    (11 * xs.x + 17 * ys.y + 19 * fx.f + 3 * ids.media_id) % 256 AS b
             |  FROM (SELECT unnest(generate_series(0, 5)) AS media_id) ids
             |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS f) fx
             |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs
             |  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y) ys
             |)
             |SELECT media_id, f AS frame_no,
             |  CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
             |  CAST(sum(r) AS BIGINT) AS sum_r,
             |  CAST(sum(g) AS BIGINT) AS sum_g,
             |  CAST(sum(b) AS BIGINT) AS sum_b,
             |  CAST(min((r * 299 + g * 587 + b * 114) // 1000) AS BIGINT) AS min_luma,
             |  CAST(max((r * 299 + g * 587 + b * 114) // 1000) AS BIGINT) AS max_luma
             |FROM px GROUP BY 1, 2""".stripMargin)),

    // ----- multimodal: perceptual dHash over REAL PNG decodes. 96
    // synthetic PNGs carry 24 closed-form pixel patterns (pattern =
    // id % 24): ids 0..47 are two bit-identical copies of each
    // pattern, ids 48..95 re-render the same patterns at id-derived
    // dimensions (the "same image at another resolution" duplicate a
    // perceptual hash exists to catch). The hash — area-averaged 9×8
    // cell-luma grid, 64 cross-multiplied mean-compare bits packed
    // into 4×16-bit bands — is integer-exact over the lossless PNG
    // round-trip, so DuckDB replays it from the pixel formula with no
    // image library. -----
    GraftQuery(
      "q_media_dhash",
      (s, _) => {
        import s.implicits._
        ImageDedup.dHash(dhashCorpus(s))
          .select(col("media_id"), col("b0").cast("long"), col("b1").cast("long"),
            col("b2").cast("long"), col("b3").cast("long"))
      },
      Some(
        s"""WITH $dhashDimsSql,
           |${ImageDedup.hashSql(dhashR, dhashG, dhashB)}
           |SELECT media_id, CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
           |       CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3
           |FROM hx""".stripMargin)),

    // ----- multimodal: dHash near-duplicate pairs via banded Hamming
    // LSH (4×16-bit bands; EXACT for maxHamming <= 3 by pigeonhole —
    // see [[graft.llm.ImageDedup]]). The oracle checks the exactness
    // guarantee itself: it pairs ALL images brute-force and keeps
    // Hamming <= 3, so a banding bug that loses a qualifying pair (or
    // the join inventing one) hash-mismatches. -----
    GraftQuery(
      "q_media_dhash_neardup",
      (s, _) => {
        import s.implicits._
        ImageDedup.nearDuplicates(ImageDedup.dHash(dhashCorpus(s)), maxHamming = 3)
      },
      Some(
        s"""WITH $dhashDimsSql,
           |${ImageDedup.hashSql(dhashR, dhashG, dhashB)}
           |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |       CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS BIGINT) AS hamming
           |FROM hx a JOIN hx b ON a.media_id < b.media_id
           |WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3""".stripMargin)),

    // ----- image dedup journey tail: pairs → connected components →
    // keep/drop per image (transitive duplicate classes, smallest id
    // kept). The oracle replays the whole chain: pixel formula → hash
    // → brute pairs → RECURSIVE reachability → per-cluster min. -----
    GraftQuery(
      "q_media_dhash_keep",
      (s, _) => {
        import s.implicits._
        val hashes = ImageDedup.dHash(dhashCorpus(s))
        ImageDedup.keepTable(hashes,
          ImageDedup.nearDuplicates(hashes, maxHamming = 3))
      },
      Some(
        s"""WITH RECURSIVE $dhashDimsSql,
           |${ImageDedup.hashSql(dhashR, dhashG, dhashB)},
           |nd AS (
           |  SELECT a.media_id AS id_a, b.media_id AS id_b
           |  FROM hx a JOIN hx b ON a.media_id < b.media_id
           |  WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |        bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |        bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |        bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3),
           |edges AS (SELECT id_a AS u, id_b AS v FROM nd
           |          UNION SELECT id_b, id_a FROM nd),
           |reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |comp AS (SELECT u AS media_id, least(u, min(v)) AS component
           |         FROM reach GROUP BY u)
           |SELECT h.media_id,
           |       coalesce(c.component, h.media_id) AS cluster_id,
           |       coalesce(c.component, h.media_id) = h.media_id AS keep
           |FROM hx h LEFT JOIN comp c USING (media_id)""".stripMargin)),

    // ----- banded-Hamming truncation telemetry: the maxBucket guard
    // in the perceptual dedup joins drops over-cap (band, key) buckets
    // SILENTLY, so the exactness statement needs this audit row — the
    // candidate volume the production join emits and the share a given
    // cap would delete (MinHash.bandCostTable's pattern for the media
    // family). Cap 3 on the fixture truncates for real: every pattern
    // renders ≥ 4 times, so its shared bands land in over-cap buckets
    // and capped_pairs is non-zero — the telemetry's alarm path is
    // what the oracle replays, not just the quiet case. -----
    GraftQuery(
      "q_media_band_cost",
      (s, _) => {
        import s.implicits._
        ImageDedup.bucketCost(ImageDedup.dHash(dhashCorpus(s)), maxBucket = 3)
      },
      Some(
        s"""WITH $dhashDimsSql,
           |${ImageDedup.hashSql(dhashR, dhashG, dhashB)},
           |keys AS (
           |  SELECT media_id, 0 AS band, b0 AS bkey FROM hx
           |  UNION ALL SELECT media_id, 1, b1 FROM hx
           |  UNION ALL SELECT media_id, 2, b2 FROM hx
           |  UNION ALL SELECT media_id, 3, b3 FROM hx),
           |sz AS (SELECT band, bkey, count(*) AS sz FROM keys GROUP BY band, bkey)
           |SELECT CAST(coalesce(sum((sz * (sz - 1)) // 2), 0) AS BIGINT) AS candidate_pairs,
           |       CAST(coalesce(sum(CASE WHEN sz > 3 THEN (sz * (sz - 1)) // 2
           |                              ELSE 0 END), 0) AS BIGINT) AS capped_pairs,
           |       CAST(coalesce(sum(CASE WHEN sz > 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
           |         AS capped_buckets,
           |       CAST(coalesce(max(sz), 0) AS BIGINT) AS max_bucket_sz
           |FROM sz""".stripMargin)),

    // ----- incremental image dedup: a new batch of hashes (media_id
    // % 4 == 0) against the at-rest hash table of the rest — the
    // media-family twin of q_doc_minhash_incremental (a perceptual
    // hash table IS its own index). Oracle: the full brute-force
    // Hamming scan restricted to pairs involving a new image. -----
    GraftQuery(
      "q_media_dhash_incremental",
      (s, _) => {
        import s.implicits._
        val hashes = ImageDedup.dHash(dhashCorpus(s))
        BandedHamming.nearDuplicatesIncremental(
          hashes.filter(col("media_id") % 4 === 0),
          hashes.filter(col("media_id") % 4 =!= 0), maxHamming = 3)
      },
      Some(
        s"""WITH $dhashDimsSql,
           |${ImageDedup.hashSql(dhashR, dhashG, dhashB)}
           |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |       CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS BIGINT) AS hamming
           |FROM hx a JOIN hx b ON a.media_id < b.media_id
           |WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3
           |  AND (a.media_id % 4 = 0 OR b.media_id % 4 = 0)""".stripMargin)),

    // ----- the SAME media increment served through the at-rest
    // per-bucket-count side-table (BandedHamming.bucketCountsTable —
    // the cap's union count becomes an increment-keyed join, no
    // aggregate over the accumulated hash table). The generous cap
    // drops nothing here, so the output must equal the uncapped
    // brute-force oracle — identical SQL as q_media_dhash_incremental
    // forces the side-table guard bit-identical. -----
    GraftQuery(
      "q_media_dhash_incr_counts",
      (s, _) => {
        import s.implicits._
        val hashes = ImageDedup.dHash(dhashCorpus(s))
        val old = hashes.filter(col("media_id") % 4 =!= 0)
        BandedHamming.nearDuplicatesIncremental(
          hashes.filter(col("media_id") % 4 === 0), old, maxHamming = 3,
          indexBucketCounts = Some(BandedHamming.bucketCountsTable(old)))
      },
      Some(
        s"""WITH $dhashDimsSql,
           |${ImageDedup.hashSql(dhashR, dhashG, dhashB)}
           |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |       CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS BIGINT) AS hamming
           |FROM hx a JOIN hx b ON a.media_id < b.media_id
           |WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3
           |  AND (a.media_id % 4 = 0 OR b.media_id % 4 = 0)""".stripMargin)),

    // ----- multimodal: per-frame video dHash over REAL AVI walks —
    // the video analog of q_media_dhash: 48 clips × 5 lossless DIB
    // frames, 12 block-rotating patterns (seed = id % 12), exact
    // copies + resolution variants. DuckDB replays container → frame
    // pixels → resample → luma → bits from the formula alone. -----
    GraftQuery(
      "q_media_vhash",
      (s, _) => {
        import s.implicits._
        VideoDedup.frameHashes(vhashCorpus(s))
          .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
            col("b0").cast("long"), col("b1").cast("long"),
            col("b2").cast("long"), col("b3").cast("long"))
      },
      Some(
        s"""WITH $vhashDimsSql,
           |${VideoDedup.hashSql(5, vhashR, vhashG, vhashB)}
           |SELECT media_id, CAST(f AS BIGINT) AS frame_no,
           |       CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
           |       CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3
           |FROM fhx""".stripMargin)),

    // ----- video near-duplicate pairs: same frame count, EVERY
    // aligned frame within Hamming 3. The oracle brute-forces all
    // clip pairs frame-by-frame — a banded-candidate bug that loses a
    // qualifying pair (or a verify bug inventing one) mismatches. -----
    GraftQuery(
      "q_media_vhash_neardup",
      (s, _) => {
        import s.implicits._
        VideoDedup.nearDuplicates(VideoDedup.frameHashes(vhashCorpus(s)),
          maxPerFrameHamming = 3)
      },
      Some(
        s"""WITH $vhashDimsSql,
           |${VideoDedup.hashSql(5, vhashR, vhashG, vhashB)},
           |ph AS (
           |  SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |         bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |         bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |         bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |         bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS fh
           |  FROM fhx a JOIN fhx b
           |    ON a.media_id < b.media_id AND a.f = b.f)
           |SELECT media_id_a, media_id_b,
           |       CAST(count(*) AS BIGINT) AS n_frames,
           |       CAST(max(fh) AS BIGINT) AS max_frame_hamming
           |FROM ph GROUP BY media_id_a, media_id_b
           |HAVING max(fh) <= 3""".stripMargin)),

    // ----- WIDE (256-bit) perceptual hash — the implemented answer
    // to the 16-bit band-saturation bound the ImageDedup doc prices:
    // a 17×16 area-averaged grid, 8 × 32-bit bands (2^32 keyspace per
    // band, exact for Hamming ≤ 7 by 8-band pigeonhole). The oracle
    // replays grid, luma sums, compares and the 32-bit band packing
    // from the pixel formula, on a fixture large enough that every
    // grid cell receives pixels. -----
    GraftQuery(
      "q_media_dhash_wide",
      (s, _) => {
        import s.implicits._
        ImageDedup.dHashWide(dhashWideCorpus(s))
      },
      Some(
        s"""WITH $dhashWideDimsSql,
           |${ImageDedup.hashWideSql(dhashR, dhashG, dhashB)}
           |SELECT media_id, w0, w1, w2, w3, w4, w5, w6, w7 FROM hxw""".stripMargin)),

    // ----- wide near-dup pairs: banded join over the 32-bit band
    // keys, checked against the brute-force Hamming-≤7 scan — the
    // 8-band exactness guarantee itself is what the oracle pins. -----
    GraftQuery(
      "q_media_dhash_wide_neardup",
      (s, _) => {
        import s.implicits._
        ImageDedup.nearDuplicatesWide(
          ImageDedup.dHashWide(dhashWideCorpus(s)), maxHamming = 7)
      },
      Some {
        // bit_count returns TINYINT; 8 summed bands can exceed 127
        val ham = (0 until 8).map(k =>
          s"CAST(bit_count(xor(a.w$k, b.w$k)) AS INTEGER)").mkString(" + ")
        s"""WITH $dhashWideDimsSql,
           |${ImageDedup.hashWideSql(dhashR, dhashG, dhashB)}
           |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |       CAST($ham AS BIGINT) AS hamming
           |FROM hxw a JOIN hxw b ON a.media_id < b.media_id
           |WHERE $ham <= 7""".stripMargin
      }),

    // ----- DCT pHash: the frequency-domain perceptual hash (the
    // LAION-pipeline classic; Zauner 2010), pinned fully
    // integer-exact — floor 32×32 grid means, an integer-quantized
    // DCT basis embedded VERBATIM into this oracle from the same
    // Scala table the kernel multiplies, lower-median compare — so
    // DuckDB replays grid → DCT → median → bits from the pixel
    // formula with no image or FFT library. -----
    GraftQuery(
      "q_media_phash",
      (s, _) => {
        import s.implicits._
        PHashDct.hash(dhashWideCorpus(s))
          .select(col("media_id"), col("b0").cast("long"), col("b1").cast("long"),
            col("b2").cast("long"), col("b3").cast("long"))
      },
      Some(
        s"""WITH $dhashWideDimsSql,
           |${PHashDct.hashSql(dhashR, dhashG, dhashB)}
           |SELECT media_id, CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
           |       CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3
           |FROM px""".stripMargin)),

    // ----- pHash near-dup pairs vs the brute-force Hamming scan
    // (the 4-band pigeonhole exactness, now on the DCT bits). -----
    GraftQuery(
      "q_media_phash_neardup",
      (s, _) => {
        import s.implicits._
        PHashDct.nearDuplicates(PHashDct.hash(dhashWideCorpus(s)), maxHamming = 3)
      },
      Some(
        s"""WITH $dhashWideDimsSql,
           |${PHashDct.hashSql(dhashR, dhashG, dhashB)}
           |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |       CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS BIGINT) AS hamming
           |FROM px a JOIN px b ON a.media_id < b.media_id
           |WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3""".stripMargin)),

    // ----- the COMPOSED incremental media journey, pinned as ONE row:
    // decode → DCT pHash → incremental pairing of the new batch
    // (media_id % 5 == 0) against the accumulated corpus's at-rest
    // hash table → incremental keep-table maintenance over the
    // at-rest labels. The media twin of q_doc_dedup_incremental: the
    // entire daily-increment decision — no old×old pairing, no
    // full-pair-set clustering — must equal the from-scratch batch
    // replay (brute-force Hamming pairs → RECURSIVE reachability →
    // per-cluster min) that the oracle derives from the pixel
    // formula. A drift in ANY stage (hash bits, incremental candidate
    // union, contraction relabel) mismatches. -----
    GraftQuery(
      "q_media_journey_incremental",
      (s, _) => {
        import s.implicits._
        val corpus = dhashWideCorpus(s)
        val hashes = PHashDct.hash(corpus)
        val isNew = col("media_id") % 5 === 0
        val oldHashes = hashes.filter(!isNew)
        val newHashes = hashes.filter(isNew)
        val oldLabels = DedupClusters.connectedComponentsGraphX(
          PHashDct.nearDuplicates(oldHashes, maxHamming = 3)
            .select(col("media_id_a"), col("media_id_b")),
          "media_id_a", "media_id_b")
        val newPairs = BandedHamming.nearDuplicatesIncremental(
          newHashes, oldHashes, maxHamming = 3)
          .select(col("media_id_a"), col("media_id_b"))
        DedupClusters.keepTableIncremental(
          hashes.select(col("media_id")), oldLabels, newPairs,
          "media_id", "media_id_a", "media_id_b")
      },
      Some(
        s"""WITH RECURSIVE $dhashWideDimsSql,
           |${PHashDct.hashSql(dhashR, dhashG, dhashB)},
           |nd AS (
           |  SELECT a.media_id AS id_a, b.media_id AS id_b
           |  FROM px a JOIN px b ON a.media_id < b.media_id
           |  WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |        bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |        bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |        bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3),
           |edges AS (SELECT id_a AS u, id_b AS v FROM nd
           |          UNION SELECT id_b, id_a FROM nd),
           |reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |comp AS (SELECT u AS media_id, least(u, min(v)) AS component
           |         FROM reach GROUP BY u)
           |SELECT ids.media_id,
           |       coalesce(c.component, ids.media_id) AS cluster_id,
           |       coalesce(c.component, ids.media_id) = ids.media_id AS keep
           |FROM (SELECT DISTINCT media_id FROM px) ids
           |LEFT JOIN comp c USING (media_id)""".stripMargin)),

    // ----- offset-tolerant video near-dup: trimmed copies of the
    // same cut. Fixture: 8 patterns at fixed 12×10 — ids 0..7 the
    // full 6-frame cut, ids 8..15 the same cut trimmed to frames
    // 2..5, ids 16..23 trimmed to frames 1..4 — so qualifying
    // alignments exist at offsets +2, +1 and −1 (trim2 vs trim1),
    // exactly what the same-frame-count contract misses. The oracle
    // brute-forces every (pair, offset) alignment from the pixel
    // formula (content frame = fstart + file frame), so a candidate
    // bug that loses an alignment (or a verify bug inventing one)
    // mismatches. -----
    GraftQuery(
      "q_media_vhash_offset",
      (s, _) => {
        import s.implicits._
        val corpus = s.range(24).map { id =>
          val pid = (id % 8).toInt
          val (start, n) = if (id < 8) (0, 6) else if (id < 16) (2, 4) else (1, 4)
          Multimodal.MediaRow(id,
            Multimodal.syntheticAviBlocks(pid, start, n, 12, 10), "video/avi", 12, 10)
        }
        VideoDedup.nearDuplicatesAligned(VideoDedup.frameHashes(corpus),
          maxPerFrameHamming = 3, minOverlap = 3)
      },
      Some(
        s"""WITH $vhashOffsetCtes
           |SELECT media_id_a, media_id_b, CAST(off AS BIGINT) AS "offset",
           |       CAST(count(*) AS BIGINT) AS n_overlap,
           |       CAST(max(fh) AS BIGINT) AS max_frame_hamming
           |FROM ph GROUP BY media_id_a, media_id_b, off
           |HAVING count(*) >= 3 AND max(fh) <= 3""".stripMargin)),

    // ----- offset-dedup journey tail: qualifying alignments →
    // connected components → keep/drop per clip (a full cut and both
    // its trims are ONE duplicate class; smallest id kept). The
    // oracle replays chain → alignments → RECURSIVE reachability →
    // per-cluster min, like every other dedup journey here. -----
    GraftQuery(
      "q_media_vhash_offset_keep",
      (s, _) => {
        import s.implicits._
        val corpus = s.range(24).map { id =>
          val pid = (id % 8).toInt
          val (start, n) = if (id < 8) (0, 6) else if (id < 16) (2, 4) else (1, 4)
          Multimodal.MediaRow(id,
            Multimodal.syntheticAviBlocks(pid, start, n, 12, 10), "video/avi", 12, 10)
        }
        val fh = VideoDedup.frameHashes(corpus)
        VideoDedup.keepTableAligned(fh,
          VideoDedup.nearDuplicatesAligned(fh, maxPerFrameHamming = 3, minOverlap = 3))
      },
      Some(
        s"""WITH RECURSIVE $vhashOffsetCtes,
           |nd AS (
           |  SELECT DISTINCT media_id_a AS id_a, media_id_b AS id_b FROM (
           |    SELECT media_id_a, media_id_b
           |    FROM ph GROUP BY media_id_a, media_id_b, off
           |    HAVING count(*) >= 3 AND max(fh) <= 3)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM nd
           |          UNION SELECT id_b, id_a FROM nd),
           |reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |comp AS (SELECT u AS media_id, least(u, min(v)) AS component
           |         FROM reach GROUP BY u)
           |SELECT ids.media_id,
           |       coalesce(c.component, ids.media_id) AS cluster_id,
           |       coalesce(c.component, ids.media_id) = ids.media_id AS keep
           |FROM (SELECT DISTINCT media_id FROM fhx) ids
           |LEFT JOIN comp c USING (media_id)""".stripMargin)),


    // ----- offset-tolerant audio near-dup: trimmed copies of the
    // same recording. The whole-clip envelope hash cannot see these
    // (its 65 windows are length-relative), so the fingerprint is
    // per-FRAME at a fixed 130-sample stride and the aligned banded
    // join carries the frame offset. Fixture: 8 absolute-index
    // recordings — full 6-frame clips, trims at samples 260.. and
    // 130.. — so qualifying alignments exist at offsets +2/+1/−1.
    // The oracle brute-forces every (pair, offset) from the sample
    // formula. -----
    GraftQuery(
      "q_media_ahash_offset",
      (s, _) => {
        import s.implicits._
        val corpus = s.range(24).map { id =>
          val pid = (id % 8).toInt
          val (start, n) = if (id < 8) (0, 780) else if (id < 16) (260, 520) else (130, 520)
          Multimodal.MediaRow(id,
            Multimodal.syntheticWavAbs(pid, start, n), "audio/wav", n, 1)
        }
        AudioDedup.nearDuplicatesAligned(
          AudioDedup.frameHashes(corpus, frameSamples = 130),
          maxPerFrameHamming = 3, minOverlap = 3)
      },
      Some {
        val pid = "(sm.media_id % 8)"
        val v = s"(((31 + 2 * $pid) * sm.a + 17 * $pid) % 2001) + " +
          s"(CASE WHEN (((sm.a // 64) * 7 + 5 * $pid) % 16) < 5 THEN 12000 ELSE 0 END)"
        s"""WITH dims AS (
           |  SELECT id AS media_id,
           |    CASE WHEN id < 8 THEN 0 WHEN id < 16 THEN 260 ELSE 130 END AS sstart,
           |    CASE WHEN id < 8 THEN 780 ELSE 520 END AS n
           |  FROM (SELECT unnest(generate_series(0, 23)) AS id)),
           |sm AS (
           |  SELECT d.media_id, s.i, CAST(d.sstart + s.i AS BIGINT) AS a
           |  FROM dims d
           |  JOIN (SELECT unnest(generate_series(0, 779)) AS i) s ON s.i < d.n),
           |env AS (
           |  SELECT media_id, i // 130 AS f, ((i % 130) * 65) // 130 AS w,
           |         sum(abs($v)) AS e
           |  FROM sm GROUP BY media_id, i // 130, ((i % 130) * 65) // 130),
           |bits AS (
           |  SELECT a.media_id, a.f, a.w AS j,
           |         CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
           |  FROM env a JOIN env b
           |    ON a.media_id = b.media_id AND a.f = b.f AND b.w = a.w + 1
           |  WHERE a.w < 64),
           |fhx AS (
           |  SELECT media_id, f,
           |    CAST(sum(CASE WHEN j // 16 = 0 THEN bit * (1 << (j % 16)) ELSE 0 END) AS INT) AS b0,
           |    CAST(sum(CASE WHEN j // 16 = 1 THEN bit * (1 << (j % 16)) ELSE 0 END) AS INT) AS b1,
           |    CAST(sum(CASE WHEN j // 16 = 2 THEN bit * (1 << (j % 16)) ELSE 0 END) AS INT) AS b2,
           |    CAST(sum(CASE WHEN j // 16 = 3 THEN bit * (1 << (j % 16)) ELSE 0 END) AS INT) AS b3
           |  FROM bits GROUP BY media_id, f),
           |offs AS (SELECT unnest(generate_series(-5, 5)) AS off),
           |ph AS (
           |  SELECT a.media_id AS media_id_a, b.media_id AS media_id_b, o.off,
           |         bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |         bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |         bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |         bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS fh
           |  FROM fhx a CROSS JOIN offs o JOIN fhx b
           |    ON a.media_id < b.media_id AND a.f = b.f + o.off)
           |SELECT media_id_a, media_id_b, CAST(off AS BIGINT) AS "offset",
           |       CAST(count(*) AS BIGINT) AS n_overlap,
           |       CAST(max(fh) AS BIGINT) AS max_frame_hamming
           |FROM ph GROUP BY media_id_a, media_id_b, off
           |HAVING count(*) >= 3 AND max(fh) <= 3""".stripMargin
      }),

    // ----- offset-tolerant VIDEO dedup on the WIDE 256-bit per-frame
    // layout. The aligned mode's collision key deliberately drops
    // frame_no, widening buckets nFrames× — so the 16-bit band
    // saturation arrives nFrames× sooner, and the 8 × 32-bit layout
    // is the production remedy (2^32 keys per band, per-frame
    // exactness to Hamming ≤ 7). Fixture: 8 patterns at 34×33 (every
    // 17×16-grid cell owns pixels) — full 6-frame cuts plus trims at
    // frames 2..5 and 1..4, alignments at offsets +2/+1/−1. The
    // oracle brute-forces every (pair, offset) per-frame 256-bit
    // Hamming from the pixel formula. -----
    GraftQuery(
      "q_media_vhash_offset_wide",
      (s, _) => {
        import s.implicits._
        val corpus = s.range(24).map { id =>
          val pid = (id % 8).toInt
          val (start, n) = if (id < 8) (0, 6) else if (id < 16) (2, 4) else (1, 4)
          Multimodal.MediaRow(id,
            Multimodal.syntheticAviBlocks(pid, start, n, 34, 33), "video/avi", 34, 33)
        }
        VideoDedup.nearDuplicatesAlignedWide(VideoDedup.frameHashesWide(corpus),
          maxPerFrameHamming = 7, minOverlap = 3)
      },
      Some {
        val pid = "(g.media_id % 8)"
        val f = "(g.fstart + g.j)"
        val add = s"(CASE WHEN ((((sx * 4) // w + 4 * ((sy * 4) // h)) * 7 + $pid + $f) " +
          "% 16) < 5 THEN 128 ELSE 0 END)"
        val rE = s"((7 * sx + 13 * sy + 5 * $f + $pid) % 256) // 2 + $add"
        val gE = s"((3 * sx + 5 * sy + 7 * $f + 2 * $pid) % 256) // 2 + $add"
        val bE = s"((11 * sx + 17 * sy + 19 * $f + 3 * $pid) % 256) // 2 + $add"
        val bandSum = (0 until 8).map(k =>
          s"CAST(sum(CASE WHEN bj // 32 = $k THEN bit * (CAST(1 AS BIGINT) << (bj % 32)) " +
            s"ELSE 0 END) AS BIGINT) AS w$k").mkString(",\n           |    ")
        val xorSum = (0 until 8).map(k =>
          s"CAST(bit_count(xor(a.w$k, b.w$k)) AS BIGINT)").mkString(" +\n           |         ")
        s"""WITH dims AS (
           |  SELECT id AS media_id, 34 AS w, 33 AS h,
           |    CASE WHEN id < 8 THEN 0 WHEN id < 16 THEN 2 ELSE 1 END AS fstart,
           |    CASE WHEN id < 8 THEN 6 ELSE 4 END AS nf
           |  FROM (SELECT unnest(generate_series(0, 23)) AS id)),
           |g AS (
           |  SELECT d.media_id, d.w, d.h, d.fstart, fr.j,
           |         CAST(xs.sx AS BIGINT) AS sx, CAST(ys.sy AS BIGINT) AS sy
           |  FROM dims d
           |  JOIN (SELECT unnest(generate_series(0, 5)) AS j) fr ON fr.j < d.nf
           |  JOIN (SELECT unnest(generate_series(0, 33)) AS sx) xs ON xs.sx < d.w
           |  JOIN (SELECT unnest(generate_series(0, 32)) AS sy) ys ON ys.sy < d.h),
           |cells AS (
           |  SELECT media_id, j, (sx * 17) // w AS cx, (sy * 16) // h AS cy,
           |         sum((($rE) * 299 + ($gE) * 587 + ($bE) * 114) // 1000) AS s,
           |         count(*) AS n
           |  FROM g GROUP BY media_id, j, (sx * 17) // w, (sy * 16) // h),
           |bits AS (
           |  SELECT a.media_id, a.j, a.cy * 16 + a.cx AS bj,
           |         CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS bit
           |  FROM cells a JOIN cells b
           |    ON a.media_id = b.media_id AND a.j = b.j AND a.cy = b.cy
           |       AND b.cx = a.cx + 1
           |  WHERE a.cx < 16),
           |fhx AS (
           |  SELECT media_id, j,
           |    $bandSum
           |  FROM bits GROUP BY media_id, j),
           |offs AS (SELECT unnest(generate_series(-5, 5)) AS off),
           |ph AS (
           |  SELECT a.media_id AS media_id_a, b.media_id AS media_id_b, o.off,
           |         $xorSum AS fh
           |  FROM fhx a CROSS JOIN offs o JOIN fhx b
           |    ON a.media_id < b.media_id AND a.j = b.j + o.off)
           |SELECT media_id_a, media_id_b, CAST(off AS BIGINT) AS "offset",
           |       CAST(count(*) AS BIGINT) AS n_overlap,
           |       CAST(max(fh) AS BIGINT) AS max_frame_hamming
           |FROM ph GROUP BY media_id_a, media_id_b, off
           |HAVING count(*) >= 3 AND max(fh) <= 7""".stripMargin
      }),

    // ----- offset-tolerant AUDIO dedup on the WIDE layout: 257
    // length-relative windows per fixed 260-sample frame → 256 bits
    // as 8 × 32-bit bands. Fixture: 8 absolute-index recordings —
    // full 4-frame clips (1040 samples), trims at 260.. (3 frames)
    // and 520.. (2 frames) — alignments at offsets +1/+2/+1. The
    // oracle brute-forces every (pair, offset) 256-bit frame Hamming
    // from the sample formula. -----
    GraftQuery(
      "q_media_ahash_offset_wide",
      (s, _) => {
        import s.implicits._
        val corpus = s.range(24).map { id =>
          val pid = (id % 8).toInt
          val (start, n) = if (id < 8) (0, 1040) else if (id < 16) (260, 780) else (520, 520)
          Multimodal.MediaRow(id,
            Multimodal.syntheticWavAbs(pid, start, n), "audio/wav", n, 1)
        }
        AudioDedup.nearDuplicatesAlignedWide(
          AudioDedup.frameHashesWide(corpus, frameSamples = 260),
          maxPerFrameHamming = 7, minOverlap = 2)
      },
      Some {
        val pid = "(sm.media_id % 8)"
        val v = s"(((31 + 2 * $pid) * sm.a + 17 * $pid) % 2001) + " +
          s"(CASE WHEN (((sm.a // 64) * 7 + 5 * $pid) % 16) < 5 THEN 12000 ELSE 0 END)"
        val bandSum = (0 until 8).map(k =>
          s"CAST(sum(CASE WHEN j // 32 = $k THEN bit * (CAST(1 AS BIGINT) << (j % 32)) " +
            s"ELSE 0 END) AS BIGINT) AS w$k").mkString(",\n           |    ")
        val xorSum = (0 until 8).map(k =>
          s"CAST(bit_count(xor(a.w$k, b.w$k)) AS BIGINT)").mkString(" +\n           |         ")
        s"""WITH dims AS (
           |  SELECT id AS media_id,
           |    CASE WHEN id < 8 THEN 0 WHEN id < 16 THEN 260 ELSE 520 END AS sstart,
           |    CASE WHEN id < 8 THEN 1040 WHEN id < 16 THEN 780 ELSE 520 END AS n
           |  FROM (SELECT unnest(generate_series(0, 23)) AS id)),
           |sm AS (
           |  SELECT d.media_id, s.i, CAST(d.sstart + s.i AS BIGINT) AS a
           |  FROM dims d
           |  JOIN (SELECT unnest(generate_series(0, 1039)) AS i) s ON s.i < d.n),
           |env AS (
           |  SELECT media_id, i // 260 AS f, ((i % 260) * 257) // 260 AS w,
           |         sum(abs($v)) AS e
           |  FROM sm GROUP BY media_id, i // 260, ((i % 260) * 257) // 260),
           |bits AS (
           |  SELECT a.media_id, a.f, a.w AS j,
           |         CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
           |  FROM env a JOIN env b
           |    ON a.media_id = b.media_id AND a.f = b.f AND b.w = a.w + 1
           |  WHERE a.w < 256),
           |fhx AS (
           |  SELECT media_id, f,
           |    $bandSum
           |  FROM bits GROUP BY media_id, f),
           |offs AS (SELECT unnest(generate_series(-3, 3)) AS off),
           |ph AS (
           |  SELECT a.media_id AS media_id_a, b.media_id AS media_id_b, o.off,
           |         $xorSum AS fh
           |  FROM fhx a CROSS JOIN offs o JOIN fhx b
           |    ON a.media_id < b.media_id AND a.f = b.f + o.off)
           |SELECT media_id_a, media_id_b, CAST(off AS BIGINT) AS "offset",
           |       CAST(count(*) AS BIGINT) AS n_overlap,
           |       CAST(max(fh) AS BIGINT) AS max_frame_hamming
           |FROM ph GROUP BY media_id_a, media_id_b, off
           |HAVING count(*) >= 2 AND max(fh) <= 7""".stripMargin
      }),

    // ----- multimodal: audio envelope hash over REAL WAV decodes —
    // the audio analog of q_media_dhash. 96 synthetic clips carry 24
    // loud-segment patterns (seed = id % 24): ids 0..47 two
    // bit-identical copies each, ids 48..95 the same envelope at
    // id-derived lengths. Integer-exact over lossless PCM, so DuckDB
    // replays window mapping, energy sums and bit packing from the
    // sample formula with no audio library. -----
    GraftQuery(
      "q_media_ahash",
      (s, _) => {
        import s.implicits._
        AudioDedup.envelopeHash(ahashCorpus(s))
          .select(col("media_id"), col("b0").cast("long"), col("b1").cast("long"),
            col("b2").cast("long"), col("b3").cast("long"))
      },
      Some(
        s"""WITH $ahashDimsSql,
           |${AudioDedup.hashSql(ahashSampleSql)}
           |SELECT media_id, CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
           |       CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3
           |FROM hx""".stripMargin)),

    // ----- audio near-duplicate pairs; the oracle brute-forces all
    // pairs, checking the banded join's exactness guarantee too -----
    GraftQuery(
      "q_media_ahash_neardup",
      (s, _) => {
        import s.implicits._
        AudioDedup.nearDuplicates(AudioDedup.envelopeHash(ahashCorpus(s)), maxHamming = 3)
      },
      Some(
        s"""WITH $ahashDimsSql,
           |${AudioDedup.hashSql(ahashSampleSql)}
           |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           |       CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |            bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS BIGINT) AS hamming
           |FROM hx a JOIN hx b ON a.media_id < b.media_id
           |WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b1, b.b1) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b2, b.b2) AS BIGINT)) +
           |      bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3""".stripMargin)),

    // ----- C4's line-and-document cleaning (Raffel et al. §2.2).
    // The corpus has no newlines, so both engines derive the same
    // 7-line page per doc, exercising every rule: short lines, a
    // javascript line, a no-punctuation line, and id-keyed blocklist
    // hits (%7 → badword, %11 → curly brace) that drop whole docs.
    // The oracle replays line trimming, the three line rules, the
    // blocklist scan and the min-lines gate. -----
    GraftQuery(
      "q_doc_c4_clean",
      (s, d) => {
        val id = col("doc_id")
        val half = floor(length(col("text")) / 2).cast("int")
        val l6 = when(id % 7 === 0, lit("this document has a badword inside it."))
          .when(id % 11 === 0, lit("code sample with { braces } in it okay."))
          .otherwise(lit("plain filler line with no ending punct"))
        val derived = Tables.documents(s, d).select(id,
          concat_ws("\n",
            concat(col("text").substr(lit(1), half), lit(" and so it goes.")),
            lit("short one."),
            lit("you must enable javascript to view this page today."),
            concat(col("text").substr(half + 1, length(col("text"))),
              lit(" is that not so?")),
            lit("no terminal punctuation in this line at all"),
            l6,
            lit("one more good line with plenty of words here.")).as("text"))
        graft.llm.QualityRules.c4Clean(derived)
      },
      Some(
        """WITH d2 AS (
          |  SELECT doc_id,
          |    concat_ws(chr(10),
          |      substr(text, 1, CAST(floor(length(text)/2) AS INT)) || ' and so it goes.',
          |      'short one.',
          |      'you must enable javascript to view this page today.',
          |      substr(text, CAST(floor(length(text)/2) AS INT) + 1) || ' is that not so?',
          |      'no terminal punctuation in this line at all',
          |      CASE WHEN doc_id % 7 = 0 THEN 'this document has a badword inside it.'
          |           WHEN doc_id % 11 = 0 THEN 'code sample with { braces } in it okay.'
          |           ELSE 'plain filler line with no ending punct' END,
          |      'one more good line with plenty of words here.') AS text
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, lower(text) AS lw,
          |    list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines
          |  FROM d2),
          |k AS (
          |  SELECT doc_id, lw, len(lines) AS n_all,
          |    list_filter(lines, l ->
          |      regexp_matches(l, '[.!?"]$') AND
          |      len(string_split_regex(l, '\s+')) >= 5 AND
          |      NOT contains(lower(l), 'javascript')) AS kept
          |  FROM r)
          |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
          |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
          |  CAST(n_all - len(kept) AS BIGINT) AS n_lines_dropped
          |FROM k
          |WHERE len(kept) >= 3
          |  AND NOT contains(lw, '{') AND NOT contains(lw, 'lorem ipsum')
          |  AND NOT contains(lw, 'badword')""".stripMargin)),

    // ----- HTML → text extraction. Each document is wrapped in a
    // deterministic page template (head/title/style/script, block
    // structure, a comment, entities — named, numeric dec/hex,
    // out-of-range, unterminated — an anchor, and an anchor-SHAPED
    // string inside the script) in BOTH engines; the Spark side runs
    // the real rule extractor, and the oracle derives the EXPECTED
    // title/text/link-density from the template parameters directly —
    // an independent derivation, so any rule (head drop, block
    // newlines, tag strip, entity order, the 32..255 numeric window,
    // whitespace normalization, stripped-intermediate anchor
    // accounting) implemented wrong mismatches. The script's fake
    // anchor pins the link_density numerator to the stripped
    // intermediate: counting it would shift every density. -----
    GraftQuery(
      "q_doc_html_extract",
      (s, d) => {
        val id = col("doc_id")
        val half = floor(length(col("text")) / 2).cast("int")
        val html = concat(
          lit("<HTML><head><title>Doc &amp; Title "), (id % 9).cast("string"),
          lit("</title><style type=\"text/css\">body { color: red; }</style>"),
          lit("<script>var x = 1; if (x < 2) { x = 2; } " +
            "var s = \"<a href='/fake'>CLICK HERE NOW</a>\";</script></head>"),
          lit("<body><div class=\"main\"><h1>Heading "), (id % 7).cast("string"),
          lit("</h1><p>"), col("text").substr(lit(1), half),
          lit("</p><!-- hidden note --><P>"), col("text").substr(half + 1, length(col("text"))),
          lit(" &amp; tail</P><ul><li>item "), (id % 3).cast("string"),
          lit("</li><li><a href=\"/x"), (id % 5).cast("string"),
          lit("\">go to page "), (id % 5).cast("string"),
          lit("</a></li></ul><p>Price &#163;"), (id % 4).cast("string"),
          lit(" caf&#233; &#x41; &#1000000; raw&#60x x&#38;amp;y</p>" +
            "<br/>footer text</div></body></html>"))
        graft.llm.HtmlExtract.extract(
          Tables.documents(s, d).select(id, html.as("html")), "html")
          .select(col("doc_id"), col("title"), col("text"), col("link_density"))
      },
      Some(
        """WITH d2 AS (
          |  SELECT doc_id,
          |    trim(substr(text, 1, CAST(floor(length(text)/2) AS INT))) AS h1,
          |    trim(substr(text, CAST(floor(length(text)/2) AS INT) + 1)) AS h2
          |  FROM documents),
          |e AS (
          |  SELECT doc_id,
          |    'Doc & Title ' || (doc_id % 9) AS title,
          |    'Heading ' || (doc_id % 7) || chr(10) || h1 || chr(10) ||
          |      h2 || ' & tail' || chr(10) || 'item ' || (doc_id % 3) || chr(10) ||
          |      'go to page ' || (doc_id % 5) || chr(10) ||
          |      'Price ' || chr(163) || (doc_id % 4) || ' caf' || chr(233) ||
          |      ' A &#1000000; raw&#60x x&amp;y' || chr(10) || 'footer text' AS text
          |  FROM d2)
          |SELECT doc_id, title, text,
          |  CAST(round(CAST(CAST(length('go to page ' || (doc_id % 5)) AS DOUBLE)
          |    / greatest(length(text), 1) AS DECIMAL(20,9)), 6) AS DOUBLE)
          |    AS link_density
          |FROM e""".stripMargin)),

    // ----- URL canonicalization (C4/CCNet crawl hygiene). The Spark
    // side runs the real regex/array canonicalizer over the salted
    // URLs; the oracle derives the expected canonical form from the
    // generation parameters DIRECTLY — an independent derivation, so
    // a rule implemented wrong on either side mismatches. -----
    GraftQuery(
      "q_doc_url_canon",
      (s, d) => {
        val withUrl = Tables.documents(s, d)
          .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        graft.llm.Urls.canonicalize(withUrl, "url")
          .select(col("doc_id"), col("host"), col("canonical_url"))
      },
      Some(
        s"""SELECT doc_id, $urlHostSql AS host, $urlCanonSql AS canonical_url
           |FROM documents""".stripMargin)),

    // ----- canonical-URL dedup: first-crawl-wins survivor per URL -----
    GraftQuery(
      "q_doc_url_dedup",
      (s, d) => {
        val withUrl = Tables.documents(s, d)
          .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        graft.llm.Urls.dedupByUrl(withUrl, "doc_id", "url")
          .select(col("doc_id"), col("canonical_url"))
      },
      Some(
        s"""WITH u AS (SELECT doc_id, $urlCanonSql AS canonical_url FROM documents)
           |SELECT min(doc_id) AS doc_id, canonical_url
           |FROM u GROUP BY canonical_url""".stripMargin)),

    // ----- per-host document cap (domain diversity). Skew-aware on
    // the Spark side (only over-cap hosts enter the rank window);
    // the oracle ranks everything brute-force — same answer. -----
    GraftQuery(
      "q_doc_host_cap",
      (s, d) => {
        val withUrl = Tables.documents(s, d)
          .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        graft.llm.Urls.hostCap(withUrl, "doc_id", "url", maxPerHost = 60)
          .select(col("doc_id"), col("host"), col("canonical_url"))
      },
      Some(
        s"""WITH u AS (SELECT doc_id, $urlHostSql AS host,
           |                  $urlCanonSql AS canonical_url FROM documents),
           |r AS (SELECT doc_id, host, canonical_url,
           |      row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
           |      FROM u)
           |SELECT doc_id, host, canonical_url FROM r
           |WHERE host IS NULL OR rn <= 60""".stripMargin)),

    // ----- INCREMENTAL URL dedup: a new crawl batch (doc_id >= 400 —
    // crawl ids are arrival-ordered, the monotone contract the
    // identity rests on) against the at-rest seen-URL set. Survivors =
    // unseen URLs' first crawl within the batch; the old crawl is
    // never re-read. Oracle = the full first-crawl-wins dedup
    // restricted to new survivors (a group won by a new id IS a group
    // with no old member, by monotonicity). -----
    GraftQuery(
      "q_doc_url_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def withUrl(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        graft.llm.Urls.dedupByUrlIncremental(
          withUrl(docs.filter(col("doc_id") >= 400)), "doc_id", "url",
          graft.llm.Urls.seenUrls(withUrl(docs.filter(col("doc_id") < 400)), "url"))
          .select(col("doc_id"), col("canonical_url"))
      },
      Some(
        s"""WITH u AS (SELECT doc_id, $urlCanonSql AS canonical_url FROM documents)
           |SELECT min(doc_id) AS doc_id, canonical_url
           |FROM u GROUP BY canonical_url
           |HAVING min(doc_id) >= 400""".stripMargin)),

    // ----- INCREMENTAL per-host cap: which docs of the new crawl
    // batch survive maxPerHost given the at-rest per-host SEEN counts
    // (counts of everything crawled, not kept — the cap ranks by id
    // over all arrivals). Hosts with headroom for their whole batch
    // contribution bypass the keep-list; only boundary hosts rank,
    // k-bounded. Oracle = the full-corpus cap restricted to new ids. -----
    GraftQuery(
      "q_doc_host_cap_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def withUrl(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        graft.llm.Urls.hostCapIncremental(
          withUrl(docs.filter(col("doc_id") >= 400)), "doc_id", "url",
          maxPerHost = 60,
          graft.llm.Urls.hostSeenCounts(withUrl(docs.filter(col("doc_id") < 400)), "url"))
          .select(col("doc_id"), col("host"), col("canonical_url"))
      },
      Some(
        s"""WITH u AS (SELECT doc_id, $urlHostSql AS host,
           |                  $urlCanonSql AS canonical_url FROM documents),
           |r AS (SELECT doc_id, host, canonical_url,
           |      row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
           |      FROM u)
           |SELECT doc_id, host, canonical_url FROM r
           |WHERE (host IS NULL OR rn <= 60) AND doc_id >= 400""".stripMargin)),

    // ----- per-host diversity telemetry -----
    GraftQuery(
      "q_doc_host_stats",
      (s, d) => {
        val withUrl = Tables.documents(s, d)
          .select(col("doc_id"), syntheticUrl(col("doc_id")).as("url"))
        graft.llm.Urls.hostStats(withUrl, "doc_id", "url", maxPerHost = 60)
      },
      Some(
        s"""WITH u AS (SELECT doc_id, $urlHostSql AS host FROM documents
           |           WHERE doc_id % 11 <> 0),
           |c AS (SELECT host, count(*) AS n_docs FROM u GROUP BY host),
           |t AS (SELECT sum(n_docs) AS total FROM c)
           |SELECT host, CAST(n_docs AS BIGINT) AS n_docs,
           |       CAST(least(n_docs, 60) AS BIGINT) AS n_kept,
           |       CAST(round(CAST(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)
           |                       AS DECIMAL(20,9)), 6) AS DOUBLE) + 0.0 AS corpus_share
           |FROM c CROSS JOIN t""".stripMargin)),

    // ----- ExactSubstr-style repeated-span regions: any 13-token
    // span shared verbatim across ≥2 docs, adjacent flags merged into
    // maximal regions (see [[graft.llm.SpanDedup]]). Pure integer
    // algebra; the oracle replays hash, flag, and island merge. -----
    GraftQuery(
      "q_doc_dup_regions",
      (s, d) => SpanDedup.dupRegions(Tables.documents(s, d), "doc_id", "text", n = 13),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |sp AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 12)) AS i, toks
           |       FROM t WHERE len(toks) >= 13),
           |hx AS (SELECT doc_id, i - 1 AS pos,
           |       ${polySql("array_to_string(toks[i:i+12], ' ')")} AS h FROM sp),
           |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
           |                       FROM hx GROUP BY h) WHERE nd >= 2),
           |f AS (SELECT doc_id, pos FROM hx WHERE h IN (SELECT h FROM dup)),
           |r AS (SELECT doc_id, pos,
           |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |      FROM f)
           |SELECT doc_id, min(pos) AS start_pos, max(pos) + 12 AS end_pos,
           |       count(*) AS n_spans
           |FROM r GROUP BY doc_id, isl""".stripMargin)),

    // ----- per-doc duplication pressure: exact region-union token
    // coverage (how much of each doc is copied text). -----
    GraftQuery(
      "q_doc_span_stats",
      (s, d) => SpanDedup.stats(Tables.documents(s, d), "doc_id", "text", n = 13),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |sp AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 12)) AS i, toks
           |       FROM t WHERE len(toks) >= 13),
           |hx AS (SELECT doc_id, i - 1 AS pos,
           |       ${polySql("array_to_string(toks[i:i+12], ' ')")} AS h FROM sp),
           |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
           |                       FROM hx GROUP BY h) WHERE nd >= 2),
           |f AS (SELECT doc_id, pos FROM hx WHERE h IN (SELECT h FROM dup)),
           |r AS (SELECT doc_id, pos,
           |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |      FROM f),
           |reg AS (SELECT doc_id, min(pos) AS start_pos, max(pos) + 12 AS end_pos
           |        FROM r GROUP BY doc_id, isl),
           |agg AS (SELECT doc_id,
           |        CAST(sum(end_pos - start_pos + 1) AS BIGINT) AS dup_tokens,
           |        count(*) AS n_regions
           |        FROM reg GROUP BY doc_id)
           |SELECT t2.doc_id, len(t2.toks) AS n_tokens,
           |       COALESCE(a.dup_tokens, 0) AS dup_tokens,
           |       COALESCE(a.n_regions, 0) AS n_regions
           |FROM t t2 LEFT JOIN agg a ON a.doc_id = t2.doc_id""".stripMargin)),

    // ----- ExactSubstr CUT step: rebuild text with duplicated
    // regions removed (the output artifact of span dedup). The oracle
    // replays the full region chain, the position anti-join, and the
    // ordered reassembly. -----
    GraftQuery(
      "q_doc_dedup_text",
      (s, d) => SpanDedup.dedupText(Tables.documents(s, d), "doc_id", "text", n = 13),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |sp AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 12)) AS i, toks
           |       FROM t WHERE len(toks) >= 13),
           |hx AS (SELECT doc_id, i - 1 AS pos,
           |       ${polySql("array_to_string(toks[i:i+12], ' ')")} AS h FROM sp),
           |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
           |                       FROM hx GROUP BY h) WHERE nd >= 2),
           |f AS (SELECT doc_id, pos FROM hx WHERE h IN (SELECT h FROM dup)),
           |r AS (SELECT doc_id, pos,
           |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |      FROM f),
           |reg AS (SELECT doc_id, min(pos) AS start_pos, max(pos) + 12 AS end_pos
           |        FROM r GROUP BY doc_id, isl),
           |cutpos AS (SELECT doc_id,
           |           unnest(generate_series(start_pos, end_pos)) AS pos FROM reg),
           |ptoks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
           |          FROM (SELECT doc_id, toks,
           |                  unnest(generate_series(1, len(toks))) AS i FROM t)),
           |kept AS (SELECT p.doc_id, p.pos, p.tok
           |         FROM ptoks p LEFT JOIN cutpos c
           |           ON c.doc_id = p.doc_id AND c.pos = p.pos
           |         WHERE c.pos IS NULL)
           |SELECT d.doc_id, count(k.pos) AS n_kept,
           |       coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
           |FROM (SELECT doc_id FROM documents) d
           |LEFT JOIN kept k ON k.doc_id = d.doc_id
           |GROUP BY d.doc_id""".stripMargin)),

    // ----- exact-k weighted sampling (Efraimidis-Spirakis A-ES) -----
    // The md5 uniform and the DECIMAL-cast ln(u)/w key replay exactly;
    // ranking ties break on doc_id in both engines.
    GraftQuery(
      "q_doc_priority_sample",
      (s, d) => Mixer.prioritySample(Tables.documents(s, d), "doc_id",
        "n_chars", k = 100),
      Some(
        s"""WITH pk AS (SELECT doc_id, n_chars,
           |  CAST(ln((CAST(('0x' || substring(md5('graft-mix|' || doc_id), 1, 8))
           |             AS BIGINT) + CAST(0.5 AS DOUBLE))
           |          / CAST(4294967296 AS DOUBLE)) / n_chars
           |       AS DECIMAL(20,9)) AS pr
           |  FROM documents)
           |SELECT doc_id, n_chars, CAST(pr AS DOUBLE) AS priority FROM (
           |  SELECT doc_id, n_chars, pr,
           |         row_number() OVER (ORDER BY pr DESC, doc_id) AS rk FROM pk)
           |WHERE rk <= 100""".stripMargin)),

    // ----- distributed suffix ranking by prefix doubling (see
    // [[graft.llm.SuffixArray]]): the oracle computes the same ranks by
    // a DIFFERENT algorithm — direct dense_rank over the materialized
    // token slice — so this is an algorithmic cross-validation. -----
    GraftQuery(
      "q_doc_suffix_rank",
      (s, d) => SuffixArray.boundedSuffixRanks(
        Tables.documents(s, d), "doc_id", "text", window = 8),
      Some(s"""WITH ${SuffixArray.sranksSql(8)}
              |SELECT doc_id, pos, srank FROM sranks""".stripMargin)),

    // ----- cross-doc verbatim repeats through the suffix order -----
    GraftQuery(
      "q_doc_suffix_repeat",
      (s, d) => SuffixArray.crossDocRepeats(
        Tables.documents(s, d), "doc_id", "text", window = 8, minDocs = 2),
      Some(s"""WITH ${SuffixArray.sranksSql(8)},
              |sashared AS (SELECT srank, count(DISTINCT doc_id) AS n_docs
              |  FROM sranks GROUP BY srank HAVING count(DISTINCT doc_id) >= 2)
              |SELECT r.doc_id, r.pos, r.srank, s.n_docs
              |FROM sranks r JOIN sashared s USING (srank)""".stripMargin)),

    // ----- CCNet-style LM scoring: corpus-trained bigram LM, per-doc
    // average negative log-likelihood (see [[graft.llm.NgramLm]]). The
    // oracle retrains the same add-one bigram model in SQL; per-pair
    // log-probs are rounded+DECIMAL so both sums are order-exact. -----
    GraftQuery(
      "q_doc_lm_ppl",
      (s, d) => NgramLm.scored(Tables.documents(s, d), "doc_id", "text"),
      Some(s"WITH $lmPplCtes\nSELECT doc_id, n_pairs, avg_nll FROM ppl")),

    // ----- CCNet's tercile bucketing over the LM score: head/middle/
    // tail by exact interpolated percentiles (both engines use the
    // standard lower+(upper-lower)·frac definition over the SAME
    // 6-decimal-rounded avg_nll inputs, so the cut points agree
    // bit-for-bit), assignment as a plain CASE. -----
    GraftQuery(
      "q_doc_ppl_buckets",
      (s, d) => NgramLm.ccnetBuckets(Tables.documents(s, d), "doc_id", "text"),
      Some(
        s"""WITH $lmPplCtes,
           |th AS (SELECT quantile_cont(avg_nll,
           |         [CAST(1.0 AS DOUBLE)/3.0, CAST(2.0 AS DOUBLE)/3.0]) AS q
           |       FROM ppl)
           |SELECT doc_id, n_pairs, avg_nll,
           |  CASE WHEN avg_nll <= th.q[1] THEN 'head'
           |       WHEN avg_nll <= th.q[2] THEN 'middle'
           |       ELSE 'tail' END AS ppl_bucket
           |FROM ppl CROSS JOIN th""".stripMargin)),

    // ----- BM25 keyword retrieval: top-25 docs for a fixed probe
    // query (see [[graft.llm.Bm25]]); every constant is a parsed
    // literal on both sides so the doubles are bit-identical. -----
    GraftQuery(
      "q_doc_bm25",
      (s, d) => Bm25.topk(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "window", "stream"), 25),
      Some(bm25Sql)),

    // ----- BM25 served from the AT-REST inverted index (build-once /
    // serve-every-query): identical output to q_doc_bm25 — the oracle
    // is the same from-scratch SQL, so the index build + posting-list
    // serve must reproduce the corpus-scan scores bit-for-bit. -----
    GraftQuery(
      "q_doc_bm25_indexed",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Bm25.topkFromIndex(
          Bm25.buildIndex(docs, "doc_id", "text"),
          Bm25.indexStats(docs, "doc_id", "text"),
          Seq("spark", "join", "window", "stream"), 25)
      },
      Some(bm25Sql)),

    // ----- BM25 index LIFECYCLE under document rewrites (the
    // line-dedup journey's output shape): the full-corpus index is
    // maintained through indexRebuildDocs for every doc_id % 11 == 0
    // (with % 22 == 0 rewritten to EMPTY — those must fall out of
    // postings AND stats), then served. The oracle recomputes BM25
    // from scratch over the REWRITTEN corpus, so the retire-and-re-add
    // maintenance must equal a ground-up rebuild bit-for-bit. -----
    GraftQuery(
      "q_doc_bm25_rebuilt",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val rewrites = docs.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 22 === 0, lit(""))
              .otherwise(concat(lit("rewritten body "), col("text"))).as("text"))
        val (p2, s2) = Bm25.indexRebuildDocs(
          Bm25.buildIndex(docs, "doc_id", "text"),
          Bm25.indexStats(docs, "doc_id", "text"),
          rewrites, "doc_id", "text")
        Bm25.topkFromIndex(p2, s2, Seq("spark", "join", "window", "stream"), 25)
      },
      Some(s"""WITH rdocs AS (SELECT doc_id,
              |  CASE WHEN doc_id % 11 = 0 THEN
              |    CASE WHEN doc_id % 22 = 0 THEN ''
              |         ELSE 'rewritten body ' || text END
              |  ELSE text END AS text
              |FROM documents),
              |${bm25Sql.stripPrefix("WITH ").replace("FROM documents", "FROM rdocs")}""".stripMargin)),

    // ----- DSIR importance weights: hashed-unigram log-likelihood
    // ratio vs a deterministic target slice (see [[graft.llm.Dsir]]).
    // The oracle rebuilds both bucket models with the shared polyHash
    // and replays the broadcast-ratio join. -----
    GraftQuery(
      "q_doc_dsir",
      (s, d) => Dsir.weights(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val nb = Dsir.NumBuckets
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |tk AS (SELECT doc_id, ${polySql("w")} % $nb AS bkt
           |       FROM (SELECT doc_id, unnest(toks) AS w FROM t)),
           |tgt AS (SELECT * FROM tk WHERE doc_id % 17 = 3),
           |tc AS (SELECT bkt, count(*) AS ct FROM tgt GROUP BY bkt),
           |rc AS (SELECT bkt, count(*) AS cr FROM tk GROUP BY bkt),
           |tt AS (SELECT count(*) AS nt FROM tgt),
           |rt AS (SELECT count(*) AS nr FROM tk),
           |bk AS (SELECT unnest(generate_series(0, ${nb - 1})) AS bkt),
           |ratio AS (SELECT b.bkt,
           |  CAST(round(ln(
           |    ((COALESCE(tc.ct, 0) + CAST(1.0 AS DOUBLE)) /
           |     (tt.nt + CAST($nb.0 AS DOUBLE))) /
           |    ((COALESCE(rc.cr, 0) + CAST(1.0 AS DOUBLE)) /
           |     (rt.nr + CAST($nb.0 AS DOUBLE)))), 6) AS DECIMAL(20,9)) AS lr
           |  FROM bk b LEFT JOIN tc ON tc.bkt = b.bkt
           |  LEFT JOIN rc ON rc.bkt = b.bkt
           |  CROSS JOIN tt CROSS JOIN rt)
           |SELECT tk.doc_id, count(*) AS n_tokens,
           |  round(CAST(sum(r.lr) AS DOUBLE), 6) AS log_weight
           |FROM tk JOIN ratio r ON r.bkt = tk.bkt GROUP BY tk.doc_id""".stripMargin
      }),

    // ----- IVF-ADC: inverted file over product-quantized RESIDUALS -----
    // The FAISS IndexIVFPQ composition: coarse cells bound the search,
    // PQ codes of the residual v − c(v) bound the memory. The oracle
    // replays the whole thing — coarse assignment, residuals, the
    // residual codebook, all M subspace argmins, the probe ranking, and
    // the DECIMAL-exact ADC sums — so any divergence anywhere flips the
    // hash.
    GraftQuery(
      "q_emb_ivfpq_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        IvfPq.topKAdc(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", kNeighbors = 3, dim = 64,
          nlist = 4, nprobe = 2, m = 4, k = 8)
      },
      Some {
        def l2(a: String, b: String) = KMeansLite.l2sqFoldSql(a, b)
        def sl(v: String) = s"list_slice($v, s.sub * 16 + 1, s.sub * 16 + 16)"
        val resV = IvfPq.residualSql("e.embedding", "c.cent")
        val resQ = IvfPq.residualSql("q.embedding", "c.cent")
        s"""WITH cb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding AS cent
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 4),
           |res AS (
           |  SELECT vec_id, cell, r FROM (
           |    SELECT e.vec_id, c.cell, $resV AS r,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${l2("e.embedding", "c.cent")} ASC,
           |                                       c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cb c) WHERE rn = 1),
           |rcb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS code,
           |         r AS rv
           |  FROM res ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
           |encd AS (
           |  SELECT vec_id AS neighbor_id, cell, sub, code FROM (
           |    SELECT v.vec_id, v.cell, s.sub, rc.code,
           |           row_number() OVER (PARTITION BY v.vec_id, s.sub
           |                              ORDER BY ${l2(sl("v.r"), sl("rc.rv"))} ASC,
           |                                       rc.code ASC) AS rn
           |    FROM res v CROSS JOIN subs s CROSS JOIN rcb rc) WHERE rn = 1),
           |probes AS (
           |  SELECT query_id, cell, qr FROM (
           |    SELECT q.vec_id AS query_id, c.cell, $resQ AS qr,
           |           row_number() OVER (PARTITION BY q.vec_id
           |                              ORDER BY ${l2("q.embedding", "c.cent")} ASC,
           |                                       c.cell ASC) AS pr
           |    FROM embeddings q CROSS JOIN cb c WHERE q.vec_id < 16) WHERE pr <= 2),
           |lut AS (
           |  SELECT p.query_id, p.cell, s.sub, rc.code,
           |         CAST(${l2(sl("p.qr"), sl("rc.rv"))} AS DECIMAL(20,9)) AS d
           |  FROM probes p CROSS JOIN subs s CROSS JOIN rcb rc),
           |sc AS (
           |  SELECT l.query_id, e.neighbor_id, CAST(sum(l.d) AS DOUBLE) AS adist
           |  FROM encd e JOIN lut l USING (cell, sub, code)
           |  WHERE l.query_id <> e.neighbor_id
           |  GROUP BY 1, 2)
           |SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
           |  SELECT query_id, neighbor_id, adist,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY adist ASC, neighbor_id ASC) AS rank
           |  FROM sc) r WHERE rank <= 3""".stripMargin
      }),

    // ----- PQ-ADC + refine: shortlist by codes, re-rank exactly -----
    // The FAISS IndexRefineFlat remedy for ADC quantization error:
    // the quantized scan proposes a 3k shortlist, exact L2 on ONLY
    // those candidates picks the final top-k. The oracle replays the
    // whole journey — codebook, encoding, LUT sums, shortlist ranking,
    // and the exact re-scoring — so a divergence anywhere flips the
    // hash. Output carries TRUE distances (dist), not adist.
    GraftQuery(
      "q_emb_ann_refine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Pq.topKAdcRefined(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", kNeighbors = 3, dim = 64, m = 4, k = 8,
          refineFactor = 3)
      },
      Some {
        def sl(v: String) = s"list_slice($v, s.sub * 16 + 1, s.sub * 16 + 16)"
        val dEnc = Pq.l2sqSql(sl("v.embedding"), sl("cb.embedding"))
        val dLut = Pq.l2sqSql(sl("q.embedding"), sl("cb.embedding"))
        val l2QC = Pq.l2sqSql("q.qv", "c.cv")
        s"""WITH cb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS code,
           |         embedding
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
           |encd AS (
           |  SELECT vec_id AS neighbor_id, sub, code FROM (
           |    SELECT v.vec_id, s.sub, cb.code,
           |           row_number() OVER (PARTITION BY v.vec_id, s.sub
           |                              ORDER BY $dEnc ASC, cb.code ASC) AS rn
           |    FROM embeddings v CROSS JOIN subs s CROSS JOIN cb) WHERE rn = 1),
           |lut AS (
           |  SELECT q.vec_id AS query_id, s.sub, cb.code,
           |         CAST($dLut AS DECIMAL(20,9)) AS d
           |  FROM embeddings q CROSS JOIN subs s CROSS JOIN cb WHERE q.vec_id < 16),
           |shortl AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY adist ASC, neighbor_id ASC) AS rank
           |  FROM (SELECT l.query_id, e.neighbor_id,
           |               CAST(sum(l.d) AS DOUBLE) AS adist
           |        FROM encd e JOIN lut l USING (sub, code)
           |        WHERE l.query_id <> e.neighbor_id
           |        GROUP BY 1, 2) sc) r WHERE rank <= 9),
           |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
           |SELECT query_id, neighbor_id, rank, round(dist, 6) AS dist FROM (
           |  SELECT sh.query_id, sh.neighbor_id, $l2QC AS dist,
           |         row_number() OVER (PARTITION BY sh.query_id
           |                            ORDER BY $l2QC ASC, sh.neighbor_id ASC) AS rank
           |  FROM shortl sh JOIN q ON q.query_id = sh.query_id
           |                 JOIN c ON c.neighbor_id = sh.neighbor_id) r
           |WHERE rank <= 3""".stripMargin
      }),

    // ----- IVF-PQ + refine: the full FAISS serving stack -----
    // IndexRefineFlat over IndexIVFPQ: nprobe cells bound WHICH codes
    // are scanned, residual-PQ bounds the scan's bytes, and the exact
    // re-rank of the 3k shortlist undoes quantization mis-ordering.
    GraftQuery(
      "q_emb_ivfpq_refine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        IvfPq.topKAdcRefined(emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", kNeighbors = 3, dim = 64,
          nlist = 4, nprobe = 2, m = 4, k = 8, refineFactor = 3)
      },
      Some {
        def l2(a: String, b: String) = KMeansLite.l2sqFoldSql(a, b)
        def sl(v: String) = s"list_slice($v, s.sub * 16 + 1, s.sub * 16 + 16)"
        val resV = IvfPq.residualSql("e.embedding", "c.cent")
        val resQ = IvfPq.residualSql("q.embedding", "c.cent")
        val l2QC = Pq.l2sqSql("qf.qv", "cf.cv")
        s"""WITH cb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS cell,
           |         embedding AS cent
           |  FROM embeddings ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 4),
           |res AS (
           |  SELECT vec_id, cell, r FROM (
           |    SELECT e.vec_id, c.cell, $resV AS r,
           |           row_number() OVER (PARTITION BY e.vec_id
           |                              ORDER BY ${l2("e.embedding", "c.cent")} ASC,
           |                                       c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cb c) WHERE rn = 1),
           |rcb AS (
           |  SELECT row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR))) - 1 AS code,
           |         r AS rv
           |  FROM res ORDER BY md5(cast(vec_id AS VARCHAR)) LIMIT 8),
           |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
           |encd AS (
           |  SELECT vec_id AS neighbor_id, cell, sub, code FROM (
           |    SELECT v.vec_id, v.cell, s.sub, rc.code,
           |           row_number() OVER (PARTITION BY v.vec_id, s.sub
           |                              ORDER BY ${l2(sl("v.r"), sl("rc.rv"))} ASC,
           |                                       rc.code ASC) AS rn
           |    FROM res v CROSS JOIN subs s CROSS JOIN rcb rc) WHERE rn = 1),
           |probes AS (
           |  SELECT query_id, cell, qr FROM (
           |    SELECT q.vec_id AS query_id, c.cell, $resQ AS qr,
           |           row_number() OVER (PARTITION BY q.vec_id
           |                              ORDER BY ${l2("q.embedding", "c.cent")} ASC,
           |                                       c.cell ASC) AS pr
           |    FROM embeddings q CROSS JOIN cb c WHERE q.vec_id < 16) WHERE pr <= 2),
           |lut AS (
           |  SELECT p.query_id, p.cell, s.sub, rc.code,
           |         CAST(${l2(sl("p.qr"), sl("rc.rv"))} AS DECIMAL(20,9)) AS d
           |  FROM probes p CROSS JOIN subs s CROSS JOIN rcb rc),
           |shortl AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY adist ASC, neighbor_id ASC) AS rank
           |  FROM (SELECT l.query_id, e.neighbor_id,
           |               CAST(sum(l.d) AS DOUBLE) AS adist
           |        FROM encd e JOIN lut l USING (cell, sub, code)
           |        WHERE l.query_id <> e.neighbor_id
           |        GROUP BY 1, 2) sc) r WHERE rank <= 9),
           |qf AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
           |cf AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
           |SELECT query_id, neighbor_id, rank, round(dist, 6) AS dist FROM (
           |  SELECT sh.query_id, sh.neighbor_id, $l2QC AS dist,
           |         row_number() OVER (PARTITION BY sh.query_id
           |                            ORDER BY $l2QC ASC, sh.neighbor_id ASC) AS rank
           |  FROM shortl sh JOIN qf ON qf.query_id = sh.query_id
           |                 JOIN cf ON cf.neighbor_id = sh.neighbor_id) r
           |WHERE rank <= 3""".stripMargin
      })
  )
}
