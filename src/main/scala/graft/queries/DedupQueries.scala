package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.withRocksDb
import graft.io.Tables
import graft.ops._
import graft.streaming.Replay
import graft.queries.Fragments.{
  centAssignCte, cosQ, embeddingsIdVec, fpExpr, lshBucketCte, lshSignValues, minhashSigBody,
  shinglesExpr, sqlList, tokensExpr}

/** `d_*`: exact, near-duplicate and semantic dedup plus benchmark
  * decontamination over documents and embeddings, and their stream replays.
  */
object DedupQueries {

  /** The banded MinHash signature frame (key = "band|band-hash", ts =
    * epoch + doc_id s, id, sig) the streaming LSH index consumes — the
    * same portable md5 family and banding as d_dedup_minhash, so the
    * oracle replays signatures → bands → prefix pairs → agreement verify
    * exactly. Shared by the fresh-index and rebased-index declarations.
    */
  private def bandedDocEvents(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minhashSignatures(
      Tables(s, dir).documents, col("doc_id"), col("text"),
      shingleLen = 3, k = 64)
    def bandKey(j: Int): Column =
      concat_ws("|", lit(j), Dedup.bandHash(i => col(s"m$i"), j, rowsPerBand = 4))
    sigs.select(
      col("doc_id"),
      explode(array((0 until 16).map(bandKey): _*)).as("key"),
      array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
      .select(
        col("key"),
        timestamp_seconds(col("doc_id")).as("ts"),
        col("doc_id").cast("string").as("id"),
        col("sig"))
  }

  /** d_decon_embed_ivf oracle: centroid assignment against the k=64
    * deconIvfCentroids literals (the quantizer co-fits over train ∪ eval
    * = the full embeddings table, so one artifact serves both sides) —
    * train keeps its r=1 list, eval multi-probes r ≤ 24, co-assigned
    * pairs verify by exact quantized cosine at τ=0.40. */
  private lazy val deconEmbedIvfSql: String = {
    val vals = FittedArtifacts.deconIvfCentroids.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlList(c)})" }.mkString(", ")
    s"""WITH cent(list_id, c) AS (VALUES $vals),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
rk AS (
  SELECT vec_id, e, list_id,
    row_number() OVER (PARTITION BY vec_id
      ORDER BY ${cosQ("e", "c")} DESC, list_id) AS r
  FROM v, cent),
tr AS (SELECT vec_id AS train_id, list_id FROM rk WHERE r = 1 AND vec_id % 2 = 0),
ev2 AS (SELECT vec_id AS eval_id, list_id FROM rk WHERE r <= 24 AND vec_id % 2 = 1),
pairs AS (SELECT DISTINCT train_id, eval_id FROM tr JOIN ev2 USING (list_id)),
scored AS (SELECT train_id, eval_id, ${cosQ("va.e", "vb.e")} AS sim
  FROM pairs JOIN v va ON va.vec_id = train_id JOIN v vb ON vb.vec_id = eval_id)
SELECT train_id, eval_id, sim FROM scored WHERE sim >= 4000"""
  }

  private lazy val dedupSemanticSql: String =
    s"""WITH $centAssignCte,
asg AS (SELECT vec_id AS id, list_id FROM rk WHERE r <= 4),
pairs AS (SELECT DISTINCT l.id AS a, r2.id AS b
  FROM asg l JOIN asg r2 ON l.list_id = r2.list_id AND l.id < r2.id),
scored AS (SELECT a, b, ${cosQ("va.e", "vb.e")} AS sim
  FROM pairs JOIN v va ON va.vec_id = a JOIN v vb ON vb.vec_id = b)
SELECT a, b, sim FROM scored WHERE sim >= 4000"""

  /** Shared edit-distance-pair oracle for d_dedup_editdist (the
    * rep-collapsed anchor) and d_dedup_editdist_raw (the non-composed
    * cross-check) — the definition itself: all pairs under the length
    * window with exact levenshtein ≤ t; equality proves the blocking
    * AND the collapse lossless. */
  private lazy val editDistSql =
    """SELECT a.doc_id AS a, b.doc_id AS b,
      |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      |  ON a.doc_id < b.doc_id
      |  AND abs(len(a.text) - len(b.text)) <= 8
      |  AND len(a.text) >= 36 AND len(b.text) >= 36
      |WHERE levenshtein(a.text, b.text) <= 8""".stripMargin

  /** Shared component-size-distribution oracle for d_cluster_sizes and
    * its composed (representative-collapsed) scale twin — both must
    * reproduce the raw near-dup graph's sizes. */
  private lazy val clusterSizesSql =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), g AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM d
       |), p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.6
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
       |), lab(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
       |), cl AS (
       |  SELECT id, min(l) AS cluster_id FROM lab GROUP BY id
       |), sz AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1
       |)
       |SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin

  /** d_decon_embed_lsh oracle: the same embedded-literal sign matrix as
    * [[dedupEmbedLshSql]], with the self-join replaced by the
    * train-(even) ⋈ eval-(odd) cross-frame bucket join. */
  private lazy val deconEmbedLshSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT DISTINCT l.vec_id AS train_id, r.vec_id AS eval_id
      |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |  WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 1
      |)
      |SELECT c.train_id, c.eval_id,
      |  CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS sim
      |FROM cand c JOIN v va ON va.vec_id = c.train_id
      |  JOIN v vb ON vb.vec_id = c.eval_id
      |WHERE CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT)
      |  >= 4000""".stripMargin

  private lazy val dedupEmbedLshSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |    AND l.vec_id < r.vec_id
      |)
      |SELECT c.a, c.b,
      |  CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS sim
      |FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
      |WHERE CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT)
      |  >= 4000""".stripMargin

  /** d_dedup_embed_lsh_stream oracle: per-TABLE prefix pairs (a < b =
    * arrival order), exact quantized cosine — dedupEmbedLshSql minus the
    * cross-table DISTINCT, since the streaming index emits one row per
    * colliding table by contract. */
  private lazy val embedLshStreamSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT l.tbl, l.vec_id AS a, r.vec_id AS b
      |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |    AND l.vec_id < r.vec_id
      |)
      |SELECT CAST(c.tbl AS INT) AS tbl, c.a, c.b,
      |  CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS sim
      |FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
      |WHERE CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT)
      |  >= 4000""".stripMargin

  /** Shared oracle prefix: portable MinHash signatures (CTEs `hs` =
    * per-doc 32-bit shingle-hash sets, `sig` = (doc_id, i, m) minima,
    * `band` = 16×4 banded md5 keys) — read by [[minhashSql]] (at-rest
    * pair dedup) and [[lshStreamSql]] (the streaming index twin). */
  private def minhashSigCtes(rel: String = "documents"): String =
    "WITH " + minhashSigBody(rel)

  /** d_dedup_minhash oracle (round 9): MinHash is deterministic given the
    * hash family, so the portable md5 base/band hashes let DuckDB replay
    * the whole pipeline — per-shingle 32-bit hashes, the k = 64 universal
    * permutations (splitmix (a, b) params embedded as literals), 16-band
    * md5 keys, the candidate self-join, and the exact hash-set Jaccard
    * verify. One IEEE division of exact ints = the d_dedup_ngram record
    * discipline.
    */
  private lazy val minhashSql: String = {
    s"""${minhashSigCtes()}, cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), v AS (
       |  SELECT c.a, c.b,
       |    len(list_intersect(ha.hh, hb.hh)) AS cnt,
       |    len(ha.hh) AS na, len(hb.hh) AS nb
       |  FROM cand c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
       |)
       |SELECT a, b, CAST(cnt AS DOUBLE) / (na + nb - cnt) AS jaccard
       |FROM v
       |WHERE cnt > 0 AND CAST(cnt AS DOUBLE) / (na + nb - cnt) >= 0.6""".stripMargin
  }

  /** d_dedup_lsh_stream oracle: the streaming index is a pure function
    * of the portable hash family and the arrival order (= doc_id order),
    * so its prefix semantics replay relationally — band collisions with
    * a < b (a indexed first), one row per colliding band, verified by
    * the INTEGER signature-agreement estimate (n_agree·5 ≥ 64·3 ⇔
    * est ≥ 0.6; no float compare on either engine). */
  private lazy val lshStreamSql: String = {
    s"""${minhashSigCtes()}, cand AS (
       |  SELECT l.band, l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.band, c.a, c.b, count(*) AS n_agree
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CAST(band AS INT) AS band, a, b, CAST(n_agree AS INT) AS n_agree
       |FROM agree WHERE n_agree * 5 >= 192""".stripMargin
  }

  /** d_dedup_lsh_rebase_stream oracle: the full-chain replay restricted
    * to post-split arrivals (b at or past the id midpoint) — every hit
    * the resumed run can emit has its NEW side b in the live half, while
    * a ranges over the whole corpus (rebased state or earlier live
    * arrival). The midpoint is integer arithmetic on min/max, matching
    * the Spark side's driver scalar exactly. */
  private lazy val lshRebaseStreamSql: String = {
    s"""${minhashSigCtes()}, spl AS (
       |  SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2.0) AS BIGINT) AS s
       |  FROM documents
       |), cand AS (
       |  SELECT l.band, l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.band, c.a, c.b, count(*) AS n_agree
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CAST(band AS INT) AS band, a, b, CAST(n_agree AS INT) AS n_agree
       |FROM agree CROSS JOIN spl
       |WHERE n_agree * 5 >= 192 AND b >= s""".stripMargin
  }

  /** d_dedup_bow_lsh oracle (round 9): the whole pipeline was already
    * deterministic and engine-portable — md5-bucket BoW counts (the
    * d_dedup_bow oracle's own formulation), the splitmix sign matrix
    * (embedded as ±-literals, 12 planes × 16 tables), and an exact
    * integer-count cosine verify whose doubles are all exactly
    * representable — it just never had its SQL written. Projections are
    * computed SPARSELY (counts joined to a (table, plane, dim, ±1)
    * table): absent buckets contribute 0, so the sparse sum equals the
    * dense fold bit-for-bit (every value is an exact integer in double).
    */
  private lazy val bowLshSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
       |cnt AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substring(md5(w), 1, 12)) AS BIGINT) % 64 AS b,
       |    count(*) AS c
       |  FROM toks GROUP BY 1, 2
       |), sg(tbl, plane, ss) AS (VALUES
       |    ${lshSignValues(16, 12, 64)}
       |), pl AS (
       |  SELECT tbl, plane, r.i AS b,
       |    CASE WHEN substring(ss, CAST(r.i + 1 AS INT), 1) = '+'
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM sg, range(64) r(i)
       |), proj AS (
       |  SELECT c.doc_id, p.tbl, p.plane, sum(c.c * p.sgn) AS pr
       |  FROM cnt c JOIN pl p ON p.b = c.b GROUP BY 1, 2, 3
       |), bkt AS (
       |  SELECT doc_id, tbl,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << plane)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
       |    AND l.doc_id < r.doc_id
       |), nrm AS (
       |  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cnt GROUP BY 1
       |), dots AS (
       |  SELECT ca.a, ca.b, CAST(sum(x.c * y.c) AS BIGINT) AS dp
       |  FROM cand ca
       |  JOIN cnt x ON x.doc_id = ca.a
       |  JOIN cnt y ON y.doc_id = ca.b AND y.b = x.b
       |  GROUP BY 1, 2
       |)
       |SELECT d.a, d.b,
       |  CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT) AS sim
       |FROM dots d
       |JOIN nrm na ON na.doc_id = d.a
       |JOIN nrm nb ON nb.doc_id = d.b
       |WHERE CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT)
       |  >= 9500""".stripMargin

  /** d_dedup_simhash oracle (round 9): per-bit majority votes over the
    * portable md5-nibble token hash (bit b = bit b%4 of hex nibble b/4),
    * banded into 4 16-bit values built FROM THE BITS (so no signed-shift
    * divergence on a negative packed long), candidate self-join on
    * (band, value), hamming = per-bit disagreement count on candidates.
    */
  private lazy val simhashSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), tk AS (
       |  SELECT DISTINCT doc_id, unnest(w) AS t FROM d
       |), bits AS (
       |  SELECT doc_id, r.b,
       |    CASE WHEN 2 * sum(
       |      (CAST(concat('0x', substring(md5(t), CAST(r.b // 4 + 1 AS INT), 1))
       |         AS BIGINT) >> CAST(r.b % 4 AS INT)) & 1)
       |      > count(*) THEN 1 ELSE 0 END AS bit
       |  FROM tk, range(64) r(b) GROUP BY 1, 2
       |), band AS (
       |  SELECT doc_id, b // 16 AS band,
       |    CAST(sum(bit << CAST(b % 16 AS INT)) AS BIGINT) AS bv
       |  FROM bits GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bv = r.bv
       |    AND l.doc_id < r.doc_id
       |), ham AS (
       |  SELECT c.a, c.b,
       |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INTEGER)
       |      AS hamming
       |  FROM cand c
       |  JOIN bits ba ON ba.doc_id = c.a
       |  JOIN bits bb ON bb.doc_id = c.b AND ba.b = bb.b
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, hamming FROM ham WHERE hamming <= 3""".stripMargin

  /** Shared by d_containment and its lossless prefix-filtered twin
    * d_containment_blocked (same output by the pigeonhole bound —
    * [[graft.ops.Dedup.containmentPairsBlocked]]). */
  private lazy val containmentSql: String =
    s"""WITH d AS (SELECT doc_id, $tokensExpr AS w FROM documents),
       |g AS (SELECT doc_id, $shinglesExpr AS sh FROM d),
       |p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS c,
       |    least(len(a.sh), len(b.sh)) AS m
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |)
       |SELECT a, b, c * 1000000 // m AS c_micro
       |FROM p WHERE c * 1000000 // m >= 800000""".stripMargin

  /** Shared by d_decontaminate and its bloom-pruned scale twin — the
    * bloom only prunes, the exact join restores exactness, so both
    * queries carry ONE oracle. */
  private lazy val decontaminateSql =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), g AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM d
       |)
       |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / len(list_distinct(a.sh || b.sh)) AS jaccard
       |FROM g a JOIN g b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
       |WHERE len(list_intersect(a.sh, b.sh)) > 0
       |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin

  private lazy val nearIngestSql: String =
    s"""${minhashSigCtes()}, cb AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |  WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
       |), bb AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |  WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 1
       |), vcb AS (
       |  SELECT DISTINCT c.b
       |  FROM cb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
       |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
       |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
       |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
       |), vbb AS (
       |  SELECT DISTINCT c.b
       |  FROM bb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
       |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
       |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
       |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
       |)
       |SELECT doc_id,
       |  CASE WHEN doc_id IN (SELECT b FROM vcb) THEN 'near_dup_corpus'
       |       WHEN doc_id IN (SELECT b FROM vbb) THEN 'near_dup_batch'
       |       ELSE 'admitted' END AS verdict
       |FROM documents WHERE doc_id % 2 = 1""".stripMargin

  private lazy val chunkCdcSql: String =
    s"""WITH t AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), t2 AS (
         |  SELECT doc_id, w, len(w) AS n,
         |    list_transform(w, t ->
         |      CAST(concat('0x', substring(md5(t), 1, 10)) AS BIGINT)) AS h
         |  FROM t WHERE len(w) > 0 AND w != ['']
         |), cuts AS (
         |  SELECT doc_id, w, n,
         |    list_sort(list_distinct(list_concat(list_concat([0],
         |      list_filter(CASE WHEN n >= 8 THEN range(8, n + 1) ELSE [] END,
         |        i -> list_reduce(h[i - 7 : i],
         |               (a, x) -> (a * 31 + x) % 1099511627776) % 32 = 0)),
         |      [CAST(n AS BIGINT)]))) AS b1
         |  FROM t2
         |), b AS (
         |  SELECT doc_id, w,
         |    list_sort(list_distinct(list_concat(b1,
         |      flatten(list_transform(range(1, len(b1)), j ->
         |        CASE WHEN b1[CAST(j + 1 AS INT)] - b1[CAST(j AS INT)] > 128
         |             THEN range(b1[CAST(j AS INT)] + 128, b1[CAST(j + 1 AS INT)], 128)
         |             ELSE [] END))))) AS bs
         |  FROM cuts
         |), e AS (
         |  SELECT doc_id, w, bs, unnest(range(1, len(bs))) AS j FROM b
         |)
         |SELECT doc_id, j - 1 AS chunk_id,
         |  bs[CAST(j + 1 AS INT)] - bs[CAST(j AS INT)] AS n_tokens,
         |  array_to_string(w[CAST(bs[CAST(j AS INT)] + 1 AS INT) : CAST(bs[CAST(j + 1 AS INT)] AS INT)], ' ') AS chunk
         |FROM e""".stripMargin

  /** d_chunk_dedup oracle: the CDC chain nested as a CTE, md5 chunk
    * fingerprints, first (doc_id, chunk_id) owner by row_number, exact
    * integer per-doc rollup (sums cast from HUGEINT to BIGINT). */
  private lazy val chunkDedupSql: String =
    s"""WITH cdc AS ($chunkCdcSql),
       |fp AS (SELECT doc_id, chunk_id, n_tokens, md5(chunk) AS fp FROM cdc),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) AS rn
       |  FROM fp
       |)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens
       |FROM r GROUP BY 1""".stripMargin

  /** Shared by the exact-13-gram collision sweep and its bloom-pruned
    * scale twin (the bloom only prunes; the exact join restores
    * exactness). Replays at the portable md5->32-bit hash grain. */
  private lazy val hard13Sql: String =
    s"""WITH d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, CASE WHEN len(w) >= 13
         |    THEN list_distinct([array_to_string(w[i:i+12], ' ')
         |                        for i in range(1, len(w) - 11)])
         |    ELSE [array_to_string(w, ' ')] END AS sh
         |  FROM d
         |), e AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM g)
         |)
         |SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
         |FROM e a JOIN e b ON a.h = b.h
         |  AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0""".stripMargin

  /** Shared CTE chain for the span-grain decontamination pair
    * (d_decon_spans / d_decon_redact): positioned train shingle hashes →
    * benchmark hash set → hit offsets → merged padded spans
    * (gaps-and-islands per doc; merge gap = n + 2·pad = 23). */
  private lazy val deconSpansPrefix: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), tr AS (
       |  SELECT doc_id, w, len(w) AS ln FROM d WHERE doc_id % 2 = 1
       |), gtr AS (
       |  SELECT doc_id, u['p'] AS pos,
       |    CAST(concat('0x', substring(md5(u['s']), 1, 8)) AS BIGINT) AS h
       |  FROM (
       |    SELECT doc_id, unnest(CASE WHEN ln >= 13
       |      THEN [{'p': i - 1, 's': array_to_string(w[i:i+12], ' ')} for i in range(1, ln - 11)]
       |      ELSE [{'p': 0, 's': array_to_string(w, ' ')}] END) AS u
       |    FROM tr)
       |), ev AS (
       |  SELECT DISTINCT CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
       |  FROM (
       |    SELECT unnest(CASE WHEN len(w) >= 13
       |      THEN list_distinct([array_to_string(w[i:i+12], ' ') for i in range(1, len(w) - 11)])
       |      ELSE [array_to_string(w, ' ')] END) AS s
       |    FROM d WHERE doc_id % 2 = 0
       |  )
       |), hits AS (
       |  SELECT DISTINCT doc_id, pos FROM gtr WHERE h IN (SELECT h FROM ev)
       |), isl AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > 23 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM hits)
       |), sp AS (
       |  SELECT i.doc_id, greatest(min(pos) - 5, 0) AS s, least(max(pos) + 18, t.ln) AS e
       |  FROM isl i JOIN tr t ON i.doc_id = t.doc_id
       |  GROUP BY i.doc_id, g, t.ln
       |)""".stripMargin

  private lazy val deconSpansSql: String =
    deconSpansPrefix +
      """
        |SELECT doc_id AS train_id, CAST(s AS BIGINT) AS span_start,
        |  CAST(e AS BIGINT) AS span_end
        |FROM sp""".stripMargin

  private lazy val deconRedactSql: String =
    deconSpansPrefix +
      """, pc AS (
        |  SELECT doc_id,
        |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ps, s AS pe
        |  FROM sp
        |  UNION ALL
        |  SELECT sp.doc_id, max(sp.e), t.ln
        |  FROM sp JOIN tr t ON sp.doc_id = t.doc_id GROUP BY sp.doc_id, t.ln
        |  UNION ALL
        |  SELECT doc_id, 0, ln FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM sp)
        |), kept AS (SELECT * FROM pc WHERE pe - ps >= 20)
        |SELECT doc_id AS train_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ps) - 1 AS BIGINT) AS piece_id,
        |  CAST(ps AS BIGINT) AS piece_start, CAST(pe AS BIGINT) AS piece_end,
        |  CAST(pe - ps AS BIGINT) AS piece_tokens
        |FROM kept""".stripMargin

  val all: Seq[Query] = Seq(
    // batch-incremental near-dup admission: the portable MinHash chain
    // replayed over the whole table, candidates restricted to
    // (corpus→batch) and (earlier-batch→batch) sides, exact hash-set
    // Jaccard ≥ 0.6 verify — corpus hit outranks batch hit.
    Query("d_near_ingest", nearIngestSql)((s, dir) => {
      // batch-incremental NEAR-dup admission (the daily-crawl posture):
      // odd-id docs are the incoming batch, even-id the ingested corpus;
      // a batch doc is rejected if MinHash-LSH + exact-Jaccard ≥ 0.6
      // matches any corpus doc (near_dup_corpus) or any smaller-id batch
      // doc (near_dup_batch) — the at-rest twin of
      // d_dedup_lsh_rebase_stream's resumed index, portable hash family
      // so the oracle replays signatures → bands → candidates → verify.
      // The corpus enters as its two nearDupIndex tables (the (doc_id,
      // band, band_hash) bucket table + the (doc_id, s) verify table —
      // at scale materialized once and appended with each admitted
      // batch), never as text.
      val t = Tables(s, dir)
      val (hx, bx) = Dedup.nearDupIndex(
        t.documents.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16)
      Dedup.incrementalNearIngest(
        hx, bx,
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
    }),
    // ---- dedup (training-data pipeline) ----
    Query("d_dedup_exact",
      s"""SELECT $fpExpr AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin)((s, dir) => {
      val t = Tables(s, dir)
      Dedup.exact(t.documents, col("doc_id"), col("text"))
    }),
    Query("d_dedup_ngram",
      s"""WITH d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jaccard
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) > 0
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6""".stripMargin)((s, dir) => {
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, col("doc_id"), col("text"), 3, 0.6)
    }),
    Query("d_dedup_minhash", minhashSql)((s, dir) => {
      // ORACLE-CHECKED since round 9: the whole MinHash pipeline is
      // deterministic given the hash family, so with the portable
      // md5-based base/band hashes the oracle SQL replays signature
      // minima, banding, candidate join, AND exact-Jaccard verify
      // (minhashSql embeds the splitmix (a,b) permutation params as
      // literals).
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // d_dedup_ngram (exact-Jaccard verify ⇒ precision 1) and pair recall
      // ≥ 0.9 vs the lossless ngram pairs (measured 1.0).
      Dedup.minhashDedup(Tables(s, dir).documents, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
    }),
    Query("d_dedup_lsh_stream", lshStreamSql)((s, dir) => {
      // streaming admission-time near-dup: an accumulating MinHash-LSH
      // index in keyed state (transformWithState, RocksDB), sharded by
      // LSH bucket. Docs "arrive" in doc_id order (ts = epoch + doc_id
      // s); each is checked against every previously indexed doc via the
      // integer signature-estimate and appended. Same portable md5
      // family and banding as d_dedup_minhash, so the oracle replays
      // signatures → bands → prefix pairs → agreement verify exactly.
      withRocksDb(s) {
        Replay.bandEvents(bandedDocEvents(s, dir)) { stream =>
          graft.streaming.StreamingDedup
            .lshIndex(stream, k = 64, thresholdNumer = 3, thresholdDenom = 5)
            .toDF()
        }.select(
          col("band"),
          col("a").cast("long").as("a"),
          col("b").cast("long").as("b"),
          col("n_agree"))
      }
    }),
    Query("d_dedup_lsh_rebase_stream", lshRebaseStreamSql)((s, dir) => {
      // the production rebase posture ON the record (round 12): the
      // at-rest half of the corpus (doc_id below the id midpoint)
      // rebuilds the index as per-bucket batch state
      // (StreamingDedup.indexState), and a FRESH query resumes admission
      // over the live half through Spark's initial-state channel
      // (lshIndexResumed) — every post-rebase arrival is checked against
      // the rebased corpus AND earlier live arrivals. The oracle is the
      // full-chain replay restricted to post-split arrivals, so the row
      // proves rebased state participates bit-exactly (the only
      // driver-side action is the min/max id scalar, the Replay
      // precedent).
      withRocksDb(s) {
        val events = bandedDocEvents(s, dir)
        val r = Tables(s, dir).documents
          .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head
        val split = (r.getLong(0) + r.getLong(1)) / 2
        val init = graft.streaming.StreamingDedup
          .indexState(events.filter(col("id").cast("long") < split))
        Replay.bandEvents(events.filter(col("id").cast("long") >= split)) { stream =>
          graft.streaming.StreamingDedup
            .lshIndexResumed(stream, init, k = 64, thresholdNumer = 3, thresholdDenom = 5)
            .toDF()
        }.select(
          col("band"),
          col("a").cast("long").as("a"),
          col("b").cast("long").as("b"),
          col("n_agree"))
      }
    }),
    Query("d_dedup_clusters",
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.6
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |)
         |SELECT id, min(l) AS cluster_id FROM lab GROUP BY id""".stripMargin)((s, dir) => {
      // near-dup clustering: connected components over the (lossless)
      // ngram pair list; cluster_id = min doc id in the component
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables(s, dir).documents, col("doc_id"), col("text"), 3, 0.6))
    }),
    Query("d_dedup_simhash", simhashSql)((s, dir) => {
      // ORACLE-CHECKED since round 9: SimHash is a deterministic function
      // of the token-hash family, so with the portable md5-nibble token
      // hash the oracle SQL replays per-bit votes, the 4×16-bit banding,
      // and the hamming verify (simhashSql). Acceptance bar
      // (ApproxGatesSpec, sf0.01): 4×16-bit band blocking is LOSSLESS for
      // hamming ≤ 3 (pigeonhole: ≤3 flipped bits leave ≥1 of 4 bands
      // exact), so output ≡ brute-force all-pairs — asserted as set
      // equality.
      Dedup.simhashPairs(Tables(s, dir).documents, col("doc_id"), col("text"), maxHamming = 3)
    }),
    Query("d_dedup_embed",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) AS sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) >= 4000""".stripMargin)((s, dir) => {
      Similarity.cosineNearDupPairs(embeddingsIdVec(Tables(s, dir)), 0.40)
    }),
    Query("d_dedup_embed_lsh", dedupEmbedLshSql)((s, dir) => {
      // scale path of d_dedup_embed: LSH-blocked candidates, exact verify.
      // ORACLE-CHECKED since round 9: the sign hyperplanes are a
      // deterministic constant, so the oracle SQL replays them from
      // embedded literals (dedupEmbedLshSql) — recall remains
      // probabilistic vs d_dedup_embed, but the OUTPUT is exactly pinned.
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // brute-force pairs (exact cosine verify ⇒ precision 1) and pair
      // recall ≥ 0.9 (measured 0.932 at 4 planes × 16 tables; the round-2
      // default of 8 planes × 4 tables measured 0.119 — the testdata
      // embeddings are near-uniform, so a loose 0.40 threshold needs
      // shallow planes + many tables; see docs/SCALE.md).
      Similarity.cosineNearDupPairsLSH(embeddingsIdVec(Tables(s, dir)), 0.40, dim = 64,
        nPlanes = 4, nTables = 16)
    }),
    Query("d_decon_embed",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |)
        |SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
        |  CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) AS sim
        |FROM v a JOIN v b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
        |WHERE CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) >= 4000""".stripMargin)((s, dir) => {
      // SEMANTIC decontamination anchor: train (even vec_id) × eval (odd
      // vec_id) cosine ≥ 0.40 — catches paraphrased benchmark leakage
      // that shares no shingle with d_decontaminate's n-gram sweep. The
      // brute cross product is the verify contract; d_decon_embed_lsh is
      // the declared 100 TB path.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.crossCorpusCosinePairs(
        v.filter(col("id") % 2 === 0), v.filter(col("id") % 2 === 1), 0.40)
    }),
    Query("d_decon_embed_lsh", deconEmbedLshSql)((s, dir) => {
      // scale path of d_decon_embed: cross-frame sign-LSH blocking (the
      // d_dedup_embed_lsh hyperplanes, so the oracle replays buckets from
      // the same embedded literals), exact cosine verify. Acceptance bar
      // (ApproxGatesSpec): output ⊆ brute cross pairs, recall ≥ 0.9.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.crossCorpusCosinePairsLSH(
        v.filter(col("id") % 2 === 0), v.filter(col("id") % 2 === 1), 0.40,
        dim = 64, nPlanes = 4, nTables = 16)
    }),
    Query("d_decon_embed_ivf", deconEmbedIvfSql)((s, dir) => {
      // the LOOSE-τ scale path of d_decon_embed (r13 verdict ask #5):
      // sign-LSH at τ=0.40 on near-uniform vectors needs the 4-plane ×
      // 16-table setting whose candidate volume measured SLOWER than
      // brute at 10× (SCALE.md), so this twin blocks through an IVF
      // coarse quantizer instead — k=64 centroids co-fit over the full
      // vector set (the deconIvfCentroids oracle literals), train on its
      // nearest list, eval multi-probing 24 (recall 0.93 at gate scale;
      // 16-list/4-probe measured 0.67 — near-uniform vectors at loose τ
      // need fine lists + wide probes). Candidate volume ≈ 24/64 of the
      // cross product. Acceptance (ApproxGatesSpec): output ⊆ brute
      // pairs, recall ≥ 0.9.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.crossCorpusCosinePairsIVF(
        v.filter(col("id") % 2 === 0), v.filter(col("id") % 2 === 1), 0.40,
        nLists = 64, nProbe = 24)
    }),
    Query("d_dedup_embed_lsh_stream", embedLshStreamSql)((s, dir) => {
      // the embedding sibling of d_dedup_lsh_stream: admission-time
      // near-dup over an accumulating SIGN-LSH index (same 4-plane ×
      // 16-table bucketing as the batch op), exact quantized-cosine
      // verify in-bucket (state holds the vectors; the fold replicates
      // CosineSim bit-for-bit). Vectors "arrive" in vec_id order; one
      // row per colliding table. Oracle replays buckets from the
      // embedded sign literals + list_cosine_similarity.
      withRocksDb(s) {
        val v = embeddingsIdVec(Tables(s, dir))
          .select(col("id"), col("vec").cast("array<double>").as("v"))
        val events = v.select(
          col("id"),
          col("v"),
          posexplode(array((0 until 16).map(t =>
            Similarity.lshBucket(col("v"), dim = 64, nPlanes = 4, seed = 42L + t * 7919L)): _*))
            .as(Seq("tbl", "bucket")))
          .select(
            concat_ws("|", col("tbl"), col("bucket")).as("key"),
            timestamp_seconds(col("id")).as("ts"),
            col("id").cast("string").as("id"),
            col("v").as("vec"))
        Replay.vecEvents(events) { stream =>
          graft.streaming.StreamingDedup.vecIndex(stream, simThresholdQ = 4000L).toDF()
        }.select(
          col("tbl"),
          col("a").cast("long").as("a"),
          col("b").cast("long").as("b"),
          col("sim"))
      }
    }),
    Query("d_dedup_semantic", dedupSemanticSql)((s, dir) => {
      // SemDeDup (arXiv:2303.09540): k-means cluster-blocked near-dup
      // pairs with exact cosine verify — the third scale path for
      // d_dedup_embed, best when embeddings are genuinely clustered (the
      // pair space becomes within-cluster equi-joins). ORACLE-CHECKED
      // since round 10: the deterministic fitted centroids embed in the
      // oracle SQL as literals and the multi-probe assignment + pair +
      // verify pipeline replays relationally (dedupSemanticSql).
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // brute pairs (exact verify ⇒ precision 1) and recall ≥ 0.9 at 16
      // clusters, nProbe=4 (multi-probe recovers boundary pairs; the
      // near-uniform testdata needs 4 probes where clustered corpora
      // need fewer).
      Similarity.semanticDedupPairs(
        embeddingsIdVec(Tables(s, dir)), 0.40, nClusters = 16, nProbe = 4)
    }),
    Query("d_dedup_bow",
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |cnt AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(w), 1, 12)) AS BIGINT) % 64 AS b,
         |    count(*) AS c
         |  FROM toks GROUP BY 1, 2
         |), nrm AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cnt GROUP BY 1),
         |dots AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b2, CAST(sum(x.c * y.c) AS BIGINT) AS dp
         |  FROM cnt x JOIN cnt y ON x.b = y.b AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b2 AS b,
         |  CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT) AS sim
         |FROM dots
         |JOIN nrm na ON na.doc_id = a
         |JOIN nrm nb ON nb.doc_id = dots.b2
         |WHERE CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT) >= 9500""".stripMargin)((s, dir) => {
      // model-free near-dup: feature-hashed BoW count vectors + exact
      // cosine. Integer counts make the cosine bit-exact across engines
      // (products and norms are exact doubles; one division).
      // ORACLE-ANCHOR ONLY — this N² self-join exists so the driver's
      // DuckDB record has an exact-SQL row for the BoW family; it is NOT
      // the declared plan and cannot run at 100× (quadratic pair space).
      // The declared plan for BoW near-dup is d_dedup_bow_lsh below
      // (same vectors, same exact verify, measured recall 0.998), whose
      // ApproxGatesSpec gate recomputes this baseline internally.
      val v = TextOps
        .hashedBowVectors(Tables(s, dir).documents, col("doc_id"), col("text"), dim = 64)
        .select(col("doc_id").as("id"), col("vec"))
      Similarity.cosineNearDupPairs(v, 0.95)
    }),
    Query("d_dedup_bow_lsh", bowLshSql)((s, dir) => {
      // THE declared BoW near-dup plan: LSH-blocked candidates, exact
      // verify. ORACLE-CHECKED since round 9: every stage was already
      // deterministic and portable (md5 BoW buckets, splitmix sign
      // planes, exact integer-count cosine) — bowLshSql replays
      // projection → banding → candidates → verify end-to-end; recall vs
      // the exact twin stays probabilistic and gated.
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // exact d_dedup_bow pairs (exact cosine verify ⇒ precision 1) and
      // pair recall ≥ 0.9 (measured 0.998 at sf0.1, 3.5s exact vs 0.6s
      // LSH). The 0.95 threshold means surviving pairs sit within ~18°
      // (per-plane sign agreement ~0.9), so DEEP planes + many tables is
      // the right corner — the opposite knee from the loose-threshold
      // embedding twin (4×16); see docs/SCALE.md. The vector frame is
      // cached because the LSH plan references it 4×, and unlike the
      // embedding twin's parquet scan this upstream is a tokenize→agg
      // pipeline (at cluster scale: write it to parquet instead).
      val v = TextOps
        .hashedBowVectors(Tables(s, dir).documents, col("doc_id"), col("text"), dim = 64)
        .select(col("doc_id").as("id"), col("vec"))
        .cache()
      Similarity.cosineNearDupPairsLSH(v, 0.95, dim = 64, nPlanes = 12, nTables = 16)
    }),
    Query("d_substring_dedup",
      s"""WITH t AS (
         |  SELECT doc_id, CASE WHEN len(w) >= 16
         |    THEN list_distinct([array_to_string(w[i:i+15], ' ')
         |                       for i in range(1, len(w) - 14)])
         |    ELSE [array_to_string(w, ' ')] END AS sh
         |  FROM (SELECT doc_id, $tokensExpr AS w FROM documents) d
         |), e AS (SELECT doc_id, unnest(sh) AS s FROM t),
         |f AS (SELECT s, count(*) AS nd FROM e GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |FROM e JOIN f USING (s)
         |GROUP BY doc_id""".stripMargin)((s, dir) => {
      // cross-doc repeated-substring signal (suffix-array dedup's
      // distributed stand-in): distinct 16-token shingles per doc and
      // how many of them occur in at least one other doc
      Dedup.sharedShingleStats(
        Tables(s, dir).documents, col("doc_id"), col("text"), shingleLen = 16)
    }),
    Query("d_remove_dup_substrings",
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS ws FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(ws) AS w,
         |         unnest(generate_series(1, len(ws))) - 1 AS pos
         |  FROM t),
         |sh AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+15], ' ') AS s
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 15)) AS i
         |        FROM t WHERE len(ws) >= 16)),
         |dup AS (
         |  SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
         |  WHERE nd > 1),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos + o AS pos
         |  FROM (SELECT sh.doc_id, sh.pos, unnest(generate_series(0, 15)) AS o
         |        FROM sh JOIN dup USING (s))),
         |kept AS (
         |  SELECT tok.doc_id, tok.pos, tok.w
         |  FROM tok ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos)
         |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
         |  CAST(count(k.pos) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(k.w, ' ' ORDER BY k.pos), '')) AS cleaned_md5
         |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
         |GROUP BY t.doc_id, len(t.ws)""".stripMargin)((s, dir) => {
      // the SCRUB counterpart of d_substring_dedup (Lee et al. 2022
      // ExactSubstr at shingle granularity): drop every token covered by
      // a full 16-token run appearing in another doc, reassemble, and
      // pin the cleaned text with md5. All equi-joins at corpus grain —
      // no pair output, never output-bound.
      Dedup.removeDuplicateShingles(
        Tables(s, dir).documents, col("doc_id"), col("text"), shingleLen = 16)
    }),
    Query("d_decontaminate", decontaminateSql)((s, dir) => {
      // cross-corpus contamination sweep: odd-id docs as "train", even-id
      // as "eval" (deterministic stand-ins for two real corpora)
      val docs = Tables(s, dir).documents
      Dedup.crossCorpusNearDups(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 3, 0.5)
    }),
    // hard decon: the exact-13-gram collision join replayed at the SAME
    // portable hash grain as the Spark plan (md5→32-bit), so even hash
    // collisions agree; docs under 13 tokens fall back to one
    // whole-text shingle on both engines
    Query("d_decontaminate_hard13", hard13Sql)((s, dir) => {
      // GPT-3-style hard decontamination (Brown et al. 2020 App. C):
      // flag a train doc on ANY shared exact word 13-gram with the eval
      // side — catches verbatim leaked spans inside otherwise-different
      // docs, the case d_decontaminate's Jaccard threshold misses by
      // construction. Same odd/even stand-in split; portable md5→32-bit
      // shingle hashes so the oracle replays the join at hash grain.
      val docs = Tables(s, dir).documents
      Dedup.exactNgramCollisions(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13)
    }),
    Query("d_decontaminate_hard13_bloom", hard13Sql)((s, dir) => {
      // hard13's 100 TB sweep plan: the train explode filters through a
      // codegen'd might_contain over the benchmark's 13-gram bloom
      // BEFORE any exchange — same output as d_decontaminate_hard13
      // (the exact join removes bloom false positives), one shared
      // oracle, plan-pinned in PlanQualitySpec.
      val docs = Tables(s, dir).documents
      Dedup.exactNgramCollisionsBloom(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13,
        expectedEvalShingles = 200000L)
    }),
    Query("d_decon_hard13_stream", hard13Sql)((s, dir) => {
      // the hard sweep riding the ingest stream: odd-id docs arrive in
      // id order, each one's shingle-hash set (pure array projection —
      // no window, streaming-legal) joins stream-static against the
      // broadcast benchmark table. Stateless, so the replayed hit set is
      // EXACTLY the batch join's — one shared oracle with
      // d_decontaminate_hard13 (batch assembly dedups the per-shingle
      // hit multiplicity; cross-engine hash grain identical).
      val docs = Tables(s, dir).documents
      val evalSh = graft.streaming.StreamingDedup.evalShingleTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), 13)
      val out = Replay.docEvents(
        docs.filter(col("doc_id") % 2 === 1).select(
          lit("").as("key"),
          timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"),
          col("text"))) { stream =>
        graft.streaming.StreamingDedup.deconHitsExact(stream.toDF(), evalSh, 13)
      }
      out.select(
          col("b").cast("long").as("train_id"),
          col("eval_id").cast("long").as("eval_id"))
        .distinct()
    }),
    Query("d_decon_spans", deconSpansSql)((s, dir) => {
      // WHERE the leaks are: every exact-13-gram collision located at
      // its token offset, padded 5 tokens each side, overlapping windows
      // merged — the span report behind redaction-grain cleanup (GPT-3
      // removes a window AROUND each collision, not the whole doc). Hit
      // join = d_decontaminate_hard13's (broadcast benchmark, 32-bit
      // portable hashes); the merge is a per-DOC gaps-and-islands
      // window, bounded by one doc's hits — never corpus-wide.
      val docs = Tables(s, dir).documents
      Dedup.contaminatedSpans(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, padTokens = 5)
    }),
    Query("d_decon_redact", deconRedactSql)((s, dir) => {
      // redaction-grain decontamination: cut the d_decon_spans windows
      // out and keep the clean complement pieces of ≥ 20 tokens — one
      // whole piece for untouched docs, nothing for blanketed ones. The
      // complement is a pure array expression over each doc's collected
      // spans; no shuffle beyond the span merge.
      val docs = Tables(s, dir).documents
      Dedup.decontaminateByRedaction(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, padTokens = 5, minPieceTokens = 20)
    }),
    Query("d_decontaminate_bloom", decontaminateSql)((s, dir) => {
      // the 100 TB decontamination plan: the train explode filters
      // through a codegen'd might_contain over the benchmark's shingle
      // bloom BEFORE any exchange — at real scale virtually every train
      // shingle misses and the join sees only the contaminated sliver.
      // Same output as d_decontaminate (the exact join removes the
      // bloom's false positives): one shared oracle, plan-pinned.
      val docs = Tables(s, dir).documents
      Dedup.crossCorpusNearDupsBloom(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 3, 0.5,
        expectedEvalShingles = 200000L)
    }),
    Query("d_contamination_frac",
      s"""WITH d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), t AS (
         |  SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id % 2 = 1
         |), e AS (
         |  SELECT doc_id, unnest(sh) AS s FROM g WHERE doc_id % 2 = 0
         |)
         |SELECT e.doc_id, count(*) AS n_shingles, count(t.s) AS n_hits,
         |  CAST(count(t.s) AS DOUBLE) / count(*) AS contamination
         |FROM e LEFT JOIN t ON e.s = t.s
         |GROUP BY e.doc_id""".stripMargin)((s, dir) => {
      // per-eval-doc n-gram overlap score vs the train corpus: catches
      // jointly-contaminated docs no single Jaccard pair flags
      val docs = Tables(s, dir).documents
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 3)
    }),
    Query("d_drop_near_dups",
      s"""WITH RECURSIVE r0 AS (
         |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY $fpExpr) AS keep
         |  FROM documents
         |), reps AS (
         |  SELECT doc_id, text FROM r0 WHERE doc_id = keep
         |), d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM reps
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.6
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |), losers AS (
         |  SELECT id FROM lab GROUP BY id HAVING id <> min(l)
         |)
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin)((s, dir) => {
      // end-to-end two-stage removal (exact-collapse → near-dup pairs →
      // CC → keep canonical): lossless shared-shingle pairs so the
      // keep-list is exactly oracle-checkable; minhashDedup pairs over
      // the same reps are the scale path (ApproxGatesSpec gates its
      // pair recall)
      Dedup
        .dropNearDuplicates(Tables(s, dir).documents, col("doc_id"), col("text"),
          shingleLen = 3, threshold = 0.6)
        .select(col("doc_id"))
    }),
    Query("d_chunk",
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS w FROM documents),
         |s AS (
         |  SELECT doc_id, w, len(w) AS n,
         |    unnest(generate_series(0, greatest(0, len(w) - 17), 48)) AS start
         |  FROM t
         |)
         |SELECT doc_id, start // 48 AS chunk_id,
         |  least(64, n - start) AS n_tokens,
         |  array_to_string(w[start + 1 : start + 64], ' ') AS chunk
         |FROM s""".stripMargin)((s, dir) => {
      // overlapping 64-token / 16-overlap chunk windows (RAG/pretraining
      // sequence shaping); chunk text re-joined with single spaces
      Chunking.chunk(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    Query("d_chunk_cdc", chunkCdcSql)((s, dir) => {
      // content-defined chunking: rolling-hash cuts (8-token window,
      // 2^5-token expected length, 128-token force-split) — boundaries
      // survive upstream edits, so chunk-grain dedup stays stable across
      // corpus snapshots; the md5/Horner fold replays bit-for-bit in the
      // oracle
      Chunking.contentDefinedChunks(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    Query("d_chunk_dedup", chunkDedupSql)((s, dir) => {
      // chunk-grain dedup accounting over the CDC chunks — the
      // dedup-storage / RAG-ingest shape content-defined boundaries
      // exist for: per doc, how many of its chunks (and how much token
      // mass) the corpus already stores under another (doc, chunk)
      // owner. Owner election is a map-side-combined min-struct per
      // fingerprint (no window sort — a boilerplate chunk can't
      // concentrate one task); doc-grain totals join doc-grain owner
      // counts. Exact integers so the row hashes identically anywhere.
      Chunking.chunkDedupStats(
        Chunking.contentDefinedChunks(Tables(s, dir).documents, col("doc_id"), col("text")))
    }),
    Query("d_winnow",
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS w FROM documents),
         |g0 AS (SELECT doc_id,
         |  CASE WHEN len(w) >= 4
         |    THEN [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
         |          for i in range(1, len(w) - 2)]
         |    ELSE [md5(array_to_string(w, ' '))] END AS hs
         |  FROM t),
         |g AS (SELECT doc_id, len(hs) AS n_grams, unnest(hs) AS h,
         |  unnest(range(len(hs))) AS pos FROM g0),
         |wm AS (SELECT doc_id, pos, n_grams,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
         |  FROM g)
         |SELECT DISTINCT doc_id, fp FROM wm
         |WHERE pos <= greatest(0, n_grams - 5)""".stripMargin)((s, dir) => {
      // winnowing (MOSS) fingerprints: distinct per-window min k-gram
      // hashes — guaranteed-coverage overlap detection; fingerprints
      // equi-join downstream like shingle hashes
      Dedup.winnowFingerprints(
        Tables(s, dir).documents, col("doc_id"), col("text"), k = 4, w = 5)
    }),
    Query("d_cluster_sizes", clusterSizesSql)((s, dir) => {
      // dedup QA: component-size distribution of the near-dup graph —
      // catches a threshold too loose (giant component) or too tight
      // (all size-2) at a glance. THE ANCHOR IS THE SCALE PLAN (round-9
      // swap): collapse byte-identical copies to representatives first,
      // pair + CC on reps only, expand component sizes by n_copies —
      // 61 s → 7 s on the adversarial duplication-heavy 10× corpus
      // (docs/SCALE.md); equivalent to the raw pair graph whenever exact
      // copies tokenize identically (they do — same bytes, same shingles)
      val t = Tables(s, dir)
      // ONE persisted fingerprint aggregate serves both consumers (round
      // 15): `groups` and the reps semi-join below execute in separate
      // jobs (the pair side materializes first), so without the persist
      // the full-text md5 aggregate ran twice per query
      val groups = Dedup.exact(t.documents, col("doc_id"), col("text")).persist()
      val reps = t.documents.join(
        groups.select(col("keep_id").as("__keep")),
        col("doc_id") === col("__keep"), "left_semi")
      Dedup.clusterSizeDistributionFromClusters(
        groups,
        Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(reps, col("doc_id"), col("text"), 3, 0.6)))
    }),
    Query("d_cluster_sizes_raw", clusterSizesSql)((s, dir) => {
      // the raw-pair-graph form, kept ONLY as the small-scale oracle
      // cross-check of the composed anchor above: the shared-shingle join
      // emits m² rows per shingle shared by m docs, so on duplication-
      // heavy corpora this form IS the blow-up — never the 100 TB path
      Dedup.clusterSizeDistribution(
        Dedup.ngramJaccardPairs(Tables(s, dir).documents, col("doc_id"), col("text"), 3, 0.6))
    }),
    Query("d_containment", containmentSql)((s, dir) => {
      // asymmetric containment pairs: short-doc-inside-long-doc overlap
      // Jaccard can't see. ORACLE-ANCHOR form (shared-shingle self-join);
      // the declared 100 TB plan is d_containment_blocked below — same
      // output, prefix-filtered candidates
      Dedup.containmentPairs(
        Tables(s, dir).documents, col("doc_id"), col("text"), n = 3, threshold = 0.8)
    }),
    Query("d_containment_blocked", containmentSql)((s, dir) => {
      // the boilerplate-skew scale plan for containment (round 9):
      // prefix-filtered probe × full index candidates, LOSSLESS by the
      // pigeonhole bound, exact shared-shingle verify — same oracle as
      // d_containment, without the m²-per-hot-shingle exchange (3 s vs
      // killed-at-18-min on the 50k-doc shared-boilerplate corpus;
      // docs/SCALE.md). On DUPLICATION-heavy corpora collapse to exact
      // representatives first instead — there the blow-up is true pairs
      // and blocking can't help (the d_cluster_sizes lesson).
      Dedup.containmentPairsBlocked(
        Tables(s, dir).documents, col("doc_id"), col("text"), n = 3, threshold = 0.8)
    }),
    Query("d_dedup_editdist", editDistSql)((s, dir) => {
      // typo-grade near-dup: all pairs at edit distance <= 8. THE ANCHOR
      // IS THE SCALE PLAN (round-10 swap, the d_cluster_sizes precedent):
      // collapse byte-identical copies to representatives first, run the
      // LOSSLESS prefix-filtered positional q-gram join + levenshtein
      // verify over reps only, expand rep pairs by group membership and
      // append within-group pairs at distance 0 — set-identical to the
      // raw form (exact copies have distance 0 and identical distances
      // to everything else), but the duplication blow-up lands on the
      // true output pairs instead of the candidate join (raw form killed
      // at 25 min on the duplication-heavy 10x corpus; docs/SCALE.md)
      Dedup.editDistancePairsViaReps(
        Tables(s, dir).documents, col("doc_id"), col("text"), t = 8, q = 4)
    }),
    Query("d_dedup_editdist_raw", editDistSql)((s, dir) => {
      // the non-composed form, kept ONLY as the small-scale oracle
      // cross-check of the composed anchor above (the oracle is the
      // definition itself: plain N2 + length window in DuckDB; equality
      // proves the blocking lossless)
      Dedup.editDistancePairs(
        Tables(s, dir).documents, col("doc_id"), col("text"), t = 8, q = 4)
    }),
    Query("d_keep_best",
      s"""WITH RECURSIVE r0 AS (
         |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY $fpExpr) AS keep
         |  FROM documents
         |), reps AS (
         |  SELECT doc_id, text FROM r0 WHERE doc_id = keep
         |), d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM reps
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.6
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |), clus AS (
         |  SELECT id, min(l) AS cluster_id FROM lab GROUP BY id
         |), ranked AS (
         |  SELECT c.id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY len($tokensExpr) DESC, c.id) AS rn
         |  FROM clus c JOIN reps ON reps.doc_id = c.id
         |), losers AS (SELECT id FROM ranked WHERE rn > 1)
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin)((s, dir) => {
      // near-dup removal with production keep semantics: per cluster keep
      // the highest-token-count doc (tie → min doc_id), not the min-id
      // one; lossless shared-shingle pairs so the keep-list is exactly
      // oracle-checkable
      Dedup
        .dropNearDuplicatesKeepBest(
          Tables(s, dir).documents, col("doc_id"), col("text"),
          quality = TextOps.tokenCount(col("text")),
          shingleLen = 3, threshold = 0.6)
        .select(col("doc_id"))
    }),
  )
}
