package graft
package queries

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops._
import graft.queries.Fragments.{
  centAssignCte, cosQ, embeddingsIdVec, lshBucketCte, sqlList, tokensExpr}

/** `s_*`: retrieval (lexical search, fusion, MMR, exact and
  * approximate k-NN).
  */
object SearchQueries {

  private lazy val sKnnIvfSql: String =
    s"""WITH $centAssignCte,
listed AS (SELECT vec_id AS nbr_id, e AS nbr_vec, list_id FROM rk WHERE r = 1),
probes AS (SELECT vec_id AS query_id, e AS q_vec, list_id
  FROM rk WHERE r <= 4 AND vec_id < 10),
scored AS (
  SELECT query_id, nbr_id, ${cosQ("q_vec", "nbr_vec")} AS sim
  FROM probes JOIN listed USING (list_id)
  WHERE query_id <> nbr_id)
SELECT query_id, rank, nbr_id, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank
  FROM scored) ranked
WHERE rank <= 5"""

  private lazy val sKnnPqSql: String = {
    val cbVals = (for {
      (book, s) <- FittedArtifacts.pqCodebooks.zipWithIndex
      (cent, ci) <- book.zipWithIndex
    } yield s"($s, $ci, ${sqlList(cent.toArray)})").mkString(", ")
    val normExpr = (1 to 64).map(i => s"e[$i]*e[$i]").mkString(" + ")
    val dist4 = (1 to 4).map(j => s"(nv[4*s+$j]-c[$j])*(nv[4*s+$j]-c[$j])").mkString(" + ")
    val dot4 = (1 to 4).map(j => s"qn[4*s+$j]*c[$j]").mkString(" + ")
    val adc16 = (1 to 16).map(s => s"l.lut[$s][c2.codes[$s]+1]").mkString(" + ")
    s"""WITH cb(s, ci, c) AS (VALUES $cbVals),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt($normExpr) AS nrm FROM v),
u AS (SELECT vec_id,
  CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nv FROM n),
enc AS (
  SELECT vec_id, s, ci,
    row_number() OVER (PARTITION BY vec_id, s ORDER BY $dist4 ASC, ci) AS r
  FROM u, cb),
codes AS (SELECT vec_id, list(ci ORDER BY s) AS codes FROM enc WHERE r = 1 GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, nv AS qn FROM u WHERE vec_id < 10),
lut1 AS (SELECT query_id, s, list($dot4 ORDER BY ci) AS lut_s FROM q, cb GROUP BY query_id, s),
lut AS (SELECT query_id, list(lut_s ORDER BY s) AS lut FROM lut1 GROUP BY query_id),
adc AS (SELECT l.query_id, c2.vec_id AS nbr_id, ($adc16) AS score
  FROM lut l, codes c2 WHERE c2.vec_id <> l.query_id),
cand AS (SELECT query_id, nbr_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rn
  FROM adc) t WHERE rn <= 60),
scored AS (SELECT query_id, nbr_id, ${cosQ("qv.e", "nv2.e")} AS sim
  FROM cand JOIN v qv ON qv.vec_id = query_id JOIN v nv2 ON nv2.vec_id = nbr_id)
SELECT query_id, rank, nbr_id, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank
  FROM scored) ranked
WHERE rank <= 5"""
  }

  private lazy val sKnnLshSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS nbr_id
      |  FROM bkt b JOIN bkt q ON b.tbl = q.tbl AND b.bucket = q.bucket
      |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id
      |), rescored AS (
      |  SELECT c.query_id, c.nbr_id,
      |    CAST(floor(list_cosine_similarity(qv.e, nv.e) * 10000) AS BIGINT) AS sim
      |  FROM cand c JOIN v qv ON qv.vec_id = c.query_id
      |  JOIN v nv ON nv.vec_id = c.nbr_id
      |)
      |SELECT query_id, rank, nbr_id, sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, nbr_id) AS rank
      |  FROM rescored
      |) WHERE rank <= 5""".stripMargin

  /** s_knn_binary oracle: the sign-bit code is replayed as a 64-term sum
    * whose i=63 term is Long.MinValue (bit 63 participates like any other
    * because no carry ever reaches it — [[graft.ops.Similarity.signBitCode]]);
    * DuckDB sums in HUGEINT and the final CAST back to BIGINT is exact
    * because the true value is an int64 bit pattern. Hamming = bit_count of
    * the code xor, shortlist = rerank·k = 160 per query by (ham, nbr_id),
    * exact cosine re-ranks the shortlist to k = 5.
    */
  private val sKnnBinarySql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), code AS (
      |  SELECT vec_id, CAST(sum(
      |    CASE WHEN e[i + 1] >= 0 THEN
      |      CASE WHEN i = 63 THEN -9223372036854775808
      |           ELSE (CAST(1 AS BIGINT) << i) END
      |    ELSE 0 END) AS BIGINT) AS c
      |  FROM v, range(64) r(i) GROUP BY vec_id
      |), q AS (
      |  SELECT vec_id AS query_id, c AS qc FROM code WHERE vec_id < 10
      |), short AS (
      |  SELECT query_id, vec_id AS nbr_id FROM (
      |    SELECT q.query_id, code.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY bit_count(xor(q.qc, code.c)), code.vec_id) AS rn
      |    FROM q JOIN code ON code.vec_id <> q.query_id
      |  ) WHERE rn <= 160
      |), qv AS (
      |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10
      |), rescored AS (
      |  SELECT s.query_id, s.nbr_id,
      |    CAST(floor(list_cosine_similarity(qv.qe, v.e) * 10000) AS BIGINT) AS sim
      |  FROM short s JOIN v ON v.vec_id = s.nbr_id
      |  JOIN qv ON qv.query_id = s.query_id
      |)
      |SELECT query_id, rank, nbr_id, sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, nbr_id) AS rank
      |  FROM rescored
      |) WHERE rank <= 5""".stripMargin

  /** s_mmr oracle: the greedy MMR argmax unrolls into k = 5 chained CTEs
    * (selection t scores every unselected pool member as
    * λ·sim − (1−λ)·max-pairwise-sim-to-selected on the same 1e-4-quantized
    * integer basis as [[graft.ops.Similarity.rerankPool]], ties
    * (score desc, nbr_id asc)). Pool and pairwise sims replay the
    * list_cosine_similarity idiom the s_knn_brute oracle already pins.
    */
  private val sMmrSql: String = {
    val steps = (2 to 5).map { t =>
      val prev = (1 until t).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s"""sel$t AS (
         |  SELECT query_id, nbr_id, sim, $t AS rank FROM (
         |    SELECT query_id, nbr_id, sim,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY 700000 * sim - 300000 * red DESC, nbr_id) AS rn
         |    FROM (
         |      SELECT p.query_id, p.nbr_id, p.sim, max(pr.psim) AS red
         |      FROM pool p
         |      JOIN ($prev) s ON s.query_id = p.query_id
         |      JOIN pr ON pr.query_id = p.query_id AND pr.a = p.nbr_id
         |        AND pr.b = s.nbr_id
         |      LEFT JOIN ($prev) x
         |        ON x.query_id = p.query_id AND x.nbr_id = p.nbr_id
         |      WHERE x.nbr_id IS NULL
         |      GROUP BY 1, 2, 3
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), qv AS (
       |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10
       |), pool AS (
       |  SELECT query_id, nbr_id, sim FROM (
       |    SELECT qv.query_id, v.vec_id AS nbr_id,
       |      CAST(floor(list_cosine_similarity(qv.qe, v.e) * 10000) AS BIGINT) AS sim,
       |      row_number() OVER (PARTITION BY qv.query_id
       |        ORDER BY floor(list_cosine_similarity(qv.qe, v.e) * 10000) DESC,
       |          v.vec_id) AS rn
       |    FROM qv JOIN v ON v.vec_id <> qv.query_id
       |  ) WHERE rn <= 50
       |), pr AS (
       |  SELECT a.query_id, a.nbr_id AS a, b.nbr_id AS b,
       |    CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS psim
       |  FROM pool a JOIN pool b ON a.query_id = b.query_id AND a.nbr_id <> b.nbr_id
       |  JOIN v va ON va.vec_id = a.nbr_id JOIN v vb ON vb.vec_id = b.nbr_id
       |), sel1 AS (
       |  SELECT query_id, nbr_id, sim, 1 AS rank FROM (
       |    SELECT query_id, nbr_id, sim,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, nbr_id) AS rn
       |    FROM pool
       |  ) WHERE rn = 1
       |), ${steps.mkString(", ")}
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, nbr_id, sim
       |FROM (${(1 to 5).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("s_rrf_fusion",
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |a AS (SELECT doc_id, count(*) AS tf FROM toks WHERE w = 'spark' GROUP BY 1),
         |ar AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY tf DESC, doc_id) AS r FROM a),
         |b AS (SELECT doc_id, count(*) AS tf FROM toks WHERE w = 'window' GROUP BY 1),
         |br AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY tf DESC, doc_id) AS r FROM b),
         |f AS (SELECT coalesce(ar.doc_id, br.doc_id) AS doc_id,
         |  coalesce(1000000 // (60 + ar.r), 0)
         |    + coalesce(1000000 // (60 + br.r), 0) AS rrf_micro
         |  FROM ar FULL OUTER JOIN br ON ar.doc_id = br.doc_id)
         |SELECT doc_id, rrf_micro,
         |  row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
         |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin)((s, dir) => {
      // hybrid-retrieval merge: reciprocal-rank fusion of two term
      // rankings — rank-only combination (no score calibration), exact
      // integer 1e6/(60+rank) contributions, top-20
      val d = Tables(s, dir).documents
      TextOps.rrfFuse(Seq(
        TextOps.termTfRanking(d, col("doc_id"), col("text"), "spark"),
        TextOps.termTfRanking(d, col("doc_id"), col("text"), "window")))
    }),
    Query("s_boolean_search",
      s"""WITH tf AS (
         |  SELECT doc_id, w, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($tokensExpr) AS w FROM documents)
         |  WHERE w IN ('dup', 'spark', 'window') GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
         |FROM tf GROUP BY doc_id HAVING count(*) = 3""".stripMargin)((s, dir) => {
      // conjunctive boolean retrieval: docs containing ALL of
      // {dup, spark, window} with summed tf — the postings-intersection
      // plan (token stream pruned to query terms before any exchange)
      TextOps.conjunctiveSearch(
        Tables(s, dir).documents, col("doc_id"), col("text"),
        Seq("dup", "spark", "window"))
    }),
    Query("s_phrase_search",
      s"""WITH d AS (SELECT doc_id, $tokensExpr AS w FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    [i for i in range(1, len(w)) if w[i] = 'fast' AND w[i+1] = 'spark'] AS hits
         |  FROM d WHERE len(w) >= 2
         |)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
         |  CAST(hits[1] AS BIGINT) AS first_pos
         |FROM h WHERE len(hits) >= 1""".stripMargin)((s, dir) => {
      // positional phrase retrieval: docs containing the exact token
      // sequence "fast spark" with occurrence count + first position —
      // scan-bound, zero-shuffle (the adjacency test runs inside one
      // codegen'd HOF per row)
      TextOps.phraseSearch(
        Tables(s, dir).documents, col("doc_id"), col("text"), Seq("fast", "spark"))
    }),
    Query("s_mmr", sMmrSql)((s, dir) => {
      // diversity re-rank: MMR over the top-50 exact-cosine pool,
      // lambda=0.7, k=5. ORACLE-CHECKED since round 9: with k fixed the
      // greedy argmax unrolls into 5 chained SQL selection steps on the
      // same integer-quantized basis (sMmrSql); MmrSpec additionally
      // gates first-pick = top-1, subset-of-pool, determinism, and
      // measured redundancy reduction.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.mmrRerank(v, v.filter(col("id") < 10), k = 5, poolSize = 50)
    }),
    // ---- similarity search ----
    Query("s_knn_brute",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10
        |), sims AS (
        |  SELECT query_id, v.vec_id AS nbr_id,
        |    CAST(floor(list_cosine_similarity(qe, e) * 10000) AS BIGINT) AS sim
        |  FROM q JOIN v ON v.vec_id <> query_id
        |)
        |SELECT query_id, rank, nbr_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rank
        |  FROM sims
        |) ranked WHERE rank <= 5""".stripMargin)((s, dir) => {
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.bruteForceTopK(v, v.filter(col("id") < 10), k = 5)
    }),
    Query("s_knn_lsh", sKnnLshSql)((s, dir) => {
      // ORACLE-CHECKED since round 9: the deterministic sign matrix is
      // embedded in sKnnLshSql, so candidates AND ranking replay exactly.
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): recall@5
      // ≥ 0.9 vs s_knn_brute (measured 0.92 at 4 planes × 16 tables; the
      // round-2 single-table formulation measured 0.02 — multi-table OR
      // amplification is what makes sign-LSH usable here).
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.lshTopK(v, v.filter(col("id") < 10), dim = 64, nPlanes = 4, k = 5,
        nTables = 16)
    }),
    Query("s_knn_ivf", sKnnIvfSql)((s, dir) => {
      // IVF coarse-quantizer ANN — ORACLE-CHECKED since round 10 (the
      // deterministic k-means centroids embed as oracle literals;
      // quantized-cosine assignment + probe + exact re-rank replay in
      // sKnnIvfSql); nProbe=4 of 16 lists ~ 4x scan reduction.
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): recall@5
      // >= 0.55 (measured 0.60; 0.66 at sf0.1). The near-uniform test
      // embeddings are IVF's worst case — nProbe=2 measured only 0.42,
      // the wrong side of the recall/scan knee.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.ivfTopK(v, v.filter(col("id") < 10), nLists = 16, nProbe = 4, k = 5)
    }),
    Query("s_knn_pq", sKnnPqSql)((s, dir) => {
      // product-quantization ANN — ORACLE-CHECKED since round 10: the
      // fitted sub-codebooks embed as oracle literals and encode → LUT →
      // ADC → refine → exact re-rank replay end-to-end in sKnnPqSql
      // (every float sum written in the Spark fold order, so ADC scores
      // are bit-identical cross-engine).
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): recall@5
      // >= 0.9 (measured 0.92 at m=16 subspaces x 16 centroids,
      // refine*k=60 exact re-ranks; m=8/refine=4 measured 0.64). The
      // refine candidate count is constant in corpus size — the exact
      // re-rank fraction vanishes as N grows while the ADC scan reads
      // m bytes/vector instead of 4*dim.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.pqTopK(v, v.filter(col("id") < 10),
        m = 16, nCentroids = 16, k = 5, refine = 12)
    }),
    Query("s_knn_binary", sKnnBinarySql)((s, dir) => {
      // binary (sign-bit) ANN: 8-byte Hamming codes scan 32× less than
      // the float vectors, exact cosine re-ranks the rerank·k Hamming
      // shortlist. ORACLE-CHECKED since round 9: codes, Hamming shortlist
      // and re-rank are all deterministic, so sKnnBinarySql replays the
      // whole pipeline. Unlike LSH/IVF nothing is skipped by bucketing —
      // every vector is cheaply examined. Acceptance bar (ApproxGatesSpec,
      // same params, sf0.01): recall@5 >= 0.9 vs s_knn_brute (measured
      // 0.96 at rerank=32; rerank=8 measured 0.64 — 1 sign bit/dim on
      // near-uniform data needs the wide re-rank margin, the documented
      // knee like IVF's nProbe).
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.binaryTopK(v, v.filter(col("id") < 10), dim = 64, k = 5, rerank = 32)
    }),
  )
}
