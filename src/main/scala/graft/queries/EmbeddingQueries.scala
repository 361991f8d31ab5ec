package graft
package queries

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops._

/** `e_*`: embedding-space transforms (norms, k-means, quantization,
  * projections).
  */
object EmbeddingQueries {

  /** Unrolled-SQL oracle for e_kmeans_fit: the full Lloyd trajectory as
    * one CTE chain (the BPE-train discipline — a deterministic training
    * loop replays round by round). Per round n: d{n} computes every
    * (vector, centroid) exact integer distance, a{n} takes the argmin
    * (ties to the lowest list_id — row_number ORDER BY dist, list_id
    * matches NearestCentroid's strict `<`), s{n} re-derives each
    * centroid dim as floor(sum/count) on the same exactly-representable
    * integers, and c{n+1} rebuilds the centroid list, keeping the
    * previous centroid for clusters that received no vectors. The final
    * SELECT re-assigns against the post-loop centroids and aggregates
    * exact integer size + inertia.
    */
  private def kmeansFitOracle(k: Int, iters: Int, dim: Int,
      finalSelect: String =
        """SELECT list_id, count(*) AS size, CAST(sum(dist) AS BIGINT) AS inertia
          |FROM a_FINAL GROUP BY 1""".stripMargin): String = {
    val rangeTbl = s"range(1, ${dim + 1}) r(i)"
    def distCte(n: Int) =
      s"""d$n AS (
         |  SELECT v.id, c.list_id,
         |         (SELECT sum((v.qv[r.i] - c.qc[r.i]) * (v.qv[r.i] - c.qc[r.i]))
         |          FROM $rangeTbl) AS dist
         |  FROM q v CROSS JOIN c$n c
         |), a$n AS (
         |  SELECT id, list_id, dist FROM (
         |    SELECT id, list_id, dist,
         |           row_number() OVER (PARTITION BY id ORDER BY dist, list_id) AS rn
         |    FROM d$n) WHERE rn = 1
         |)""".stripMargin
    def stepCte(n: Int) =
      s"""s$n AS (
         |  SELECT a.list_id, r.i AS pos,
         |         CAST(floor(CAST(sum(v.qv[r.i]) AS DOUBLE) / count(*)) AS BIGINT) AS qc_i
         |  FROM a$n a JOIN q v USING (id) CROSS JOIN $rangeTbl
         |  GROUP BY 1, 2
         |), c${n + 1} AS (
         |  SELECT list_id, list(qc_i ORDER BY pos) AS qc FROM s$n GROUP BY 1
         |  UNION ALL
         |  SELECT c.list_id, c.qc FROM c$n c
         |  WHERE c.list_id NOT IN (SELECT DISTINCT list_id FROM a$n)
         |)""".stripMargin
    val rounds = (0 until iters)
      .map(n => distCte(n) + ",\n" + stepCte(n))
      .mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id AS id,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY __h, id) - 1 AS INTEGER) AS list_id,
       |         qv AS qc
       |  FROM (SELECT id, qv, md5(CAST(id AS VARCHAR)) AS __h
       |        FROM q ORDER BY 3, 1 LIMIT $k)
       |),
       |$rounds,
       |${distCte(iters)}
       |${finalSelect.replace("a_FINAL", s"a$iters")}""".stripMargin
  }

  /** PCA projection digest replay: coords as explicit 64-term
    * left-associated dot products against the embedded basis (the
    * zip_with+fold order), whitened coords divided by the embedded
    * sqrt-eigenvalue literals, then the md5-of-floored-micros digest. */
  private def pcaSql(whiten: Boolean): String = {
    val projs = (0 until 8).map { j =>
      val terms = (1 to 64).map(i =>
        s"(e[$i] - (${FittedArtifacts.pcaMean(i - 1)})) * (${FittedArtifacts.pcaComponents(j)(i - 1)})")
        .mkString(" + ")
      val body =
        if (whiten) s"($terms) / (${FittedArtifacts.pcaWhitenDiv(j)})" else s"($terms)"
      s"$body AS p${j + 1}"
    }.mkString(",\n    ")
    val md5cat = (1 to 8)
      .map(j => s"CAST(CAST(floor(p$j * 1e6) AS BIGINT) AS VARCHAR)")
      .mkString(" || ',' || ")
    val sq = (1 to 8).map(j => s"p$j*p$j").mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (SELECT vec_id,
    $projs
  FROM v)
SELECT vec_id, md5($md5cat) AS proj_md5, CAST(8 AS BIGINT) AS k,
  CAST(floor(($sq) * 1e6) AS BIGINT) AS sq_norm_micro
FROM p"""
  }

  val all: Seq[Query] = Seq(
    Query("e_norms",
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(floor(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])) * 1000000) AS BIGINT)
        |    AS norm_sq_micro
        |FROM embeddings""".stripMargin)((s, dir) => {
      // embedding-store QA: per-vector dim + floored squared norm — the
      // zero/truncated-vector pre-flight; pure projection
      Embeddings.normStats(Tables(s, dir).embeddings, col("vec_id"), col("embedding"))
    }),
    Query("e_centroids",
      """SELECT label, u.pos AS pos,
        |  CAST(sum(CAST(floor(u.v * 1000000) AS BIGINT)) AS DOUBLE)
        |    / 1000000 / count(*) AS mean_v
        |FROM (SELECT label, unnest(list_transform(CAST(embedding AS DOUBLE[]),
        |        (x, i) -> {'pos': i - 1, 'v': x})) AS u
        |      FROM embeddings)
        |GROUP BY label, u.pos""".stripMargin)((s, dir) => {
      // per-label centroid vectors (cluster prototypes): one aggregated
      // exchange at (label, dim) grain; 1e-6 element flooring keeps the
      // sum order-independent and engine-exact
      Embeddings.centroidByKey(
        Tables(s, dir).embeddings, col("label"), col("embedding"))
        .select(col("key").as("label"), col("pos"), col("mean_v"))
    }),
    Query("e_kmeans_fit", kmeansFitOracle(k = 64, iters = 3, dim = 64))((s, dir) => {
      // distributed Lloyd k-means over the FULL embedding corpus (k=64,
      // 3 E/M rounds — production curation balances over many clusters,
      // so the declared fit runs well beyond the old 4-bit pack) — the
      // at-scale fit the sample-bounded IVF codebook fit deliberately
      // isn't. E-step: codegen'd integer NearestCentroid scan (centroids
      // plan-time broadcast; list_id packs in 14 bits, k ≤ 16384);
      // M-step: (cluster, dim) aggregated exchange, driver collects k·d
      // rows. The 1e-6 integer grid makes every distance, argmin, and
      // centroid update bit-identical cross-engine, so the oracle
      // replays the whole fit trajectory as 3 unrolled SQL rounds (the
      // BPE-train discipline). Record: per-cluster size + exact integer
      // inertia from the final assignment — pins the assignment without
      // hashing arrays.
      Embeddings.kMeansFitStats(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"),
        k = 64, iters = 3)
    }),
    Query("e_cluster_sample", kmeansFitOracle(k = 64, iters = 3, dim = 64,
      finalSelect =
        """SELECT id AS vec_id, list_id FROM (
          |  SELECT id, list_id,
          |         row_number() OVER (PARTITION BY list_id
          |                            ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
          |  FROM a_FINAL) WHERE rn <= 4""".stripMargin))((s, dir) => {
      // cluster-balanced subsample: the e_kmeans_fit fit's final
      // assignment capped at 4 members per cluster in (md5(id), id)
      // order — rare clusters survive at full strength, dominant ones
      // are capped (the embedding-space diversity draw uniform md5
      // sampling can't express). Rank exchange on list_id with
      // WindowGroupLimit pre-pruning; the oracle replays fit +
      // assignment + draw end-to-end.
      Embeddings.kMeansBalancedSample(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"),
        k = 64, iters = 3, n = 4)
        .select(col("id").as("vec_id"), col("list_id"))
    }),
    Query("e_quantize_int8",
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), s AS (
        |  SELECT vec_id, e, CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS scale
        |  FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v)
        |), q AS (
        |  SELECT vec_id, list_transform(e, x ->
        |    greatest(-127, least(127, CAST(floor(x * scale + 0.5) AS BIGINT)))) AS q
        |  FROM s
        |)
        |SELECT vec_id, md5(array_to_string(q, ',')) AS q_md5,
        |  CAST(list_min(q) AS BIGINT) AS q_min,
        |  CAST(list_max(q) AS BIGINT) AS q_max,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(len(list_filter(q, x -> x <> 0)) AS BIGINT) AS q_nnz
        |FROM q""".stripMargin)((s, dir) => {
      // symmetric int8 quantization of the embedding store, pinned
      // element-exactly via the md5 digest of the quantized vector
      Embeddings.quantizeInt8Digest(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"), col("q_md5"), col("q_min"), col("q_max"),
          col("q_sum"), col("q_nnz"))
    }),
    Query("e_pca", pcaSql(whiten = false))((s, dir) => {
      // PCA compression of the embedding store to k=8: two treeAggregate
      // passes fit the basis (O(dim²) driver artifact, corpus never
      // collected), projection is a pure per-row HOF. ORACLE-CHECKED
      // since round 10: the deterministic basis (sign-pinned eigenvectors
      // + means) embeds as oracle literals and the projection digest
      // replays as explicit fold-order dot products (pcaSql); PcaSpec
      // still gates orthonormality, planted-direction recovery,
      // dense-projection equality, and digest stability.
      val e = Tables(s, dir).embeddings
      val b = Embeddings.pcaBasis(e, col("embedding"), k = 8)
      Embeddings.pcaProjectDigest(e, col("vec_id"), col("embedding"), b)
        .select(col("id").as("vec_id"), col("proj_md5"), col("k"), col("sq_norm_micro"))
    }),
    Query("e_whiten", pcaSql(whiten = true))((s, dir) => {
      // whitened PCA projection (unit variance per retained direction —
      // the preprocessing that makes cosine/L2 treat every direction
      // equally before SemDeDup/ANN). Same gates as e_pca plus the
      // unit-variance check in PcaSpec.
      val e = Tables(s, dir).embeddings
      val b = Embeddings.pcaBasis(e, col("embedding"), k = 8)
      Embeddings.pcaProjectDigest(e, col("vec_id"), col("embedding"), b, whiten = true)
        .select(col("id").as("vec_id"), col("proj_md5"), col("k"), col("sq_norm_micro"))
    }),
    Query("e_jl_project",
      """WITH s AS (
        |  SELECT j.range AS j, i.range AS i,
        |    CASE WHEN substr(md5('jl:' || CAST(j.range AS VARCHAR) || ':'
        |        || CAST(i.range AS VARCHAR)), 1, 1) < '8'
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM range(16) j, range(64) i
        |), e AS (
        |  SELECT vec_id, u.i AS i, CAST(floor(u.x * 1000000) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, unnest(list_transform(CAST(embedding AS DOUBLE[]),
        |          (x, i) -> {'i': i - 1, 'x': x})) AS u
        |        FROM embeddings)
        |)
        |SELECT e.vec_id, s.j AS pos, CAST(sum(s.sgn * e.xq) AS BIGINT) AS y_micro
        |FROM e JOIN s ON s.i = e.i
        |GROUP BY 1, 2""".stripMargin)((s, dir) => {
      // Johnson–Lindenstrauss ±1 projection to k=16 — the NO-TRAINING
      // scale path next to e_pca's fitted basis: hash-derived Rademacher
      // matrix, one codegen'd projection pass, zero fit jobs. Elements
      // floor to micro FIRST so every output coord is an exact integer
      // sum — oracle-exact (DuckDB replays the md5 sign matrix);
      // JlProjectionSpec gates the distance-preservation property.
      Embeddings.jlProject(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"), dim = 64, k = 16)
        .select(col("id").as("vec_id"), col("pos"), col("y_micro"))
    }),
    Query("e_truncate",
      """WITH t AS (
        |  SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), 1, 16) AS t
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, t,
        |    sqrt(list_sum(list_transform(t, x -> x * x))) AS nrm FROM t
        |), r AS (
        |  SELECT vec_id,
        |    CASE WHEN nrm > 0 THEN list_transform(t, x -> x / nrm) ELSE t END AS r
        |  FROM n
        |)
        |SELECT vec_id,
        |  md5(array_to_string(list_transform(r,
        |    x -> CAST(floor(x * 1000000) AS BIGINT)), ',')) AS proj_md5,
        |  CAST(len(r) AS BIGINT) AS k,
        |  CAST(floor(list_sum(list_transform(r, x -> x * x)) * 1000000) AS BIGINT)
        |    AS sq_norm_micro
        |FROM r""".stripMargin)((s, dir) => {
      // matryoshka truncate-to-16 + L2 renorm: the MRL serving trick
      // (k/dim ANN cost cut); digest pins every renormalized element
      Embeddings.truncateRenormDigest(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"), k = 16)
        .select(col("id").as("vec_id"), col("proj_md5"), col("k"),
          col("sq_norm_micro"))
    }),
  )
}
