package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables
import graft.ops._

/** Builder and oracle fragments used by more than one query family. */
object Fragments {

  /** Exact money arithmetic: decimal-cast before aggregation so the sum is
    * order-independent (double summation is not associative; decimal is),
    * then one cast to double at the end — bit-identical across engines.
    */
  private[queries] def discPrice: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount")).cast(DecimalType(18, 4))

  private[queries] def embeddingsIdVec(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** events in the [[graft.streaming.KeyedEvent]] shape the streaming
    * state machines consume (key = user, kind = event_type). */
  private[queries] def keyedEventsFrame(t: Tables): DataFrame =
    t.events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))

  private[queries] val tokensExpr = "string_split_regex(trim(text), '\\s+')"

  private[queries] val stopList =
    TextOps.EnStopwords.map(w => s"'$w'").mkString("(", ",", ")")

  private[queries] val stopCntExpr =
    s"len(list_filter($tokensExpr, t -> t IN $stopList))"

  private[queries] val fpExpr = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  private[queries] val shinglesExpr =
    """CASE WHEN len(w) >= 3
      |  THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
      |  ELSE [array_to_string(w, ' ')] END""".stripMargin

  private[queries] val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))"

  // ---- round-10: fitted-artifact oracle replays ----------------------
  // The gate-scale (sf0.01) trained model artifacts — IVF/k-means
  // centroids, PQ sub-codebooks, the PCA basis — are deterministic
  // (md5-ordered bounded samples, sequential driver loops, no RNG;
  // FittedArtifactsSpec pins refit == literal), so they embed in oracle
  // SQL as literals (the round-9 LSH-sign-matrix precedent) and the
  // whole assignment / ADC / projection pipeline replays relationally.
  // Every float expression below is written in the EXACT accumulation
  // order the Spark side uses (explicit left-associated term sums
  // mirroring the sequential folds), so doubles are bit-identical
  // cross-engine before the integer flooring.

  private[queries] def sqlList(a: Array[Double]): String = a.mkString("[", ", ", "]")

  private[queries] def cosQ(a: String, b: String): String =
    s"CAST(floor(list_cosine_similarity($a, $b) * 10000) AS BIGINT)"

  /** Shared centroid-assignment CTE prefix: every vector ranked against
    * the 16 fitted centroids by quantized cosine (desc, list_id
    * tie-break) — r = 1 is the IVF list assignment, r <= nProbe the
    * multi-probe set. Mirrors ivfTopK.nearestLists exactly. */
  private[queries] lazy val centAssignCte: String = {
    val vals = FittedArtifacts.ivfCentroids.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlList(c)})" }.mkString(", ")
    s"""cent(list_id, c) AS (VALUES $vals),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
rk AS (
  SELECT vec_id, e, list_id,
    row_number() OVER (PARTITION BY vec_id
      ORDER BY ${cosQ("e", "c")} DESC, list_id) AS r
  FROM v, cent)"""
  }

  /** Sign-LSH oracle plumbing (round 9): the hyperplanes are a
    * deterministic compile-time constant (splitmix64 of (seed, plane,
    * dim)), so the oracle SQL can replay the exact sign matrix from
    * embedded '+'/'-' literals — turning the sign-LSH paths from
    * recall-gated into oracle-checked. DuckDB's `list_dot_product` folds
    * sequentially like [[org.apache.spark.sql.graft.SignProjectionBucket]],
    * so the per-plane projections (and their `>= 0` sign bits) agree
    * bit-for-bit.
    */
  private[queries] def lshSignValues(nTables: Int, nPlanes: Int, dim: Int): String =
    (0 until nTables).flatMap { t =>
      graft.ops.Similarity
        .hyperplaneSignStrings(42L + t * 7919L, nPlanes, dim)
        .zipWithIndex
        .map { case (s, p) => s"($t, $p, '$s')" }
    }.mkString(",\n    ")

  /** Shared bucket CTE for the 4-plane × 16-table sign-LSH queries
    * (s_knn_lsh, d_dedup_embed_lsh — both declared with these params). */
  private[queries] lazy val lshBucketCte: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), sg(tbl, plane, ss) AS (VALUES
       |    ${lshSignValues(16, 4, 64)}
       |), bkt AS (
       |  SELECT vec_id, tbl,
       |    CAST(sum(CASE WHEN list_dot_product(e, list_transform(range(64),
       |      j -> CASE WHEN substring(ss, CAST(j + 1 AS INT), 1) = '+'
       |           THEN 1.0 ELSE -1.0 END)) >= 0
       |      THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM v, sg GROUP BY 1, 2
       |)""".stripMargin

  /** [[minhashSigCtes]] without the leading WITH, for embedding the
    * signature/band CTEs mid-chain (the ingest-gate oracle). */
  private[queries] def minhashSigBody(rel: String): String = {
    val params = graft.ops.Dedup.hashParams(64, 42L)
      .zipWithIndex.map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(",\n    ")
    s"""d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM $rel
       |), g AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM d
       |), hs AS (
       |  SELECT doc_id, list_distinct(list_transform(sh,
       |    s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT))) AS hh
       |  FROM g
       |), hr AS (
       |  SELECT doc_id, unnest(hh) AS h32 FROM hs
       |), p(i, pa, pb) AS (VALUES
       |    $params
       |), sig AS (
       |  SELECT doc_id, i, min((h32 * pa + pb) % 4294967311) AS m
       |  FROM hr, p GROUP BY 1, 2
       |), band AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS bh
       |  FROM sig GROUP BY 1, 2
       |)""".stripMargin
  }
}
