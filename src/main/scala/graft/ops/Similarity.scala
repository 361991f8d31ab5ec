package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: random-
  * hyperplane LSH bucketing so each probe only scans its bucket.
  * All vector math is pure column expressions (`zip_with`/`aggregate`),
  * codegen'd — no UDF, no driver-side collect.
  */
object Similarity {

  /** Dot product of two array<double> columns (sequential left fold —
    * deterministic order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))

  /** Fused codegen'd cosine ([[graft.functions.CosineSim]]); same
    * accumulation order as the `aggregate(zip_with(...))` formulation it
    * replaced, so quantized values are bit-identical.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.cosineSim(a, b)

  /** Quantize a similarity to integer basis points (floor(x*1e4)).
    * Cross-engine float accumulation differs in final ulps; an integer
    * quantization is hash-stable where a rounded double's bit pattern may
    * not be. Ordering/thresholding happens on the quantized value.
    */
  def quantize(sim: Column): Column = floor(sim * 10000).cast("long")

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `corpus` and `queries` need (id, vec) columns; vec is cast to
    * array<double>. The queries side is broadcast (small probe set against
    * a huge corpus is the common shape), so the scan over the corpus is a
    * single pass with no shuffle until the per-query top-k aggregation —
    * which carries only k·|queries| rows. A query is never its own
    * neighbour, here and in the approximate top-k functions below.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int): DataFrame = {
    val c = corpus.select(col("id").as("nbr_id"), col("vec").cast("array<double>").as("nbr_vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").cast("array<double>").as("q_vec"))
    val joined = c
      .join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("sim", quantize(cosine(col("q_vec"), col("nbr_vec"))))
    TopN
      .perPartition(
        joined,
        partition = Seq(col("query_id")),
        order = Seq(col("sim").desc, col("nbr_id").asc),
        n = k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("sim"))
  }

  /** Deterministic random hyperplanes: `planes(i)(j)` ∈ {-1, +1} via
    * splitmix64 of (seed, i, j). Sign-random projections are enough for
    * cosine LSH and keep the planes reproducible with no RNG state.
    */
  private def hyperplaneSign(seed: Long, plane: Int, dim: Int): Double = {
    var z = seed + plane.toLong * 0x9e3779b97f4a7c15L + dim.toLong * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** The sign matrix as '+'/'-' strings, one per plane (char j = sign of
    * dim j) — lets an external SQL oracle replay the exact hyperplanes:
    * the planes are a deterministic compile-time constant, so embedding
    * them in oracle SQL as literals makes the sign-LSH paths
    * (s_knn_lsh, d_dedup_embed_lsh) oracle-checkable instead of
    * recall-gated.
    */
  def hyperplaneSignStrings(seed: Long, nPlanes: Int, dim: Int): Seq[String] =
    (0 until nPlanes).map { p =>
      (0 until dim).map(j => if (hyperplaneSign(seed, p, j) > 0) '+' else '-').mkString
    }

  /** LSH bucket id: `nPlanes`-bit signature of random-hyperplane signs.
    * Native codegen'd expression ([[org.apache.spark.sql.graft
    * .SignProjectionBucket]]) with the sign matrix baked in at plan time;
    * same per-plane fold order as the column-tree formulation it replaced.
    */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long = 42L): Column = {
    val signs = Array.tabulate(nPlanes * dim)(i => hyperplaneSign(seed, i / dim, i % dim))
    org.apache.spark.sql.graft.VectorFunctions.signProjectionBucket(vec, signs, nPlanes, dim)
  }

  /** Approximate top-k: probe only the buckets the query hashes into.
    * Multi-table (OR-amplified) LSH — `nTables` independent sign-hash
    * bucketings; a corpus vector is scanned if it shares a bucket with the
    * query in ANY table. One bucketing alone misses most true neighbors
    * unless they are near-identical (measured recall@5 ≈ 0.02 on the
    * testdata embeddings with 8 planes / 1 table); OR-ing tables recovers
    * recall at the cost of scanning ~nTables·N/2^planes candidates per
    * query. Gate: recall@5 floor vs [[bruteForceTopK]] in ApproxGatesSpec.
    *
    * NOTE the `nTables = 8` default (changed from the single-table
    * round-2 formulation): recall and candidate-scan cost both scale
    * ~linearly in nTables, so callers should treat (nPlanes, nTables) as
    * one tuning pair — the declared queries pin 4 planes × 16 tables
    * explicitly, and docs/SCALE.md carries the measured recall/cost
    * table.
    *
    * Shuffle shape: the (table, bucket) equi-join carries ids only;
    * vectors join back for the verify/scoring step — at 100 TB the wide
    * embedding arrays never cross the candidate exchange.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      dim: Int,
      nPlanes: Int,
      k: Int,
      nTables: Int = 8,
      seed: Long = 42L): DataFrame = {
    val c = corpus.select(
      col("id").as("nbr_id"),
      col("vec").cast("array<double>").as("nbr_vec"))
    val q = queries.select(
      col("id").as("query_id"),
      col("vec").cast("array<double>").as("q_vec"))
    def banded(df: DataFrame, idCol: String, vecCol: String) = df.select(
      col(idCol),
      posexplode(array((0 until nTables).map(t =>
        lshBucket(col(vecCol), dim, nPlanes, seed + t * 7919L)): _*)).as(Seq("tbl", "bucket")))
    val cand = banded(c, "nbr_id", "nbr_vec")
      .join(broadcast(banded(q, "query_id", "q_vec")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"))
      .distinct()
    val joined = cand
      .join(c, "nbr_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", quantize(cosine(col("q_vec"), col("nbr_vec"))))
    TopN
      .perPartition(
        joined,
        partition = Seq(col("query_id")),
        order = Seq(col("sim").desc, col("nbr_id").asc),
        n = k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("sim"))
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    * path: k-means centroids partition the corpus into `nLists` lists;
    * each query scans only its `nProbe` nearest lists. `nProbe == nLists`
    * degenerates to exact brute force (the recall knob is explicit).
    *
    * Assignment is cosine-argmax against the k-means anchors (spherical-
    * kmeans-style; the fit itself is euclidean — anchors only need to be
    * consistent between corpus and probes, which they are by construction).
    * The argmax ranks on the QUANTIZED cosine (floor 1e-4, list_id
    * tie-break) — the same integer the record carries — so assignment is
    * replayable in oracle SQL against the fitted centroid literals
    * (round 10; raw-double ranking was engine-private).
    *
    * Shuffle shape: one k-means fit (sampled), one pass assigning corpus
    * vectors to lists (broadcast centroids, native cosine argmax), then a
    * (list-id) equi-join of probes against lists — hash-partitioned, never
    * all-pairs. List sizes ~N/nLists; skewed lists are AQE's problem.
    */
  /** Deterministic driver-side Lloyd loop over a bounded sample — the
    * SHARED index-build for [[ivfTopK]], [[semanticDedupPairs]] and
    * [[pqTopK]]'s sub-codebooks. Init = the first `kC` sample points in
    * md5 order, `iters` fixed sweeps, empty clusters keep their previous
    * centroid, ties in the argmin go to the lowest centroid index. No
    * RNG, no distributed float accumulation (the sample collects in a
    * total md5 order and the loop is sequential) — the fitted model is
    * bit-reproducible across runs and partitionings, which is what lets
    * the gate-scale artifacts be embedded in oracle SQL as literals
    * (round-10 swap from spark.ml KMeans, whose distributed float sums
    * were run-stable only by accident of partitioning).
    */
  private[graft] def lloydFit(
      points: Array[Array[Double]], kC: Int, iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "lloydFit: empty sample")
    val d = points.head.length
    var cents = points.take(kC).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](d))
      val cnts = new Array[Int](cents.length)
      for (p <- points) {
        var best = 0; var bd = Double.MaxValue
        for (ci <- cents.indices) {
          var s = 0.0; var j = 0
          while (j < d) { val t = p(j) - cents(ci)(j); s += t * t; j += 1 }
          if (s < bd) { bd = s; best = ci }
        }
        cnts(best) += 1
        val su = sums(best); var j = 0
        while (j < d) { su(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(cents.length)(ci =>
        if (cnts(ci) > 0) sums(ci).map(_ / cnts(ci)) else cents(ci))
    }
    cents
  }

  /** Bounded deterministic fit sample: the first `fitSample` vectors in
    * (md5(id), id) order — a total order any engine can replay. The
    * collect is O(fitSample·dim), constant in corpus size (the PQ
    * index-build posture: a codebook is a model artifact, not data).
    */
  private[graft] def sampleVectors(
      v: DataFrame, idCol: String, vecCol: String, fitSample: Int): Array[Array[Double]] =
    v.select(
        col(vecCol).cast("array<double>").as("__v"),
        md5(col(idCol).cast("string")).as("__h"),
        col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id"))
      .limit(fitSample)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)

  /** The fitted full-dim centroids as an array — exposed so the oracle
    * artifact dump ([[graft.FitDump]]) and the assignment path run the
    * SAME deterministic fit. */
  private[graft] def fitCentroidsArray(
      v: DataFrame, idCol: String, vecCol: String, k: Int,
      fitSample: Int = 2048, iters: Int = 10): Array[Array[Double]] =
    lloydFit(sampleVectors(v, idCol, vecCol, fitSample), k, iters)

  /** K-means codebook as a broadcastable (list_id, cent) frame — the
    * shared index build for [[ivfTopK]] and [[semanticDedupPairs]],
    * backed by the deterministic [[lloydFit]]. */
  private def fitCentroids(
      v: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val cents = fitCentroidsArray(v, idCol, vecCol, k)
      .zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
    v.sparkSession.createDataFrame(cents).toDF("list_id", "cent")
  }

  /** Multi-probe centroid assignment: each row joined to the broadcast
    * codebook, ranked by quantized cosine (desc, list_id tie-break — the
    * replayable integer ranking), keep the `n` nearest lists. Shared by
    * [[ivfTopK]] and [[crossCorpusCosinePairsIVF]]; mirrors the oracle's
    * centroid-assignment CTE exactly. */
  private def nearestLists(centDf: DataFrame)(
      df: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame =
    df.join(broadcast(centDf))
      .withColumn("__sim", quantize(cosine(col(vecCol), col("cent"))))
      .withColumn(
        "__r",
        row_number().over(Window.partitionBy(col(idCol)).orderBy(col("__sim").desc, col("list_id"))))
      .filter(col("__r") <= n)
      .drop("cent", "__sim", "__r")

  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      nLists: Int,
      nProbe: Int,
      k: Int): DataFrame = {
    val c = corpus.select(col("id").as("nbr_id"), col("vec").cast("array<double>").as("nbr_vec"))
    val centDf = fitCentroids(c, "nbr_id", "nbr_vec", nLists)

    val listed = nearestLists(centDf)(c, "nbr_id", "nbr_vec", 1)
    val q = queries.select(col("id").as("query_id"), col("vec").cast("array<double>").as("q_vec"))
    val probes = nearestLists(centDf)(q, "query_id", "q_vec", nProbe)
    val joined = probes
      .join(listed, "list_id")
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("sim", quantize(cosine(col("q_vec"), col("nbr_vec"))))
    TopN
      .perPartition(joined, Seq(col("query_id")), Seq(col("sim").desc, col("nbr_id").asc), k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("sim"))
  }

  /** Product-quantization ANN — the memory-bound scale path: vectors are
    * unit-normalized, split into `m` subspaces of dim/m dims, each
    * subspace k-means'd into `nCentroids` codes (index build: m
    * sample-trained Lloyd loops). The scan then touches only the m-byte
    * code arrays: ADC
    * (asymmetric distance computation) scores a (query, code) pair as
    * Σ_s lut[s][code_s] where the per-query LUT carries the query's
    * sub-dot against every centroid — on unit vectors, ADC dot ≈ cosine.
    * The top `refine·k` ADC candidates per query re-rank by EXACT cosine
    * (the standard refine step), so emitted sims are exact and only the
    * candidate CHOICE is approximate — recall floor gated in
    * ApproxGatesSpec.
    *
    * Cost model at 100 TB: the full-corpus scan reads m bytes/vector
    * instead of 4·dim (m=8 over dim=64 float ⇒ 32× less memory
    * bandwidth), the broadcast carries |queries|·m·nCentroids LUT
    * doubles, and only refine·k·|queries| rows re-join the raw vectors.
    * Codebooks live in the plan as literals — no per-row shuffle at all
    * until the per-query top-k fold.
    */
  /** Unit-normalize an array<double> column; zero vectors pass through
    * (divide by 1). Exposed for the PQ fit + oracle artifact dump. */
  private[graft] def unitNorm(v: Column): Column = {
    val n = l2norm(v)
    val safe = when(n > 0, n).otherwise(lit(1.0d)) // zero vectors stay zero
    // bind the norm once per row: referenced bare inside the interpreted
    // lambda it re-runs its aggregate pass PER ELEMENT (dim× redundant —
    // the Cols.bindOnce pathology). Same divide, same bits.
    Cols.bindOnce(safe)(s => transform(v, x => x / s))
  }

  /** The m fitted PQ sub-codebooks — exposed so [[graft.FitDump]] and
    * [[pqTopK]] run the SAME deterministic fit ([[lloydFit]] per
    * subspace over the shared md5-ordered sample of unit-normalized
    * vectors). `c` needs (nbr_id, nv) columns. */
  private[graft] def pqFitCodebooks(
      c: DataFrame, m: Int, nCentroids: Int, fitSample: Int): Seq[Seq[Seq[Double]]] = {
    val sample = sampleVectors(c, "nbr_id", "nv", fitSample)
    require(sample.nonEmpty, "pqTopK: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must be a multiple of m=$m")
    val d = dim / m
    (0 until m).map { s =>
      lloydFit(sample.map(_.slice(s * d, s * d + d)), nCentroids, iters = 10)
        .map(_.toSeq).toSeq
    }
  }

  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      m: Int,
      nCentroids: Int,
      k: Int,
      refine: Int = 4,
      fitSample: Int = 2048): DataFrame = {
    def unit(v: Column): Column = unitNorm(v)
    val c = corpus.select(
      col("id").as("nbr_id"),
      col("vec").cast("array<double>").as("nbr_vec"),
      unit(col("vec").cast("array<double>")).as("nv"))
    // Index build: train the m sub-codebooks with the shared
    // deterministic [[lloydFit]] over a BOUNDED md5-ordered sample — PQ
    // codebooks are a model artifact, and the collect is
    // O(fitSample·dim), constant in corpus size. Distributed k-means
    // here cost m full fits (measured 16×~6 s at sf0.1) for identical
    // codebook quality; training on a sample is the standard PQ index
    // build. Fully deterministic: hash-ordered sample, init from the
    // sample's hash order, no RNG — embeddable as oracle literals.
    val codebooks: Seq[Seq[Seq[Double]]] = pqFitCodebooks(c, m, nCentroids, fitSample)
    val d = codebooks.head.head.length
    // native codegen'd encode + ADC (org.apache.spark.sql.graft.{PqCodes,
    // AdcScore}); the HOF formulations they replaced are interpreted
    // (CodegenFallback) and were the whole scan cost — bit-equality of
    // native vs HOF codes/scores is pinned in OpsSpec
    val flat = codebooks.flatten.flatten.toArray
    val codes = c.select(
      col("nbr_id"),
      org.apache.spark.sql.graft.VectorFunctions
        .pqCodes(col("nv"), flat, m, nCentroids, d).as("codes"))
    val q = queries.select(
      col("id").as("query_id"),
      col("vec").cast("array<double>").as("q_vec"),
      unit(col("vec").cast("array<double>")).as("qn"))
    def lutCol(s: Int): Column = {
      val cb = typedlit(codebooks(s))
      transform(cb, cent => dot(slice(col("qn"), s * d + 1, d), cent))
    }
    val qLut = q.select(
      col("query_id"), col("q_vec"),
      array((0 until m).map(lutCol): _*).as("lut")) // |queries| rows: HOFs fine here
    val adc = codes
      .join(broadcast(qLut), col("query_id") =!= col("nbr_id"))
      .withColumn(
        "__adc",
        org.apache.spark.sql.graft.VectorFunctions.adcScore(col("lut"), col("codes")))
    val cands = TopN
      .perPartition(adc, Seq(col("query_id")), Seq(col("__adc").desc, col("nbr_id").asc),
        refine * k)
      .select(col("query_id"), col("q_vec"), col("nbr_id"))
    val exact = cands
      .join(c.select(col("nbr_id"), col("nbr_vec")), "nbr_id")
      .withColumn("sim", quantize(cosine(col("q_vec"), col("nbr_vec"))))
    TopN
      .perPartition(exact, Seq(col("query_id")), Seq(col("sim").desc, col("nbr_id").asc), k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("sim"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick k of the `poolSize` most-relevant candidates,
    * trading relevance against redundancy —
    * `argmax λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — so the
    * final k cover the query's neighborhood instead of returning k
    * near-copies of the same answer (the retrieval-diversity step RAG
    * stacks run after ANN). λ arrives in micro-units; all scoring is
    * integer (quantized 1e-4 sims × micro weights), ties break
    * (score desc, nbr_id asc) — fully deterministic, same-output on
    * every engine and run.
    *
    * Scale: candidate generation is [[bruteForceTopK]] (swap in
    * [[binaryTopK]]/[[pqTopK]] upstream at corpus scale — any
    * (query_id, nbr_id, sim) pool works via `rerankPool`); the greedy
    * loop runs per query over poolSize vectors inside `flatMapGroups` —
    * O(poolSize·k) fused dot products on a bounded group, the same
    * bounded-driver-artifact posture as PQ codebooks except it never
    * even reaches the driver.
    */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      poolSize: Int,
      lambdaMicro: Long = 700000L): DataFrame =
    rerankPool(
      bruteForceTopK(corpus, queries, poolSize),
      corpus, k, lambdaMicro)

  /** [[mmrRerank]] over a caller-supplied candidate pool
    * ((query_id, nbr_id, sim) rows, sim quantized 1e-4) — the seam that
    * lets LSH/IVF/PQ/binary candidates feed the same diversity pass.
    */
  def rerankPool(
      pool: DataFrame,
      corpus: DataFrame,
      k: Int,
      lambdaMicro: Long): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(lambdaMicro >= 0L && lambdaMicro <= 1000000L, "lambdaMicro in [0, 1e6]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col("id").as("nbr_id"), col("vec").cast("array<double>").as("nbr_vec"))
    // single-pass fused dot+norms, the CosineSim accumulation order —
    // pair sims quantize identically to the column path
    def qcos(a: Array[Double], b: Array[Double]): Long = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      math.floor(sim * 10000).toLong
    }
    pool
      .join(c, "nbr_id")
      .select(col("query_id").cast("long"), col("nbr_id").cast("long"),
        col("sim").cast("long"), col("nbr_vec"))
      .as[(Long, Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.map(t => (t._2, t._3, t._4.toArray)).toArray
          .sortBy(t => (-t._2, t._1))
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val remaining = scala.collection.mutable.LinkedHashSet(cands.indices: _*)
        while (selected.size < k && remaining.nonEmpty) {
          var bestIdx = -1
          var bestScore = Long.MinValue
          for (i <- remaining) {
            val redundancy =
              if (selected.isEmpty) 0L
              else selected.iterator.map(s => qcos(cands(i)._3, cands(s)._3)).max
            val score = lambdaMicro * cands(i)._2 - (1000000L - lambdaMicro) * redundancy
            // ties: score desc, then nbr_id asc (cands sorted by id within
            // equal sim, and LinkedHashSet preserves that iteration order)
            if (score > bestScore ||
              (score == bestScore && (bestIdx < 0 || cands(i)._1 < cands(bestIdx)._1))) {
              bestScore = score; bestIdx = i
            }
          }
          selected += bestIdx
          remaining -= bestIdx
        }
        selected.iterator.zipWithIndex.map { case (ci, r) =>
          (qid, (r + 1).toLong, cands(ci)._1, cands(ci)._2)
        }
      }
      .toDF("query_id", "rank", "nbr_id", "sim")
  }

  /** Packed sign-bit binary code of a vector: word `w` holds bits
    * `[w·64, min(dim, (w+1)·64))`, bit i set iff `vec[i] >= 0`. Pure
    * codegen'd HOFs: each word is a `zip_with` of the dim-slice against a
    * literal power-of-two array folded by `+` — the powers are distinct
    * bits, so integer addition IS bitwise-or (no carries), and the result
    * is deterministic on every engine. The top bit of a full word is
    * `1L << 63` (= Long.MinValue as a literal); it participates like any
    * other bit because no carry ever reaches it.
    */
  def signBitCode(vec: Column, dim: Int): Column = {
    require(dim > 0, "need dim > 0")
    val nWords = (dim + 63) / 64
    array((0 until nWords).map { w =>
      val width = math.min(64, dim - w * 64)
      val powers = array((0 until width).map(i => lit(1L << i)): _*)
      aggregate(
        zip_with(slice(vec, w * 64 + 1, width), powers,
          (x, p) => when(x >= 0, p).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc + b)
    }: _*)
  }

  /** Approximate top-k by BINARY (sign-bit) quantization + Hamming scan +
    * exact re-rank — the "binary embeddings" retrieval path: each vector
    * compresses to dim/8 bytes of sign bits; candidate generation scans
    * codes only (Hamming distance = summed `bit_count(xor)` per word, a
    * handful of ALU ops vs 2·dim FLOPs), keeps the `rerank·k` Hamming-
    * nearest per query, and re-scores ONLY those with exact cosine. For
    * 64-dim float vectors the candidate scan reads 8 B/vector instead of
    * 256 B — a 32× scan-bandwidth cut that, unlike LSH/IVF, misses NOTHING
    * from bucketing: every corpus vector is (cheaply) examined, so recall
    * degrades only through sign-quantization ranking error, recovered by
    * the exact re-rank margin. Gate: recall@k floor vs [[bruteForceTopK]]
    * in ApproxGatesSpec.
    *
    * Shuffle shape: the Hamming scan joins corpus CODES against broadcast
    * query codes — the wide vectors never enter the scan frame; exact
    * vectors join back for the `rerank·k·|queries|` shortlist only. At
    * 100 TB the code table is corpus/32 bytes and the re-rank fraction
    * vanishes as N grows (same asymptotic posture as [[pqTopK]]'s refine,
    * with a simpler index: no codebooks to train, fully deterministic).
    */
  def binaryTopK(
      corpus: DataFrame,
      queries: DataFrame,
      dim: Int,
      k: Int,
      rerank: Int = 8): DataFrame = {
    require(k > 0 && rerank > 0, "need positive k and rerank")
    val c = corpus.select(col("id").as("nbr_id"), col("vec").cast("array<double>").as("nbr_vec"))
    val q = queries.select(col("id").as("query_id"), col("vec").cast("array<double>").as("q_vec"))
    val cCodes = c.select(col("nbr_id"), signBitCode(col("nbr_vec"), dim).as("nbr_code"))
    val qCodes = q.select(col("query_id"), signBitCode(col("q_vec"), dim).as("q_code"))
    val scanned = cCodes
      .join(broadcast(qCodes), col("query_id") =!= col("nbr_id"))
      .withColumn("ham",
        aggregate(
          zip_with(col("q_code"), col("nbr_code"),
            (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x))
    val shortlist = TopN
      .perPartition(
        scanned,
        partition = Seq(col("query_id")),
        order = Seq(col("ham").asc, col("nbr_id").asc),
        n = rerank * k)
      .select(col("query_id"), col("nbr_id"))
    val rescored = shortlist
      .join(c, "nbr_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", quantize(cosine(col("q_vec"), col("nbr_vec"))))
    TopN
      .perPartition(
        rescored,
        partition = Seq(col("query_id")),
        order = Seq(col("sim").desc, col("nbr_id").asc),
        n = k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("sim"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).
    * Brute-force N²/2 comparison expressed as a self-join — correct
    * baseline; for huge N switch blocking to [[lshBucket]] equality first
    * (same verify step), trading recall for a 2^planes fan-in cut.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double): DataFrame = {
    // Spread the streamed side of the N² nested-loop join across all cores
    // (round 15): AQE's size-based coalescing sees a few KB of vectors and
    // folds the stream side to ONE partition, but the work behind each row
    // is |V| cosines — the measured 2.9 s single-task stage of d_dedup_bow.
    // Width follows defaultParallelism (cores), not a constant.
    val p = df.sparkSession.sparkContext.defaultParallelism
    val v = df.select(col("id"), col("vec").cast("array<double>").as("v"))
    v.repartition(p).as("l")
      .join(v.as("r"), col("l.id") < col("r.id"))
      .withColumn("sim", quantize(cosine(col("l.v"), col("r.v"))))
      .filter(col("sim") >= lit((threshold * 10000).toLong))
      .select(col("l.id").as("a"), col("r.id").as("b"), col("sim"))
  }

  /** LSH-blocked near-dup pairs — the scale path for
    * [[cosineNearDupPairs]]: candidates must share at least one of
    * `nTables` sign-hash buckets (multi-table LSH: OR over tables recovers
    * the recall a single bucketing loses), then exact cosine verification
    * on candidates only. Same output schema/quantization as brute force,
    * probabilistic recall. The pair space is an equi-join on (table,
    * bucket), i.e. hash-partitioned shuffles — never N².
    *
    * `df` is referenced FOUR times in the plan (both banding sides, two
    * verify-join sides). A cheap scan re-reads for free; if the vectors
    * come from an expensive pipeline (e.g. tokenize→hash→agg BoW),
    * materialize first — `.cache()` locally, a parquet write at cluster
    * scale — or the upstream recomputes 4× (measured 18× the candidate
    * cost at sf0.1; see docs/SCALE.md).
    */
  def cosineNearDupPairsLSH(
      df: DataFrame,
      threshold: Double,
      dim: Int,
      nPlanes: Int = 8,
      nTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val v = df.select(col("id"), col("vec").cast("array<double>").as("v"))
    // candidates carry only ids through the bucket join + distinct (arrays
    // never cross that exchange); vectors join back for verification.
    // banded persists (round-14): the self-join reads it twice and each
    // unpersisted side re-ran the nTables × nPlanes sign projections
    val banded = v.select(
      col("id"),
      posexplode(array((0 until nTables).map(t =>
        lshBucket(col("v"), dim, nPlanes, seed + t * 7919L)): _*)).as(Seq("tbl", "bucket")))
      .persist()
    banded
      .as("l")
      .join(
        banded.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
      .join(v.select(col("id").as("a"), col("v").as("va")), "a")
      .join(v.select(col("id").as("b"), col("v").as("vb")), "b")
      .withColumn("sim", quantize(cosine(col("va"), col("vb"))))
      .filter(col("sim") >= lit((threshold * 10000).toLong))
      .select(col("a"), col("b"), col("sim"))
  }

  /** Cross-corpus embedding decontamination — the SEMANTIC companion to
    * [[graft.ops.Dedup.crossCorpusNearDups]]'s n-gram sweep: pairs
    * (train doc, eval doc) with cosine ≥ threshold, catching paraphrased
    * or re-worded benchmark leakage that shares no shingle. Brute-force
    * cross product — the correct baseline and the verify contract for
    * [[crossCorpusCosinePairsLSH]], which is the 100 TB path.
    */
  def crossCorpusCosinePairs(
      train: DataFrame, eval: DataFrame, threshold: Double): DataFrame = {
    val tv = train.select(col("id").as("train_id"), col("vec").cast("array<double>").as("tv"))
    val ev = eval.select(col("id").as("eval_id"), col("vec").cast("array<double>").as("ev"))
    tv.crossJoin(ev)
      .withColumn("sim", quantize(cosine(col("tv"), col("ev"))))
      .filter(col("sim") >= lit((threshold * 10000).toLong))
      .select(col("train_id"), col("eval_id"), col("sim"))
  }

  /** [[crossCorpusCosinePairs]]'s scale path: candidates must share a
    * sign-LSH (table, bucket) cell across the two frames, then exact
    * cosine verify — the [[cosineNearDupPairsLSH]] shape with the
    * self-join replaced by a train-bands ⋈ eval-bands equi-join. The
    * eval/benchmark side is tiny by assumption, so its banded rows (and
    * its vectors in the verify join) broadcast under AQE and the train
    * corpus never shuffles on anything wider than (table, bucket) —
    * asymmetric corpora need no plan change. Probabilistic recall
    * (multi-table OR), precision 1 vs the brute sweep.
    */
  def crossCorpusCosinePairsLSH(
      train: DataFrame,
      eval: DataFrame,
      threshold: Double,
      dim: Int,
      nPlanes: Int = 8,
      nTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val tv = train.select(col("id").as("train_id"), col("vec").cast("array<double>").as("tv"))
    val ev = eval.select(col("id").as("eval_id"), col("vec").cast("array<double>").as("ev"))
    def banded(df: DataFrame, idCol: String, vecCol: String) = df.select(
      col(idCol),
      posexplode(array((0 until nTables).map(t =>
        lshBucket(col(vecCol), dim, nPlanes, seed + t * 7919L)): _*)).as(Seq("tbl", "bucket")))
    banded(tv, "train_id", "tv")
      .join(banded(ev, "eval_id", "ev"), Seq("tbl", "bucket"))
      .select(col("train_id"), col("eval_id"))
      .distinct()
      .join(tv, "train_id")
      .join(ev, "eval_id")
      .withColumn("sim", quantize(cosine(col("tv"), col("ev"))))
      .filter(col("sim") >= lit((threshold * 10000).toLong))
      .select(col("train_id"), col("eval_id"), col("sim"))
  }

  /** [[crossCorpusCosinePairs]]'s IVF-blocked scale path for LOOSE
    * thresholds — the round-13 measured corner where sign-LSH loses:
    * recall at τ ≈ 0.40 on near-uniform vectors needs shallow-plane /
    * many-table settings (4×16) whose candidate volume exceeds the brute
    * product itself (82.6 s vs 9.2 s brute at 10×, docs/SCALE.md). Here
    * the blocking stage is [[ivfTopK]]'s k-means coarse quantizer
    * instead: train vectors carry their single nearest centroid list,
    * the (tiny) eval side multi-probes its `nProbe` nearest, candidates
    * must share a list, then exact cosine verify — precision 1 by
    * construction, recall gated in ApproxGatesSpec. The quantizer co-fits
    * over train ∪ eval so both sides rank against the same anchors (and
    * the gate-scale centroids embed in oracle SQL as literals — the
    * round-10 fitted-artifact discipline; at the declared query's split
    * the union IS the embeddings table, so the s_knn_ivf artifact is
    * reused verbatim).
    *
    * Scale: the codebook broadcasts (k·d doubles), assignment is a
    * map-side argmax, and the only exchange is the list_id equi-join
    * (train rows carry their vector THROUGH it — one shuffle each side,
    * no candidate-pair materialization). Because the train side keeps
    * exactly ONE list and the eval probes are DISTINCT lists, a
    * (train, eval) pair can match at most once — no dedup step exists
    * (the LSH twin needs a `distinct` over its 16-table OR, which is
    * what made it slower than brute on this corner). Candidate work is
    * Σ_lists n_list·m_list instead of |train|·|eval|, and nProbe (not
    * plane geometry) is the recall knob — it degrades gracefully toward
    * brute as it approaches nLists. Size nLists well above the cluster's
    * partition count at scale: the join key has only nLists distinct
    * values.
    */
  def crossCorpusCosinePairsIVF(
      train: DataFrame,
      eval: DataFrame,
      threshold: Double,
      nLists: Int,
      nProbe: Int = 4): DataFrame = {
    val tv = train.select(col("id").as("train_id"), col("vec").cast("array<double>").as("tv"))
    val ev = eval.select(col("id").as("eval_id"), col("vec").cast("array<double>").as("ev"))
    val all = tv.select(col("train_id").as("id"), col("tv").as("v"))
      .unionByName(ev.select(col("eval_id").as("id"), col("ev").as("v")))
    val centDf = fitCentroids(all, "id", "v", nLists)
    nearestLists(centDf)(tv, "train_id", "tv", 1)
      .join(nearestLists(centDf)(ev, "eval_id", "ev", nProbe), Seq("list_id"))
      .withColumn("sim", quantize(cosine(col("tv"), col("ev"))))
      .filter(col("sim") >= lit((threshold * 10000).toLong))
      .select(col("train_id"), col("eval_id"), col("sim"))
  }

  /** SemDeDup-style cluster-blocked near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means partitions the corpus, candidate pairs
    * must be CO-ASSIGNED to at least one of each vector's `nProbe`
    * nearest centroids (multi-probe assignment recovers the boundary
    * pairs a single hard assignment loses), and every candidate is
    * verified by exact cosine. Same output contract as
    * [[cosineNearDupPairs]]: emitted ⊆ brute-force pairs (precision 1 by
    * construction), probabilistic recall — ApproxGatesSpec gates the
    * declared parameters.
    *
    * Scale: the N² pair space becomes Σ_c n_c² within-cluster equi-joins
    * on list_id — ids-only cross that exchange; vectors join back only
    * for candidate verification. The centroid table broadcasts and
    * assignment is a map-side argmax, so ~√N clusters bounds pair work
    * near N^1.5 even on uniform data — and far lower on genuinely
    * clustered embeddings, the regime semantic dedup targets.
    * `nClusters = 1` degenerates to exactly brute force (OpsSpec pins
    * it).
    */
  def semanticDedupPairs(
      df: DataFrame,
      threshold: Double,
      nClusters: Int,
      nProbe: Int = 2): DataFrame = {
    val v = df.select(col("id"), col("vec").cast("array<double>").as("v"))
    val assigned =
      if (nClusters == 1) v.select(col("id"), lit(0).as("list_id"))
      else {
        val centDf = fitCentroids(v, "id", "v", nClusters)
        v.join(broadcast(centDf))
          .withColumn("__sim", quantize(cosine(col("v"), col("cent"))))
          .withColumn(
            "__r",
            row_number().over(
              Window.partitionBy(col("id")).orderBy(col("__sim").desc, col("list_id"))))
          .filter(col("__r") <= nProbe)
          .select(col("id"), col("list_id"))
      }
    assigned
      .as("l")
      .join(
        assigned.as("r"),
        col("l.list_id") === col("r.list_id") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
      .join(v.select(col("id").as("a"), col("v").as("va")), "a")
      .join(v.select(col("id").as("b"), col("v").as("vb")), "b")
      .withColumn("sim", quantize(cosine(col("va"), col("vb"))))
      .filter(col("sim") >= lit((threshold * 10000).toLong))
      .select(col("a"), col("b"), col("sim"))
  }
}
