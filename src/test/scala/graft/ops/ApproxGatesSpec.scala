package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.io.Tables

/** Deterministic acceptance gates for the `no_oracle` approximate
  * queries (d_dedup_minhash, d_dedup_simhash, d_dedup_embed_lsh,
  * s_knn_lsh, s_knn_ivf, s_knn_pq, q_uv_daily_*), run at the EXACT
  * parameters SparkEntry declares, on the sf0.01 testdata the driver's
  * correctness gate uses. These are the bars the SparkEntry comments
  * cite: a parameter regression (e.g. back to the round-2
  * recall-0.119/0.02 LSH configs) fails this suite.
  *
  * Precision is enforced as a SUBSET assertion (every emitted pair passes
  * the exact verify, so emitted ⊆ exact ⇒ precision 1); recall as a floor
  * against the exact pair set.
  */
class ApproxGatesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val t = Tables(spark, dir)
  private lazy val v =
    t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else (got & truth).size.toDouble / truth.size

  /** The declared query's output — the gate reads what the query runs,
    * so its parameters cannot drift from the gate's. */
  private def declared(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("d_dedup_simhash: 4x16-bit banding == brute-force hamming<=3 (set equality)") {
    // Pigeonhole: <=3 flipped bits leave >=1 of the 4 16-bit bands exact,
    // so the banded blocking is lossless — asserted as strict equality,
    // not a recall floor.
    val banded = pairs(declared("d_dedup_simhash"))
    val sh = Dedup.simhashDocs(t.documents, col("doc_id"), col("text"))
    val brute = pairs(
      sh.as("l")
        .join(sh.as("r"), col("l.doc_id") < col("r.doc_id"))
        .filter(bit_count(col("l.sh").bitwiseXOR(col("r.sh"))) <= 3)
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")))
    assert(brute.nonEmpty, "gate is vacuous: no hamming<=3 pairs in testdata")
    assert(banded == brute)
  }

  test("d_dedup_minhash: output subset of lossless ngram pairs, recall >= 0.9") {
    val truth = pairs(Dedup.ngramJaccardPairs(t.documents, col("doc_id"), col("text"), 3, 0.6))
    val got = pairs(declared("d_dedup_minhash"))
    assert(truth.nonEmpty, "gate is vacuous: no ngram pairs in testdata")
    assert(got.subsetOf(truth), s"precision violated: ${(got -- truth).take(5)}")
    assert(recall(got, truth) >= 0.9, s"recall ${recall(got, truth)} < 0.9")
  }

  test("d_near_ingest: verdicts equal those derived from the at-rest LSH pair set") {
    // The incremental admission must agree with running minhashDedup over
    // corpus+batch jointly: a batch doc is near_dup_corpus iff it pairs
    // with ANY corpus doc (either id order), near_dup_batch iff it pairs
    // with a SMALLER-id batch doc, else admitted. Signatures/bands are
    // per-doc, so split-side computation can't change the pair set.
    val corpus = t.documents.filter(col("doc_id") % 2 === 0)
    val batch = t.documents.filter(col("doc_id") % 2 === 1)
    val (hx, bx) = Dedup.nearDupIndex(corpus, col("doc_id"), col("text"),
      shingleLen = 3, k = 64, bands = 16)
    val got = Dedup.incrementalNearIngest(
        hx, bx, batch, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val allPairs = pairs(Dedup.minhashDedup(
      t.documents, col("doc_id"), col("text"), shingleLen = 3, k = 64, bands = 16,
      threshold = 0.6))
    val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = batchIds.map { b =>
      val corpusHit = allPairs.exists { case (x, y) =>
        (y == b && x % 2 == 0) || (x == b && y % 2 == 0) }
      val batchHit = allPairs.exists { case (x, y) => y == b && x % 2 == 1 }
      b -> (if (corpusHit) "near_dup_corpus"
            else if (batchHit) "near_dup_batch"
            else "admitted")
    }.toMap
    assert(got.size == batchIds.size, "one verdict per incoming doc")
    assert(expected.valuesIterator.exists(_ != "admitted"),
      "gate is vacuous: no near-dups cross the corpus/batch split in testdata")
    assert(got == expected)
  }

  test("d_dedup_embed_lsh: output subset of brute pairs, recall >= 0.9 at 4 planes x 16 tables") {
    // SparkEntry params: threshold=0.40, dim=64, nPlanes=4, nTables=16
    val truth = pairs(Similarity.cosineNearDupPairs(v, 0.40))
    val got = pairs(
      Similarity.cosineNearDupPairsLSH(v, 0.40, dim = 64, nPlanes = 4, nTables = 16))
    assert(truth.nonEmpty, "gate is vacuous: no near-dup pairs in testdata")
    assert(got.subsetOf(truth), s"precision violated: ${(got -- truth).take(5)}")
    assert(recall(got, truth) >= 0.9, s"recall ${recall(got, truth)} < 0.9")
  }

  test("incrementalNearIngest: cold start (empty corpus) never emits a corpus verdict") {
    // first-ever ingest: the corpus frame is empty — every doc must be
    // admitted or blocked by an EARLIER BATCH doc only, and the empty
    // side must not break the signature/band aggregates
    val batch = t.documents.filter(col("doc_id") % 10 === 0)
    val (hx, bx) = Dedup.nearDupIndex(t.documents.filter(lit(false)), col("doc_id"),
      col("text"), shingleLen = 3, k = 64, bands = 16)
    val got = Dedup.incrementalNearIngest(
        hx, bx, batch, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == batch.count(), "one verdict per incoming doc")
    assert(!got.valuesIterator.contains("near_dup_corpus"),
      "empty corpus cannot produce a corpus hit")
  }

  test("d_decon_embed_lsh: output subset of brute cross pairs, recall >= 0.9") {
    // SparkEntry params: threshold 0.40, 4 planes x 16 tables, parity split
    def xp(df: DataFrame): Set[(Long, Long)] =
      df.select("train_id", "eval_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val train = v.filter(col("id") % 2 === 0)
    val eval = v.filter(col("id") % 2 === 1)
    val truth = xp(Similarity.crossCorpusCosinePairs(train, eval, 0.40))
    val got = xp(Similarity.crossCorpusCosinePairsLSH(
      train, eval, 0.40, dim = 64, nPlanes = 4, nTables = 16))
    assert(truth.nonEmpty, "gate is vacuous: no cross-corpus cosine pairs in testdata")
    assert(got.subsetOf(truth), s"precision violated: ${(got -- truth).take(5)}")
    assert(recall(got, truth) >= 0.9, s"recall ${recall(got, truth)} < 0.9")
  }

  test("d_decon_embed_ivf: output subset of brute cross pairs, recall >= 0.9") {
    // SparkEntry params: threshold 0.40, 64 lists, eval multi-probes 24 —
    // the loose-τ corner where sign-LSH's candidate volume beats brute
    // (SCALE.md); the IVF quantizer must hold the recall floor instead
    // (coarser settings measured under it: 16/4 → 0.67, 16/8 → 0.85)
    def xp(df: DataFrame): Set[(Long, Long)] =
      df.select("train_id", "eval_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val train = v.filter(col("id") % 2 === 0)
    val eval = v.filter(col("id") % 2 === 1)
    val truth = xp(Similarity.crossCorpusCosinePairs(train, eval, 0.40))
    val got = xp(Similarity.crossCorpusCosinePairsIVF(
      train, eval, 0.40, nLists = 64, nProbe = 24))
    assert(truth.nonEmpty, "gate is vacuous: no cross-corpus cosine pairs in testdata")
    assert(got.subsetOf(truth), s"precision violated: ${(got -- truth).take(5)}")
    assert(recall(got, truth) >= 0.9, s"recall ${recall(got, truth)} < 0.9")
  }

  test("d_dedup_bow_lsh: output subset of exact bow pairs, recall >= 0.9 at 12 planes x 16 tables") {
    // SparkEntry params: threshold=0.95, dim=64, nPlanes=12, nTables=16
    // over the SAME hashed-BoW vectors as the exact d_dedup_bow baseline
    val bow = TextOps
      .hashedBowVectors(t.documents, col("doc_id"), col("text"), dim = 64)
      .select(col("doc_id").as("id"), col("vec"))
    val truth = pairs(Similarity.cosineNearDupPairs(bow, 0.95))
    val got = pairs(
      Similarity.cosineNearDupPairsLSH(bow, 0.95, dim = 64, nPlanes = 12, nTables = 16))
    assert(truth.nonEmpty, "gate is vacuous: no bow near-dup pairs in testdata")
    assert(got.subsetOf(truth), s"precision violated: ${(got -- truth).take(5)}")
    info(s"bow lsh recall = ${recall(got, truth)}")
    assert(recall(got, truth) >= 0.9, s"recall ${recall(got, truth)} < 0.9")
  }

  test("d_dedup_semantic: output subset of brute pairs, recall >= 0.9 at 16 clusters, nProbe=4") {
    // SparkEntry params: threshold=0.40, nClusters=16, nProbe=4
    val truth = pairs(Similarity.cosineNearDupPairs(v, 0.40))
    val got = pairs(Similarity.semanticDedupPairs(v, 0.40, nClusters = 16, nProbe = 4))
    assert(truth.nonEmpty, "gate is vacuous: no near-dup pairs in testdata")
    assert(got.subsetOf(truth), s"precision violated: ${(got -- truth).take(5)}")
    info(s"semantic dedup recall = ${recall(got, truth)}")
    assert(recall(got, truth) >= 0.9, s"recall ${recall(got, truth)} < 0.9")
  }

  test("q_uv_daily_approx / q_uv_daily_bloom: per-window estimates within error bars of exact") {
    // A8's two estimators at the declared query params (1-day windows over
    // the events table): HLL++ at rsd=0.05 and the bloom-bitmap Aggregator.
    // Bars: every window within 15% relative error, mean within 5% —
    // loose enough for estimator variance, tight enough that a broken
    // merge or hash (the regressions that matter) blows through them.
    val exact = WindowAggs
      .tumblingCountDistinct(t.events, col("ts"), "1 day", col("user_id"))
      .select(col("window_start"), col("uv"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    def gate(name: String, est: DataFrame): Unit = {
      val got = est.collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      assert(got.keySet == exact.keySet, s"$name window set differs")
      val errs = exact.map { case (w, e) => math.abs(got(w) - e).toDouble / e }
      assert(errs.max <= 0.15, s"$name worst-window error ${errs.max} > 15%")
      assert(errs.sum / errs.size <= 0.05, s"$name mean error ${errs.sum / errs.size} > 5%")
    }
    gate("hll", WindowAggs
      .tumblingApproxDistinct(t.events, col("ts"), "1 day", col("user_id"))
      .select(col("window_start"), col("uv_approx")))
    // the DECLARED paths: md5 bloom bitmap and portable-register HLL
    // (oracle-checked for replay equality; this gate is the accuracy bar)
    gate("bloom", declared("q_uv_daily_bloom").select(col("window_start"), col("uv_bloom")))
    gate("portable-hll", declared("q_uv_daily_approx").select(col("window_start"), col("uv_est")))
  }

  test("q_uv_sketch: per-type sketch-union estimate within 5% of exact distinct") {
    // SparkEntry params: key=event_type, bucket=day, lgK=12 (~1.6% RSE).
    // The gate is the ROLLUP property: daily sketches unioned per type
    // must estimate the type's true all-days distinct, not a sum of
    // daily distincts (re-appearing users must not double-count).
    val exact = t.events
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("uv"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val est = Sketches
      .hllRollup(t.events, col("event_type"), date_trunc("day", col("ts")), col("user_id"))
      .select(col("key"), col("uv_est").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(est.keySet == exact.keySet)
    for ((k, e) <- exact) {
      val rel = math.abs(est(k) - e) / e
      assert(rel <= 0.05, s"uv sketch error $rel > 5% on $k (est ${est(k)}, exact $e)")
    }
  }

  test("q_uv_sketch_stream == q_uv_sketch exactly (sketches are order-independent)") {
    // same inserted values (long user ids), same lgK, same day buckets ⇒
    // the streamed daily sketches union to bit-identical estimates; any
    // divergence means the stream dropped/duplicated rows or bucketed a
    // day differently
    def rows(q: String) = declared(q)
      .select(col("key"), col("n_buckets"), col("uv_est").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = rows("q_uv_sketch")
    val streamed = rows("q_uv_sketch_stream")
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("q_wau_sketch: pane-merged estimates within 5% of exact sliding distinct") {
    // the daily-sketch union must cover exactly the exact query's window
    // set (every 7d/1d window any event touches) and estimate each
    // window's true distinct within HLL lgK=12 accuracy
    val exact = declared("q_wau")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val est = declared("q_wau_sketch")
      .select(col("window_start"), col("uv_est").cast("double"))
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toMap
    assert(est.keySet == exact.keySet)
    for ((w, e) <- exact) {
      val rel = math.abs(est(w) - e) / e
      assert(rel <= 0.05, s"wau sketch error $rel > 5% at $w (est ${est(w)}, exact $e)")
    }
  }

  test("t_cms_counts: every estimate within the Cormode-Muthukrishnan bound, never under") {
    // SparkEntry params: probes = distinct tokens of the 10 lowest-id
    // docs, eps=0.001, confidence=0.99. One-sided error: est >= exact
    // always; est <= exact + eps*N for all probes (31-token vocab, so
    // collisions are unlikely and the bound is slack — the gate catches
    // a broken merge/hash, which overshoots by orders of magnitude).
    val docs = t.documents
    val probes = Sketches.probeTokens(docs, col("doc_id"), col("text"), 10)
    val est = Sketches.cmsTokenEstimates(docs, col("text"), probes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val n = exact.values.sum
    assert(probes.nonEmpty && est.keySet == probes.toSet)
    for (w <- probes) {
      assert(est(w) >= exact(w), s"CMS under-counted $w: ${est(w)} < ${exact(w)}")
      assert(est(w) <= exact(w) + (0.001 * n).ceil.toLong,
        s"CMS overshoot on $w: ${est(w)} vs exact ${exact(w)} (N=$n)")
    }
  }

  test("s_knn_ivf: recall@5 >= 0.55 vs brute force at 16 lists, nProbe=4") {
    // SparkEntry params: probes id<10, k=5, nLists=16, nProbe=4
    // (measured 0.60 at sf0.01 — near-uniform embeddings are IVF's worst
    // case; nProbe=2 measured 0.42 and fails this gate by construction)
    def knnPairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = v.filter(col("id") < 10)
    val truth = knnPairs(Similarity.bruteForceTopK(v, probes, k = 5))
    val got = knnPairs(Similarity.ivfTopK(v, probes, nLists = 16, nProbe = 4, k = 5))
    assert(truth.nonEmpty, "gate is vacuous: no knn pairs")
    assert(recall(got, truth) >= 0.55, s"recall@5 ${recall(got, truth)} < 0.55")
  }

  test("s_knn_pq: recall@5 >= 0.9 vs brute force at m=16, 16 centroids, refine=12") {
    // SparkEntry params: probes id<10, k=5, m=16 subspaces, 16 centroids,
    // refine*k=60 ADC candidates re-ranked exactly (measured 0.92; the
    // coarser m=8/refine=4 measured 0.64 — near-uniform embeddings
    // need fine subspaces, same story as IVF's nProbe knee)
    def knnPairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = v.filter(col("id") < 10)
    val truth = knnPairs(Similarity.bruteForceTopK(v, probes, k = 5))
    val got = knnPairs(Similarity.pqTopK(v, probes, m = 16, nCentroids = 16, k = 5, refine = 12))
    assert(truth.nonEmpty, "gate is vacuous: no knn pairs")
    info(s"pq recall@5 = ${recall(got, truth)}")
    assert(recall(got, truth) >= 0.9, s"recall@5 ${recall(got, truth)} < 0.9")
  }

  test("t_heavy_tokens: MG deterministic guarantees at k=64 vs exact token counts") {
    // SparkEntry params: k=64 over exploded TextOps.tokens(text)
    val toks = t.documents.select(explode(TextOps.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / 65.0 // N/(k+1)
    val got = toks.agg(HeavyHitters.heavyHitters(col("tok"), 64).as("hh"))
      .select(explode(col("hh")).as("e")).select("e._1", "e._2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && exact.nonEmpty, "gate is vacuous")
    val mustHave = exact.filter(_._2 > bound).keySet
    assert(mustHave.nonEmpty, "gate is vacuous: no token above N/(k+1)")
    assert(mustHave.subsetOf(got.keySet),
      s"missing guaranteed heavy hitters: ${(mustHave -- got.keySet).take(5)}")
    for ((tok, est) <- got) {
      val truth = exact.getOrElse(tok, 0L)
      assert(est <= truth, s"'$tok' over-estimated: $est > $truth")
      assert(truth - est <= bound, s"'$tok' undercount ${truth - est} > $bound")
    }
  }

  test("s_knn_binary: recall@5 >= 0.9 vs brute force at dim=64, rerank=32") {
    // SparkEntry params: probes id<10, k=5, dim=64, rerank·k=160 Hamming
    // candidates re-ranked exactly. Unlike LSH/IVF nothing is skipped by
    // bucketing, so recall only degrades through sign-quantization
    // ranking error inside the rerank margin — 64 sign bits on the
    // near-uniform 64-dim testdata is the WORST case for that ranking
    // (1 bit/dim; real binary-embedding deployments carry 512–4096 bits),
    // so the margin, not the code width, buys the recall: rerank=8
    // measured 0.64, rerank=32 measured ≥ 0.9.
    def knnPairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = v.filter(col("id") < 10)
    val truth = knnPairs(Similarity.bruteForceTopK(v, probes, k = 5))
    val got = knnPairs(Similarity.binaryTopK(v, probes, dim = 64, k = 5, rerank = 32))
    assert(truth.nonEmpty, "gate is vacuous: no knn pairs")
    info(s"binary recall@5 = ${recall(got, truth)}")
    assert(recall(got, truth) >= 0.9, s"recall@5 ${recall(got, truth)} < 0.9")
  }

  test("s_knn_lsh: recall@5 >= 0.9 vs brute force at 4 planes x 16 tables") {
    // SparkEntry params: probes id<10, k=5, dim=64, nPlanes=4, nTables=16
    def knnPairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = v.filter(col("id") < 10)
    val truth = knnPairs(Similarity.bruteForceTopK(v, probes, k = 5))
    val got = knnPairs(Similarity.lshTopK(v, probes, dim = 64, nPlanes = 4, k = 5, nTables = 16))
    assert(truth.nonEmpty, "gate is vacuous: no knn pairs")
    assert(recall(got, truth) >= 0.9, s"recall@5 ${recall(got, truth)} < 0.9")
  }
}
