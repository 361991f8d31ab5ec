package graft

import org.apache.spark.sql.SparkSession

/** Reproducible harness behind docs/SCALE.md: time declared queries warm
  * (one untimed pass, then one timed pass through the noop sink — the
  * Bench steady-state shape without the full-suite sweep) on any table
  * directory, typically the driver's sf0.1 next to a 10×-replicated copy.
  *
  * Usage: runMain graft.ScaleProbe <q1,q2,...> <dir1> [dir2 ...]
  *
  * The 10× corpus itself is built driver-side (DuckDB/pyarrow: replicate
  * each table 10× with remapped ids, preserving events' TIMESTAMP(NANOS)
  * physical type) — see docs/SCALE.md "Method".
  */
object ScaleProbe {

  /** Probe-only formulations that are deliberately NOT declared queries —
    * deprecated plans kept runnable so SCALE.md rows comparing them to the
    * declared shape stay reproducible. */
  val extras: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.{DataFrame, functions => F}

    def hotItemsInput(s: SparkSession, dir: String): DataFrame =
      graft.io.Tables(s, dir).events
        .filter(F.col("event_type") === "click")
        .select(
          F.lpad(F.col("user_id").cast("string"), 12, "0").as("key"),
          F.col("ts"),
          F.col("event_type").as("kind"),
          F.col("event_id").cast("string").as("id"))

    def shape(df: org.apache.spark.sql.Dataset[graft.streaming.StateMachines.WindowTopRow]) =
      df.toDF().select(
        F.col("window_start"),
        F.col("item").cast("long").as("user_id"),
        F.col("cnt"),
        F.col("rank"))

    def eventGrain(s: SparkSession, dir: String): DataFrame =
      graft.streaming.Replay.keyedEvents(hotItemsInput(s, dir)) { stream =>
        shape(graft.streaming.StateMachines
          .windowTopNEventGrain(stream, sizeUs = 3600000000L, slideUs = 300000000L, n = 5))
      }

    def twoStage(s: SparkSession, dir: String): DataFrame =
      graft.streaming.Replay.keyedEvents(hotItemsInput(s, dir)) { stream =>
        shape(graft.streaming.StateMachines
          .windowTopN(stream, sizeUs = 3600000000L, slideUs = 300000000L, n = 5))
      }

    // the round-13 chunk-dedup skew adversary: every doc carries the same
    // ~1500-token boilerplate tail, so ~45 CDC chunk fingerprints are
    // duplicated across the WHOLE corpus (cut positions synchronize once
    // the rolling window is inside the shared region). The declared
    // de-skewed plan (partial-min owner election) must scale flat on it;
    // the round-12 row_number-over-Window.partitionBy(fp) formulation
    // (kept below as a probe foil) concentrates each hot fingerprint's
    // full copy set in one sort task.
    val boiler = (0 until 1500).map(i => "boiler" + (i * 2654435761L % 9973)).mkString(" ")
    def boilerChunks(s: SparkSession, dir: String): DataFrame =
      graft.ops.Chunking.contentDefinedChunks(
        graft.io.Tables(s, dir).documents
          .select(F.col("doc_id"), F.concat_ws(" ", F.col("text"), F.lit(boiler)).as("text")),
        F.col("doc_id"), F.col("text"))
    def chunkDedupStatsWindowed(chunks: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(F.col("__fp"))
        .orderBy(F.col("doc_id"), F.col("chunk_id"))
      chunks
        .select(F.col("doc_id"), F.col("chunk_id"), F.col("n_tokens"),
          F.md5(F.col("chunk")).as("__fp"))
        .withColumn("__rn", F.row_number().over(w))
        .groupBy(F.col("doc_id"))
        .agg(
          F.count(F.lit(1)).as("n_chunks"),
          F.sum(F.when(F.col("__rn") > 1, 1L).otherwise(0L)).as("dup_chunks"),
          F.sum(F.col("n_tokens")).as("n_tokens"),
          F.sum(F.when(F.col("__rn") > 1, F.col("n_tokens")).otherwise(0L)).as("dup_tokens"))
    }

    // 400 chunk rows per corpus doc, every even row THE one hot chunk:
    // |docs|·200 copies of a single fingerprint (10M at the 10x dir),
    // odd rows unique. n_tokens constant so both accountings return the
    // same doc-grain totals.
    def synthChunks(s: SparkSession, dir: String): DataFrame = {
      val nDocs = graft.io.Tables(s, dir).documents.count()
      val per = 400L
      s.range(nDocs * per).select(
        (F.col("id") / per).cast("long").as("doc_id"),
        (F.col("id") % per).cast("long").as("chunk_id"),
        F.lit(32L).as("n_tokens"),
        F.when(F.col("id") % 2 === 0,
            F.lit("the one boilerplate chunk every doc in the corpus shares"))
          .otherwise(F.concat(F.lit("unique "), F.col("id").cast("string"))).as("chunk"))
    }

    // the round-14 rank axis, isolated (pure compute, no text scan):
    // 1000 order-scrambled unique ids per corpus doc (odd-multiplier
    // wrap is bijective mod 2^64), ranked end-to-end. The global-window
    // foil is the round-13 defect (`row_number().over(Window.orderBy)`
    // = the whole set in ONE sort task); the declared two-phase form
    // (Ranks.zeroBasedRank) buckets by equi-depth quantile cuts and
    // ranks per bucket in parallel.
    def synthIds(s: SparkSession, dir: String): DataFrame = {
      val n = graft.io.Tables(s, dir).documents.count() * 1000L
      s.range(n).select((F.col("id") * F.lit(2654435761L)).as("doc_id"))
    }

    Map(
      "probe_rank_globalwindow" ->
        ((s: SparkSession, dir: String) =>
          synthIds(s, dir).withColumn(
            "__r",
            F.row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(F.col("doc_id")))
              .cast("long") - 1)),
      "probe_rank_twophase" ->
        ((s: SparkSession, dir: String) =>
          graft.ops.Ranks.zeroBasedRank(synthIds(s, dir), F.col("doc_id"), "__r")),
      // the single-machine per-window top-N (raw events keyed by window
      // start): the round-12 two-stage q_hot_items_stream replaced it as
      // the declared plan; these rows are its scaling foils — on the
      // default (heap) store and on RocksDB, where the fGWS whole-map
      // state rewrite is real serialization I/O per window per batch
      "probe_hot_items_stream_eventgrain" -> eventGrain _,
      // boilerplate-chunk skew axis: declared de-skewed accounting vs the
      // round-12 window-sort formulation, both over the injected corpus
      "probe_chunk_dedup_boiler" ->
        ((s: SparkSession, dir: String) =>
          graft.ops.Chunking.chunkDedupStats(boilerChunks(s, dir))),
      "probe_chunk_dedup_boiler_window" ->
        ((s: SparkSession, dir: String) => chunkDedupStatsWindowed(boilerChunks(s, dir))),
      // the ISOLATED skew axis for the same pair: the boiler rows above
      // are chunking-scan-dominated (the 45 hot fingerprints top out at
      // |docs| copies — a trivial sort task locally), so they bound the
      // end-to-end cost but can't expose the accounting plans' divergence.
      // This synthetic chunk frame (pure compute, no chunker) gives ONE
      // fingerprint half of all 400·|docs| chunk rows — 10M copies at the
      // 10x dir — which is exactly the shape a boilerplate chunk takes at
      // 100 TB: the window foil must sort the whole copy set in one task,
      // the declared partial-agg form collapses it map-side to one row
      // per task before the exchange.
      "probe_chunk_acct_synth" ->
        ((s: SparkSession, dir: String) =>
          graft.ops.Chunking.chunkDedupStats(synthChunks(s, dir))),
      "probe_chunk_acct_synth_window" ->
        ((s: SparkSession, dir: String) => chunkDedupStatsWindowed(synthChunks(s, dir))),
      "probe_hot_items_stream_eventgrain_rocksdb" ->
        ((s: SparkSession, dir: String) => GraftSession.withRocksDb(s)(eventGrain(s, dir))),
      "probe_hot_items_stream_rocksdb" ->
        ((s: SparkSession, dir: String) => GraftSession.withRocksDb(s)(twoStage(s, dir))),
      // asymmetric decontamination axis — the REAL deployment shape:
      // train grows with <dir>, the benchmark stays pinned to sf0.1's
      // even-id docs (the declared query's parity split grows BOTH
      // sides, understating the bloom prune's effect)
      "probe_decon_asym_anchor" -> ((s: SparkSession, dir: String) =>
        graft.ops.Dedup.crossCorpusNearDups(
          graft.io.Tables(s, dir).documents.filter(F.col("doc_id") % 2 === 1),
          graft.io.Tables(s, "/root/testdata/sf0.1").documents
            .filter(F.col("doc_id") % 2 === 0),
          F.col("doc_id"), F.col("text"), 3, 0.5)),
      "probe_decon_asym_bloom" -> ((s: SparkSession, dir: String) =>
        graft.ops.Dedup.crossCorpusNearDupsBloom(
          graft.io.Tables(s, dir).documents.filter(F.col("doc_id") % 2 === 1),
          graft.io.Tables(s, "/root/testdata/sf0.1").documents
            .filter(F.col("doc_id") % 2 === 0),
          F.col("doc_id"), F.col("text"), 3, 0.5,
          expectedEvalShingles = 200000L)),
      // hard-decon asymmetric axis: train grows with <dir>, benchmark
      // pinned to sf0.1's even docs — the deployment shape for the
      // exact-13-gram sweep and its bloom twin
      "probe_hard13_asym_anchor" -> ((s: SparkSession, dir: String) =>
        graft.ops.Dedup.exactNgramCollisions(
          graft.io.Tables(s, dir).documents.filter(F.col("doc_id") % 2 === 1),
          graft.io.Tables(s, "/root/testdata/sf0.1").documents
            .filter(F.col("doc_id") % 2 === 0),
          F.col("doc_id"), F.col("text"), 13)),
      "probe_hard13_asym_bloom" -> ((s: SparkSession, dir: String) =>
        graft.ops.Dedup.exactNgramCollisionsBloom(
          graft.io.Tables(s, dir).documents.filter(F.col("doc_id") % 2 === 1),
          graft.io.Tables(s, "/root/testdata/sf0.1").documents
            .filter(F.col("doc_id") % 2 === 0),
          F.col("doc_id"), F.col("text"), 13,
          expectedEvalShingles = 400000L)),
      // embedding-decon scale corners: the DECLARED d_decon_embed_lsh
      // params (0.40, 4 planes x 16 tables) are the recall-driven corner
      // for a loose threshold on near-uniform vectors — there the 16-way
      // OR admits most of the cross product, so the blocking buys nothing
      // (measured; same knee as semantic dedup's near-uniform worst
      // case). Production decontamination hunts paraphrase-grade
      // similarity, i.e. TIGHT thresholds, where deep planes prune hard —
      // these twins measure that corner (0.90, 12 planes x 16 tables,
      // the d_dedup_bow_lsh geometry) against its own brute anchor.
      "probe_decon_embed_tight_brute" -> ((s: SparkSession, dir: String) => {
        val v = graft.io.Tables(s, dir).embeddings
          .select(F.col("vec_id").as("id"), F.col("embedding").as("vec"))
        graft.ops.Similarity.crossCorpusCosinePairs(
          v.filter(F.col("id") % 2 === 0), v.filter(F.col("id") % 2 === 1), 0.90)
      }),
      "probe_decon_embed_tight_lsh" -> ((s: SparkSession, dir: String) => {
        val v = graft.io.Tables(s, dir).embeddings
          .select(F.col("vec_id").as("id"), F.col("embedding").as("vec"))
        graft.ops.Similarity.crossCorpusCosinePairsLSH(
          v.filter(F.col("id") % 2 === 0), v.filter(F.col("id") % 2 === 1), 0.90,
          dim = 64, nPlanes = 12, nTables = 16)
      }),
      // asymmetric axis (the real deployment): train grows with <dir>,
      // the eval/benchmark side stays pinned to sf0.1's odd-id vectors
      "probe_decon_embed_asym_lsh" -> ((s: SparkSession, dir: String) =>
        graft.ops.Similarity.crossCorpusCosinePairsLSH(
          graft.io.Tables(s, dir).embeddings
            .select(F.col("vec_id").as("id"), F.col("embedding").as("vec"))
            .filter(F.col("id") % 2 === 0),
          graft.io.Tables(s, "/root/testdata/sf0.1").embeddings
            .select(F.col("vec_id").as("id"), F.col("embedding").as("vec"))
            .filter(F.col("id") % 2 === 1),
          0.90, dim = 64, nPlanes = 12, nTables = 16)))
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dirs = args.drop(1).toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (d <- dirs; n <- names) {
      def pass(): Double = {
        val t0 = System.nanoTime
        SparkEntry.queries.getOrElse(n, extras(n))(spark, d)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime - t0) / 1e9
        // round-9 lesson: without this, a query's internal persist()
        // survives into the timed pass (plan-identical → cache hit) and
        // the probe silently reports a cached number — the portable
        // minhash cut measured 2.6 s here vs 10 s in the honest bench
        spark.catalog.clearCache()
        sec
      }
      pass() // warm: plan + shuffle files + JIT (caches cleared)
      // min of 3 timed passes: contention inflates, never deflates — a
      // single contended pass would poison SCALE.md silently (the same
      // protocol as Bench's min-across-passes headline, round 12)
      val times = Seq.fill(3)(pass())
      val all = times.map(t => f"$t%.2f").mkString(",")
      println(f"SCALE $n%-24s $d%-24s ${times.min}%.2f s  passes=[$all]")
    }
    spark.stop()
  }
}
