package graft.streaming

import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.ops.Dedup

/** The streaming MinHash-LSH index ([[StreamingDedup.lshIndex]]):
  * est-verify quality vs the at-rest exact-Jaccard op, state continuity
  * across micro-batches, and the prefix (earlier-doc) contract. The
  * oracle row (d_dedup_lsh_stream) pins the exact output; these gates pin
  * the properties the oracle can't express.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  /** The declared d_dedup_lsh_stream banded-signature frame over `dir`'s
    * documents (key, ts, id, sig — docs "arrive" in doc_id order). */
  private def bandedEvents(dir: String) = {
    val sigs = Dedup.minhashSignatures(
      graft.io.Tables(spark, dir).documents, col("doc_id"), col("text"),
      shingleLen = 3, k = 64)
    def bandKey(j: Int) = concat_ws("|", lit(j), Dedup.bandHash(i => col(s"m$i"), j, 4))
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

  /** The declared d_dedup_lsh_stream pipeline over `dir`'s documents. */
  private def runStream(dir: String, nChunks: Int) =
    Replay.bandEvents(bandedEvents(dir), nChunks = nChunks) { stream =>
      StreamingDedup.lshIndex(stream, k = 64, thresholdNumer = 3, thresholdDenom = 5).toDF()
    }.collect().map(r => (r.getInt(0), r.getString(1).toLong, r.getString(2).toLong, r.getInt(3)))

  test("signature-estimate verify tracks the exact-Jaccard batch op (precision/recall >= 0.9)") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val stream = runStream(dir, nChunks = 10)
      val streamPairs = stream.map { case (_, a, b, _) => (a, b) }.toSet
      val exact = Dedup.minhashDedup(
          graft.io.Tables(spark, dir).documents, col("doc_id"), col("text"),
          shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
        .select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs.nonEmpty && exact.nonEmpty, "vacuous fixture")
      val hit = (streamPairs & exact).size.toDouble
      assert(hit / streamPairs.size >= 0.9,
        s"precision ${hit / streamPairs.size} (measured 1.0 at both sf0.001 and sf0.01)")
      assert(hit / exact.size >= 0.9, s"recall ${hit / exact.size}")
    }
  }

  test("deconHits: the streaming verdict ladder fires all five classes in one query") {
    GraftSession.withRocksDb(spark) {
      val base = "the quick brown fox jumps over the lazy dog"
      val evalText = "we walked to the store and bought a loaf of bread"
      val arrivals = Seq(
        (1L, "web", "xx"), // fails the token-count gate
        (3L, "web", base), // first arrival of base -> admitted
        (5L, "web", base), // byte-identical -> dup_exact (firstPerKey)
        (7L, "web", "the quick brown fox jumps over the lazy cat"), // near_dup of 3
        (9L, "web", evalText), // clean vs arrivals, copies the benchmark
        (11L, "web", "the results were quite different and the shuffle stayed fast"))
        .toDF("doc_id", "source", "text")
      val evalBands = StreamingDedup.evalBandTable(
        Seq((2L, evalText)).toDF("doc_id", "text"), col("doc_id"), col("text"))
      val out = Replay.docEvents(
        arrivals.select(lit("").as("key"), timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"), col("text"))) { stream =>
        val df = stream.toDF()
        StreamingDedup.ingestGate(df).toDF()
          .select(col("band"), col("a"), col("b"), col("n_agree"))
          .unionByName(StreamingDedup.deconHits(df, evalBands)
            .select(lit(-1).as("band"), concat(lit("eval:"), col("eval_id")).as("a"),
              col("b"), col("n_agree")))
      }
      val got = graft.ops.TrainingPipeline.ingestVerdictsDecon(
          arrivals, out.filter(col("band") >= 0), out.filter(col("band") === -1))
        .select("doc_id", "verdict").as[(Long, String)].collect().toMap
      assert(got == Map(
        1L -> "low_quality",
        3L -> "admitted",
        5L -> "dup_exact",
        7L -> "near_dup",
        9L -> "contaminated",
        11L -> "admitted"))
    }
  }

  test("deconHitsExact under 2s order jitter: hit set is order-invariant and equals batch") {
    // the stateless stream-static screen must not care about arrival
    // order (unlike the index branch, whose first-arrival contract makes
    // id-order part of its oracle) — soak it jittered AND unjittered
    // against the batch collision join (10 planted pairs at sf0.001)
    val dir = "/root/testdata/sf0.001"
    val docs = graft.io.Tables(spark, dir).documents
    val evalSh = StreamingDedup.evalShingleTable(
      docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), 13)
    def run(jitter: Long) = Replay.docEvents(
        docs.filter(col("doc_id") % 2 === 1).select(
          lit("").as("key"),
          timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"),
          col("text")),
        orderJitterSec = jitter) { stream =>
        StreamingDedup.deconHitsExact(stream.toDF(), evalSh, 13)
      }
      .select(col("b").cast("long"), col("eval_id").cast("long"))
      .distinct().as[(Long, Long)].collect().toSet
    val batch = Dedup.exactNgramCollisions(
        docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13)
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(run(0) == batch)
    assert(run(2) == batch)
  }

  test("the ttl knob bounds index state: expired entries stop matching, long ttl matches NONE") {
    // the production state-bounding posture SCALE.md documents
    // (dedup-within-horizon): an entry older than the TTL is filtered on
    // read, so a later arrival no longer pairs with it. A TTL puts the
    // operator in TimeMode.ProcessingTime, where transformWithState
    // always reports more work (wall-clock timers/TTL can fire any time)
    // — so processAllAvailable / Trigger.AvailableNow never drain, and
    // the harness must POLL a continuously-running query instead.
    GraftSession.withRocksDb(spark) {
      implicit val ctx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val sig = Array.fill(64)(7L)
      def ev(id: String, sec: Long) =
        BandEvent("0|bucket", new java.sql.Timestamp(sec * 1000L), id, sig)
      def await(deadlineMs: Long = 60000L)(done: => Boolean): Boolean = {
        val t0 = System.currentTimeMillis()
        while (!done && System.currentTimeMillis() - t0 < deadlineMs) Thread.sleep(50L)
        done
      }
      val hits = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, String)]()
      def run(name: String, ttl: org.apache.spark.sql.streaming.TTLConfig)(
          drive: (MemoryStream[BandEvent], org.apache.spark.sql.streaming.StreamingQuery) => Unit)
          : Set[(String, String)] = {
        val input = MemoryStream[BandEvent]
        val q = StreamingDedup
          .lshIndex(input.toDS(), k = 64, thresholdNumer = 3, thresholdDenom = 5, ttl = ttl)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[LshDupRow], _: Long) =>
            batch.collect().foreach(r => hits.add((name, r.a, r.b)))
          }
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"graft-ttl-$name").toString)
          .outputMode("append").start()
        try drive(input, q) finally q.stop()
        import scala.jdk.CollectionConverters._
        hits.asScala.collect { case (`name`, a, b) => (a, b) }.toSet
      }

      // control: TTL NONE keeps TimeMode.None, so processAllAvailable works
      val unbounded = run("ttl_none", org.apache.spark.sql.streaming.TTLConfig.NONE) { (in, q) =>
        in.addData(Seq(ev("a", 0L))); q.processAllAvailable()
        in.addData(Seq(ev("b", 1L))); q.processAllAvailable()
      }
      assert(unbounded == Set(("a", "b")), s"unbounded index must pair: $unbounded")

      // ttl >> horizon: entry survives, the pair must appear
      val longTtl = run("ttl_long",
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofHours(1))) { (in, _) =>
        in.addData(Seq(ev("a", 0L), ev("b", 1L)))
        assert(await() { hits.contains(("ttl_long", "a", "b")) },
          "pair never emitted under a 1h ttl")
      }
      assert(longTtl == Set(("a", "b")), s"ttl >> horizon must behave like NONE: $longTtl")

      // ttl << gap: a's entry is expired by the time b arrives. Batches
      // self-trigger in processing-time mode, so batchId advance proves
      // each arrival was consumed and at least one batch ran after it.
      def batchId(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
        Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val shortTtl = run("ttl_short",
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(1))) { (in, q) =>
        in.addData(Seq(ev("a", 0L)))
        val b0 = batchId(q)
        assert(await() { batchId(q) >= b0 + 2 }, "stream stopped self-triggering")
        Thread.sleep(250L)
        in.addData(Seq(ev("b", 1L)))
        val b1 = batchId(q)
        assert(await() { batchId(q) >= b1 + 3 }, "stream stopped self-triggering")
      }
      assert(shortTtl.isEmpty, s"expired entry must stop matching: $shortTtl")

      // the embedding index shares the TimeMode plumbing: same expiry
      // check through vecIndex's ProcessingTime path
      val vecHits = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
      val vin = MemoryStream[VecEvent]
      val vq = StreamingDedup
        .vecIndex(vin.toDS(), simThresholdQ = 4000L,
          ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(1)))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[VecDupRow], _: Long) =>
          batch.collect().foreach(r => vecHits.add((r.a, r.b)))
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ttl-vec").toString)
        .outputMode("append").start()
      try {
        val v = Array(1.0, 2.0, 3.0)
        vin.addData(Seq(VecEvent("0|bucket", new java.sql.Timestamp(0L), "a", v)))
        val b0 = batchId(vq)
        assert(await() { batchId(vq) >= b0 + 2 }, "vec stream stopped self-triggering")
        Thread.sleep(250L)
        vin.addData(Seq(VecEvent("0|bucket", new java.sql.Timestamp(1000L), "b", v)))
        val b1 = batchId(vq)
        assert(await() { batchId(vq) >= b1 + 3 }, "vec stream stopped self-triggering")
      } finally vq.stop()
      import scala.jdk.CollectionConverters._
      assert(vecHits.asScala.isEmpty, s"expired vector must stop matching: $vecHits")
    }
  }

  test("rebase: at-rest indexState + resumed stream == the uninterrupted run's post-split hits") {
    // the production state-bounding path beyond TTL: rebuild the index
    // from the at-rest batch job (indexState), resume admission against
    // it (lshIndexResumed, initial-state channel, fresh checkpoint) —
    // every post-rebase arrival must see EXACTLY the corpus an
    // uninterrupted run would have indexed by then
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = bandedEvents(dir)
      val full = runStream(dir, nChunks = 10).toSet
      val split = graft.io.Tables(spark, dir).documents
        .selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id)").head.getDouble(0).toLong
      val init = StreamingDedup.indexState(events.filter(col("id").cast("long") < split))
      val resumed = Replay
        .bandEvents(events.filter(col("id").cast("long") >= split), nChunks = 5) { stream =>
          StreamingDedup
            .lshIndexResumed(stream, init, k = 64, thresholdNumer = 3, thresholdDenom = 5)
            .toDF()
        }
        .collect().map(r => (r.getInt(0), r.getString(1).toLong, r.getString(2).toLong, r.getInt(3)))
        .toSet
      val expected = full.filter { case (_, _, b, _) => b >= split }
      assert(resumed == expected,
        s"resumed run diverged: ${resumed.size} vs expected ${expected.size} rows")
      assert(resumed.exists { case (_, a, _, _) => a < split },
        "vacuous rebase: no hit crosses the rebase boundary (rebased state never matched)")
      assert(full.exists { case (_, _, b, _) => b < split },
        "vacuous split: the uninterrupted run has no pre-split hits to exclude")
    }
  }

  test("index state carries across micro-batches: chunking never changes the output") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val a = runStream(dir, nChunks = 3).toSet
      val b = runStream(dir, nChunks = 10).toSet
      assert(a.nonEmpty && a == b,
        s"chunking changed the pair set (${a.size} vs ${b.size} rows)")
      // prefix contract: the indexed doc always precedes the arrival
      a.foreach { case (band, x, y, nAgree) =>
        assert(x < y, s"band $band emitted ($x, $y) out of arrival order")
        assert(nAgree >= 4 && nAgree * 5 >= 192, s"($x,$y) n_agree=$nAgree under threshold")
      }
    }
  }
}
