package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.io.Tables

/** Restart recovery — the production property the replay harness never
  * exercises: a stateful query KILLED mid-stream and restarted from its
  * checkpoint must produce exactly the output of an uninterrupted run.
  * That is the contract a 100 TB deployment leans on every time an
  * executor is preempted or a job is redeployed: keyed state, registered
  * event-time timers and the watermark all come back from the state
  * store, and the file sink's transaction log makes the output
  * exactly-once across the restart.
  *
  * Both providers are covered: the session default (HDFS-backed state)
  * and RocksDB, the provider for state beyond executor heap. The
  * restart boundary lands mid-corpus, so in-flight state (unmatched
  * requests, half-complete funnels) must survive it.
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val schema = Seq.empty[KeyedEvent].toDF().schema

  /** The real events table as time-ordered KeyedEvents plus the replay
    * harness's two watermark sentinels, pre-split into 6 single-file
    * micro-batches (4 data chunks + 2 sentinel batches).
    */
  private def chunks(): Seq[Seq[KeyedEvent]] = {
    val rows = Tables(spark, "/root/testdata/sf0.001").events
      .filter(col("event_type").isin("signup", "purchase", "view", "click"))
      .select(
        col("user_id").cast("string").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"))
      .as[KeyedEvent]
      .collect()
      .sortBy(e => (e.ts.getTime, e.id))
      .toSeq
    val n = rows.size
    require(n > 100, s"need a real corpus, got $n rows")
    val quarters = rows.grouped((n + 3) / 4).toSeq
    val maxTs = rows.map(_.ts.getTime).max
    val sentinels = (0 until 2).map { j =>
      Seq(KeyedEvent(
        Replay.Sentinel,
        new Timestamp(maxTs + 30L * 86400 * 1000 + j * 1000),
        Replay.Sentinel, s"s$j"))
    }
    quarters ++ sentinels
  }

  private def writeOne(rows: Seq[KeyedEvent], dir: String, i: Int): Unit = {
    rows.toDF().repartition(1).write.mode("overwrite").parquet(s"$dir/c$i")
    new java.io.File(s"$dir/c$i").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(p =>
        Files.move(p.toPath, java.nio.file.Paths.get(s"$dir/in_$i.parquet")))
    Thread.sleep(5) // distinct mtimes keep replay order deterministic
  }

  /** Run the pipeline over whatever in_*.parquet files exist in `inDir`,
    * into a parquet sink + checkpoint that may already exist (restart).
    */
  private def runPhase(
      inDir: String,
      out: String,
      ckpt: String,
      srcSchema: org.apache.spark.sql.types.StructType = schema)(
      pipe: DataFrame => DataFrame): Unit = {
    val stream = spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inDir/in_*.parquet")
    val q = pipe(stream).writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  private def recoveryHarness(label: String)(pipe: DataFrame => DataFrame): Unit = {
    val cs = chunks()
    val base = Files.createTempDirectory(s"graft-recover-$label").toString

    // uninterrupted reference: all 6 micro-batches in one query lifetime
    val refIn = s"$base/ref_in"; new java.io.File(refIn).mkdirs()
    cs.zipWithIndex.foreach { case (c, i) => writeOne(c, refIn, i + 1) }
    runPhase(refIn, s"$base/ref_out", s"$base/ref_ckpt")(pipe)
    val want = spark.read.parquet(s"$base/ref_out").collect().map(_.toString).sorted

    // killed-and-restarted run: phase 1 sees chunks 1-2 (no sentinels —
    // timers still pending, watermark mid-corpus, funnels half-built),
    // then the query STOPS; phase 2 is a NEW query on the same
    // checkpoint + sink over the remaining chunks + sentinels
    val rIn = s"$base/r_in"; new java.io.File(rIn).mkdirs()
    cs.take(2).zipWithIndex.foreach { case (c, i) => writeOne(c, rIn, i + 1) }
    runPhase(rIn, s"$base/r_out", s"$base/r_ckpt")(pipe)
    val phase1 = spark.read.parquet(s"$base/r_out").collect().map(_.toString).sorted
    cs.drop(2).zipWithIndex.foreach { case (c, i) => writeOne(c, rIn, i + 3) }
    runPhase(rIn, s"$base/r_out", s"$base/r_ckpt")(pipe)
    val got = spark.read.parquet(s"$base/r_out").collect().map(_.toString).sorted

    assert(want.nonEmpty, s"$label: reference run produced no rows")
    assert(phase1.length < want.length,
      s"$label: the restart boundary must land mid-work (phase 1 already " +
        s"emitted ${phase1.length} of ${want.length} rows)")
    assert(got.toSeq == want.toSeq,
      s"$label: restarted output != uninterrupted output " +
        s"(${got.length} vs ${want.length} rows)")
  }

  test("fGWS matchWithTimeout survives kill+restart: state, timers, watermark recover") {
    recoveryHarness("fgws") { df =>
      StateMachines
        .matchWithTimeout(df.as[KeyedEvent], "signup", "purchase", timeoutSec = 86400L)
        .toDF()
    }
  }

  test("ingestGate (two chained machines, RocksDB) survives kill+restart mid-corpus") {
    // the chained-admission recovery path: TWO keyed state machines in
    // one query (fingerprint dedup ledger, then the (band, band-hash)
    // LSH index), each re-sharded on its own key. The kill lands after
    // half the corpus, so BOTH stores are populated — restarted
    // admission must neither re-admit a phase-1 fingerprint nor miss a
    // phase-2 near-dup of a phase-1 doc
    GraftSession.withRocksDb(spark) {
      val docRows = Tables(spark, "/root/testdata/sf0.001").documents
        .select(
          lit("").as("key"),
          timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"),
          col("text"))
        .as[DocEvent]
        .collect()
        .sortBy(e => (e.ts.getTime, e.id))
        .toSeq
      require(docRows.size > 100, s"need a real corpus, got ${docRows.size} docs")
      val quarters = docRows.grouped((docRows.size + 3) / 4).toSeq
      val docSchema = Seq.empty[DocEvent].toDF().schema
      val base = Files.createTempDirectory("graft-recover-ingest").toString

      def writeDocs(rows: Seq[DocEvent], dir: String, i: Int): Unit = {
        rows.toDF().repartition(1).write.mode("overwrite").parquet(s"$dir/c$i")
        new java.io.File(s"$dir/c$i").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(p =>
            Files.move(p.toPath, java.nio.file.Paths.get(s"$dir/in_$i.parquet")))
        Thread.sleep(5)
      }
      def gate(df: DataFrame): DataFrame =
        StreamingDedup.ingestGate(df).toDF()

      val refIn = s"$base/ref_in"; new java.io.File(refIn).mkdirs()
      quarters.zipWithIndex.foreach { case (c, i) => writeDocs(c, refIn, i + 1) }
      runPhase(refIn, s"$base/ref_out", s"$base/ref_ckpt", docSchema)(gate)
      val want = spark.read.parquet(s"$base/ref_out").collect().map(_.toString).sorted

      val rIn = s"$base/r_in"; new java.io.File(rIn).mkdirs()
      quarters.take(2).zipWithIndex.foreach { case (c, i) => writeDocs(c, rIn, i + 1) }
      runPhase(rIn, s"$base/r_out", s"$base/r_ckpt", docSchema)(gate)
      val phase1 = spark.read.parquet(s"$base/r_out").collect().map(_.toString).sorted
      quarters.drop(2).zipWithIndex.foreach { case (c, i) => writeDocs(c, rIn, i + 3) }
      runPhase(rIn, s"$base/r_out", s"$base/r_ckpt", docSchema)(gate)
      val got = spark.read.parquet(s"$base/r_out").collect().map(_.toString).sorted

      assert(want.nonEmpty, "ingestGate reference run produced no hits")
      assert(phase1.length < want.length,
        "restart boundary must land mid-work (phase 1 already emitted everything)")
      assert(got.toSeq == want.toSeq,
        s"restarted ingestGate output != uninterrupted (${got.length} vs ${want.length})")
    }
  }

  test("lshIndexResumed (initial state, RocksDB) survives kill+restart: the rebased index persists") {
    // initial state + checkpoint recovery must COMPOSE: a resumed
    // admission query (batch-rebuilt index loaded through the
    // initial-state channel at batch 0) killed mid-stream has to come
    // back with the rebased buckets still in the store — not silently
    // re-initialize — and keep screening arrivals against both the
    // at-rest corpus and earlier streamed arrivals. The decisive pin is
    // a POST-restart hit against a PRE-split doc: only surviving rebased
    // state can produce one, because the restarted query never sees the
    // initial-state channel again (Spark applies it at batch 0 only).
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val sigs = graft.ops.Dedup.minhashSignatures(
        Tables(spark, dir).documents, col("doc_id"), col("text"),
        shingleLen = 3, k = 64)
      def bandKey(j: Int) =
        concat_ws("|", lit(j), graft.ops.Dedup.bandHash(i => col(s"m$i"), j, 4))
      val events = sigs.select(
          col("doc_id"),
          explode(array((0 until 16).map(bandKey): _*)).as("key"),
          array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
        .select(col("key"), timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"), col("sig"))
      val split = Tables(spark, dir).documents
        .selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id)")
        .head.getDouble(0).toLong
      val init = StreamingDedup.indexState(events.filter(col("id").cast("long") < split))
      val post = events.filter(col("id").cast("long") >= split)
        .as[BandEvent].collect().sortBy(e => (e.ts.getTime, e.id, e.key)).toSeq
      require(post.size > 100, s"need a real banded corpus, got ${post.size} rows")
      val quarters = post.grouped((post.size + 3) / 4).toSeq
      val bandSchema = Seq.empty[BandEvent].toDF().schema
      val base = Files.createTempDirectory("graft-recover-rebase").toString

      def writeBand(rows: Seq[BandEvent], d: String, i: Int): Unit = {
        rows.toDF().repartition(1).write.mode("overwrite").parquet(s"$d/c$i")
        new java.io.File(s"$d/c$i").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(p =>
            Files.move(p.toPath, java.nio.file.Paths.get(s"$d/in_$i.parquet")))
        Thread.sleep(5)
      }
      def resumed(df: DataFrame): DataFrame =
        StreamingDedup
          .lshIndexResumed(
            df.as[BandEvent], init, k = 64, thresholdNumer = 3, thresholdDenom = 5)
          .toDF()
      def hits(out: String): Set[(Int, Long, Long, Int)] =
        spark.read.parquet(out).as[(Int, String, String, Int)]
          .collect().map { case (b, a, bb, n) => (b, a.toLong, bb.toLong, n) }.toSet

      val refIn = s"$base/ref_in"; new java.io.File(refIn).mkdirs()
      quarters.zipWithIndex.foreach { case (c, i) => writeBand(c, refIn, i + 1) }
      runPhase(refIn, s"$base/ref_out", s"$base/ref_ckpt", bandSchema)(resumed)
      val want = hits(s"$base/ref_out")

      val rIn = s"$base/r_in"; new java.io.File(rIn).mkdirs()
      quarters.take(2).zipWithIndex.foreach { case (c, i) => writeBand(c, rIn, i + 1) }
      runPhase(rIn, s"$base/r_out", s"$base/r_ckpt", bandSchema)(resumed)
      val phase1 = hits(s"$base/r_out")
      quarters.drop(2).zipWithIndex.foreach { case (c, i) => writeBand(c, rIn, i + 3) }
      runPhase(rIn, s"$base/r_out", s"$base/r_ckpt", bandSchema)(resumed)
      val got = hits(s"$base/r_out")

      assert(want.nonEmpty, "rebased reference run produced no hits")
      assert(phase1.size < want.size,
        "restart boundary must land mid-work (phase 1 already emitted everything)")
      assert(got == want,
        s"restarted resumed-index output != uninterrupted (${got.size} vs ${want.size})")
      val postRestart = got -- phase1
      assert(postRestart.exists { case (_, a, _, _) => a < split },
        "no post-restart hit against a pre-split doc: the rebased index " +
          "did not survive the restart (or the fixture is vacuous)")
    }
  }

  test("Tws matchWithTimeout (RocksDB) survives kill+restart: named states and timers recover") {
    // same machine as the fGWS test on purpose: the variable under test
    // is the STATE BACKEND (RocksDB snapshot/changelog recovery), and
    // this machine's timeout rows only fire at the sentinel — so the
    // restart boundary provably lands with pending state (unmatched
    // signups) and armed timers in the store. The test name predates
    // the retired transformWithState twin and is kept as the test's id.
    GraftSession.withRocksDb(spark) {
      recoveryHarness("rocksdb") { df =>
        StateMachines
          .matchWithTimeout(df.as[KeyedEvent], "signup", "purchase", timeoutSec = 86400L)
          .toDF()
      }
    }
  }
}
