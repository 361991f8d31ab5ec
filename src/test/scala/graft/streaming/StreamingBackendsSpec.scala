package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkSpec}

/** Backend plumbing the other streaming suites don't exercise:
  *
  *   - the RocksDB state-store provider ([[GraftSession.withRocksDb]] —
  *     the provider for keyed state that exceeds executor heap, SURVEY
  *     §4) actually running a state machine;
  *   - the Kafka end-to-end shape without a broker: a MemoryStream with
  *     kafka's exact output schema feeding [[Sources.parseCsvValue]] into
  *     a state machine, proving the downstream contract of
  *     [[Sources.kafkaStream]].
  */
class StreamingBackendsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  test("consecutiveMatches runs green on RocksDBStateStoreProvider") {
    GraftSession.withRocksDb(spark) {
      assert(spark.conf.get(ProviderConf).contains("RocksDBStateStoreProvider"))
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[KeyedEvent]
      val q = StateMachines.consecutiveMatches(input.toDS(), "fail", 2, 2L)
        .writeStream.format("memory").queryName("rocksdb_consec").outputMode("append").start()
      try {
        input.addData(Seq(
          KeyedEvent("u1", ts("2020-01-01 00:00:00"), "fail", "e1"),
          KeyedEvent("u2", ts("2020-01-01 00:00:00"), "fail", "e2")))
        q.processAllAvailable()
        // state (u1's open run) must survive a batch boundary inside RocksDB
        input.addData(Seq(
          KeyedEvent("u1", ts("2020-01-01 00:00:01"), "fail", "e3"),
          KeyedEvent("u2", ts("2020-01-01 00:00:01"), "ok", "e4")))
        q.processAllAvailable()
        val out = spark.table("rocksdb_consec").as[TaggedRow].collect().toSeq
        assert(out.map(r => (r.key, r.first_ts, r.last_ts)) ==
          Seq(("u1", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:01"))))
        // the provider was live for this query, not just configured
        assert(q.lastProgress.stateOperators.nonEmpty)
      } finally q.stop()
    }
  }

  test("q_hot_items_stream replays on RocksDBStateStoreProvider == batch twin (sf0.01)") {
    // The 100 TB posture claims RocksDB for state that exceeds executor
    // heap; this runs the LARGEST-state replay on the correctness record
    // (the streaming top-N collector holds every open (window, key)
    // partial) under the provider end-to-end — 12 micro-batches,
    // watermark eviction, timer firing — and asserts the output is
    // IDENTICAL to the batch twin that the DuckDB oracle checks.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.toSeq.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
    val sf01 = "/root/testdata/sf0.01"
    GraftSession.withRocksDb(spark) {
      val got = rows(graft.SparkEntry.queries("q_hot_items_stream")(spark, sf01))
      assert(got.nonEmpty)
      assert(got.toSet == rows(graft.SparkEntry.queries("q_hot_items")(spark, sf01)).toSet)
    }
    // the reference apps' event machines, replayed on both providers:
    // the RocksDB replay must return exactly the default-provider rows
    // (the oracle-checked ones) — fGWS timers, watermark eviction and
    // Cep.run's NFA state all round-trip through the RocksDB store.
    // sf0.001 holds no three-failure run, so the CEP replay reads sf0.01
    // to compare non-empty outputs.
    val sf001 = "/root/testdata/sf0.001"
    for ((name, dir) <- Seq("q_login_fail_stream", "q_ad_blacklist_stream",
        "q_reconcile_stream", "q_asof_stream", "q_hot_items_stream", "q_funnel_stream")
        .map(_ -> sf001) :+ ("q_cep_login_fail3_stream" -> sf01)) {
      val build = graft.SparkEntry.queries(name)
      val want = rows(build(spark, dir))
      val got = GraftSession.withRocksDb(spark)(rows(build(spark, dir)))
      assert(want.nonEmpty, s"$name: vacuous fixture, no rows at $dir")
      assert(got == want, s"$name: RocksDB replay != default-provider replay " +
        s"(${got.size} vs ${want.size} rows)")
    }
  }

  test("socketStream reads lines from a live loopback TCP server (S2, e2e)") {
    // dev/debug source, but it can be driven for real: a ServerSocket on
    // 127.0.0.1 needs no external network
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val lines = Seq("1,pv,home", "2,pv,cart", "3,buy,cart")
    val writer = new Thread(() => {
      val s = server.accept() // blocks until the source connects
      val w = new java.io.PrintWriter(s.getOutputStream, true)
      lines.foreach(w.println)
      w.flush()
      // hold the connection open while the source polls; the test closes us
      try Thread.sleep(30000) catch { case _: InterruptedException => () }
      s.close()
    })
    writer.setDaemon(true)
    writer.start()
    val q = Sources.socketStream(spark, "127.0.0.1", server.getLocalPort)
      .writeStream.format("memory").queryName("socket_e2e").outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (spark.table("socket_e2e").count() < lines.size && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      assert(spark.table("socket_e2e").as[String].collect().toSet == lines.toSet)
    } finally {
      q.stop()
      writer.interrupt()
      server.close()
    }
  }

  /** Kafka source output schema, verbatim (key/value binary, metadata
    * columns) — what [[Sources.kafkaStream]] hands downstream. */
  private case class KafkaRecord(
      key: Array[Byte],
      value: Array[Byte],
      topic: String,
      partition: Int,
      offset: Long,
      timestamp: Timestamp,
      timestampType: Int)

  test("kafka-shaped stream -> parseCsvValue -> state machine == batch") {
    val eventSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("ts", TimestampType),
      StructField("kind", StringType),
      StructField("id", StringType)))
    val lines = Seq(
      "u1,2020-01-01 00:00:00,fail,e1",
      "u1,2020-01-01 00:00:01,fail,e2",
      "u2,2020-01-01 00:00:00,fail,e3",
      "not-a-csv-row-with-no-commas", // malformed: parses to null columns, must not kill the job
      "u2,2020-01-01 00:00:02,ok,e4",
      "u2,2020-01-01 00:00:03,fail,e5")
    def rec(line: String, off: Long): KafkaRecord =
      KafkaRecord(null, line.getBytes("UTF-8"), "events", 0, off, ts("2020-01-01 00:00:10"), 0)

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KafkaRecord]
    val parsed = Sources
      .parseCsvValue(input.toDF(), eventSchema)
      .filter(col("key").isNotNull && col("ts").isNotNull) // drop malformed
      .as[KeyedEvent]
    val q = StateMachines.consecutiveMatches(parsed, "fail", 2, 7200L)
      .writeStream.format("memory").queryName("kafka_e2e").outputMode("append").start()
    try {
      val (b1, b2) = lines.splitAt(3)
      input.addData(b1.zipWithIndex.map { case (l, i) => rec(l, i.toLong) })
      q.processAllAvailable()
      input.addData(b2.zipWithIndex.map { case (l, i) => rec(l, (i + 3).toLong) })
      q.processAllAvailable()
      val streamed = spark.table("kafka_e2e").as[TaggedRow]
        .collect().map(r => (r.key, r.first_ts, r.last_ts)).toSet
      val batch = graft.ops.Sequences
        .consecutiveMatches(
          spark.read.schema(eventSchema).csv(lines.toDS()),
          col("key"), col("ts"), col("id"), col("kind") === "fail", 2, 7200L)
        .as[(String, Timestamp, Timestamp)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(("u1", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:01"))))
    } finally q.stop()
  }

  /** Round-9 (verdict item 9): the kafka contract one level deeper — the
    * AT-LEAST-ONCE shape. Kafka redelivers on failure, so every record
    * arrives up to three times here (batch 1 again alongside batch 2,
    * batch 2 again at the end); the downstream dedup on kafka's
    * (topic, partition, offset) record identity must make each machine
    * exactly-once anyway. Spec-scale dedup is plain `dropDuplicates`
    * (unbounded seen-set state); production bounds it with
    * `dropDuplicatesWithinWatermark` once offsets are monotone per
    * partition.
    */
  private def kafkaAtLeastOnce(
      name: String,
      lines: Seq[String],
      firstBatch: Int)(
      machine: org.apache.spark.sql.Dataset[KeyedEvent] => org.apache.spark.sql.DataFrame)
      : Set[Seq[Any]] = {
    val eventSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("ts", TimestampType),
      StructField("kind", StringType),
      StructField("id", StringType)))
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KafkaRecord]
    val deduped = input.toDF().dropDuplicates("topic", "partition", "offset")
    val parsed = Sources
      .parseCsvValue(deduped, eventSchema)
      .filter(col("key").isNotNull && col("ts").isNotNull)
      .as[KeyedEvent]
    val q = machine(parsed)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val recs = lines.zipWithIndex.map { case (l, i) =>
        KafkaRecord(null, l.getBytes("UTF-8"), "events", 0, i.toLong,
          ts("2020-01-01 03:00:00"), 0)
      }
      val (b1, b2) = recs.splitAt(firstBatch)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b1 ++ b2) // b1 REDELIVERED alongside the new b2
      q.processAllAvailable()
      input.addData(b2) // b2 redelivered after "failure"
      q.processAllAvailable()
      spark.table(name).collect().map(_.toSeq.toVector).toSet
    } finally q.stop()
  }

  test("kafka at-least-once redelivery: offset dedup keeps all four machines exactly-once") {
    // order-timeout machine: matched pair emits once despite triple
    // delivery; the unmatched create times out exactly once
    val timeoutRows = kafkaAtLeastOnce("kafka_alo_timeout", Seq(
      "o1,2020-01-01 00:00:00,create,c1",
      "o1,2020-01-01 00:05:00,pay,p1",
      "o2,2020-01-01 00:10:00,create,c2",
      "zz,2020-01-01 02:00:00,create,c3"), firstBatch = 2)(
      s => StateMachines.matchWithTimeout(s, "create", "pay", timeoutSec = 900L).toDF())
    assert(timeoutRows == Set(
      Vector("o1", "matched", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:05:00"), "c1"),
      Vector("o2", "timeout", ts("2020-01-01 00:10:00"), ts("2020-01-01 00:25:00"), "c2")))

    // two-stream reconcile: one matched pair, one left_only — each once
    val reconRows = kafkaAtLeastOnce("kafka_alo_recon", Seq(
      "k1,2020-01-01 00:20:00,pay,p1",
      "k1,2020-01-01 00:20:03,receipt,r1",
      "k2,2020-01-01 00:30:00,pay,p2",
      "zz,2020-01-01 02:00:00,pay,z1"), firstBatch = 2)(
      s => StateMachines.reconcile(s, "pay", "receipt", toleranceSec = 5L).toDF())
    assert(reconRows == Set(
      Vector("k1", "matched", ts("2020-01-01 00:20:00"), ts("2020-01-01 00:20:03"), "p1|r1"),
      Vector("k2", "left_only", ts("2020-01-01 00:30:00"), ts("2020-01-01 00:30:00"), "p2")))

    // daily-threshold blacklist: redelivered clicks must not re-count —
    // one pass, one warn, later clicks suppressed
    val blacklistRows = kafkaAtLeastOnce("kafka_alo_blacklist", Seq(
      "ad1,2020-01-01 00:01:00,click,c1",
      "ad1,2020-01-01 00:02:00,click,c2",
      "ad1,2020-01-01 00:03:00,click,c3"), firstBatch = 2)(
      s => StateMachines.dailyThreshold(s, "click", threshold = 2L).toDF())
    assert(blacklistRows == Set(
      Vector("ad1", "pass", ts("2020-01-01 00:01:00"), ts("2020-01-01 00:01:00"), "c1"),
      Vector("ad1", "warn", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:02:00"), "count=2")))

    // windowed top-N collector: counts would inflate under redelivery;
    // assert the closed 1h window's exact ranking (flush event advances
    // the watermark past window end + the 2 s delay)
    val topNRows = kafkaAtLeastOnce("kafka_alo_topn", Seq(
      "itemA,2020-01-01 00:01:00,view,v1",
      "itemA,2020-01-01 00:02:00,view,v2",
      "itemB,2020-01-01 00:03:00,view,v3",
      "zz,2020-01-01 02:00:00,view,v4"), firstBatch = 2)(
      s => StateMachines.windowTopN(s, sizeUs = 3600000000L, slideUs = 3600000000L, n = 2).toDF())
    assert(topNRows == Set(
      Vector(ts("2020-01-01 00:00:00"), "itemA", 2L, 1),
      Vector(ts("2020-01-01 00:00:00"), "itemB", 1L, 2)))
  }

  test("serving-store sink: exactly-once KV upsert under redelivery, crash-retry, and e2e UV") {
    import graft.io.Sinks
    val data = KvRegistry.fresh()

    // 1) the batchId ledger makes a REDELIVERED batch a no-op: same
    // (rows, batchId) offered three times must hit the store once
    val frame = Seq(("2020-01-01", 2L), ("2020-01-02", 1L)).toDF("day", "uv")
    val apply5 = Sinks.kvUpsertBatch(data.store, "uv", "day") _
    apply5(frame, 5L)
    val oncePuts = data.putCalls.get()
    apply5(frame, 5L); apply5(frame, 5L)
    assert(data.putCalls.get() == oncePuts,
      s"redelivered batch reached putAll (${data.putCalls.get()} vs $oncePuts calls)")
    assert(data.committed("uv") == 5L)
    val afterFirst = data.snapshot()
    assert(afterFirst.keySet == Set("2020-01-01", "2020-01-02"))

    // 2) crash-retry convergence: putAll dies after a partial write (no
    // commit marker lands), the engine re-offers the SAME batch, the
    // retry re-applies idempotently and commits
    data.failNextPut()
    val frame2 = Seq(("2020-01-02", 3L), ("2020-01-03", 2L)).toDF("day", "uv")
    intercept[Exception] { apply5(frame2.coalesce(1), 6L) }
    assert(data.committed("uv") == 5L, "a failed batch must not advance the ledger")
    apply5(frame2.coalesce(1), 6L) // redelivery after the crash
    assert(data.committed("uv") == 6L)
    val got = data.snapshot()
    assert(got("2020-01-02").contains("\"uv\":3") && got("2020-01-03").contains("\"uv\":2"),
      s"retry must converge to the once-applied state: $got")

    // 3) end-to-end: daily UV (dedup -> windowed count, the reference's
    // UniqueVisitorApp2 serving shape) streamed into the store through
    // streamingKvUpsert; store contents == the batch answer
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val uv = input.toDS()
      .withWatermark("ts", "0 seconds")
      .dropDuplicates("key", "kind") // kind carries the day string here
      .groupBy(col("kind").as("day"))
      .agg(count(when(col("key") =!= Replay.Sentinel, 1)).as("uv"))
      .filter(col("uv") > 0)
    val e2e = KvRegistry.fresh()
    val q = Sinks.streamingKvUpsert(
      uv.toDF(), e2e.store, "uv_daily", "day",
      java.nio.file.Files.createTempDirectory("graft-kv-ckpt").toString)
      .outputMode("complete")
      .start()
    try {
      def ev(u: String, day: String, i: Int) =
        KeyedEvent(u, ts(s"$day 01:00:0$i"), day, s"e$i")
      input.addData(Seq(
        ev("u1", "2020-01-01", 1), ev("u2", "2020-01-01", 2), ev("u1", "2020-01-01", 3)))
      q.processAllAvailable()
      input.addData(Seq(ev("u1", "2020-01-02", 4), ev("u3", "2020-01-02", 5)))
      q.processAllAvailable()
      val served = e2e.snapshot()
      assert(served("2020-01-01").contains("\"uv\":2"), s"day1 UV wrong: $served")
      assert(served("2020-01-02").contains("\"uv\":2"), s"day2 UV wrong: $served")
      assert(e2e.committed("uv_daily") >= 1L)
    } finally q.stop()
  }

  test("served daily UV over the real events table: the STORE's final contents equal the batch answer") {
    // the round-12 gap: streamingKvUpsert was exactly-once-proven but
    // composed with no real pipeline. Here q_uv_hourly's declared
    // distinct-count op at daily grain runs as its streaming twin
    // (watermark → per-(day, user) dedup → watermark-final daily count)
    // over the REAL sf0.001 events replayed in chronological chunks, and
    // the assertion reads the SERVED state — the KV store a dashboard
    // would query — against WindowAggs.tumblingCountDistinct over the
    // same table. Not the sink file: the store.
    import graft.io.Sinks
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val truth = graft.ops.WindowAggs
      .tumblingCountDistinct(events, col("ts"), "1 day", col("user_id"))
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"), col("uv"))
      .as[(String, Long)].collect().toMap
    assert(truth.size > 1, s"vacuous fixture: ${truth.size} days")

    val rows = events.select(
        col("user_id").cast("string").as("key"), col("ts"),
        lit("e").as("kind"), col("event_id").cast("string").as("id"))
      .as[KeyedEvent].collect().sortBy(e => (e.ts.getTime, e.id)).toSeq
    val maxTs = rows.map(_.ts.getTime).max
    val chunks = rows.grouped((rows.size + 3) / 4).toSeq ++ (0 until 2).map(j =>
      Seq(KeyedEvent(
        Replay.Sentinel,
        new java.sql.Timestamp(maxTs + 30L * 86400 * 1000 + j * 1000),
        Replay.Sentinel, s"s$j")))

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val uv = input.toDS().toDF()
      .withWatermark("ts", "2 seconds")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .dropDuplicates("day", "key")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(when(col("key") =!= Replay.Sentinel, 1)).as("uv"))
      .filter(col("uv") > 0)
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("uv"))
    val store = KvRegistry.fresh()
    val q = Sinks.streamingKvUpsert(
      uv, store.store, "uv_daily_served", "day",
      java.nio.file.Files.createTempDirectory("graft-kv-uv-ckpt").toString)
      .start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      val served = store.snapshot()
      assert(served.keySet == truth.keySet,
        s"served day set != batch (${served.keySet.size} vs ${truth.size})")
      for ((day, n) <- truth)
        assert(served(day).contains(s""""uv":$n"""),
          s"served $day = ${served(day)}, batch uv = $n")
      assert(store.committed("uv_daily_served") >= 1L)
    } finally q.stop()
  }
}

/** JVM-global in-memory serving store for the sink spec: executors in
  * local mode share the JVM, so a registry keyed by store name gives the
  * driver-side assertions the executor-side writes. A production
  * [[graft.io.Sinks.KvStore]] holds a real client opened inside putAll.
  */
object KvRegistry {
  import java.util.concurrent.{ConcurrentHashMap, atomic}

  private val tables = new ConcurrentHashMap[String, ConcurrentHashMap[String, String]]()
  private val ledgers = new ConcurrentHashMap[String, ConcurrentHashMap[String, java.lang.Long]]()
  private val puts = new ConcurrentHashMap[String, atomic.AtomicInteger]()
  private val faults = new ConcurrentHashMap[String, java.lang.Boolean]()
  private val nameSeq = new atomic.AtomicInteger(0)

  class Handle(name: String) {
    val store: graft.io.Sinks.KvStore = new InMemoryKvStore(name)
    def putCalls: atomic.AtomicInteger = puts.get(name)
    def committed(sinkId: String): Long = store.committedBatch(sinkId)
    def failNextPut(): Unit = faults.put(name, true)
    def snapshot(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      tables.get(name).asScala.toMap
    }
  }

  def fresh(): Handle = {
    val name = s"kv${nameSeq.incrementAndGet()}"
    tables.put(name, new ConcurrentHashMap[String, String]())
    ledgers.put(name, new ConcurrentHashMap[String, java.lang.Long]())
    puts.put(name, new atomic.AtomicInteger(0))
    new Handle(name)
  }

  class InMemoryKvStore(name: String) extends graft.io.Sinks.KvStore {
    override def putAll(entries: Iterator[(String, String)]): Unit = {
      puts.get(name).incrementAndGet()
      val t = tables.get(name)
      var n = 0
      for ((k, v) <- entries) {
        if (n == 1 && faults.remove(name) != null)
          throw new RuntimeException("injected store fault after a partial write")
        t.put(k, v)
        n += 1
      }
    }
    override def committedBatch(sinkId: String): Long =
      Option(ledgers.get(name).get(sinkId)).map(_.longValue).getOrElse(-1L)
    override def commitBatch(sinkId: String, batchId: Long): Unit =
      ledgers.get(name).put(sinkId, batchId)
  }
}
