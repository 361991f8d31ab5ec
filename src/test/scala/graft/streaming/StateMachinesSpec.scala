package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** MemoryStream-driven specs for the stateful streaming operators —
  * explicit event-sequence scenarios (SURVEY §5: fail-fail-success,
  * create-no-pay, pay-no-receipt) with manual watermark advancement via
  * later sentinel events.
  */
class StateMachinesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def ev(key: String, t: String, kind: String, id: String): KeyedEvent =
    KeyedEvent(key, ts(t), kind, id)

  /** Run a bounded scenario through a streaming op: feed batches, advance
    * the watermark past everything with a sentinel key, collect rows.
    */
  private def runScenario(
      batches: Seq[Seq[KeyedEvent]],
      name: String)(op: Dataset[KeyedEvent] => Dataset[TaggedRow]): Seq[TaggedRow] = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = op(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      for (b <- batches) { input.addData(b); q.processAllAvailable() }
      // two empty-ish batches so the final watermark is computed AND acted on
      input.addData(Seq(ev("__sentinel", "2030-01-01 00:00:00", "noop", "s")))
      q.processAllAvailable()
      input.addData(Seq(ev("__sentinel", "2030-01-01 00:00:01", "noop", "s2")))
      q.processAllAvailable()
      spark.table(name).as[TaggedRow].collect().toSeq.filterNot(_.key == "__sentinel")
    } finally q.stop()
  }

  test("consecutiveMatches(stream): fail-fail warns, success resets, across batches") {
    val out = runScenario(
      Seq(
        Seq(
          ev("u1", "2020-01-01 00:00:00", "fail", "e1"),
          ev("u2", "2020-01-01 00:00:00", "fail", "e3")),
        Seq( // run continues across micro-batches via state
          ev("u1", "2020-01-01 00:00:01", "fail", "e2"),
          ev("u2", "2020-01-01 00:00:01", "success", "e4"),
          ev("u2", "2020-01-01 00:00:02", "fail", "e5"))),
      "sm_consec")(StateMachines.consecutiveMatches(_, "fail", 2, 2L))
    assert(out.map(r => (r.key, r.first_ts, r.last_ts)) ==
      Seq(("u1", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:01"))))
  }

  test("asOf(stream): latest prior build wins, inclusive tie, no_build when none") {
    val out = runScenario(
      Seq(
        Seq(ev("u1", "2020-01-01 00:00:10", "click", "c1")),
        Seq( // same-instant build is visible (inclusive <=); equal-ts
          // events share a batch — a row AT the watermark is late-dropped,
          // which is also why the replay query runs with a delay margin
          ev("u1", "2020-01-01 00:00:20", "click", "c2"),
          ev("u1", "2020-01-01 00:00:20", "purchase", "p1"),
          ev("u1", "2020-01-01 00:00:30", "purchase", "p2"),
          ev("u2", "2020-01-01 00:00:30", "purchase", "p3")), // no click ever
        Seq( // build after the probes: must not rewrite history
          ev("u1", "2020-01-01 00:00:40", "click", "c3"),
          ev("u1", "2020-01-01 00:00:50", "purchase", "p4"))),
      "sm_asof")(StateMachines.asOf(_, "click", "purchase"))
    val got = out.map(r => (r.key, r.tag, r.info)).toSet
    assert(got == Set(
      ("u1", "matched", "p1|c2"),
      ("u1", "matched", "p2|c2"),
      ("u2", "no_build", "p3"),
      ("u1", "matched", "p4|c3")))
  }

  test("asOf(stream): out-of-order build inside the watermark delay still wins") {
    // probe arrives first; an older-ts build lands in a later batch while
    // the watermark (2s delay) has not passed the probe yet
    val out = runScenario(
      Seq(
        Seq(ev("u1", "2020-01-01 00:00:10", "purchase", "p1")),
        Seq(ev("u1", "2020-01-01 00:00:09", "click", "c1")),
        Seq(ev("u1", "2020-01-01 00:00:30", "click", "c9"))),
      "sm_asof_ooo")(StateMachines.asOf(_, "click", "purchase", watermarkDelay = "2 seconds"))
    assert(out.map(r => (r.tag, r.info)) == Seq(("matched", "p1|c1")))
  }

  test("consecutiveMatches(stream) equals batch formulation on same input") {
    import org.apache.spark.sql.functions.col
    val events = Seq(
      ev("a", "2020-01-01 00:00:00", "fail", "1"),
      ev("a", "2020-01-01 00:00:01", "fail", "2"),
      ev("a", "2020-01-01 00:00:02", "fail", "3"),
      ev("a", "2020-01-01 00:00:05", "success", "4"),
      ev("a", "2020-01-01 00:00:06", "fail", "5"),
      ev("b", "2020-01-01 00:00:00", "fail", "6"),
      ev("b", "2020-01-01 00:00:04", "fail", "7")) // gap > 2s: no warn
    val streamed = runScenario(Seq(events.take(3), events.drop(3)), "sm_equiv")(
      StateMachines.consecutiveMatches(_, "fail", 2, 2L))
      .map(r => (r.key, r.first_ts, r.last_ts)).toSet
    val batch = graft.ops.Sequences
      .consecutiveMatches(
        events.toDF(), col("key"), col("ts"), col("id"), col("kind") === "fail", 2, 2L)
      .as[(String, Timestamp, Timestamp)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 2) // a:(0,1), a:(1,2)
  }

  test("dailyThreshold(stream): passes below, warns once, suppresses after, resets next day") {
    val out = runScenario(
      Seq(Seq(
        ev("u1", "2020-01-01 10:00:00", "click", "c1"),
        ev("u1", "2020-01-01 11:00:00", "click", "c2"),
        ev("u1", "2020-01-01 12:00:00", "click", "c3"),
        ev("u1", "2020-01-02 09:00:00", "click", "c4"))),
      "sm_daily")(StateMachines.dailyThreshold(_, "click", 2L))
    val tags = out.map(r => (r.tag, r.info))
    assert(tags == Seq(
      ("pass", "c1"),          // below threshold
      ("warn", "count=2"),     // crossing
      // c3 suppressed
      ("pass", "c4")))         // next day: reset
  }

  test("matchWithTimeout(stream): in-time match, watermark-driven timeout") {
    val out = runScenario(
      Seq(
        Seq(
          ev("o1", "2020-01-01 00:00:00", "create", "r1"),
          ev("o2", "2020-01-01 00:00:00", "create", "r2")),
        Seq(ev("o1", "2020-01-01 00:10:00", "pay", "p1"))),
      "sm_timeout")(StateMachines.matchWithTimeout(_, "create", "pay", 900L))
    val byTag = out.groupBy(_.tag)
    assert(byTag("matched").map(r => (r.key, r.info)) == Seq(("o1", "r1")))
    assert(byTag("timeout").map(r => (r.key, r.info)) == Seq(("o2", "r2")))
  }

  test("matchWithTimeout(stream): late pay is not matched (already timed out)") {
    val out = runScenario(
      Seq(
        Seq(ev("o3", "2020-01-01 00:00:00", "create", "r3")),
        Seq(ev("o3", "2020-01-01 02:00:00", "pay", "p3"))), // far past 15min deadline
      "sm_latepay")(StateMachines.matchWithTimeout(_, "create", "pay", 900L))
    assert(out.map(_.tag).sorted == Seq("resp_no_req", "timeout"))
  }

  test("chained stateful query: blacklist stage feeding windowed agg (AdClickApp shape)") {
    // two stateful operators in ONE streaming query — the reference's
    // back-to-back keyBy topology (SURVEY §3 entry point 2)
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[KeyedEvent]
    val tagged = StateMachines.dailyThreshold(input.toDS(), "click", 3L)
    val counts = tagged.filter(col("tag") === "pass")
      .withWatermark("last_ts", "0 seconds")
      .groupBy(window(col("last_ts"), "1 hour"), col("info"))
      .agg(count(lit(1)).as("cnt"))
    val q = counts.writeStream.format("memory").queryName("sm_chain")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        ev("u1", "2020-01-01 10:00:00", "click", "beijing"),
        ev("u1", "2020-01-01 10:10:00", "click", "beijing"),
        ev("u2", "2020-01-01 10:20:00", "click", "shanghai")))
      q.processAllAvailable()
      input.addData(Seq(ev("u9", "2020-01-01 13:00:00", "click", "henan")))
      q.processAllAvailable()
      input.addData(Seq(ev("u9", "2020-01-01 13:00:01", "click", "henan")))
      q.processAllAvailable()
      val got = spark.table("sm_chain").select("info", "cnt")
        .as[(String, Long)].collect().toMap
      assert(got == Map("beijing" -> 2L, "shanghai" -> 1L)) // 13:00 window not final yet
    } finally q.stop()
  }

  test("reconcile(stream): matched pair plus left_only and right_only side outputs") {
    val out = runScenario(
      Seq(Seq(
        ev("tx1", "2020-01-01 00:00:00", "pay", "p1"),
        ev("tx1", "2020-01-01 00:00:03", "receipt", "r1"),
        ev("tx2", "2020-01-01 00:00:00", "pay", "p2"),
        ev("tx3", "2020-01-01 00:00:00", "receipt", "r3"))),
      "sm_reconcile")(StateMachines.reconcile(_, "pay", "receipt", 5L))
    val tags = out.map(r => (r.key, r.tag)).toSet
    assert(tags == Set(("tx1", "matched"), ("tx2", "left_only"), ("tx3", "right_only")))
    assert(out.find(_.tag == "matched").get.info == "p1|r1")
  }

  test("windowTopNEventGrain(stream): per-window counts, rank order, state cleared by timer") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    // 10 min windows sliding 5 min, top 2; key column carries the item
    val q = StateMachines
      .windowTopNEventGrain(input.toDS(), sizeUs = 600000000L, slideUs = 300000000L, n = 2)
      .writeStream.format("memory").queryName("sm_topn").outputMode("append").start()
    try {
      input.addData(Seq(
        ev("a", "2020-01-01 00:02:00", "click", "e1"),
        ev("a", "2020-01-01 00:03:00", "click", "e2"),
        ev("b", "2020-01-01 00:04:00", "click", "e3")))
      q.processAllAvailable()
      input.addData(Seq(ev("c", "2020-01-01 00:06:00", "click", "e4")))
      q.processAllAvailable()
      // watermark-advancing sentinels: the machine must DROP them (kind
      // sentinel), yet their watermark still fires every window timer
      for (i <- 0 until 2) {
        input.addData(Seq(KeyedEvent(
          Replay.Sentinel, ts(s"2030-01-01 00:00:0$i"), Replay.Sentinel, s"s$i")))
        q.processAllAvailable()
      }
      val got = spark.table("sm_topn")
        .as[StateMachines.WindowTopRow].collect()
        .map(r => (r.window_start.toString, r.item, r.cnt, r.rank)).toSet
      assert(got == Set(
        ("2019-12-31 23:55:00.0", "a", 2L, 1), ("2019-12-31 23:55:00.0", "b", 1L, 2),
        ("2020-01-01 00:00:00.0", "a", 2L, 1), ("2020-01-01 00:00:00.0", "b", 1L, 2),
        ("2020-01-01 00:05:00.0", "c", 1L, 1)))
    } finally q.stop()
  }

  test("windowTopN(stream, two-stage): same rows as event-grain; finals-only collector input") {
    // the declared streaming plan: built-in watermark-final (window, item)
    // aggregation → window-keyed collector. Same scenario as the
    // event-grain timer test; the sentinel must flow INTO the aggregate
    // (conditional count) and still never reach the emitted rows
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines
      .windowTopN(input.toDS(), sizeUs = 600000000L, slideUs = 300000000L, n = 2)
      .writeStream.format("memory").queryName("sm_topn2").outputMode("append").start()
    try {
      input.addData(Seq(
        ev("a", "2020-01-01 00:02:00", "click", "e1"),
        ev("a", "2020-01-01 00:03:00", "click", "e2"),
        ev("b", "2020-01-01 00:04:00", "click", "e3")))
      q.processAllAvailable()
      input.addData(Seq(ev("c", "2020-01-01 00:06:00", "click", "e4")))
      q.processAllAvailable()
      for (i <- 0 until 2) {
        input.addData(Seq(KeyedEvent(
          Replay.Sentinel, ts(s"2030-01-01 00:00:0$i"), Replay.Sentinel, s"s$i")))
        q.processAllAvailable()
      }
      val got = spark.table("sm_topn2")
        .as[StateMachines.WindowTopRow].collect()
        .map(r => (r.window_start.toString, r.item, r.cnt, r.rank)).toSet
      assert(got == Set(
        ("2019-12-31 23:55:00.0", "a", 2L, 1), ("2019-12-31 23:55:00.0", "b", 1L, 2),
        ("2020-01-01 00:00:00.0", "a", 2L, 1), ("2020-01-01 00:00:00.0", "b", 1L, 2),
        ("2020-01-01 00:05:00.0", "c", 1L, 1)))
      // plan pin: TWO stateful stages — the built-in windowed aggregation
      // (raw events partial-combined BEFORE its shuffle) feeding the
      // window-keyed collector; the single-machine event-grain plan had
      // only the fGWS stage and concentrated a window's events on one group
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      assert(ops.sorted == Seq("flatMapGroupsWithState", "stateStoreSave"),
        s"expected agg + collector stateful stages, got $ops")
    } finally q.stop()
  }

  test("windowTopN two-stage == windowTopNEventGrain on replayed real events") {
    // the scale-shaped plan and the timer-fidelity machine must be
    // row-identical over a multi-batch replay of the real events table
    import org.apache.spark.sql.functions.{col, lit}
    val dir = "/root/testdata/sf0.001"
    val input = graft.io.Tables(spark, dir).events
      .select(
        col("event_type").as("key"),
        col("ts"),
        lit("page").as("kind"),
        col("event_id").cast("string").as("id"))
    def rows(f: org.apache.spark.sql.Dataset[KeyedEvent] => org.apache.spark.sql.DataFrame) =
      Replay.keyedEvents(input, nChunks = 6)(f)
        .as[StateMachines.WindowTopRow].collect()
        .map(r => (r.window_start, r.item, r.cnt, r.rank)).toSet
    val twoStage = rows(
      StateMachines.windowTopN(_, sizeUs = 1800000000L, slideUs = 600000000L, n = 3).toDF())
    val eventGrain = rows(
      StateMachines.windowTopNEventGrain(_, sizeUs = 1800000000L, slideUs = 600000000L, n = 3).toDF())
    assert(twoStage.nonEmpty, "gate is vacuous: no windows emitted")
    assert(twoStage.exists(_._4 > 1), "fixture must rank >1 item per window")
    assert(twoStage == eventGrain)
  }

  test("retentionDays(stream): cohort final at watermark, days emit once, late day buffers") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.retentionDays(input.toDS())
      .writeStream.format("memory").queryName("sm_retention").outputMode("append").start()
    try {
      // u1 active on Jan 1 and Jan 3; u2 first appears Jan 2. First batch's
      // watermark is 0 → nothing final yet; day rows must NOT leak early.
      input.addData(Seq(
        ev("u1", "2020-01-01 10:00:00", "view", "e1"),
        ev("u2", "2020-01-02 09:00:00", "view", "e2")))
      q.processAllAvailable()
      input.addData(Seq(
        ev("u1", "2020-01-03 08:00:00", "click", "e3"),
        ev("u1", "2020-01-01 23:00:00", "view", "e4"))) // same-day repeat: no extra row
      q.processAllAvailable()
      for (i <- 0 until 2) {
        input.addData(Seq(KeyedEvent(
          Replay.Sentinel, ts(s"2030-01-01 00:00:0$i"), Replay.Sentinel, s"s$i")))
        q.processAllAvailable()
      }
      val got = spark.table("sm_retention")
        .as[StateMachines.RetentionRow].collect()
        .map(r => (r.key, r.cohort.toString, r.day.toString)).toSet
      assert(got == Set(
        ("u1", "2020-01-01", "2020-01-01"),
        ("u1", "2020-01-01", "2020-01-03"),
        ("u2", "2020-01-02", "2020-01-02")))
    } finally q.stop()
  }

  test("eventSequences(stream): capped (ts,id) order across batches, idle horizon finalizes once") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.eventSequences(input.toDS(), maxLen = 3, idleSec = 3600L)
      .writeStream.format("memory").queryName("sm_seq").outputMode("append").start()
    try {
      input.addData(Seq(
        ev("u1", "2020-01-01 00:00:02", "click", "e2"),
        ev("u1", "2020-01-01 00:00:01", "view", "e1"),
        ev("u2", "2020-01-01 00:00:01", "view", "f1")))
      q.processAllAvailable()
      // u1 gets two more events: cap 3 keeps the (ts,id)-smallest three,
      // but n_events counts all 4
      input.addData(Seq(
        ev("u1", "2020-01-01 00:00:03", "cart", "e3"),
        ev("u1", "2020-01-01 00:00:04", "purchase", "e4")))
      q.processAllAvailable()
      for (i <- 0 until 2) {
        input.addData(Seq(KeyedEvent(
          Replay.Sentinel, ts(s"2030-01-01 00:00:0$i"), Replay.Sentinel, s"s$i")))
        q.processAllAvailable()
      }
      val got = spark.table("sm_seq")
        .as[StateMachines.SequenceRow].collect()
        .map(r => (r.key, r.n_events, r.sequence)).toSet
      assert(got == Set(
        ("u1", 4L, "view|click|cart"),
        ("u2", 1L, "view")))
    } finally q.stop()
  }

  test("transitionPairs(stream): per-key consecutive pairs in (ts,id) order, final once") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.transitionPairs(input.toDS(), maxLen = 100, idleSec = 3600L)
      .writeStream.format("memory").queryName("sm_trans").outputMode("append").start()
    try {
      // out of order within the batch: the buffer re-sorts at close
      input.addData(Seq(
        ev("u1", "2020-01-01 00:00:03", "cart", "e3"),
        ev("u1", "2020-01-01 00:00:01", "view", "e1"),
        ev("u1", "2020-01-01 00:00:02", "click", "e2"),
        ev("u2", "2020-01-01 00:00:01", "view", "f1"))) // single event: no pair
      q.processAllAvailable()
      for (i <- 0 until 2) {
        input.addData(Seq(KeyedEvent(
          Replay.Sentinel, ts(s"2030-01-01 00:00:0$i"), Replay.Sentinel, s"s$i")))
        q.processAllAvailable()
      }
      val got = spark.table("sm_trans")
        .as[StateMachines.TransitionRow].collect()
        .map(r => (r.key, r.from_kind, r.to_kind)).toList.sorted
      assert(got == List(("u1", "click", "cart"), ("u1", "view", "click")))
    } finally q.stop()
  }
}
