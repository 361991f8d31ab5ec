package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession.withRocksDb
import graft.io.Tables
import graft.ops._
import graft.streaming.{Replay, StateMachines, StreamJoins, WindowTriggers}

/** Driver contract: one batch query per implemented operator (SURVEY.md §2
  * + the training-data-pipeline extensions), each with an equivalent DuckDB
  * oracle in [[oracleSql]]. Streaming formulations of the same operators
  * live under `graft.streaming` and are exercised by the test suite.
  */
object SparkEntry {

  // ---- shared fragments ----

  /** Exact money arithmetic: decimal-cast before aggregation so the sum is
    * order-independent (double summation is not associative; decimal is),
    * then one cast to double at the end — bit-identical across engines.
    */
  private def discPrice: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount")).cast(DecimalType(18, 4))

  private def events(t: Tables, typ: String): DataFrame =
    t.events.filter(col("event_type") === typ)

  private def embeddingsIdVec(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** The banded MinHash signature frame (key = "band|band-hash", ts =
    * epoch + doc_id s, id, sig) the streaming LSH index consumes — the
    * same portable md5 family and banding as d_dedup_minhash, so the
    * oracle replays signatures → bands → prefix pairs → agreement verify
    * exactly. Shared by the fresh-index and rebased-index declarations.
    */
  private def bandedDocEvents(s: SparkSession, dir: String): DataFrame = {
    val sigs = graft.ops.Dedup.minhashSignatures(
      Tables(s, dir).documents, col("doc_id"), col("text"),
      shingleLen = 3, k = 64, portableHash = true)
    def bandKey(j: Int): Column = concat_ws("|", lit(j),
      md5(concat_ws("|",
        (4 * j until 4 * j + 4).map(i => col(s"m$i").cast("string")): _*)))
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

  /** events in the [[graft.streaming.KeyedEvent]] shape the streaming
    * state machines consume (key = user, kind = event_type). */
  private def keyedEventsFrame(t: Tables): DataFrame =
    t.events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))

  /** Deterministic first event of `typ` per user (min (ts, event_id)) in
    * KeyedEvent shape — the one-open-request-per-key restriction under
    * which the streaming greedy matchers coincide with SQL-expressible
    * batch semantics (the reference's own shape: it keys C6–C8 by orderId
    * / txId, exactly one request per key).
    */
  private def firstPerUser(t: Tables, typ: String): DataFrame =
    TopN
      .perPartition(
        events(t, typ), Seq(col("user_id")), Seq(col("ts").asc, col("event_id").asc), 1)
      .select(
        col("user_id").cast("string").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"))

  /** Flagship: sliding-window hot-item top-N (reference HotItemApp) on the
    * events table. Driver smoke-checks rows > 0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_hot_items")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- windowed aggregations (reference A1–A8, W3/W4) ----
    "q_pv_hourly" -> ((s, dir) => {
      // A3/W4: tumbling-hour page views (PageViewApp)
      WindowAggs.tumblingCount(events(Tables(s, dir), "view"), col("ts"), "1 hour")
    }),
    "q_uv_hourly" -> ((s, dir) => {
      // A7: exact distinct visitors per hour (UniqueVisitorApp)
      WindowAggs.tumblingCountDistinct(Tables(s, dir).events, col("ts"), "1 hour", col("user_id"))
    }),
    "q_uv_daily_approx" -> ((s, dir) => {
      // A8 scale path: approximate daily distinct via the PORTABLE-
      // REGISTER HLL (round 10) — ≤1024 register rows per window no
      // matter the cardinality, and the whole sketch (md5 bucket/rho,
      // max-merge, harmonic + linear-counting estimate) replays in
      // oracle SQL, so the record is hash-checked. HLL++
      // (tumblingApproxDistinct / approx_count_distinct) stays the
      // engine-native alternative, gated <5% in ApproxGatesSpec.
      val regs = Sketches.portableHllRegisters(
        Tables(s, dir).events
          .select(date_trunc("day", col("ts")).as("window_start"), col("user_id")),
        Seq(col("window_start")), col("user_id"))
      Sketches.portableHllEstimate(regs, Seq(col("window_start")))
        .select(col("window_start"), col("uv_est"))
    }),
    "q_uv_daily_bloom" -> ((s, dir) => {
      // A8 parity path: the reference's own bloom-bitmap structure as a
      // typed Aggregator. ORACLE-CHECKED since round 9: the bitmap is a
      // pure function of the distinct-user SET (bit-OR is merge-order
      // independent) and the portable md5 double hashing lets the oracle
      // SQL replay every bit and the fill-ratio estimate exactly; the
      // splitmix default stays the production hash.
      WindowAggs.tumblingBloomDistinct(
        Tables(s, dir).events, col("ts"), "1 day", col("user_id"),
        portableHash = true)
    }),
    "q_channel_stats" -> ((s, dir) => {
      // A5: per-(channel,behavior) daily counts (channelApp, intended
      // semantics — the reference's agg has a constant-1 bug, SURVEY §2.3)
      val e = Tables(s, dir).events
        .withColumn("k_bucket", get_json_object(col("props"), "$.k").cast("long") % 10)
      WindowAggs.tumblingCount(e, col("ts"), "1 day", Seq(col("event_type"), col("k_bucket")))
    }),
    "q_sessions" -> ((s, dir) => {
      // sessionization: per-user sessions closed by 30 min inactivity
      WindowAggs
        .sessionCount(Tables(s, dir).events, col("ts"), "30 minutes", Seq(col("user_id")))
        .select(col("user_id"), col("session_start"), col("session_end"), col("cnt"))
    }),
    "q_hot_items" -> ((s, dir) => {
      // A1 + T1 + W3: sliding 1h/5m counts, top-5 per window (HotItemApp).
      // Pane formulation: aggregate per 5m pane first, then roll panes into
      // windows — the event-grain exchange is 12× smaller than the
      // window-expand shape (same rows; equivalence oracle-checked here and
      // pane≡expand asserted in OpsSpec).
      val counts = WindowAggs.slidingCountPanes(
        events(Tables(s, dir), "click"), col("ts"), "1 hour", "5 minutes", Seq(col("user_id")))
      TopN
        .perPartition(counts, Seq(col("window_start")), Seq(col("cnt").desc, col("user_id").asc), 5)
        .select(col("window_start"), col("user_id"), col("cnt"), col("rank"))
    }),
    "q_hot_pages" -> ((s, dir) => {
      // A2 + T2: sliding 30m/10m counts per page (event_type as URL
      // stand-in), top-3 per window (HotUrlApp). Pane formulation — same
      // rows as slidingCount (oracle-checked), smaller event-grain shuffle
      val counts = WindowAggs.slidingCountPanes(
        Tables(s, dir).events, col("ts"), "30 minutes", "10 minutes", Seq(col("event_type")))
      TopN
        .perPartition(counts, Seq(col("window_start")), Seq(col("cnt").desc, col("event_type").asc), 3)
        .select(col("window_start"), col("event_type"), col("cnt"), col("rank"))
    }),

    // ---- streaming formulations on the correctness record ----
    // Each q_*_stream replays the REAL events table through the streaming
    // operator (file source, ~10 time-ordered micro-batches, watermark +
    // state store — see [[graft.streaming.Replay]]) and is hash-compared
    // against the same DuckDB oracle as its batch twin: streaming == batch
    // on the driver's record, not just in specs.
    "q_pv_hourly_stream" -> ((s, dir) => {
      // A3/W4 streaming: watermarked tumbling count in append mode.
      // Sentinels must reach the AGGREGATE, not just the watermark node —
      // Catalyst pushes a kind-filter below EventTimeWatermark, which
      // would filter the sentinel before its timestamp registers and the
      // final windows would never finalize. So: count views conditionally
      // over the unfiltered stream, drop zero-view windows (incl. the
      // sentinel's own) batch-side.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(when(col("kind") === "view", 1)).as("cnt"))
            .select(col("window.start").as("window_start"), col("cnt"))
        }
        .filter(col("cnt") > 0)
    }),
    "q_uv_pane_stream" -> ((s, dir) => {
      // W5 FIRE_AND_PURGE streaming (UniqueVisitorApp2's per-element
      // trigger): every element fires the running hourly distinct-visitor
      // count, panes purged at the watermark. The LAST firing per window
      // is the exact hourly UV — same oracle as q_uv_hourly, so the
      // per-event trigger path is hash-checked, not just spec'd. One
      // logical key = the reference's global UV; the bounded-state scale
      // path for per-key cardinality remains A8's HLL++.
      Replay
        .keyedEvents(
          Tables(s, dir).events.select(
            lit("all").as("key"), col("ts"), lit("e").as("kind"),
            col("user_id").cast("string").as("id"))) { stream =>
          WindowTriggers
            .fireAndPurgeCount(stream, "e", sizeSec = 3600L, distinctOnId = true)
            .toDF()
        }
        .groupBy(col("window_start"))
        .agg(max(col("cnt")).as("uv"))
    }),
    "q_pv_lateness_stream" -> ((s, dir) => {
      // W6 allowed lateness streaming (HotUrlApp's 60 s knob): replay with
      // the arrival order scrambled ±30 s (orderJitterSec), so windows
      // genuinely fire on time and then RE-fire for allowed-late elements.
      // Final count per window is exact — same oracle as q_pv_hourly.
      Replay
        .keyedEvents(
          Tables(s, dir).events.select(
            lit("all").as("key"), col("ts"), col("event_type").as("kind"),
            col("event_id").cast("string").as("id")),
          orderJitterSec = 30L) { stream =>
          WindowTriggers
            .countWithAllowedLateness(
              stream, "view", sizeSec = 3600L, latenessSec = 60L)
            .toDF()
            .filter(col("firing") =!= "too_late")
        }
        .groupBy(col("window_start"))
        .agg(max(col("cnt")).as("cnt"))
    }),
    "q_sessions_stream" -> ((s, dir) => {
      // streaming sessionization: merging session_window state across
      // micro-batches, finalized by watermark. Group by the raw string key
      // (the sentinel's key is non-numeric); its session never finalizes
      // and is filtered batch-side before the long cast.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          WindowAggs.sessionCount(
            stream.toDF().withWatermark("ts", "0 seconds"),
            col("ts"), "30 minutes", Seq(col("key")))
        }
        .filter(col("key") =!= Replay.Sentinel)
        .select(
          col("key").cast("long").as("user_id"),
          col("session_start"), col("session_end"), col("cnt"))
    }),
    "q_login_fail_stream" -> ((s, dir) => {
      // C3/C4 streaming: flatMapGroupsWithState run-detection state machine
      Replay.keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
        StateMachines
          .consecutiveMatches(stream, "error", n = 2, maxGapSec = 7200L)
          .toDF()
          .select(col("key").cast("long").as("user_id"), col("first_ts"), col("last_ts"))
      }
    }),
    "q_ad_blacklist_stream" -> ((s, dir) => {
      // C2/W8 streaming: daily threshold with event-time day rollover; the
      // warn rows are the blacklist additions (one per user-day crossing)
      Replay.keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
        StateMachines
          .dailyThreshold(stream, "click", threshold = 2L)
          .toDF()
          .filter(col("tag") === "warn")
          .select(col("key").cast("long").as("user_id"), col("first_ts").as("day"))
      }
    }),
    "q_order_timeout_stream" -> ((s, dir) => {
      // C6/C7 streaming: request→response with EventTimeTimeout timers.
      // Requests restricted to the first signup per user so the streaming
      // greedy matcher (consumes a response) and the SQL oracle (min
      // response per request) provably coincide — the reference's
      // one-create-per-orderId keying.
      val t = Tables(s, dir)
      val input = firstPerUser(t, "signup")
        .unionByName(keyedEventsFrame(t).filter(col("kind") === "purchase"))
      Replay.keyedEvents(input) { stream =>
        StateMachines
          .matchWithTimeout(stream, "signup", "purchase", timeoutSec = 86400L)
          .toDF()
          .filter(col("tag").isin("matched", "timeout"))
          .select(
            col("key").cast("long").as("user_id"),
            col("info").cast("long").as("req_id"),
            col("first_ts").as("req_ts"),
            when(col("tag") === "matched", col("last_ts")).as("resp_ts"),
            col("tag").as("status"))
      }
    }),
    "q_reconcile_stream" -> ((s, dir) => {
      // J2/C8 streaming: two-stream reconcile (tagged union of first
      // purchase + first signup per user — ≤1 event per side per key, so
      // greedy matching == the full-outer-join oracle), timers expire the
      // unmatched sides.
      val t = Tables(s, dir)
      val input = firstPerUser(t, "purchase").unionByName(firstPerUser(t, "signup"))
      Replay.keyedEvents(input) { stream =>
        val out = StateMachines
          .reconcile(stream, "purchase", "signup", toleranceSec = 86400L)
          .toDF()
        val part = split(col("info"), "\\|")
        out.select(
          col("key").cast("long").as("user_id"),
          when(col("tag") === "matched", part.getItem(0))
            .when(col("tag") === "left_only", col("info"))
            .cast("long").as("p_id"),
          when(col("tag") === "matched", part.getItem(1))
            .when(col("tag") === "right_only", col("info"))
            .cast("long").as("s_id"),
          when(col("tag") === "matched", "matched")
            .when(col("tag") === "left_only", "pay_no_signup")
            .otherwise("signup_no_pay").as("status"))
      }
    }),

    // ---- stateful sequence / threshold operators (C2–C7) ----
    "q_ad_blacklist" -> ((s, dir) => {
      // C2/A9: daily per-key threshold (AdClickApp blacklist)
      Sequences
        .dailyThreshold(Tables(s, dir).events, col("user_id"), col("ts"),
          col("event_type") === "click", 2L)
        .withColumnRenamed("key", "user_id")
    }),
    "q_login_fail" -> ((s, dir) => {
      // C3/C4: two consecutive failures within a bound (LoginFailWithState2)
      Sequences
        .consecutiveMatches(Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error", n = 2, maxGapSec = 7200L)
        .withColumnRenamed("key", "user_id")
    }),
    "q_login_fail3" -> ((s, dir) => {
      // C5: times(3).consecutive().within(6h) (LoginFailwithStateCEP_More)
      Sequences
        .consecutiveMatches(Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error", n = 3, maxGapSec = 21600L)
        .withColumnRenamed("key", "user_id")
    }),
    "q_order_timeout" -> ((s, dir) => {
      // C6/C7: request→response with timeout (OrderTimeOutStateApp):
      // signup = create, purchase = pay, 24h deadline
      val t = Tables(s, dir)
      val reqs = events(t, "signup")
        .select(col("user_id").as("key"), col("event_id").as("id"), col("ts"))
      val resps = events(t, "purchase").select(col("user_id").as("key"), col("ts"))
      Sequences
        .matchWithTimeout(reqs, resps, timeoutSec = 86400L)
        .withColumnRenamed("key", "user_id")
    }),
    "q_cep_login_fail3_stream" -> ((s, dir) => {
      // C5 via the GENERIC combinator (round 9): the same
      // times(3).consecutive().within(6h) pattern the reference builds
      // with Flink-CEP, expressed as Cep.Pattern and compiled to the NFA
      // machine — same oracle as q_login_fail3, proving the combinator
      // layer reproduces the hand-written machine exactly
      import graft.streaming.Cep
      Replay.keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
        Cep.run(stream,
          Cep.Pattern.begin("fail")(_.kind == "error").times(3).within(21600L))
          .toDF()
          // KeyedEvent carries string keys/ids; restore the record types
          .select(col("key").cast("long").as("user_id"),
            col("first_ts"), col("last_ts"))
      }
    }),
    "q_cep_order_timeout_stream" -> ((s, dir) => {
      // C6/C7 via the generic combinator: begin(signup).followedBy(
      // purchase).within(24h) with timeout side output. Non-consuming
      // followedBy = the SQL min-response-per-request semantics with
      // response REUSE, so unlike q_order_timeout_stream no
      // first-signup-per-user restriction is needed — every signup is
      // its own partial; same oracle as the batch q_order_timeout
      import graft.streaming.Cep
      val input = keyedEventsFrame(Tables(s, dir))
        .filter(col("kind").isin("signup", "purchase"))
      Replay.keyedEvents(input) { stream =>
        Cep.run(stream,
          Cep.Pattern.begin("req")(_.kind == "signup")
            .followedBy("resp")(_.kind == "purchase")
            .within(86400L),
          emitTimeouts = true)
          .toDF()
          .select(
            col("key").cast("long").as("user_id"),
            col("first_id").cast("long").as("req_id"),
            col("first_ts").as("req_ts"),
            when(col("status") === "matched", col("last_ts")).as("resp_ts"),
            col("status"))
      }
    }),

    // ---- joins (J1/J2) ----
    "q_interval_join" -> ((s, dir) => {
      // J1: interval equi-join (PayReceiptWithJoinApp): each purchase with
      // the user's clicks in the preceding 2h
      val t = Tables(s, dir)
      val p = events(t, "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val c = events(t, "click")
        .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      Joins
        .intervalJoin(p, c, col("p_user"), col("c_user"), col("p_ts"), col("c_ts"), -7200L, 0L)
        .select(col("p_user").as("user_id"), col("p_id"), col("c_id"), col("p_ts"), col("c_ts"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // point-in-time lookup: each purchase with the user's latest click
      // at or before the purchase instant (clicks pre-collapsed to one
      // per (user, ts) — max event_id — so the match is well-defined)
      val t = Tables(s, dir)
      val p = events(t, "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val c = events(t, "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id"))
        .groupBy(col("c_user"), col("c_ts")).agg(max(col("event_id")).as("c_id"))
      Joins
        .asOfJoin(p, c, col("p_user"), col("c_user"), col("p_ts"), col("c_ts"))
        .select(col("p_user").as("user_id"), col("p_id"), col("p_ts"), col("c_id"), col("c_ts"))
    }),
    "q_asof_stream" -> ((s, dir) => {
      // J-family streaming: watermark-driven as-of join state machine
      // (StateMachines.asOf); ids zero-padded so the machine's
      // lexicographic tie-break equals the batch oracle's numeric max
      val input = Tables(s, dir).events
        .filter(col("event_type").isin("click", "purchase"))
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          lpad(col("event_id").cast("string"), 12, "0").as("id"))
      Replay.keyedEvents(input) { stream =>
        // 2 s watermark delay: replay chunk boundaries can land equal-ts
        // events in adjacent micro-batches, and a row AT the watermark is
        // late-dropped — the margin keeps boundary events alive (they
        // all still flush via the replay's +30 d sentinel)
        val out = StateMachines
          .asOf(stream, buildKind = "click", probeKind = "purchase",
            watermarkDelay = "2 seconds")
          .toDF()
        val part = split(col("info"), "\\|")
        out.select(
          col("key").cast("long").as("user_id"),
          when(col("tag") === "matched", part.getItem(0))
            .otherwise(col("info")).cast("long").as("p_id"),
          col("first_ts").as("p_ts"),
          when(col("tag") === "matched", part.getItem(1)).cast("long").as("c_id"),
          when(col("tag") === "matched", col("last_ts")).as("c_ts"))
      }
    }),
    "q_reconcile" -> ((s, dir) => {
      // J2: two-stream reconciliation (PayReceiptWithConnectApp): purchases
      // vs signups within ±24h; side outputs become the status column
      val t = Tables(s, dir)
      val p = events(t, "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val sg = events(t, "signup")
        .select(col("user_id").as("s_user"), col("event_id").as("s_id"), col("ts").as("s_ts"))
      Joins
        .reconcile(p, sg, col("p_user"), col("s_user"), col("p_ts"), col("s_ts"), 86400L,
          "matched", "pay_no_signup", "signup_no_pay")
        .select(
          coalesce(col("p_user"), col("s_user")).as("user_id"),
          col("p_id"), col("s_id"), col("status"))
    }),

    // ---- relational core (scan/filter/agg/join pushdown surface) ----
    "q1_pricing" -> ((s, dir) => {
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),
    "q3_segment_revenue" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(discPrice).cast("double").as("revenue"),
          count_distinct(col("o_orderkey")).as("n_orders"))
    }),
    "q5_region_revenue" -> ((s, dir) => {
      val t = Tables(s, dir)
      // dims broadcast explicitly: at any scale region/nation/supplier are
      // orders of magnitude smaller than the fact side
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.supplier),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(discPrice).cast("double").as("revenue"))
    }),
    "q10_returned_revenue" -> ((s, dir) => {
      // TPC-H Q10 shape: top-20 customers by revenue lost to returns.
      // Plan: the R filter pushes to the lineitem scan, orders/customer
      // join at fact grain, nation broadcasts; the final top-20 plans as
      // TakeOrderedAndProject on (revenue desc, c_custkey) — ordering on
      // the EXACT decimal sum, double only in the record
      val t = Tables(s, dir)
      t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(discPrice).as("__rev"))
        .orderBy(col("__rev").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("__rev").cast("double").as("revenue"))
    }),
    "q12_priority_shipping" -> ((s, dir) => {
      // TPC-H Q12 shape: per ship-month line counts split by order
      // priority class — one fact-fact equi-join (orders projected to
      // 2 columns before the exchange), one aggregated exchange
      val t = Tables(s, dir)
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t.lineitem
        .join(t.orders.select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        .agg(
          sum(when(high, 1L).otherwise(0L)).as("high_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_count"))
    }),
    "q_min_cost_supplier" -> ((s, dir) => {
      // TPC-H Q2 shape: for each part in the p_size slice, the supplier
      // with the LOWEST observed sale price (argmin-per-group + dimension
      // join-back). Plan discipline: the part slice broadcasts INTO the
      // fact scan first (row-group pruning + a 394-key build side), so
      // the (partkey, suppkey) aggregate only sees the slice's lineitems;
      // the per-part argmin is a rank-1 WindowGroupLimit (per-map-task
      // top-1 before the exchange); supplier/nation broadcast onto the
      // |parts|-sized result. min over doubles is exact — no accumulation,
      // so the record hashes cross-engine without decimal scaffolding.
      val t = Tables(s, dir)
      val slice = t.part.filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_name"))
      val perSupp = t.lineitem
        .join(broadcast(slice), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
      TopN.perPartition(
          perSupp,
          partition = Seq(col("p_partkey")),
          order = Seq(col("min_price").asc, col("l_suppkey").asc),
          n = 1)
        .join(broadcast(Tables(s, dir).supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir).nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
          col("min_price"))
    }),
    "q6_banded_revenue" -> ((s, dir) => {
      // TPC-H Q6 shape: revenue delta from a year/discount-band/quantity
      // slice — zero joins, the purest scan-efficiency probe in the set.
      // Every predicate pushes to the parquet scan (PushedFilters carries
      // shipdate bounds, the discount band and the quantity cap; pinned in
      // PlanQualitySpec), so at 100 TB this is row-group pruning + one
      // partial-agg tree with a single 1-row exchange. Money math stays
      // decimal until the final cast (q1 discipline).
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(18, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    "q14_promo_share" -> ((s, dir) => {
      // TPC-H Q14 shape: share of revenue from promo parts in one ship
      // month. part broadcasts into the fact scan; both sums are exact
      // decimals and the percentage is ONE IEEE double division at the
      // edge, so the record hashes cross-engine (the q1/q5 discipline
      // extended to a ratio).
      val t = Tables(s, dir)
      val month = t.lineitem
        .filter(col("l_shipdate") >= lit("1996-03-01") &&
          col("l_shipdate") < lit("1996-04-01"))
      month
        .join(broadcast(t.part.select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO", discPrice)
            .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double") * 100.0 /
            sum(discPrice).cast("double")).as("promo_pct"),
          count(lit(1)).as("n_lines"))
    }),
    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: top-100 largest-volume orders. The HAVING on
      // sum(l_quantity) runs at fact grain FIRST (partial aggregation
      // collapses lineitem to order grain before any join), so the
      // orders/customer joins only see the qualifying ~0.2 % of orders;
      // the final top-100 plans as TakeOrderedAndProject on the exact
      // double sum (quantities are small integers — double-exact).
      val t = Tables(s, dir)
      val big = t.lineitem
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      big
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
    }),
    "q19_bracket_revenue" -> ((s, dir) => {
      // TPC-H Q19 shape: disjunctive join-dependent predicate (three
      // brand/size/quantity brackets OR-ed together). The part side
      // filters to the UNION of the brackets before broadcasting — the
      // disjunction's part-only half prunes the build side — and the
      // residual cross-table OR evaluates post-join inside the same
      // codegen stage; no fact shuffle anywhere.
      val t = Tables(s, dir)
      val parts = broadcast(t.part
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)))
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      t.lineitem
        .join(parts, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
        .agg(sum(discPrice).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    "q4_order_priority" -> ((s, dir) => {
      // TPC-H Q4 shape: orders in a quarter-window with at least one
      // lineitem shipped >30 days after the order date — the correlated
      // EXISTS, decorrelated to a LEFT SEMI join whose condition spans
      // both sides (key equality + the cross-table date comparison).
      // The order-date window pushes to the orders scan; the semi join
      // emits each qualifying order once regardless of how many late
      // lines it has (no post-join distinct needed).
      val t = Tables(s, dir)
      t.orders
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-07-01"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),
    "q17_small_qty_revenue" -> ((s, dir) => {
      // TPC-H Q17 shape: revenue from small-quantity lines of one brand,
      // where "small" is relative to EACH PART's own average quantity —
      // the self-aggregation threshold pattern (scalar subquery per
      // group), decorrelated to a per-part pre-aggregate joined back at
      // fact grain. Quantities are small integers stored as double, so
      // sum/count/avg are exact in ANY accumulation order and the
      // 0.5·avg threshold compares identically cross-engine; money stays
      // decimal to the edge (q1 discipline).
      val t = Tables(s, dir)
      val perPart = t.lineitem
        .groupBy(col("l_partkey").as("p_key"))
        .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_brand") === "Brand#23")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("p_key"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(
          (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") / 7.0)
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),
    "q21_waiting_supplier" -> ((s, dir) => {
      // TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
      // multi-supplier order — the double-correlation (EXISTS another
      // supplier / NOT EXISTS another late supplier) decorrelated into
      // ONE order-grain aggregate joined back to the late pairs.
      // Round 14: the fact stream collapses to (order, supplier, any
      // late) grain ONCE — count_distinct over fact rows became count
      // over the pair grain (no Expand), the late-pair distinct became a
      // filter of the same frame (lineitem scanned once, not twice), and
      // the single repartition on l_orderkey alone satisfies every
      // downstream clustering (the pair groupBy, the order-grain
      // aggregate, the culprit join) — one fact-grain exchange total.
      // l_suppkey is non-null, so pair-grain count ≡ count_distinct.
      // The pair frame persists (within-query, the runners clearCache):
      // its two consumers prune different columns, so their subtrees
      // diverge and ReuseExchange cannot fire — unpersisted, lineitem
      // scans and the fact exchange both ran twice.
      // Supplier broadcasts onto the result. Top-50 plans as
      // TakeOrderedAndProject on (n_waits desc, s_suppkey).
      val t = Tables(s, dir)
      val perSupp = t.lineitem
        .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("late"))
        .persist()
      val perOrder = perSupp.groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_supp"),
          count(when(col("late"), lit(1))).as("n_late"))
      perSupp.filter(col("late"))
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(perOrder.filter(col("n_supp") >= 2 && col("n_late") === 1), "l_orderkey")
        .join(broadcast(Tables(s, dir).supplier), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_waits"))
        .orderBy(col("n_waits").desc, col("s_suppkey"))
        .limit(50)
    }),
    "q22_idle_customers" -> ((s, dir) => {
      // TPC-H Q22 shape: above-average-balance customers with no recent
      // orders, rolled up by nation — the scalar-subquery (global
      // average) broadcast through a 1-row cross join plus an anti-join
      // against the recent-order keys. The average derives from an EXACT
      // decimal sum and one IEEE division, so the threshold compare is
      // bit-identical cross-engine (the float-boundary discipline);
      // whole-table doubles never sum directly.
      val t = Tables(s, dir)
      val avgBal = t.customer.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("__avg"))
      val recent = t.orders
        .filter(col("o_orderdate") >= lit("2000-01-01"))
        .select(col("o_custkey")).distinct()
      t.customer
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_bal"))
    }),
    "q_nation_flows" -> ((s, dir) => {
      // TPC-H Q7 shape: yearly trade volume between (supplier nation →
      // customer nation) pairs, cross-border only. One fact-fact shuffle
      // (lineitem ⋈ orders on orderkey); customer/supplier/nation all
      // broadcast — nation joins twice under different aliases, the
      // multi-role-dimension pattern. Decimal money math (q1/q5): sums
      // are order-independent, cast to double only at the edge.
      val t = Tables(s, dir)
      val supp = broadcast(t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val cust = broadcast(t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation")))
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).as("l_year"))
        .agg(sum(discPrice).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    "q8_market_share" -> ((s, dir) => {
      // TPC-H Q8 shape: one nation's share of a region's market for one
      // part type, by order year — the conditional-share pattern (a
      // ratio of two sums over the same filtered join tree). The
      // part-type slice broadcasts INTO the fact scan first (~1/6 of
      // parts prunes ~5/6 of lineitem before the orders shuffle);
      // supplier→nation and customer→nation→region reduce to
      // key→nation maps and broadcast; both sums are exact decimals
      // and the share is ONE IEEE division at the edge (q14
      // discipline, extended to a conditional numerator).
      val t = Tables(s, dir)
      val parts = broadcast(t.part.filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey")))
      val supp = broadcast(t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val cust = broadcast(t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey")))
      t.lineitem
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(t.orders
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_1", discPrice)
            .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double") /
            sum(discPrice).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
    }),
    "q9_product_profit" -> ((s, dir) => {
      // TPC-H Q9 shape: profit per (supplier nation, order year) for a
      // part-name family — revenue minus cost at line grain over the
      // FULL date range (no selective time slice: this is the
      // all-years multi-dimension join). The testdata has no partsupp,
      // so unit cost derives from the part dimension (0.6 ·
      // p_retailprice) — same shape: a per-part cost joined into the
      // fact and netted against line revenue. Revenue and cost
      // accumulate as SEPARATE exact decimal sums (their line-grain
      // difference in one decimal type would exceed 38 digits and the
      // engines demote differently); the net is ONE IEEE subtraction
      // at the edge.
      val t = Tables(s, dir)
      val parts = broadcast(t.part.filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), col("p_retailprice")))
      val supp = broadcast(t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
      val cost = col("p_retailprice").cast(DecimalType(18, 2)) *
        lit(0.6).cast(DecimalType(3, 2)) *
        col("l_quantity").cast(DecimalType(9, 0))
      t.lineitem
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(discPrice).cast("double") - sum(cost).cast("double"))
            .as("profit"),
          count(lit(1)).as("n_items"))
    }),
    "q11_important_parts" -> ((s, dir) => {
      // TPC-H Q11 shape: parts whose value handled by ONE nation's
      // suppliers exceeds a fixed fraction of that nation's total —
      // the scalar-subquery-in-HAVING pattern. No partsupp in the
      // testdata, so "value" is lineitem revenue through the nation's
      // suppliers — same shape: one grouped aggregate, its own global
      // re-aggregate broadcast back through a 1-row cross join (q22
      // discipline; ReusedExchange dedupes the shared grouped scan),
      // and a threshold compare where each side is an exact decimal
      // sum cast once to double (the fraction multiply is one IEEE op,
      // bit-identical cross-engine).
      val t = Tables(s, dir)
      val supp = broadcast(t.supplier
        .join(broadcast(t.nation.filter(col("n_name") === "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val perPart = t.lineitem
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(discPrice).as("__val"))
      val total = perPart.agg(sum(col("__val")).cast("double").as("__total"))
      perPart
        .crossJoin(broadcast(total))
        .filter(col("__val").cast("double") > lit(0.002) * col("__total"))
        .select(col("l_partkey"), col("__val").cast("double").as("value"))
    }),
    "q13_order_distribution" -> ((s, dir) => {
      // TPC-H Q13 shape: the distribution of orders-per-customer
      // INCLUDING zero-order customers — a filtered LEFT OUTER join
      // (the exclusion predicate must act on the orders side BEFORE
      // the join, never as a post-join WHERE, which would drop the
      // no-match customers the query exists to count), then a
      // count-of-counts double aggregate. No o_comment in the
      // testdata, so the excluded class is URGENT orders — the same
      // join-side-predicate role. The first aggregate shuffles at
      // customer grain; the second re-aggregates the ~tens of
      // distinct counts.
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),
    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15 shape: the supplier(s) with maximum quarterly
      // revenue — the revenue-view + scalar-max-equality pattern with
      // ties preserved (NOT a top-1 limit: equality against the
      // global max keeps every argmax). The view aggregates at
      // supplier grain off one pushed-down date slice; its 1-row max
      // broadcasts back through a cross join (ReusedExchange dedupes
      // the view's aggregate); the equality compares doubles each
      // produced by ONE decimal-exact sum + cast, so it is
      // bit-identical cross-engine.
      val t = Tables(s, dir)
      // the explicit not-null on the join key keeps the view's subtree
      // canonically identical under BOTH consumers (the supplier join
      // null-filters its side; without this the max side plans a second
      // scan + aggregate instead of a ReusedExchange — measured, not
      // hypothetical: the fact slice would be read twice at 100 TB)
      val revenue = t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01") &&
          col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(discPrice).cast("double").as("total_revenue"))
      val best = revenue.agg(max(col("total_revenue")).as("__max"))
      t.supplier
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .crossJoin(broadcast(best))
        .filter(col("total_revenue") === col("__max"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),
    "q16_supplier_counts" -> ((s, dir) => {
      // TPC-H Q16 shape: distinct-supplier counts per (brand, type,
      // size) over an exclusion-heavy slice — NOT-predicates on the
      // dimension plus NOT IN over a predicate-derived supplier set
      // (no s_comment in the testdata, so the complaint set is the
      // negative-balance suppliers; no partsupp, so the pairs come
      // from lineitem). s_suppkey is never null, so NOT IN
      // decorrelates to a broadcast left ANTI join exactly;
      // (part, supplier) pairs dedupe inside count_distinct's partial
      // aggregation — no pre-distinct pass.
      val t = Tables(s, dir)
      val parts = broadcast(t.part
        .filter(col("p_brand") =!= "Brand#9" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      val excluded = broadcast(t.supplier.filter(col("s_acctbal") < 0)
        .select(col("s_suppkey")))
      t.lineitem.select(col("l_partkey"), col("l_suppkey"))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
    }),
    "q20_part_promotion" -> ((s, dir) => {
      // TPC-H Q20 shape: suppliers in a nation set who carried MORE
      // than half of some target part's annual volume — the nested-IN
      // with a correlated half-sum threshold, decorrelated into one
      // (part, supplier) aggregate, its part-grain re-aggregate
      // joined back (q17's self-aggregation pattern at pair grain),
      // then a distinct semi-reduction to suppliers. The part-name
      // slice pushes BELOW both aggregates (per-part totals don't mix
      // across parts, so filtering parts first is semantics-
      // preserving and prunes the fact scan); quantities are small
      // integers so the 0.5·total compare is double-exact in any
      // accumulation order.
      val t = Tables(s, dir)
      val parts = broadcast(t.part.filter(col("p_name").like("red%"))
        .select(col("p_partkey")))
      // explicit not-nulls on both keys keep the pair aggregate's
      // subtree canonically identical under both consumers (q15's
      // ReusedExchange lesson: the downstream supplier join null-filters
      // only ITS branch's scan, which would split the exchange identity
      // and scan + aggregate the fact slice twice)
      val shipped = t.lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val partTotal = shipped.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("total_qty"))
      shipped
        .join(partTotal, "l_partkey")
        .filter(col("qty") > lit(0.5) * col("total_qty"))
        .select(col("l_suppkey")).distinct()
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation
          .filter(col("n_name").isin("NATION_3", "NATION_8", "NATION_13"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
    }),
    "q_rollup_revenue" -> ((s, dir) => {
      // OLAP grouping sets — the reference's DWS summary layer (per-dim
      // cubes materialized app-by-app) re-expressed as one declarative
      // rollup: region → nation subtotals + grand total in a SINGLE scan
      // (Catalyst plans one Expand + one hash agg, with partial
      // aggregation per grouping set — not one pass per level). Decimal
      // money math as in q1/q5 keeps the sums order-independent.
      // Every rollup dim is order-side, so lineitem pre-aggregates to
      // order grain BEFORE the joins: exact (decimal sums associate,
      // counts sum) and the join shuffle + 3-way Expand then carry one
      // row per order instead of one per lineitem — at cluster scale
      // that's the fact-table grain off the wire.
      // Round 14: the rollup dims are (region, nation) — 25 distinct
      // values — so the joined stream pre-aggregates to THAT grain first
      // (map-side-combined, a plain hash agg) and the Expand triples 25
      // rows instead of every order-grain row. Exact by associativity:
      // decimal sums of sums, counts of counts; a NULL dim value would
      // group identically under both forms.
      val t = Tables(s, dir)
      val perOrder = t.lineitem
        .groupBy(col("l_orderkey"))
        .agg(sum(discPrice).as("ord_rev"), count(lit(1)).as("ord_items"))
      perOrder
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("ord_rev")).as("nat_rev"), sum(col("ord_items")).as("nat_items"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(col("nat_rev")).cast("double").as("revenue"),
          sum(col("nat_items")).as("n_items"))
    }),
    "q_pivot_daily" -> ((s, dir) => {
      // OLAP pivot: the reference's DWS wide tables (one counter column
      // per behavior, maintained app-by-app) as ONE declarative pivot.
      // Values are PINNED: Spark then skips the distinct-collect job an
      // open pivot needs and plans the PivotFirst path — count
      // pre-combines map-side at (day,type) grain, then a pivot agg
      // routes day-grain rows into columns. Both exchanges carry only
      // aggregated rows (days × 5 types), never event-grain data, at
      // any corpus size. Absent (day,type) combos surface as null from
      // pivot-count; coalesce to 0 to match COUNT semantics.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables(s, dir).events
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
    }),
    "q_pivot_daily_stream" -> ((s, dir) => {
      // the DWS wide table maintained INCREMENTALLY: pivot is unsupported
      // on streaming datasets, and the conditional-count form IS its
      // streaming expression (same map-side partial counts, one windowed
      // aggregate finalized at the watermark). Sentinels must reach the
      // aggregate (q_pv_hourly_stream's reasoning); their all-zero day
      // row — and only it — is dropped batch-side, matching the batch
      // semantics where a day appears iff it has at least one event.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t => count(when(col("kind") === t, 1)).as(t))
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 day"))
            .agg(aggs.head, aggs.tail: _*)
            .select(col("window.start").cast("date").as("day") +: types.map(col): _*)
        }
        .filter(types.map(col(_) > 0).reduce(_ || _))
    }),
    "q_anti_join" -> ((s, dir) => {
      // set-membership joins, anti flavor (TPC-H Q22 shape): customers
      // with no URGENT order. left_anti never materializes the match —
      // the build side carries only the join key, and at scale the
      // planner can run it as a broadcast/shuffled hash anti or SMJ
      // anti; no pay-then-filter outer join
      val t = Tables(s, dir)
      t.customer
        .join(
          t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q_semi_join" -> ((s, dir) => {
      // semi flavor: customers with at least one URGENT order — EXISTS
      // without duplicating customers per matching order (an inner join
      // + distinct pays the full match cardinality first)
      val t = Tables(s, dir)
      t.customer
        .join(
          t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q_moving_avg" -> ((s, dir) => {
      // trailing 7-row moving average + running total of daily revenue
      // per event_type — the dashboard smoothing/cumulation pair. Daily
      // pre-agg first (decimal: order-independent), so the window sort
      // runs over |days|·|types| rows, never raw events; per-type
      // partitions are days-sized, no skew at any corpus scale.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
      val w7 = w.rowsBetween(-6, 0)
      val cum = w.rowsBetween(Long.MinValue, 0)
      Tables(s, dir).events
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).as("__rev"))
        .select(
          col("day"), col("event_type"),
          col("__rev").cast("double").as("daily_rev"),
          (sum(col("__rev")).over(w7).cast("double") /
            count(lit(1)).over(w7)).as("ma7"),
          sum(col("__rev")).over(cum).cast("double").as("cum_rev"))
    }),
    "q_ewma_daily" -> ((s, dir) => {
      // α=1/2 EWMA control chart over the daily revenue series —
      // integer-floored halving recursion ((v+s)>>1) so the inherently
      // order-dependent smoother is engine-exact; fold runs per key over
      // the |days| array, corpus aggregates once (Stats.ewmaDaily)
      Stats.ewmaDaily(Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
        .select(col("key").as("event_type"), col("day"),
          col("rev_micro"), col("ewma_micro"))
    }),
    "p_incremental_ingest" -> ((s, dir) => {
      // ingest-batch dedup: odd-id docs are the incoming snapshot, even-id
      // the existing corpus; admit = not-seen (fp anti-join against the
      // 16-byte fingerprint set) + min-id within the batch
      val t = Tables(s, dir)
      Dedup.incrementalIngest(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"))
    }),
    "d_near_ingest" -> ((s, dir) => {
      // batch-incremental NEAR-dup admission (the daily-crawl posture):
      // odd-id docs are the incoming batch, even-id the ingested corpus;
      // a batch doc is rejected if MinHash-LSH + exact-Jaccard ≥ 0.6
      // matches any corpus doc (near_dup_corpus) or any smaller-id batch
      // doc (near_dup_batch) — the at-rest twin of
      // d_dedup_lsh_rebase_stream's resumed index, portable hash family
      // so the oracle replays signatures → bands → candidates → verify
      val t = Tables(s, dir)
      Dedup.incrementalNearIngest(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6, portableHash = true)
    }),
    "d_near_ingest_indexed" -> ((s, dir) => {
      // d_near_ingest's 100 TB plan: the corpus enters as its two STORED
      // nearDupIndex tables (the (doc_id, band, band_hash) bucket table +
      // the (doc_id, s) verify table — at scale materialized once and
      // appended with each admitted batch), never as text. Row-for-row
      // the recompute form's output (OpsSpec pins equality incl. the
      // append discipline), so both share one oracle.
      val t = Tables(s, dir)
      val (hx, bx) = Dedup.nearDupIndex(
        t.documents.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, portableHash = true)
      Dedup.incrementalNearIngestIndexed(
        hx, bx,
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6, portableHash = true)
    }),
    "p_near_ingest_e2e" -> ((s, dir) => {
      // the composed daily-ingest increment, cheap stage first: exact
      // fingerprint dedup (corpus anti-join + in-batch min-id keeper —
      // collapses replica mass BEFORE any signature work, the
      // d_cluster_sizes exact-collapse-first lesson), then the near-dup
      // screen over keepers only. Exact hits verdict 'dup_exact'; the
      // near stage's verdicts pass through for keepers.
      val t = Tables(s, dir)
      Dedup.ingestIncrement(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6, portableHash = true)
    }),
    "p_daily_admission" -> ((s, dir) => {
      // the FULL daily-admission decision (buildCorpus's ingest-time
      // counterpart): quality gate → exact dedup → near-dup screen →
      // eval-benchmark decontamination, one verdict per incoming doc.
      // doc_id % 3 partitions the corpus into standing corpus (0),
      // incoming batch (1), and frozen eval benchmark (2); the oracle
      // replays every stage — the Gopher keep conjunction, the md5
      // fingerprint keeper, the portable MinHash chain over
      // corpus ∪ keepers, and the 3-gram Jaccard decon sweep — as one
      // CTE chain with the same verdict precedence.
      val t = Tables(s, dir)
      TrainingPipeline.dailyAdmission(
        t.documents.filter(col("doc_id") % 3 === 0),
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconShingleLen = 3, deconThreshold = 0.5, portableHash = true)
    }),
    "p_daily_admission_indexed" -> ((s, dir) => {
      // p_daily_admission against STORED corpus artifacts only — the
      // form the scheduled daily job actually runs: the corpus enters as
      // its fingerprint set + its two nearDupIndex tables (at scale
      // materialized once and appended per admitted batch); corpus TEXT
      // is never read anywhere in the plan. Same verdicts, one shared
      // oracle (PipelineSpec pins equality with the recompute form).
      val t = Tables(s, dir)
      val corpus = t.documents.filter(col("doc_id") % 3 === 0)
      val (hx, bx) = Dedup.nearDupIndex(
        corpus, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, portableHash = true)
      TrainingPipeline.dailyAdmissionIndexed(
        Dedup.fingerprintSet(corpus, col("text")), hx, bx,
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconShingleLen = 3, deconThreshold = 0.5, portableHash = true)
    }),
    "p_daily_admission_hard13" -> ((s, dir) => {
      // the admission ladder with GPT-3's decontamination rule: the
      // admitted sliver is screened for ANY verbatim 13-token run shared
      // with the frozen benchmark (exactNgramCollisions — one equi-join
      // on portable 32-bit shingle hashes) instead of the Jaccard sweep.
      // Batch twin of the d_decon_hard13_stream screen; same %3 corpus /
      // batch / benchmark split as p_daily_admission.
      val t = Tables(s, dir)
      TrainingPipeline.dailyAdmissionHard13(
        t.documents.filter(col("doc_id") % 3 === 0),
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconNgram = 13, portableHash = true)
    }),
    "p_daily_admission_hard13_indexed" -> ((s, dir) => {
      // the hard-13 ladder the scheduled job runs at 100 TB: stored
      // corpus artifacts (fp set + nearDupIndex tables — corpus text
      // never in the plan) AND the bloom-pruned 13-gram screen
      // (might_contain kills train shingles before any exchange; the
      // exact join restores exactness). Shares hard13's oracle exactly.
      val t = Tables(s, dir)
      val corpus = t.documents.filter(col("doc_id") % 3 === 0)
      val (hx, bx) = Dedup.nearDupIndex(
        corpus, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, portableHash = true)
      TrainingPipeline.dailyAdmissionHard13Indexed(
        Dedup.fingerprintSet(corpus, col("text")), hx, bx,
        t.documents.filter(col("doc_id") % 3 === 1),
        t.documents.filter(col("doc_id") % 3 === 2),
        col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, nearThreshold = 0.6,
        deconNgram = 13, expectedEvalShingles = 400000L, portableHash = true)
    }),
    "q_cube_events" -> ((s, dir) => {
      // full cube over (event_type, day): all four grouping sets in ONE
      // Expand + one agg exchange, same single-scan plan family as
      // q_rollup_revenue — the declarative answer to the reference
      // maintaining each marginal as its own DWS app.
      // Round 14 (the q_rollup_revenue treatment): events pre-aggregate
      // to the finest grouping-set grain (type, day) — map-side-combined
      // plain hash agg — so the Expand quadruples |types|·|days| rows,
      // never event-grain rows. Exact: counts and decimal sums associate.
      Tables(s, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        // decimal before the sum: exact integer-scaled addition is
        // order-independent, so the hash matches any engine (q1 pattern)
        .agg(
          count(lit(1)).as("td_cnt"),
          sum(col("value").cast("decimal(18,6)")).as("td_sum"))
        .cube(col("event_type"), col("day"))
        .agg(
          sum(col("td_cnt")).as("cnt"),
          sum(col("td_sum")).cast("double").as("sum_value"))
    }),
    "q_top_orders" -> ((s, dir) => {
      // T1 batch flavor on relational data: top-10 orders by price per priority
      TopN
        .perPartition(Tables(s, dir).orders, Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 10)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rank"))
    }),

    // ---- dedup (training-data pipeline) ----
    "d_dedup_exact" -> ((s, dir) => {
      val t = Tables(s, dir)
      Dedup.exact(t.documents, col("doc_id"), col("text"))
    }),
    "d_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, col("doc_id"), col("text"), 3, 0.6)
    }),
    "d_dedup_minhash" -> ((s, dir) => {
      // ORACLE-CHECKED since round 9: the whole MinHash pipeline is
      // deterministic given the hash family, so with the portable
      // md5-based base/band hashes the oracle SQL replays signature
      // minima, banding, candidate join, AND exact-Jaccard verify
      // (minhashSql embeds the splitmix (a,b) permutation params as
      // literals; xxhash64 stays the cheaper production default).
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // d_dedup_ngram (exact-Jaccard verify ⇒ precision 1) and pair recall
      // ≥ 0.9 vs the lossless ngram pairs (measured 1.0).
      Dedup.minhashDedup(Tables(s, dir).documents, col("doc_id"), col("text"),
        shingleLen = 3, k = 64, bands = 16, threshold = 0.6, portableHash = true)
    }),
    "d_dedup_lsh_stream" -> ((s, dir) => {
      // streaming admission-time near-dup: an accumulating MinHash-LSH
      // index in keyed state (transformWithState, RocksDB), sharded by
      // LSH bucket. Docs "arrive" in doc_id order (ts = epoch + doc_id
      // s); each is checked against every previously indexed doc via the
      // integer signature-estimate and appended. Same portable md5
      // family and banding as d_dedup_minhash, so the oracle replays
      // signatures → bands → prefix pairs → agreement verify exactly.
      withRocksDb(s) {
        Replay.bandEvents(bandedDocEvents(s, dir)) { stream =>
          graft.streaming.StreamingDedup
            .lshIndex(stream, k = 64, thresholdNumer = 3, thresholdDenom = 5)
            .toDF()
        }.select(
          col("band"),
          col("a").cast("long").as("a"),
          col("b").cast("long").as("b"),
          col("n_agree"))
      }
    }),
    "d_dedup_lsh_rebase_stream" -> ((s, dir) => {
      // the production rebase posture ON the record (round 12): the
      // at-rest half of the corpus (doc_id below the id midpoint)
      // rebuilds the index as per-bucket batch state
      // (StreamingDedup.indexState), and a FRESH query resumes admission
      // over the live half through Spark's initial-state channel
      // (lshIndexResumed) — every post-rebase arrival is checked against
      // the rebased corpus AND earlier live arrivals. The oracle is the
      // full-chain replay restricted to post-split arrivals, so the row
      // proves rebased state participates bit-exactly (the only
      // driver-side action is the min/max id scalar, the Replay
      // precedent).
      withRocksDb(s) {
        val events = bandedDocEvents(s, dir)
        val r = Tables(s, dir).documents
          .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head
        val split = (r.getLong(0) + r.getLong(1)) / 2
        val init = graft.streaming.StreamingDedup
          .indexState(events.filter(col("id").cast("long") < split))
        Replay.bandEvents(events.filter(col("id").cast("long") >= split)) { stream =>
          graft.streaming.StreamingDedup
            .lshIndexResumed(stream, init, k = 64, thresholdNumer = 3, thresholdDenom = 5)
            .toDF()
        }.select(
          col("band"),
          col("a").cast("long").as("a"),
          col("b").cast("long").as("b"),
          col("n_agree"))
      }
    }),
    "d_dedup_clusters" -> ((s, dir) => {
      // near-dup clustering: connected components over the (lossless)
      // ngram pair list; cluster_id = min doc id in the component
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables(s, dir).documents, col("doc_id"), col("text"), 3, 0.6))
    }),
    "d_dedup_simhash" -> ((s, dir) => {
      // ORACLE-CHECKED since round 9: SimHash is a deterministic function
      // of the token-hash family, so with the portable md5-nibble token
      // hash the oracle SQL replays per-bit votes, the 4×16-bit banding,
      // and the hamming verify (simhashSql; xxhash64 stays the cheaper
      // production default). Acceptance bar (ApproxGatesSpec, sf0.01):
      // 4×16-bit band blocking is LOSSLESS for hamming ≤ 3 (pigeonhole:
      // ≤3 flipped bits leave ≥1 of 4 bands exact), so output ≡
      // brute-force all-pairs — asserted as set equality.
      Dedup.simhashPairs(Tables(s, dir).documents, col("doc_id"), col("text"),
        maxHamming = 3, portableHash = true)
    }),
    "d_dedup_embed" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(embeddingsIdVec(Tables(s, dir)), 0.40)
    }),
    "d_dedup_embed_lsh" -> ((s, dir) => {
      // scale path of d_dedup_embed: LSH-blocked candidates, exact verify.
      // ORACLE-CHECKED since round 9: the sign hyperplanes are a
      // deterministic constant, so the oracle SQL replays them from
      // embedded literals (dedupEmbedLshSql) — recall remains
      // probabilistic vs d_dedup_embed, but the OUTPUT is exactly pinned.
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // brute-force pairs (exact cosine verify ⇒ precision 1) and pair
      // recall ≥ 0.9 (measured 0.932 at 4 planes × 16 tables; the round-2
      // default of 8 planes × 4 tables measured 0.119 — the testdata
      // embeddings are near-uniform, so a loose 0.40 threshold needs
      // shallow planes + many tables; see docs/SCALE.md).
      Similarity.cosineNearDupPairsLSH(embeddingsIdVec(Tables(s, dir)), 0.40, dim = 64,
        nPlanes = 4, nTables = 16)
    }),
    "d_decon_embed" -> ((s, dir) => {
      // SEMANTIC decontamination anchor: train (even vec_id) × eval (odd
      // vec_id) cosine ≥ 0.40 — catches paraphrased benchmark leakage
      // that shares no shingle with d_decontaminate's n-gram sweep. The
      // brute cross product is the verify contract; d_decon_embed_lsh is
      // the declared 100 TB path.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.crossCorpusCosinePairs(
        v.filter(col("id") % 2 === 0), v.filter(col("id") % 2 === 1), 0.40)
    }),
    "d_decon_embed_lsh" -> ((s, dir) => {
      // scale path of d_decon_embed: cross-frame sign-LSH blocking (the
      // d_dedup_embed_lsh hyperplanes, so the oracle replays buckets from
      // the same embedded literals), exact cosine verify. Acceptance bar
      // (ApproxGatesSpec): output ⊆ brute cross pairs, recall ≥ 0.9.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.crossCorpusCosinePairsLSH(
        v.filter(col("id") % 2 === 0), v.filter(col("id") % 2 === 1), 0.40,
        dim = 64, nPlanes = 4, nTables = 16)
    }),
    "d_decon_embed_ivf" -> ((s, dir) => {
      // the LOOSE-τ scale path of d_decon_embed (r13 verdict ask #5):
      // sign-LSH at τ=0.40 on near-uniform vectors needs the 4-plane ×
      // 16-table setting whose candidate volume measured SLOWER than
      // brute at 10× (SCALE.md), so this twin blocks through an IVF
      // coarse quantizer instead — k=64 centroids co-fit over the full
      // vector set (the deconIvfCentroids oracle literals), train on its
      // nearest list, eval multi-probing 24 (recall 0.93 at gate scale;
      // 16-list/4-probe measured 0.67 — near-uniform vectors at loose τ
      // need fine lists + wide probes). Candidate volume ≈ 24/64 of the
      // cross product. Acceptance (ApproxGatesSpec): output ⊆ brute
      // pairs, recall ≥ 0.9.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.crossCorpusCosinePairsIVF(
        v.filter(col("id") % 2 === 0), v.filter(col("id") % 2 === 1), 0.40,
        nLists = 64, nProbe = 24)
    }),
    "d_dedup_embed_lsh_stream" -> ((s, dir) => {
      // the embedding sibling of d_dedup_lsh_stream: admission-time
      // near-dup over an accumulating SIGN-LSH index (same 4-plane ×
      // 16-table bucketing as the batch op), exact quantized-cosine
      // verify in-bucket (state holds the vectors; the fold replicates
      // CosineSim bit-for-bit). Vectors "arrive" in vec_id order; one
      // row per colliding table. Oracle replays buckets from the
      // embedded sign literals + list_cosine_similarity.
      withRocksDb(s) {
        val v = embeddingsIdVec(Tables(s, dir))
          .select(col("id"), col("vec").cast("array<double>").as("v"))
        val events = v.select(
          col("id"),
          col("v"),
          posexplode(array((0 until 16).map(t =>
            Similarity.lshBucket(col("v"), dim = 64, nPlanes = 4, seed = 42L + t * 7919L)): _*))
            .as(Seq("tbl", "bucket")))
          .select(
            concat_ws("|", col("tbl"), col("bucket")).as("key"),
            timestamp_seconds(col("id")).as("ts"),
            col("id").cast("string").as("id"),
            col("v").as("vec"))
        Replay.vecEvents(events) { stream =>
          graft.streaming.StreamingDedup.vecIndex(stream, simThresholdQ = 4000L).toDF()
        }.select(
          col("tbl"),
          col("a").cast("long").as("a"),
          col("b").cast("long").as("b"),
          col("sim"))
      }
    }),
    "d_dedup_semantic" -> ((s, dir) => {
      // SemDeDup (arXiv:2303.09540): k-means cluster-blocked near-dup
      // pairs with exact cosine verify — the third scale path for
      // d_dedup_embed, best when embeddings are genuinely clustered (the
      // pair space becomes within-cluster equi-joins). ORACLE-CHECKED
      // since round 10: the deterministic fitted centroids embed in the
      // oracle SQL as literals and the multi-probe assignment + pair +
      // verify pipeline replays relationally (dedupSemanticSql).
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // brute pairs (exact verify ⇒ precision 1) and recall ≥ 0.9 at 16
      // clusters, nProbe=4 (multi-probe recovers boundary pairs; the
      // near-uniform testdata needs 4 probes where clustered corpora
      // need fewer).
      Similarity.semanticDedupPairs(
        embeddingsIdVec(Tables(s, dir)), 0.40, nClusters = 16, nProbe = 4)
    }),

    "d_dedup_bow" -> ((s, dir) => {
      // model-free near-dup: feature-hashed BoW count vectors + exact
      // cosine. Integer counts make the cosine bit-exact across engines
      // (products and norms are exact doubles; one division).
      // ORACLE-ANCHOR ONLY — this N² self-join exists so the driver's
      // DuckDB record has an exact-SQL row for the BoW family; it is NOT
      // the declared plan and cannot run at 100× (quadratic pair space).
      // The declared plan for BoW near-dup is d_dedup_bow_lsh below
      // (same vectors, same exact verify, measured recall 0.998), whose
      // ApproxGatesSpec gate recomputes this baseline internally.
      val v = TextOps
        .hashedBowVectors(Tables(s, dir).documents, col("doc_id"), col("text"), dim = 64)
        .select(col("doc_id").as("id"), col("vec"))
      Similarity.cosineNearDupPairs(v, 0.95)
    }),
    "d_dedup_bow_lsh" -> ((s, dir) => {
      // THE declared BoW near-dup plan: LSH-blocked candidates, exact
      // verify. ORACLE-CHECKED since round 9: every stage was already
      // deterministic and portable (md5 BoW buckets, splitmix sign
      // planes, exact integer-count cosine) — bowLshSql replays
      // projection → banding → candidates → verify end-to-end; recall vs
      // the exact twin stays probabilistic and gated.
      // Acceptance bar (ApproxGatesSpec, same params, sf0.01): output ⊆
      // exact d_dedup_bow pairs (exact cosine verify ⇒ precision 1) and
      // pair recall ≥ 0.9 (measured 0.998 at sf0.1, 3.5s exact vs 0.6s
      // LSH). The 0.95 threshold means surviving pairs sit within ~18°
      // (per-plane sign agreement ~0.9), so DEEP planes + many tables is
      // the right corner — the opposite knee from the loose-threshold
      // embedding twin (4×16); see docs/SCALE.md. The vector frame is
      // cached because the LSH plan references it 4×, and unlike the
      // embedding twin's parquet scan this upstream is a tokenize→agg
      // pipeline (at cluster scale: write it to parquet instead).
      val v = TextOps
        .hashedBowVectors(Tables(s, dir).documents, col("doc_id"), col("text"), dim = 64)
        .select(col("doc_id").as("id"), col("vec"))
        .cache()
      Similarity.cosineNearDupPairsLSH(v, 0.95, dim = 64, nPlanes = 12, nTables = 16)
    }),
    "d_substring_dedup" -> ((s, dir) => {
      // cross-doc repeated-substring signal (suffix-array dedup's
      // distributed stand-in): distinct 16-token shingles per doc and
      // how many of them occur in at least one other doc
      Dedup.sharedShingleStats(
        Tables(s, dir).documents, col("doc_id"), col("text"), shingleLen = 16)
    }),
    "d_remove_dup_substrings" -> ((s, dir) => {
      // the SCRUB counterpart of d_substring_dedup (Lee et al. 2022
      // ExactSubstr at shingle granularity): drop every token covered by
      // a full 16-token run appearing in another doc, reassemble, and
      // pin the cleaned text with md5. All equi-joins at corpus grain —
      // no pair output, never output-bound.
      Dedup.removeDuplicateShingles(
        Tables(s, dir).documents, col("doc_id"), col("text"), shingleLen = 16)
    }),
    "d_decontaminate" -> ((s, dir) => {
      // cross-corpus contamination sweep: odd-id docs as "train", even-id
      // as "eval" (deterministic stand-ins for two real corpora)
      val docs = Tables(s, dir).documents
      Dedup.crossCorpusNearDups(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 3, 0.5)
    }),

    "d_decontaminate_hard13" -> ((s, dir) => {
      // GPT-3-style hard decontamination (Brown et al. 2020 App. C):
      // flag a train doc on ANY shared exact word 13-gram with the eval
      // side — catches verbatim leaked spans inside otherwise-different
      // docs, the case d_decontaminate's Jaccard threshold misses by
      // construction. Same odd/even stand-in split; portable md5→32-bit
      // shingle hashes so the oracle replays the join at hash grain.
      val docs = Tables(s, dir).documents
      Dedup.exactNgramCollisions(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, portableHash = true)
    }),
    "d_decontaminate_hard13_bloom" -> ((s, dir) => {
      // hard13's 100 TB sweep plan: the train explode filters through a
      // codegen'd might_contain over the benchmark's 13-gram bloom
      // BEFORE any exchange — same output as d_decontaminate_hard13
      // (the exact join removes bloom false positives), one shared
      // oracle, plan-pinned in PlanQualitySpec.
      val docs = Tables(s, dir).documents
      Dedup.exactNgramCollisionsBloom(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13,
        expectedEvalShingles = 200000L, portableHash = true)
    }),
    "d_decon_hard13_stream" -> ((s, dir) => {
      // the hard sweep riding the ingest stream: odd-id docs arrive in
      // id order, each one's shingle-hash set (pure array projection —
      // no window, streaming-legal) joins stream-static against the
      // broadcast benchmark table. Stateless, so the replayed hit set is
      // EXACTLY the batch join's — one shared oracle with
      // d_decontaminate_hard13 (batch assembly dedups the per-shingle
      // hit multiplicity; cross-engine hash grain identical).
      val docs = Tables(s, dir).documents
      val evalSh = graft.streaming.StreamingDedup.evalShingleTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), 13)
      val out = Replay.docEvents(
        docs.filter(col("doc_id") % 2 === 1).select(
          lit("").as("key"),
          timestamp_seconds(col("doc_id")).as("ts"),
          col("doc_id").cast("string").as("id"),
          col("text"))) { stream =>
        graft.streaming.StreamingDedup.deconHitsExact(stream.toDF(), evalSh, 13)
      }
      out.select(
          col("b").cast("long").as("train_id"),
          col("eval_id").cast("long").as("eval_id"))
        .distinct()
    }),
    "d_decon_spans" -> ((s, dir) => {
      // WHERE the leaks are: every exact-13-gram collision located at
      // its token offset, padded 5 tokens each side, overlapping windows
      // merged — the span report behind redaction-grain cleanup (GPT-3
      // removes a window AROUND each collision, not the whole doc). Hit
      // join = d_decontaminate_hard13's (broadcast benchmark, 32-bit
      // portable hashes); the merge is a per-DOC gaps-and-islands
      // window, bounded by one doc's hits — never corpus-wide.
      val docs = Tables(s, dir).documents
      Dedup.contaminatedSpans(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, padTokens = 5)
    }),
    "d_decon_redact" -> ((s, dir) => {
      // redaction-grain decontamination: cut the d_decon_spans windows
      // out and keep the clean complement pieces of ≥ 20 tokens — one
      // whole piece for untouched docs, nothing for blanketed ones. The
      // complement is a pure array expression over each doc's collected
      // spans; no shuffle beyond the span merge.
      val docs = Tables(s, dir).documents
      Dedup.decontaminateByRedaction(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), n = 13, padTokens = 5, minPieceTokens = 20)
    }),
    "d_decontaminate_bloom" -> ((s, dir) => {
      // the 100 TB decontamination plan: the train explode filters
      // through a codegen'd might_contain over the benchmark's shingle
      // bloom BEFORE any exchange — at real scale virtually every train
      // shingle misses and the join sees only the contaminated sliver.
      // Same output as d_decontaminate (the exact join removes the
      // bloom's false positives): one shared oracle, plan-pinned.
      val docs = Tables(s, dir).documents
      Dedup.crossCorpusNearDupsBloom(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 3, 0.5,
        expectedEvalShingles = 200000L)
    }),
    "d_contamination_frac" -> ((s, dir) => {
      // per-eval-doc n-gram overlap score vs the train corpus: catches
      // jointly-contaminated docs no single Jaccard pair flags
      val docs = Tables(s, dir).documents
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 3)
    }),
    "d_drop_near_dups" -> ((s, dir) => {
      // end-to-end two-stage removal (exact-collapse → near-dup pairs →
      // CC → keep canonical): lossless pair mode so the keep-list is
      // exactly oracle-checkable; the MinHash mode of the same pipeline
      // is the scale path (ApproxGatesSpec gates its pair recall)
      Dedup
        .dropNearDuplicates(Tables(s, dir).documents, col("doc_id"), col("text"),
          shingleLen = 3, threshold = 0.6, losslessPairs = true)
        .select(col("doc_id"))
    }),

    // ---- sampling / splitting ----
    "p_corpus_report" -> ((s, dir) => {
      // per-source corpus DATASHEET — the rollup you run before training:
      // doc/token volume, language spread + dominant language
      // (deterministic tie-break: count desc then lexicographic), exact
      // duplicate rate (md5 fingerprints), and the exact type-1 median
      // char length. Every branch aggregates to source grain before any
      // join, so the joins carry |sources| rows (broadcast) — the corpus
      // is scanned once per signal family, never joined at doc grain.
      val d = Tables(s, dir).documents.select(
        col("source"), col("doc_id"), col("lang"), col("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        md5(col("text")).as("fp"))
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      val dup = d.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
      val med = Stats.quantilesByKey(d, col("source"), col("n_chars"), Seq(0.5))
        .select(col("key").as("source"), col("value").cast("long").as("chars_p50"))
      val lw = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n").desc, col("lang"))
      val topLang = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(lw))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("n").as("top_lang_n"))
      base.join(dup, "source").join(med, "source").join(topLang, "source")
        .select(
          col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          col("n_dup_docs"), col("chars_p50"), col("top_lang"), col("top_lang_n"))
    }),
    "p_lm_filter" -> ((s, dir) => {
      // CCNet-style LM quality band: score each doc by its PER-TOKEN
      // corpus-unigram log-prob (composing t_unigram_lm's integer-exact
      // scorer), percent-rank WITHIN its source, keep the [0.1, 0.9]
      // band — drops each stratum's worst boilerplate AND its
      // suspiciously-predictable head with one calibrated rule. The
      // division of two exact ints is IEEE-identical on any engine and
      // percent_rank = (rank-1)/(n-1) ties deterministically, so the
      // band membership is oracle-exact. Per-source window sort carries
      // the same stratum-sort scale caveat as t_calibrate (documented
      // there; strata sort independently).
      val docs = Tables(s, dir).documents
      val lm = TextOps.unigramLogProb(docs, col("doc_id"), col("text"))
      val scored = lm
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("score", col("logprob_1e6").cast("double") / col("n_tokens"))
      Stats.percentRankByKey(scored, col("source"), col("score"))
        .filter(col("pct_rank") >= 0.1 && col("pct_rank") <= 0.9)
        .select(col("doc_id"), col("source"), col("logprob_1e6"), col("n_tokens"))
    }),
    "p_gopher_filter" -> ((s, dir) => {
      // Gopher rule-composite hygiene pass (Rae et al. §A1.1 thresholds):
      // per-rule audit columns + the keep conjunction, all codegen'd
      // per-row expressions — the multi-rule generalization of the
      // reference's P3 predicate filter
      TextOps.gopherSignals(Tables(s, dir).documents, col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("symbol_ratio"), col("alpha_word_ratio"), col("stop_hits"),
          col("keep"))
    }),
    "p_skew_report" -> ((s, dir) => {
      // shuffle-key skew diagnostic: top-10 heaviest user_ids with exact
      // ppm share + global totals — run before sizing any 100 TB shuffle
      Stats.keySkewReport(Tables(s, dir).events, col("user_id"), topN = 10)
        .select(col("key").as("user_id"), col("cnt"), col("share_ppm"),
          col("n_rows"), col("n_keys"))
    }),
    "p_cap_per_key" -> ((s, dir) => {
      // source-balance capping: at most 20 docs per source, deterministic
      // (WindowGroupLimit-pruned rank — same plan family as T1)
      Sampling
        .capPerKey(Tables(s, dir).documents, col("source"), Seq(col("doc_id").asc), 20)
        .select(col("source"), col("doc_id"))
    }),
    "p_sample" -> ((s, dir) => {
      // deterministic 10% Bernoulli sample of documents by doc_id hash
      Sampling.sample(Tables(s, dir).documents, col("doc_id"), 0.1)
        .select(col("doc_id"))
    }),
    "p_split" -> ((s, dir) => {
      // deterministic 90/10 train/eval split labels
      Sampling.split(Tables(s, dir).documents, col("doc_id"),
          Seq("train" -> 0.9, "eval" -> 0.1))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
    }),
    "p_sample_stratified" -> ((s, dir) => {
      // per-language rebalance: keep 10% of en docs, 60% of the rest —
      // the corpus-mixing knob, decided per row by the same md5 hash as
      // p_sample so the mix is reproducible on any engine
      Sampling.sampleStratified(
          Tables(s, dir).documents, col("doc_id"),
          TextOps.langId(col("text")), Map("en" -> 0.1, "und" -> 0.6))
        .select(col("doc_id"))
    }),
    "p_sample_weighted" -> ((s, dir) => {
      // importance sampling: inclusion probability proportional to doc
      // length (n_chars/2000 × 0.2, capped at 1) — upsample long docs in
      // a mixture; the same engine-portable md5 decision as p_sample, so
      // the oracle replicates the exact keep-set, not just its size
      Sampling.sampleWeighted(Tables(s, dir).documents, col("doc_id"),
          col("n_chars").cast("double") / 2000.0 * 0.2)
        .select(col("doc_id"), col("n_chars"))
    }),
    "p_mixture_sqrt" -> ((s, dir) => {
      // corpus mixture rebalancing: α=1/2 temperature sampling — each
      // source's expected contribution is c·sqrt(n_s), so dominant
      // sources are down-weighted and any source with ≤ c² docs is kept
      // whole. sqrt (not pow) keeps the md5 keep-set engine-exact.
      Sampling.sampleSqrtSmoothed(Tables(s, dir).documents, col("doc_id"), col("source"), 3.0)
        .select(col("doc_id"), col("source"))
    }),
    "p_token_budget" -> ((s, dir) => {
      // corpus mixing: each source contributes docs in md5 order until
      // its 800-token quota is spent (boundary doc included iff its
      // first token fits — packByBudget's block boundary rule)
      Sampling.capTokensPerKey(
          Tables(s, dir).documents, col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")), budgetTokens = 800L)
        .select(col("source"), col("doc_id"))
    }),
    "p_pack" -> ((s, dir) => {
      // deterministic 512-token block packing over 8 shards: concatenate
      // each shard's docs in md5-hash order, assign each doc to the pack
      // its first token lands in (block-packed-dataset semantics)
      val d = Tables(s, dir).documents
      Chunking.packByBudget(
        d, col("doc_id"), TextOps.tokenCount(col("text")), 512L, nShards = 8)
    }),
    "p_pack_greedy" -> ((s, dir) => {
      // atomic-doc first-fit packing (SFT posture: docs never straddle a
      // pack): per-shard sequential fold via flatMapSortedGroups; the
      // oracle replays the fold as a DuckDB recursive CTE
      val d = Tables(s, dir).documents
      Chunking.packGreedy(
          d, col("doc_id"), TextOps.tokenCount(col("text")), 512L, nShards = 8)
        .select(
          col("doc_id").cast("long").as("doc_id"),
          col("shard"), col("pack_id"), col("offset_tokens"))
    }),
    "p_shuffle" -> ((s, dir) => {
      // deterministic epoch ordering: md5-keyed sharded permutation —
      // (shard, pos) is the reproducible global training order; one hash
      // exchange + per-shard rank, never a global sort
      Sampling
        .shardedShuffle(Tables(s, dir).documents, col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),
    "p_zorder_layout" -> ((s, dir) => {
      // multi-dimensional clustering key for data-skipping writes: Morton
      // interleave of (user bucket, hour bucket) — sorting by z bounds
      // every file's range in BOTH dims, so min/max stats prune filters
      // on either (Sinks.zorderedParquet is the write path; the native
      // codegen'd ZOrder2 kernel is what the oracle replays bit-for-bit)
      Tables(s, dir).events.select(
        col("event_id"),
        pmod(col("user_id"), lit(1024L)).as("ux"),
        pmod(expr("unix_micros(ts) div 3600000000"), lit(1024L)).as("uy"),
        org.apache.spark.sql.graft.ZOrderFunctions.zorder2(
          pmod(col("user_id"), lit(1024L)),
          pmod(expr("unix_micros(ts) div 3600000000"), lit(1024L))).as("z"))
    }),
    "p_ingest_stream" -> ((s, dir) => {
      // the batch flagship's ADMISSION-TIME twin: quality gate → exact
      // dedup (deterministic first-per-fingerprint) → accumulating
      // MinHash-LSH index, as ONE streaming query with two chained keyed
      // state machines (fingerprint grouping, then band-bucket grouping).
      // The streamed hit rows label the near-dups; the batch side below
      // only ASSEMBLES verdict labels from stateless exprs + the hit set
      // — every stateful decision happened in-stream. Oracle replays the
      // whole chain (gates, min-per-fp keeper, signatures, banding,
      // agreement ≥ 39/64).
      withRocksDb(s) {
        val docs = Tables(s, dir).documents
        val hits = Replay.docEvents(
          docs.select(
            lit("").as("key"),
            timestamp_seconds(col("doc_id")).as("ts"),
            col("doc_id").cast("string").as("id"),
            col("text"))) { stream =>
          graft.streaming.StreamingDedup.ingestGate(stream.toDF()).toDF()
        }
        TrainingPipeline.ingestVerdicts(docs, hits)
      }
    }),
    "p_ingest_decon_stream" -> ((s, dir) => {
      // p_daily_admission's STREAMING posture: the admission gate's two
      // chained state machines PLUS a stateless stream-static broadcast
      // screen against the frozen eval benchmark, in ONE streaming query
      // (the decon branch unions into the gate's hit stream with
      // band = -1; the benchmark is tiny by definition, so its band
      // table broadcasts and every executor screens its own arrivals).
      // doc_id % 3 = 1 docs arrive in id order; % 3 = 2 is the static
      // benchmark. Oracle replays gates, the min-per-fp keeper,
      // signatures, banding, and BOTH integer agreement verifies.
      withRocksDb(s) {
        val docs = Tables(s, dir).documents
        val arrivals = docs.filter(col("doc_id") % 3 === 1)
        val evalBands = graft.streaming.StreamingDedup.evalBandTable(
          docs.filter(col("doc_id") % 3 === 2), col("doc_id"), col("text"))
        val out = Replay.docEvents(
          arrivals.select(
            lit("").as("key"),
            timestamp_seconds(col("doc_id")).as("ts"),
            col("doc_id").cast("string").as("id"),
            col("text"))) { stream =>
          val df = stream.toDF()
          val gate = graft.streaming.StreamingDedup.ingestGate(df).toDF()
            .select(col("band"), col("a"), col("b"), col("n_agree"))
          val dec = graft.streaming.StreamingDedup.deconHits(df, evalBands)
            .select(lit(-1).as("band"),
              concat(lit("eval:"), col("eval_id")).as("a"),
              col("b"), col("n_agree"))
          gate.unionByName(dec)
        }
        TrainingPipeline.ingestVerdictsDecon(
          arrivals, out.filter(col("band") >= 0), out.filter(col("band") === -1))
      }
    }),
    "p_corpus_e2e" -> ((s, dir) => {
      // the flagship composition: raw documents → exact dedup → quality +
      // language gate → 90/10 split → eval-leakage decontamination →
      // sqrt-mixture → 8-shard epoch shuffle, ONE dataflow whose full
      // chain the oracle replays; (shard, pos) is the training order
      TrainingPipeline
        .buildCorpus(Tables(s, dir).documents, col("doc_id"), col("text"), col("source"))
        .select(col("doc_id"), col("source"), col("shard"), col("pos"))
    }),
    "p_split_leakage" -> ((s, dir) => {
      // split-boundary decontamination audit: the deterministic 90/10
      // hash split followed by cross-split near-dup detection — the
      // composition that catches train→eval leakage BEFORE a corpus
      // ships (5 leaked pairs exist in the sf0.01 testdata)
      val withSplit = Sampling.split(
        Tables(s, dir).documents, col("doc_id"), Seq("train" -> 0.9, "eval" -> 0.1))
      Dedup.crossCorpusNearDups(
        withSplit.filter(col("split") === "train"),
        withSplit.filter(col("split") === "eval"),
        col("doc_id"), col("text"), 3, 0.5)
    }),
    "p_split_group" -> ((s, dir) => {
      // leakage-safe 90/10 split: the split unit is the near-dup
      // CLUSTER (connected components over the lossless pair list), so
      // near-duplicates can never straddle the boundary — the
      // constructive fix for exactly what p_split_leakage audits (the
      // per-doc split leaks 5 pairs in this corpus; this one leaks zero
      // by construction, asserted in PipelineSpec). Docs with no
      // near-dup form singleton groups keyed by their own id.
      val docs = Tables(s, dir).documents
      Sampling.splitByGroup(
          docs,
          col("doc_id"),
          Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)),
          "id", "cluster_id",
          Seq("train" -> 0.9, "eval" -> 0.1))
        .select(col("doc_id"), col("split"))
    }),
    "d_chunk" -> ((s, dir) => {
      // overlapping 64-token / 16-overlap chunk windows (RAG/pretraining
      // sequence shaping); chunk text re-joined with single spaces
      Chunking.chunk(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    "d_chunk_cdc" -> ((s, dir) => {
      // content-defined chunking: rolling-hash cuts (8-token window,
      // 2^5-token expected length, 128-token force-split) — boundaries
      // survive upstream edits, so chunk-grain dedup stays stable across
      // corpus snapshots; the md5/Horner fold replays bit-for-bit in the
      // oracle
      Chunking.contentDefinedChunks(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    "d_chunk_dedup" -> ((s, dir) => {
      // chunk-grain dedup accounting over the CDC chunks — the
      // dedup-storage / RAG-ingest shape content-defined boundaries
      // exist for: per doc, how many of its chunks (and how much token
      // mass) the corpus already stores under another (doc, chunk)
      // owner. Owner election is a map-side-combined min-struct per
      // fingerprint (no window sort — a boilerplate chunk can't
      // concentrate one task); doc-grain totals join doc-grain owner
      // counts. Exact integers so the row hashes identically anywhere.
      Chunking.chunkDedupStats(
        Chunking.contentDefinedChunks(Tables(s, dir).documents, col("doc_id"), col("text")))
    }),

    // ---- text analysis ----
    "t_tokens" -> ((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    }),
    "t_tokens_bpe" -> ((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpe"))
    }),
    "t_cms_counts" -> ((s, dir) => {
      // Count-Min point-frequency estimates, completing the sketch
      // family (HLL distinct / Bloom membership / Misra-Gries heavy
      // hitters): one map-side-combined pass builds the mergeable d×w
      // grid as a DataFrame, probes join it at their d buckets — the
      // corpus is never rescanned per query. Probe set = distinct tokens
      // of the 10 lowest-id docs (bounded, deterministic).
      // ORACLE-CHECKED since round 9: the md5-bucket hash replays in SQL
      // so the grid and every estimate are exactly pinned;
      // ApproxGatesSpec still asserts the one-sided Cormode-Muthukrishnan
      // bound on every probe.
      val docs = Tables(s, dir).documents
      val probes = Sketches.probeTokens(docs, col("doc_id"), col("text"), 10)
      Sketches.cmsTokenEstimates(docs, col("text"), probes)
    }),
    "t_bpe_train" -> ((s, dir) => {
      // REAL BPE tokenizer training (Sennrich merges), distributed: one
      // corpus-grain shuffle builds the (word, freq) table, then each of
      // the 24 merge rounds costs O(vocab) — at 100 TB the loop never
      // re-reads the corpus. ORACLE-CHECKED since round 10: the fixed
      // merge count unrolls the whole Sennrich loop into 24 chained SQL
      // rounds (bpeTrainSql), so the merge table is hash-checked;
      // BpeSpec still pins merge-by-merge equality with a sequential
      // reference implementation.
      Bpe.trainTable(Tables(s, dir).documents, col("text"), nMerges = 24)
    }),
    "t_bpe_encode" -> ((s, dir) => {
      // token counts under the trained merges: k fold passes over the
      // DISTINCT-WORD table, then one equi-join back to doc grain —
      // corpus is touched twice total (word-freq + final join), never
      // per merge. ORACLE-CHECKED since round 10 (bpeEncodeSql unrolls
      // train(16) + encode end-to-end); BpeSpec still gates exact
      // equality with per-word sequential encoding.
      val docs = Tables(s, dir).documents
      val merges = Bpe.train(docs, col("text"), nMerges = 16)
      Bpe.encodeTokenCounts(docs, col("doc_id"), col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"))
    }),
    "t_quality" -> ((s, dir) => {
      TextOps
        .qualitySignals(Tables(s, dir).documents, col("text"))
        .select(
          col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_alpha_chars").cast("long").as("n_alpha_chars"),
          col("avg_token_len"),
          col("stopword_ratio"),
          col("punct_ratio"))
    }),
    "t_nb_classify" -> ((s, dir) => {
      // corpus-trained multinomial Naive Bayes (add-1), source as label —
      // the model-based filter shape (fastText/DCLM); integer-floored log
      // terms make scores exact longs on any engine
      TextOps.naiveBayesClassify(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("source"))
    }),
    "d_winnow" -> ((s, dir) => {
      // winnowing (MOSS) fingerprints: distinct per-window min k-gram
      // hashes — guaranteed-coverage overlap detection; fingerprints
      // equi-join downstream like shingle hashes
      Dedup.winnowFingerprints(
        Tables(s, dir).documents, col("doc_id"), col("text"), k = 4, w = 5)
    }),
    "q_histogram" -> ((s, dir) => {
      // fixed-width value histogram per event type: the distribution view
      // behind filter thresholds; one (key,bin)-grain exchange
      Stats.histogram(Tables(s, dir).events, col("event_type"), col("value"), width = 50.0)
        .select(col("key").as("event_type"), col("bin"), col("bin_lo"), col("cnt"))
    }),
    "q_pareto" -> ((s, dir) => {
      // revenue concentration: per-user totals ranked desc with exact
      // running share of the grand total (decimal prefix sums)
      Stats.paretoShare(Tables(s, dir).events, col("user_id"), col("value"))
        .select(col("key").cast("long").as("user_id"), col("rank"),
          col("rev"), col("cum_share_micro"))
    }),
    "q_zscore_outliers" -> ((s, dir) => {
      // per-type z-score outliers: decimal moment sums (order-free,
      // engine-exact) -> mean/std as deterministic double ops; the tiny
      // per-type stats table broadcasts back, corpus never re-shuffles;
      // zero-variance strata flag nothing (guarded in Stats.zscoreOutliers)
      Stats.zscoreOutliers(
          Tables(s, dir).events, col("event_type"), col("value"), threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          floor(col("z") * 1e6).cast("long").as("z_micro"))
    }),
    "q_range_join" -> ((s, dir) => {
      // banded (non-equi) join against a tiny tier dimension: each event
      // lands in the [lo, hi) band containing its value, then per-tier
      // count + decimal revenue. The dim is a 3-row broadcast, so the
      // physical plan is BroadcastNestedLoopJoin — the RIGHT plan for a
      // range predicate against a constant-sized build side: the corpus
      // streams once, never shuffles for the join, and the band predicate
      // evaluates inside whole-stage codegen. (A sort-merge "interval
      // tree" would only pay off with a LARGE band table; tiers/SLAs/
      // price-bands are constant-sized in practice.)
      val s2 = s
      import s2.implicits._
      val tiers = Seq(("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e12))
        .toDF("tier", "lo", "hi")
      Tables(s, dir).events
        .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("tier"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("rev"))
    }),
    "q_gap_fill" -> ((s, dir) => {
      // densified hourly revenue per event_type with zero-fill + LOCF —
      // the batch construction of what a streaming window emits
      // continuously; grid built from a broadcast global [min,max] span,
      // windows run at grid grain (see Stats.gapFillHourly scaladoc)
      Stats.gapFillHourly(
          Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
        .select(col("key").as("event_type"), col("hr"), col("rev"), col("rev_locf"))
    }),
    "q_latest_snapshot" -> ((s, dir) => {
      // CDC / changelog compaction: each user's LATEST event materializes
      // the upsert snapshot. WindowGroupLimit keeps per-map-task top-1
      // rows before the exchange, so the shuffle carries ≤ one row per
      // (key, partition) — see Dedup.keepLatest
      Dedup
        .keepLatest(Tables(s, dir).events,
          key = Seq(col("user_id")), version = Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    }),
    "q_mad_outliers" -> ((s, dir) => {
      // robust per-type outliers: median/MAD (50% breakdown) instead of
      // mean/σ — type-1 medians are actual data values, so med/mad land
      // on the record exactly; zero-MAD strata flag nothing
      Stats.madOutliers(
          Tables(s, dir).events, col("event_type"), col("value"), threshold = 3.5)
        .select(col("event_id"), col("event_type"), col("value"), col("med"), col("mad"))
    }),
    "t_winsorize" -> ((s, dir) => {
      // per-language winsorization: clamp n_chars into the [p05, p95]
      // type-1 band — every row survives with a tamed value; value_w is
      // a pure selection (no arithmetic), engine-exact
      Stats.winsorizeByKey(
          Tables(s, dir).documents, col("lang"), col("n_chars"), 0.05, 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("value_w"))
    }),
    "q_event_gaps" -> ((s, dir) => {
      // per-user inter-arrival gap stats in exact µs integers — dwell/
      // burstiness analytics and session-timeout calibration; one key
      // exchange + per-key sort, then a map-side-combined agg
      Stats.interArrivalGaps(
          Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"))
        .select(col("key").cast("long").as("user_id"), col("n_events"),
          col("n_gaps"), col("min_gap_us"), col("max_gap_us"), col("sum_gap_us"))
    }),
    "q_bloom_join" -> ((s, dir) => {
      // bloom-pruned semi-join: lineitems of high-value orders. The
      // dim-key bloom (exact-count sized, 1% fpp) filters the fact scan
      // BEFORE the semi-join exchange; false positives die in the exact
      // semi-join, so the oracle is the plain IN-subquery
      val t = Tables(s, dir)
      val hi = t.orders.filter(col("o_totalprice") > 300000.0)
      Joins
        .bloomPrunedSemiJoin(
          t.lineitem, hi, col("l_orderkey"), col("o_orderkey"),
          expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    "d_cluster_sizes" -> ((s, dir) => {
      // dedup QA: component-size distribution of the near-dup graph —
      // catches a threshold too loose (giant component) or too tight
      // (all size-2) at a glance. THE ANCHOR IS THE SCALE PLAN (round-9
      // swap): collapse byte-identical copies to representatives first,
      // pair + CC on reps only, expand component sizes by n_copies —
      // 61 s → 7 s on the adversarial duplication-heavy 10× corpus
      // (docs/SCALE.md); equivalent to the raw pair graph whenever exact
      // copies tokenize identically (they do — same bytes, same shingles)
      val t = Tables(s, dir)
      // ONE persisted fingerprint aggregate serves both consumers (round
      // 15): `groups` and the reps semi-join below execute in separate
      // jobs (the pair side materializes first), so without the persist
      // the full-text md5 aggregate ran twice per query
      val groups = Dedup.exact(t.documents, col("doc_id"), col("text")).persist()
      val reps = t.documents.join(
        groups.select(col("keep_id").as("__keep")),
        col("doc_id") === col("__keep"), "left_semi")
      Dedup.clusterSizeDistributionFromClusters(
        groups,
        Dedup.connectedComponents(
          Dedup.nearDupPairs(reps, col("doc_id"), col("text"),
            shingleLen = 3, threshold = 0.6, losslessPairs = true)))
    }),
    "d_cluster_sizes_raw" -> ((s, dir) => {
      // the raw-pair-graph form, kept ONLY as the small-scale oracle
      // cross-check of the composed anchor above: the shared-shingle join
      // emits m² rows per shingle shared by m docs, so on duplication-
      // heavy corpora this form IS the blow-up — never the 100 TB path
      Dedup.clusterSizeDistribution(
        Dedup.ngramJaccardPairs(Tables(s, dir).documents, col("doc_id"), col("text"), 3, 0.6))
    }),
    "q_uv_sketch" -> ((s, dir) => {
      // mergeable HLL sketch store: daily per-type sketches unioned to a
      // per-type total estimate — the write-once/re-merge-forever rollup
      // approx_count_distinct can't express. PORTABLE-REGISTER HLL since
      // round 10 (register relations, max-merge, SQL-replayable estimate
      // ⇒ hash-checked record); hll_sketch_agg ([[Sketches.hllRollup]])
      // stays the engine-native store, gated <5% in ApproxGatesSpec.
      Sketches.portableHllRollup(
        Tables(s, dir).events,
        col("event_type"), date_trunc("day", col("ts")), col("user_id"))
    }),
    "p_blocklist" -> ((s, dir) => {
      // safety/compliance audit: ANY-term blocklist hits with the
      // per-doc term trail; token stream prunes to the blocklist first
      TextOps.blocklistAudit(
        Tables(s, dir).documents, col("doc_id"), col("text"),
        Seq("slow", "big", "stream"))
    }),
    "q_vocab_growth" -> ((s, dir) => {
      // Heaps-law vocabulary growth at 50-doc grain: plateau = template
      // corpus, linear = noise; types count at first occurrence
      TextOps.vocabGrowth(
        Tables(s, dir).documents, col("doc_id"), col("text"), bucket = 50)
    }),
    "q_join_profile" -> ((s, dir) => {
      // pre-join diagnostic: exact output cardinality + orphan rows for
      // lineitem ⋈ orders — read this BEFORE shipping the 100 TB join
      val t = Tables(s, dir)
      Stats.joinProfile(t.lineitem, t.orders, col("l_orderkey"), col("o_orderkey"))
    }),
    "e_norms" -> ((s, dir) => {
      // embedding-store QA: per-vector dim + floored squared norm — the
      // zero/truncated-vector pre-flight; pure projection
      Embeddings.normStats(Tables(s, dir).embeddings, col("vec_id"), col("embedding"))
    }),
    "q_wau_sketch" -> ((s, dir) => {
      // q_wau's sketch-store form: ONE daily register build answers
      // every 7-day window by max-merging 7 sketches — the pane merge an
      // exact distinct cannot do. PORTABLE-REGISTER HLL since round 10
      // (hash-checked record; the hll_sketch_agg form remains in
      // ApproxGatesSpec as the native twin). Expansion input is ≤1024
      // register rows per day, NOT the event log — the 7× fan-out is on
      // sketch state.
      val daily = Sketches.portableHllRegisters(
        Tables(s, dir).events
          .select(date_trunc("day", col("ts")).as("day"), col("user_id")),
        Seq(col("day")), col("user_id"))
      val merged = daily
        .withColumn("i", explode(sequence(lit(0), lit(6))))
        .withColumn("window_start", col("day") - expr("make_interval(0, 0, 0, i)"))
        .groupBy(col("window_start"), col("bucket"))
        .agg(max(col("register")).as("register"))
      Sketches.portableHllEstimate(merged, Seq(col("window_start")))
        .select(col("window_start"), col("uv_est"))
    }),
    "q_wau" -> ((s, dir) => {
      // rolling weekly actives per day (the DAU/WAU engagement family):
      // exact distinct users per 7d/1d sliding window. Round 9: events
      // pre-collapse to distinct (user, day-pane) BEFORE the 7× window
      // expansion (lossless for aligned geometries), so the expansion
      // input is the user-day table, not the event log — the exact
      // floor; q_wau_sketch remains the sub-user-day-cost path
      WindowAggs
        .slidingCountDistinct(
          Tables(s, dir).events, col("ts"), "7 days", "1 day", col("user_id"))
        .select(col("window_start"), col("uv"))
    }),
    "q_scd2" -> ((s, dir) => {
      // SCD Type-2 history: per-user validity intervals from the change
      // log — valid_to = next change, null on the current version
      Sequences.scdHistory(
          Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
    }),
    "d_containment" -> ((s, dir) => {
      // asymmetric containment pairs: short-doc-inside-long-doc overlap
      // Jaccard can't see. ORACLE-ANCHOR form (shared-shingle self-join);
      // the declared 100 TB plan is d_containment_blocked below — same
      // output, prefix-filtered candidates
      Dedup.containmentPairs(
        Tables(s, dir).documents, col("doc_id"), col("text"), n = 3, threshold = 0.8)
    }),
    "d_containment_blocked" -> ((s, dir) => {
      // the boilerplate-skew scale plan for containment (round 9):
      // prefix-filtered probe × full index candidates, LOSSLESS by the
      // pigeonhole bound, exact shared-shingle verify — same oracle as
      // d_containment, without the m²-per-hot-shingle exchange (3 s vs
      // killed-at-18-min on the 50k-doc shared-boilerplate corpus;
      // docs/SCALE.md). On DUPLICATION-heavy corpora collapse to exact
      // representatives first instead — there the blow-up is true pairs
      // and blocking can't help (the d_cluster_sizes lesson).
      Dedup.containmentPairsBlocked(
        Tables(s, dir).documents, col("doc_id"), col("text"), n = 3, threshold = 0.8)
    }),
    "q_movers" -> ((s, dir) => {
      // top-10 day-over-day movers per (type, day) in exact micros —
      // the anomaly shortlist; lag per key, TakeOrdered final
      Stats.topMovers(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"), topN = 10)
    }),
    "p_range_bounds" -> ((s, dir) => {
      // range-partition boundary plan: 8-way split points for n_chars
      // from the deterministic md5 half-sample
      Stats.rangeBounds(
        Tables(s, dir).documents, col("doc_id"), col("n_chars"), k = 8, sampleFrac = 0.5)
    }),
    "q_trend_slope" -> ((s, dir) => {
      // per-type least-squares trend of daily revenue — the record
      // carries the EXACT rational slope_num/slope_den (integer division
      // semantics differ across engines for negatives, so no quotient)
      Stats.trendSlopeByKey(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    "q_trend_slope_stream" -> ((s, dir) => {
      // q_trend_slope's streaming twin: the incremental-regression machine
      // folds per-day micro sums as days finalize and emits ONE exact
      // rational slope per key at the 10-day idle horizon (above the
      // corpus's max per-key gap, ≥ 1 day so the horizon outlasts open
      // days, and under the replay sentinel's 30-day margin so the
      // closing watermark provably arrives). BigInt in the machine where
      // batch uses DECIMAL(38); both record the moments as exact integer
      // STRINGS (the >2^53 type-faithful record), same oracle.
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"),
          (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.trendSlope(stream, idleSec = 10L * 86400L).toDF()
        }
        .select(col("key"), col("n_days"), col("slope_num"), col("slope_den"))
    }),
    "p_mixture_alloc" -> ((s, dir) => {
      // corpus-mixing plan: 30/40/20/10% of a 20k-token budget across
      // four named sources, capped at availability, exact integer keep
      // fractions for the downstream Bernoulli sampler
      Sampling.mixtureAllocation(
        Tables(s, dir).documents, col("source"), col("n_chars"),
        targetsMicro = Seq(
          "src0" -> 300000L, "src1" -> 400000L, "src2" -> 200000L, "src3" -> 100000L),
        budget = 20000L)
    }),
    "q_psi" -> ((s, dir) => {
      // PSI drift monitor: per-type value-distribution shift between
      // even and odd epoch days (the A/B slice pair), add-1 smoothed,
      // ln terms floored to micro-units — psi_micro > 250000 = the
      // classic "investigate" threshold, here engine-exact
      Stats.psiByKey(
        Tables(s, dir).events, col("event_type"), col("value"),
        expr("(unix_micros(ts) div 86400000000) % 2 = 0"), width = 50.0)
    }),
    "q_psi_stream" -> ((s, dir) => {
      // q_psi's streaming twin: the payload IS the bin (the same
      // floor(value/width) codegen'd projection as batch), the slice is
      // day parity computed in the machine; one final row per key at the
      // 10d idle horizon with the identical IEEE term tree — both twins
      // hash against the same oracle
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"),
          floor(col("value") / 50.0).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.psiSlices(stream, idleSec = 10L * 86400L).toDF()
        }
        .select(col("key"), col("n_bins"), col("psi_micro"))
    }),
    "q_cusum" -> ((s, dir) => {
      // one-sided CUSUM change-point chart over daily revenue per type:
      // s_t = max(0, s_{t-1} + (x_t - mu)), alarm when s_t exceeds one
      // full average day (h = mu) — completing the drift family (EWMA
      // smoother, PSI distribution shift, z-score/MAD point outliers)
      // with the sequential-accumulation detector; integer micro
      // recursion checked against a DuckDB RECURSIVE CTE
      Stats.cusumDaily(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    "q_cusum_stream" -> ((s, dir) => {
      // the CUSUM machine ON the stream against the batch-fitted
      // baseline: refs (mu, h per key) are a |keys|-sized driver
      // artifact — the PQ-codebook posture (a control chart's baseline
      // is a trained model, not data); each day emits as the watermark
      // finalizes it, sharing the batch oracle
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables(s, dir).events
      val refs = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * 1000000).cast("long").as("__y"))
        .groupBy(col("event_type"))
        .agg(expr("sum(__y) div count(1)").as("__mu"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(1)))
        .toMap
      val input = ev.select(
        col("event_type").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.cusumDaily(stream, refs).toDF()
        }
        .select(col("key"), col("day"), col("rev_micro"), col("cusum_micro"), col("alarm"))
    }),
    "q_corr_series" -> ((s, dir) => {
      // exact rational Pearson correlation between every pair of types'
      // daily series — corr = corr_num / sqrt(den_a*den_b), the record
      // keeps the integer moments so it hashes cross-engine (no float
      // accumulation, no sqrt)
      Stats.seriesCorrByKeyPair(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    "q_seasonal_residuals" -> ((s, dir) => {
      // day-of-week seasonal baseline: residual vs the key's own
      // weekday mean — the seasonality-aware anomaly view; exact micro
      // integers, engine-neutral (epoch-day % 7) weekday ids
      Stats.seasonalResiduals(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    "q_seasonal_residuals_stream" -> ((s, dir) => {
      // the seasonal machine ON the stream against the batch-fitted
      // weekday baseline (|keys|·7 driver artifact — the q_cusum_stream
      // posture); each day's residual emits as the watermark closes it,
      // sharing the batch oracle
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables(s, dir).events
      val refs = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * 1000000).cast("long").as("__y"))
        .withColumn("__dow", pmod(datediff(col("__day"), lit("1970-01-01")), lit(7)).cast("long"))
        .groupBy(col("event_type"), col("__dow"))
        .agg(expr("sum(__y) div count(1)").as("__mu"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val input = ev.select(
        col("event_type").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.seasonalResiduals(stream, refs).toDF()
        }
        .select(col("key"), col("day"), col("dow"), col("rev_micro"),
          col("dow_mean_micro"), col("residual_micro"))
    }),
    "p_manifest" -> ((s, dir) => {
      // per-source integrity manifest: row count, char total, and the
      // md5 of the sorted doc-id list — set-identity for corpus builds
      // (two builds made the same corpus iff the digests match)
      Sampling.groupManifest(
        Tables(s, dir).documents, col("source"), col("doc_id"), col("n_chars"))
    }),
    "p_kfold" -> ((s, dir) => {
      // deterministic 5-fold CV assignment + per-fold size audit: the
      // md5-mod fold is reproducible on any engine, so training jobs and
      // eval harnesses agree on membership with no assignment table
      Sampling.kfold(Tables(s, dir).documents, col("doc_id"), k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    }),
    "d_dedup_editdist" -> ((s, dir) => {
      // typo-grade near-dup: all pairs at edit distance <= 8. THE ANCHOR
      // IS THE SCALE PLAN (round-10 swap, the d_cluster_sizes precedent):
      // collapse byte-identical copies to representatives first, run the
      // LOSSLESS prefix-filtered positional q-gram join + levenshtein
      // verify over reps only, expand rep pairs by group membership and
      // append within-group pairs at distance 0 — set-identical to the
      // raw form (exact copies have distance 0 and identical distances
      // to everything else), but the duplication blow-up lands on the
      // true output pairs instead of the candidate join (raw form killed
      // at 25 min on the duplication-heavy 10x corpus; docs/SCALE.md)
      Dedup.editDistancePairsViaReps(
        Tables(s, dir).documents, col("doc_id"), col("text"), t = 8, q = 4)
    }),
    "d_dedup_editdist_raw" -> ((s, dir) => {
      // the non-composed form, kept ONLY as the small-scale oracle
      // cross-check of the composed anchor above (the oracle is the
      // definition itself: plain N2 + length window in DuckDB; equality
      // proves the blocking lossless)
      Dedup.editDistancePairs(
        Tables(s, dir).documents, col("doc_id"), col("text"), t = 8, q = 4)
    }),
    "p_negatives" -> ((s, dir) => {
      // contrastive negative sampling: 3 deterministic hash-ring
      // negatives per doc, guaranteed != anchor; md5 ring so the draw
      // replays on any engine
      Sampling.negativeSamples(Tables(s, dir).documents, col("doc_id"), k = 3)
    }),
    "s_rrf_fusion" -> ((s, dir) => {
      // hybrid-retrieval merge: reciprocal-rank fusion of two term
      // rankings — rank-only combination (no score calibration), exact
      // integer 1e6/(60+rank) contributions, top-20
      val d = Tables(s, dir).documents
      TextOps.rrfFuse(Seq(
        TextOps.termTfRanking(d, col("doc_id"), col("text"), "spark"),
        TextOps.termTfRanking(d, col("doc_id"), col("text"), "window")))
    }),
    "s_boolean_search" -> ((s, dir) => {
      // conjunctive boolean retrieval: docs containing ALL of
      // {dup, spark, window} with summed tf — the postings-intersection
      // plan (token stream pruned to query terms before any exchange)
      TextOps.conjunctiveSearch(
        Tables(s, dir).documents, col("doc_id"), col("text"),
        Seq("dup", "spark", "window"))
    }),
    "s_phrase_search" -> ((s, dir) => {
      // positional phrase retrieval: docs containing the exact token
      // sequence "fast spark" with occurrence count + first position —
      // scan-bound, zero-shuffle (the adjacency test runs inside one
      // codegen'd HOF per row)
      TextOps.phraseSearch(
        Tables(s, dir).documents, col("doc_id"), col("text"), Seq("fast", "spark"))
    }),
    "s_mmr" -> ((s, dir) => {
      // diversity re-rank: MMR over the top-50 exact-cosine pool,
      // lambda=0.7, k=5. ORACLE-CHECKED since round 9: with k fixed the
      // greedy argmax unrolls into 5 chained SQL selection steps on the
      // same integer-quantized basis (sMmrSql); MmrSpec additionally
      // gates first-pick = top-1, subset-of-pool, determinism, and
      // measured redundancy reduction.
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.mmrRerank(v, v.filter(col("id") < 10), k = 5, poolSize = 50)
    }),
    "p_dsir" -> ((s, dir) => {
      // DSIR importance weights: log-likelihood ratio of an en-target
      // unigram LM vs the raw-corpus LM, integer-floored per-word terms
      // (one corpus scan; both models from the same tf aggregate)
      TextOps.dsirWeights(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("lang") === "en")
    }),
    "p_dsir_resample" -> ((s, dir) => {
      // DSIR composed end-to-end (round 12): the weights feed the actual
      // resampling draw — exp(mean per-token llr) floored to an integer
      // 1e-6 grid, normalized by the corpus mean weight (exact integer
      // sum + 1-row broadcast), min(1, 0.25·w/mean) inclusion
      // probability, then the same md5 Bernoulli decision as p_sample —
      // so the kept set replays exactly in SQL
      TextOps.dsirResample(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("lang") === "en",
        keepFraction = 0.25)
    }),
    "t_entropy" -> ((s, dir) => {
      // char-unigram Shannon entropy per doc (micro-nats): the
      // compression-style quality signal, integer-floored ln terms so the
      // record is engine-exact
      TextOps.charEntropySignals(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    "t_normalize" -> ((s, dir) => {
      // NFC canonical composition via the native codegen'd expression —
      // run BEFORE fingerprint/dedup so 'é' and 'e'+U+0301 collapse; the
      // salt plants a combining sequence on every doc so the op does real
      // work (corpus text is ASCII), md5 pins the normalized bytes
      val salted = concat(
        col("text"), lit(" caf"), lit("e\u0301"), lit(" No"),
        pmod(col("doc_id"), lit(7)).cast("string"))
      val norm = org.apache.spark.sql.graft.TextFunctions.nfcNormalize(salted)
      Tables(s, dir).documents.select(
        col("doc_id"),
        md5(norm).as("norm_md5"),
        length(salted).cast("long").as("n_raw"),
        length(norm).cast("long").as("n_nfc"))
    }),
    "t_langid" -> ((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
    }),
    "t_langid_model" -> ((s, dir) => {
      // corpus-trained char-trigram classifier over the labeled lang
      // column (integer votes against top-50 per-language profiles) —
      // the model-based counterpart of t_langid's stopword heuristic
      TextOps.charNgramLangId(
        Tables(s, dir).documents, col("doc_id"), col("text"), col("lang"))
    }),
    "t_repetition" -> ((s, dir) => {
      // within-doc repetition: 1 - distinct/total word trigrams (the
      // boilerplate/spam signal a quality filter thresholds on); the
      // codegen'd shingle-row aggregate, not the interpreted array form
      TextOps.repetitionSignals(
        Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    "t_fingerprint" -> ((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    }),
    "t_pii" -> ((s, dir) => {
      // scrub-audit over documents with deterministically planted PII
      // (the corpus itself is digit-free word soup): both engines build
      // the identical salted string, then count + redact each pattern in
      // PiiPatterns order
      val salted = Tables(s, dir).documents.withColumn("salted", piiSaltedText)
      TextOps
        .piiSignals(salted, col("salted"))
        .select(
          col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          md5(col("redacted")).as("redacted_md5"))
    }),
    "t_doc_freq" -> ((s, dir) => {
      // corpus vocabulary head: 100 most document-frequent tokens.
      // orderBy+limit plans as TakeOrderedAndProject (per-partition
      // top-100, driver merge); rank over the 100 survivors comes from a
      // broadcast self-join count, not a partitionless window — same
      // result, no single-partition WindowExec (and no Spark warning)
      val top100 = TextOps
        .docFrequency(Tables(s, dir).documents, col("doc_id"), col("text"))
        .orderBy(col("df").desc, col("token").asc)
        .limit(100)
      val ahead = top100.select(col("token").as("b_token"), col("df").as("b_df"))
      top100
        .join(
          broadcast(ahead),
          col("b_df") > col("df") ||
            (col("b_df") === col("df") && col("b_token") < col("token")),
          "left")
        .groupBy(col("token"), col("df"))
        .agg((count(col("b_token")) + 1).as("rank"))
        .select(col("token"), col("df"), col("rank"))
    }),
    "t_unigram_lm" -> ((s, dir) => {
      // corpus-trained add-1 unigram LM score per doc (the CCNet-style
      // quality filter): integer outputs — per-token log-probs floored
      // to 1e-6 ints before the weighted sum, so no double-sum ordering
      Tables(s, dir).documents
        .transform(d => TextOps.unigramLogProb(d, col("doc_id"), col("text")))
        .select(col("doc_id"), col("logprob_1e6"), col("n_tokens"))
    }),
    "t_bigram_lm" -> ((s, dir) => {
      // corpus-trained add-1 BIGRAM LM score per doc — the conditional
      // next step of t_unigram_lm's quality ladder, same integer-floored
      // term discipline
      Tables(s, dir).documents
        .transform(d => TextOps.bigramLogProb(d, col("doc_id"), col("text")))
        .select(col("doc_id"), col("logprob2_1e6"), col("n_bigrams"))
    }),
    "t_pmi_bigrams" -> ((s, dir) => {
      // top-100 collocations by PMI (min pair count 5), ranked on the
      // 1e-4-floored score which stays OUT of the output (same one-ulp
      // discipline as t_tfidf); rank from a broadcast self-join over the
      // 100 survivors, not a partitionless window
      val top = TextOps.pmiCollocations(
        Tables(s, dir).documents, col("doc_id"), col("text"), minCount = 5L, k = 100)
      val ahead = top.select(
        col("w1").as("b_w1"), col("w2").as("b_w2"), col("score_1e4").as("b_s"))
      top
        .join(
          broadcast(ahead),
          col("b_s") > col("score_1e4") ||
            (col("b_s") === col("score_1e4") &&
              (col("b_w1") < col("w1") ||
                (col("b_w1") === col("w1") && col("b_w2") < col("w2")))),
          "left")
        .groupBy(col("w1"), col("w2"), col("n_xy"))
        .agg((count(col("b_w1")) + 1).as("rank"))
        .select(col("w1"), col("w2"), col("n_xy"), col("rank"))
    }),
    "t_tfidf" -> ((s, dir) => {
      // top-5 TF-IDF keywords per doc; ranked internally on the 1e-4
      // floored score, but the score itself stays OUT of the compared
      // output: its floored value can flip if Spark's and DuckDB's ln
      // differ by one ulp exactly at a 1e-4 boundary (rank is safe — a
      // one-ulp wobble only reorders exact mathematical ties, which the
      // floor already buckets together)
      TextOps
        .tfidfTopTerms(Tables(s, dir).documents, col("doc_id"), col("text"), k = 5)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rank"))
    }),

    // ---- similarity search ----
    "s_knn_brute" -> ((s, dir) => {
      val v = embeddingsIdVec(Tables(s, dir))
      Similarity.bruteForceTopK(v, v.filter(col("id") < 10), k = 5)
    }),
    "s_knn_lsh" -> ((s, dir) => {
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
    "s_knn_ivf" -> ((s, dir) => {
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

    "s_knn_pq" -> ((s, dir) => {
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
    "s_knn_binary" -> ((s, dir) => {
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

    "e_centroids" -> ((s, dir) => {
      // per-label centroid vectors (cluster prototypes): one aggregated
      // exchange at (label, dim) grain; 1e-6 element flooring keeps the
      // sum order-independent and engine-exact
      Embeddings.centroidByKey(
        Tables(s, dir).embeddings, col("label"), col("embedding"))
        .select(col("key").as("label"), col("pos"), col("mean_v"))
    }),
    "e_kmeans_fit" -> ((s, dir) => {
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
    "e_cluster_sample" -> ((s, dir) => {
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
    "e_quantize_int8" -> ((s, dir) => {
      // symmetric int8 quantization of the embedding store, pinned
      // element-exactly via the md5 digest of the quantized vector
      Embeddings.quantizeInt8Digest(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"), col("q_md5"), col("q_min"), col("q_max"),
          col("q_sum"), col("q_nnz"))
    }),
    "e_pca" -> ((s, dir) => {
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
    "e_whiten" -> ((s, dir) => {
      // whitened PCA projection (unit variance per retained direction —
      // the preprocessing that makes cosine/L2 treat every direction
      // equally before SemDeDup/ANN). Same gates as e_pca plus the
      // unit-variance check in PcaSpec.
      val e = Tables(s, dir).embeddings
      val b = Embeddings.pcaBasis(e, col("embedding"), k = 8)
      Embeddings.pcaProjectDigest(e, col("vec_id"), col("embedding"), b, whiten = true)
        .select(col("id").as("vec_id"), col("proj_md5"), col("k"), col("sq_norm_micro"))
    }),
    "e_jl_project" -> ((s, dir) => {
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
    "e_truncate" -> ((s, dir) => {
      // matryoshka truncate-to-16 + L2 renorm: the MRL serving trick
      // (k/dim ANN cost cut); digest pins every renormalized element
      Embeddings.truncateRenormDigest(
        Tables(s, dir).embeddings, col("vec_id"), col("embedding"), k = 16)
        .select(col("id").as("vec_id"), col("proj_md5"), col("k"),
          col("sq_norm_micro"))
    }),
    "t_len_quantiles_approx" -> ((s, dir) => {
      // the declared 100 TB quantile path (percentile_approx sketch, no
      // per-key sort) on the correctness record: at gate scale every
      // key's N is far below the sketch accuracy, so the sketch is
      // loss-free and the row shares the EXACT type-1 oracle — the
      // approximation only begins past N ~ accuracy (rank error
      // N/accuracy), which is the documented trade
      val d = Tables(s, dir).documents
        .select(TextOps.langId(col("text")).as("lang"), TextOps.tokenCount(col("text")).cast("long").as("n"))
      Stats.approxQuantilesByKey(d, col("lang"), col("n"), Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("key").as("lang_pred"), col("p"), col("value").as("n_tokens"))
    }),
    "t_len_quantiles" -> ((s, dir) => {
      // exact type-1 token-length quantiles per predicted language —
      // the filter-threshold view of the corpus; approx_percentile is
      // the documented 100 TB path (Stats.quantilesByKey scaladoc)
      val d = Tables(s, dir).documents
        .select(TextOps.langId(col("text")).as("lang"), TextOps.tokenCount(col("text")).cast("long").as("n"))
      Stats.quantilesByKey(d, col("lang"), col("n"), Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("key").as("lang_pred"), col("p"), col("value").as("n_tokens"))
    }),
    "t_heavy_tokens" -> ((s, dir) => {
      // bounded-memory heavy hitters, SKETCH-THEN-VERIFY (round-9
      // redefinition): Misra–Gries (k=64) finds the ≤64 candidate tokens
      // in one bounded-memory pass, then ONE more bounded pass (broadcast
      // semi-join on the candidate set) counts those candidates exactly,
      // keeping tokens with true freq·65 > N. MG's deterministic
      // guarantee (every token with freq > N/(k+1) survives the sketch)
      // makes the RESULT exact and merge-order independent — so the query
      // is oracle-checked, while the raw (order-dependent) MG estimates
      // stay gated in ApproxGatesSpec. This is also the honest 100 TB
      // shape: sketch for candidates, exact-verify the bounded set.
      val toks = Tables(s, dir).documents
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      val cand = toks
        .agg(HeavyHitters.heavyHitters(col("token"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e._1").as("token"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks
        .join(broadcast(cand), "token")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * 65 > col("n_total"))
        .select(col("token"), col("cnt"), col("n_total"))
    }),
    "t_bm25" -> ((s, dir) => {
      // BM25 (doc, term) relevance for the 20 highest-DF terms: tf
      // saturation + length normalization, the retrieval scorer TF-IDF
      // lacks; k1=1.25 / b=0.75 are exact binary doubles so only ln is
      // inexact, and the 1e-4 floor hides its last ulp
      TextOps.bm25PerTerm(Tables(s, dir).documents, col("doc_id"), col("text"), 20)
    }),
    "t_calibrate" -> ((s, dir) => {
      // cross-source score calibration: each doc's length mapped to its
      // in-source percent rank, so one global cutoff means the same
      // thing in every stratum
      Stats
        .percentRankByKey(
          Tables(s, dir).documents.select(col("doc_id"), col("source"), col("n_chars")),
          col("source"), col("n_chars"))
    }),
    "t_length_filter" -> ((s, dir) => {
      // corpus trim: keep docs inside each source's own [p05, p95]
      // char-length band — drops truncated fragments and concatenation
      // monsters per stratum; bounds broadcast, corpus never shuffles
      Stats
        .filterByKeyQuantiles(
          Tables(s, dir).documents, col("source"), col("n_chars"), 0.05, 0.95)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // ---- multimodal plumbing ----
    "m_binary_meta" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal
        .imageMetaStub(docs, col("payload"))
        .select(
          col("doc_id"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("digest"),
          (lit(64L) + pmod(col("n_bytes").cast("long"), lit(960L))).as("width"),
          (lit(64L) + pmod(col("n_bytes").cast("long") * 7, lit(960L))).as("height"),
          lit(3).as("channels"))
    }),
    "m_exif_meta" -> ((s, dir) => {
      // REAL TIFF IFD walk (JPEG APP1/Exif): orientation + pixel dims,
      // alternating byte order by doc parity so the parser proves BOTH
      // endiannesses — payloads synthesized in-plan, oracle predicts
      // arithmetically (the m_image_meta discipline)
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal.syntheticExifPayload(
          (col("doc_id") % 8 + 1).cast("int"),
          lit(64L) + col("doc_id") % 2000,
          lit(64L) + (col("doc_id") * 3) % 2000,
          col("doc_id") % 2 === 0).as("payload"))
      Multimodal
        .exifMeta(docs, col("payload"))
        .select(
          col("doc_id"), col("endian"),
          col("orientation").cast("long").as("orientation"),
          col("exif_w").cast("long").as("exif_w"),
          col("exif_h").cast("long").as("exif_h"))
    }),
    "m_image_meta" -> ((s, dir) => {
      // REAL header parse (PNG IHDR / JPEG SOFn scan / GIF screen
      // descriptor): payloads are synthesized in-plan with genuine
      // container headers whose dims are doc_id arithmetic, so the DuckDB
      // oracle predicts the parse without any image library — and the
      // parser still has to walk the actual byte layouts to match.
      val fmt = element_at(
        array(lit("png"), lit("jpeg"), lit("gif")), (col("doc_id") % 3 + 1).cast("int"))
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal.syntheticImagePayload(
          fmt, lit(64L) + col("doc_id") % 960, lit(64L) + (col("doc_id") * 7) % 960)
          .as("payload"))
      Multimodal
        .imageMeta(docs, col("payload"))
        .select(
          col("doc_id"),
          col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),
    "m_frames" -> ((s, dir) => {
      // frame-sampling plumbing on the record: every-3rd frame index of a
      // doc_id-derived frame count — the explode runs BEFORE any decode,
      // so a real decoder touches only sampled frames
      val docs = Tables(s, dir).documents.select(
        col("doc_id"), (lit(1L) + col("doc_id") % 50).cast("int").as("n_frames"))
      Multimodal
        .sampleFrames(docs, everyNth = 3, col("n_frames"))
        .select(
          col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))
    }),
    "m_audio_meta" -> ((s, dir) => {
      // REAL RIFF/WAVE header parse (chunk walk → fmt + data size):
      // payloads are synthesized in-plan with genuine chunk layouts —
      // half front-loaded with a JUNK alignment chunk — whose PCM shape
      // is doc_id arithmetic, so the DuckDB oracle predicts the parse
      // without any audio library, and the parser still has to walk the
      // actual chunk list to match.
      val channels = (lit(1L) + col("doc_id") % 2).cast("int")
      val rate = element_at(
        array(lit(8000), lit(16000), lit(44100)), (col("doc_id") % 3 + 1).cast("int"))
      val nSamples = (lit(1000L) + col("doc_id") % 4000).cast("int")
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal
          .syntheticWavPayload(channels, rate, lit(16), nSamples, col("doc_id") % 2 === 0)
          .as("payload"))
      Multimodal
        .audioMeta(docs, col("payload"))
        .select(
          col("doc_id"),
          col("format"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("bits").cast("long").as("bits"),
          col("n_samples"),
          col("duration_ms"))
    }),
    "m_video_meta" -> ((s, dir) => {
      // REAL ISO BMFF box walk (ftyp → moov → mvhd + trak count):
      // payloads are synthesized in-plan with genuine nested box layouts
      // whose movie-header fields are doc_id arithmetic, so the DuckDB
      // oracle predicts the parse without any video library.
      val timescale = element_at(
        array(lit(600), lit(1000), lit(90000)), (col("doc_id") % 3 + 1).cast("int"))
      val duration = ((col("doc_id") + 1) * 30).cast("int")
      val nTracks = (lit(1L) + col("doc_id") % 3).cast("int")
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal.syntheticMp4Payload(timescale, duration, nTracks).as("payload"))
      Multimodal
        .videoMeta(docs, col("payload"))
        .select(
          col("doc_id"),
          col("format"),
          col("timescale").cast("long").as("timescale"),
          col("duration"),
          col("duration_ms"),
          col("n_tracks").cast("long").as("n_tracks"))
    }),
    "t_vocab" -> ((s, dir) => {
      // Gopher-family lexical diversity: type-token ratio + share of the
      // most frequent token (exact integer counts, single IEEE divisions)
      TextOps.vocabSignals(Tables(s, dir).documents, col("doc_id"), col("text"))
    }),
    "d_keep_best" -> ((s, dir) => {
      // near-dup removal with production keep semantics: per cluster keep
      // the highest-token-count doc (tie → min doc_id), not the min-id
      // one; lossless pair mode so the keep-list is exactly
      // oracle-checkable
      Dedup
        .dropNearDuplicatesKeepBest(
          Tables(s, dir).documents, col("doc_id"), col("text"),
          quality = TextOps.tokenCount(col("text")),
          shingleLen = 3, threshold = 0.6, losslessPairs = true)
        .select(col("doc_id"))
    }),
    "q_salted_join" -> ((s, dir) => {
      // the same enrichment as q_enrich but through the SALTED shuffle
      // join — the 100 TB fallback when the dim outgrows broadcast and a
      // hot user overflows its reducer; semantics identical to the plain
      // join (same oracle as q_enrich), plan pinned shuffled+salted in
      // PlanQualitySpec
      val t = Tables(s, dir)
      Joins.saltedJoin(
          t.events, t.customer,
          col("user_id"), col("c_custkey"), col("event_id"), buckets = 8)
        .groupBy(window(col("ts"), "1 hour"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          col("window.start").as("window_start"),
          col("c_nationkey").cast("long").as("nation"),
          col("cnt"))
    }),
    "q_transitions" -> ((s, dir) => {
      // first-order Markov transition counts over each user's event
      // sequence (total order (ts, event_id)) — the path-mining view of
      // t_user_sequences; per-user window sort then one tiny agg at
      // (from,to) grain
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_enrich" -> ((s, dir) => {
      // dimension enrichment: events x customer (broadcast dim), hourly
      // per-nation counts — the lookup-join shape every pipeline needs;
      // the fact stream never shuffles before its aggregate
      val t = Tables(s, dir)
      t.events
        .join(broadcast(t.customer), col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          col("window.start").as("window_start"),
          col("c_nationkey").cast("long").as("nation"),
          col("cnt"))
    }),
    "q_enrich_stream" -> ((s, dir) => {
      // stream-static form of q_enrich: the replayed stream broadcast-
      // joins the static dimension, then a watermarked windowed count.
      // The sentinel registers its timestamp at the watermark node BELOW
      // the join (only isnotnull pushes past it, which the sentinel key
      // passes), so windows finalize even though no sentinel row survives
      // the inner join.
      val t = Tables(s, dir)
      val dim = t.customer.select(
        col("c_custkey").cast("string").as("ckey"), col("c_nationkey").as("nation"))
      val input = t.events.select(
        col("user_id").cast("string").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"))
      Replay.keyedEvents(input) { stream =>
        stream.toDF()
          .withWatermark("ts", "0 seconds")
          .join(broadcast(dim), col("key") === col("ckey"))
          .groupBy(window(col("ts"), "1 hour"), col("nation"))
          .agg(count(lit(1)).as("cnt"))
          .select(
            col("window.start").as("window_start"),
            col("nation").cast("long").as("nation"),
            col("cnt"))
      }
    }),
    "q_channel_stats_stream" -> ((s, dir) => {
      // A5 streaming: daily (channel,behavior) counts. The composite
      // grouping key — including the JSON-extracted bucket, with 'n'
      // marking null — is packed into the replay key column and unpacked
      // batch-side; sentinel rows flow through the aggregate (conditional
      // count, q_pv_hourly_stream pattern) and drop as zero-count groups.
      val input = Tables(s, dir).events
        .withColumn("k_bucket", get_json_object(col("props"), "$.k").cast("long") % 10)
        .select(
          concat_ws("|", col("event_type"),
            coalesce(col("k_bucket").cast("string"), lit("n"))).as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      Replay
        .keyedEvents(input) { stream =>
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 day"), col("key"))
            .agg(count(when(col("kind") =!= Replay.Sentinel, 1)).as("cnt"))
            .select(col("window.start").as("window_start"), col("key"), col("cnt"))
        }
        .filter(col("cnt") > 0)
        .withColumn("__p", split(col("key"), "\\|"))
        .select(
          col("window_start"),
          col("__p").getItem(0).as("event_type"),
          when(col("__p").getItem(1) === "n", lit(null))
            .otherwise(col("__p").getItem(1)).cast("long").as("k_bucket"),
          col("cnt"))
    }),
    "q_histogram_stream" -> ((s, dir) => {
      // q_histogram's streaming twin at daily grain: per-(type, bin)
      // counts from watermark-finalized tumbling day windows. The bin is
      // a per-row projection, so it is computed replay-side and packed
      // into the key (q_channel_stats_stream pattern); sentinel rows flow
      // through the conditional count and drop as zero groups.
      val input = Tables(s, dir).events
        .select(
          concat_ws("|", col("event_type"),
            floor(col("value") / 50.0).cast("long").cast("string")).as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      Replay
        .keyedEvents(input) { stream =>
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 day"), col("key"))
            .agg(count(when(col("kind") =!= Replay.Sentinel, 1)).as("cnt"))
            .select(col("window.start").as("window_start"), col("key"), col("cnt"))
        }
        .filter(col("cnt") > 0)
        .withColumn("__p", split(col("key"), "\\|"))
        .select(
          col("window_start"),
          col("__p").getItem(0).as("event_type"),
          col("__p").getItem(1).cast("long").as("bin"),
          col("cnt"))
    }),
    "q_moving_avg_stream" -> ((s, dir) => {
      // q_moving_avg's streaming twin: the dailyMovingStats machine folds
      // exact micro sums per (type, day), finalizes each day in order
      // when the watermark passes its end, and carries the trailing
      // 7-day window + running total in O(window) state. The replay
      // input pre-converts value through the SAME decimal(18,6) cast as
      // the batch aggregate, so streamed long sums equal the batch
      // decimal sums bit-for-bit; the final double divisions mirror the
      // batch cast/divide operand-for-operand.
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"),
          (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.dailyMovingStats(stream, window = 7).toDF()
        }
        .select(
          col("day"),
          col("key").as("event_type"),
          (col("rev_micro").cast("double") / 1e6).as("daily_rev"),
          ((col("ma_num_micro").cast("double") / 1e6) / col("ma_cnt")).as("ma7"),
          (col("cum_micro").cast("double") / 1e6).as("cum_rev"))
    }),
    "q_semi_join_stream" -> ((s, dir) => {
      // STREAM-STATIC left_semi: daily count of events from the static
      // top-50 power-user set. The dim carries the sentinel key too, so
      // the sentinel reaches the conditional aggregate and the final day
      // still finalizes (Replay's pushdown rule, applied to joins that
      // would otherwise drop it)
      val s2 = s
      import s2.implicits._
      val power = TopN
        .perPartition(
          Tables(s, dir).events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt")),
          Seq(lit(1)), Seq(col("cnt").desc, col("user_id").asc), 50)
        .select(col("user_id").cast("string").as("pu"))
        .union(Seq(Replay.Sentinel).toDF("pu"))
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .join(broadcast(power), col("key") === col("pu"), "left_semi")
            .groupBy(window(col("ts"), "1 day"))
            .agg(count(when(col("kind") =!= Replay.Sentinel, 1)).as("cnt"))
            .select(col("window.start").as("window_start"), col("cnt"))
        }
        .filter(col("cnt") > 0)
    }),
    "q_range_join_stream" -> ((s, dir) => {
      // q_range_join's streaming form at daily grain: STREAM-STATIC
      // non-equi join — the replayed event stream joins the broadcast
      // tier dimension on the band predicate (BroadcastNestedLoopJoin
      // inside a streaming micro-batch), then a watermark-finalized
      // daily (tier) aggregation. Band bounds compare in exact micro
      // units (values are 2-dp, so the decimal(18,6)→micro conversion is
      // lossless and band membership matches the batch double compare).
      val s2 = s
      import s2.implicits._
      val tiers = Seq(
        ("low", 0L, 50000000L), ("mid", 50000000L, 150000000L),
        ("high", 150000000L, 1000000000000000000L))
        .toDF("tier", "lo_micro", "hi_micro")
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"),
          (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          // the sentinel must FLOW THROUGH the watermark node and the
          // join into the aggregate (a pre-agg filter gets pushed below
          // EventTimeWatermark and the last day never finalizes): its
          // value-0 row lands in 'low' for its far-future day, dies in
          // the conditional agg, and the cnt=0 group drops post-replay
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .join(broadcast(tiers),
              col("value") >= col("lo_micro") && col("value") < col("hi_micro"))
            .groupBy(window(col("ts"), "1 day"), col("tier"))
            .agg(
              count(when(col("kind") =!= Replay.Sentinel, 1)).as("cnt"),
              sum(when(col("kind") =!= Replay.Sentinel, col("value"))).as("__rev"))
            .select(col("window.start").as("window_start"), col("tier"),
              col("cnt"), col("__rev"))
        }
        .filter(col("cnt") > 0)
        .select(col("window_start"), col("tier"), col("cnt"),
          (col("__rev").cast("double") / 1e6).as("rev"))
    }),
    "q_scd2_stream" -> ((s, dir) => {
      // q_scd2's streaming form: each change closes the previous version
      // as soon as the watermark proves order; the open version emits
      // with null valid_to after the idle horizon (10 d > the corpus's
      // ~4 d max per-key gap, < the sentinel's 30 d advance — the
      // eventSequences horizon discipline). Same oracle as batch.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          StateMachines.scdHistory(stream, idleSec = 10L * 86400).toDF()
        }
        .select(
          col("key").cast("long").as("user_id"),
          col("id").cast("long").as("event_id"),
          col("kind").as("event_type"),
          col("valid_from"),
          col("valid_to"))
    }),
    "q_movers_stream" -> ((s, dir) => {
      // q_movers' streaming form: the SAME dailyMovingStats machine
      // carries the previous present-day sum, so each finalized day
      // emits its exact delta; the top-10 shortlist is a TakeOrdered
      // over the machine's (already daily-grain) output — shares the
      // batch oracle
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"),
          (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.dailyMovingStats(stream, window = 7).toDF()
        }
        .filter(col("prev_micro").isNotNull)
        .select(col("key"), col("day"), col("rev_micro"),
          (col("rev_micro") - col("prev_micro")).as("delta_micro"))
        .orderBy(abs(col("delta_micro")).desc, col("key").asc, col("day").asc)
        .limit(10)
    }),
    "q_uv_sketch_stream" -> ((s, dir) => {
      // q_uv_sketch's streaming form: daily per-type register sketches
      // built BY THE STREAM (watermark-finalized day windows, one
      // streaming agg to (window, key, bucket) grain), then max-merged
      // to per-type totals post-replay — the ingest half of the sketch
      // store running as a streaming job, the rollup half as the cheap
      // batch merge it exists to enable. PORTABLE-REGISTER HLL since
      // round 10: registers are insertion- and merge-order independent,
      // so the stream twin SHARES q_uv_sketch's oracle and both are
      // hash-checked. The user id hashes to (bucket, rho) BEFORE the
      // stateful agg — state is ≤1024 registers per (window, key), not
      // the id set.
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("user_id").cast("string").as("id"))
      val streamed = Replay
        .keyedEvents(input) { stream =>
          val h = when(col("kind") =!= Replay.Sentinel,
            graft.ops.Sketches.md5h48(col("id")))
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .groupBy(
              window(col("ts"), "1 day"),
              col("key"),
              graft.ops.Sketches.hllBucket(h, 10).as("bucket"))
            .agg(max(graft.ops.Sketches.hllRho(h, 10)).cast("long").as("register"))
            .select(col("key"), col("window.start").as("day"),
              col("bucket"), col("register"))
        }
        .filter(col("key") =!= Replay.Sentinel && col("register").isNotNull)
        // two consumers (merge + stored-sketch count) self-join below;
        // cut the replayed lineage so the analyzer sees fresh refs
        .localCheckpoint()
      val merged = streamed.groupBy(col("key"), col("bucket"))
        .agg(max(col("register")).as("register"))
      val nb = streamed.select(col("key"), col("day")).distinct()
        .groupBy(col("key")).agg(count(lit(1)).as("n_buckets"))
      Sketches.portableHllEstimate(merged, Seq(col("key")))
        .join(nb, "key")
        .select(col("key"), col("n_buckets"), col("uv_est"))
    }),
    "q_ewma_stream" -> ((s, dir) => {
      // q_ewma_daily's streaming twin: the SAME dailyMovingStats machine
      // carries the integer halving recursion across finalized days —
      // order-dependent state a windowed agg cannot express, exact under
      // jitter because days finalize strictly chronologically
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"),
          (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("value"))
      Replay
        .keyedValueEvents(input) { stream =>
          StateMachines.dailyMovingStats(stream, window = 7).toDF()
        }
        .select(
          col("key").as("event_type"), col("day"),
          col("rev_micro"), col("ewma_micro"))
    }),
    "q_latest_snapshot_stream" -> ((s, dir) => {
      // q_latest_snapshot's streaming form at daily grain: the CLOSING
      // per-user snapshot pointer of each day, finalized when the
      // watermark passes the day — max(struct(ts, zero-padded id)) is
      // the argmax under (ts, event_id) ordering, so the winner matches
      // the batch keep-latest tie-break exactly. Sentinels flow through
      // the watermark, die in the conditional max (null ignored), and
      // their all-null groups drop on the filter.
      val input = Tables(s, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          lpad(col("event_id").cast("string"), 12, "0").as("id"))
      Replay
        .keyedEvents(input) { stream =>
          stream.toDF()
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 day"), col("key"))
            .agg(max(when(col("kind") =!= Replay.Sentinel,
              struct(col("ts"), col("id")))).as("__latest"))
            .select(col("window.start").as("window_start"), col("key"), col("__latest"))
        }
        .filter(col("__latest").isNotNull)
        .select(
          col("window_start"),
          col("key").cast("long").as("user_id"),
          col("__latest.ts").as("ts"),
          col("__latest.id").cast("long").as("event_id"))
    }),
    "q_hot_items_stream" -> ((s, dir) => {
      // T1 streaming, two-stage (round 12 — the reference's own dataflow,
      // HotItemApp.java:62 aggregate before :64 keyBy(windowEnd)): a
      // watermark-final built-in (window, item) count (partial combine
      // before its shuffle) feeds the window-keyed collector, so the
      // second exchange and the collector's state carry one row per
      // DISTINCT item, never raw events — same oracle as the batch pane
      // formulation. User ids zero-padded so the collector's
      // lexicographic tie-break equals the oracle's numeric ordering.
      val input = Tables(s, dir).events
        .filter(col("event_type") === "click")
        .select(
          lpad(col("user_id").cast("string"), 12, "0").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      Replay.keyedEvents(input) { stream =>
        StateMachines
          .windowTopN(stream, sizeUs = 3600000000L, slideUs = 300000000L, n = 5)
          .toDF()
          .select(
            col("window_start"),
            col("item").cast("long").as("user_id"),
            col("cnt"),
            col("rank"))
      }
    }),
    "q_hot_pages_stream" -> ((s, dir) => {
      // T2 streaming: same two-stage plan as q_hot_items_stream over
      // 30m/10m windows keyed by event_type (URL stand-in), top-3 — the
      // HotUrl variant; ASCII keys, so the collector's lexicographic
      // tie-break equals the oracle's string ordering directly
      val input = Tables(s, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          lit("page").as("kind"),
          col("event_id").cast("string").as("id"))
      Replay.keyedEvents(input) { stream =>
        StateMachines
          .windowTopN(stream, sizeUs = 1800000000L, slideUs = 600000000L, n = 3)
          .toDF()
          .select(
            col("window_start"),
            col("item").as("event_type"),
            col("cnt"),
            col("rank"))
      }
    }),
    "q_retention" -> ((s, dir) => {
      // cohort retention matrix: users grouped by first-seen date, active
      // count per (cohort, day offset). TWO exchanges total: one per-user
      // aggregate carries cohort + the distinct active-day set together
      // (collect_set instead of a separate DISTINCT + join, which costs
      // three), then the (cohort, day_n) count — after the explode each
      // (user, day) is unique, so count(1) IS count-distinct-users.
      // collect_set memory is O(active days per user), calendar-bounded.
      val e = Tables(s, dir).events
        .select(col("user_id"), to_date(col("ts")).as("d"))
      e.groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort"), collect_set(col("d")).as("__days"))
        .select(col("cohort"), explode(col("__days")).as("d"))
        .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_n"))
        .agg(count(lit(1)).as("n_active"))
    }),
    "q_funnel" -> ((s, dir) => {
      // 3-step conversion funnel (view → click → purchase within 1 day
      // of the first view): greedy earliest chain per user, one exchange,
      // no per-step self-joins
      val e = Tables(s, dir).events
      Sequences.funnel(
        e, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"), 86400L)
        .select(col("key").as("user_id"), col("n_reached"),
          col("ts_first"), col("ts_reached"))
    }),
    "t_user_sequences" -> ((s, dir) => {
      // training-sequence construction: each user's chronological event
      // history, capped at 50 events, as a portable '|'-joined string;
      // n_events keeps the pre-cap count visible
      val e = Tables(s, dir).events
      Sequences.eventSequences(
        e, col("user_id"), col("ts"), col("event_id"), col("event_type"), 50)
        .select(col("key").as("user_id"), col("n_events"), col("sequence"))
    }),
    "q_dedup_stream" -> ((s, dir) => {
      // streaming exact dedup: Structured Streaming's dropDuplicates —
      // THE ingestion-dedup op (state = seen keys, every first arrival
      // emitted immediately in append mode, duplicates across micro-
      // batches dropped by the state store). The output is the KEY SET:
      // which physical row arrives first per key depends on partition
      // scheduling, so emitting payload columns would be nondeterministic
      // — the key set equals the DISTINCT oracle exactly. Scale posture:
      // state grows with distinct keys; bound it with
      // dropDuplicatesWithinWatermark when keys recur only within a
      // horizon, or dedup at rest (d_dedup_exact) otherwise.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          stream.toDF()
            .dropDuplicates("key", "kind")
            .select(col("key"), col("kind"))
        }
        .filter(col("key") =!= Replay.Sentinel)
        .select(col("key").cast("long").as("user_id"), col("kind").as("event_type"))
    }),
    "q_funnel_stream" -> ((s, dir) => {
      // watermark-driven funnel: each user's row emits (final) once the
      // watermark passes first-view + 1 day; same chain CTEs as q_funnel
      import s.implicits._
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          StateMachines.funnel(stream, Seq("view", "click", "purchase"), 86400L).toDF()
        }
        .select(
          col("key").cast("long").as("user_id"),
          col("n_reached"),
          col("ts_first"),
          col("ts_reached"))
    }),
    "q_retention_stream" -> ((s, dir) => {
      // streaming twin of q_retention: the state machine emits one FINAL
      // (key, cohort, day) row per active day once the watermark proves
      // the cohort can no longer change; the tiny (cohort, day_n) count
      // over the emitted feed reproduces the batch matrix — each (key,
      // day) row is unique so count(1) is count-distinct-users. Same
      // oracle SQL as the batch twin.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          StateMachines.retentionDays(stream).toDF()
        }
        .groupBy(
          col("cohort"),
          datediff(col("day"), col("cohort")).as("day_n"))
        .agg(count(lit(1)).as("n_active"))
    }),
    "t_user_sequences_stream" -> ((s, dir) => {
      // streaming twin of t_user_sequences: per-key capped chronological
      // sequence finalized after 10 days of event-time inactivity —
      // above the corpus's max per-key gap (~6 d) and below the replay
      // sentinel's +30 d horizon, so every key closes exactly once and
      // the rows hash-match the batch oracle. State is O(maxLen) per
      // key, strictly better than the batch collect_list.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          StateMachines.eventSequences(stream, maxLen = 50, idleSec = 10L * 86400).toDF()
        }
        .select(
          col("key").cast("long").as("user_id"),
          col("n_events"),
          col("sequence"))
    }),
    "q_transitions_stream" -> ((s, dir) => {
      // streaming twin of q_transitions: the transitionPairs machine
      // emits each user's consecutive (from,to) pairs once, final, after
      // the 10-day idle horizon (the eventSequences discipline); the
      // trailing (from,to) count is the mergeable aggregate an
      // update-mode sink would maintain — same oracle as the batch twin.
      // maxLen 5000 >> max events/user at gate scale: no truncation.
      Replay
        .keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
          StateMachines.transitionPairs(stream, maxLen = 5000, idleSec = 10L * 86400).toDF()
        }
        .groupBy(col("from_kind").as("from_type"), col("to_kind").as("to_type"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_dedup_bounded_stream" -> ((s, dir) => {
      // the BOUNDED-state streaming dedup — the 100 TB posture
      // q_dedup_stream's scaladoc promises: dropDuplicatesWithinWatermark
      // evicts a key's state once the watermark passes its event time +
      // delay, so state is O(events in the horizon), not O(distinct keys
      // ever). Replayed on the events frame unioned with itself: every
      // row recurs at the SAME event time, so all duplicates fall inside
      // any horizon and the emitted first-arrivals equal the DISTINCT
      // (user, type, ts) oracle exactly. Identity includes ts — a key
      // recurring PAST the horizon is a new row by construction, which
      // is the contract that makes bounded state sound at scale.
      val frame = keyedEventsFrame(Tables(s, dir))
      Replay
        .keyedEvents(frame.unionAll(frame)) { stream =>
          stream.toDF()
            .withWatermark("ts", "30 seconds")
            .dropDuplicatesWithinWatermark("key", "kind", "ts")
            .select(col("key"), col("kind"), col("ts"))
        }
        .filter(col("key") =!= Replay.Sentinel)
        .select(
          col("key").cast("long").as("user_id"),
          col("kind").as("event_type"),
          col("ts"))
    }),
    "q_interval_stream" -> ((s, dir) => {
      // J1 streaming form on the correctness record: symmetric hash
      // interval join under watermarks (StreamJoins.intervalJoin), both
      // sides filtered from one replayed source. Sentinel rows ride both
      // sides so the watermark advances (they only ever match each other
      // — dropped post-join before the ANSI-safe long casts).
      val input = Tables(s, dir).events
        .filter(col("event_type").isin("click", "purchase"))
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      Replay.keyedEvents(input) { stream =>
        val df = stream.toDF()
        def side(kind: String, pre: String) = df
          .filter(col("kind") === kind || col("kind") === Replay.Sentinel)
          .select(
            col("key").as(s"${pre}_key"), col("ts").as(s"${pre}_ts"),
            col("id").as(s"${pre}_id"))
        StreamJoins
          .intervalJoin(
            side("purchase", "p"), side("click", "c"),
            ("p_ts", "2 seconds"), ("c_ts", "2 seconds"),
            col("p_key") === col("c_key"), -7200L, 0L)
          .filter(col("p_key") =!= Replay.Sentinel)
          .select(
            col("p_key").cast("long").as("user_id"),
            col("p_id").cast("long").as("p_id"),
            col("c_id").cast("long").as("c_id"),
            col("p_ts"),
            col("c_ts"))
      }
    }),
  )

  // ---- DuckDB oracles ----
  // Sliding windows: Spark's window(ts, size, slide) is epoch-aligned, so
  // each row belongs to size/slide windows with
  // start = slide*floor(epoch/slide) - i*slide, i ∈ [0, size/slide).
  private def slidingOracle(
      filter: String, keyExpr: String, keyName: String,
      slideUs: Long, nWind: Int, topN: Int, cntOrder: String): String =
    s"""WITH w AS (
       |  SELECT make_timestamp((epoch_us(ts) // $slideUs - i) * $slideUs) AS window_start,
       |         $keyExpr AS $keyName
       |  FROM events CROSS JOIN (SELECT unnest(range($nWind)) AS i) offsets
       |  $filter
       |), c AS (
       |  SELECT window_start, $keyName, count(*) AS cnt FROM w GROUP BY 1, 2
       |)
       |SELECT window_start, $keyName, cnt, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY window_start ORDER BY cnt $cntOrder, $keyName) AS rank
       |  FROM c
       |) ranked WHERE rank <= $topN""".stripMargin

  private val tokensExpr = "string_split_regex(trim(text), '\\s+')"
  private val stopList =
    TextOps.EnStopwords.map(w => s"'$w'").mkString("(", ",", ")")
  private val stopCntExpr =
    s"len(list_filter($tokensExpr, t -> t IN $stopList))"
  private val fpExpr = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  /** t_pii's planted PII, built byte-identically by both engines (the
    * corpus text itself is digit-free word soup, so every match below is
    * the planted one). Spark column + DuckDB expression must stay in
    * lockstep.
    */
  private def piiSaltedText: Column =
    concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com ip 10.0."),
      pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 call 415-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" ssn "), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-45-6789"))
  private val piiSaltSql =
    "text || ' contact user' || doc_id || '@example.com ip 10.0.' || " +
      "(doc_id % 256) || '.7 call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-45-6789'"

  /** DuckDB replica of [[graft.ops.TextOps.piiSignals]]: the same
    * sequential count-then-replace chain, generated from the same
    * [[graft.ops.TextOps.PiiPatterns]] list.
    */
  private val piiSql: String = {
    val pats = graft.ops.TextOps.PiiPatterns
    val ctes = ("WITH s0 AS (SELECT doc_id, " + piiSaltSql + " AS t0 FROM documents)") +:
      pats.zipWithIndex.map { case ((name, pat), i) =>
        s"s${i + 1} AS (SELECT *, regexp_replace(t$i, '$pat', '[${name.toUpperCase}]', 'g') AS t${i + 1} FROM s$i)"
      }
    val counts = pats.zipWithIndex
      .map { case ((name, pat), i) => s"len(regexp_extract_all(t$i, '$pat')) AS n_$name" }
    val selectCols = "doc_id" +: counts :+ s"md5(t${pats.size}) AS redacted_md5"
    ctes.mkString(",\n") + "\nSELECT " + selectCols.mkString(",\n  ") + s"\nFROM s${pats.size}"
  }
  private val shinglesExpr =
    """CASE WHEN len(w) >= 3
      |  THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
      |  ELSE [array_to_string(w, ' ')] END""".stripMargin
  private val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))"

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

  private def sqlList(a: Array[Double]): String = a.mkString("[", ", ", "]")

  private def cosQ(a: String, b: String): String =
    s"CAST(floor(list_cosine_similarity($a, $b) * 10000) AS BIGINT)"

  /** Shared centroid-assignment CTE prefix: every vector ranked against
    * the 16 fitted centroids by quantized cosine (desc, list_id
    * tie-break) — r = 1 is the IVF list assignment, r <= nProbe the
    * multi-probe set. Mirrors ivfTopK.nearestLists exactly. */
  private lazy val centAssignCte: String = {
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

  /** d_decon_embed_ivf oracle: centroid assignment against the k=64
    * deconIvfCentroids literals (the quantizer co-fits over train ∪ eval
    * = the full embeddings table, so one artifact serves both sides) —
    * train keeps its r=1 list, eval multi-probes r ≤ 24, co-assigned
    * pairs verify by exact quantized cosine at τ=0.40. */
  private lazy val deconEmbedIvfSql: String = {
    val vals = FittedArtifacts.deconIvfCentroids.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlList(c)})" }.mkString(", ")
    s"""WITH cent(list_id, c) AS (VALUES $vals),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
rk AS (
  SELECT vec_id, e, list_id,
    row_number() OVER (PARTITION BY vec_id
      ORDER BY ${cosQ("e", "c")} DESC, list_id) AS r
  FROM v, cent),
tr AS (SELECT vec_id AS train_id, list_id FROM rk WHERE r = 1 AND vec_id % 2 = 0),
ev2 AS (SELECT vec_id AS eval_id, list_id FROM rk WHERE r <= 24 AND vec_id % 2 = 1),
pairs AS (SELECT DISTINCT train_id, eval_id FROM tr JOIN ev2 USING (list_id)),
scored AS (SELECT train_id, eval_id, ${cosQ("va.e", "vb.e")} AS sim
  FROM pairs JOIN v va ON va.vec_id = train_id JOIN v vb ON vb.vec_id = eval_id)
SELECT train_id, eval_id, sim FROM scored WHERE sim >= 4000"""
  }

  private lazy val dedupSemanticSql: String =
    s"""WITH $centAssignCte,
asg AS (SELECT vec_id AS id, list_id FROM rk WHERE r <= 4),
pairs AS (SELECT DISTINCT l.id AS a, r2.id AS b
  FROM asg l JOIN asg r2 ON l.list_id = r2.list_id AND l.id < r2.id),
scored AS (SELECT a, b, ${cosQ("va.e", "vb.e")} AS sim
  FROM pairs JOIN v va ON va.vec_id = a JOIN v vb ON vb.vec_id = b)
SELECT a, b, sim FROM scored WHERE sim >= 4000"""

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

  // ---- round-10: portable-register HLL oracles ------------------------
  // DuckDB replay of graft.ops.Sketches.portableHll*: md5→48-bit hash
  // (the established portable idiom), bucket = h % 1024, rho via binary
  // string length (bin() does not zero-pad, matching Spark conv),
  // registers max-merged, and the harmonic + linear-counting estimate in
  // the same fixed evaluation order over exact integer sums.

  private def hllH48Sql(v: String): String =
    s"CAST(concat('0x', substring(md5(CAST($v AS VARCHAR)), 1, 12)) AS BIGINT)"

  /** rho given a column named h (p=10: 38 payload bits, max rho 39). */
  private val hllRhoSql: String =
    "CASE WHEN h // 1024 = 0 THEN 39 ELSE 39 - length(bin(h // 1024)) END"

  /** Estimator CTE chain: expects a CTE named `r` with
    * (keyCols…, register); defines `e` and `t`. Pair with
    * [[hllEstimateSelect]]. */
  private def hllEstimateCtes(keyCols: String): String =
    s"""e AS (
  SELECT $keyCols, sum(1::BIGINT << (39 - register)) AS s, count(*) AS nb
  FROM r GROUP BY $keyCols
), t AS (
  SELECT $keyCols, s + (1024 - nb) * 549755813888 AS total, 1024 - nb AS v FROM e
)"""

  private def hllEstimateSelect(keyCols: String): String =
    s"""SELECT $keyCols,
  CAST(floor(CASE
    WHEN 0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 549755813888.0 / total <= 2560.0 AND v > 0
    THEN 1024.0 * ln(1024.0 / v)
    ELSE 0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 549755813888.0 / total END) AS BIGINT)
    AS uv_est
FROM t"""

  private lazy val uvDailyHllSql: String =
    s"""WITH h AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
    ${hllH48Sql("user_id")} AS h
  FROM events
), r AS (
  SELECT window_start, h % 1024 AS bucket, max($hllRhoSql) AS register
  FROM h GROUP BY 1, 2
), ${hllEstimateCtes("window_start")}
${hllEstimateSelect("window_start")}"""

  private lazy val uvSketchHllSql: String =
    s"""WITH h AS (
  SELECT event_type AS key, date_trunc('day', ts) AS day,
    ${hllH48Sql("user_id")} AS h
  FROM events
), r0 AS (
  SELECT key, day, h % 1024 AS bucket, max($hllRhoSql) AS register
  FROM h GROUP BY 1, 2, 3
), nb AS (
  SELECT key, count(DISTINCT day) AS n_buckets FROM r0 GROUP BY 1
), r AS (
  SELECT key, bucket, max(register) AS register FROM r0 GROUP BY 1, 2
), ${hllEstimateCtes("key")}, est AS (
${hllEstimateSelect("key")}
)
SELECT est.key, nb.n_buckets, est.uv_est FROM est JOIN nb ON est.key = nb.key"""

  private lazy val wauSketchHllSql: String =
    s"""WITH h AS (
  SELECT epoch_us(ts) // 86400000000 AS d, ${hllH48Sql("user_id")} AS h
  FROM events
), r0 AS (
  SELECT d, h % 1024 AS bucket, max($hllRhoSql) AS register
  FROM h GROUP BY 1, 2
), r AS (
  SELECT make_timestamp((d - i) * 86400000000) AS window_start, bucket,
    max(register) AS register
  FROM r0, (SELECT unnest(range(0, 7)) AS i) s
  GROUP BY 1, 2
), ${hllEstimateCtes("window_start")}
${hllEstimateSelect("window_start")}"""

  // ---- round-10: BPE bounded-unroll oracles ---------------------------
  // The merge loop is genuinely iterative, but the declared queries fix
  // the merge count (k=24 train / k=16 encode), so the whole Sennrich
  // loop unrolls into k chained CTE rounds (the s_mmr greedy-unroll
  // precedent): pair-count -> argmax (cnt DESC, left, right — the
  // trainDriver tie-break) -> greedy left-to-right merge application as
  // a list_reduce fold (bit-equal to Bpe.applyMerge's aggregate fold;
  // the LEFT JOIN ON TRUE keeps rounds after an early stop as identity
  // passes, matching the Scala loop's break). CTEs are MATERIALIZED:
  // each round references its predecessor twice, and DuckDB's default
  // inlining would make the chain exponential.

  private def bpeRoundSql(i: Int): String = {
    val n = i + 1
    s"""p$i AS MATERIALIZED (
  SELECT p.l AS l, p.r AS r, sum(freq) AS cnt FROM (
    SELECT unnest([{'l': syms[j], 'r': syms[j+1]} for j in range(1, len(syms))]) AS p, freq
    FROM w$i) GROUP BY 1, 2 HAVING sum(freq) >= 2
), b$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
), w$n AS MATERIALIZED (
  SELECT word, freq,
    list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
      CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
        THEN list_slice(acc, 1, len(acc) - 1) || [acc[-1] || x[1]]
        ELSE acc || x END) AS syms
  FROM w$i LEFT JOIN b$i b ON TRUE
)"""
  }

  private val bpeBaseSql: String =
    """WITH wf AS MATERIALIZED (
  SELECT w AS word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
), w0 AS MATERIALIZED (
  SELECT word, freq,
    list_append(list_filter(string_split(word, ''), s -> s <> ''), '</w>') AS syms
  FROM wf
)"""

  private lazy val bpeTrainSql: String = {
    val rounds = (0 until 24).map(bpeRoundSql).mkString(",\n")
    val sel = (0 until 24)
      .map(i => s"""SELECT $i AS rank, l AS "left", r AS "right", l || r AS merged FROM b$i""")
      .mkString("\nUNION ALL ")
    s"$bpeBaseSql,\n$rounds\n$sel"
  }

  private lazy val bpeEncodeSql: String = {
    val rounds = (0 until 16).map(bpeRoundSql).mkString(",\n")
    s"""$bpeBaseSql,
$rounds,
enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM w16),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens
FROM tok JOIN enc USING (word) WHERE word <> '' GROUP BY doc_id"""
  }

  /** q_reconcile_stream's two-stream-reconcile oracle — first
    * purchase/signup per user full-outer-joined within the ±24h
    * tolerance. */
  private lazy val reconcileStreamSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, ts,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |), p1 AS (SELECT user_id, event_id, ts FROM p WHERE rn = 1),
      |sg AS (
      |  SELECT user_id, event_id, ts,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type = 'signup'
      |), s1 AS (SELECT user_id, event_id, ts FROM sg WHERE rn = 1)
      |SELECT coalesce(p1.user_id, s1.user_id) AS user_id,
      |       p1.event_id AS p_id, s1.event_id AS s_id,
      |       CASE WHEN p1.ts IS NOT NULL AND s1.ts IS NOT NULL THEN 'matched'
      |            WHEN p1.ts IS NOT NULL THEN 'pay_no_signup'
      |            ELSE 'signup_no_pay' END AS status
      |FROM p1 FULL JOIN s1 ON p1.user_id = s1.user_id
      |  AND abs(epoch_us(s1.ts) - epoch_us(p1.ts)) <= 86400000000""".stripMargin

  /** Shared edit-distance-pair oracle for d_dedup_editdist (the
    * rep-collapsed anchor) and d_dedup_editdist_raw (the non-composed
    * cross-check) — the definition itself: all pairs under the length
    * window with exact levenshtein ≤ t; equality proves the blocking
    * AND the collapse lossless. */
  private lazy val editDistSql =
    """SELECT a.doc_id AS a, b.doc_id AS b,
      |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      |  ON a.doc_id < b.doc_id
      |  AND abs(len(a.text) - len(b.text)) <= 8
      |  AND len(a.text) >= 36 AND len(b.text) >= 36
      |WHERE levenshtein(a.text, b.text) <= 8""".stripMargin

  /** Shared component-size-distribution oracle for d_cluster_sizes and
    * its composed (representative-collapsed) scale twin — both must
    * reproduce the raw near-dup graph's sizes. */
  private lazy val clusterSizesSql =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), g AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM d
       |), p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.6
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
       |), lab(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
       |), cl AS (
       |  SELECT id, min(l) AS cluster_id FROM lab GROUP BY id
       |), sz AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1
       |)
       |SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin

  /** Shared greedy min-chain CTEs for q_funnel and its streaming twin
    * (both must hash-match the same chain; only the outer join frame
    * differs — batch keeps chainless users, the stream emits s1 only). */
  private val funnelChainSql =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |    AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1
      |), s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |    AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1
      |)""".stripMargin

  /** q_funnel_stream's oracle: only keys
    * whose chain STARTED (s1 rows) emit — emission is anchored at
    * t1 + horizon, so keys without a step-1 event stay silent. */
  private lazy val funnelStreamSql: String =
    s"""$funnelChainSql
       |SELECT s1.user_id,
       |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
       |       ELSE 1 END AS n_reached,
       |  t1 AS ts_first, coalesce(t3, t2, t1) AS ts_reached
       |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin

  // Shared between a batch query and its q_*_stream twin: the streaming
  // replay must hash-match the SAME oracle.
  /** Shared by q_transitions and its streaming twin: both must hash-match
    * the same first-order transition counts. */
  private val transitionsSql =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events
      |)
      |SELECT event_type AS from_type, next_type AS to_type, count(*) AS cnt
      |FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  private val enrichSql =
    """SELECT date_trunc('hour', e.ts) AS window_start,
      |       CAST(c.c_nationkey AS BIGINT) AS nation, count(*) AS cnt
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2""".stripMargin
  private val ewmaDailySql =
    """WITH RECURSIVE d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
      |  FROM events GROUP BY 1, 2
      |), r AS (
      |  SELECT event_type, day, rev_micro,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM d
      |), e AS (
      |  SELECT event_type, day, rev_micro, rev_micro AS ewma_micro, rn
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.event_type, r.day, r.rev_micro,
      |    (r.rev_micro + e.ewma_micro) // 2, r.rn
      |  FROM r JOIN e ON r.event_type = e.event_type AND r.rn = e.rn + 1
      |)
      |SELECT event_type, day, rev_micro, ewma_micro FROM e""".stripMargin

  /** Shared by q_psi and its streaming machine twin: add-1-smoothed PSI
    * between even/odd-epoch-day slices, micro-floored terms. */
  private val psiSql =
    """WITH c AS (
      |  SELECT event_type AS key, CAST(floor(value / 50.0) AS BIGINT) AS bin,
      |    sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
      |        THEN 1 ELSE 0 END) AS ca,
      |    sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0
      |        THEN 0 ELSE 1 END) AS cb
      |  FROM events GROUP BY 1, 2
      |), t AS (
      |  SELECT key, sum(ca) AS na, sum(cb) AS nb, count(*) AS n_bins
      |  FROM c GROUP BY 1
      |)
      |SELECT c.key, t.n_bins,
      |  CAST(sum(CAST(floor(
      |    (CAST(ca + 1 AS DOUBLE) / (na + n_bins)
      |      - CAST(cb + 1 AS DOUBLE) / (nb + n_bins))
      |    * ln((CAST(ca + 1 AS DOUBLE) / (na + n_bins))
      |        / (CAST(cb + 1 AS DOUBLE) / (nb + n_bins))) * 1e6)
      |    AS BIGINT)) AS BIGINT) AS psi_micro
      |FROM c JOIN t ON c.key = t.key GROUP BY 1, 2""".stripMargin

  /** Shared by q_seasonal_residuals and its streaming machine twin:
    * residual of each day vs the key's own weekday mean. */
  private val seasonalSql =
    """WITH d AS (
      |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT *, datediff('day', DATE '1970-01-01', day) % 7 AS dow FROM d
      |), m AS (
      |  SELECT key, dow,
      |    CAST(CAST(sum(rev_micro) AS HUGEINT) // count(*) AS BIGINT)
      |      AS dow_mean_micro
      |  FROM w GROUP BY 1, 2
      |)
      |SELECT w.key, w.day, CAST(w.dow AS BIGINT) AS dow, w.rev_micro,
      |  m.dow_mean_micro, w.rev_micro - m.dow_mean_micro AS residual_micro
      |FROM w JOIN m ON w.key = m.key AND w.dow = m.dow""".stripMargin

  /** Shared by q_cusum and its streaming machine twin: one-sided CUSUM
    * recursion over daily micro sums against the key's own mean, h = μ. */
  private val cusumSql =
    """WITH RECURSIVE d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, CAST(CAST(sum(y) AS HUGEINT) // count(*) AS BIGINT) AS mu
      |  FROM d GROUP BY 1
      |), r AS (
      |  SELECT d.event_type, day, y, mu,
      |    row_number() OVER (PARTITION BY d.event_type ORDER BY day) AS rn
      |  FROM d JOIN m ON d.event_type = m.event_type
      |), e AS (
      |  SELECT event_type, day, y, mu, rn,
      |    greatest(CAST(0 AS BIGINT), y - mu) AS s
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.event_type, r.day, r.y, r.mu, r.rn,
      |    greatest(CAST(0 AS BIGINT), e.s + r.y - r.mu)
      |  FROM r JOIN e ON r.event_type = e.event_type AND r.rn = e.rn + 1
      |)
      |SELECT event_type AS key, day, y AS rev_micro,
      |  CAST(s AS BIGINT) AS cusum_micro, s > mu AS alarm
      |FROM e""".stripMargin

  /** Shared by q_trend_slope and its streaming machine twin: exact
    * rational least-squares slope over (epoch-day, daily micro sum). */
  private val trendSlopeSql =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), x AS (
      |  SELECT event_type, datediff('day', DATE '1970-01-01', day) AS x, y
      |  FROM d
      |), m AS (
      |  SELECT event_type, count(*) AS n_days,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM x GROUP BY 1
      |)
      |SELECT event_type AS key, n_days,
      |  CASE WHEN n_days >= 2
      |    THEN CAST(n_days * sxy - sx * sy AS VARCHAR) END AS slope_num,
      |  CASE WHEN n_days >= 2
      |    THEN CAST(n_days * sxx - sx * sx AS VARCHAR) END AS slope_den
      |FROM m""".stripMargin

  private val scd2Sql =
    """SELECT user_id, event_id, event_type, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS valid_to
      |FROM events""".stripMargin

  private val movingAvgSql =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |    sum(CAST(value AS DECIMAL(18,6))) AS rev
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT day, event_type, CAST(rev AS DOUBLE) AS daily_rev,
      |  CAST(sum(rev) OVER w7 AS DOUBLE) / count(*) OVER w7 AS ma7,
      |  CAST(sum(rev) OVER cum AS DOUBLE) AS cum_rev
      |FROM d
      |WINDOW w7 AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
      |  cum AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  private val lenQuantilesSql =
    s"""WITH d AS (
       |  SELECT CASE WHEN $stopCntExpr >= 2 THEN 'en' ELSE 'und' END AS lang_pred,
       |    len($tokensExpr) AS n
       |  FROM documents
       |), r AS (
       |  SELECT lang_pred, n,
       |    row_number() OVER (PARTITION BY lang_pred ORDER BY n) AS rn,
       |    count(*) OVER (PARTITION BY lang_pred) AS cnt
       |  FROM d
       |), p AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p)
       |SELECT lang_pred, p, CAST(n AS BIGINT) AS n_tokens
       |FROM r JOIN p ON rn = greatest(1, CAST(ceil(p * cnt) AS BIGINT))""".stripMargin
  private val channelStatsSql =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |       count(*) AS cnt
      |FROM events GROUP BY 1, 2, 3""".stripMargin
  private val intervalJoinSql =
    """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id,
      |       p.ts AS p_ts, c.ts AS c_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      | AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin
  private val asOfSql =
    """WITH p AS (
      |  SELECT user_id, event_id AS p_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id AS c_user, ts AS c_ts, max(event_id) AS c_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |)
      |SELECT p.user_id, p_id, p_ts, c_id, c_ts
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.c_user AND c.c_ts <= p.p_ts""".stripMargin
  private val pvHourlySql =
    """SELECT date_trunc('hour', ts) AS window_start, count(*) AS cnt
      |FROM events WHERE event_type = 'view' GROUP BY 1""".stripMargin
  private val uvHourlySql =
    """SELECT date_trunc('hour', ts) AS window_start, count(DISTINCT user_id) AS uv
      |FROM events GROUP BY 1""".stripMargin
  private val sessionsSql =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), s AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS cnt
      |FROM s GROUP BY user_id, sid""".stripMargin
  private val loginFailSql =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS m,
      |    lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w AS pm,
      |    lag(ts) OVER w AS pts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, pts AS first_ts, ts AS last_ts FROM o
      |WHERE m = 1 AND pm = 1 AND epoch_us(ts) - epoch_us(pts) <= 7200000000""".stripMargin

  /** Sign-LSH oracle plumbing (round 9): the hyperplanes are a
    * deterministic compile-time constant (splitmix64 of (seed, plane,
    * dim)), so the oracle SQL can replay the exact sign matrix from
    * embedded '+'/'-' literals — turning the sign-LSH paths from
    * recall-gated into oracle-checked. DuckDB's `list_dot_product` folds
    * sequentially like [[org.apache.spark.sql.graft.SignProjectionBucket]],
    * so the per-plane projections (and their `>= 0` sign bits) agree
    * bit-for-bit.
    */
  private def lshSignValues(nTables: Int, nPlanes: Int, dim: Int): String =
    (0 until nTables).flatMap { t =>
      graft.ops.Similarity
        .hyperplaneSignStrings(42L + t * 7919L, nPlanes, dim)
        .zipWithIndex
        .map { case (s, p) => s"($t, $p, '$s')" }
    }.mkString(",\n    ")

  /** Shared bucket CTE for the 4-plane × 16-table sign-LSH queries
    * (s_knn_lsh, d_dedup_embed_lsh — both declared with these params). */
  private lazy val lshBucketCte: String =
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

  /** d_decon_embed_lsh oracle: the same embedded-literal sign matrix as
    * [[dedupEmbedLshSql]], with the self-join replaced by the
    * train-(even) ⋈ eval-(odd) cross-frame bucket join. */
  private lazy val deconEmbedLshSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT DISTINCT l.vec_id AS train_id, r.vec_id AS eval_id
      |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |  WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 1
      |)
      |SELECT c.train_id, c.eval_id,
      |  CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS sim
      |FROM cand c JOIN v va ON va.vec_id = c.train_id
      |  JOIN v vb ON vb.vec_id = c.eval_id
      |WHERE CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT)
      |  >= 4000""".stripMargin

  private lazy val dedupEmbedLshSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |    AND l.vec_id < r.vec_id
      |)
      |SELECT c.a, c.b,
      |  CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS sim
      |FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
      |WHERE CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT)
      |  >= 4000""".stripMargin

  /** d_dedup_embed_lsh_stream oracle: per-TABLE prefix pairs (a < b =
    * arrival order), exact quantized cosine — dedupEmbedLshSql minus the
    * cross-table DISTINCT, since the streaming index emits one row per
    * colliding table by contract. */
  private lazy val embedLshStreamSql: String =
    lshBucketCte + """
      |, cand AS (
      |  SELECT l.tbl, l.vec_id AS a, r.vec_id AS b
      |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |    AND l.vec_id < r.vec_id
      |)
      |SELECT CAST(c.tbl AS INT) AS tbl, c.a, c.b,
      |  CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT) AS sim
      |FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
      |WHERE CAST(floor(list_cosine_similarity(va.e, vb.e) * 10000) AS BIGINT)
      |  >= 4000""".stripMargin

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

  /** Shared by q_login_fail3 (hand-written machine) and q_cep_login_fail3_stream
    * (the generic [[graft.streaming.Cep]] combinator) — same pattern,
    * same rows. */
  private val loginFail3Sql: String =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS m,
      |    lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, 1) OVER w AS pm1,
      |    lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, 2) OVER w AS pm2,
      |    lag(ts, 2) OVER w AS pts2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, pts2 AS first_ts, ts AS last_ts FROM o
      |WHERE m = 1 AND pm1 = 1 AND pm2 = 1
      |  AND epoch_us(ts) - epoch_us(pts2) <= 21600000000""".stripMargin

  /** Shared by q_order_timeout (batch operator) and q_cep_order_timeout_stream
    * (the generic combinator with timeout side output). */
  private val orderTimeoutSql: String =
    """WITH req AS (
      |  SELECT user_id, event_id AS req_id, ts AS req_ts FROM events WHERE event_type = 'signup'
      |), resp AS (
      |  SELECT user_id, ts AS resp_ts FROM events WHERE event_type = 'purchase'
      |), matched AS (
      |  SELECT req.user_id, req.req_id, req.req_ts, min(resp.resp_ts) AS resp_ts
      |  FROM req LEFT JOIN resp ON req.user_id = resp.user_id
      |    AND resp.resp_ts > req.req_ts
      |    AND epoch_us(resp.resp_ts) <= epoch_us(req.req_ts) + 86400000000
      |  GROUP BY 1, 2, 3
      |)
      |SELECT user_id, req_id, req_ts, resp_ts,
      |  CASE WHEN resp_ts IS NOT NULL THEN 'matched' ELSE 'timeout' END AS status
      |FROM matched""".stripMargin

  /** d_dedup_minhash oracle (round 9): MinHash is deterministic given the
    * hash family, so the portable md5 base/band hashes let DuckDB replay
    * the whole pipeline — per-shingle 32-bit hashes, the k = 64 universal
    * permutations (splitmix (a, b) params embedded as literals), 16-band
    * md5 keys, the candidate self-join, and the exact hash-set Jaccard
    * verify. One IEEE division of exact ints = the d_dedup_ngram record
    * discipline.
    */
  /** Shared oracle prefix: portable MinHash signatures (CTEs `hs` =
    * per-doc 32-bit shingle-hash sets, `sig` = (doc_id, i, m) minima,
    * `band` = 16×4 banded md5 keys) — read by [[minhashSql]] (at-rest
    * pair dedup) and [[lshStreamSql]] (the streaming index twin). */
  /** q_ad_blacklist_stream's oracle. */
  private lazy val adBlacklistStreamSql: String =
    """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      |FROM events WHERE event_type = 'click'
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  private def minhashSigCtes(rel: String = "documents"): String =
    "WITH " + minhashSigBody(rel)

  /** [[minhashSigCtes]] without the leading WITH, for embedding the
    * signature/band CTEs mid-chain (the ingest-gate oracle). */
  private def minhashSigBody(rel: String): String = {
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

  private lazy val minhashSql: String = {
    s"""${minhashSigCtes()}, cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), v AS (
       |  SELECT c.a, c.b,
       |    len(list_intersect(ha.hh, hb.hh)) AS cnt,
       |    len(ha.hh) AS na, len(hb.hh) AS nb
       |  FROM cand c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
       |)
       |SELECT a, b, CAST(cnt AS DOUBLE) / (na + nb - cnt) AS jaccard
       |FROM v
       |WHERE cnt > 0 AND CAST(cnt AS DOUBLE) / (na + nb - cnt) >= 0.6""".stripMargin
  }

  /** d_dedup_lsh_stream oracle: the streaming index is a pure function
    * of the portable hash family and the arrival order (= doc_id order),
    * so its prefix semantics replay relationally — band collisions with
    * a < b (a indexed first), one row per colliding band, verified by
    * the INTEGER signature-agreement estimate (n_agree·5 ≥ 64·3 ⇔
    * est ≥ 0.6; no float compare on either engine). */
  /** p_ingest_stream oracle: the whole admission chain replayed —
    * quality gate (token count + stopword language id), deterministic
    * first-per-fingerprint keeper (arrival order = doc_id order), then
    * the portable MinHash/banding CTEs over the kept set with the
    * integer agreement verify (n·5 ≥ 192 ⇔ est ≥ 0.6); a doc that
    * collides with ANY earlier kept doc is a near-dup. */
  private lazy val ingestStreamSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text, $fpExpr AS fp,
       |    (len($tokensExpr) >= 5 AND $stopCntExpr >= 2) AS ok
       |  FROM documents
       |), keep AS (
       |  SELECT *, min(CASE WHEN ok THEN doc_id END) OVER (PARTITION BY fp) AS keeper
       |  FROM base
       |), idx AS (
       |  SELECT doc_id, text FROM keep WHERE ok AND doc_id = keeper
       |), ${minhashSigBody("idx")}, cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.a, c.b, count(*) AS n
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2
       |), near AS (SELECT DISTINCT b FROM agree WHERE n * 5 >= 192)
       |SELECT doc_id, source,
       |  CASE WHEN NOT ok THEN 'low_quality'
       |       WHEN doc_id <> keeper THEN 'dup_exact'
       |       WHEN doc_id IN (SELECT b FROM near) THEN 'near_dup'
       |       ELSE 'admitted' END AS verdict
       |FROM keep""".stripMargin

  /** p_ingest_decon_stream oracle: [[ingestStreamSql]]'s chain restricted
    * to the incoming third, plus the eval third's own portable signature
    * CTEs and the cross-side band collide + integer agreement verify —
    * `contaminated` slots between `near_dup` and `admitted`, exactly the
    * stream's verdict ladder. The decon CTEs range over keepers only:
    * the stream screens every gated arrival, but verdict precedence
    * hides decon hits on non-keepers, so the verdicts agree. */
  private lazy val ingestDeconStreamSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text, $fpExpr AS fp,
       |    (len($tokensExpr) >= 5 AND $stopCntExpr >= 2) AS ok
       |  FROM documents WHERE doc_id % 3 = 1
       |), keep AS (
       |  SELECT *, min(CASE WHEN ok THEN doc_id END) OVER (PARTITION BY fp) AS keeper
       |  FROM base
       |), idx AS (
       |  SELECT doc_id, text FROM keep WHERE ok AND doc_id = keeper
       |), ${minhashSigBody("idx")}, cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.a, c.b, count(*) AS n
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2
       |), near AS (SELECT DISTINCT b FROM agree WHERE n * 5 >= 192),
       |ed AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents WHERE doc_id % 3 = 2
       |), eg AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM ed
       |), ehs AS (
       |  SELECT doc_id, list_distinct(list_transform(sh,
       |    s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT))) AS hh
       |  FROM eg
       |), ehr AS (
       |  SELECT doc_id, unnest(hh) AS h32 FROM ehs
       |), esig AS (
       |  SELECT doc_id, i, min((h32 * pa + pb) % 4294967311) AS m
       |  FROM ehr, p GROUP BY 1, 2
       |), eband AS (
       |  SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS bh
       |  FROM esig GROUP BY 1, 2
       |), dcand AS (
       |  SELECT DISTINCT r.doc_id AS b, l.doc_id AS e
       |  FROM eband l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |), dagree AS (
       |  SELECT c.b, c.e, count(*) AS n
       |  FROM dcand c
       |  JOIN esig sa ON sa.doc_id = c.e
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2
       |), cont AS (SELECT DISTINCT b FROM dagree WHERE n * 5 >= 192)
       |SELECT doc_id, source,
       |  CASE WHEN NOT ok THEN 'low_quality'
       |       WHEN doc_id <> keeper THEN 'dup_exact'
       |       WHEN doc_id IN (SELECT b FROM near) THEN 'near_dup'
       |       WHEN doc_id IN (SELECT b FROM cont) THEN 'contaminated'
       |       ELSE 'admitted' END AS verdict
       |FROM keep""".stripMargin

  private lazy val lshStreamSql: String = {
    s"""${minhashSigCtes()}, cand AS (
       |  SELECT l.band, l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.band, c.a, c.b, count(*) AS n_agree
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CAST(band AS INT) AS band, a, b, CAST(n_agree AS INT) AS n_agree
       |FROM agree WHERE n_agree * 5 >= 192""".stripMargin
  }

  /** d_dedup_lsh_rebase_stream oracle: the full-chain replay restricted
    * to post-split arrivals (b at or past the id midpoint) — every hit
    * the resumed run can emit has its NEW side b in the live half, while
    * a ranges over the whole corpus (rebased state or earlier live
    * arrival). The midpoint is integer arithmetic on min/max, matching
    * the Spark side's driver scalar exactly. */
  private lazy val lshRebaseStreamSql: String = {
    s"""${minhashSigCtes()}, spl AS (
       |  SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2.0) AS BIGINT) AS s
       |  FROM documents
       |), cand AS (
       |  SELECT l.band, l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |), agree AS (
       |  SELECT c.band, c.a, c.b, count(*) AS n_agree
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i AND sb.m = sa.m
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CAST(band AS INT) AS band, a, b, CAST(n_agree AS INT) AS n_agree
       |FROM agree CROSS JOIN spl
       |WHERE n_agree * 5 >= 192 AND b >= s""".stripMargin
  }

  /** d_dedup_bow_lsh oracle (round 9): the whole pipeline was already
    * deterministic and engine-portable — md5-bucket BoW counts (the
    * d_dedup_bow oracle's own formulation), the splitmix sign matrix
    * (embedded as ±-literals, 12 planes × 16 tables), and an exact
    * integer-count cosine verify whose doubles are all exactly
    * representable — it just never had its SQL written. Projections are
    * computed SPARSELY (counts joined to a (table, plane, dim, ±1)
    * table): absent buckets contribute 0, so the sparse sum equals the
    * dense fold bit-for-bit (every value is an exact integer in double).
    */
  private lazy val bowLshSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
       |cnt AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substring(md5(w), 1, 12)) AS BIGINT) % 64 AS b,
       |    count(*) AS c
       |  FROM toks GROUP BY 1, 2
       |), sg(tbl, plane, ss) AS (VALUES
       |    ${lshSignValues(16, 12, 64)}
       |), pl AS (
       |  SELECT tbl, plane, r.i AS b,
       |    CASE WHEN substring(ss, CAST(r.i + 1 AS INT), 1) = '+'
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM sg, range(64) r(i)
       |), proj AS (
       |  SELECT c.doc_id, p.tbl, p.plane, sum(c.c * p.sgn) AS pr
       |  FROM cnt c JOIN pl p ON p.b = c.b GROUP BY 1, 2, 3
       |), bkt AS (
       |  SELECT doc_id, tbl,
       |    CAST(sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << plane)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket
       |    AND l.doc_id < r.doc_id
       |), nrm AS (
       |  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cnt GROUP BY 1
       |), dots AS (
       |  SELECT ca.a, ca.b, CAST(sum(x.c * y.c) AS BIGINT) AS dp
       |  FROM cand ca
       |  JOIN cnt x ON x.doc_id = ca.a
       |  JOIN cnt y ON y.doc_id = ca.b AND y.b = x.b
       |  GROUP BY 1, 2
       |)
       |SELECT d.a, d.b,
       |  CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT) AS sim
       |FROM dots d
       |JOIN nrm na ON na.doc_id = d.a
       |JOIN nrm nb ON nb.doc_id = d.b
       |WHERE CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT)
       |  >= 9500""".stripMargin

  /** d_dedup_simhash oracle (round 9): per-bit majority votes over the
    * portable md5-nibble token hash (bit b = bit b%4 of hex nibble b/4),
    * banded into 4 16-bit values built FROM THE BITS (so no signed-shift
    * divergence on a negative packed long), candidate self-join on
    * (band, value), hamming = per-bit disagreement count on candidates.
    */
  private lazy val simhashSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), tk AS (
       |  SELECT DISTINCT doc_id, unnest(w) AS t FROM d
       |), bits AS (
       |  SELECT doc_id, r.b,
       |    CASE WHEN 2 * sum(
       |      (CAST(concat('0x', substring(md5(t), CAST(r.b // 4 + 1 AS INT), 1))
       |         AS BIGINT) >> CAST(r.b % 4 AS INT)) & 1)
       |      > count(*) THEN 1 ELSE 0 END AS bit
       |  FROM tk, range(64) r(b) GROUP BY 1, 2
       |), band AS (
       |  SELECT doc_id, b // 16 AS band,
       |    CAST(sum(bit << CAST(b % 16 AS INT)) AS BIGINT) AS bv
       |  FROM bits GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bv = r.bv
       |    AND l.doc_id < r.doc_id
       |), ham AS (
       |  SELECT c.a, c.b,
       |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INTEGER)
       |      AS hamming
       |  FROM cand c
       |  JOIN bits ba ON ba.doc_id = c.a
       |  JOIN bits bb ON bb.doc_id = c.b AND ba.b = bb.b
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, hamming FROM ham WHERE hamming <= 3""".stripMargin

  /** Shared by d_containment and its lossless prefix-filtered twin
    * d_containment_blocked (same output by the pigeonhole bound —
    * [[graft.ops.Dedup.containmentPairsBlocked]]). */
  private lazy val containmentSql: String =
    s"""WITH d AS (SELECT doc_id, $tokensExpr AS w FROM documents),
       |g AS (SELECT doc_id, $shinglesExpr AS sh FROM d),
       |p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS c,
       |    least(len(a.sh), len(b.sh)) AS m
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |)
       |SELECT a, b, c * 1000000 // m AS c_micro
       |FROM p WHERE c * 1000000 // m >= 800000""".stripMargin

  /** Shared by d_decontaminate and its bloom-pruned scale twin — the
    * bloom only prunes, the exact join restores exactness, so both
    * queries carry ONE oracle. */
  private lazy val decontaminateSql =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), g AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM d
       |)
       |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / len(list_distinct(a.sh || b.sh)) AS jaccard
       |FROM g a JOIN g b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
       |WHERE len(list_intersect(a.sh, b.sh)) > 0
       |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin

  private lazy val nearIngestSql: String =
    s"""${minhashSigCtes()}, cb AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |  WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
       |), bb AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
       |    AND l.doc_id < r.doc_id
       |  WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 1
       |), vcb AS (
       |  SELECT DISTINCT c.b
       |  FROM cb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
       |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
       |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
       |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
       |), vbb AS (
       |  SELECT DISTINCT c.b
       |  FROM bb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
       |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
       |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
       |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
       |)
       |SELECT doc_id,
       |  CASE WHEN doc_id IN (SELECT b FROM vcb) THEN 'near_dup_corpus'
       |       WHEN doc_id IN (SELECT b FROM vbb) THEN 'near_dup_batch'
       |       ELSE 'admitted' END AS verdict
       |FROM documents WHERE doc_id % 2 = 1""".stripMargin

  private lazy val chunkCdcSql: String =
    s"""WITH t AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), t2 AS (
         |  SELECT doc_id, w, len(w) AS n,
         |    list_transform(w, t ->
         |      CAST(concat('0x', substring(md5(t), 1, 10)) AS BIGINT)) AS h
         |  FROM t WHERE len(w) > 0 AND w != ['']
         |), cuts AS (
         |  SELECT doc_id, w, n,
         |    list_sort(list_distinct(list_concat(list_concat([0],
         |      list_filter(CASE WHEN n >= 8 THEN range(8, n + 1) ELSE [] END,
         |        i -> list_reduce(h[i - 7 : i],
         |               (a, x) -> (a * 31 + x) % 1099511627776) % 32 = 0)),
         |      [CAST(n AS BIGINT)]))) AS b1
         |  FROM t2
         |), b AS (
         |  SELECT doc_id, w,
         |    list_sort(list_distinct(list_concat(b1,
         |      flatten(list_transform(range(1, len(b1)), j ->
         |        CASE WHEN b1[CAST(j + 1 AS INT)] - b1[CAST(j AS INT)] > 128
         |             THEN range(b1[CAST(j AS INT)] + 128, b1[CAST(j + 1 AS INT)], 128)
         |             ELSE [] END))))) AS bs
         |  FROM cuts
         |), e AS (
         |  SELECT doc_id, w, bs, unnest(range(1, len(bs))) AS j FROM b
         |)
         |SELECT doc_id, j - 1 AS chunk_id,
         |  bs[CAST(j + 1 AS INT)] - bs[CAST(j AS INT)] AS n_tokens,
         |  array_to_string(w[CAST(bs[CAST(j AS INT)] + 1 AS INT) : CAST(bs[CAST(j + 1 AS INT)] AS INT)], ' ') AS chunk
         |FROM e""".stripMargin

  /** d_chunk_dedup oracle: the CDC chain nested as a CTE, md5 chunk
    * fingerprints, first (doc_id, chunk_id) owner by row_number, exact
    * integer per-doc rollup (sums cast from HUGEINT to BIGINT). */
  private lazy val chunkDedupSql: String =
    s"""WITH cdc AS ($chunkCdcSql),
       |fp AS (SELECT doc_id, chunk_id, n_tokens, md5(chunk) AS fp FROM cdc),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) AS rn
       |  FROM fp
       |)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens
       |FROM r GROUP BY 1""".stripMargin

  /** Shared by p_daily_admission and its stored-artifact twin — only
    * the corpus side's provenance (fingerprint set + nearDupIndex
    * tables vs text recompute) differs, the verdicts are identical.
    * `contCtes` plugs the decontamination screen ending in a
    * `cont(doc_id)` CTE: the 3-gram Jaccard sweep for the base pair,
    * the exact-13-gram collision rule for the hard13 pair. */
  private def dailyAdmissionSqlWith(contCtes: String): String =
    s"""WITH gq AS (
         |  SELECT doc_id,
         |    CAST(len($tokensExpr) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |      / len($tokensExpr) AS avg_token_len,
         |    CAST(len(regexp_extract_all(text, '#'))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |      / len($tokensExpr) AS symbol_ratio,
         |    CAST(len(list_filter($tokensExpr,
         |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
         |      / len($tokensExpr) AS alpha_word_ratio,
         |    CAST($stopCntExpr AS BIGINT) AS stop_hits,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS bullet_line_frac,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS ellipsis_line_frac
         |  FROM documents WHERE doc_id % 3 = 1
         |), q AS (
         |  SELECT doc_id FROM gq
         |  WHERE COALESCE(n_tokens BETWEEN 50 AND 100000
         |    AND avg_token_len BETWEEN 3.0 AND 10.0
         |    AND symbol_ratio < 0.1
         |    AND alpha_word_ratio > 0.8
         |    AND stop_hits >= 2
         |    AND bullet_line_frac < 0.9
         |    AND ellipsis_line_frac < 0.3, FALSE)
         |), f AS (SELECT doc_id, text, $fpExpr AS fp FROM documents),
         |seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0),
         |keep AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS kk
         |    FROM f WHERE doc_id IN (SELECT doc_id FROM q)
         |      AND fp NOT IN (SELECT fp FROM seen)
         |  ) WHERE doc_id = kk
         |), idx AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id, text FROM keep
         |), ${minhashSigBody("idx")}, cb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |  WHERE l.doc_id % 3 = 0 AND r.doc_id % 3 = 1
         |), bb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |    AND l.doc_id < r.doc_id
         |  WHERE l.doc_id % 3 = 1 AND r.doc_id % 3 = 1
         |), vcb AS (
         |  SELECT DISTINCT c.b
         |  FROM cb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |), vbb AS (
         |  SELECT DISTINCT c.b
         |  FROM bb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |), adm AS (
         |  SELECT doc_id FROM keep
         |  WHERE doc_id NOT IN (SELECT b FROM vcb)
         |    AND doc_id NOT IN (SELECT b FROM vbb)
         |), dd AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |  WHERE doc_id % 3 = 2 OR doc_id IN (SELECT doc_id FROM adm)
         |), $contCtes
         |SELECT doc_id,
         |  CASE WHEN doc_id NOT IN (SELECT doc_id FROM q) THEN 'rejected_quality'
         |       WHEN doc_id NOT IN (SELECT doc_id FROM keep) THEN 'dup_exact'
         |       WHEN doc_id IN (SELECT b FROM vcb) THEN 'near_dup_corpus'
         |       WHEN doc_id IN (SELECT b FROM vbb) THEN 'near_dup_batch'
         |       WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         |       ELSE 'admitted' END AS verdict
         |FROM documents WHERE doc_id % 3 = 1""".stripMargin

  private lazy val dailyAdmissionSql: String = dailyAdmissionSqlWith(
    s"""dgs AS (
       |  SELECT doc_id, $shinglesExpr AS sh FROM dd
       |), cont AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM dgs a JOIN dgs b ON a.doc_id % 3 = 1 AND b.doc_id % 3 = 2
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.5
       |)""".stripMargin)

  /** The hard13 ladder pair's oracle: identical prefix, decon via the
    * exact-13-gram collision rule at the portable md5→32-bit hash grain
    * (the hard13Sql shingle chain over admitted ∪ benchmark). */
  private lazy val dailyAdmissionHard13Sql: String = dailyAdmissionSqlWith(
    """g13 AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 13
      |    THEN list_distinct([array_to_string(w[i:i+12], ' ')
      |                        for i in range(1, len(w) - 11)])
      |    ELSE [array_to_string(w, ' ')] END AS sh
      |  FROM dd
      |), e13 AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM g13)
      |), cont AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM e13 a JOIN e13 b ON a.h = b.h
      |    AND a.doc_id % 3 = 1 AND b.doc_id % 3 = 2
      |)""".stripMargin)

  /** Shared by the exact-13-gram collision sweep and its bloom-pruned
    * scale twin (the bloom only prunes; the exact join restores
    * exactness). Replays at the portable md5->32-bit hash grain. */
  private lazy val hard13Sql: String =
    s"""WITH d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, CASE WHEN len(w) >= 13
         |    THEN list_distinct([array_to_string(w[i:i+12], ' ')
         |                        for i in range(1, len(w) - 11)])
         |    ELSE [array_to_string(w, ' ')] END AS sh
         |  FROM d
         |), e AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM g)
         |)
         |SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
         |FROM e a JOIN e b ON a.h = b.h
         |  AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0""".stripMargin

  /** Shared CTE chain for the span-grain decontamination pair
    * (d_decon_spans / d_decon_redact): positioned train shingle hashes →
    * benchmark hash set → hit offsets → merged padded spans
    * (gaps-and-islands per doc; merge gap = n + 2·pad = 23). */
  private lazy val deconSpansPrefix: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensExpr AS w FROM documents
       |), tr AS (
       |  SELECT doc_id, w, len(w) AS ln FROM d WHERE doc_id % 2 = 1
       |), gtr AS (
       |  SELECT doc_id, u['p'] AS pos,
       |    CAST(concat('0x', substring(md5(u['s']), 1, 8)) AS BIGINT) AS h
       |  FROM (
       |    SELECT doc_id, unnest(CASE WHEN ln >= 13
       |      THEN [{'p': i - 1, 's': array_to_string(w[i:i+12], ' ')} for i in range(1, ln - 11)]
       |      ELSE [{'p': 0, 's': array_to_string(w, ' ')}] END) AS u
       |    FROM tr)
       |), ev AS (
       |  SELECT DISTINCT CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
       |  FROM (
       |    SELECT unnest(CASE WHEN len(w) >= 13
       |      THEN list_distinct([array_to_string(w[i:i+12], ' ') for i in range(1, len(w) - 11)])
       |      ELSE [array_to_string(w, ' ')] END) AS s
       |    FROM d WHERE doc_id % 2 = 0
       |  )
       |), hits AS (
       |  SELECT DISTINCT doc_id, pos FROM gtr WHERE h IN (SELECT h FROM ev)
       |), isl AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > 23 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM hits)
       |), sp AS (
       |  SELECT i.doc_id, greatest(min(pos) - 5, 0) AS s, least(max(pos) + 18, t.ln) AS e
       |  FROM isl i JOIN tr t ON i.doc_id = t.doc_id
       |  GROUP BY i.doc_id, g, t.ln
       |)""".stripMargin

  private lazy val deconSpansSql: String =
    deconSpansPrefix +
      """
        |SELECT doc_id AS train_id, CAST(s AS BIGINT) AS span_start,
        |  CAST(e AS BIGINT) AS span_end
        |FROM sp""".stripMargin

  private lazy val deconRedactSql: String =
    deconSpansPrefix +
      """, pc AS (
        |  SELECT doc_id,
        |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ps, s AS pe
        |  FROM sp
        |  UNION ALL
        |  SELECT sp.doc_id, max(sp.e), t.ln
        |  FROM sp JOIN tr t ON sp.doc_id = t.doc_id GROUP BY sp.doc_id, t.ln
        |  UNION ALL
        |  SELECT doc_id, 0, ln FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM sp)
        |), kept AS (SELECT * FROM pc WHERE pe - ps >= 20)
        |SELECT doc_id AS train_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ps) - 1 AS BIGINT) AS piece_id,
        |  CAST(ps AS BIGINT) AS piece_start, CAST(pe AS BIGINT) AS piece_end,
        |  CAST(pe - ps AS BIGINT) AS piece_tokens
        |FROM kept""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_pv_hourly" -> pvHourlySql,
    "d_decon_spans" -> deconSpansSql,
    "d_decon_redact" -> deconRedactSql,
    "q_pv_hourly_stream" -> pvHourlySql,
    "q_sessions_stream" -> sessionsSql,
    "q_login_fail_stream" -> loginFailSql,
    "q_ad_blacklist_stream" -> adBlacklistStreamSql,
    "q_order_timeout_stream" ->
      """WITH req AS (
        |  SELECT user_id, event_id AS req_id, ts AS req_ts,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'signup'
        |), r1 AS (
        |  SELECT user_id, req_id, req_ts FROM req WHERE rn = 1
        |), resp AS (
        |  SELECT user_id, ts AS resp_ts FROM events WHERE event_type = 'purchase'
        |), matched AS (
        |  SELECT r1.user_id, r1.req_id, r1.req_ts, min(resp.resp_ts) AS resp_ts
        |  FROM r1 LEFT JOIN resp ON r1.user_id = resp.user_id
        |    AND resp.resp_ts > r1.req_ts
        |    AND epoch_us(resp.resp_ts) <= epoch_us(r1.req_ts) + 86400000000
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, req_id, req_ts, resp_ts,
        |  CASE WHEN resp_ts IS NOT NULL THEN 'matched' ELSE 'timeout' END AS status
        |FROM matched""".stripMargin,
    "q_reconcile_stream" -> reconcileStreamSql,
    "q_uv_hourly" -> uvHourlySql,
    "q_uv_pane_stream" -> uvHourlySql,
    "q_pv_lateness_stream" -> pvHourlySql,
    "q_channel_stats" -> channelStatsSql,
    "q_channel_stats_stream" -> channelStatsSql,
    "q_enrich" -> enrichSql,
    "q_enrich_stream" -> enrichSql,
    "q_salted_join" -> enrichSql, // salting must not change join semantics
    "q_transitions" -> transitionsSql,
    "q_transitions_stream" -> transitionsSql,
    "q_sessions" -> sessionsSql,
    "q_hot_items" -> slidingOracle(
      "WHERE event_type = 'click'", "user_id", "user_id", 300000000L, 12, 5, "DESC"),
    "q_hot_items_stream" -> slidingOracle(
      "WHERE event_type = 'click'", "user_id", "user_id", 300000000L, 12, 5, "DESC"),
    "q_hot_pages" -> slidingOracle(
      "", "event_type", "event_type", 600000000L, 3, 3, "DESC"),
    "q_hot_pages_stream" -> slidingOracle(
      "", "event_type", "event_type", 600000000L, 3, 3, "DESC"),
    "q_ad_blacklist" ->
      """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q_login_fail" -> loginFailSql,
    "q_login_fail3" -> loginFail3Sql,
    "q_cep_login_fail3_stream" -> loginFail3Sql,
    "q_order_timeout" -> orderTimeoutSql,
    "q_cep_order_timeout_stream" -> orderTimeoutSql,
    "q_asof_join" -> asOfSql,
    "q_asof_stream" -> asOfSql,
    "q_interval_join" -> intervalJoinSql,
    "q_interval_stream" -> intervalJoinSql,
    "q_dedup_stream" -> "SELECT DISTINCT user_id, event_type FROM events",
    "q_dedup_bounded_stream" -> "SELECT DISTINCT user_id, event_type, ts FROM events",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q_moving_avg" -> movingAvgSql,
    "q_moving_avg_stream" -> movingAvgSql,
    "q_ewma_stream" -> ewmaDailySql,
    "q_ewma_daily" -> ewmaDailySql,
    "p_incremental_ingest" ->
      s"""WITH f AS (SELECT doc_id, $fpExpr AS fp FROM documents),
         |seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
         |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 2 = 1)
         |SELECT fp, min(doc_id) AS doc_id FROM inc
         |WHERE fp NOT IN (SELECT fp FROM seen)
         |GROUP BY fp""".stripMargin,
    // composed daily-ingest increment: exact fingerprint keeper stage
    // first (replayed like p_incremental_ingest), then the near-dup
    // chain over corpus ∪ keepers only — non-keepers verdict 'dup_exact'
    "p_near_ingest_e2e" ->
      s"""WITH f AS (SELECT doc_id, text, $fpExpr AS fp FROM documents),
         |seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
         |keep AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS k
         |    FROM f WHERE doc_id % 2 = 1 AND fp NOT IN (SELECT fp FROM seen)
         |  ) WHERE doc_id = k
         |), idx AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, text FROM keep
         |), ${minhashSigBody("idx")}, cb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |  WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
         |), bb AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM band l JOIN band r ON l.band = r.band AND l.bh = r.bh
         |    AND l.doc_id < r.doc_id
         |  WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 1
         |), vcb AS (
         |  SELECT DISTINCT c.b
         |  FROM cb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |), vbb AS (
         |  SELECT DISTINCT c.b
         |  FROM bb c JOIN hs ha ON ha.doc_id = c.a JOIN hs hb ON hb.doc_id = c.b
         |  WHERE len(list_intersect(ha.hh, hb.hh)) > 0
         |    AND CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
         |        / (len(ha.hh) + len(hb.hh) - len(list_intersect(ha.hh, hb.hh))) >= 0.6
         |)
         |SELECT doc_id,
         |  CASE WHEN doc_id NOT IN (SELECT doc_id FROM keep) THEN 'dup_exact'
         |       WHEN doc_id IN (SELECT b FROM vcb) THEN 'near_dup_corpus'
         |       WHEN doc_id IN (SELECT b FROM vbb) THEN 'near_dup_batch'
         |       ELSE 'admitted' END AS verdict
         |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // batch-incremental near-dup admission: the portable MinHash chain
    // replayed over the whole table, candidates restricted to
    // (corpus→batch) and (earlier-batch→batch) sides, exact hash-set
    // Jaccard ≥ 0.6 verify — corpus hit outranks batch hit. The indexed
    // twin feeds the SAME oracle: only the corpus side's provenance
    // (stored nearDupIndex tables vs text recompute) differs.
    "d_near_ingest" -> nearIngestSql,
    "d_near_ingest_indexed" -> nearIngestSql,
    // the full daily admission replayed end-to-end: Gopher keep
    // conjunction over the incoming third, md5 fingerprint keeper, the
    // portable MinHash chain over corpus ∪ keepers, then the 3-gram
    // Jaccard decontamination sweep of the admitted sliver against the
    // eval third — verdict precedence identical to the Spark dataflow
    "p_daily_admission" -> dailyAdmissionSql,
    "p_daily_admission_indexed" -> dailyAdmissionSql,
    "p_daily_admission_hard13" -> dailyAdmissionHard13Sql,
    "p_daily_admission_hard13_indexed" -> dailyAdmissionHard13Sql,
    "q_cube_events" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))""".stripMargin,
    "q_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT f.cohort, datediff('day', f.cohort, a.d) AS day_n,
        |  count(*) AS n_active
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,
    // streaming twin checks against the SAME matrix as the batch query
    "q_retention_stream" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT f.cohort, datediff('day', f.cohort, a.d) AS day_n,
        |  count(*) AS n_active
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,
    "q_funnel" ->
      s"""$funnelChainSql
         |SELECT u.user_id,
         |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
         |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS n_reached,
         |  t1 AS ts_first, coalesce(t3, t2, t1) AS ts_reached
         |FROM (SELECT DISTINCT user_id FROM events
         |      WHERE event_type IN ('view', 'click', 'purchase')) u
         |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         |LEFT JOIN s3 USING (user_id)""".stripMargin,
    // the streaming twin emits only keys whose chain STARTED (s1 rows):
    // emission is anchored at t1 + horizon, so keys without a step-1
    // event have nothing to anchor to and stay silent by design
    "q_funnel_stream" -> funnelStreamSql,
    "t_user_sequences" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |)
        |SELECT user_id, any_value(cnt) AS n_events,
        |  string_agg(event_type, '|' ORDER BY rn) AS sequence
        |FROM r WHERE rn <= 50
        |GROUP BY user_id""".stripMargin,
    // streaming twin: every key closes exactly once (idle horizon > max
    // per-key gap), so the rows equal the batch fold over the full log
    "t_user_sequences_stream" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |)
        |SELECT user_id, any_value(cnt) AS n_events,
        |  string_agg(event_type, '|' ORDER BY rn) AS sequence
        |FROM r WHERE rn <= 50
        |GROUP BY user_id""".stripMargin,
    "q_reconcile" ->
      """SELECT coalesce(p.user_id, sg.user_id) AS user_id,
        |       p.event_id AS p_id, sg.event_id AS s_id,
        |       CASE WHEN p.ts IS NOT NULL AND sg.ts IS NOT NULL THEN 'matched'
        |            WHEN p.ts IS NOT NULL THEN 'pay_no_signup'
        |            ELSE 'signup_no_pay' END AS status
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'signup') sg
        |  ON p.user_id = sg.user_id
        | AND abs(epoch_us(sg.ts) - epoch_us(p.ts)) <= 86400000000""".stripMargin,
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_segment_revenue" ->
      s"""SELECT o_orderpriority,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderpriority""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(sum($discPriceSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,
    "q10_returned_revenue" ->
      s"""SELECT c_custkey, c_name, n_name, CAST(rev AS DOUBLE) AS revenue
         |FROM (
         |  SELECT c_custkey, c_name, n_name, sum($discPriceSql) AS rev
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  WHERE l_returnflag = 'R'
         |  GROUP BY 1, 2, 3
         |  ORDER BY rev DESC, c_custkey LIMIT 20
         |)""".stripMargin,
    "q12_priority_shipping" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q_min_cost_supplier" ->
      """WITH m AS (
        |  SELECT p_partkey, p_name, l_suppkey, min(l_extendedprice) AS min_price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 10
        |  GROUP BY 1, 2, 3
        |), b AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_partkey
        |                               ORDER BY min_price, l_suppkey) AS rn
        |  FROM m
        |)
        |SELECT p_partkey, p_name, s_name, n_name, min_price
        |FROM b
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE rn = 1""".stripMargin,
    "q6_banded_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q14_promo_share" ->
      s"""SELECT
         |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPriceSql
         |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) * 100.0
         |    / CAST(sum($discPriceSql) AS DOUBLE) AS promo_pct,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
         |  AND l_shipdate <  TIMESTAMP '1996-04-01'""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
        |)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_bracket_revenue" ->
      s"""SELECT CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pp AS (
        |  SELECT l_partkey AS p_key, sum(l_quantity) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pp ON l_partkey = p_key
        |WHERE p_brand = 'Brand#23' AND l_quantity < 0.5 * avg_qty""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), per_order AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS n_supp,
        |         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |  FROM lo GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, count(*) AS n_waits
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late) c
        |JOIN per_order USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1, 2
        |ORDER BY n_waits DESC, s_suppkey LIMIT 50""".stripMargin,
    "q22_idle_customers" ->
      """WITH avgbal AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*) AS a
        |  FROM customer WHERE c_acctbal > 0
        |), recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |)
        |SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer CROSS JOIN avgbal
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > a
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1""".stripMargin,
    "q_nation_flows" ->
      s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         |  year(o_orderdate) AS l_year,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |WHERE ns.n_name <> nc.n_name
         |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      s"""SELECT year(o_orderdate) AS o_year,
         |  CAST(sum(CASE WHEN ns.n_name = 'NATION_1' THEN $discPriceSql
         |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         |    / CAST(sum($discPriceSql) AS DOUBLE) AS mkt_share,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |JOIN region ON nc.n_regionkey = r_regionkey
         |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate <  TIMESTAMP '1998-01-01'
         |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name, year(o_orderdate) AS o_year,
         |  CAST(sum($discPriceSql) AS DOUBLE)
         |    - CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))
         |               * CAST(0.6 AS DECIMAL(3,2))
         |               * CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE)
         |    AS profit,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2""".stripMargin,
    "q11_important_parts" ->
      s"""WITH nval AS (
         |  SELECT l_partkey, sum($discPriceSql) AS v
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_2'
         |  GROUP BY 1
         |)
         |SELECT l_partkey, CAST(v AS DOUBLE) AS value
         |FROM nval
         |WHERE CAST(v AS DOUBLE) >
         |  0.002 * (SELECT CAST(sum(v) AS DOUBLE) FROM nval)""".stripMargin,
    "q13_order_distribution" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY 1""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |         CAST(sum($discPriceSql) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate <  TIMESTAMP '1996-04-01'
         |  GROUP BY 1
         |)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q20_part_promotion" ->
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2
        |), part_total AS (
        |  SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1
        |)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM shipped
        |JOIN part_total USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
        |  AND qty > 0.5 * total_qty""".stripMargin,
    "q_rollup_revenue" ->
      s"""SELECT r_name, n_name, CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q_pivot_daily" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,
    // streaming twin: same wide-table oracle as the batch pivot
    "q_pivot_daily_stream" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q_top_orders" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders
        |) ranked WHERE rank <= 10""".stripMargin,
    "d_dedup_exact" ->
      s"""SELECT $fpExpr AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin,
    "d_dedup_bow" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |cnt AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(w), 1, 12)) AS BIGINT) % 64 AS b,
         |    count(*) AS c
         |  FROM toks GROUP BY 1, 2
         |), nrm AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cnt GROUP BY 1),
         |dots AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b2, CAST(sum(x.c * y.c) AS BIGINT) AS dp
         |  FROM cnt x JOIN cnt y ON x.b = y.b AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a, b2 AS b,
         |  CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT) AS sim
         |FROM dots
         |JOIN nrm na ON na.doc_id = a
         |JOIN nrm nb ON nb.doc_id = dots.b2
         |WHERE CAST(floor(dp / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) AS BIGINT) >= 9500""".stripMargin,
    "d_substring_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, CASE WHEN len(w) >= 16
         |    THEN list_distinct([array_to_string(w[i:i+15], ' ')
         |                       for i in range(1, len(w) - 14)])
         |    ELSE [array_to_string(w, ' ')] END AS sh
         |  FROM (SELECT doc_id, $tokensExpr AS w FROM documents) d
         |), e AS (SELECT doc_id, unnest(sh) AS s FROM t),
         |f AS (SELECT s, count(*) AS nd FROM e GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |FROM e JOIN f USING (s)
         |GROUP BY doc_id""".stripMargin,
    "d_remove_dup_substrings" ->
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS ws FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(ws) AS w,
         |         unnest(generate_series(1, len(ws))) - 1 AS pos
         |  FROM t),
         |sh AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+15], ' ') AS s
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 15)) AS i
         |        FROM t WHERE len(ws) >= 16)),
         |dup AS (
         |  SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
         |  WHERE nd > 1),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos + o AS pos
         |  FROM (SELECT sh.doc_id, sh.pos, unnest(generate_series(0, 15)) AS o
         |        FROM sh JOIN dup USING (s))),
         |kept AS (
         |  SELECT tok.doc_id, tok.pos, tok.w
         |  FROM tok ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos)
         |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
         |  CAST(count(k.pos) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(k.w, ' ' ORDER BY k.pos), '')) AS cleaned_md5
         |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
         |GROUP BY t.doc_id, len(t.ws)""".stripMargin,
    "d_decontaminate" -> decontaminateSql,
    // hard decon: the exact-13-gram collision join replayed at the SAME
    // portable hash grain as the Spark plan (md5→32-bit), so even hash
    // collisions agree; docs under 13 tokens fall back to one
    // whole-text shingle on both engines
    "d_decontaminate_hard13" -> hard13Sql,
    "d_decontaminate_hard13_bloom" -> hard13Sql,
    "d_decon_hard13_stream" -> hard13Sql,
    "d_decontaminate_bloom" -> decontaminateSql,
    "d_dedup_ngram" ->
      s"""WITH d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jaccard
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) > 0
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.6""".stripMargin,
    "d_dedup_clusters" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.6
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |)
         |SELECT id, min(l) AS cluster_id FROM lab GROUP BY id""".stripMargin,
    "p_split_group" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.5
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |), clusters AS (
         |  SELECT id, min(l) AS cluster_id FROM lab GROUP BY id
         |)
         |SELECT doc.doc_id,
         |  CASE WHEN CAST(concat('0x', substring(
         |         md5(CAST(coalesce(c.cluster_id, doc.doc_id) AS VARCHAR)), 1, 12))
         |         AS BIGINT) / 281474976710656.0 < 0.9
         |       THEN 'train' ELSE 'eval' END AS split
         |FROM documents doc LEFT JOIN clusters c ON doc.doc_id = c.id""".stripMargin,
    "d_contamination_frac" ->
      s"""WITH d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM documents
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), t AS (
         |  SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id % 2 = 1
         |), e AS (
         |  SELECT doc_id, unnest(sh) AS s FROM g WHERE doc_id % 2 = 0
         |)
         |SELECT e.doc_id, count(*) AS n_shingles, count(t.s) AS n_hits,
         |  CAST(count(t.s) AS DOUBLE) / count(*) AS contamination
         |FROM e LEFT JOIN t ON e.s = t.s
         |GROUP BY e.doc_id""".stripMargin,
    "d_drop_near_dups" ->
      s"""WITH RECURSIVE r0 AS (
         |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY $fpExpr) AS keep
         |  FROM documents
         |), reps AS (
         |  SELECT doc_id, text FROM r0 WHERE doc_id = keep
         |), d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM reps
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.6
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |), losers AS (
         |  SELECT id FROM lab GROUP BY id HAVING id <> min(l)
         |)
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,
    "p_cap_per_key" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |) t WHERE rn <= 20""".stripMargin,
    "p_sample" ->
      """SELECT doc_id FROM documents
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0 < 0.1""".stripMargin,
    "p_sample_weighted" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0
        |      < least(1.0, CAST(n_chars AS DOUBLE) / 2000.0 * 0.2)""".stripMargin,
    "p_split" ->
      """SELECT CASE
        |    WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |         / 281474976710656.0 < 0.9 THEN 'train' ELSE 'eval' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "p_sample_stratified" ->
      s"""SELECT doc_id FROM documents
         |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0
         |      < CASE WHEN $stopCntExpr >= 2 THEN 0.1 ELSE 0.6 END""".stripMargin,
    "p_mixture_sqrt" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS n_s
        |  FROM documents
        |) WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |        / 281474976710656.0 < least(1.0, 3.0 / sqrt(CAST(n_s AS DOUBLE)))""".stripMargin,
    "p_token_budget" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, len($tokensExpr) AS tok,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents
         |), c AS (
         |  SELECT source, doc_id,
         |    CAST(coalesce(sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM d
         |)
         |SELECT source, doc_id FROM c WHERE cum < 800""".stripMargin,
    "p_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, len($tokensExpr) AS tok,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, h % 8 AS shard,
         |    CAST(coalesce(sum(tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM d
         |)
         |SELECT doc_id, shard, CAST(cum // 512 AS BIGINT) AS pack_id,
         |  CAST(cum % 512 AS BIGINT) AS offset_tokens
         |FROM c""".stripMargin,
    "p_pack_greedy" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(len($tokensExpr) AS BIGINT) AS tok,
         |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM documents
         |), o AS (
         |  SELECT doc_id, tok, h % 8 AS shard,
         |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
         |  FROM d
         |), r AS (
         |  SELECT shard, rn, doc_id, tok,
         |    CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS offset_tokens, tok AS fill
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.tok,
         |    CASE WHEN r.fill > 0 AND r.fill + o.tok > 512 THEN r.pack_id + 1 ELSE r.pack_id END,
         |    CASE WHEN r.fill > 0 AND r.fill + o.tok > 512 THEN CAST(0 AS BIGINT) ELSE r.fill END,
         |    CASE WHEN r.fill > 0 AND r.fill + o.tok > 512 THEN o.tok ELSE r.fill + o.tok END
         |  FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
         |)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, shard, pack_id, offset_tokens FROM r""".stripMargin,
    "d_chunk_cdc" -> chunkCdcSql,
    "d_chunk_dedup" -> chunkDedupSql,
    "d_chunk" ->
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS w FROM documents),
         |s AS (
         |  SELECT doc_id, w, len(w) AS n,
         |    unnest(generate_series(0, greatest(0, len(w) - 17), 48)) AS start
         |  FROM t
         |)
         |SELECT doc_id, start // 48 AS chunk_id,
         |  least(64, n - start) AS n_tokens,
         |  array_to_string(w[start + 1 : start + 64], ' ') AS chunk
         |FROM s""".stripMargin,
    "t_tokens" ->
      s"SELECT doc_id, len($tokensExpr) AS n_tokens FROM documents",
    "t_tokens_bpe" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin,
    "t_quality" ->
      s"""SELECT doc_id,
         |  len($tokensExpr) AS n_tokens,
         |  length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_alpha_chars,
         |  CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |    / len($tokensExpr) AS avg_token_len,
         |  CAST($stopCntExpr AS DOUBLE) / len($tokensExpr) AS stopword_ratio,
         |  CAST(length(regexp_replace(trim(text), '[A-Za-z0-9\\s]+', '', 'g')) AS DOUBLE)
         |    / length(regexp_replace(trim(text), '\\s+', '', 'g')) AS punct_ratio
         |FROM documents""".stripMargin,
    "t_nb_classify" ->
      s"""WITH base AS (SELECT doc_id, source AS lab, text FROM documents),
         |tok AS (SELECT doc_id, lab, unnest($tokensExpr) AS t FROM base),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
         |ltc AS (SELECT lab, t, count(*) AS c FROM tok GROUP BY 1, 2),
         |nl AS (SELECT lab, CAST(sum(c) AS BIGINT) AS n_l FROM ltc GROUP BY 1),
         |vocab AS (SELECT DISTINCT t FROM ltc),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         |dl AS (SELECT lab, count(*) AS d_l FROM base GROUP BY 1),
         |dt AS (SELECT count(*) AS d FROM base),
         |terms AS (
         |  SELECT nl.lab, vocab.t,
         |    CAST(floor(ln(CAST(COALESCE(ltc.c, 0) + 1 AS DOUBLE)
         |      / CAST(nl.n_l + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS term_micro
         |  FROM vocab CROSS JOIN nl CROSS JOIN v
         |  LEFT JOIN ltc ON ltc.lab = nl.lab AND ltc.t = vocab.t
         |),
         |priors AS (
         |  SELECT lab, CAST(floor(ln(CAST(d_l AS DOUBLE) / CAST(d AS DOUBLE))
         |    * 1000000) AS BIGINT) AS prior_micro
         |  FROM dl CROSS JOIN dt
         |),
         |scores AS (
         |  SELECT tf.doc_id, tr.lab,
         |    CAST(sum(tf.tf * tr.term_micro) AS BIGINT) AS s
         |  FROM tf JOIN terms tr ON tf.t = tr.t GROUP BY 1, 2
         |),
         |sc AS (
         |  SELECT s.doc_id, s.lab, s.s + p.prior_micro AS score
         |  FROM scores s JOIN priors p USING (lab)
         |)
         |SELECT doc_id, lab AS pred_label, score AS best_score_micro FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, lab ASC) AS rk FROM sc
         |) WHERE rk = 1""".stripMargin,
    "d_winnow" ->
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS w FROM documents),
         |g0 AS (SELECT doc_id,
         |  CASE WHEN len(w) >= 4
         |    THEN [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
         |          for i in range(1, len(w) - 2)]
         |    ELSE [md5(array_to_string(w, ' '))] END AS hs
         |  FROM t),
         |g AS (SELECT doc_id, len(hs) AS n_grams, unnest(hs) AS h,
         |  unnest(range(len(hs))) AS pos FROM g0),
         |wm AS (SELECT doc_id, pos, n_grams,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
         |  FROM g)
         |SELECT DISTINCT doc_id, fp FROM wm
         |WHERE pos <= greatest(0, n_grams - 5)""".stripMargin,
    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |  CAST(CAST(floor(value / 50.0) AS BIGINT) * 50.0 AS DOUBLE) AS bin_lo,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_histogram_stream" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
        |  CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_latest_snapshot" ->
      """SELECT user_id, ts, event_type, value FROM (
        |  SELECT user_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q_latest_snapshot_stream" ->
      """SELECT window_start, user_id, ts, event_id FROM (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id, ts, event_id,
        |    row_number() OVER (PARTITION BY date_trunc('day', ts), user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q_mad_outliers" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events
        |), m AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * cnt) AS BIGINT))
        |        THEN value END) AS med
        |  FROM r GROUP BY event_type
        |), dv AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS d,
        |    row_number() OVER (PARTITION BY e.event_type
        |      ORDER BY abs(e.value - m.med)) AS rn,
        |    count(*) OVER (PARTITION BY e.event_type) AS cnt
        |  FROM events e JOIN m ON e.event_type = m.event_type
        |), a AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * cnt) AS BIGINT))
        |        THEN d END) AS mad
        |  FROM dv GROUP BY event_type
        |)
        |SELECT dv.event_id, dv.event_type, dv.value, dv.med, a.mad
        |FROM dv JOIN a ON dv.event_type = a.event_type
        |WHERE a.mad > 0 AND dv.d > 3.5 * a.mad""".stripMargin,
    "t_winsorize" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents
        |), b AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * cnt) AS BIGINT))
        |        THEN n_chars END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * cnt) AS BIGINT))
        |        THEN n_chars END) AS hi
        |  FROM r GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  least(greatest(d.n_chars, b.lo), b.hi) AS value_w
        |FROM documents d JOIN b ON d.lang = b.lang""".stripMargin,
    "q_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, count(gap) AS n_gaps,
        |  min(gap) AS min_gap_us, max(gap) AS max_gap_us,
        |  CAST(sum(gap) AS BIGINT) AS sum_gap_us
        |FROM g GROUP BY user_id""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0)
        |GROUP BY 1""".stripMargin,
    "p_blocklist" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents)
         |SELECT doc_id, count(*) AS n_hits,
         |  array_to_string(list_sort(list_distinct(list(w))), '|') AS hit_terms
         |FROM toks WHERE w IN ('slow', 'big', 'stream')
         |GROUP BY doc_id""".stripMargin,
    "q_vocab_growth" ->
      s"""WITH r AS (
         |  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) - 1 AS rk
         |  FROM documents
         |), toks AS (
         |  SELECT rk, unnest($tokensExpr) AS w FROM r
         |), fs AS (
         |  SELECT w, min(rk) AS fr FROM toks WHERE w <> '' GROUP BY w
         |), b AS (
         |  SELECT fr // 50 AS bucket, count(*) AS new_types FROM fs GROUP BY 1
         |)
         |SELECT bucket, new_types,
         |  CAST(sum(new_types) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_types
         |FROM b""".stripMargin,
    "q_semi_join_stream" ->
      """WITH p AS (
        |  SELECT user_id FROM events GROUP BY user_id
        |  ORDER BY count(*) DESC, user_id LIMIT 50
        |)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, count(*) AS cnt
        |FROM events WHERE user_id IN (SELECT user_id FROM p)
        |GROUP BY 1""".stripMargin,
    "q_join_profile" ->
      """WITH l AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
        |r AS (SELECT o_orderkey AS k, count(*) AS cr FROM orders GROUP BY 1),
        |j AS (SELECT * FROM l FULL OUTER JOIN r USING (k))
        |SELECT CAST(sum(cl) AS BIGINT) AS n_left, CAST(sum(cr) AS BIGINT) AS n_right,
        |  count(cl) AS n_left_keys, count(cr) AS n_right_keys,
        |  count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END)
        |    AS n_shared_keys,
        |  CAST(coalesce(sum(cl * cr), 0) AS BIGINT) AS join_rows,
        |  CAST(coalesce(sum(CASE WHEN cr IS NULL THEN cl END), 0) AS BIGINT)
        |    AS left_orphan_rows,
        |  CAST(coalesce(sum(CASE WHEN cl IS NULL THEN cr END), 0) AS BIGINT)
        |    AS right_orphan_rows
        |FROM j""".stripMargin,
    "e_norms" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(floor(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])) * 1000000) AS BIGINT)
        |    AS norm_sq_micro
        |FROM embeddings""".stripMargin,
    "q_wau" ->
      """WITH w AS (
        |  SELECT DISTINCT
        |    make_timestamp((epoch_us(ts) // 86400000000 - i) * 86400000000)
        |      AS window_start,
        |    user_id
        |  FROM events, (SELECT unnest(range(0, 7)) AS i) s
        |)
        |SELECT window_start, count(*) AS uv FROM w GROUP BY 1""".stripMargin,
    "q_scd2_stream" -> scd2Sql,
    "q_scd2" -> scd2Sql,
    "q_movers_stream" ->
      """WITH d AS (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT key, day, rev_micro,
        |    rev_micro - lag(rev_micro) OVER (PARTITION BY key ORDER BY day)
        |      AS delta_micro
        |  FROM d
        |)
        |SELECT key, day, rev_micro, delta_micro FROM l
        |WHERE delta_micro IS NOT NULL
        |ORDER BY abs(delta_micro) DESC, key, day LIMIT 10""".stripMargin,
    "d_containment" -> containmentSql,
    "d_containment_blocked" -> containmentSql,
    "d_dedup_minhash" -> minhashSql,
    "d_dedup_lsh_stream" -> lshStreamSql,
    "d_dedup_lsh_rebase_stream" -> lshRebaseStreamSql,
    "p_ingest_stream" -> ingestStreamSql,
    "p_ingest_decon_stream" -> ingestDeconStreamSql,
    "d_dedup_embed_lsh_stream" -> embedLshStreamSql,
    "d_dedup_simhash" -> simhashSql,
    "d_dedup_bow_lsh" -> bowLshSql,
    "q_movers" ->
      """WITH d AS (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT key, day, rev_micro,
        |    rev_micro - lag(rev_micro) OVER (PARTITION BY key ORDER BY day)
        |      AS delta_micro
        |  FROM d
        |)
        |SELECT key, day, rev_micro, delta_micro FROM l
        |WHERE delta_micro IS NOT NULL
        |ORDER BY abs(delta_micro) DESC, key, day LIMIT 10""".stripMargin,
    "p_range_bounds" ->
      """WITH s AS (
        |  SELECT n_chars AS v FROM documents
        |  WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |      AS BIGINT) / 281474976710656.0 < 0.5
        |), r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS cnt
        |  FROM s
        |), p AS (
        |  SELECT CAST(unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
        |    AS DOUBLE) AS p
        |)
        |SELECT p, v AS value
        |FROM r JOIN p ON rn = greatest(1, CAST(ceil(p * cnt) AS BIGINT))""".stripMargin,
    "q_range_join_stream" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, tier, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM events
        |JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
        |             ('high', 150.0, 1e12)) t(tier, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY 1, 2""".stripMargin,
    "q_trend_slope" -> trendSlopeSql,
    "q_trend_slope_stream" -> trendSlopeSql,
    "p_mixture_alloc" ->
      """WITH avail AS (
        |  SELECT source AS key, CAST(sum(n_chars) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1
        |), t(tk, w) AS (VALUES ('src0', 300000), ('src1', 400000),
        |                       ('src2', 200000), ('src3', 100000)),
        |p AS (
        |  SELECT key, avail_tokens,
        |    CAST(coalesce(w, 0) AS BIGINT) * 20000 // 1000000 AS target_tokens
        |  FROM avail LEFT JOIN t ON key = tk
        |)
        |SELECT key, avail_tokens, target_tokens,
        |  CAST(least(target_tokens, avail_tokens) AS BIGINT) AS alloc_tokens,
        |  CAST(CAST(least(target_tokens, avail_tokens) AS BIGINT) * 1000000
        |    // avail_tokens AS BIGINT) AS keep_frac_micro
        |FROM p""".stripMargin,
    "q_psi" -> psiSql,
    "q_psi_stream" -> psiSql,
    "q_cusum" -> cusumSql,
    "q_cusum_stream" -> cusumSql,
    "q_seasonal_residuals" -> seasonalSql,
    "q_seasonal_residuals_stream" -> seasonalSql,
    "p_manifest" ->
      """SELECT source AS "group", count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_weight,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
        |FROM documents GROUP BY 1""".stripMargin,
    "p_kfold" ->
      """SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |    AS BIGINT) % 5 AS fold,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "s_phrase_search" ->
      s"""WITH d AS (SELECT doc_id, $tokensExpr AS w FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    [i for i in range(1, len(w)) if w[i] = 'fast' AND w[i+1] = 'spark'] AS hits
         |  FROM d WHERE len(w) >= 2
         |)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
         |  CAST(hits[1] AS BIGINT) AS first_pos
         |FROM h WHERE len(hits) >= 1""".stripMargin,
    "d_dedup_editdist" -> editDistSql,
    "d_dedup_editdist_raw" -> editDistSql,
    "q_corr_series" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT a.event_type AS key_a, b.event_type AS key_b,
        |    CAST(a.y AS HUGEINT) AS xa, CAST(b.y AS HUGEINT) AS xb
        |  FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type
        |)
        |SELECT key_a, key_b, count(*) AS n_days,
        |  CAST(count(*) * sum(xa * xb) - sum(xa) * sum(xb)
        |    AS VARCHAR) AS corr_num,
        |  CAST(count(*) * sum(xa * xa) - sum(xa) * sum(xa)
        |    AS VARCHAR) AS den_a,
        |  CAST(count(*) * sum(xb * xb) - sum(xb) * sum(xb)
        |    AS VARCHAR) AS den_b
        |FROM p GROUP BY 1, 2""".stripMargin,
    "p_negatives" ->
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r
        |  FROM documents
        |), t AS (SELECT count(*) AS n FROM documents),
        |p AS (
        |  SELECT doc_id, r, n, j,
        |    (r + 1 + (CAST(concat('0x', substring(md5(
        |        concat(CAST(doc_id AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 12))
        |      AS BIGINT) % (n - 1))) % n AS nr
        |  FROM r, t, (SELECT unnest([1, 2, 3]) AS j)
        |)
        |SELECT p.doc_id, CAST(p.j AS BIGINT) AS j, r2.doc_id AS neg_id
        |FROM p JOIN r r2 ON p.nr = r2.r""".stripMargin,
    "s_rrf_fusion" ->
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
         |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin,
    "d_cluster_sizes_raw" -> clusterSizesSql,
    "d_cluster_sizes" -> clusterSizesSql,
    "q_range_join" ->
      """SELECT tier, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM events
        |JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
        |             ('high', 150.0, 1e12)) t(tier, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY 1""".stripMargin,
    "q_gap_fill" ->
      """WITH hourly AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hr,
        |         sum(CAST(value AS DECIMAL(18,6))) AS rev
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT min(date_trunc('hour', ts)) AS h0,
        |         max(date_trunc('hour', ts)) AS h1
        |  FROM events
        |), grid AS (
        |  SELECT key, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |  FROM (SELECT DISTINCT event_type AS key FROM events) CROSS JOIN b
        |)
        |SELECT grid.key AS event_type, grid.hr,
        |  CAST(coalesce(rev, 0) AS DOUBLE) AS rev,
        |  CAST(last_value(rev IGNORE NULLS) OVER (
        |      PARTITION BY grid.key ORDER BY grid.hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rev_locf
        |FROM grid LEFT JOIN hourly
        |  ON grid.key = hourly.key AND grid.hr = hourly.hr""".stripMargin,
    "s_boolean_search" ->
      s"""WITH tf AS (
         |  SELECT doc_id, w, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($tokensExpr) AS w FROM documents)
         |  WHERE w IN ('dup', 'spark', 'window') GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
         |FROM tf GROUP BY doc_id HAVING count(*) = 3""".stripMargin,
    "p_dsir" ->
      s"""WITH tf AS (
         |  SELECT doc_id, t, w, count(*) AS tf FROM (
         |    SELECT doc_id, (lang = 'en') AS t,
         |      unnest($tokensExpr) AS w FROM documents)
         |  GROUP BY 1, 2, 3
         |), vocab AS (
         |  SELECT w, CAST(sum(tf) AS BIGINT) AS c_r,
         |    CAST(sum(CASE WHEN t THEN tf ELSE 0 END) AS BIGINT) AS c_t
         |  FROM tf GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
         |    CAST(sum(c_t) AS BIGINT) AS n_t, count(*) AS v
         |  FROM vocab
         |)
         |SELECT doc_id,
         |  CAST(sum(tf * (
         |    CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
        |       * 1000000) AS BIGINT)
         |    - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + v AS DOUBLE))
        |       * 1000000) AS BIGINT)
         |  )) AS BIGINT) AS llr_1e6,
         |  CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM tf JOIN vocab USING (w) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,
    "p_dsir_resample" ->
      s"""WITH tf AS (
         |  SELECT doc_id, t, w, count(*) AS tf FROM (
         |    SELECT doc_id, (lang = 'en') AS t,
         |      unnest($tokensExpr) AS w FROM documents)
         |  GROUP BY 1, 2, 3
         |), vocab AS (
         |  SELECT w, CAST(sum(tf) AS BIGINT) AS c_r,
         |    CAST(sum(CASE WHEN t THEN tf ELSE 0 END) AS BIGINT) AS c_t
         |  FROM tf GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
         |    CAST(sum(c_t) AS BIGINT) AS n_t, count(*) AS v
         |  FROM vocab
         |), wts AS (
         |  SELECT doc_id,
         |    CAST(sum(tf * (
         |      CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
         |         * 1000000) AS BIGINT)
         |      - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + v AS DOUBLE))
         |         * 1000000) AS BIGINT)
         |    )) AS BIGINT) AS llr_1e6,
         |    CAST(sum(tf) AS BIGINT) AS n_tokens
         |  FROM tf JOIN vocab USING (w) CROSS JOIN tot
         |  GROUP BY doc_id
         |), ws AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor(exp(CAST(llr_1e6 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |        / 1000000.0) * 1000000.0) AS BIGINT) AS w_1e6
         |  FROM wts
         |), norm AS (
         |  SELECT CAST(sum(w_1e6) AS BIGINT) AS w_sum, count(*) AS n_docs FROM ws
         |)
         |SELECT doc_id, w_1e6, n_tokens
         |FROM ws CROSS JOIN norm
         |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0
         |      < least(1.0, 0.25 * CAST(w_1e6 * n_docs AS DOUBLE) / CAST(w_sum AS DOUBLE))""".stripMargin,
    "q_pareto" ->
      """WITH pk AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(18,6))) AS rev
        |  FROM events GROUP BY 1
        |), t AS (SELECT sum(rev) AS tot FROM pk)
        |SELECT user_id,
        |  row_number() OVER w AS rank,
        |  CAST(rev AS DOUBLE) AS rev,
        |  CAST(floor(CAST(sum(rev) OVER (ORDER BY rev DESC, user_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(tot AS DOUBLE) * 1000000) AS BIGINT) AS cum_share_micro
        |FROM pk CROSS JOIN t
        |WINDOW w AS (ORDER BY rev DESC, user_id ASC)""".stripMargin,
    "q_zscore_outliers" ->
      """WITH st AS (
        |  SELECT event_type AS et, sum(CAST(value AS DECIMAL(18,6))) AS sv,
        |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sv2,
        |    count(*) AS n
        |  FROM events GROUP BY 1
        |), z AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    (e.value - CAST(sv AS DOUBLE) / n)
        |      / sqrt((CAST(sv2 AS DOUBLE)
        |        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / n) AS zv
        |  FROM events e JOIN st ON e.event_type = st.et
        |)
        |SELECT event_id, event_type, value,
        |  CAST(floor(zv * 1000000) AS BIGINT) AS z_micro
        |FROM z WHERE abs(zv) > 3.0""".stripMargin,
    "t_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2
        |), d AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |    CAST(count(*) AS BIGINT) AS n_char_types,
        |    CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000)
        |      AS BIGINT)) AS BIGINT) AS s
        |  FROM g GROUP BY 1
        |)
        |SELECT doc_id, n_chars, n_char_types,
        |  CAST(CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS DOUBLE) - CAST(s AS DOUBLE) / n_chars AS ent_micro
        |FROM d""".stripMargin,
    "t_normalize" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' caf' || 'e' || chr(769) || ' No'
        |      || CAST(doc_id % 7 AS VARCHAR) AS salted
        |  FROM documents
        |)
        |SELECT doc_id, md5(nfc_normalize(salted)) AS norm_md5,
        |  CAST(length(salted) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(salted)) AS BIGINT) AS n_nfc
        |FROM s""".stripMargin,
    "t_langid" ->
      s"""SELECT doc_id,
         |  CASE WHEN $stopCntExpr >= 2 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM documents""".stripMargin,
    "t_repetition" ->
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS w FROM documents)
         |SELECT doc_id,
         |  greatest(1, len(w) - 2) AS n_shingles,
         |  1.0 - len($shinglesExpr) / CAST(greatest(1, len(w) - 2) AS DOUBLE)
         |    AS repetition_ratio
         |FROM t""".stripMargin,
    "t_fingerprint" ->
      s"SELECT doc_id, $fpExpr AS fp FROM documents",
    "t_pii" -> piiSql,
    "t_doc_freq" ->
      s"""WITH t AS (
         |  SELECT DISTINCT doc_id, unnest($tokensExpr) AS token FROM documents
         |), d AS (SELECT token, count(*) AS df FROM t GROUP BY 1)
         |SELECT * FROM (
         |  SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rank FROM d
         |) ranked WHERE rank <= 100""".stripMargin,
    "t_unigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
         |c AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c)
         |SELECT doc_id,
         |  CAST(sum(tf * CAST(floor(ln(CAST(c + 1 AS DOUBLE)
         |    / CAST(n + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS logprob_1e6,
         |  CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM tf JOIN c USING (w) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,
    "t_bigram_lm" ->
      s"""WITH prs AS (
         |  SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]}
         |    for i in range(1, len(w))]) AS p
         |  FROM (SELECT doc_id, $tokensExpr AS w FROM documents)
         |), ptf AS (
         |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
         |  FROM prs GROUP BY 1, 2, 3
         |), c2 AS (
         |  SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM ptf GROUP BY 1, 2
         |), c1 AS (
         |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
         |), v AS (
         |  SELECT count(*) AS v FROM (
         |    SELECT DISTINCT unnest($tokensExpr) AS w FROM documents)
         |), terms AS (
         |  SELECT c2.w1, c2.w2,
         |    CAST(floor(ln(CAST(c2 + 1 AS DOUBLE)
         |      / CAST(c1 + v AS DOUBLE)) * 1000000) AS BIGINT) AS lp
         |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v
         |)
         |SELECT doc_id,
         |  CAST(sum(tf * lp) AS BIGINT) AS logprob2_1e6,
         |  CAST(sum(tf) AS BIGINT) AS n_bigrams
         |FROM ptf JOIN terms USING (w1, w2)
         |GROUP BY doc_id""".stripMargin,
    "p_corpus_report" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, lang, n_chars,
         |    len($tokensExpr) AS n_toks, md5(text) AS fp
         |  FROM documents),
         |base AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |    count(DISTINCT lang) AS n_langs
         |  FROM d GROUP BY 1),
         |dup AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
         |  FROM (SELECT source, fp, count(*) AS c FROM d GROUP BY 1, 2) GROUP BY 1),
         |med AS (
         |  SELECT source, CAST(n_chars AS BIGINT) AS chars_p50 FROM (
         |    SELECT source, n_chars,
         |      row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         |      count(*) OVER (PARTITION BY source) AS cnt
         |    FROM d) r
         |  WHERE rn = greatest(1, CAST(ceil(0.5 * cnt) AS BIGINT))),
         |lr AS (
         |  SELECT source, lang AS top_lang, CAST(n AS BIGINT) AS top_lang_n FROM (
         |    SELECT source, lang, count(*) AS n,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY count(*) DESC, lang) AS rk
         |    FROM d GROUP BY source, lang) t
         |  WHERE rk = 1)
         |SELECT base.source, n_docs, n_tokens, n_langs, n_dup_docs, chars_p50,
         |  top_lang, top_lang_n
         |FROM base JOIN dup USING (source) JOIN med USING (source)
         |JOIN lr USING (source)""".stripMargin,
    "p_gopher_filter" ->
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    CAST(len($tokensExpr) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |      / len($tokensExpr) AS avg_token_len,
         |    CAST(len(regexp_extract_all(text, '#'))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |      / len($tokensExpr) AS symbol_ratio,
         |    CAST(len(list_filter($tokensExpr,
         |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
         |      / len($tokensExpr) AS alpha_word_ratio,
         |    CAST($stopCntExpr AS BIGINT) AS stop_hits,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS bullet_line_frac,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
         |      / greatest(1, len(string_split(text, chr(10)))) AS ellipsis_line_frac
         |  FROM documents)
         |SELECT doc_id, n_tokens, avg_token_len, symbol_ratio, alpha_word_ratio,
         |  stop_hits,
         |  (n_tokens BETWEEN 50 AND 100000
         |   AND avg_token_len BETWEEN 3.0 AND 10.0
         |   AND symbol_ratio < 0.1
         |   AND alpha_word_ratio > 0.8
         |   AND stop_hits >= 2
         |   AND bullet_line_frac < 0.9
         |   AND ellipsis_line_frac < 0.3) AS keep
         |FROM sig""".stripMargin,
    "p_skew_report" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys FROM c
        |)
        |SELECT user_id, cnt,
        |  CAST(floor(cnt * 1000000 / n_rows) AS BIGINT) AS share_ppm,
        |  n_rows, n_keys
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin,
    "p_lm_filter" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensExpr) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
         |c AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c),
         |lm AS (
         |  SELECT doc_id,
         |    CAST(sum(tf * CAST(floor(ln(CAST(c + 1 AS DOUBLE)
         |      / CAST(n + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS logprob_1e6,
         |    CAST(sum(tf) AS BIGINT) AS n_tokens
         |  FROM tf JOIN c USING (w) CROSS JOIN tot
         |  GROUP BY doc_id
         |), ranked AS (
         |  SELECT lm.doc_id, d.source, lm.logprob_1e6, lm.n_tokens,
         |    percent_rank() OVER (PARTITION BY d.source
         |      ORDER BY CAST(lm.logprob_1e6 AS DOUBLE) / lm.n_tokens) AS pct
         |  FROM lm JOIN documents d USING (doc_id)
         |)
         |SELECT doc_id, source, logprob_1e6, n_tokens
         |FROM ranked WHERE pct >= 0.1 AND pct <= 0.9""".stripMargin,
    "t_pmi_bigrams" ->
      s"""WITH t AS (SELECT doc_id, $tokensExpr AS ws FROM documents),
         |toks AS (SELECT unnest(ws) AS w FROM t),
         |u AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM toks),
         |s AS (
         |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |  FROM t WHERE len(ws) >= 2
         |), b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM s),
         |cxy AS (SELECT w1, w2, count(*) AS n_xy FROM b GROUP BY 1, 2),
         |scored AS (
         |  SELECT w1, w2, n_xy,
         |    CAST(floor(ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
         |      / (CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))) * 10000) AS BIGINT) AS s4
         |  FROM cxy JOIN u cx ON cx.w = cxy.w1 JOIN u cy ON cy.w = cxy.w2 CROSS JOIN tot
         |  WHERE n_xy >= 5)
         |SELECT w1, w2, n_xy, rank FROM (
         |  SELECT w1, w2, n_xy, row_number() OVER (ORDER BY s4 DESC, w1, w2) AS rank
         |  FROM scored
         |) ranked WHERE rank <= 100""".stripMargin,
    "t_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tokensExpr) AS token FROM documents
         |), tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfr AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.token AS token, tf.tf AS tf, df,
         |    CAST(floor(tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE))
         |      * 10000) AS BIGINT) AS score_1e4
         |  FROM tf JOIN dfr USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, df, rank FROM (
         |  SELECT doc_id, token, tf, df,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score_1e4 DESC, token) AS rank
         |  FROM scored
         |) ranked WHERE rank <= 5""".stripMargin,
    "e_centroids" ->
      """SELECT label, u.pos AS pos,
        |  CAST(sum(CAST(floor(u.v * 1000000) AS BIGINT)) AS DOUBLE)
        |    / 1000000 / count(*) AS mean_v
        |FROM (SELECT label, unnest(list_transform(CAST(embedding AS DOUBLE[]),
        |        (x, i) -> {'pos': i - 1, 'v': x})) AS u
        |      FROM embeddings)
        |GROUP BY label, u.pos""".stripMargin,
    "e_kmeans_fit" -> kmeansFitOracle(k = 64, iters = 3, dim = 64),
    "e_cluster_sample" -> kmeansFitOracle(k = 64, iters = 3, dim = 64,
      finalSelect =
        """SELECT id AS vec_id, list_id FROM (
          |  SELECT id, list_id,
          |         row_number() OVER (PARTITION BY list_id
          |                            ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
          |  FROM a_FINAL) WHERE rn <= 4""".stripMargin),
    "e_jl_project" ->
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
        |GROUP BY 1, 2""".stripMargin,
    "e_quantize_int8" ->
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
        |FROM q""".stripMargin,
    "e_truncate" ->
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
        |FROM r""".stripMargin,
    "t_len_quantiles" -> lenQuantilesSql,
    "t_len_quantiles_approx" -> lenQuantilesSql,
    "t_bm25" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensExpr) AS token FROM documents
         |), dfreq AS (
         |  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
         |), top AS (
         |  SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 20
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
         |), st AS (
         |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |)
         |SELECT tf.doc_id, tf.token, tf.tf, top.df,
         |  CAST(floor(
         |    ln(1.0 + (st.n_docs - top.df + 0.5) / (top.df + 0.5)) *
         |    ((CAST(tf.tf AS DOUBLE) * 1.25 + CAST(tf.tf AS DOUBLE)) /
         |     (CAST(tf.tf AS DOUBLE) +
         |      1.25 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))) *
         |    10000) AS BIGINT) AS score_1e4
         |FROM tf JOIN top USING (token) JOIN dl USING (doc_id) CROSS JOIN st""".stripMargin,
    "t_calibrate" ->
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct_rank
        |FROM documents""".stripMargin,
    "t_length_filter" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents
        |), b AS (
        |  SELECT source,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * cnt) AS BIGINT))
        |        THEN n_chars END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * cnt) AS BIGINT))
        |        THEN n_chars END) AS hi
        |  FROM r GROUP BY source
        |)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN b ON d.source = b.source
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin,
    "s_knn_brute" ->
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
        |) ranked WHERE rank <= 5""".stripMargin,
    "s_knn_lsh" -> sKnnLshSql,
    "s_knn_ivf" -> sKnnIvfSql,
    "s_knn_pq" -> sKnnPqSql,
    "d_dedup_semantic" -> dedupSemanticSql,
    "e_pca" -> pcaSql(whiten = false),
    "e_whiten" -> pcaSql(whiten = true),
    "s_knn_binary" -> sKnnBinarySql,
    "s_mmr" -> sMmrSql,
    "d_dedup_embed_lsh" -> dedupEmbedLshSql,
    "t_heavy_tokens" ->
      s"""WITH toks AS (
         |  SELECT unnest($tokensExpr) AS token FROM documents
         |), total AS (SELECT count(*) AS n_total FROM toks)
         |SELECT token, count(*) AS cnt, (SELECT n_total FROM total) AS n_total
         |FROM toks GROUP BY token
         |HAVING count(*) * 65 > (SELECT n_total FROM total)""".stripMargin,
    "t_cms_counts" ->
      s"""WITH tk AS (
         |  SELECT w FROM (SELECT unnest($tokensExpr) AS w FROM documents)
         |  WHERE w <> ''
         |), grid AS (
         |  SELECT i,
         |    CAST(concat('0x', substring(md5(concat('42:', CAST(i AS VARCHAR),
         |      '|', w)), 1, 12)) AS BIGINT) % 2719 AS b,
         |    count(*) AS cnt
         |  FROM tk, range(5) r(i) GROUP BY 1, 2
         |), probes AS (
         |  SELECT DISTINCT w FROM (
         |    SELECT unnest($tokensExpr) AS w
         |    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 10)
         |  ) WHERE w <> ''
         |), pb AS (
         |  SELECT p.w, r.i,
         |    CAST(concat('0x', substring(md5(concat('42:', CAST(r.i AS VARCHAR),
         |      '|', p.w)), 1, 12)) AS BIGINT) % 2719 AS b
         |  FROM probes p, range(5) r(i)
         |)
         |SELECT pb.w, CAST(min(coalesce(grid.cnt, 0)) AS BIGINT) AS est
         |FROM pb LEFT JOIN grid ON grid.i = pb.i AND grid.b = pb.b
         |GROUP BY 1""".stripMargin,
    "t_bpe_train" -> bpeTrainSql,
    "t_bpe_encode" -> bpeEncodeSql,
    "q_uv_daily_approx" -> uvDailyHllSql,
    "q_uv_sketch" -> uvSketchHllSql,
    "q_uv_sketch_stream" -> uvSketchHllSql,
    "q_wau_sketch" -> wauSketchHllSql,
    "q_uv_daily_bloom" ->
      """WITH u AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)
        |    AS window_start, user_id
        |  FROM events
        |), h AS (
        |  SELECT window_start,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |      AS BIGINT) AS h1,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 13, 12))
        |      AS BIGINT) | 1 AS h2
        |  FROM u
        |), bits AS (
        |  SELECT DISTINCT window_start, (h1 + i * h2) % 1048576 AS bit
        |  FROM h, range(4) r(i)
        |), x AS (
        |  SELECT window_start, count(*) AS nset FROM bits GROUP BY 1
        |)
        |SELECT window_start,
        |  CAST(floor(-(1048576.0 / 4) * ln(1 - nset / 1048576.0) + 0.5)
        |    AS BIGINT) AS uv_bloom
        |FROM x""".stripMargin,
    "d_dedup_embed" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) AS sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) >= 4000""".stripMargin,
    "d_decon_embed" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |)
        |SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
        |  CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) AS sim
        |FROM v a JOIN v b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
        |WHERE CAST(floor(list_cosine_similarity(a.e, b.e) * 10000) AS BIGINT) >= 4000""".stripMargin,
    "d_decon_embed_lsh" -> deconEmbedLshSql,
    "d_decon_embed_ivf" -> deconEmbedIvfSql,
    "m_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest,
        |  64 + octet_length(encode(text)) % 960 AS width,
        |  64 + (octet_length(encode(text)) * 7) % 960 AS height,
        |  3 AS channels
        |FROM documents""".stripMargin,
    "m_exif_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS endian,
        |  doc_id % 8 + 1 AS orientation,
        |  64 + doc_id % 2000 AS exif_w,
        |  64 + (doc_id * 3) % 2000 AS exif_h
        |FROM documents""".stripMargin,
    "m_image_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |  64 + doc_id % 960 AS width,
        |  64 + (doc_id * 7) % 960 AS height
        |FROM documents""".stripMargin,
    "p_zorder_layout" ->
      """WITH b AS (
        |  SELECT event_id, user_id % 1024 AS ux,
        |    (epoch_us(ts) // 3600000000) % 1024 AS uy
        |  FROM events
        |)
        |SELECT event_id, ux, uy,
        |  CAST((SELECT sum((((ux >> i) & 1) << (2*i)) + (((uy >> i) & 1) << (2*i+1)))
        |        FROM range(10) t(i)) AS BIGINT) AS z
        |FROM b""".stripMargin,
    "p_corpus_e2e" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, text, $fpExpr AS fp, $tokensExpr AS w FROM documents
         |), dedup AS (
         |  SELECT doc_id, source, text, w FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM base
         |  ) WHERE doc_id = keep_id
         |), q AS (
         |  SELECT doc_id, source, w FROM dedup
         |  WHERE len(w) >= 5 AND $stopCntExpr >= 2
         |), sp AS (
         |  SELECT doc_id, source, w,
         |    CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0 < 0.9 THEN 'train' ELSE 'eval' END AS split
         |  FROM q
         |), g AS (SELECT doc_id, split, $shinglesExpr AS sh FROM sp),
         |leak AS (
         |  SELECT DISTINCT a.doc_id FROM g a JOIN g b ON a.split = 'train' AND b.split = 'eval'
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.5
         |), tr AS (
         |  SELECT doc_id, source FROM sp WHERE split = 'train'
         |    AND doc_id NOT IN (SELECT doc_id FROM leak)
         |), mix AS (
         |  SELECT doc_id, source FROM (
         |    SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS n_s FROM tr
         |  ) WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |        / 281474976710656.0 < least(1.0, 3.0 / sqrt(CAST(n_s AS DOUBLE)))
         |), sh AS (
         |  SELECT doc_id, source, md5(concat('0-', CAST(doc_id AS VARCHAR))) AS h FROM mix
         |)
         |SELECT doc_id, source,
         |  CAST(concat('0x', substring(h, 1, 12)) AS BIGINT) % 8 AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY CAST(concat('0x', substring(h, 1, 12)) AS BIGINT) % 8
         |    ORDER BY h, CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos
         |FROM sh""".stripMargin,
    "p_split_leakage" ->
      s"""WITH s0 AS (
         |  SELECT doc_id, text,
         |    CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
         |      / 281474976710656.0 < 0.9 THEN 'train' ELSE 'eval' END AS split
         |  FROM documents
         |), d AS (SELECT doc_id, split, $tokensExpr AS w FROM s0),
         |g AS (SELECT doc_id, split, $shinglesExpr AS sh FROM d)
         |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(a.sh || b.sh)) AS jaccard
         |FROM g a JOIN g b ON a.split = 'train' AND b.split = 'eval'
         |WHERE len(list_intersect(a.sh, b.sh)) > 0
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin,
    "p_shuffle" ->
      """WITH s AS (
        |  SELECT doc_id, md5(concat('0-', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, h,
        |    CAST(concat('0x', substring(h, 1, 12)) AS BIGINT) % 8 AS shard
        |  FROM s
        |)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY h, CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos
        |FROM sh""".stripMargin,
    "m_frames" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 50 AS BIGINT) AS n_frames,
        |  CAST(i AS BIGINT) AS frame_idx
        |FROM documents, unnest(range(0, CAST(1 + doc_id % 50 AS BIGINT), 3)) AS u(i)""".stripMargin,
    "t_langid_model" ->
      """WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
        |tri AS (
        |  SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS g
        |  FROM d, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
        |),
        |prof AS (
        |  SELECT lang AS p_lang, g FROM (
        |    SELECT lang, g,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
        |    FROM tri GROUP BY lang, g
        |  ) WHERE rn <= 50
        |),
        |docg AS (SELECT DISTINCT doc_id, g FROM tri),
        |votes AS (
        |  SELECT docg.doc_id, prof.p_lang, count(*) AS v
        |  FROM docg JOIN prof ON docg.g = prof.g
        |  GROUP BY 1, 2
        |),
        |pred AS (
        |  SELECT doc_id, p_lang, v,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, p_lang) AS rn
        |  FROM votes
        |)
        |SELECT d0.doc_id,
        |  coalesce(p.p_lang, 'und') AS lang_pred,
        |  CAST(coalesce(p.v, 0) AS BIGINT) AS votes
        |FROM (SELECT doc_id FROM documents) d0
        |LEFT JOIN (SELECT * FROM pred WHERE rn = 1) p USING (doc_id)""".stripMargin,
    "m_audio_meta" ->
      """SELECT doc_id, 'wav' AS format,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT)
        |    AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(1000 + doc_id % 4000 AS BIGINT) AS n_samples,
        |  CAST((1000 + doc_id % 4000) * 1000
        |    // CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT)
        |    AS duration_ms
        |FROM documents""".stripMargin,
    "m_video_meta" ->
      """SELECT doc_id, 'mp4' AS format,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS BIGINT)
        |    AS timescale,
        |  CAST((doc_id + 1) * 30 AS BIGINT) AS duration,
        |  CAST((doc_id + 1) * 30 * 1000
        |    // CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS BIGINT)
        |    AS duration_ms,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
        |FROM documents""".stripMargin,
    "t_vocab" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensExpr) AS token FROM documents
         |), c AS (
         |  SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rn
         |  FROM c
         |)
         |SELECT doc_id,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS ttr,
         |  max(CASE WHEN rn = 1 THEN token END) AS top_token,
         |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
         |    / CAST(sum(cnt) AS DOUBLE) AS top_ratio
         |FROM r GROUP BY doc_id""".stripMargin,
    "d_keep_best" ->
      s"""WITH RECURSIVE r0 AS (
         |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY $fpExpr) AS keep
         |  FROM documents
         |), reps AS (
         |  SELECT doc_id, text FROM r0 WHERE doc_id = keep
         |), d AS (
         |  SELECT doc_id, $tokensExpr AS w FROM reps
         |), g AS (
         |  SELECT doc_id, $shinglesExpr AS sh FROM d
         |), p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.6
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p
         |), lab(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, lab.l FROM lab JOIN edges e ON lab.id = e.src
         |), clus AS (
         |  SELECT id, min(l) AS cluster_id FROM lab GROUP BY id
         |), ranked AS (
         |  SELECT c.id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY len($tokensExpr) DESC, c.id) AS rn
         |  FROM clus c JOIN reps ON reps.doc_id = c.id
         |), losers AS (SELECT id FROM ranked WHERE rn > 1)
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,
  )
}
