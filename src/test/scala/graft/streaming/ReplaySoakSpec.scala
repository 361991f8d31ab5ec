package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkSpec

/** Multi-micro-batch soak: replay the real sf0.001 events table through
  * [[Replay.keyedEvents]] in 10 time-ordered chunks (maxFilesPerTrigger=1 →
  * one micro-batch per chunk) and check the streaming consecutive-fail state
  * machine emits exactly the batch formulation's rows. Exercises state
  * carry-over and watermark advancement across many batches on real data —
  * the seam the 2-batch scenario tests don't stress.
  */
class ReplaySoakSpec extends SparkSpec {
  import spark.implicits._

  test("10-batch file replay of events: streaming consecutive-fails == batch") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
      .select(
        col("user_id").cast("string").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"))

    // micro-batches counted off the listener bus: progress events arrive
    // in order, so once the replay's termination is seen, all are counted
    val progress = new java.util.concurrent.atomic.AtomicInteger(0)
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      // 10 time-ordered chunk files + 2 sentinel batches, one micro-batch each
      val streamed = Replay
        .keyedEvents(events, nChunks = 10) { stream =>
          StateMachines.consecutiveMatches(stream, "error", 2, 7200L).toDF()
        }
        .as[TaggedRow].collect().map(r => (r.key, r.first_ts, r.last_ts)).toSet
      val batch = graft.ops.Sequences
        .consecutiveMatches(
          events.toDF(), col("key"), col("ts"), col("id"), col("kind") === "error", 2, 7200L)
        .as[(String, Timestamp, Timestamp)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
      assert(terminated.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val nBatches = progress.get()
      assert(nBatches >= 5, s"expected many micro-batches, got $nBatches")
    } finally spark.streams.removeListener(listener)
  }

  test("windowTopN under 1s order jitter: exact final top-N (lateness inside the margin)") {
    // out-of-order replay (arrival displaced ±1s from event-time order):
    // with watermark delay 4s > 2×jitter, every late row lands BEFORE its
    // window's timer can fire, so the collector still emits exactly the
    // batch answer — the W6 allowed-lateness story for the T1 collector
    val dir = "/root/testdata/sf0.001"
    val clicks = graft.io.Tables(spark, dir).events.filter(col("event_type") === "click")
    val input = clicks.select(
      lpad(col("user_id").cast("string"), 12, "0").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))
    val streamed = Replay
      .keyedEvents(input, orderJitterSec = 1) { stream =>
        StateMachines
          .windowTopN(stream, sizeUs = 3600000000L, slideUs = 300000000L, n = 5,
            watermarkDelay = "4 seconds")
          .toDF()
          .select(
            col("window_start"), col("item").cast("long").as("user_id"),
            col("cnt"), col("rank").cast("long").as("rank"))
      }
      .as[(Timestamp, Long, Long, Long)].collect().toSet
    val counts = graft.ops.WindowAggs
      .slidingCountPanes(clicks, col("ts"), "1 hour", "5 minutes", Seq(col("user_id")))
    val batch = graft.ops.TopN
      .perPartition(counts, Seq(col("window_start")), Seq(col("cnt").desc, col("user_id").asc), 5)
      .select(col("window_start"), col("user_id"), col("cnt"), col("rank").cast("long").as("rank"))
      .as[(Timestamp, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("funnel under 2s order jitter: exact final chains, single emission per key") {
    // out-of-order replay: with watermark delay 5s > 2×jitter every
    // displaced event arrives before the t1+horizon timer can fire, so
    // the greedy chain is exact AND the tombstone guarantees one row per
    // key even though users keep producing views past the horizon
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))
    val steps = Seq("view", "click", "purchase")
    val streamed = Replay
      .keyedEvents(input, orderJitterSec = 2) { stream =>
        StateMachines.funnel(stream, steps, 86400L, watermarkDelay = "5 seconds").toDF()
      }
      .select(col("key").cast("long"), col("n_reached"), col("ts_first"), col("ts_reached"))
      .as[(Long, Int, Timestamp, Timestamp)].collect()
    assert(streamed.map(_._1).distinct.length == streamed.length,
      "tombstone must hold: exactly one row per key")
    val batch = graft.ops.Sequences
      .funnel(events, col("user_id"), col("ts"), col("event_type"), steps, 86400L)
      .filter(col("n_reached") >= 1)
      .select(col("key"), col("n_reached"), col("ts_first"), col("ts_reached"))
      .as[(Long, Int, Timestamp, Timestamp)].collect().toSet
    assert(streamed.toSet == batch)
    assert(batch.nonEmpty)
  }

  test("retentionDays under 2s order jitter: exact cohort matrix, no early emission") {
    // cohort finality is watermark-proved (an event lowering the cohort
    // would be older than midnight(minDay) ≤ wm, hence dropped), so with
    // delay 5s > 2×jitter no real event is ever dropped and the emitted
    // (key, cohort, day) feed aggregates to exactly the batch matrix
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))
    val streamed = Replay
      .keyedEvents(input, orderJitterSec = 2) { stream =>
        StateMachines.retentionDays(stream, watermarkDelay = "5 seconds").toDF()
      }
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_n"))
      .agg(count(lit(1)).as("n_active"))
      .as[(java.sql.Date, Int, Long)].collect().toSet
    val e = events.select(col("user_id"), to_date(col("ts")).as("d"))
    val batch = e.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort"), collect_set(col("d")).as("days"))
      .select(col("cohort"), explode(col("days")).as("d"))
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_n"))
      .agg(count(lit(1)).as("n_active"))
      .as[(java.sql.Date, Int, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("scdHistory under 2s order jitter: exact validity intervals, one null-to per key") {
    // pending events buffer until the watermark proves no earlier change
    // can arrive, so jitter inside the 5s delay reorders nothing; the
    // emitted intervals equal the batch lead() construction exactly
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))
    val streamed = Replay
      .keyedEvents(input, orderJitterSec = 2) { stream =>
        StateMachines
          .scdHistory(stream, idleSec = 10L * 86400, watermarkDelay = "5 seconds")
          .toDF()
      }
      .select(col("key").cast("long"), col("id").cast("long"),
        col("valid_from"), col("valid_to"))
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSet
    val batch = graft.ops.Sequences
      .scdHistory(events, col("user_id"), col("ts"), col("event_id"))
      .select(col("user_id"), col("event_id"), col("valid_from"), col("valid_to"))
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // exactly one open (null valid_to) version per key
    val opens = streamed.toSeq.filter(_._4.isEmpty).groupBy(_._1).map(_._2.size)
    assert(opens.forall(_ == 1))
  }

  test("dailyMovingStats under 2s order jitter: exact day sums, windows, and cum totals") {
    // a day finalizes only when wm passes its END + delay headroom; with
    // delay 5s > 2×jitter every event lands before its day closes, so
    // the emitted (day, sum, ma-window, cum) rows equal the batch window
    // functions exactly — including integer micro sums
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("event_type").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("value"))
    val streamed = Replay
      .keyedValueEvents(input, orderJitterSec = 2) { stream =>
        StateMachines.dailyMovingStats(stream, window = 7, watermarkDelay = "5 seconds").toDF()
      }
      .select(col("key"), col("day").cast("string"),
        col("rev_micro"), col("ma_num_micro"), col("ma_cnt"), col("cum_micro"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val batch = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast("decimal(18,6)") * 1000000).cast("long")).as("rev"))
      .select(
        col("event_type"), col("day").cast("string"),
        col("rev"),
        sum(col("rev")).over(w.rowsBetween(-6, 0)).as("num"),
        count(lit(1)).over(w.rowsBetween(-6, 0)).as("cnt"),
        sum(col("rev")).over(w.rowsBetween(Long.MinValue, 0)).as("cum"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("eventSequences under 2s order jitter: exact capped sequences, one close per key") {
    // the maxLen-smallest buffer is union-associative (the cap of a union
    // equals the cap of capped parts ∪ new rows), so late arrivals inside
    // the watermark margin cannot corrupt the final sequence; idle 10d >
    // max per-key gap (~3.2d at sf0.001) pins a single close per key
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))
    val streamed = Replay
      .keyedEvents(input, orderJitterSec = 2) { stream =>
        StateMachines
          .eventSequences(stream, maxLen = 50, idleSec = 10L * 86400,
            watermarkDelay = "5 seconds")
          .toDF()
      }
      .select(col("key").cast("long"), col("n_events"), col("sequence"))
      .as[(Long, Long, String)].collect()
    assert(streamed.map(_._1).distinct.length == streamed.length,
      "idle horizon must close every key exactly once")
    val batch = graft.ops.Sequences
      .eventSequences(
        events, col("user_id"), col("ts"), col("event_id"), col("event_type"), 50)
      .select(col("key"), col("n_events"), col("sequence"))
      .as[(Long, Long, String)].collect().toSet
    assert(streamed.toSet == batch)
    assert(batch.nonEmpty)
  }

  test("transitionPairs under 2s order jitter: exact pair counts vs the batch twin") {
    // the pair extractor inherits eventSequences' buffered close, so
    // jitter inside the watermark margin re-sorts before any pair is cut
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("user_id").cast("string").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"))
    val streamed = Replay
      .keyedEvents(input, orderJitterSec = 2) { stream =>
        StateMachines
          .transitionPairs(stream, maxLen = 5000, idleSec = 10L * 86400,
            watermarkDelay = "5 seconds")
          .toDF()
      }
      .groupBy(col("from_kind"), col("to_kind")).agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type")).agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("trendSlope under 2s order jitter: exact rational slope vs the batch twin") {
    // day sums are commutative folds, so jitter inside the watermark
    // margin cannot change them; the 10d idle horizon exceeds every
    // per-key gap in the corpus but stays under the replay sentinel's
    // 30d margin (a 30d horizon missed the max-ts key by the watermark
    // delay — the sentinel could never prove it idle), so each key emits
    // exactly one final row whose BigInt rational equals the batch
    // DECIMAL(38) rational
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("event_type").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("value"))
    val streamed = Replay
      .keyedValueEvents(input, orderJitterSec = 2) { stream =>
        StateMachines
          .trendSlope(stream, idleSec = 10L * 86400L, watermarkDelay = "5 seconds")
          .toDF()
      }
      .select(col("key"), col("n_days"), col("slope_num"), col("slope_den"))
      .as[(String, Long, Option[String], Option[String])].collect().toSet
    val batch = graft.ops.Stats
      .trendSlopeByKey(events, col("event_type"), col("ts"), col("value"))
      .select(col("key"), col("n_days"),
        col("slope_num").cast("string"), col("slope_den").cast("string"))
      .as[(String, Long, Option[String], Option[String])].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    assert(batch.exists(_._2 >= 2), "gate is vacuous: no key with >= 2 days")
  }

  test("cusumDaily under 2s order jitter: exact recursion + alarms vs the batch twin") {
    // day sums are commutative folds (jitter-immune inside the margin)
    // and days finalize chronologically, so the carried max(0, ...)
    // recursion replays the batch fold exactly; refs come from the same
    // daily aggregate both twins share
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 1000000).cast("long").as("__y"))
    val refs = daily
      .groupBy(col("event_type"))
      .agg(expr("sum(__y) div count(1)").as("__mu"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(1))).toMap
    val input = events.select(
      col("event_type").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("value"))
    val streamed = Replay
      .keyedValueEvents(input, orderJitterSec = 2) { stream =>
        StateMachines.cusumDaily(stream, refs, watermarkDelay = "5 seconds").toDF()
      }
      .select(col("key"), col("day").cast("string"),
        col("rev_micro"), col("cusum_micro"), col("alarm"))
      .as[(String, String, Long, Long, Boolean)].collect().toSet
    val batch = graft.ops.Stats
      .cusumDaily(events, col("event_type"), col("ts"), col("value"))
      .select(col("key"), col("day").cast("string"),
        col("rev_micro"), col("cusum_micro"), col("alarm"))
      .as[(String, String, Long, Long, Boolean)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("seasonalResiduals under 2s order jitter: exact residuals vs the batch twin") {
    // day sums are jitter-immune inside the margin; the fitted weekday
    // baseline comes from the same daily aggregate both twins share
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
      .agg((sum(col("value").cast("decimal(18,6)")) * 1000000).cast("long").as("__y"))
      .withColumn("__dow", pmod(datediff(col("__day"), lit("1970-01-01")), lit(7)).cast("long"))
    val refs = daily
      .groupBy(col("event_type"), col("__dow"))
      .agg(expr("sum(__y) div count(1)").as("__mu"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val input = events.select(
      col("event_type").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"),
      (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("value"))
    val streamed = Replay
      .keyedValueEvents(input, orderJitterSec = 2) { stream =>
        StateMachines.seasonalResiduals(stream, refs, watermarkDelay = "5 seconds").toDF()
      }
      .select(col("key"), col("day").cast("string"), col("dow"),
        col("rev_micro"), col("dow_mean_micro"), col("residual_micro"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    val batch = graft.ops.Stats
      .seasonalResiduals(events, col("event_type"), col("ts"), col("value"))
      .select(col("key"), col("day").cast("string"), col("dow"),
        col("rev_micro"), col("dow_mean_micro"), col("residual_micro"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("psiSlices under 2s order jitter: exact PSI vs the batch twin") {
    // (bin, slice) counts are commutative; the micro-floored IEEE term
    // tree in the machine replicates the batch column expressions, so
    // the horizon-final row equals the batch aggregate bit-for-bit
    val dir = "/root/testdata/sf0.001"
    val events = graft.io.Tables(spark, dir).events
    val input = events.select(
      col("event_type").as("key"),
      col("ts"),
      col("event_type").as("kind"),
      col("event_id").cast("string").as("id"),
      floor(col("value") / 50.0).cast("long").as("value"))
    val streamed = Replay
      .keyedValueEvents(input, orderJitterSec = 2) { stream =>
        StateMachines
          .psiSlices(stream, idleSec = 10L * 86400L, watermarkDelay = "5 seconds")
          .toDF()
      }
      .select(col("key"), col("n_bins"), col("psi_micro"))
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.ops.Stats
      .psiByKey(events, col("event_type"), col("value"),
        expr("(unix_micros(ts) div 86400000000) % 2 = 0"), width = 50.0)
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }
}
