package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}

/** The `transformWithState` machine ([[Tws]]) — the modern
  * StatefulProcessor API — must carry EXACTLY the semantics of its
  * `flatMapGroupsWithState` twin: same matched/timeout/resp_no_req rows
  * on a hand scenario and row-for-row equality on replayed real events.
  * `transformWithState` requires the RocksDB provider, so this suite
  * doubles as RocksDB coverage for the new API.
  */
class TwsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("StatefulProcessor matchWithTimeout: matched, timeout via named timer, resp_no_req") {
    GraftSession.withRocksDb(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[KeyedEvent]
      val q = Tws.matchWithTimeout(input.toDS(), "req", "resp", timeoutSec = 60L)
        .writeStream.format("memory").queryName("tws_match").outputMode("append").start()
      try {
        input.addData(Seq(
          KeyedEvent("u1", ts("2020-01-01 00:00:00"), "req", "r1"),
          KeyedEvent("u1", ts("2020-01-01 00:00:30"), "resp", "p1"), // matches r1
          KeyedEvent("u2", ts("2020-01-01 00:00:00"), "req", "r2"), // will time out
          KeyedEvent("u3", ts("2020-01-01 00:00:10"), "resp", "p9"))) // no req
        q.processAllAvailable()
        // watermark rides past r2's deadline: the REGISTERED TIMER fires
        // for u2 with no input rows for that key in the batch
        input.addData(Seq(KeyedEvent("zz", ts("2020-01-01 01:00:00"), "req", "r9")))
        q.processAllAvailable()
        input.addData(Seq(KeyedEvent("zz", ts("2020-01-01 01:00:01"), "resp", "p8")))
        q.processAllAvailable()
        val got = spark.table("tws_match").as[TaggedRow]
          .collect().map(r => (r.key, r.tag, r.first_ts, r.last_ts, r.info)).toSet
        assert(got == Set(
          ("u1", "matched", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:30"), "r1"),
          ("u2", "timeout", ts("2020-01-01 00:00:00"), ts("2020-01-01 00:01:00"), "r2"),
          ("u3", "resp_no_req", ts("2020-01-01 00:00:10"), ts("2020-01-01 00:00:10"), "p9"),
          ("zz", "matched", ts("2020-01-01 01:00:00"), ts("2020-01-01 01:00:01"), "r9")))
      } finally q.stop()
    }
  }

  test("transformWithState == flatMapGroupsWithState machine on replayed real events") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Timestamp, Timestamp, String)] =
        df.as[TaggedRow].collect().map(r => (r.key, r.tag, r.first_ts, r.last_ts, r.info)).toSet
      val tws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.matchWithTimeout(s, "signup", "purchase", timeoutSec = 86400L).toDF()
      })
      val fmgws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.matchWithTimeout(s, "signup", "purchase", timeoutSec = 86400L).toDF()
      })
      assert(tws.nonEmpty, "gate is vacuous: no signup/purchase traffic")
      assert(tws.exists(_._2 == "matched") && tws.exists(_._2 == "timeout"),
        s"fixture must exercise both paths: ${tws.map(_._2)}")
      assert(tws == fmgws)
    }
  }

  test("Tws.reconcile == StateMachines.reconcile on replayed real events") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Timestamp, Timestamp, String)] =
        df.as[TaggedRow].collect().map(r => (r.key, r.tag, r.first_ts, r.last_ts, r.info)).toSet
      val tws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.reconcile(s, "purchase", "signup", toleranceSec = 86400L).toDF()
      })
      val fmgws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.reconcile(s, "purchase", "signup", toleranceSec = 86400L).toDF()
      })
      assert(tws.nonEmpty, "gate is vacuous: no purchase/signup traffic")
      assert(Set("matched", "left_only", "right_only").subsetOf(tws.map(_._2)),
        s"fixture must exercise all three paths: ${tws.map(_._2)}")
      assert(tws == fmgws)
    }
  }

  test("Tws.windowTopN == StateMachines.windowTopN on replayed real events") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("event_type").as("key"),
          col("ts"),
          lit("page").as("kind"),
          col("event_id").cast("string").as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Timestamp, String, Long, Int)] =
        df.as[StateMachines.WindowTopRow].collect()
          .map(r => (r.window_start, r.item, r.cnt, r.rank)).toSet
      val tws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.windowTopN(s, sizeUs = 1800000000L, slideUs = 600000000L, n = 3).toDF()
      })
      val fmgws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.windowTopN(s, sizeUs = 1800000000L, slideUs = 600000000L, n = 3).toDF()
      })
      assert(tws.nonEmpty, "gate is vacuous: no windows emitted")
      assert(tws.exists(_._4 > 1), s"fixture must rank >1 item per window")
      assert(tws == fmgws)
    }
  }

  test("Tws.asOf == StateMachines.asOf on replayed real events") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Timestamp, Timestamp, String)] =
        df.as[TaggedRow].collect().map(r => (r.key, r.tag, r.first_ts, r.last_ts, r.info)).toSet
      val tws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.asOf(s, "view", "click").toDF()
      })
      val fmgws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.asOf(s, "view", "click").toDF()
      })
      assert(tws.nonEmpty, "gate is vacuous: no view/click traffic")
      assert(tws.exists(_._2 == "matched") && tws.exists(_._2 == "no_build"),
        s"fixture must exercise both paths: ${tws.map(_._2)}")
      assert(tws == fmgws)
    }
  }

  test("Tws.funnel == StateMachines.funnel on replayed real events") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      val steps = Seq("view", "click", "purchase")
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, Timestamp, Timestamp)] =
        df.as[StateMachines.FunnelRow].collect()
          .map(r => (r.key, r.n_reached, r.ts_first, r.ts_reached)).toSet
      val tws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.funnel(s, steps, windowSec = 7L * 86400L).toDF()
      })
      val fmgws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.funnel(s, steps, windowSec = 7L * 86400L).toDF()
      })
      assert(tws.nonEmpty, "gate is vacuous: no funnels emitted")
      assert(tws.map(_._2).size >= 2 && tws.exists(_._2 >= 2),
        s"fixture must exercise distinct chain depths: ${tws.map(_._2)}")
      assert(tws == fmgws)
    }
  }

  test("Tws.consecutiveMatches and Tws.dailyThreshold == their fGWS twins on replayed real events") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Timestamp, Timestamp, String)] =
        df.as[TaggedRow].collect().map(r => (r.key, r.tag, r.first_ts, r.last_ts, r.info)).toSet

      val runTws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.consecutiveMatches(s, "error", n = 2, maxGapSec = 7200L).toDF()
      })
      val runF = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.consecutiveMatches(s, "error", n = 2, maxGapSec = 7200L).toDF()
      })
      assert(runTws.nonEmpty && runTws == runF, s"run machine diverged (${runTws.size} vs ${runF.size})")

      val dayTws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        Tws.dailyThreshold(s, "click", threshold = 2L).toDF()
      })
      val dayF = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
        StateMachines.dailyThreshold(s, "click", threshold = 2L).toDF()
      })
      assert(dayTws.exists(_._2 == "warn") && dayTws.exists(_._2 == "pass"),
        s"fixture must exercise pass and warn: ${dayTws.map(_._2)}")
      assert(dayTws == dayF, s"day machine diverged (${dayTws.size} vs ${dayF.size})")
    }
  }

  test("Tws.windowTopN under 1s order jitter: still the exact batch answer") {
    // the ReplaySoakSpec windowTopN soak, on the new API: watermark delay
    // 4s > 2×jitter keeps every displaced row ahead of its window's
    // timer, so the MapState collector emits exactly the batch top-N
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val clicks = graft.io.Tables(spark, dir).events
        .filter(col("event_type") === "click")
      val input = clicks.select(
        lpad(col("user_id").cast("string"), 12, "0").as("key"),
        col("ts"),
        col("event_type").as("kind"),
        col("event_id").cast("string").as("id"))
      val streamed = Replay
        .keyedEvents(input, orderJitterSec = 1) { stream =>
          Tws.windowTopN(stream, sizeUs = 3600000000L, slideUs = 300000000L, n = 5,
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
        .perPartition(counts, Seq(col("window_start")),
          Seq(col("cnt").desc, col("user_id").asc), 5)
        .select(col("window_start"), col("user_id"), col("cnt"),
          col("rank").cast("long").as("rank"))
        .as[(Timestamp, Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty && streamed == batch)
    }
  }

  test("Tws.cepRun == Cep.run on replayed real events (times(3).within + followedBy patterns)") {
    GraftSession.withRocksDb(spark) {
      val dir = "/root/testdata/sf0.001"
      val events = graft.io.Tables(spark, dir).events
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id").cast("string").as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Timestamp, Timestamp, String)] =
        df.as[Cep.CepMatch].collect()
          .map(r => (r.key, r.status, r.first_ts, r.last_ts, r.first_id)).toSet
      // times(2) rather than the declared times(3): sf0.001 has no
      // 3-consecutive-error run, and a vacuous parity gate proves nothing
      val fail2 = Cep.Pattern.begin("fail")(_.kind == "error").times(2).within(21600L)
      val order = Cep.Pattern.begin("create")(_.kind == "signup")
        .followedBy("pay")(_.kind == "purchase").within(86400L)
      for ((pat, timeouts, label) <- Seq(
          (fail2, false, "times(2).consecutive.within"),
          (order, true, "followedBy.within + timeout side output"))) {
        val tws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
          Tws.cepRun(s, pat, emitTimeouts = timeouts).toDF()
        })
        val fmgws = rows(Replay.keyedEvents(events, nChunks = 6) { s =>
          Cep.run(s, pat, emitTimeouts = timeouts).toDF()
        })
        assert(tws.nonEmpty, s"$label: gate is vacuous")
        assert(tws == fmgws, s"$label: tws != fGWS NFA")
      }
    }
  }
}
