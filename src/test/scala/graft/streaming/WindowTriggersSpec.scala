package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Firing-sequence scenarios for the W5/W6 trigger semantics: per-event
  * FIRE_AND_PURGE cadence, on-time/late-update/too-late allowed-lateness
  * firings, and batch equivalence of the final pane values.
  */
class WindowTriggersSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def ev(key: String, t: String, kind: String, id: String): KeyedEvent =
    KeyedEvent(key, ts(t), kind, id)

  private def runScenario[T: Encoder](
      batches: Seq[Seq[KeyedEvent]],
      name: String)(op: Dataset[KeyedEvent] => Dataset[T]): Seq[T] = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = op(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      for (b <- batches) { input.addData(b); q.processAllAvailable() }
      input.addData(Seq(ev("__sentinel", "2030-01-01 00:00:00", "noop", "s")))
      q.processAllAvailable()
      input.addData(Seq(ev("__sentinel", "2030-01-01 00:00:01", "noop", "s2")))
      q.processAllAvailable()
      spark.table(name).as[T].collect().toSeq
    } finally q.stop()
  }

  test("fireAndPurgeCount: fires per ELEMENT with the running distinct count") {
    val out = runScenario(
      Seq(
        Seq(
          ev("u1", "2020-01-01 00:00:10", "pv", "a"),
          ev("u1", "2020-01-01 00:00:20", "pv", "b"),
          ev("u1", "2020-01-01 00:00:30", "pv", "a")), // dup id: fires, count unchanged
        Seq(ev("u1", "2020-01-01 00:01:10", "pv", "c"))), // next window restarts
      "wt_pane")(WindowTriggers.fireAndPurgeCount(_, "pv", 60L))
    assert(out.map(r => (r.window_start, r.cnt, r.fire_ts)) == Seq(
      (ts("2020-01-01 00:00:00"), 1L, ts("2020-01-01 00:00:10")),
      (ts("2020-01-01 00:00:00"), 2L, ts("2020-01-01 00:00:20")),
      (ts("2020-01-01 00:00:00"), 2L, ts("2020-01-01 00:00:30")),
      (ts("2020-01-01 00:01:00"), 1L, ts("2020-01-01 00:01:10"))))
  }

  test("fireAndPurgeCount: max(cnt) per pane equals the batch windowed distinct count") {
    val events = (for {
      k <- Seq("k1", "k2"); m <- 0 until 7
    } yield ev(k, f"2020-01-01 00:0$m%01d:05", "pv", s"id${m % 3}"))
      .sortBy(e => (e.ts.getTime, e.key)) // time-ordered: batches respect the global watermark
    val out = runScenario(Seq(events.take(8), events.drop(8)), "wt_equiv")(
      WindowTriggers.fireAndPurgeCount(_, "pv", 120L))
    val finals = out.groupBy(r => (r.key, r.window_start))
      .map { case (k, rs) => (k, rs.map(_.cnt).max) }
    val batch = events.toDF()
      .groupBy(col("key"), window(col("ts"), "2 minutes").as("w"))
      .agg(countDistinct(col("id")).as("cnt"))
      .select(col("key"), col("w.start"), col("cnt"))
      .as[(String, Timestamp, Long)].collect()
      .map { case (k, ws, c) => ((k, ws), c) }.toMap
    assert(finals == batch)
    // and the cadence is one firing per element
    assert(out.size == events.size)
  }

  test("countWithAllowedLateness: on-time fire, late re-fire, too-late side output, purge") {
    // size 60s, lateness 120s: window [10:00, 10:01) fires when the
    // reference watermark (max event time, out-of-orderness 0) passes
    // 10:01:00, accepts re-firing late elements until 10:03:00.
    val out = runScenario(
      Seq(
        Seq(
          ev("u1", "2020-01-01 10:00:10", "pv", "e1"),
          ev("u1", "2020-01-01 10:00:20", "pv", "e2")),
        Seq(ev("u1", "2020-01-01 10:02:30", "pv", "e3")),
        Seq(ev("u1", "2020-01-01 10:02:50", "pv", "e4")), // batch whose start watermark fires w[10:00]
        Seq(ev("u1", "2020-01-01 10:00:40", "pv", "e5")), // allowed late -> re-fire
        Seq(ev("u1", "2020-01-01 10:03:30", "pv", "e6")), // pushes ref watermark past 10:03
        Seq(ev("u1", "2020-01-01 10:00:55", "pv", "e7"))), // beyond lateness -> side output
      "wt_late")(WindowTriggers.countWithAllowedLateness(_, "pv", 60L, 120L).filter(_.key == "u1"))
    // w[10:02] fires from the no-data micro-batch Spark inserts when e6
    // advances the watermark — a timer firing, before e7's batch arrives
    assert(out.map(r => (r.firing, r.window_start, r.cnt, r.id)) == Seq(
      ("on_time", ts("2020-01-01 10:00:00"), 2L, ""),
      ("late_update", ts("2020-01-01 10:00:00"), 3L, "e5"),
      ("on_time", ts("2020-01-01 10:02:00"), 2L, ""),
      ("too_late", ts("2020-01-01 10:00:00"), 0L, "e7"),
      ("on_time", ts("2020-01-01 10:03:00"), 1L, "")))
  }

  test("countWithAllowedLateness sliding: element lands in size/slide windows, late re-fires each") {
    // size 2m, slide 1m, lateness 5m: e1@00:01:30 belongs to windows
    // starting 00:00 and 00:01
    val out = runScenario(
      Seq(
        Seq(ev("u", "2020-01-01 00:01:30", "pv", "e1")),
        Seq(ev("u", "2020-01-01 00:05:00", "pv", "e2")), // fires both e1 windows
        Seq(ev("u", "2020-01-01 00:01:40", "pv", "e3"))), // allowed late -> re-fires both
      "wt_slide")(
      WindowTriggers
        .countWithAllowedLateness(_, "pv", 120L, 300L, slideSec = Some(60L))
        .filter(_.key == "u"))
    // each element fires once per containing window: e1 -> 00:00/00:01,
    // e2 -> 00:04/00:05
    val onTime = out.filter(_.firing == "on_time").map(r => (r.window_start, r.cnt)).toSet
    assert(onTime == Set(
      (ts("2020-01-01 00:00:00"), 1L), (ts("2020-01-01 00:01:00"), 1L),
      (ts("2020-01-01 00:04:00"), 1L), (ts("2020-01-01 00:05:00"), 1L)))
    val refires = out.filter(_.firing == "late_update")
    assert(refires.map(r => (r.window_start, r.cnt, r.id)).toSet ==
      Set((ts("2020-01-01 00:00:00"), 2L, "e3"), (ts("2020-01-01 00:01:00"), 2L, "e3")))
  }

  test("countWithAllowedLateness: final count per window equals batch count despite lateness") {
    // events delivered out of order within the lateness bound
    val events = Seq(
      ev("a", "2020-01-01 00:00:10", "pv", "1"),
      ev("a", "2020-01-01 00:01:30", "pv", "2"),
      ev("a", "2020-01-01 00:00:50", "pv", "3"), // late into w[00:00]
      ev("a", "2020-01-01 00:02:10", "pv", "4"),
      ev("a", "2020-01-01 00:01:55", "pv", "5")) // late into w[00:01]
    val out = runScenario(events.map(Seq(_)), "wt_late_equiv")(
      WindowTriggers.countWithAllowedLateness(_, "pv", 60L, 300L).filter(_.key == "a"))
    assert(!out.exists(_.firing == "too_late"))
    val finals = out.filter(_.firing != "too_late")
      .groupBy(_.window_start).map { case (w, rs) => (w, rs.map(_.cnt).max) }
    assert(finals == Map(
      ts("2020-01-01 00:00:00") -> 2L,
      ts("2020-01-01 00:01:00") -> 2L,
      ts("2020-01-01 00:02:00") -> 1L))
  }
}
