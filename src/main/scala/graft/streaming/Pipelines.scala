package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.TopN

/** The reference's ten applications as named, composable pipelines — one
  * entry per `main()` in SURVEY §3's module table. Each takes the already-
  * parsed input frame(s) (batch or streaming; see `graft.io` /  [[Sources]]
  * for source builders) and returns the transformed frame(s), so a user of
  * the reference switches by calling the pipeline with their source and
  * picking a sink.
  *
  * Parameters default to the reference app's constants (window sizes,
  * thresholds, timeouts), with the known reference bugs corrected per
  * SURVEY §2 (intended semantics).
  */
object Pipelines {

  /** HotItemApp (`gmall-user-behavior/.../app/HotItemApp.java`): pv-filter →
    * 1h/5m sliding count per item → top-N per window. Batch: ranks
    * directly. Streaming: rank inside foreachBatch via
    * [[EventTimeStreams.topNPerWindowBatcher]].
    */
  def hotItems(
      behaviors: DataFrame,
      n: Int = 5,
      size: String = "1 hour",
      slide: String = "5 minutes"): DataFrame = {
    val counts = graft.ops.WindowAggs.slidingCountPanes(
      behaviors.filter(col("behavior") === "pv"), col("ts"), size, slide, Seq(col("item_id")))
    TopN.perPartition(counts, Seq(col("window_start")),
      Seq(col("cnt").desc, col("item_id").asc), n)
  }

  /** HotUrlApp (`gmall-network-flow/.../app/HotUrlApp.java`): GET-filter →
    * 10m/5s sliding count per url → top-N (with the T2 report bug fixed:
    * the url column is the url, not a duplicated count).
    */
  def hotUrls(
      logs: DataFrame,
      n: Int = 5,
      size: String = "10 minutes",
      slide: String = "5 seconds"): DataFrame = {
    val counts = graft.ops.WindowAggs.slidingCountPanes(
      logs.filter(col("method") === "GET"), col("ts"), size, slide, Seq(col("url")))
    TopN.perPartition(counts, Seq(col("window_start")), Seq(col("cnt").desc, col("url").asc), n)
  }

  /** HotUrlApp's FULL event-time configuration (`gmall-network-flow/.../
    * app/HotUrlApp.java:62-70`: 1 s bounded out-of-orderness, sliding
    * 10 m / 5 s, `allowedLateness(60 s)`, `sideOutputLateData`) as a
    * streaming pipeline. Feed GET requests as [[KeyedEvent]]s with
    * key = url, kind = "GET"; returns the [[LateFire]] stream —
    * `on_time` / `late_update` rows carry the per-(window,url) counts
    * (rank the latest count per window in `foreachBatch`), `too_late`
    * rows are the late side output.
    */
  def hotUrlsWithLateness(
      requests: Dataset[KeyedEvent],
      sizeSec: Long = 600L,
      slideSec: Long = 5L,
      latenessSec: Long = 60L,
      outOfOrderSec: Long = 1L): Dataset[LateFire] =
    WindowTriggers.countWithAllowedLateness(
      requests, "GET", sizeSec, latenessSec, outOfOrderSec, Some(slideSec))

  /** PageViewApp (`gmall-network-flow/.../app/PageViewApp.java`): pv-filter
    * → tumbling 1h count. (PageViewApp_2's manual salting is a semantic
    * no-op under Spark's partial aggregation — SURVEY §4.)
    */
  def pageViews(behaviors: DataFrame, size: String = "1 hour"): DataFrame =
    graft.ops.WindowAggs.tumblingCount(
      behaviors.filter(col("behavior") === "pv"), col("ts"), size)

  /** UniqueVisitorApp / UniqueVisitorApp2: tumbling 1h distinct userIds —
    * exact (HashSet semantics) or approx (the Redis-bloom path as HLL++).
    */
  def uniqueVisitors(
      behaviors: DataFrame,
      size: String = "1 hour",
      exact: Boolean = true): DataFrame = {
    val pv = behaviors.filter(col("behavior") === "pv")
    if (exact)
      graft.ops.WindowAggs.tumblingCountDistinct(pv, col("ts"), size, col("user_id"))
    else
      graft.ops.WindowAggs.tumblingApproxDistinct(pv, col("ts"), size, col("user_id"))
  }

  /** AdClickApp (`gmall-market/.../app/AdClickApp.java`): blacklist stage
    * (C2, ≥`threshold` clicks per (user,ad) per day → warn once + suppress)
    * feeding the 1h/5s per-province count (A6). Returns (provinceCounts,
    * warnings) — the main output and the side output. Input encoding:
    * key = "userId|adId", kind = "click", id = province (the pass-through
    * payload the second stage aggregates on).
    */
  def adClickAnalytics(
      clicks: Dataset[KeyedEvent],
      threshold: Long = 100L,
      size: String = "1 hour",
      slide: String = "5 seconds"): (DataFrame, DataFrame) = {
    val tagged = StateMachines.dailyThreshold(clicks, "click", threshold)
    val passed = tagged.filter(col("tag") === "pass")
      .select(col("key"), col("last_ts").as("ts"), col("info").as("province"))
    val counts = graft.ops.WindowAggs.slidingCount(
      passed, col("ts"), size, slide, Seq(col("province")))
    (counts, tagged.filter(col("tag") === "warn").toDF())
  }

  /** channelApp (`gmall-market/.../app/channelApp.java`): UNINSTALL-filter
    * → per (channel, behavior) windowed count, with the A5 constant-1
    * aggregation bug replaced by a real count.
    */
  def channelStats(
      behaviors: DataFrame,
      size: String = "1 hour",
      slide: String = "5 seconds"): DataFrame =
    graft.ops.WindowAggs.slidingCount(
      behaviors.filter(col("behavior") =!= "UNINSTALL"),
      col("ts"), size, slide, Seq(col("channel"), col("behavior")))

  /** LoginFailWithState2 / the CEP variants
    * (`gmall-login-fail/.../app/...`): n consecutive fails within the
    * bound → warning rows.
    */
  def loginFailWarnings(
      logins: Dataset[KeyedEvent],
      n: Int = 2,
      maxGapSec: Long = 2L): Dataset[TaggedRow] =
    StateMachines.consecutiveMatches(logins, "fail", n, maxGapSec)

  /** OrderTimeOutStateApp / OrderTimeOutWithCepApp: create→pay within the
    * timeout; matched / timeout / pay-without-create tagged rows.
    */
  def orderTimeouts(
      orders: Dataset[KeyedEvent],
      timeoutSec: Long = 900L): Dataset[TaggedRow] =
    StateMachines.matchWithTimeout(orders, "create", "pay", timeoutSec)

  /** PayReceiptWithConnectApp (J2): tagged union of pay and receipt events
    * → matched / left_only / right_only. PayReceiptWithJoinApp (J1) is
    * [[StreamJoins.intervalJoin]] / `graft.ops.Joins.intervalJoin`.
    */
  def payReceiptReconciliation(
      events: Dataset[KeyedEvent],
      toleranceSec: Long): Dataset[TaggedRow] =
    StateMachines.reconcile(events, "pay", "receipt", toleranceSec)
}
