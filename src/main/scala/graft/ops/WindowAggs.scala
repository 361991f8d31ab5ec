package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time window aggregations.
  *
  * Re-expresses the reference's incremental window counts
  * (`gmall-user-behavior/.../app/HotItemApp.java:62,76-110` sliding count
  * per item; `gmall-network-flow/.../app/PageViewApp.java:57-60` tumbling
  * PV; `gmall-market/.../app/AdClickApp.java:63-66` sliding count per
  * province; `gmall-market/.../app/channelApp.java:42-72` per
  * (channel,behavior); `gmall-network-flow/.../app/UniqueVisitorApp.java:53-79`
  * exact UV; `UniqueVisitorApp2.java:93-167` bloom-approx UV) as declarative
  * `groupBy(window(...))` aggregations. Catalyst plans these as
  * partial+final `HashAggregate` around a single hash exchange — the same
  * two-phase shape the reference hand-codes with
  * `AggregateFunction.add/merge` — so at scale the shuffle carries only
  * pre-aggregated (window,key) partials, not raw events.
  *
  * Results are flattened: the `window` struct becomes a `window_start`
  * timestamp column so outputs are plain relational rows (oracle- and
  * sink-friendly).
  */
object WindowAggs {

  private def flatten(df: DataFrame): DataFrame =
    df.withColumn("window_start", col("window.start")).drop("window")

  /** Test seam: the same window→window_start flattening the operators
    * apply, for specs that build a reference aggregation by hand. */
  private[graft] def flattenForTest(df: DataFrame): DataFrame = flatten(df)

  /** Tumbling-window row count per key (reference A3/W4). */
  def tumblingCount(
      df: DataFrame,
      ts: Column,
      size: String,
      keys: Seq[Column] = Nil,
      countName: String = "cnt"): DataFrame =
    flatten(
      df.groupBy(window(ts, size) +: keys: _*)
        .agg(count(lit(1)).as(countName)))

  /** Sliding-window row count per key (reference A1/A2/A5/A6/W3).
    * Each row lands in size/slide windows; the explode happens inside
    * Spark's `TimeWindowing` rule before partial aggregation, so the
    * blow-up never crosses the shuffle un-aggregated.
    */
  def slidingCount(
      df: DataFrame,
      ts: Column,
      size: String,
      slide: String,
      keys: Seq[Column] = Nil,
      countName: String = "cnt"): DataFrame =
    flatten(
      df.groupBy(window(ts, size, slide) +: keys: _*)
        .agg(count(lit(1)).as(countName)))

  /** Pane-based sliding count — same rows as [[slidingCount]], different
    * physical shape for scale: aggregate per slide-aligned pane (tumbling)
    * FIRST, then explode each pane into the size/slide windows it belongs
    * to and sum. The first shuffle carries one partial per (pane, key)
    * instead of size/slide window-expanded partials, so for a 1h/5m window
    * the event-grain exchange shrinks 12×; the second exchange is bounded
    * by panes × keys, not events. Requires size % slide == 0 (windows are
    * then pane-aligned, so membership is identical row- or pane-grain).
    */
  def slidingCountPanes(
      df: DataFrame,
      ts: Column,
      size: String,
      slide: String,
      keys: Seq[Column] = Nil,
      countName: String = "cnt"): DataFrame = {
    if (df.isStreaming)
      // two chained aggregations are not supported in streaming append
      // mode; the expand shape pre-aggregates map-side there anyway
      return slidingCount(df, ts, size, slide, keys, countName)
    val sizeUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(size))
    val slideUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(slide))
    def us(i: org.apache.spark.unsafe.types.CalendarInterval): Long = {
      require(i.months == 0, "calendar-month windows not supported")
      i.days * 86400000000L + i.microseconds
    }
    val (szUs, slUs) = (us(sizeUs), us(slideUs))
    require(szUs % slUs == 0, "size must be a multiple of slide for pane aggregation")
    val nPanes = (szUs / slUs).toInt
    // Re-grouping in the second aggregation needs stable names for the key
    // expressions (a computed key like get_json_object(...)%10 has no
    // addressable name). Alias each key in the FIRST aggregation to the
    // name Spark itself would give it — schema.fieldNames on a probe
    // select — so bare columns keep their names and computed keys get the
    // same auto-generated name slidingCount would produce.
    val keyNames = if (keys.isEmpty) Nil else df.select(keys: _*).schema.fieldNames.toSeq
    require(keyNames.distinct.size == keyNames.size,
      s"key expressions must have distinct names, got $keyNames — alias the duplicates")
    val namedKeys = keys.zip(keyNames).map { case (k, n) => k.as(n) }
    // backtick-quote when re-referencing: auto-generated names of computed
    // keys (e.g. get_json_object(props, '$.k')) contain dots, which a bare
    // col() would parse as nested-field access
    def quoted(n: String): Column = col("`" + n.replace("`", "``") + "`")
    val panes = df
      .groupBy((window(ts, slide) +: namedKeys): _*)
      .agg(count(lit(1)).as("__pane_cnt"))
      .withColumn("__pane_start", unix_micros(col("window.start")))
      .drop("window")
    panes
      .withColumn("__i", explode(sequence(lit(0), lit(nPanes - 1))))
      .withColumn("window_start", timestamp_micros(col("__pane_start") - col("__i") * slUs))
      .groupBy(col("window_start") +: keyNames.map(quoted): _*)
      .agg(sum(col("__pane_cnt")).as(countName))
  }

  /** Exact distinct count per tumbling window (reference A7 — the
    * HashSet-per-window UV). Spark plans count_distinct as a two-level
    * aggregate (dedup then count) — bounded by distinct cardinality,
    * not event count, per partition.
    */
  def tumblingCountDistinct(
      df: DataFrame,
      ts: Column,
      size: String,
      distinctCol: Column,
      keys: Seq[Column] = Nil,
      countName: String = "uv"): DataFrame =
    flatten(
      df.groupBy(window(ts, size) +: keys: _*)
        .agg(count_distinct(distinctCol).as(countName)))

  /** Exact distinct count per SLIDING window — the DAU/WAU/MAU
    * engagement family (size "7 days" / slide "1 day" = rolling weekly
    * actives per day).
    *
    * Scale shape (round 9): when `size` is a whole multiple of `slide`
    * (the engagement case), the corpus first COLLAPSES to distinct
    * (keys, slide-pane, value) rows — one map-side-combined exchange at
    * pane grain — and only those collapsed rows expand into size/slide
    * windows. Lossless: pane boundaries are slide boundaries, and window
    * membership under aligned windows is constant within a pane, so
    * per-window distinct over pane rows equals distinct over raw events.
    * The expansion input drops from |events| to |distinct (key, pane,
    * value)| — at 100 TB that is the difference between 7× the event log
    * and 7× the user-day table. Non-multiple geometries fall back to the
    * raw expansion (membership can change mid-pane there). For tighter
    * slides or looser windows switch to [[tumblingApproxDistinct]] per
    * pane and merge HLL states ([[graft.ops.Sketches.hllRollup]]'s
    * posture: a distinct can't pane-combine exactly, a sketch can).
    */
  def slidingCountDistinct(
      df: DataFrame,
      ts: Column,
      size: String,
      slide: String,
      distinctCol: Column,
      keys: Seq[Column] = Nil,
      countName: String = "uv"): DataFrame = {
    val sizeUs = intervalMicros(size)
    val slideUs = intervalMicros(slide)
    if (sizeUs.zip(slideUs).exists { case (a, b) => b > 0 && a % b == 0 }) {
      // same stable-name + backtick idiom as slidingCountPanes: a
      // computed key's auto-generated name (e.g. get_json_object(...))
      // contains dots, which a bare col() would parse as a nested field
      val keyNames = if (keys.isEmpty) Nil else df.select(keys: _*).schema.fieldNames.toSeq
      require(keyNames.distinct.size == keyNames.size,
        s"key expressions must have distinct names, got $keyNames — alias the duplicates")
      val namedKeys = keys.zip(keyNames).map { case (k, n) => k.as(n) }
      def quoted(n: String): Column = col("`" + n.replace("`", "``") + "`")
      val pane = df
        .select(window(ts, slide)("start").as("__ps") +: namedKeys :+ distinctCol.as("__v"): _*)
        .distinct()
      flatten(
        pane.groupBy(window(col("__ps"), size, slide) +: keyNames.map(quoted): _*)
          .agg(count_distinct(col("__v")).as(countName)))
    } else
      flatten(
        df.groupBy(window(ts, size, slide) +: keys: _*)
          .agg(count_distinct(distinctCol).as(countName)))
  }

  /** Fixed-length duration string → microseconds (None for month/year
    * units, whose length is calendar-dependent — those fall back to the
    * raw expansion path). */
  private def intervalMicros(s: String): Option[Long] = {
    val m = "^\\s*(\\d+)\\s*(\\w+?)s?\\s*$".r
    s.toLowerCase match {
      case m(n, unit) =>
        val per = unit match {
          case "microsecond"          => Some(1L)
          case "millisecond"          => Some(1000L)
          case "second"               => Some(1000000L)
          case "minute"               => Some(60L * 1000000L)
          case "hour"                 => Some(3600L * 1000000L)
          case "day"                  => Some(86400L * 1000000L)
          case "week"                 => Some(7L * 86400L * 1000000L)
          case _                      => None // month/year: calendar-length
        }
        per.map(_ * n.toLong)
      case _ => None
    }
  }

  /** Approximate distinct count (HLL++) per tumbling window — the
    * scale path for reference A8 (`UniqueVisitorApp2`'s hand-rolled
    * Redis-bitmap bloom filter). Constant memory per (window,key)
    * regardless of cardinality; rsd defaults to Spark's 5%.
    */
  def tumblingApproxDistinct(
      df: DataFrame,
      ts: Column,
      size: String,
      distinctCol: Column,
      rsd: Double = 0.05,
      keys: Seq[Column] = Nil,
      countName: String = "uv_approx"): DataFrame =
    flatten(
      df.groupBy(window(ts, size) +: keys: _*)
        .agg(approx_count_distinct(distinctCol, rsd).as(countName)))

  /** Per-key sessionization: count events per session, where a session
    * closes after `gap` of inactivity. Spark-native `session_window`
    * (merging window state in streaming; a sort-based merge in batch) —
    * the operator a training-data pipeline needs for behavioral
    * sequences and the reference's user-analytics theme lacks. One hash
    * exchange on the keys, like every windowed agg here.
    */
  def sessionCount(
      df: DataFrame,
      ts: Column,
      gap: String,
      keys: Seq[Column] = Nil,
      countName: String = "cnt"): DataFrame =
    df.groupBy(session_window(ts, gap) +: keys: _*)
      .agg(count(lit(1)).as(countName))
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** Bloom-filter distinct estimate per tumbling window — the reference
    * A8's own data structure as a typed [[BloomDistinct]] Aggregator
    * (bitmap merges map-side, fill-ratio collision correction). Prefer
    * [[tumblingApproxDistinct]] (HLL++) unless bloom semantics are wanted.
    */
  def tumblingBloomDistinct(
      df: DataFrame,
      ts: Column,
      size: String,
      distinctCol: Column,
      numBits: Int = 1 << 20,
      keys: Seq[Column] = Nil,
      countName: String = "uv_bloom"): DataFrame =
    flatten(
      df.groupBy(window(ts, size) +: keys: _*)
        .agg(BloomDistinct.bloomDistinct(distinctCol, numBits).as(countName)))
}
