package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Generic keyed event shape for the stateful operators: the reference's
  * seven input POJOs (SURVEY §1) all collapse to (key, event-time, kind,
  * id) for state-machine purposes — key = the `keyBy` field, kind = the
  * discriminating string (eventType/behavior), id = a payload identifier
  * carried through to outputs.
  */
case class KeyedEvent(key: String, ts: Timestamp, kind: String, id: String)

/** [[KeyedEvent]] plus an exact integer payload (fixed micro-scale) for
  * machines that fold numeric values — long sums replay the batch
  * decimal sums bit-for-bit, where a double payload would drift with
  * fold order.
  */
case class KeyedValueEvent(key: String, ts: Timestamp, kind: String, id: String, value: Long)

/** Tagged-union output row — the Spark encoding of Flink side outputs
  * (reference S6, `ctx.output(OutputTag, ...)`): one stream, a `tag`
  * column, split by `filter` at the sink (see [[SideOutputs]]).
  */
case class TaggedRow(key: String, tag: String, first_ts: Timestamp, last_ts: Timestamp, info: String)

/** Event-time state machines over `flatMapGroupsWithState` — the genuinely
  * custom layer (SURVEY §2.7): Flink `KeyedProcessFunction`/CEP semantics
  * re-expressed on Spark's streaming state store.
  *
  * Ordering contract: handlers sort each micro-batch's per-key events by
  * (ts, id) before folding them into state. Cross-batch order is the
  * source's responsibility (the reference assumes in-order streams —
  * ascending-timestamp watermarks, SURVEY §2.6 W1); events arriving in a
  * later batch with an older timestamp than already-folded state are folded
  * as-is, matching Flink's behavior for its `AscendingTimestampExtractor`
  * apps.
  *
  * Scale: state lives in the executor state store, partitioned by key hash
  * — one exchange per stateful op, identical to the reference's `keyBy`.
  * State per key is O(pattern length) or O(open requests), never O(events).
  */
object StateMachines {

  // All state/time arithmetic is in epoch MICROSECONDS: java.sql.Timestamp
  // carries microsecond event times (getTime alone truncates to millis,
  // which a multi-batch replay of real data exposed as first_ts drift).
  // Package-visible: [[WindowTriggers]] shares the same time base.
  private[streaming] def usOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private[streaming] def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }

  private[streaming] def sorted(events: Iterator[KeyedEvent]): Seq[KeyedEvent] =
    events.toSeq.sortBy(e => (usOf(e.ts), e.id))

  // ---- C3/C4/C5: n consecutive matches within a gap ----

  /** Last up-to-(n-1) matching event times (epoch us) + the id of the run's
    * first event. A non-match clears the run — the reference's
    * "no success in between" rule (`LoginFailWithState2.java:52-79`).
    */
  case class RunState(matchTimes: List[Long], firstId: String)

  /** Streaming form of [[graft.ops.Sequences.consecutiveMatches]]
    * (reference C3/C4/C5 — consecutive login failures;
    * `gmall-login-fail/.../LoginFailWithState2.java:72`,
    * `LoginFailwithStateCEP_More.java:46-53`). Sliding emission: every
    * event completing an n-run within `maxGapSec` of its first emits
    * (key, first_ts, last_ts) tagged "warn" — same rows as the batch
    * window-function formulation.
    */
  def consecutiveMatches(
      events: Dataset[KeyedEvent],
      matchKind: String,
      n: Int,
      maxGapSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    require(n >= 2, "a run needs at least 2 events")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[RunState, TaggedRow](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout)((key, it, state) => {
        var st = state.getOption.getOrElse(RunState(Nil, ""))
        val out = Seq.newBuilder[TaggedRow]
        for (e <- sorted(it)) {
          if (e.kind == matchKind) {
            val times = (st.matchTimes :+ usOf(e.ts)).takeRight(n)
            val firstId = if (st.matchTimes.isEmpty) e.id else st.firstId
            if (times.length == n && usOf(e.ts) - times.head <= maxGapSec * 1000000L)
              out += TaggedRow(key, "warn", tsOf(times.head), e.ts, firstId)
            st = RunState(times.takeRight(n - 1), firstId)
          } else st = RunState(Nil, "")
        }
        state.update(st)
        out.result().iterator
      })
  }

  // ---- C2/A9/W8: daily threshold blacklist ----

  /** (utc day start epoch-us, count so far today, warned already). */
  case class DayCountState(dayStartUs: Long, cnt: Long, warned: Boolean)

  /** Streaming click-fraud blacklist (reference C2 —
    * `gmall-market/.../AdClickApp.java:112-168`): per key, count matching
    * events per UTC day; events before the threshold pass through
    * (tag "pass"), the event crossing it emits one "warn", later events
    * that day are suppressed. The daily reset is event-time day rollover
    * (the intended semantics of the reference's buggy W8 midnight timer,
    * `AdClickApp.java:141` — SURVEY §2.6).
    */
  def dailyThreshold(
      events: Dataset[KeyedEvent],
      matchKind: String,
      threshold: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayUs = 86400000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[DayCountState, TaggedRow](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout)((key, it, state) => {
        var st = state.getOption.getOrElse(DayCountState(-1L, 0L, warned = false))
        val out = Seq.newBuilder[TaggedRow]
        for (e <- sorted(it) if e.kind == matchKind) {
          val day = Math.floorDiv(usOf(e.ts), dayUs) * dayUs
          if (day != st.dayStartUs) st = DayCountState(day, 0L, warned = false)
          st = st.copy(cnt = st.cnt + 1)
          if (st.cnt < threshold)
            out += TaggedRow(key, "pass", e.ts, e.ts, e.id)
          else if (!st.warned) {
            out += TaggedRow(key, "warn", tsOf(st.dayStartUs), e.ts, s"count=${st.cnt}")
            st = st.copy(warned = true)
          } // else: suppressed, the blacklist's whole point
        }
        state.update(st)
        out.result().iterator
      })
  }

  // ---- C6/C7: request→response with timeout ----

  /** Open requests: (id, request ts epoch-us), earliest first. */
  case class PendingState(pending: List[(String, Long)])

  /** Streaming order-timeout monitor (reference C6/C7 —
    * `gmall-order-pay/.../OrderTimeOutStateApp.java:57-112`: create starts
    * a 15-min event-time timer, pay in time → matched, timer fires → "No
    * Pay" side output; CEP flavor `OrderTimeOutWithCepApp.java:53-76`).
    *
    * `reqKind` events open a request; a `respKind` event matches the
    * earliest open request within (req_ts, req_ts+timeoutSec] → "matched".
    * Requests whose deadline the watermark has passed emit "timeout" —
    * the event-time timer re-expressed as `GroupStateTimeout
    * .EventTimeTimeout` + `setTimeoutTimestamp`, so a key with no further
    * traffic still times out.
    */
  def matchWithTimeout(
      events: Dataset[KeyedEvent],
      reqKind: String,
      respKind: String,
      timeoutSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutUs = timeoutSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[PendingState, TaggedRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        var pending = state.getOption.map(_.pending).getOrElse(Nil)
        val out = Seq.newBuilder[TaggedRow]
        for (e <- sorted(it)) e.kind match {
          case k if k == reqKind =>
            pending = (pending :+ (e.id, usOf(e.ts))).sortBy(_._2)
          case k if k == respKind =>
            pending.find { case (_, reqUs) =>
              usOf(e.ts) > reqUs && usOf(e.ts) <= reqUs + timeoutUs
            } match {
              case Some(hit @ (reqId, reqUs)) =>
                out += TaggedRow(key, "matched", tsOf(reqUs), e.ts, reqId)
                pending = pending.filterNot(_ == hit)
              case None => // unmatched response: reference J2's "No Payed But Receipt" analog
                out += TaggedRow(key, "resp_no_req", e.ts, e.ts, e.id)
            }
          case _ => ()
        }
        // flush requests the watermark has expired (including on timer
        // fire); <= so a deadline equal to the watermark fires now (Flink
        // timer semantics) and never re-arms at-or-behind the watermark
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (expired, open) = pending.partition { case (_, reqUs) => reqUs + timeoutUs <= wmUs }
        for ((reqId, reqUs) <- expired)
          out += TaggedRow(key, "timeout", tsOf(reqUs), tsOf(reqUs + timeoutUs), reqId)
        if (open.isEmpty) state.remove()
        else {
          state.update(PendingState(open))
          // ceil to ms so the timer never fires before the us deadline
          state.setTimeoutTimestamp((open.map(_._2).min + timeoutUs + 999L) / 1000L)
        }
        out.result().iterator
      })
  }

  // ---- J2: two-stream reconciliation ----

  /** Unmatched events per side: (id, ts epoch-us). */
  case class AsOfState(builds: List[(String, Long)], probes: List[(String, Long)])

  /** Streaming as-of join — the watermark-correct twin of
    * [[graft.ops.Joins.asOfJoin]]: feed it the union of build and probe
    * events tagged by kind; each probe emits with the LATEST build at or
    * before its event time once the watermark guarantees no earlier
    * build can still arrive (`tag = "matched"`, info = "probeId|buildId"),
    * or `tag = "no_build"` when the key has no prior build. first_ts
    * carries the probe time, last_ts the matched build time.
    *
    * Probes buffer until `watermark >= probe ts` — emission is driven by
    * event-time timers (reference W7), so out-of-order builds inside the
    * watermark delay still win. Ties at equal (ts): the build is visible
    * (inclusive ≤, same as the batch operator), and the greatest id
    * string wins among equal-ts builds — zero-pad numeric ids so
    * lexicographic order is numeric order.
    *
    * State per key is O(watermark lag): resolved probes leave state, and
    * of the builds older than the watermark only the latest survives
    * (any future probe is newer than the watermark, so older builds can
    * never win again). The retained latest build is the operator's
    * contract — a feature-store "current value" per key, like the
    * reference keeping the last pay event in ValueState
    * (`PayReceiptWithConnectApp.java:91-112`).
    */
  def asOf(
      events: Dataset[KeyedEvent],
      buildKind: String,
      probeKind: String,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, TaggedRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        var st = state.getOption.getOrElse(AsOfState(Nil, Nil))
        for (e <- sorted(it)) {
          if (e.kind == buildKind)
            st = st.copy(builds = st.builds :+ (e.id, usOf(e.ts)))
          else if (e.kind == probeKind)
            st = st.copy(probes = st.probes :+ (e.id, usOf(e.ts)))
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val out = Seq.newBuilder[TaggedRow]
        val (ripe, pending) = st.probes.partition { case (_, us) => us <= wmUs }
        for ((pid, pus) <- ripe.sortBy { case (id, us) => (us, id) }) {
          val cands = st.builds.filter { case (_, bus) => bus <= pus }
          if (cands.isEmpty) out += TaggedRow(key, "no_build", tsOf(pus), tsOf(pus), pid)
          else {
            val (bid, bus) = cands.maxBy { case (id, us) => (us, id) }
            out += TaggedRow(key, "matched", tsOf(pus), tsOf(bus), s"$pid|$bid")
          }
        }
        // builds the watermark has passed: only the latest can ever win
        val (stale, fresh) = st.builds.partition { case (_, us) => us <= wmUs }
        val kept = if (stale.isEmpty) fresh
          else stale.maxBy { case (id, us) => (us, id) } :: fresh
        st = AsOfState(kept, pending)
        if (kept.isEmpty && pending.isEmpty) state.remove()
        else state.update(st)
        if (pending.nonEmpty)
          state.setTimeoutTimestamp((pending.map(_._2).min + 999L) / 1000L + 1L)
        out.result().iterator
      })
  }

  case class WindowTopNState(counts: Map[String, Long])
  case class PaneTopNState(counts: Map[String, Long], emitted: Boolean)
  case class WindowTopRow(window_start: Timestamp, item: String, cnt: Long, rank: Int)

  /** Streaming per-window top-N, TWO-STAGE — the reference's own shape
    * (`HotItemApp.java:62` pre-aggregates per (itemId, window) with an
    * incremental `AggregateFunction` BEFORE `:64`'s `keyBy(windowEnd)`
    * collector sees anything): a watermark-final built-in SLIDING
    * aggregation produces per-(window, item) counts, and the
    * window-keyed collector ranks them once the window completes.
    *
    * Why two stages at 100 TB: the single-machine form
    * ([[windowTopNEventGrain]]) keys raw events by window start, so every
    * event of the hottest hour crosses the exchange at event grain and
    * lands on ONE state partition whose state row is the whole counter
    * map. Here stage 1 is a native streaming aggregation — partial
    * (map-side) combine BEFORE its shuffle, state distributed across all
    * window × item keys — and stage 2's exchange carries only
    * aggregate CARDINALITY, never event volume.
    *
    * Stage-1 grain — the round-13/14 profiled trade. Slide-width
    * TUMBLING panes would write one stage-1 state row per event instead
    * of size/slide of them (12× fewer at 1h/5m), but then the collector
    * must FOLD pane partials, and `GroupState` can only rewrite the
    * window's whole counter map: every batch that delivers a pane
    * re-serializes every item seen so far — measured 4,252 rows/s pane
    * vs 6,198 sliding at sf0.1 (100k events, min of 3). So stage 1 is
    * SLIDING: every window's finals arrive in one batch, and the
    * collector emits immediately and writes only a one-bit marker.
    *
    * Collector contract: an Append-mode streaming aggregation emits a
    * window's finals exactly once, in the micro-batch whose eviction
    * watermark first passes the window end — the collector emits
    * immediately when it sees the watermark beyond windowEnd, and
    * otherwise folds what arrived and arms an event-time timer at
    * windowEnd + 1 ms (the reference's `onTimer` deadline). An `emitted`
    * marker + GC timer guard exactly-once emission against
    * beyond-contract stragglers, which are dropped like any other
    * too-late data.
    *
    * Sentinel rows must flow INTO the aggregate and be excluded there
    * (conditional count + cnt>0 filter): a plain filter would be pushed
    * below the watermark node and the last window would never finalize
    * (same rule as every aggregation pipeline over [[Replay]]).
    */
  def windowTopN(
      events: Dataset[KeyedEvent],
      sizeUs: Long,
      slideUs: Long,
      n: Int,
      watermarkDelay: String = "2 seconds"): Dataset[WindowTopRow] = {
    require(sizeUs % slideUs == 0, "window size must be a multiple of slide")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // window_time (= window.end − 1 µs) keeps a watermark-tagged
    // event-time attribute in the collector's input — EventTimeTimeout
    // requires one to be visible on the stateful op's child.
    val finals = events.withWatermark("ts", watermarkDelay)
      .groupBy(
        window(col("ts"), s"$sizeUs microseconds", s"$slideUs microseconds"),
        col("key").as("item"))
      .agg(count(when(col("kind") =!= Replay.Sentinel, 1)).as("cnt"))
      .filter(col("cnt") > 0)
      .select(
        unix_micros(col("window.start")).as("win"), col("item"), col("cnt"),
        window_time(col("window")).as("wt"))
      .as[(Long, String, Long, Timestamp)]
    def top(counts: Map[String, Long], winStartUs: Long): Iterator[WindowTopRow] =
      counts.toSeq
        .sortBy { case (item, cnt) => (-cnt, item) }
        .take(n)
        .iterator
        .zipWithIndex
        .map { case ((item, cnt), i) => WindowTopRow(tsOf(winStartUs), item, cnt, i + 1) }
    finals
      .groupByKey(_._1)
      .flatMapGroupsWithState[PaneTopNState, WindowTopRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((winStartUs, it, state) => {
        def markEmitted(): Unit = {
          state.update(PaneTopNState(Map.empty, emitted = true))
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + sizeUs / 1000L + 1L)
        }
        if (state.hasTimedOut) {
          val st = state.get
          if (st.emitted) { state.remove(); Iterator.empty } // marker GC
          else { markEmitted(); top(st.counts, winStartUs) } // deadline: emit the fold
        } else {
          val st = state.getOption.getOrElse(PaneTopNState(Map.empty, emitted = false))
          if (st.emitted) Iterator.empty // beyond-contract straggler: too late
          else {
            var m = st.counts
            for ((_, item, cnt, _) <- it) m = m.updated(item, m.getOrElse(item, 0L) + cnt)
            if (state.getCurrentWatermarkMs() * 1000L >= winStartUs + sizeUs) {
              // the watermark passed windowEnd: complete now
              markEmitted(); top(m, winStartUs)
            } else {
              state.update(PaneTopNState(m, emitted = false))
              // windowEnd + 1 ms, clamped above the watermark (late rows
              // inside the delay margin re-arm an expired deadline)
              state.setTimeoutTimestamp(math.max(
                (winStartUs + sizeUs) / 1000L + 1L,
                state.getCurrentWatermarkMs() + 1L))
              Iterator.empty
            }
          }
        }
      })
  }

  /** Streaming per-window top-N as ONE machine — reference T1/C1
    * (`HotItemApp.java:116-190`): count per (sliding window, item), buffer
    * per window, event-time timer at windowEnd + 1 ms, emit the N largest
    * (count desc, item asc) and clear state — the `ListState` +
    * `registerEventTimeTimer` collector, re-expressed as one
    * `flatMapGroupsWithState` keyed by window start.
    *
    * Each event is exploded into its size/slide containing windows BEFORE
    * the keyed state op (a stateless projection after the watermark node),
    * so the machine sees (windowStart, item) rows — the keying of the
    * reference's FINAL `keyBy(windowEnd)` stage only. Watermark-advancing
    * sentinel rows are dropped pre-explode; timers still fire because
    * timeout processing is input-independent.
    *
    * Scale posture: this is the TIMER-FIDELITY form (per-event state fold,
    * windowEnd+1ms deadline — the exact `onTimer` discipline), kept for
    * the timer specs. It concentrates a window's raw events onto one state
    * group, so [[windowTopN]] (two-stage, pre-aggregated — the reference's
    * actual dataflow) is the declared streaming plan, and the batch pane
    * formulation (`WindowAggs.slidingCountPanes` + `TopN.perPartition`)
    * the at-rest path; all hash-match the same oracle.
    */
  def windowTopNEventGrain(
      events: Dataset[KeyedEvent],
      sizeUs: Long,
      slideUs: Long,
      n: Int,
      watermarkDelay: String = "2 seconds"): Dataset[WindowTopRow] = {
    require(sizeUs % slideUs == 0, "window size must be a multiple of slide")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nW = (sizeUs / slideUs).toInt
    // the explode is Column-based (not a typed flatMap): a typed map
    // re-serializes and would strip the watermark metadata off `ts`,
    // which EventTimeTimeout requires on the stateful op's input
    val winStarts = {
      val tUs = unix_micros(col("ts"))
      val aligned = tUs - pmod(tUs, lit(slideUs))
      array((0 until nW).map(i => aligned - lit(i.toLong * slideUs)): _*)
    }
    events
      .withWatermark("ts", watermarkDelay)
      .filter(_.kind != Replay.Sentinel)
      .select(explode(winStarts).as("win"), col("key").as("item"), col("ts"))
      .as[(Long, String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[WindowTopNState, WindowTopRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((winStartUs, it, state) => {
        if (state.hasTimedOut) {
          val counts = state.get.counts
          state.remove()
          counts.toSeq
            .sortBy { case (item, cnt) => (-cnt, item) }
            .take(n)
            .iterator
            .zipWithIndex
            .map { case ((item, cnt), i) => WindowTopRow(tsOf(winStartUs), item, cnt, i + 1) }
        } else {
          var m = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          for (r <- it) m = m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
          state.update(WindowTopNState(m))
          // windowEnd + 1 ms, clamped above the watermark (late rows inside
          // the delay margin re-arm an already-expired deadline)
          state.setTimeoutTimestamp(math.max(
            (winStartUs + sizeUs) / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
          Iterator.empty
        }
      })
  }

  case class ReconcileState(left: List[(String, Long)], right: List[(String, Long)])

  /** Streaming two-stream reconciliation (reference J2 —
    * `gmall-order-pay/.../PayReceiptWithConnectApp.java:62-157`: two keyed
    * streams connected, per-side ValueState + event-time timers; match →
    * "Payed And Receipt", expiry → per-side side outputs).
    *
    * Feed it the UNION of both streams tagged by kind (`leftKind` /
    * `rightKind`) — the tagged-union encoding of Flink's `connect`. A
    * left/right pair within ±`toleranceSec` → "matched"; events the
    * watermark expires unmatched → "left_only" / "right_only" (the
    * reference's two side outputs, minus its inverted-null-check NPE bug —
    * SURVEY §2.4).
    */
  def reconcile(
      events: Dataset[KeyedEvent],
      leftKind: String,
      rightKind: String,
      toleranceSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val tolUs = toleranceSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[ReconcileState, TaggedRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        var st = state.getOption.getOrElse(ReconcileState(Nil, Nil))
        val out = Seq.newBuilder[TaggedRow]
        def tryMatch(ts: Long, other: List[(String, Long)]): (Option[(String, Long)], List[(String, Long)]) =
          other.find { case (_, o) => Math.abs(o - ts) <= tolUs } match {
            case Some(hit) => (Some(hit), other.filterNot(_ == hit))
            case None      => (None, other)
          }
        for (e <- sorted(it)) {
          if (e.kind == leftKind) {
            val (hit, rest) = tryMatch(usOf(e.ts), st.right)
            hit match {
              case Some((rid, rus)) =>
                out += TaggedRow(key, "matched", e.ts, tsOf(rus), s"${e.id}|$rid")
                st = st.copy(right = rest)
              case None => st = st.copy(left = st.left :+ (e.id, usOf(e.ts)))
            }
          } else if (e.kind == rightKind) {
            val (hit, rest) = tryMatch(usOf(e.ts), st.left)
            hit match {
              case Some((lid, lus)) =>
                out += TaggedRow(key, "matched", tsOf(lus), e.ts, s"$lid|${e.id}")
                st = st.copy(left = rest)
              case None => st = st.copy(right = st.right :+ (e.id, usOf(e.ts)))
            }
          }
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (lExp, lOpen) = st.left.partition { case (_, us) => us + tolUs <= wmUs }
        val (rExp, rOpen) = st.right.partition { case (_, us) => us + tolUs <= wmUs }
        for ((id, us) <- lExp) out += TaggedRow(key, "left_only", tsOf(us), tsOf(us), id)
        for ((id, us) <- rExp) out += TaggedRow(key, "right_only", tsOf(us), tsOf(us), id)
        if (lOpen.isEmpty && rOpen.isEmpty) state.remove()
        else {
          state.update(ReconcileState(lOpen, rOpen))
          state.setTimeoutTimestamp(((lOpen ++ rOpen).map(_._2).min + tolUs + 999L) / 1000L)
        }
        out.result().iterator
      })
  }

  // ---- conversion funnel ----

  /** `done` = emitted tombstone (no second chain may start); `chain` =
    * accepted step times (epoch us, ascending); `lastUs` = newest event
    * time seen (GC deadline for chainless keys). */
  case class FunnelState(chain: List[Long], lastUs: Long, done: Boolean)
  case class FunnelRow(key: String, n_reached: Int, ts_first: Timestamp, ts_reached: Timestamp)

  /** Streaming conversion funnel — the watermark-driven twin of
    * [[graft.ops.Sequences.funnel]]: per key, the greedy earliest chain
    * through `steps` starting at the key's FIRST step-1 event, each step
    * strictly after the previous and within `windowSec` of step 1. The
    * row emits once the watermark passes `t1 + windowSec` — at that point
    * no event inside the horizon can still arrive, so the chain is FINAL
    * (exactly the batch/SQL answer); keys that never start a chain emit
    * nothing and their state is GC'd `windowSec` after their last event.
    *
    * State posture: an emitted key keeps a tombstone (the "first step-1
    * ever" anchor makes this inherent — the same O(keys) posture as
    * dropDuplicates; bound it with a state TTL in production when keys
    * are unbounded). Non-step kinds are ignored (they only refresh the
    * GC deadline), so the stream needn't be pre-filtered — which also
    * lets the replay sentinel ride through the watermark node.
    */
  def funnel(
      events: Dataset[KeyedEvent],
      steps: Seq[String],
      windowSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[FunnelRow] = {
    require(steps.nonEmpty, "need at least one funnel step")
    val spark = events.sparkSession
    import spark.implicits._
    val windowUs = windowSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(FunnelState(Nil, Long.MinValue, done = false))
        var chain = st0.chain
        var lastUs = st0.lastUs
        if (!st0.done) for (e <- sorted(it); if e.kind != Replay.Sentinel) {
          val us = usOf(e.ts)
          lastUs = math.max(lastUs, us)
          val idx = chain.size
          if (idx < steps.size && e.kind == steps(idx) &&
            (chain.isEmpty || (us > chain.last && us <= chain.head + windowUs)))
            chain = chain :+ us
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val out =
          if (st0.done) Iterator.empty
          else if (chain.nonEmpty && chain.head + windowUs <= wmUs) {
            // horizon closed: the chain is final; tombstone the key
            state.update(FunnelState(Nil, lastUs, done = true))
            Iterator.single(
              FunnelRow(key, chain.size, tsOf(chain.head), tsOf(chain.last)))
          } else if (chain.isEmpty && lastUs + windowUs <= wmUs) {
            // no chain started and none can retroactively include events
            // this old — drop the state, nothing to emit
            state.remove()
            Iterator.empty
          } else {
            state.update(FunnelState(chain, lastUs, done = false))
            val deadline = if (chain.nonEmpty) chain.head + windowUs else lastUs + windowUs
            state.setTimeoutTimestamp((deadline + 999L) / 1000L)
            Iterator.empty
          }
        out
      })
  }

  // ---- cohort retention (streaming twin of q_retention) ----

  private val DayUs = 86400000000L

  case class RetentionState(minDay: Long, pending: List[Long], emitted: List[Long])
  case class RetentionRow(key: String, cohort: java.time.LocalDate, day: java.time.LocalDate)

  /** Streaming cohort-retention feed: one FINAL row per (key, active day)
    * carrying the key's cohort (= first-seen UTC day). Aggregating the
    * output by (cohort, datediff(day, cohort)) reproduces the batch
    * retention matrix exactly — each (key, day) row is unique, so a plain
    * count IS count-distinct-users.
    *
    * Finality argument: the cohort can only be lowered by an event with
    * `ts < midnight(minDay)`; once the watermark reaches midnight(minDay)
    * such events are dropped by the watermark filter, so the cohort is
    * final and every pending day can be emitted. Until then days buffer in
    * state and an event-time timer re-checks when the watermark crosses.
    * Active-day membership itself is monotone (a set only grows), so no
    * emitted row is ever retracted.
    *
    * State posture: O(active days per key) — calendar-bounded, the same
    * bound as the batch collect_set; in production cap it with a horizon
    * (drop days older than the reporting window) to keep it O(horizon).
    * Day arithmetic is UTC (epoch-day of the µs event time), matching
    * `to_date(ts)` under the session's pinned UTC timezone.
    */
  def retentionDays(
      events: Dataset[KeyedEvent],
      watermarkDelay: String = "0 seconds"): Dataset[RetentionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[RetentionState, RetentionRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(RetentionState(Long.MaxValue, Nil, Nil))
        var minDay = st0.minDay
        var pending = st0.pending
        for (e <- it; if e.kind != Replay.Sentinel) {
          val d = Math.floorDiv(usOf(e.ts), DayUs)
          minDay = math.min(minDay, d)
          if (!pending.contains(d) && !st0.emitted.contains(d)) pending = d :: pending
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        if (minDay == Long.MaxValue) {
          // sentinel-only group (or spurious timeout with empty state)
          state.remove()
          Iterator.empty
        } else if (minDay * DayUs <= wmUs) {
          state.update(RetentionState(minDay, Nil, st0.emitted ++ pending))
          pending.sorted.iterator.map(d =>
            RetentionRow(
              key,
              java.time.LocalDate.ofEpochDay(minDay),
              java.time.LocalDate.ofEpochDay(d)))
        } else {
          state.update(RetentionState(minDay, pending, st0.emitted))
          // fire once the watermark passes midnight(minDay): +1 ms because
          // timers fire strictly after the watermark passes the deadline
          state.setTimeoutTimestamp(minDay * DayUs / 1000L + 1)
          Iterator.empty
        }
      })
  }

  // ---- per-key training-sequence construction (streaming twin of
  //      t_user_sequences / graft.ops.Sequences.eventSequences) ----

  case class SeqState(nEvents: Long, buf: List[(Long, String, String)], lastUs: Long)
  case class SequenceRow(key: String, n_events: Long, sequence: String)

  /** Streaming event-sequence builder: per key, the chronological kind
    * sequence capped at `maxLen`, finalized (one FINAL append-mode row)
    * after `idleSec` of EVENT-TIME inactivity — the streaming notion of
    * "this key's history is complete". The batch twin folds the whole log
    * at rest; here a key whose quiet period exceeds the horizon closes and
    * re-opens as a fresh sequence (a second row), so pick `idleSec` above
    * the corpus's max per-key gap when exact batch parity is the goal (the
    * replay gate checks exactly that).
    *
    * State posture: O(maxLen) per key — the buffer keeps only the maxLen
    * (ts, id)-smallest events plus a running total count, STRICTLY BETTER
    * than the batch collect_list's O(events per key). Ties on ts break by
    * the id string; the events table has µs timestamps and no (key, ts)
    * duplicates, so string-vs-numeric id order never diverges from the
    * batch twin (asserted by the oracle hash row).
    */
  def eventSequences(
      events: Dataset[KeyedEvent],
      maxLen: Int,
      idleSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SequenceRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val idleUs = idleSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[SeqState, SequenceRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(SeqState(0L, Nil, Long.MinValue))
        var n = st0.nEvents
        var lastUs = st0.lastUs
        val fresh = sorted(it).filter(_.kind != Replay.Sentinel)
        for (e <- fresh) { n += 1; lastUs = math.max(lastUs, usOf(e.ts)) }
        val buf = (st0.buf ++ fresh.map(e => (usOf(e.ts), e.id, e.kind)))
          .sortBy(t => (t._1, t._2))
          .take(maxLen)
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        if (n == 0L) {
          state.remove() // sentinel-only group
          Iterator.empty
        } else if (lastUs + idleUs <= wmUs) {
          // horizon closed: the sequence is final; drop the state so a
          // late-reopening key shows up as a visible second row, never a
          // silent merge
          state.remove()
          Iterator.single(SequenceRow(key, n, buf.map(_._3).mkString("|")))
        } else {
          state.update(SeqState(n, buf, lastUs))
          state.setTimeoutTimestamp((lastUs + idleUs) / 1000L + 1)
          Iterator.empty
        }
      })
  }

  // ---- per-key daily moving-window stats (streaming twin of
  //      q_moving_avg's trailing moving-average analytics) ----

  case class DailyMovingState(
      open: List[(Long, Long)],   // (epoch day, exact micro sum) still inside the watermark
      lastWin: List[Long],        // newest-first finalized day sums, capped at `window`
      cum: Long,                  // running total of finalized day sums
      ewma: Option[Long])         // integer α=1/2 EWMA over finalized days

  case class DailyStatRow(
      key: String,
      day: java.time.LocalDate,
      rev_micro: Long,
      ma_num_micro: Long,
      ma_cnt: Long,
      cum_micro: Long,
      ewma_micro: Long,
      prev_micro: Option[Long])

  /** Streaming trailing-moving-average machine: per key, fold events into
    * per-day exact micro sums; when the watermark passes a day's end the
    * day FINALIZES in chronological order, emitting one append-mode row
    * with the day sum, the numerator/count of the trailing `window`-day
    * moving average (over PRESENT days, matching the batch ROWS BETWEEN
    * frame), and the running cumulative sum. Integer micro arithmetic
    * throughout — the emitted row is engine-exact; the caller divides to
    * doubles at the edge (one correctly-rounded division each, identical
    * to the batch oracle's decimal→double casts).
    *
    * State posture: O(open days + window) per key — open days are bounded
    * by watermark delay / day length (≈ 1-2), the window is a constant;
    * state persists for the key's lifetime (cum/window history feed every
    * future day) — at 100 TB that is |keys| × O(window) longs in the
    * state store, the same footprint as any running-total dashboard.
    */
  def dailyMovingStats(
      events: Dataset[KeyedValueEvent],
      window: Int,
      watermarkDelay: String = "0 seconds"): Dataset[DailyStatRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[DailyMovingState, DailyStatRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(DailyMovingState(Nil, Nil, 0L, None))
        var open = st0.open
        var sawReal = st0.lastWin.nonEmpty || st0.open.nonEmpty || st0.cum != 0L
        for (e <- it; if e.kind != Replay.Sentinel) {
          sawReal = true
          val d = Math.floorDiv(usOf(e.ts), DayUs)
          open = open.find(_._1 == d) match {
            case Some((_, s)) => (d, s + e.value) :: open.filterNot(_._1 == d)
            case None         => (d, e.value) :: open
          }
        }
        if (!sawReal) {
          state.remove() // sentinel-only group
          Iterator.empty
        } else {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, still) = open.partition { case (d, _) => (d + 1) * DayUs <= wmUs }
          var lastWin = st0.lastWin
          var cum = st0.cum
          var ewma = st0.ewma
          val out = ready.sortBy(_._1).map { case (d, s) =>
            val prev = lastWin.headOption // previous PRESENT day's sum
            cum += s
            lastWin = (s :: lastWin).take(window)
            // α=1/2 integer EWMA over PRESENT days: s₁=v₁, sₜ=(vₜ+sₜ₋₁)>>1
            // — the same recursion as the batch Stats.ewmaDaily fold
            ewma = Some(ewma.fold(s)(p => (s + p) >> 1))
            DailyStatRow(
              key, java.time.LocalDate.ofEpochDay(d),
              s, lastWin.sum, lastWin.size.toLong, cum, ewma.get, prev)
          }
          state.update(DailyMovingState(still, lastWin, cum, ewma))
          if (still.nonEmpty) {
            // fire when the earliest open day's end passes the watermark
            // (+1 ms: timers fire strictly after)
            state.setTimeoutTimestamp((still.map(_._1).min + 1) * DayUs / 1000L + 1)
          }
          out.iterator
        }
      })
  }

  // ---- daily CUSUM control chart (streaming twin of
  //      graft.ops.Stats.cusumDaily) ----

  case class CusumState(
      open: List[(Long, Long)], // (epoch day, micro sum) inside the watermark
      cusum: Long,              // carried recursion value over finalized days
      lastUs: Long = Long.MinValue) // newest event time seen (idle horizon)

  case class CusumRow(
      key: String,
      day: java.time.LocalDate,
      rev_micro: Long,
      cusum_micro: Long,
      alarm: Boolean)

  /** Streaming one-sided CUSUM machine: per key, fold events into per-day
    * exact micro sums; as the watermark finalizes each day in
    * chronological order, advance `sₜ = max(0, sₜ₋₁ + (xₜ − ref))` and
    * emit one append-mode row with the alarm flag `sₜ > h` — the change-
    * point monitor running ON the stream, against a FITTED baseline.
    *
    * `refs` maps key → (refMicro, hMicro): the in-control reference
    * (μ + slack) and decision interval, trained offline by the batch twin
    * ([[graft.ops.Stats.cusumDaily]] derives both from the key's own
    * series). A bounded |keys|-sized driver artifact captured in the
    * closure — the PQ-codebook posture: the baseline is a model, not
    * data. Keys with no baseline pass through silently (no chart without
    * a fitted reference).
    *
    * State posture: O(open days) + one long per key — strictly smaller
    * than [[dailyMovingStats]] (no trailing window), the cheapest of the
    * daily machines.
    */
  def cusumDaily(
      events: Dataset[KeyedValueEvent],
      refs: Map[String, (Long, Long)],
      watermarkDelay: String = "0 seconds",
      idleSec: Long = 30L * 86400L): Dataset[CusumRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(idleSec >= 86400L, "idleSec must be >= 1 day (horizon must outlast open days)")
    // baseline-size contract: refs is a fitted MODEL artifact (one entry
    // per monitored key), not data — broadcast ships it once per executor
    // instead of once per task closure; past this bound, fit per-key
    // baselines upstream and join them in as a stream side instead
    require(refs.size <= 5000000,
      s"cusum baseline has ${refs.size} keys — too large for a broadcast model artifact")
    val refsBc = spark.sparkContext.broadcast(refs)
    val idleUs = idleSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        refsBc.value.get(key) match {
          case None =>
            state.remove() // sentinel-only or unfitted key
            Iterator.empty
          case Some((refMicro, hMicro)) =>
            val st0 = state.getOption.getOrElse(CusumState(Nil, 0L))
            var open = st0.open
            var lastUs = st0.lastUs
            var sawNew = false
            var sawReal = st0.open.nonEmpty || st0.cusum != 0L ||
              st0.lastUs != Long.MinValue
            for (e <- it; if e.kind != Replay.Sentinel) {
              sawNew = true; sawReal = true
              val us = usOf(e.ts)
              lastUs = math.max(lastUs, us)
              val d = Math.floorDiv(us, DayUs)
              open = open.find(_._1 == d) match {
                case Some((_, s)) => (d, s + e.value) :: open.filterNot(_._1 == d)
                case None         => (d, e.value) :: open
              }
            }
            if (!sawReal) { state.remove(); Iterator.empty }
            else {
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val (ready, still) = open.partition { case (d, _) => (d + 1) * DayUs <= wmUs }
              var cusum = st0.cusum
              val out = ready.sortBy(_._1).map { case (d, s) =>
                cusum = math.max(0L, cusum + s - refMicro)
                CusumRow(key, java.time.LocalDate.ofEpochDay(d), s, cusum, cusum > hMicro)
              }
              // idle-horizon cleanup (round-9, the psiSlices/trendSlope
              // discipline): once nothing is open and the key has been
              // event-time quiet past the horizon, drop the carried cusum —
              // a permanently quiet key must not hold a state-store entry
              // forever. A later revival restarts the recursion at 0, the
              // documented horizon semantics (same as trendSlope's re-open).
              if (still.isEmpty && !sawNew &&
                lastUs != Long.MinValue && lastUs + idleUs <= wmUs) {
                state.remove()
              } else {
                state.update(CusumState(still, cusum, lastUs))
                if (still.nonEmpty)
                  state.setTimeoutTimestamp((still.map(_._1).min + 1) * DayUs / 1000L + 1)
                else
                  // nothing open: arm the idle-horizon timer (strictly past
                  // the current watermark, or the update would throw)
                  state.setTimeoutTimestamp(
                    math.max((lastUs + idleUs) / 1000L + 1, wmUs / 1000L + 1))
              }
              out.iterator
            }
        }
      })
  }

  // ---- seasonal residual monitor (streaming twin of
  //      graft.ops.Stats.seasonalResiduals) ----

  case class SeasonalRow(
      key: String,
      day: java.time.LocalDate,
      dow: Long,
      rev_micro: Long,
      dow_mean_micro: Long,
      residual_micro: Long)

  /** Streaming seasonal-residual machine: per key, fold events into
    * per-day micro sums; as the watermark finalizes each day, emit the
    * residual against the FITTED weekday baseline (`refs` maps
    * (key, epoch-day % 7) → mean micro — trained by the batch twin,
    * a |keys|·7 driver artifact, the [[cusumDaily]] baseline posture).
    * The seasonality-aware anomaly feed: a quiet Sunday emits ~0, the
    * same volume on a Tuesday emits a large negative residual the
    * moment the day closes. Keys/weekdays without a baseline pass
    * through silently.
    *
    * State posture: O(open days) per key — the smallest of the daily
    * machines (no carried recursion at all).
    */
  def seasonalResiduals(
      events: Dataset[KeyedValueEvent],
      refs: Map[(String, Long), Long],
      watermarkDelay: String = "0 seconds"): Dataset[SeasonalRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    // same broadcast + size contract as [[cusumDaily]]: |keys|·7 model rows
    require(refs.size <= 5000000,
      s"seasonal baseline has ${refs.size} entries — too large for a broadcast model artifact")
    val refsBc = spark.sparkContext.broadcast(refs)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, SeasonalRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(CusumState(Nil, 0L))
        var open = st0.open
        var sawReal = st0.open.nonEmpty
        for (e <- it; if e.kind != Replay.Sentinel) {
          sawReal = true
          val d = Math.floorDiv(usOf(e.ts), DayUs)
          open = open.find(_._1 == d) match {
            case Some((_, s)) => (d, s + e.value) :: open.filterNot(_._1 == d)
            case None         => (d, e.value) :: open
          }
        }
        if (!sawReal) { state.remove(); Iterator.empty }
        else {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, still) = open.partition { case (d, _) => (d + 1) * DayUs <= wmUs }
          val out = ready.sortBy(_._1).flatMap { case (d, s) =>
            val dow = Math.floorMod(d, 7L)
            refsBc.value.get((key, dow)).map(mu =>
              SeasonalRow(key, java.time.LocalDate.ofEpochDay(d), dow, s, mu, s - mu))
          }
          // nothing carried across days here (unlike cusumDaily's
          // recursion), so a key with no open days needs NO state at all —
          // remove instead of parking (Nil, 0) forever (round-9 leak fix)
          if (still.isEmpty) state.remove()
          else {
            state.update(CusumState(still, 0L))
            state.setTimeoutTimestamp((still.map(_._1).min + 1) * DayUs / 1000L + 1)
          }
          out.iterator
        }
      })
  }

  // ---- PSI drift monitor (streaming twin of graft.ops.Stats.psiByKey) ----

  case class PsiState(
      bins: List[(Long, Boolean, Long)], // (bin, inSliceA, count)
      lastUs: Long)

  case class PsiRow(key: String, n_bins: Long, psi_micro: Long)

  /** Streaming PSI machine: per key, count (bin, slice) occurrences as
    * events arrive — the payload IS the bin index (computed upstream by
    * the same `floor(value/width)` expression as the batch twin, so the
    * binning is one shared codegen'd projection), the slice is the
    * event-day's parity (even/odd epoch day, the batch twin's A/B split).
    * After `idleSec` of event-time inactivity the key's distribution pair
    * is complete and ONE final row emits the add-1-smoothed PSI with each
    * `(pA−pB)·ln(pA/pB)` term floored to micro-units BEFORE the sum —
    * the identical IEEE-double expression tree as the batch column form
    * (same divisions, same multiply order, java.lang.Math.log on both
    * paths), so both twins hash against the same oracle.
    *
    * State posture: O(observed bins) pairs per key — bins are value
    * range / width, a constant; never events.
    */
  def psiSlices(
      events: Dataset[KeyedValueEvent],
      idleSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[PsiRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val idleUs = idleSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[PsiState, PsiRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(PsiState(Nil, Long.MinValue))
        var bins = st0.bins
        var lastUs = st0.lastUs
        for (e <- it; if e.kind != Replay.Sentinel) {
          val us = usOf(e.ts)
          lastUs = math.max(lastUs, us)
          val inA = Math.floorDiv(us, DayUs) % 2 == 0
          val k = (e.value, inA)
          bins = bins.find(b => (b._1, b._2) == k) match {
            case Some((bn, a, c)) => (bn, a, c + 1L) :: bins.filterNot(b => (b._1, b._2) == k)
            case None             => (e.value, inA, 1L) :: bins
          }
        }
        if (bins.isEmpty) {
          state.remove() // sentinel-only group
          Iterator.empty
        } else if (lastUs + idleUs <= state.getCurrentWatermarkMs() * 1000L) {
          state.remove()
          val byBin = bins.groupBy(_._1).view.mapValues { l =>
            (l.collect { case (_, true, c) => c }.sum, l.collect { case (_, false, c) => c }.sum)
          }.toMap
          val nBins = byBin.size.toLong
          val na = byBin.valuesIterator.map(_._1).sum
          val nb = byBin.valuesIterator.map(_._2).sum
          var psi = 0L
          for ((_, (ca, cb)) <- byBin) {
            // the batch column tree: (ca+1)/(na+nBins) etc., then
            // floor(((pa-pb) * ln(pa/pb)) * 1e6) — same IEEE ops, same order
            val pa = (ca + 1L).toDouble / (na + nBins).toDouble
            val pb = (cb + 1L).toDouble / (nb + nBins).toDouble
            psi += math.floor((pa - pb) * math.log(pa / pb) * 1e6).toLong
          }
          Iterator.single(PsiRow(key, nBins, psi))
        } else {
          state.update(PsiState(bins, lastUs))
          state.setTimeoutTimestamp((lastUs + idleUs) / 1000L + 1)
          Iterator.empty
        }
      })
  }

  // ---- incremental least-squares trend (streaming twin of
  //      graft.ops.Stats.trendSlopeByKey) ----

  case class TrendState(
      days: List[(Long, Long)], // (epoch day, exact micro sum), open + finalized
      lastUs: Long)

  case class TrendRow(
      key: String,
      n_days: Long,
      slope_num: Option[String], // exact integers as strings: n·Σxy − Σx·Σy
      slope_den: Option[String]) // can exceed int64 (BigInt math); caller
                                 // casts to DECIMAL(38,0) at the edge

  /** Streaming least-squares trend machine: per key, fold events into
    * per-day exact micro sums; after `idleSec` of event-time inactivity
    * the key's daily series is declared complete and ONE final append-mode
    * row emits the exact rational slope (numerator/denominator of the
    * least-squares fit over (epoch-day, day-sum) points) — the same
    * integer-exact record as the batch [[graft.ops.Stats.trendSlopeByKey]]
    * twin, computed with BigInt so n·Σxy − Σx·Σy never wraps where the
    * batch side uses DECIMAL(38). Keys with < 2 days emit null slopes,
    * matching the batch guard.
    *
    * Horizon discipline (= [[eventSequences]]): a key quiet longer than
    * `idleSec` closes and re-opens as a second row, so exact batch parity
    * needs `idleSec` above the corpus's max per-key gap — and ≥ 1 day, so
    * the closing watermark is provably past every open day.
    *
    * State posture: O(|days|) longs per key — the day-grain series, never
    * events (a year of history is 365 pairs). The regression itself needs
    * only 5 running sums; the day list is kept because day sums stay OPEN
    * until the watermark passes them (late events inside the delay must
    * land in their day), and |days| is bounded by the reporting horizon.
    */
  def trendSlope(
      events: Dataset[KeyedValueEvent],
      idleSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TrendRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(idleSec >= 86400L, "idleSec must be >= 1 day (horizon must outlast open days)")
    val idleUs = idleSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[TrendState, TrendRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(TrendState(Nil, Long.MinValue))
        var days = st0.days
        var lastUs = st0.lastUs
        var sawReal = days.nonEmpty
        for (e <- it; if e.kind != Replay.Sentinel) {
          sawReal = true
          val us = usOf(e.ts)
          lastUs = math.max(lastUs, us)
          val d = Math.floorDiv(us, DayUs)
          days = days.find(_._1 == d) match {
            case Some((_, s)) => (d, s + e.value) :: days.filterNot(_._1 == d)
            case None         => (d, e.value) :: days
          }
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        if (!sawReal) {
          state.remove() // sentinel-only group
          Iterator.empty
        } else if (lastUs + idleUs <= wmUs) {
          state.remove()
          val n = days.size.toLong
          if (n >= 2) {
            var sx, sy, sxy, sxx = BigInt(0)
            for ((d, s) <- days) {
              val x = BigInt(d); val y = BigInt(s)
              sx += x; sy += y; sxy += x * y; sxx += x * x
            }
            Iterator.single(TrendRow(key, n,
              Some((n * sxy - sx * sy).toString), Some((n * sxx - sx * sx).toString)))
          } else Iterator.single(TrendRow(key, n, None, None))
        } else {
          state.update(TrendState(days, lastUs))
          state.setTimeoutTimestamp((lastUs + idleUs) / 1000L + 1)
          Iterator.empty
        }
      })
  }

  // ---- SCD Type-2 interval emission (streaming twin of
  //      graft.ops.Sequences.scdHistory) ----

  case class ScdState(
      pending: List[(Long, String, String)], // (us, id, kind) not yet watermark-proved
      last: Option[(Long, String, String)],  // current open version
      lastUs: Long)

  case class ScdRow(
      key: String,
      id: String,
      kind: String,
      valid_from: Timestamp,
      valid_to: Option[Timestamp])

  /** Streaming SCD Type-2 builder: per key, each change CLOSES the
    * previous version (one append-mode interval row with `valid_to` =
    * the new change's time) the moment the watermark PROVES no earlier
    * change can still arrive; the final open version emits with null
    * `valid_to` after `idleSec` of event-time inactivity (the
    * [[eventSequences]] horizon discipline). Events buffer until the
    * watermark passes them, so jitter inside the watermark delay
    * reorders nothing — state is O(pending-within-delay + 1) per key.
    */
  def scdHistory(
      events: Dataset[KeyedEvent],
      idleSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[ScdRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val idleUs = idleSec * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[ScdState, ScdRow](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)((key, it, state) => {
        val st0 = state.getOption.getOrElse(ScdState(Nil, None, Long.MinValue))
        val fresh = sorted(it).filter(_.kind != Replay.Sentinel)
          .map(e => (usOf(e.ts), e.id, e.kind))
        var lastUs = st0.lastUs
        fresh.foreach(e => lastUs = math.max(lastUs, e._1))
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (ready, still) = (st0.pending ++ fresh)
          .sortBy(e => (e._1, e._2))
          .partition(_._1 <= wmUs)
        var last = st0.last
        val rows = scala.collection.mutable.ListBuffer[ScdRow]()
        for (e <- ready) {
          last.foreach(p =>
            rows += ScdRow(key, p._2, p._3, tsOf(p._1), Some(tsOf(e._1))))
          last = Some(e)
        }
        if (lastUs == Long.MinValue) {
          state.remove() // sentinel-only group
          Iterator.empty
        } else if (still.isEmpty && last.isDefined && lastUs + idleUs <= wmUs) {
          // horizon closed: the open version is final
          val p = last.get
          rows += ScdRow(key, p._2, p._3, tsOf(p._1), None)
          state.remove()
          rows.iterator
        } else {
          state.update(ScdState(still, last, lastUs))
          val deadline =
            if (still.nonEmpty) still.map(_._1).min else lastUs + idleUs
          state.setTimeoutTimestamp(deadline / 1000L + 1)
          rows.iterator
        }
      })
  }

  case class TransitionRow(key: String, from_kind: String, to_kind: String)

  /** Streaming Markov-transition extractor: per key, every consecutive
    * (from, to) kind pair in (ts, id) order, emitted as FINAL append-mode
    * rows once the key has been event-time idle for `idleSec` (the
    * [[eventSequences]] horizon semantics — same buffer, same
    * finalize-once discipline; jitter inside the watermark reorders
    * nothing because the buffer re-sorts at close). The trailing
    * (from, to) count is a mergeable aggregate any update-mode sink can
    * maintain; the batch twin (q_transitions) does it at rest, and the
    * replay gate hash-matches the pair counts against the same oracle.
    */
  def transitionPairs(
      events: Dataset[KeyedEvent],
      maxLen: Int,
      idleSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TransitionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    eventSequences(events, maxLen, idleSec, watermarkDelay)
      .flatMap { row =>
        val kinds = row.sequence.split("\\|")
        kinds.iterator.zip(kinds.iterator.drop(1)).map {
          case (a, b) => TransitionRow(row.key, a, b)
        }
      }
  }
}
