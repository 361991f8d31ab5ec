package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** The modern arbitrary-state API (`transformWithState`, Spark 4.x
  * `StatefulProcessor`) carrying the same operator semantics as the
  * `flatMapGroupsWithState` machines in [[StateMachines]] — the forward
  * path for keyed state: NAMED typed state variables (value/list/map)
  * instead of one monolithic state case class, first-class named timers
  * (`registerTimer`/`handleExpiredTimer`) instead of the single
  * `setTimeoutTimestamp` slot, per-state TTL, and RocksDB-only execution
  * (the provider for state beyond executor heap, SURVEY §4).
  *
  * One machine is carried on both APIs ([[matchWithTimeout]] here, its
  * `flatMapGroupsWithState` twin in [[StateMachines.matchWithTimeout]]):
  * `TwsSpec` pins row-for-row equality on replayed real events, so the
  * library's state-machine semantics are API-agnostic and a migration to
  * `transformWithState` is mechanical. The reference's timer surface
  * (`ctx.timerService().registerEventTimeTimer`, reference W7 —
  * `gmall-order-pay/.../OrderTimeOutStateApp.java:57-112`) maps MORE
  * directly here than onto `GroupStateTimeout`: one named timer per
  * deadline, deleted/re-armed as the pending set changes.
  *
  * NOTE: `transformWithState` requires the RocksDB state store provider
  * (`GraftSession.withRocksDb`); the HDFS-backed
  * default provider rejects the operator.
  */
object Tws {

  /** Request→response matcher with event-time timeout on the
    * StatefulProcessor API — same rows as
    * [[StateMachines.matchWithTimeout]]: `reqKind` opens a request;
    * the earliest open request in `(resp − timeout, resp)` matches →
    * "matched"; an unmatched response → "resp_no_req"; a request whose
    * deadline the watermark passes → "timeout".
    */
  class MatchWithTimeoutProcessor(reqKind: String, respKind: String, timeoutSec: Long)
      extends StatefulProcessor[String, KeyedEvent, TaggedRow] {
    import StateMachines.{sorted, tsOf, usOf}

    private val timeoutUs = timeoutSec * 1000000L

    // pending open requests (id, request-ts epoch-us), earliest first —
    // a NAMED list state variable instead of a state case-class field
    @transient private var pending: ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getListState[(String, Long)](
        "pending", Encoders.product[(String, Long)], TTLConfig.NONE)

    /** Flush expired requests against the current watermark, update the
      * state variable, and re-arm ONE timer at the earliest remaining
      * deadline (delete-then-register keeps exactly one live timer per
      * key — the reference's registerEventTimeTimer discipline). */
    private def flushAndArm(
        open0: List[(String, Long)],
        wmUs: Long,
        out: scala.collection.mutable.Builder[TaggedRow, Seq[TaggedRow]]): Unit = {
      val (expired, open) = open0.partition { case (_, reqUs) => reqUs + timeoutUs <= wmUs }
      for ((reqId, reqUs) <- expired)
        out += TaggedRow(null, "timeout", tsOf(reqUs), tsOf(reqUs + timeoutUs), reqId)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (open.isEmpty) pending.clear()
      else {
        pending.put(open.toArray)
        // ceil to ms so the timer never fires before the us deadline
        getHandle.registerTimer((open.map(_._2).min + timeoutUs + 999L) / 1000L)
      }
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[TaggedRow] = {
      var open: List[(String, Long)] =
        if (pending.exists()) pending.get().toList else Nil
      val out = Seq.newBuilder[TaggedRow]
      for (e <- sorted(rows); if e.kind != Replay.Sentinel) e.kind match {
        case k if k == reqKind =>
          open = (open :+ (e.id, usOf(e.ts))).sortBy(_._2)
        case k if k == respKind =>
          open.find { case (_, reqUs) =>
            usOf(e.ts) > reqUs && usOf(e.ts) <= reqUs + timeoutUs
          } match {
            case Some(hit @ (reqId, reqUs)) =>
              out += TaggedRow(key, "matched", tsOf(reqUs), e.ts, reqId)
              open = open.filterNot(_ == hit)
            case None =>
              out += TaggedRow(key, "resp_no_req", e.ts, e.ts, e.id)
          }
        case _ => ()
      }
      flushAndArm(open, timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().map(r => if (r.key == null) r.copy(key = key) else r).iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TaggedRow] = {
      val open: List[(String, Long)] =
        if (pending.exists()) pending.get().toList else Nil
      val out = Seq.newBuilder[TaggedRow]
      flushAndArm(open, timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().map(r => if (r.key == null) r.copy(key = key) else r).iterator
    }
  }

  def matchWithTimeout(
      events: Dataset[KeyedEvent],
      reqKind: String,
      respKind: String,
      timeoutSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(
        new MatchWithTimeoutProcessor(reqKind, respKind, timeoutSec),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Two-stream reconcile on the StatefulProcessor API — same rows as
    * [[StateMachines.reconcile]] (round-10 migration; this machine
    * carries the largest steady state of the fGWS family: TWO open-side
    * buffers per key, exactly what named list states + RocksDB + the
    * single re-armed deadline timer are for). `leftKind`/`rightKind`
    * match within ±`toleranceSec`; unmatched sides emit
    * `left_only`/`right_only` once the watermark passes their deadline.
    */
  class ReconcileProcessor(leftKind: String, rightKind: String, toleranceSec: Long)
      extends StatefulProcessor[String, KeyedEvent, TaggedRow] {
    import StateMachines.{sorted, tsOf, usOf}

    private val tolUs = toleranceSec * 1000000L

    @transient private var leftOpen: ListState[(String, Long)] = _
    @transient private var rightOpen: ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      leftOpen = getHandle.getListState[(String, Long)](
        "leftOpen", Encoders.product[(String, Long)], TTLConfig.NONE)
      rightOpen = getHandle.getListState[(String, Long)](
        "rightOpen", Encoders.product[(String, Long)], TTLConfig.NONE)
    }

    private def load(s: ListState[(String, Long)]): List[(String, Long)] =
      if (s.exists()) s.get().toList else Nil

    private def flushAndArm(
        key: String,
        l0: List[(String, Long)],
        r0: List[(String, Long)],
        wmUs: Long,
        out: scala.collection.mutable.Builder[TaggedRow, Seq[TaggedRow]]): Unit = {
      val (lExp, lOpen) = l0.partition { case (_, us) => us + tolUs <= wmUs }
      val (rExp, rOpen) = r0.partition { case (_, us) => us + tolUs <= wmUs }
      for ((id, us) <- lExp) out += TaggedRow(key, "left_only", tsOf(us), tsOf(us), id)
      for ((id, us) <- rExp) out += TaggedRow(key, "right_only", tsOf(us), tsOf(us), id)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (lOpen.isEmpty) leftOpen.clear() else leftOpen.put(lOpen.toArray)
      if (rOpen.isEmpty) rightOpen.clear() else rightOpen.put(rOpen.toArray)
      if (lOpen.nonEmpty || rOpen.nonEmpty)
        getHandle.registerTimer(((lOpen ++ rOpen).map(_._2).min + tolUs + 999L) / 1000L)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[TaggedRow] = {
      var left = load(leftOpen)
      var right = load(rightOpen)
      val out = Seq.newBuilder[TaggedRow]
      def tryMatch(
          ts: Long,
          other: List[(String, Long)]): (Option[(String, Long)], List[(String, Long)]) =
        other.find { case (_, o) => Math.abs(o - ts) <= tolUs } match {
          case Some(hit) => (Some(hit), other.filterNot(_ == hit))
          case None      => (None, other)
        }
      for (e <- sorted(rows)) {
        if (e.kind == leftKind) {
          val (hit, rest) = tryMatch(usOf(e.ts), right)
          hit match {
            case Some((rid, rus)) =>
              out += TaggedRow(key, "matched", e.ts, tsOf(rus), s"${e.id}|$rid")
              right = rest
            case None => left = left :+ (e.id, usOf(e.ts))
          }
        } else if (e.kind == rightKind) {
          val (hit, rest) = tryMatch(usOf(e.ts), left)
          hit match {
            case Some((lid, lus)) =>
              out += TaggedRow(key, "matched", tsOf(lus), e.ts, s"$lid|${e.id}")
              left = rest
            case None => right = right :+ (e.id, usOf(e.ts))
          }
        }
      }
      flushAndArm(key, left, right, timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TaggedRow] = {
      val out = Seq.newBuilder[TaggedRow]
      flushAndArm(key, load(leftOpen), load(rightOpen),
        timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().iterator
    }
  }

  def reconcile(
      events: Dataset[KeyedEvent],
      leftKind: String,
      rightKind: String,
      toleranceSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(
        new ReconcileProcessor(leftKind, rightKind, toleranceSec),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[Cep]] NFA on the StatefulProcessor API — same rows as
    * [[Cep.run]] for any [[Cep.Pattern]] (round-10 migration; open
    * partials become a named list state, the horizon deadline a single
    * re-armed named timer). The NFA transition logic is shared verbatim
    * via the same fold over (ts, id)-sorted events.
    */
  class CepProcessor(
      steps: Vector[Cep.Step],
      withinUs: Option[Long],
      emitTimeouts: Boolean)
      extends StatefulProcessor[String, KeyedEvent, Cep.CepMatch] {
    import StateMachines.{sorted, tsOf, usOf}

    private val nSteps = steps.size

    @transient private var partialsState: ListState[Cep.CepPartial] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      partialsState = getHandle.getListState[Cep.CepPartial](
        "partials", Encoders.product[Cep.CepPartial], TTLConfig.NONE)

    private def load(): List[Cep.CepPartial] =
      if (partialsState.exists()) partialsState.get().toList else Nil

    /** Horizon reaping + state/timer update — the tail of each batch and
      * of each expired timer, shared with the fGWS machine's logic. */
    private def reapAndArm(
        key: String,
        partials0: List[Cep.CepPartial],
        wmUs: Long,
        out: scala.collection.mutable.Builder[Cep.CepMatch, Seq[Cep.CepMatch]]): Unit =
      withinUs match {
        case Some(w) =>
          val (expired, open) = partials0.partition(p => p.anchorUs + w <= wmUs)
          if (emitTimeouts)
            for (p <- expired)
              out += Cep.CepMatch(key, "timeout", tsOf(p.anchorUs), tsOf(p.anchorUs + w),
                p.firstId)
          getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
          if (open.isEmpty) partialsState.clear()
          else {
            partialsState.put(open.toArray)
            getHandle.registerTimer((open.map(_.anchorUs).min + w + 999L) / 1000L)
          }
        case None =>
          if (partials0.isEmpty) partialsState.clear()
          else partialsState.put(partials0.toArray)
      }

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[Cep.CepMatch] = {
      var partials = load()
      val out = Seq.newBuilder[Cep.CepMatch]
      for (e <- sorted(rows); if e.kind != Replay.Sentinel) {
        val us = usOf(e.ts)
        val inHorizon = (p: Cep.CepPartial) => withinUs.forall(w => us - p.anchorUs <= w)
        partials = partials.flatMap { p =>
          val step = steps(p.step)
          val timeOk = (!step.strict && us > p.lastUs) || step.strict
          if (step.pred(e) && timeOk && inHorizon(p)) {
            if (p.step + 1 == nSteps) {
              out += Cep.CepMatch(key, "matched", tsOf(p.anchorUs), e.ts, p.firstId)
              Nil
            } else Some(p.copy(step = p.step + 1, lastUs = us))
          } else if (step.strict) Nil
          else Some(p)
        }
        if (steps.head.pred(e)) {
          if (nSteps == 1) out += Cep.CepMatch(key, "matched", e.ts, e.ts, e.id)
          else partials = Cep.CepPartial(1, us, e.id, us) :: partials
        }
      }
      reapAndArm(key, partials, timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Cep.CepMatch] = {
      val out = Seq.newBuilder[Cep.CepMatch]
      reapAndArm(key, load(), timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().iterator
    }
  }

  /** Per-window top-N collector on the StatefulProcessor API — same rows
    * as [[StateMachines.windowTopN]] (reference T1/C1,
    * `HotItemApp.java:62,116-190`). This machine is where the API gap is
    * widest: the fGWS form rewrites one monolithic `Map[String, Long]`
    * case-class blob per batch, while a NAMED `MapState` gives per-item
    * POINT updates — at 100 TB a hot window's counter map is millions of
    * items, and RocksDB merges `(window, item) → +1` deltas instead of
    * re-serializing the whole map every micro-batch. Timer discipline is
    * the shared delete-then-re-arm: one live timer per window at
    * `windowEnd + 1 ms`, clamped above the watermark so late-but-in-margin
    * rows re-arm an already-passed deadline.
    */
  class WindowTopNProcessor(sizeUs: Long, n: Int)
      extends StatefulProcessor[Long, (Long, String, Timestamp), StateMachines.WindowTopRow] {
    import StateMachines.tsOf

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        winStartUs: Long,
        rows: Iterator[(Long, String, Timestamp)],
        timerValues: TimerValues): Iterator[StateMachines.WindowTopRow] = {
      // pre-combine the batch locally so state traffic is one point
      // read + one point write per DISTINCT item, not per row
      val batch = scala.collection.mutable.Map.empty[String, Long]
      for ((_, item, _) <- rows)
        batch.update(item, batch.getOrElse(item, 0L) + 1L)
      for ((item, c) <- batch) {
        val prev = if (counts.containsKey(item)) counts.getValue(item) else 0L
        counts.updateValue(item, prev + c)
      }
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(math.max(
        (winStartUs + sizeUs) / 1000L + 1L,
        timerValues.getCurrentWatermarkInMs() + 1L))
      Iterator.empty
    }

    override def handleExpiredTimer(
        winStartUs: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StateMachines.WindowTopRow] = {
      val top = counts.iterator().toSeq
        .sortBy { case (item, cnt) => (-cnt, item) }
        .take(n)
      counts.clear()
      top.iterator.zipWithIndex.map { case ((item, cnt), i) =>
        StateMachines.WindowTopRow(tsOf(winStartUs), item, cnt, i + 1)
      }
    }
  }

  /** Stage-2 collector of the two-stage [[windowTopN]]: folds the
    * watermark-final per-(pane, item) counts the built-in PANE
    * aggregation emits (exploded into containing windows upstream) into
    * a named `MapState`, and emits the top N when the window completes —
    * immediately in the batch whose watermark passed windowEnd (that
    * batch delivered the last pane's finals), or at the windowEnd + 1 ms
    * timer when the final pane was empty. An `emitted` marker + GC timer
    * guard exactly-once emission against beyond-contract stragglers
    * (dropped, like any too-late row). The round-12 sliding-stage-1 form
    * delivered a window's finals all in one batch; this collector
    * handles that delivery too (the fold degenerates to immediate
    * emission), which is how the `paneStage1 = false` foil shares it.
    */
  class WindowTopNCollector(sizeUs: Long, n: Int)
      extends StatefulProcessor[Long, (Long, String, Long, Timestamp), StateMachines.WindowTopRow] {
    import StateMachines.tsOf

    @transient private var emitted: ValueState[Boolean] = _
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      emitted = getHandle.getValueState[Boolean]("emitted", Encoders.scalaBoolean, TTLConfig.NONE)
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    private def emitTop(winStartUs: Long, wmMs: Long): Iterator[StateMachines.WindowTopRow] = {
      val top = counts.iterator().toSeq
        .sortBy { case (item, cnt) => (-cnt, item) }
        .take(n)
      counts.clear()
      emitted.update(true) // marker; GC'd one window-length later
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(wmMs + sizeUs / 1000L + 1L)
      top.iterator.zipWithIndex.map { case ((item, cnt), i) =>
        StateMachines.WindowTopRow(tsOf(winStartUs), item, cnt, i + 1)
      }
    }

    override def handleInputRows(
        winStartUs: Long,
        rows: Iterator[(Long, String, Long, Timestamp)],
        timerValues: TimerValues): Iterator[StateMachines.WindowTopRow] = {
      if (emitted.exists()) Iterator.empty // beyond-contract straggler: too late
      else {
        // pre-combine locally: one point read + write per distinct item
        val batch = scala.collection.mutable.Map.empty[String, Long]
        for ((_, item, cnt, _) <- rows)
          batch.update(item, batch.getOrElse(item, 0L) + cnt)
        for ((item, c) <- batch) {
          val prev = if (counts.containsKey(item)) counts.getValue(item) else 0L
          counts.updateValue(item, prev + c)
        }
        val wmMs = timerValues.getCurrentWatermarkInMs()
        if (wmMs * 1000L >= winStartUs + sizeUs) emitTop(winStartUs, wmMs)
        else {
          // windowEnd + 1 ms, clamped above the watermark (late panes
          // inside the delay margin re-arm an expired deadline)
          getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
          getHandle.registerTimer(math.max(
            (winStartUs + sizeUs) / 1000L + 1L, wmMs + 1L))
          Iterator.empty
        }
      }
    }

    override def handleExpiredTimer(
        winStartUs: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StateMachines.WindowTopRow] = {
      if (emitted.exists()) { // marker GC
        emitted.clear()
        counts.clear()
        Iterator.empty
      } else // the window's final pane was empty: emit at the deadline
        emitTop(winStartUs, timerValues.getCurrentWatermarkInMs())
    }
  }

  /** [[StateMachines.windowTopN]] (two-stage: built-in watermark-final
    * PANE aggregation → explode into containing windows → window-keyed
    * pane-folding collector) on `transformWithState` — identical stage-1
    * plan; only the collector's state backend changes. See the fGWS twin
    * for the scale rationale: stage 1 writes ONE state row per event
    * (pane grain, not size/slide sliding states), and stage 2's exchange
    * carries pane cardinality, never raw events. */
  def windowTopN(
      events: Dataset[KeyedEvent],
      sizeUs: Long,
      slideUs: Long,
      n: Int,
      watermarkDelay: String = "2 seconds"): Dataset[StateMachines.WindowTopRow] = {
    require(sizeUs % slideUs == 0, "window size must be a multiple of slide")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nW = (sizeUs / slideUs).toInt
    val finals = events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), s"$slideUs microseconds"), col("key").as("item"))
      .agg(count(when(col("kind") =!= Replay.Sentinel, 1)).as("cnt"))
      .filter(col("cnt") > 0)
      // window_time keeps a watermark-tagged event-time attribute visible
      // on the stateful op's input (required for TimeMode.EventTime); the
      // pane → windows explode is Column-based for the same reason
      .select(
        explode(array((0 until nW).map(i =>
          unix_micros(col("window.start")) - lit(i.toLong * slideUs)): _*)).as("win"),
        col("item"), col("cnt"),
        window_time(col("window")).as("wt"))
      .as[(Long, String, Long, Timestamp)]
    finals
      .groupByKey(_._1)
      .transformWithState(
        new WindowTopNCollector(sizeUs, n),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** [[StateMachines.windowTopNEventGrain]] on `transformWithState` —
    * identical window explode and keying; only the state backend changes
    * (the per-window counter map becomes a NAMED `MapState` with per-item
    * point updates). Timer-fidelity form, kept for the timer specs; the
    * declared streaming plan is the two-stage [[windowTopN]]. */
  def windowTopNEventGrain(
      events: Dataset[KeyedEvent],
      sizeUs: Long,
      slideUs: Long,
      n: Int,
      watermarkDelay: String = "2 seconds"): Dataset[StateMachines.WindowTopRow] = {
    require(sizeUs % slideUs == 0, "window size must be a multiple of slide")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nW = (sizeUs / slideUs).toInt
    // Column-based explode, not a typed flatMap: a typed map re-serializes
    // and strips the watermark metadata the event-time op needs (same
    // constraint as the fGWS twin)
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
      .transformWithState(
        new WindowTopNProcessor(sizeUs, n),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Compile a [[Cep.Pattern]] onto `transformWithState` — the
    * API-migrated twin of [[Cep.run]]. */
  def cepRun(
      events: Dataset[KeyedEvent],
      pattern: Cep.Pattern,
      emitTimeouts: Boolean = false,
      watermarkDelay: String = "0 seconds"): Dataset[Cep.CepMatch] = {
    require(pattern.steps.size >= 1, "empty pattern")
    require(!emitTimeouts || pattern.withinSec.isDefined,
      "emitTimeouts needs within(sec) — the horizon defines the timeout")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(
        new CepProcessor(pattern.steps, pattern.withinSec.map(_ * 1000000L), emitTimeouts),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** As-of join on the StatefulProcessor API — same rows as
    * [[StateMachines.asOf]]: each ripe probe (watermark-passed) matches
    * the latest build at-or-before it, or emits `no_build`; builds the
    * watermark has passed compact down to the single latest survivor
    * (the only one a future probe can still pick). The two sides become
    * two NAMED list states, the earliest pending probe a single re-armed
    * deadline timer.
    */
  class AsOfProcessor(buildKind: String, probeKind: String)
      extends StatefulProcessor[String, KeyedEvent, TaggedRow] {
    import StateMachines.{sorted, tsOf, usOf}

    @transient private var builds: ListState[(String, Long)] = _
    @transient private var probes: ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      builds = getHandle.getListState[(String, Long)](
        "builds", Encoders.product[(String, Long)], TTLConfig.NONE)
      probes = getHandle.getListState[(String, Long)](
        "probes", Encoders.product[(String, Long)], TTLConfig.NONE)
    }

    private def load(s: ListState[(String, Long)]): List[(String, Long)] =
      if (s.exists()) s.get().toList else Nil

    private def flushAndArm(
        key: String,
        b0: List[(String, Long)],
        p0: List[(String, Long)],
        wmUs: Long,
        out: scala.collection.mutable.Builder[TaggedRow, Seq[TaggedRow]]): Unit = {
      val (ripe, pending) = p0.partition { case (_, us) => us <= wmUs }
      for ((pid, pus) <- ripe.sortBy { case (id, us) => (us, id) }) {
        val cands = b0.filter { case (_, bus) => bus <= pus }
        if (cands.isEmpty) out += TaggedRow(key, "no_build", tsOf(pus), tsOf(pus), pid)
        else {
          val (bid, bus) = cands.maxBy { case (id, us) => (us, id) }
          out += TaggedRow(key, "matched", tsOf(pus), tsOf(bus), s"$pid|$bid")
        }
      }
      // builds the watermark has passed: only the latest can ever win
      val (stale, fresh) = b0.partition { case (_, us) => us <= wmUs }
      val kept = if (stale.isEmpty) fresh
        else stale.maxBy { case (id, us) => (us, id) } :: fresh
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (kept.isEmpty) builds.clear() else builds.put(kept.toArray)
      if (pending.isEmpty) probes.clear() else probes.put(pending.toArray)
      if (pending.nonEmpty)
        getHandle.registerTimer((pending.map(_._2).min + 999L) / 1000L + 1L)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[TaggedRow] = {
      var b = load(builds)
      var p = load(probes)
      for (e <- sorted(rows)) {
        if (e.kind == buildKind) b = b :+ (e.id, usOf(e.ts))
        else if (e.kind == probeKind) p = p :+ (e.id, usOf(e.ts))
      }
      val out = Seq.newBuilder[TaggedRow]
      flushAndArm(key, b, p, timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TaggedRow] = {
      val out = Seq.newBuilder[TaggedRow]
      flushAndArm(key, load(builds), load(probes),
        timerValues.getCurrentWatermarkInMs() * 1000L, out)
      out.result().iterator
    }
  }

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
      .transformWithState(
        new AsOfProcessor(buildKind, probeKind),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Funnel progression on the StatefulProcessor API — same rows as
    * [[StateMachines.funnel]]: the in-order step chain is a NAMED list
    * state of step timestamps, the (horizon, tombstone) pair a named
    * value state, the window deadline a single re-armed timer. One FINAL
    * row per key once the window closes; the tombstone pins at-most-once
    * emission exactly like the fGWS twin's `done` flag.
    *
    * State posture: the tombstone is one boolean per EMITTED key and is
    * never dropped (re-emission on a late revisit would double-count) —
    * at 100 TB key cardinality, bound it with a state TTL ≥ the replay /
    * late-data horizon: past that horizon no event for the key can
    * arrive, so expiring the tombstone is safe.
    */
  class FunnelProcessor(steps: Seq[String], windowUs: Long)
      extends StatefulProcessor[String, KeyedEvent, StateMachines.FunnelRow] {
    import StateMachines.{sorted, tsOf, usOf}

    @transient private var chainState: ListState[Long] = _
    // (lastUs, done) — the horizon of the newest event seen and the
    // emitted-already tombstone
    @transient private var meta: ValueState[(Long, Boolean)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      chainState = getHandle.getListState[Long](
        "chain", Encoders.scalaLong, TTLConfig.NONE)
      meta = getHandle.getValueState[(Long, Boolean)](
        "meta", Encoders.product[(Long, Boolean)], TTLConfig.NONE)
    }

    private def flush(
        key: String,
        chain: List[Long],
        lastUs: Long,
        wmUs: Long): Iterator[StateMachines.FunnelRow] = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (chain.nonEmpty && chain.head + windowUs <= wmUs) {
        // horizon closed: the chain is final; tombstone the key
        chainState.clear()
        meta.update((lastUs, true))
        Iterator.single(
          StateMachines.FunnelRow(key, chain.size, tsOf(chain.head), tsOf(chain.last)))
      } else if (chain.isEmpty && lastUs + windowUs <= wmUs) {
        // no chain started and none can retroactively include events this
        // old — drop all state, nothing to emit
        chainState.clear()
        meta.clear()
        Iterator.empty
      } else {
        if (chain.isEmpty) chainState.clear() else chainState.put(chain.toArray)
        meta.update((lastUs, false))
        val deadline = if (chain.nonEmpty) chain.head + windowUs else lastUs + windowUs
        getHandle.registerTimer((deadline + 999L) / 1000L)
        Iterator.empty
      }
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[StateMachines.FunnelRow] = {
      val (lastUs0, done) =
        if (meta.exists()) meta.get() else (Long.MinValue, false)
      var chain: List[Long] = if (chainState.exists()) chainState.get().toList else Nil
      var lastUs = lastUs0
      if (!done) for (e <- sorted(rows); if e.kind != Replay.Sentinel) {
        val us = usOf(e.ts)
        lastUs = math.max(lastUs, us)
        val idx = chain.size
        if (idx < steps.size && e.kind == steps(idx) &&
          (chain.isEmpty || (us > chain.last && us <= chain.head + windowUs)))
          chain = chain :+ us
      }
      if (done) Iterator.empty
      else flush(key, chain, lastUs, timerValues.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StateMachines.FunnelRow] = {
      val (lastUs, done) =
        if (meta.exists()) meta.get() else (Long.MinValue, false)
      val chain: List[Long] = if (chainState.exists()) chainState.get().toList else Nil
      if (done) Iterator.empty
      else flush(key, chain, lastUs, timerValues.getCurrentWatermarkInMs() * 1000L)
    }
  }

  def funnel(
      events: Dataset[KeyedEvent],
      steps: Seq[String],
      windowSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[StateMachines.FunnelRow] = {
    require(steps.nonEmpty, "need at least one funnel step")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(
        new FunnelProcessor(steps, windowSec * 1000000L),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Consecutive-run detection on the StatefulProcessor API — same rows
    * as [[StateMachines.consecutiveMatches]] (reference C3, the
    * state-machine flavor of login-fail; the CEP flavor is [[cepRun]]).
    * Timer-free: the whole state is one named value — the last n−1 match
    * times plus the run's first id — reset by any non-matching event. */
  class ConsecutiveMatchesProcessor(matchKind: String, n: Int, maxGapUs: Long)
      extends StatefulProcessor[String, KeyedEvent, TaggedRow] {
    import StateMachines.{sorted, tsOf, usOf, RunState}

    @transient private var run: ValueState[RunState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      run = getHandle.getValueState[RunState](
        "run", Encoders.product[RunState], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[TaggedRow] = {
      var st = if (run.exists()) run.get() else RunState(Nil, "")
      val out = Seq.newBuilder[TaggedRow]
      for (e <- sorted(rows)) {
        if (e.kind == matchKind) {
          val times = (st.matchTimes :+ usOf(e.ts)).takeRight(n)
          val firstId = if (st.matchTimes.isEmpty) e.id else st.firstId
          if (times.length == n && usOf(e.ts) - times.head <= maxGapUs)
            out += TaggedRow(key, "warn", tsOf(times.head), e.ts, firstId)
          st = RunState(times.takeRight(n - 1), firstId)
        } else if (e.kind != Replay.Sentinel) st = RunState(Nil, "")
      }
      run.update(st)
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TaggedRow] = Iterator.empty
  }

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
      .transformWithState(
        new ConsecutiveMatchesProcessor(matchKind, n, maxGapSec * 1000000L),
        TimeMode.None(),
        OutputMode.Append())
  }

  /** Daily-threshold blacklist on the StatefulProcessor API — same rows
    * as [[StateMachines.dailyThreshold]] (reference C2/W8: count per UTC
    * day, pass under the threshold, one warn at the crossing, suppress
    * after). Timer-free: the day rollover is event-time arithmetic, the
    * state one named (day, count, warned) value. */
  class DailyThresholdProcessor(matchKind: String, threshold: Long)
      extends StatefulProcessor[String, KeyedEvent, TaggedRow] {
    import StateMachines.{sorted, tsOf, usOf, DayCountState}

    private val dayUs = 86400000000L

    @transient private var day: ValueState[DayCountState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      day = getHandle.getValueState[DayCountState](
        "day", Encoders.product[DayCountState], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[TaggedRow] = {
      var st = if (day.exists()) day.get() else DayCountState(-1L, 0L, warned = false)
      val out = Seq.newBuilder[TaggedRow]
      for (e <- sorted(rows) if e.kind == matchKind) {
        val d = Math.floorDiv(usOf(e.ts), dayUs) * dayUs
        if (d != st.dayStartUs) st = DayCountState(d, 0L, warned = false)
        st = st.copy(cnt = st.cnt + 1)
        if (st.cnt < threshold)
          out += TaggedRow(key, "pass", e.ts, e.ts, e.id)
        else if (!st.warned) {
          out += TaggedRow(key, "warn", tsOf(st.dayStartUs), e.ts, s"count=${st.cnt}")
          st = st.copy(warned = true)
        }
      }
      day.update(st)
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TaggedRow] = Iterator.empty
  }

  def dailyThreshold(
      events: Dataset[KeyedEvent],
      matchKind: String,
      threshold: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TaggedRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(
        new DailyThresholdProcessor(matchKind, threshold),
        TimeMode.None(),
        OutputMode.Append())
  }
}
