package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables
import graft.ops._
import graft.streaming.{Replay, StateMachines, StreamJoins, WindowTriggers}
import graft.queries.Fragments.{discPrice, discPriceSql, keyedEventsFrame, tokensExpr}

/** `q_*`: the reference app's event operators (windowed
  * aggregations, stateful sequence machines, joins, relational core) and
  * the `q_*_stream` replays that re-run them as micro-batch streams.
  */
object ReferenceQueries {

  private def events(t: Tables, typ: String): DataFrame =
    t.events.filter(col("event_type") === typ)

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

  /** q_ad_blacklist_stream's oracle. */
  private lazy val adBlacklistStreamSql: String =
    """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      |FROM events WHERE event_type = 'click'
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- windowed aggregations (reference A1–A8, W3/W4) ----
    Query("q_pv_hourly", pvHourlySql)((s, dir) => {
      // A3/W4: tumbling-hour page views (PageViewApp)
      WindowAggs.tumblingCount(events(Tables(s, dir), "view"), col("ts"), "1 hour")
    }),
    Query("q_uv_hourly", uvHourlySql)((s, dir) => {
      // A7: exact distinct visitors per hour (UniqueVisitorApp)
      WindowAggs.tumblingCountDistinct(Tables(s, dir).events, col("ts"), "1 hour", col("user_id"))
    }),
    Query("q_uv_daily_approx", uvDailyHllSql)((s, dir) => {
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
    Query("q_uv_daily_bloom",
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
        |FROM x""".stripMargin)((s, dir) => {
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
    Query("q_channel_stats", channelStatsSql)((s, dir) => {
      // A5: per-(channel,behavior) daily counts (channelApp, intended
      // semantics — the reference's agg has a constant-1 bug, SURVEY §2.3)
      val e = Tables(s, dir).events
        .withColumn("k_bucket", get_json_object(col("props"), "$.k").cast("long") % 10)
      WindowAggs.tumblingCount(e, col("ts"), "1 day", Seq(col("event_type"), col("k_bucket")))
    }),
    Query("q_sessions", sessionsSql)((s, dir) => {
      // sessionization: per-user sessions closed by 30 min inactivity
      WindowAggs
        .sessionCount(Tables(s, dir).events, col("ts"), "30 minutes", Seq(col("user_id")))
        .select(col("user_id"), col("session_start"), col("session_end"), col("cnt"))
    }),
    Query("q_hot_items", slidingOracle(
      "WHERE event_type = 'click'", "user_id", "user_id", 300000000L, 12, 5, "DESC"))((s, dir) => {
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
    Query("q_hot_pages", slidingOracle(
      "", "event_type", "event_type", 600000000L, 3, 3, "DESC"))((s, dir) => {
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
    Query("q_pv_hourly_stream", pvHourlySql)((s, dir) => {
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
    Query("q_uv_pane_stream", uvHourlySql)((s, dir) => {
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
    Query("q_pv_lateness_stream", pvHourlySql)((s, dir) => {
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
    Query("q_sessions_stream", sessionsSql)((s, dir) => {
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
    Query("q_login_fail_stream", loginFailSql)((s, dir) => {
      // C3/C4 streaming: flatMapGroupsWithState run-detection state machine
      Replay.keyedEvents(keyedEventsFrame(Tables(s, dir))) { stream =>
        StateMachines
          .consecutiveMatches(stream, "error", n = 2, maxGapSec = 7200L)
          .toDF()
          .select(col("key").cast("long").as("user_id"), col("first_ts"), col("last_ts"))
      }
    }),
    Query("q_ad_blacklist_stream", adBlacklistStreamSql)((s, dir) => {
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
    Query("q_order_timeout_stream",
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
        |FROM matched""".stripMargin)((s, dir) => {
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
    Query("q_reconcile_stream", reconcileStreamSql)((s, dir) => {
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
    Query("q_ad_blacklist",
      """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)((s, dir) => {
      // C2/A9: daily per-key threshold (AdClickApp blacklist)
      Sequences
        .dailyThreshold(Tables(s, dir).events, col("user_id"), col("ts"),
          col("event_type") === "click", 2L)
        .withColumnRenamed("key", "user_id")
    }),
    Query("q_login_fail", loginFailSql)((s, dir) => {
      // C3/C4: two consecutive failures within a bound (LoginFailWithState2)
      Sequences
        .consecutiveMatches(Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error", n = 2, maxGapSec = 7200L)
        .withColumnRenamed("key", "user_id")
    }),
    Query("q_login_fail3", loginFail3Sql)((s, dir) => {
      // C5: times(3).consecutive().within(6h) (LoginFailwithStateCEP_More)
      Sequences
        .consecutiveMatches(Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error", n = 3, maxGapSec = 21600L)
        .withColumnRenamed("key", "user_id")
    }),
    Query("q_order_timeout", orderTimeoutSql)((s, dir) => {
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
    Query("q_cep_login_fail3_stream", loginFail3Sql)((s, dir) => {
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
    Query("q_cep_order_timeout_stream", orderTimeoutSql)((s, dir) => {
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
    Query("q_interval_join", intervalJoinSql)((s, dir) => {
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
    Query("q_asof_join", asOfSql)((s, dir) => {
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
    Query("q_asof_stream", asOfSql)((s, dir) => {
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
    Query("q_reconcile",
      """SELECT coalesce(p.user_id, sg.user_id) AS user_id,
        |       p.event_id AS p_id, sg.event_id AS s_id,
        |       CASE WHEN p.ts IS NOT NULL AND sg.ts IS NOT NULL THEN 'matched'
        |            WHEN p.ts IS NOT NULL THEN 'pay_no_signup'
        |            ELSE 'signup_no_pay' END AS status
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'signup') sg
        |  ON p.user_id = sg.user_id
        | AND abs(epoch_us(sg.ts) - epoch_us(p.ts)) <= 86400000000""".stripMargin)((s, dir) => {
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
    Query("q_min_cost_supplier",
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
        |WHERE rn = 1""".stripMargin)((s, dir) => {
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
    Query("q_nation_flows",
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
         |GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
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
    Query("q_rollup_revenue",
      s"""SELECT r_name, n_name, CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)((s, dir) => {
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
    Query("q_pivot_daily",
      """SELECT CAST(ts AS DATE) AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin)((s, dir) => {
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
    // streaming twin: same wide-table oracle as the batch pivot
    Query("q_pivot_daily_stream",
      """SELECT CAST(ts AS DATE) AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin)((s, dir) => {
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
    Query("q_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')""".stripMargin)((s, dir) => {
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
    Query("q_moving_avg", movingAvgSql)((s, dir) => {
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
    Query("q_ewma_daily", ewmaDailySql)((s, dir) => {
      // α=1/2 EWMA control chart over the daily revenue series —
      // integer-floored halving recursion ((v+s)>>1) so the inherently
      // order-dependent smoother is engine-exact; fold runs per key over
      // the |days| array, corpus aggregates once (Stats.ewmaDaily)
      Stats.ewmaDaily(Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
        .select(col("key").as("event_type"), col("day"),
          col("rev_micro"), col("ewma_micro"))
    }),
    Query("q_cube_events",
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))""".stripMargin)((s, dir) => {
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
    Query("q_top_orders",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders
        |) ranked WHERE rank <= 10""".stripMargin)((s, dir) => {
      // T1 batch flavor on relational data: top-10 orders by price per priority
      TopN
        .perPartition(Tables(s, dir).orders, Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 10)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rank"))
    }),
    Query("q_histogram",
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |  CAST(CAST(floor(value / 50.0) AS BIGINT) * 50.0 AS DOUBLE) AS bin_lo,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
      // fixed-width value histogram per event type: the distribution view
      // behind filter thresholds; one (key,bin)-grain exchange
      Stats.histogram(Tables(s, dir).events, col("event_type"), col("value"), width = 50.0)
        .select(col("key").as("event_type"), col("bin"), col("bin_lo"), col("cnt"))
    }),
    Query("q_pareto",
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
        |WINDOW w AS (ORDER BY rev DESC, user_id ASC)""".stripMargin)((s, dir) => {
      // revenue concentration: per-user totals ranked desc with exact
      // running share of the grand total (decimal prefix sums)
      Stats.paretoShare(Tables(s, dir).events, col("user_id"), col("value"))
        .select(col("key").cast("long").as("user_id"), col("rank"),
          col("rev"), col("cum_share_micro"))
    }),
    Query("q_zscore_outliers",
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
        |FROM z WHERE abs(zv) > 3.0""".stripMargin)((s, dir) => {
      // per-type z-score outliers: decimal moment sums (order-free,
      // engine-exact) -> mean/std as deterministic double ops; the tiny
      // per-type stats table broadcasts back, corpus never re-shuffles;
      // zero-variance strata flag nothing (guarded in Stats.zscoreOutliers)
      Stats.zscoreOutliers(
          Tables(s, dir).events, col("event_type"), col("value"), threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          floor(col("z") * 1e6).cast("long").as("z_micro"))
    }),
    Query("q_range_join",
      """SELECT tier, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM events
        |JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
        |             ('high', 150.0, 1e12)) t(tier, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q_gap_fill",
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
        |  ON grid.key = hourly.key AND grid.hr = hourly.hr""".stripMargin)((s, dir) => {
      // densified hourly revenue per event_type with zero-fill + LOCF —
      // the batch construction of what a streaming window emits
      // continuously; grid built from a broadcast global [min,max] span,
      // windows run at grid grain (see Stats.gapFillHourly scaladoc)
      Stats.gapFillHourly(
          Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
        .select(col("key").as("event_type"), col("hr"), col("rev"), col("rev_locf"))
    }),
    Query("q_latest_snapshot",
      """SELECT user_id, ts, event_type, value FROM (
        |  SELECT user_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)((s, dir) => {
      // CDC / changelog compaction: each user's LATEST event materializes
      // the upsert snapshot. WindowGroupLimit keeps per-map-task top-1
      // rows before the exchange, so the shuffle carries ≤ one row per
      // (key, partition) — see Dedup.keepLatest
      Dedup
        .keepLatest(Tables(s, dir).events,
          key = Seq(col("user_id")), version = Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    }),
    Query("q_mad_outliers",
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
        |WHERE a.mad > 0 AND dv.d > 3.5 * a.mad""".stripMargin)((s, dir) => {
      // robust per-type outliers: median/MAD (50% breakdown) instead of
      // mean/σ — type-1 medians are actual data values, so med/mad land
      // on the record exactly; zero-MAD strata flag nothing
      Stats.madOutliers(
          Tables(s, dir).events, col("event_type"), col("value"), threshold = 3.5)
        .select(col("event_id"), col("event_type"), col("value"), col("med"), col("mad"))
    }),
    Query("q_event_gaps",
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, count(gap) AS n_gaps,
        |  min(gap) AS min_gap_us, max(gap) AS max_gap_us,
        |  CAST(sum(gap) AS BIGINT) AS sum_gap_us
        |FROM g GROUP BY user_id""".stripMargin)((s, dir) => {
      // per-user inter-arrival gap stats in exact µs integers — dwell/
      // burstiness analytics and session-timeout calibration; one key
      // exchange + per-key sort, then a map-side-combined agg
      Stats.interArrivalGaps(
          Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"))
        .select(col("key").cast("long").as("user_id"), col("n_events"),
          col("n_gaps"), col("min_gap_us"), col("max_gap_us"), col("sum_gap_us"))
    }),
    Query("q_bloom_join",
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0)
        |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q_uv_sketch", uvSketchHllSql)((s, dir) => {
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
    Query("q_vocab_growth",
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
         |FROM b""".stripMargin)((s, dir) => {
      // Heaps-law vocabulary growth at 50-doc grain: plateau = template
      // corpus, linear = noise; types count at first occurrence
      TextOps.vocabGrowth(
        Tables(s, dir).documents, col("doc_id"), col("text"), bucket = 50)
    }),
    Query("q_join_profile",
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
        |FROM j""".stripMargin)((s, dir) => {
      // pre-join diagnostic: exact output cardinality + orphan rows for
      // lineitem ⋈ orders — read this BEFORE shipping the 100 TB join
      val t = Tables(s, dir)
      Stats.joinProfile(t.lineitem, t.orders, col("l_orderkey"), col("o_orderkey"))
    }),
    Query("q_wau_sketch", wauSketchHllSql)((s, dir) => {
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
    Query("q_wau",
      """WITH w AS (
        |  SELECT DISTINCT
        |    make_timestamp((epoch_us(ts) // 86400000000 - i) * 86400000000)
        |      AS window_start,
        |    user_id
        |  FROM events, (SELECT unnest(range(0, 7)) AS i) s
        |)
        |SELECT window_start, count(*) AS uv FROM w GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q_scd2", scd2Sql)((s, dir) => {
      // SCD Type-2 history: per-user validity intervals from the change
      // log — valid_to = next change, null on the current version
      Sequences.scdHistory(
          Tables(s, dir).events, col("user_id"), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
    }),
    Query("q_movers",
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
        |ORDER BY abs(delta_micro) DESC, key, day LIMIT 10""".stripMargin)((s, dir) => {
      // top-10 day-over-day movers per (type, day) in exact micros —
      // the anomaly shortlist; lag per key, TakeOrdered final
      Stats.topMovers(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"), topN = 10)
    }),
    Query("q_trend_slope", trendSlopeSql)((s, dir) => {
      // per-type least-squares trend of daily revenue — the record
      // carries the EXACT rational slope_num/slope_den (integer division
      // semantics differ across engines for negatives, so no quotient)
      Stats.trendSlopeByKey(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    Query("q_trend_slope_stream", trendSlopeSql)((s, dir) => {
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
    Query("q_psi", psiSql)((s, dir) => {
      // PSI drift monitor: per-type value-distribution shift between
      // even and odd epoch days (the A/B slice pair), add-1 smoothed,
      // ln terms floored to micro-units — psi_micro > 250000 = the
      // classic "investigate" threshold, here engine-exact
      Stats.psiByKey(
        Tables(s, dir).events, col("event_type"), col("value"),
        expr("(unix_micros(ts) div 86400000000) % 2 = 0"), width = 50.0)
    }),
    Query("q_psi_stream", psiSql)((s, dir) => {
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
    Query("q_cusum", cusumSql)((s, dir) => {
      // one-sided CUSUM change-point chart over daily revenue per type:
      // s_t = max(0, s_{t-1} + (x_t - mu)), alarm when s_t exceeds one
      // full average day (h = mu) — completing the drift family (EWMA
      // smoother, PSI distribution shift, z-score/MAD point outliers)
      // with the sequential-accumulation detector; integer micro
      // recursion checked against a DuckDB RECURSIVE CTE
      Stats.cusumDaily(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    Query("q_cusum_stream", cusumSql)((s, dir) => {
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
    Query("q_corr_series",
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
        |FROM p GROUP BY 1, 2""".stripMargin)((s, dir) => {
      // exact rational Pearson correlation between every pair of types'
      // daily series — corr = corr_num / sqrt(den_a*den_b), the record
      // keeps the integer moments so it hashes cross-engine (no float
      // accumulation, no sqrt)
      Stats.seriesCorrByKeyPair(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    Query("q_seasonal_residuals", seasonalSql)((s, dir) => {
      // day-of-week seasonal baseline: residual vs the key's own
      // weekday mean — the seasonality-aware anomaly view; exact micro
      // integers, engine-neutral (epoch-day % 7) weekday ids
      Stats.seasonalResiduals(
        Tables(s, dir).events, col("event_type"), col("ts"), col("value"))
    }),
    Query("q_seasonal_residuals_stream", seasonalSql)((s, dir) => {
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
    // salting must not change join semantics
    Query("q_salted_join", enrichSql)((s, dir) => {
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
    Query("q_transitions", transitionsSql)((s, dir) => {
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
    Query("q_enrich", enrichSql)((s, dir) => {
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
    Query("q_enrich_stream", enrichSql)((s, dir) => {
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
    Query("q_channel_stats_stream", channelStatsSql)((s, dir) => {
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
    Query("q_histogram_stream",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
        |  CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
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
    Query("q_moving_avg_stream", movingAvgSql)((s, dir) => {
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
    Query("q_semi_join_stream",
      """WITH p AS (
        |  SELECT user_id FROM events GROUP BY user_id
        |  ORDER BY count(*) DESC, user_id LIMIT 50
        |)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, count(*) AS cnt
        |FROM events WHERE user_id IN (SELECT user_id FROM p)
        |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q_range_join_stream",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, tier, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM events
        |JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
        |             ('high', 150.0, 1e12)) t(tier, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY 1, 2""".stripMargin)((s, dir) => {
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
    Query("q_scd2_stream", scd2Sql)((s, dir) => {
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
    Query("q_movers_stream",
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
        |ORDER BY abs(delta_micro) DESC, key, day LIMIT 10""".stripMargin)((s, dir) => {
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
    Query("q_uv_sketch_stream", uvSketchHllSql)((s, dir) => {
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
    Query("q_ewma_stream", ewmaDailySql)((s, dir) => {
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
    Query("q_latest_snapshot_stream",
      """SELECT window_start, user_id, ts, event_id FROM (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id, ts, event_id,
        |    row_number() OVER (PARTITION BY date_trunc('day', ts), user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)((s, dir) => {
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
    Query("q_hot_items_stream", slidingOracle(
      "WHERE event_type = 'click'", "user_id", "user_id", 300000000L, 12, 5, "DESC"))((s, dir) => {
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
    Query("q_hot_pages_stream", slidingOracle(
      "", "event_type", "event_type", 600000000L, 3, 3, "DESC"))((s, dir) => {
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
    Query("q_retention",
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT f.cohort, datediff('day', f.cohort, a.d) AS day_n,
        |  count(*) AS n_active
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)((s, dir) => {
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
    Query("q_funnel",
      s"""$funnelChainSql
         |SELECT u.user_id,
         |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
         |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS n_reached,
         |  t1 AS ts_first, coalesce(t3, t2, t1) AS ts_reached
         |FROM (SELECT DISTINCT user_id FROM events
         |      WHERE event_type IN ('view', 'click', 'purchase')) u
         |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         |LEFT JOIN s3 USING (user_id)""".stripMargin)((s, dir) => {
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
    Query("q_dedup_stream", "SELECT DISTINCT user_id, event_type FROM events")((s, dir) => {
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
    // the streaming twin emits only keys whose chain STARTED (s1 rows):
    // emission is anchored at t1 + horizon, so keys without a step-1
    // event have nothing to anchor to and stay silent by design
    Query("q_funnel_stream", funnelStreamSql)((s, dir) => {
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
    // streaming twin checks against the SAME matrix as the batch query
    Query("q_retention_stream",
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT f.cohort, datediff('day', f.cohort, a.d) AS day_n,
        |  count(*) AS n_active
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)((s, dir) => {
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
    Query("q_transitions_stream", transitionsSql)((s, dir) => {
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
    Query("q_dedup_bounded_stream", "SELECT DISTINCT user_id, event_type, ts FROM events")((s, dir) => {
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
    Query("q_interval_stream", intervalJoinSql)((s, dir) => {
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
}
