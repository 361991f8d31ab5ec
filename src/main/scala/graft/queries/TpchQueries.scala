package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables
import graft.queries.Fragments.{discPrice, discPriceSql}

/** `q<N>_*`: the TPC-H-shaped relational queries over the
  * orders/lineitem/customer/part/supplier tables.
  */
object TpchQueries {

  val all: Seq[Query] = Seq(
    // ---- relational core (scan/filter/agg/join pushdown surface) ----
    Query("q1_pricing",
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)((s, dir) => {
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),
    Query("q3_segment_revenue",
      s"""SELECT o_orderpriority,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderpriority""".stripMargin)((s, dir) => {
      val t = Tables(s, dir)
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(discPrice).cast("double").as("revenue"),
          count_distinct(col("o_orderkey")).as("n_orders"))
    }),
    Query("q5_region_revenue",
      s"""SELECT n_name, CAST(sum($discPriceSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin)((s, dir) => {
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
    Query("q10_returned_revenue",
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
         |)""".stripMargin)((s, dir) => {
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
    Query("q12_priority_shipping",
      """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q6_banded_revenue",
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)((s, dir) => {
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
    Query("q14_promo_share",
      s"""SELECT
         |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPriceSql
         |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) * 100.0
         |    / CAST(sum($discPriceSql) AS DOUBLE) AS promo_pct,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
         |  AND l_shipdate <  TIMESTAMP '1996-04-01'""".stripMargin)((s, dir) => {
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
    Query("q18_large_orders",
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
        |)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)((s, dir) => {
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
    Query("q19_bracket_revenue",
      s"""SELECT CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)((s, dir) => {
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
    Query("q4_order_priority",
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q17_small_qty_revenue",
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
        |WHERE p_brand = 'Brand#23' AND l_quantity < 0.5 * avg_qty""".stripMargin)((s, dir) => {
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
    Query("q21_waiting_supplier",
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
        |ORDER BY n_waits DESC, s_suppkey LIMIT 50""".stripMargin)((s, dir) => {
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
    Query("q22_idle_customers",
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
        |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q8_market_share",
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
         |GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q9_product_profit",
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
         |GROUP BY 1, 2""".stripMargin)((s, dir) => {
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
    Query("q11_important_parts",
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
         |  0.002 * (SELECT CAST(sum(v) AS DOUBLE) FROM nval)""".stripMargin)((s, dir) => {
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
    Query("q13_order_distribution",
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY 1""".stripMargin)((s, dir) => {
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
    Query("q15_top_supplier",
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
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin)((s, dir) => {
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
    Query("q16_supplier_counts",
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
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
    Query("q20_part_promotion",
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
        |  AND qty > 0.5 * total_qty""".stripMargin)((s, dir) => {
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
  )
}
