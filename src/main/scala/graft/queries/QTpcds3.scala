package graft.queries

import Q._

/** TPC-DS wave 3 — the distinctive shapes the round-2 set still lacked,
  * adapted to the fixture star schema (reference harness ships all 99:
  * pg_lake_benchmark/src/tpcds.c:59, README.md:25-30). Order-priority
  * classes proxy the store/web/catalog channel split.
  *
  *  - qds_cross_channel   Q14: parts sold through ALL channels via a
  *                        2-deep INTERSECT chain, then brand revenue
  *                        restricted to the common set
  *  - qds_freq_cascade    Q23: frequent-item CTE × best-customer CTE
  *                        (spend > half the max spend, integer-exact via
  *                        2*spend > max) cascading into a filtered agg
  *  - qds_wide_multiyear  Q64: same part across consecutive years with
  *                        retained-or-grown sales, wide dim join
  *  - qds_multi_hop_exists Q95: orders with multi-supplier lineitems
  *                        (EXISTS nested in EXISTS) and no returns
  *                        (NOT EXISTS)
  *  - qds_rollup_rank     Q36: ROLLUP + GROUPING() hierarchy level +
  *                        rank() partitioned by that level
  *  - qds_monthly_dev     Q47: months >10% above their year average
  *                        (integer cross-multiplication, no division)
  *  - qds_cov             Q39: coefficient-of-variation band on
  *                        consecutive months, all-integer variance test
  *                        n(n·Σx²−(Σx)²) > c²(n−1)(Σx)²
  *  - qds_net_after_returns Q93: revenue with returned lines zeroed
  *  - qds_inv_ratio       Q21: before/after date-split quantities within
  *                        a [2/3, 3/2] band (cross-multiplied)
  *  - qds_window_dev      Q89: group rows >10% below their partition
  *                        average via window sums
  *
  * Money snaps to integer cents per row before any sum (accumulation-
  * order-proof); ratio/average tests cross-multiply so no division or
  * float ever enters a comparison. Where the canonical form self-joins
  * an aggregated CTE on adjacent periods (Q64, Q39), the Spark arm uses
  * a single-pass lag() guarded to consecutive periods — Spark inlines
  * CTEs, so the textbook self-join would run the heavy subtree twice
  * (same rewrite as qds_yoy); the oracle keeps the self-join form.
  */
object QTpcds3 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  // Q14 shape: INTERSECT chain over channel-restricted part sets.
  private val qCrossChannel =
    """WITH common_parts AS (
      |  SELECT l_partkey FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
      |  INTERSECT
      |  SELECT l_partkey FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderpriority = '3-MEDIUM'
      |  INTERSECT
      |  SELECT l_partkey FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderpriority IN ('4-NOT SPECIFIED','5-LOW'))
      |SELECT p_brand, count(*) AS n_sales,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE l_partkey IN (SELECT l_partkey FROM common_parts)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // Q23 shape: frequent items × best customers cascading into an agg.
  private val qFreqCascade =
    """WITH frequent_parts AS (
      |  SELECT DISTINCT l_partkey FROM (
      |    SELECT l_partkey
      |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |    GROUP BY l_partkey, CAST(extract(year FROM o_orderdate) AS INT)
      |    HAVING count(*) > 8) f),
      |best_customers AS (
      |  SELECT o_custkey FROM orders
      |  GROUP BY o_custkey
      |  HAVING 2 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) >
      |    (SELECT max(spend_cents) FROM (
      |       SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |         AS spend_cents
      |       FROM orders GROUP BY o_custkey) m))
      |SELECT c_name,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS spend_cents
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |WHERE l_partkey IN (SELECT l_partkey FROM frequent_parts)
      |  AND o_custkey IN (SELECT o_custkey FROM best_customers)
      |  AND extract(year FROM o_orderdate) = 1997
      |  AND extract(month FROM o_orderdate) BETWEEN 1 AND 3
      |GROUP BY c_name
      |ORDER BY spend_cents DESC, c_name
      |LIMIT 50""".stripMargin

  // Q64 shape, oracle arm: aggregated CTE self-joined on adjacent years.
  private val qWideMultiyearOracle =
    """WITH py AS (
      |  SELECT l_partkey AS pk,
      |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      |    count(*) AS cnt,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  GROUP BY l_partkey, CAST(extract(year FROM o_orderdate) AS INT))
      |SELECT p_brand, p_type, y1.pk AS partkey,
      |  y1.yr AS yr1, y2.yr AS yr2, y1.cnt AS cnt1, y2.cnt AS cnt2,
      |  y1.rev_cents AS rev1, y2.rev_cents AS rev2
      |FROM py y1
      |JOIN py y2 ON y1.pk = y2.pk AND y2.yr = y1.yr + 1
      |JOIN part ON p_partkey = y1.pk
      |WHERE y2.cnt >= y1.cnt AND y1.cnt >= 4
      |ORDER BY partkey, yr1""".stripMargin

  // Q64 Spark arm: one aggregation pass + lag() guarded to consecutive
  // years (Spark would inline py and run the 2-table agg twice).
  private val qWideMultiyearSpark =
    """WITH py AS (
      |  SELECT l_partkey AS pk,
      |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      |    count(*) AS cnt,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  GROUP BY l_partkey, CAST(extract(year FROM o_orderdate) AS INT))
      |SELECT p_brand, p_type, partkey, yr1, yr2, cnt1, cnt2, rev1, rev2
      |FROM (
      |  SELECT pk AS partkey, lag(yr) OVER w AS yr1, yr AS yr2,
      |    lag(cnt) OVER w AS cnt1, cnt AS cnt2,
      |    lag(rev_cents) OVER w AS rev1, rev_cents AS rev2
      |  FROM py
      |  WINDOW w AS (PARTITION BY pk ORDER BY yr)) d
      |JOIN part ON p_partkey = partkey
      |WHERE yr2 = yr1 + 1 AND cnt2 >= cnt1 AND cnt1 >= 4
      |ORDER BY partkey, yr1""".stripMargin

  // Q95 shape: EXISTS nested inside EXISTS (multi-supplier orders), plus
  // a NOT EXISTS (no returned lines).
  private val qMultiHopExists =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM orders o
      |WHERE EXISTS (
      |    SELECT 1 FROM lineitem l1
      |    WHERE l1.l_orderkey = o.o_orderkey
      |      AND EXISTS (
      |        SELECT 1 FROM lineitem l2
      |        WHERE l2.l_orderkey = l1.l_orderkey
      |          AND l2.l_suppkey <> l1.l_suppkey))
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = o.o_orderkey AND l3.l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // Q36 shape: ROLLUP + GROUPING() hierarchy + rank within level.
  private val qRollupRank =
    """SELECT lochierarchy, nation, priority, rev_cents,
      |  rank() OVER (
      |    PARTITION BY lochierarchy,
      |      CASE WHEN lochierarchy = 0 THEN nation END
      |    ORDER BY rev_cents DESC) AS rank_within
      |FROM (
      |  SELECT
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents,
      |    n_name AS nation, o_orderpriority AS priority,
      |    CAST(grouping(n_name) + grouping(o_orderpriority) AS INT)
      |      AS lochierarchy
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  GROUP BY ROLLUP(n_name, o_orderpriority)) t
      |ORDER BY lochierarchy DESC, nation NULLS FIRST, rank_within,
      |  priority NULLS FIRST""".stripMargin

  // Q47 shape: months >10% above their year average; cross-multiplied
  // (10·rev·n > 11·tot) so the average never materializes as a float.
  private val qMonthlyDev =
    """WITH m AS (
      |  SELECT n_name AS nation,
      |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      |    CAST(extract(month FROM o_orderdate) AS INT) AS mon,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  GROUP BY n_name, CAST(extract(year FROM o_orderdate) AS INT),
      |    CAST(extract(month FROM o_orderdate) AS INT))
      |SELECT nation, yr, mon, rev_cents, prev_cents, next_cents
      |FROM (
      |  SELECT nation, yr, mon, rev_cents,
      |    lag(rev_cents) OVER (PARTITION BY nation ORDER BY yr, mon)
      |      AS prev_cents,
      |    lead(rev_cents) OVER (PARTITION BY nation ORDER BY yr, mon)
      |      AS next_cents,
      |    CAST(sum(rev_cents) OVER (PARTITION BY nation, yr) AS BIGINT)
      |      AS tot_cents,
      |    count(*) OVER (PARTITION BY nation, yr) AS n_months
      |  FROM m) w
      |WHERE 10 * rev_cents * n_months > 11 * tot_cents
      |ORDER BY nation, yr, mon""".stripMargin

  // Q39 shape, oracle arm: CoV band on consecutive part-months via
  // self-join; variance test is all-integer:
  //   CoV > 0.7  ⟺  100·n·(n·Σx²−(Σx)²) > 49·(n−1)·(Σx)².
  private val qCovOracle =
    """WITH pm AS (
      |  SELECT l_partkey AS pk,
      |    CAST(extract(month FROM o_orderdate) AS INT) AS mon,
      |    count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
      |      AS BIGINT) AS ss
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE extract(year FROM o_orderdate) = 1997
      |  GROUP BY l_partkey, CAST(extract(month FROM o_orderdate) AS INT)
      |  HAVING count(*) >= 2)
      |SELECT a.pk AS partkey, a.mon AS mon1, b.mon AS mon2,
      |  a.n AS n1, b.n AS n2, a.s AS s1, b.s AS s2
      |FROM pm a JOIN pm b ON a.pk = b.pk AND b.mon = a.mon + 1
      |WHERE 100 * a.n * (a.n * a.ss - a.s * a.s) > 49 * (a.n - 1) * a.s * a.s
      |  AND 100 * b.n * (b.n * b.ss - b.s * b.s) > 49 * (b.n - 1) * b.s * b.s
      |ORDER BY partkey, mon1""".stripMargin

  // Q39 Spark arm: single pass + lag() on consecutive months.
  private val qCovSpark =
    """WITH pm AS (
      |  SELECT l_partkey AS pk,
      |    CAST(extract(month FROM o_orderdate) AS INT) AS mon,
      |    count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
      |      AS BIGINT) AS ss
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE extract(year FROM o_orderdate) = 1997
      |  GROUP BY l_partkey, CAST(extract(month FROM o_orderdate) AS INT)
      |  HAVING count(*) >= 2)
      |SELECT partkey, mon1, mon2, n1, n2, s1, s2
      |FROM (
      |  SELECT pk AS partkey, lag(mon) OVER w AS mon1, mon AS mon2,
      |    lag(n) OVER w AS n1, n AS n2,
      |    lag(s) OVER w AS s1, s AS s2,
      |    lag(ss) OVER w AS ss1, ss AS ss2
      |  FROM pm
      |  WINDOW w AS (PARTITION BY pk ORDER BY mon)) d
      |WHERE mon2 = mon1 + 1
      |  AND 100 * n1 * (n1 * ss1 - s1 * s1) > 49 * (n1 - 1) * s1 * s1
      |  AND 100 * n2 * (n2 * ss2 - s2 * s2) > 49 * (n2 - 1) * s2 * s2
      |ORDER BY partkey, mon1""".stripMargin

  // Q93 shape: net revenue with returned lines zeroed out.
  private val qNetAfterReturns =
    """SELECT o_custkey,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
      |    ELSE CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT)
      |    AS net_cents
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY o_custkey
      |ORDER BY net_cents DESC, o_custkey
      |LIMIT 100""".stripMargin

  // Q21 shape: per-supplier before/after quantities inside a window,
  // kept when the ratio lands in [2/3, 3/2] (cross-multiplied).
  private val qInvRatio =
    """SELECT s_name, before_qty, after_qty
      |FROM (
      |  SELECT s_name,
      |    CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-06-01'
      |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS before_qty,
      |    CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-01'
      |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS after_qty
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |    AND l_shipdate < TIMESTAMP '1997-09-01'
      |  GROUP BY s_name) t
      |WHERE before_qty > 0 AND after_qty > 0
      |  AND 3 * after_qty >= 2 * before_qty
      |  AND 2 * after_qty <= 3 * before_qty
      |ORDER BY s_name""".stripMargin

  // Q89 shape: brand-months >10% below the brand average via window sums.
  private val qWindowDev =
    """WITH g AS (
      |  SELECT p_brand AS brand,
      |    CAST(extract(month FROM o_orderdate) AS INT) AS mon,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN part ON p_partkey = l_partkey
      |  WHERE extract(year FROM o_orderdate) = 1997
      |  GROUP BY p_brand, CAST(extract(month FROM o_orderdate) AS INT))
      |SELECT brand, mon, rev_cents, tot_cents, n_months
      |FROM (
      |  SELECT brand, mon, rev_cents,
      |    CAST(sum(rev_cents) OVER (PARTITION BY brand) AS BIGINT)
      |      AS tot_cents,
      |    count(*) OVER (PARTITION BY brand) AS n_months
      |  FROM g) w
      |WHERE 10 * rev_cents * n_months < 9 * tot_cents
      |ORDER BY brand, mon""".stripMargin

  // Portable pairs (same SQL to both engines).
  private val shared = Map(
    "qds_cross_channel" -> qCrossChannel,
    "qds_freq_cascade" -> qFreqCascade,
    "qds_multi_hop_exists" -> qMultiHopExists,
    "qds_rollup_rank" -> qRollupRank,
    "qds_monthly_dev" -> qMonthlyDev,
    "qds_net_after_returns" -> qNetAfterReturns,
    "qds_inv_ratio" -> qInvRatio,
    "qds_window_dev" -> qWindowDev)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) } ++ Map(
      "qds_wide_multiyear" -> sql(qWideMultiyearSpark),
      "qds_cov" -> sql(qCovSpark))

  override val oracleSql: Map[String, String] = shared ++ Map(
    "qds_wide_multiyear" -> qWideMultiyearOracle,
    "qds_cov" -> qCovOracle)
}
