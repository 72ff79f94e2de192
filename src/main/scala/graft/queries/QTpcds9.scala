package graft.queries

import Q._

/** TPC-DS wave 9 — ten more official-harness plan shapes
  * (pg_lake_benchmark/src/tpcds.c, README.md:25-30), continuing wave
  * 8's program: pull official query STRUCTURES until one breaks. The
  * fixture has no store/catalog/web channels, so `l_returnflag`
  * (A/N/R) plays the channel role — the plan shapes (multi-way CTE
  * self-joins, cross-channel ratio compares, cumulative-window full
  * joins, scalar-subquery rows) are what is under test, not the
  * retail semantics.
  *
  *  - qds_pyramid           Q4/Q11: per-(customer,channel,year) CTE
  *                          self-joined SIX ways; growth-ratio compare
  *                          via exact cents cross-multiplication
  *  - qds_region_yoy        Q31: per-nation two-channel year-over-year
  *                          growth comparison (4-way CTE self-join)
  *  - qds_channel_ratio     Q78: per-(customer,year) channel share
  *                          with returned lines excluded
  *  - qds_cume_fullouter    Q51: two per-part cumulative revenue
  *                          streams (window inside CTE) FULL OUTER
  *                          joined and compared
  *  - qds_time_buckets      Q88: eight scalar-subquery counts cross
  *                          joined into ONE row
  *  - qds_category_dev      Q89: monthly revenue vs channel-year
  *                          average via window SUM/COUNT, deviation
  *                          filter in exact integer arithmetic
  *  - qds_returns_net       Q93: returned-line LEFT JOIN netting
  *                          per-order quantity
  *  - qds_channel_overlap   Q97: FULL JOIN channel-customer overlap
  *                          counts (both / left-only / right-only)
  *  - qds_rev_buckets       Q54 tail: customer-spend histogram on
  *                          exact modulo buckets
  *  - qds_order_size_buckets Q34/Q73: per-order line-count HAVING
  *                          band, counted by size
  *
  * All shared-SQL (Spark ∩ DuckDB dialect); the oracle replays the
  * exact text. Money stays in BIGINT cents everywhere, ratio compares
  * cross-multiply — no float drift can exist by construction.
  */
object QTpcds9 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val cents =
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
      "AS BIGINT)) AS BIGINT)"

  private val qPyramid =
    s"""WITH year_total AS (
       |  SELECT o_custkey AS ck, l_returnflag AS channel,
       |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
       |    $cents AS cents
       |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |  WHERE extract(year FROM o_orderdate) IN (1996, 1997)
       |  GROUP BY o_custkey, l_returnflag,
       |    CAST(extract(year FROM o_orderdate) AS INT))
       |SELECT a1.ck AS ck, a1.cents AS a96, a2.cents AS a97,
       |  n1.cents AS n96, n2.cents AS n97, r1.cents AS r96,
       |  r2.cents AS r97
       |FROM year_total a1
       |  JOIN year_total a2 ON a1.ck = a2.ck
       |  JOIN year_total n1 ON a1.ck = n1.ck
       |  JOIN year_total n2 ON a1.ck = n2.ck
       |  JOIN year_total r1 ON a1.ck = r1.ck
       |  JOIN year_total r2 ON a1.ck = r2.ck
       |WHERE a1.channel = 'A' AND a1.yr = 1996
       |  AND a2.channel = 'A' AND a2.yr = 1997
       |  AND n1.channel = 'N' AND n1.yr = 1996
       |  AND n2.channel = 'N' AND n2.yr = 1997
       |  AND r1.channel = 'R' AND r1.yr = 1996
       |  AND r2.channel = 'R' AND r2.yr = 1997
       |  AND a1.cents > 0 AND n1.cents > 0 AND r1.cents > 0
       |  -- N grew faster than A AND faster than R (exact cross-mult)
       |  AND n2.cents * a1.cents > a2.cents * n1.cents
       |  AND n2.cents * r1.cents > r2.cents * n1.cents
       |ORDER BY ck LIMIT 100""".stripMargin

  private val qRegionYoy =
    s"""WITH by_nation AS (
       |  SELECT n_name, l_returnflag AS channel,
       |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
       |    $cents AS cents
       |  FROM lineitem
       |    JOIN orders ON o_orderkey = l_orderkey
       |    JOIN customer ON c_custkey = o_custkey
       |    JOIN nation ON n_nationkey = c_nationkey
       |  WHERE extract(year FROM o_orderdate) IN (1996, 1997)
       |    AND l_returnflag IN ('A', 'R')
       |  GROUP BY n_name, l_returnflag,
       |    CAST(extract(year FROM o_orderdate) AS INT))
       |SELECT a1.n_name AS n_name, a1.cents AS a96, a2.cents AS a97,
       |  r1.cents AS r96, r2.cents AS r97,
       |  CASE WHEN a2.cents * r1.cents > r2.cents * a1.cents
       |    THEN 'A' ELSE 'R' END AS faster
       |FROM by_nation a1
       |  JOIN by_nation a2 ON a1.n_name = a2.n_name
       |  JOIN by_nation r1 ON a1.n_name = r1.n_name
       |  JOIN by_nation r2 ON a1.n_name = r2.n_name
       |WHERE a1.channel = 'A' AND a1.yr = 1996
       |  AND a2.channel = 'A' AND a2.yr = 1997
       |  AND r1.channel = 'R' AND r1.yr = 1996
       |  AND r2.channel = 'R' AND r2.yr = 1997
       |ORDER BY n_name""".stripMargin

  private val qChannelRatio =
    s"""WITH per_cust AS (
       |  SELECT o_custkey AS ck,
       |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
       |    CAST(sum(CASE WHEN l_returnflag = 'N'
       |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
       |        AS BIGINT) ELSE 0 END) AS BIGINT) AS n_cents,
       |    $cents AS total_cents
       |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |  WHERE l_returnflag <> 'R'  -- returned lines excluded (Q78)
       |  GROUP BY o_custkey, CAST(extract(year FROM o_orderdate) AS INT))
       |SELECT ck, yr, n_cents, total_cents
       |FROM per_cust
       |WHERE n_cents * 2 > total_cents AND total_cents > 0
       |ORDER BY ck, yr LIMIT 200""".stripMargin

  private val qCumeFullouter =
    s"""WITH a_daily AS (
       |  SELECT l_partkey AS pk, l_shipdate AS d, $cents AS cents
       |  FROM lineitem WHERE l_returnflag = 'A' AND l_partkey < 80
       |  GROUP BY l_partkey, l_shipdate),
       |r_daily AS (
       |  SELECT l_partkey AS pk, l_shipdate AS d, $cents AS cents
       |  FROM lineitem WHERE l_returnflag = 'R' AND l_partkey < 80
       |  GROUP BY l_partkey, l_shipdate),
       |a_cume AS (
       |  SELECT pk, d, CAST(sum(cents) OVER (PARTITION BY pk ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cume
       |  FROM a_daily),
       |r_cume AS (
       |  SELECT pk, d, CAST(sum(cents) OVER (PARTITION BY pk ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cume
       |  FROM r_daily)
       |SELECT coalesce(a.pk, r.pk) AS pk, coalesce(a.d, r.d) AS d,
       |  coalesce(a.cume, 0) AS a_cume, coalesce(r.cume, 0) AS r_cume
       |FROM a_cume a FULL JOIN r_cume r ON a.pk = r.pk AND a.d = r.d
       |WHERE coalesce(a.cume, 0) > coalesce(r.cume, 0) * 2
       |ORDER BY pk, d LIMIT 300""".stripMargin

  private val qTimeBuckets =
    """SELECT s1.h0_2, s2.h3_5, s3.h6_8, s4.h9_11, s5.h12_14, s6.h15_17,
      |  s7.h18_20, s8.h21_23
      |FROM
      |  (SELECT count(*) AS h0_2 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 0 AND 2) s1,
      |  (SELECT count(*) AS h3_5 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 3 AND 5) s2,
      |  (SELECT count(*) AS h6_8 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 6 AND 8) s3,
      |  (SELECT count(*) AS h9_11 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 9 AND 11) s4,
      |  (SELECT count(*) AS h12_14 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 12 AND 14) s5,
      |  (SELECT count(*) AS h15_17 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 15 AND 17) s6,
      |  (SELECT count(*) AS h18_20 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 18 AND 20) s7,
      |  (SELECT count(*) AS h21_23 FROM events
      |   WHERE extract(hour FROM ts) BETWEEN 21 AND 23) s8""".stripMargin

  private val qCategoryDev =
    s"""WITH monthly AS (
       |  SELECT l_returnflag AS channel,
       |    CAST(extract(year FROM l_shipdate) AS INT) AS yr,
       |    CAST(extract(month FROM l_shipdate) AS INT) AS mo,
       |    $cents AS cents
       |  FROM lineitem
       |  GROUP BY l_returnflag, CAST(extract(year FROM l_shipdate) AS INT),
       |    CAST(extract(month FROM l_shipdate) AS INT)),
       |with_avg AS (
       |  SELECT channel, yr, mo, cents,
       |    CAST(sum(cents) OVER (PARTITION BY channel, yr) AS BIGINT)
       |      AS yr_cents,
       |    CAST(count(*) OVER (PARTITION BY channel, yr) AS BIGINT)
       |      AS yr_months
       |  FROM monthly)
       |SELECT channel, yr, mo, cents, yr_cents, yr_months
       |FROM with_avg
       |-- |month - yearly avg| > 10% of the yearly avg, exactly:
       |-- |m·n − S| · 10 > S   (S ≥ 0)
       |WHERE abs(cents * yr_months - yr_cents) * 10 > yr_cents
       |ORDER BY channel, yr, mo""".stripMargin

  private val qReturnsNet =
    """SELECT li.l_orderkey AS okey,
      |  CAST(sum(CAST(li.l_quantity AS BIGINT)) AS BIGINT) AS gross_qty,
      |  CAST(sum(CAST(li.l_quantity AS BIGINT)
      |    - coalesce(CAST(r.l_quantity AS BIGINT), 0)) AS BIGINT)
      |    AS net_qty
      |FROM lineitem li
      |  LEFT JOIN (SELECT l_orderkey, l_linenumber, l_quantity
      |             FROM lineitem WHERE l_returnflag = 'R') r
      |    ON li.l_orderkey = r.l_orderkey
      |      AND li.l_linenumber = r.l_linenumber
      |GROUP BY li.l_orderkey
      |HAVING sum(CAST(li.l_quantity AS BIGINT)
      |  - coalesce(CAST(r.l_quantity AS BIGINT), 0)) >= 150
      |ORDER BY okey LIMIT 200""".stripMargin

  private val qChannelOverlap =
    """WITH a AS (
      |  SELECT DISTINCT o_custkey AS ck
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'A'),
      |r AS (
      |  SELECT DISTINCT o_custkey AS ck
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R')
      |SELECT
      |  CAST(sum(CASE WHEN a.ck IS NOT NULL AND r.ck IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS both_ch,
      |  CAST(sum(CASE WHEN a.ck IS NOT NULL AND r.ck IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
      |  CAST(sum(CASE WHEN a.ck IS NULL AND r.ck IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS r_only
      |FROM a FULL JOIN r ON a.ck = r.ck""".stripMargin

  private val qRevBuckets =
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT cents - cents % 5000000 AS bucket_cents, count(*) AS n,
      |  CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi
      |FROM spend
      |GROUP BY cents - cents % 5000000
      |ORDER BY bucket_cents""".stripMargin

  private val qOrderSizeBuckets =
    """WITH sized AS (
      |  SELECT o_orderkey, o_custkey, count(*) AS cnt
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  GROUP BY o_orderkey, o_custkey
      |  HAVING count(*) BETWEEN 5 AND 7)
      |SELECT cnt, count(*) AS orders,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers
      |FROM sized GROUP BY cnt ORDER BY cnt""".stripMargin

  private val texts: Map[String, String] = Map(
    "qds_pyramid" -> qPyramid,
    "qds_region_yoy" -> qRegionYoy,
    "qds_channel_ratio" -> qChannelRatio,
    "qds_cume_fullouter" -> qCumeFullouter,
    "qds_time_buckets" -> qTimeBuckets,
    "qds_category_dev" -> qCategoryDev,
    "qds_returns_net" -> qReturnsNet,
    "qds_channel_overlap" -> qChannelOverlap,
    "qds_rev_buckets" -> qRevBuckets,
    "qds_order_size_buckets" -> qOrderSizeBuckets)

  val queries: Map[String, QueryFn] =
    texts.map { case (k, v) => k -> sql(v) }

  override val oracleSql: Map[String, String] = texts
}
