package graft.queries

import Q._

/** TPC-DS wave 5 — the remaining distinctive plan shapes from the
  * reference's 99 (pg_lake_benchmark/src/tpcds.c):
  *
  *  - qds_fullouter_cum  Q51: FULL OUTER JOIN of two per-key cumulative
  *                       window series, filtered where one running sum
  *                       overtakes the other
  *  - qds_count_between  Q34/Q73: per-order item-count HAVING a BETWEEN
  *                       band, joined back to the detail rows
  *  - qds_equal_share    Q58: per-part channel revenue within ±10% of
  *                       the cross-channel average (cross-multiplied)
  *  - qds_net_quantity   Q93: per-order effective quantity after
  *                       subtracting the returned lines
  *  - qds_top_remainder  Q23-adjacent: frequent items OUTSIDE the top
  *                       spenders' baskets (anti-join on an agg-derived
  *                       set)
  *
  * All ratio tests are cross-multiplied integers; cumulative sums are
  * per-row-snapped integer cents (the qds_cumulative lesson).
  */
object QTpcds5 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  // Q51: two channels' daily revenue as running sums per part bucket,
  // FULL OUTER JOIN on (bucket, month), keep rows where the express
  // channel's cumulative revenue exceeds standard's.
  private val qFullouterCum =
    """WITH daily AS (
      |  SELECT l_partkey % 10 AS bucket,
      |    CAST(extract(month FROM o_orderdate) AS INT) AS m,
      |    o_orderpriority IN ('1-URGENT','2-HIGH') AS is_e,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE extract(year FROM o_orderdate) = 1996
      |  GROUP BY 1, 2, 3),
      |e AS (
      |  SELECT bucket, m,
      |    CAST(sum(rev_c) OVER (PARTITION BY bucket ORDER BY m) AS BIGINT)
      |      AS cum_e
      |  FROM daily WHERE is_e),
      |s AS (
      |  SELECT bucket, m,
      |    CAST(sum(rev_c) OVER (PARTITION BY bucket ORDER BY m) AS BIGINT)
      |      AS cum_s
      |  FROM daily WHERE NOT is_e)
      |SELECT COALESCE(e.bucket, s.bucket) AS bucket,
      |  COALESCE(e.m, s.m) AS m, e.cum_e, s.cum_s
      |FROM e FULL OUTER JOIN s ON e.bucket = s.bucket AND e.m = s.m
      |WHERE COALESCE(e.cum_e, 0) * 5 > COALESCE(s.cum_s, 0) * 2
      |ORDER BY bucket, m""".stripMargin

  // Q34/Q73: orders whose line count falls in a band, with the buyer
  private val qCountBetween =
    """SELECT c_custkey, big.o_orderkey AS o_orderkey, cnt
      |FROM (
      |  SELECT l_orderkey AS o_orderkey, count(*) AS cnt
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING count(*) BETWEEN 6 AND 7) big
      |JOIN orders ON orders.o_orderkey = big.o_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |WHERE o_orderpriority = '1-URGENT'
      |ORDER BY c_custkey, big.o_orderkey""".stripMargin

  // Q58: parts whose express/standard revenues are each within ±10% of
  // their two-channel average: |2·rev − (rev_e+rev_s)| ≤ 0.1·(rev_e+rev_s)
  private val qEqualShare =
    """WITH pc AS (
      |  SELECT l_partkey AS pk,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev_e,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN 0
      |      ELSE CAST(round(l_extendedprice * 100) AS BIGINT)
      |      END) AS BIGINT) AS rev_s
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  GROUP BY l_partkey)
      |SELECT pk, rev_e, rev_s
      |FROM pc
      |WHERE rev_e > 0 AND rev_s > 0
      |  AND abs(2 * rev_e - (rev_e + rev_s)) * 10 <= (rev_e + rev_s)
      |  AND abs(2 * rev_s - (rev_e + rev_s)) * 10 <= (rev_e + rev_s)
      |ORDER BY pk""".stripMargin

  // Q93: effective order quantity after subtracting returned lines
  private val qNetQuantity =
    """SELECT o_orderkey,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
      |    ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS net_qty,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey
      |HAVING sum(CASE WHEN l_returnflag = 'R' THEN 0
      |    ELSE CAST(l_quantity AS BIGINT) END) > 250
      |ORDER BY net_qty DESC, o_orderkey
      |LIMIT 50""".stripMargin

  // Q23-adjacent: parts ordered often overall but NEVER by the top-25
  // spenders (anti-join against an aggregate-derived key set)
  private val qTopRemainder =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey
      |  ORDER BY cents DESC, o_custkey LIMIT 25),
      |freq AS (
      |  SELECT l_partkey AS pk, count(*) AS n
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40)
      |SELECT pk, n FROM freq
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN spend ON spend.o_custkey = o.o_custkey
      |  WHERE l.l_partkey = freq.pk)
      |ORDER BY n DESC, pk""".stripMargin

  private val shared = Map(
    "qds_fullouter_cum" -> qFullouterCum,
    "qds_count_between" -> qCountBetween,
    "qds_equal_share" -> qEqualShare,
    "qds_net_quantity" -> qNetQuantity,
    "qds_top_remainder" -> qTopRemainder)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
