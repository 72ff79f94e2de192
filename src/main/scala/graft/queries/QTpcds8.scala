package graft.queries

import Q._

/** TPC-DS wave 8 — the official-harness plan shapes the earlier waves
  * did not yet cover (pg_lake_benchmark/src/tpcds.c, README.md:25-30):
  * multi-CTE reuse chains, large self-join cascades, and
  * window-over-rollup lattices. These are the shapes where planner bugs
  * hide (CTE dedup, reused-subplan schema resolution, grouping-id
  * columns flowing into window partitioning).
  *
  *  - qds_cte_reuse         Q23: two CTEs (frequent parts, big
  *                          spenders), EACH referenced twice across the
  *                          final UNION ALL arms
  *  - qds_self_join_cascade Q64: per-(customer,year) fact aggregate
  *                          self-joined THREE ways (1995⋈1996⋈1997)
  *  - qds_rollup_share      Q36/Q70: rank() windowed OVER the rollup
  *                          lattice, partitioned by grouping flags
  *  - qds_cte_chain         Q47/Q57: CTE → window CTE → triple
  *                          self-join on row_number offsets (prev/next
  *                          neighbors by join, not lag)
  *  - qds_three_way_intersect Q38: three-channel INTERSECT, counted
  *  - qds_multi_distinct    Q35: EXISTS + (EXISTS OR EXISTS) filters
  *                          with multiple DISTINCT aggregates
  *  - qds_fullouter_rollup  Q77: FULL JOIN of two channel aggregates
  *                          feeding a ROLLUP
  *  - qds_intersect_rollup  Q14: INTERSECT-derived cross-channel part
  *                          set feeding a ROLLUP over channels
  *  - qds_lateral_topn      Q-lateral shape: per-customer top-2 orders
  *                          via a correlated LATERAL subquery
  *
  * All shared-SQL (Spark ∩ DuckDB dialect), so the oracle replays the
  * exact text — divergence anywhere in the plan surfaces as a hash
  * mismatch.
  */
object QTpcds8 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qCteReuse =
    """WITH frequent_parts AS (
      |  SELECT l_partkey AS pk
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01'
      |  GROUP BY l_partkey HAVING count(*) >= 3),
      |big_spenders AS (
      |  SELECT o_custkey AS ck
      |  FROM orders GROUP BY o_custkey
      |  HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) >= 20000000)
      |SELECT 'first_half' AS period, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_partkey IN (SELECT pk FROM frequent_parts)
      |  AND o_custkey IN (SELECT ck FROM big_spenders)
      |  AND l_shipdate < DATE '1997-01-01'
      |UNION ALL
      |SELECT 'second_half' AS period, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_partkey IN (SELECT pk FROM frequent_parts)
      |  AND o_custkey IN (SELECT ck FROM big_spenders)
      |  AND l_shipdate >= DATE '1997-01-01'
      |ORDER BY period""".stripMargin

  private val qSelfJoinCascade =
    """WITH yearly AS (
      |  SELECT o_custkey AS ck,
      |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  GROUP BY o_custkey, CAST(extract(year FROM o_orderdate) AS INT))
      |SELECT a.ck AS ck, a.cents AS c95, b.cents AS c96, c.cents AS c97,
      |  a.qty AS q95, b.qty AS q96, c.qty AS q97
      |FROM yearly a
      |  JOIN yearly b ON a.ck = b.ck
      |  JOIN yearly c ON b.ck = c.ck
      |WHERE a.yr = 1995 AND b.yr = 1996 AND c.yr = 1997
      |  AND c.cents > a.cents
      |ORDER BY ck""".stripMargin

  private val qRollupShare =
    """WITH agg AS (
      |  SELECT n_name, o_orderpriority,
      |    CAST(grouping(n_name) AS INT) AS g_n,
      |    CAST(grouping(o_orderpriority) AS INT) AS g_p,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY ROLLUP(n_name, o_orderpriority))
      |SELECT g_n, g_p, n_name, o_orderpriority, cents,
      |  rank() OVER (PARTITION BY g_n, g_p, n_name
      |    ORDER BY cents DESC, o_orderpriority ASC NULLS FIRST) AS rnk
      |FROM agg
      |ORDER BY g_n, g_p, n_name ASC NULLS FIRST, rnk,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  private val qCteChain =
    """WITH v1 AS (
      |  SELECT l_suppkey AS sk,
      |    CAST(extract(month FROM l_shipdate) AS INT) AS mon,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01'
      |    AND l_shipdate < DATE '1997-01-01'
      |  GROUP BY l_suppkey, CAST(extract(month FROM l_shipdate) AS INT)),
      |v2 AS (
      |  SELECT sk, mon, cents,
      |    CAST(round(avg(cents) OVER (PARTITION BY sk)) AS BIGINT)
      |      AS avg_cents,
      |    row_number() OVER (PARTITION BY sk ORDER BY mon) AS rn
      |  FROM v1)
      |SELECT v.sk AS sk, v.mon AS mon, v.cents AS cents,
      |  p.cents AS prev_cents, nx.cents AS next_cents, v.avg_cents
      |FROM v2 v
      |  JOIN v2 p ON v.sk = p.sk AND v.rn = p.rn + 1
      |  JOIN v2 nx ON v.sk = nx.sk AND v.rn = nx.rn - 1
      |WHERE v.cents > v.avg_cents
      |ORDER BY sk, mon""".stripMargin

  private val qThreeWayIntersect =
    """SELECT count(*) AS n FROM (
      |  SELECT o_custkey FROM orders
      |    JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'A'
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |    JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'N'
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |    JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R') t""".stripMargin

  private val qMultiDistinct =
    """SELECT n_name, count(*) AS n_cust,
      |  count(DISTINCT c_mktsegment) AS n_seg,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey)
      |  AND (EXISTS (SELECT 1 FROM orders o2
      |        WHERE o2.o_custkey = c_custkey
      |          AND o2.o_orderpriority = '1-URGENT')
      |    OR EXISTS (SELECT 1 FROM orders o3
      |        WHERE o3.o_custkey = c_custkey
      |          AND o3.o_orderpriority = '2-HIGH'))
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  private val qFullouterRollup =
    """WITH ship AS (
      |  SELECT l_suppkey AS sk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS shipped
      |  FROM lineitem WHERE l_returnflag <> 'R' GROUP BY l_suppkey),
      |ret AS (
      |  SELECT l_suppkey AS sk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS returned
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_suppkey)
      |SELECT CAST(grouping(n_name) AS INT) AS g, n_name,
      |  CAST(sum(coalesce(shipped, 0)) AS BIGINT) AS shipped,
      |  CAST(sum(coalesce(returned, 0)) AS BIGINT) AS returned
      |FROM ship FULL JOIN ret ON ship.sk = ret.sk
      |  JOIN supplier ON s_suppkey = coalesce(ship.sk, ret.sk)
      |  JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY ROLLUP(n_name)
      |ORDER BY g, n_name ASC NULLS FIRST""".stripMargin

  private val qIntersectRollup =
    """WITH common_parts AS (
      |  SELECT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'A'
      |  INTERSECT
      |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
      |  INTERSECT
      |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
      |SELECT CAST(grouping(l_returnflag) AS INT) AS g,
      |  l_returnflag AS channel, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |WHERE l_partkey IN (SELECT pk FROM common_parts)
      |GROUP BY ROLLUP(l_returnflag)
      |ORDER BY g, channel ASC NULLS FIRST""".stripMargin

  private val qLateralTopn =
    """SELECT c_custkey AS ck, t.ok, t.cents
      |FROM customer,
      |  LATERAL (SELECT o_orderkey AS ok,
      |      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |    FROM orders WHERE o_custkey = c_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c_nationkey = 5
      |ORDER BY ck, cents DESC, ok""".stripMargin

  private val shared = Map(
    "qds_cte_reuse" -> qCteReuse,
    "qds_self_join_cascade" -> qSelfJoinCascade,
    "qds_rollup_share" -> qRollupShare,
    "qds_cte_chain" -> qCteChain,
    "qds_three_way_intersect" -> qThreeWayIntersect,
    "qds_multi_distinct" -> qMultiDistinct,
    "qds_fullouter_rollup" -> qFullouterRollup,
    "qds_intersect_rollup" -> qIntersectRollup,
    "qds_lateral_topn" -> qLateralTopn)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
