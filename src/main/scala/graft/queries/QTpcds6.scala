package graft.queries

import Q._

/** TPC-DS wave 6 — multi-column set-op and fact-chain shapes
  * (pg_lake_benchmark/src/tpcds.c):
  *
  *  - qds_tuple_intersect  Q38: 3-way INTERSECT of multi-column
  *                         customer-activity tuples, then COUNT
  *  - qds_tuple_except     Q87: same tuples, EXCEPT-chained
  *  - qds_return_repurchase Q25/Q29: fact→fact chain — a returned
  *                         purchase followed by the same customer
  *                         re-buying the same part later
  *  - qds_best_worst       Q44: top-k ascending UNION top-k descending
  *                         performance ranks joined back to names
  */
object QTpcds6 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  // Q38: customers active in all three "channels" (priority bands) in
  // 1996 — tuple-level INTERSECT on (custkey, month)
  private val qTupleIntersect =
    """SELECT count(*) AS n FROM (
      |  SELECT o_custkey, CAST(extract(month FROM o_orderdate) AS INT) AS m
      |  FROM orders WHERE extract(year FROM o_orderdate) = 1996
      |    AND o_orderpriority IN ('1-URGENT','2-HIGH')
      |  INTERSECT
      |  SELECT o_custkey, CAST(extract(month FROM o_orderdate) AS INT)
      |  FROM orders WHERE extract(year FROM o_orderdate) = 1996
      |    AND o_orderpriority = '3-MEDIUM'
      |  INTERSECT
      |  SELECT o_custkey, CAST(extract(month FROM o_orderdate) AS INT)
      |  FROM orders WHERE extract(year FROM o_orderdate) = 1996
      |    AND o_orderpriority IN ('4-NOT SPECIFIED','5-LOW')
      |) t""".stripMargin

  // Q87: urgent-band buyers EXCEPT medium EXCEPT low — tuple EXCEPT chain
  private val qTupleExcept =
    """SELECT count(*) AS n FROM (
      |  SELECT o_custkey, CAST(extract(month FROM o_orderdate) AS INT) AS m
      |  FROM orders WHERE extract(year FROM o_orderdate) = 1996
      |    AND o_orderpriority IN ('1-URGENT','2-HIGH')
      |  EXCEPT
      |  SELECT o_custkey, CAST(extract(month FROM o_orderdate) AS INT)
      |  FROM orders WHERE extract(year FROM o_orderdate) = 1996
      |    AND o_orderpriority = '3-MEDIUM'
      |  EXCEPT
      |  SELECT o_custkey, CAST(extract(month FROM o_orderdate) AS INT)
      |  FROM orders WHERE extract(year FROM o_orderdate) = 1996
      |    AND o_orderpriority IN ('4-NOT SPECIFIED','5-LOW')
      |) t""".stripMargin

  // Q25/Q29: returned line → the same customer orders the same part
  // again strictly later (fact-to-fact-to-fact chain through two orders)
  private val qReturnRepurchase =
    """SELECT r.o_custkey AS custkey, r.l_partkey AS partkey,
      |  count(*) AS n_repurchases,
      |  CAST(sum(CAST(r2.l_quantity AS BIGINT)) AS BIGINT) AS requantity
      |FROM (
      |  SELECT o_custkey, l_partkey, o_orderdate
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE l_returnflag = 'R') r
      |JOIN (
      |  SELECT o_custkey, l_partkey, o_orderdate, l_quantity
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey) r2
      |  ON r2.o_custkey = r.o_custkey AND r2.l_partkey = r.l_partkey
      |    AND r2.o_orderdate > r.o_orderdate
      |GROUP BY r.o_custkey, r.l_partkey
      |ORDER BY n_repurchases DESC, custkey, partkey
      |LIMIT 50""".stripMargin

  // Q44: best and worst 10 parts by net revenue, one ranked union
  private val qBestWorst =
    """WITH perf AS (
      |  SELECT l_partkey AS pk,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |      AS BIGINT)) AS BIGINT) AS net_c
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 5),
      |best AS (
      |  SELECT 'best' AS side, pk, net_c,
      |    rank() OVER (ORDER BY net_c DESC, pk) AS rnk
      |  FROM perf),
      |worst AS (
      |  SELECT 'worst' AS side, pk, net_c,
      |    rank() OVER (ORDER BY net_c ASC, pk) AS rnk
      |  FROM perf)
      |SELECT side, rnk, pk, net_c, p_name
      |FROM (SELECT * FROM best WHERE rnk <= 10
      |      UNION ALL SELECT * FROM worst WHERE rnk <= 10) u
      |JOIN part ON p_partkey = pk
      |ORDER BY side, rnk""".stripMargin

  private val shared = Map(
    "qds_tuple_intersect" -> qTupleIntersect,
    "qds_tuple_except" -> qTupleExcept,
    "qds_return_repurchase" -> qReturnRepurchase,
    "qds_best_worst" -> qBestWorst)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
