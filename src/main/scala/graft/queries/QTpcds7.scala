package graft.queries

import Q._

/** TPC-DS wave 7 — the last distinctive predicate/union shapes
  * (pg_lake_benchmark/src/tpcds.c):
  *
  *  - qds_or_bands        Q48/Q85: OR of multi-column range-conjunction
  *                        bands (each band a price×quantity×flag box)
  *  - qds_null_channel    Q76: three-channel UNION ALL with typed NULL
  *                        columns per arm, grouped over the union
  *  - qds_around_event    Q40: quantity sold in the weeks before vs
  *                        after a pivot date, per part
  *  - qds_substr_semi     Q8: substring-set semi-join (zip-prefix
  *                        shape) against a derived frequent set
  */
object QTpcds7 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qOrBands =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE (l_quantity BETWEEN 1 AND 15
      |       AND l_extendedprice BETWEEN 1000 AND 30000
      |       AND o_orderpriority = '1-URGENT')
      |   OR (l_quantity BETWEEN 16 AND 35
      |       AND l_extendedprice BETWEEN 20000 AND 60000
      |       AND o_orderpriority = '2-HIGH')
      |   OR (l_quantity BETWEEN 36 AND 50
      |       AND l_extendedprice BETWEEN 40000 AND 95000
      |       AND o_orderpriority = '3-MEDIUM')""".stripMargin

  // Q76 shape: each channel arm leaves a different column as a TYPED
  // NULL; the union groups over null-ness + year
  private val qNullChannel =
    """SELECT channel,
      |  CASE WHEN aux IS NULL THEN 'null' ELSE 'set' END AS col_kind,
      |  CAST(extract(year FROM d) AS INT) AS yr, count(*) AS n,
      |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM (
      |  SELECT 'store' AS channel, l_suppkey AS aux,
      |    l_shipdate AS d, l_extendedprice AS price
      |  FROM lineitem WHERE l_returnflag = 'A'
      |  UNION ALL
      |  SELECT 'web' AS channel, CAST(NULL AS BIGINT) AS aux,
      |    l_shipdate, l_extendedprice
      |  FROM lineitem WHERE l_returnflag = 'N'
      |  UNION ALL
      |  SELECT 'catalog' AS channel,
      |    CASE WHEN l_linenumber > 3 THEN NULL ELSE l_partkey END,
      |    l_shipdate, l_extendedprice
      |  FROM lineitem WHERE l_returnflag = 'R') u
      |GROUP BY channel, CASE WHEN aux IS NULL THEN 'null' ELSE 'set' END,
      |  CAST(extract(year FROM d) AS INT)
      |ORDER BY channel, col_kind, yr""".stripMargin

  private val qAroundEvent =
    """SELECT l_partkey AS pk,
      |  CAST(sum(CASE WHEN l_shipdate < DATE '1997-06-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS before_qty,
      |  CAST(sum(CASE WHEN l_shipdate >= DATE '1997-06-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS after_qty
      |FROM lineitem
      |WHERE l_shipdate BETWEEN DATE '1997-05-01' AND DATE '1997-07-01'
      |GROUP BY l_partkey
      |HAVING sum(CASE WHEN l_shipdate < DATE '1997-06-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0
      |  AND sum(CASE WHEN l_shipdate >= DATE '1997-06-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0
      |ORDER BY pk""".stripMargin

  private val qSubstrSemi =
    """WITH hot AS (
      |  SELECT substr(c_name, 16, 2) AS prefix
      |  FROM customer GROUP BY substr(c_name, 16, 2)
      |  HAVING count(*) >= 16)
      |SELECT substr(c_name, 16, 2) AS prefix, count(*) AS n_cust,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer
      |WHERE substr(c_name, 16, 2) IN (SELECT prefix FROM hot)
      |  AND c_acctbal > 0
      |GROUP BY substr(c_name, 16, 2)
      |ORDER BY prefix""".stripMargin

  private val shared = Map(
    "qds_or_bands" -> qOrBands,
    "qds_null_channel" -> qNullChannel,
    "qds_around_event" -> qAroundEvent,
    "qds_substr_semi" -> qSubstrSemi)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
