package graft.queries

import Q._

/** TPC-DS wave 4 (reference: pg_lake_benchmark/src/tpcds.c ships all
  * 99) — disjunctive-subquery, ranked-union, share-growth, cohort-
  * segmentation and wide-join-with-date-arithmetic shapes:
  *
  *  - qds_or_exists       Q10/Q35: OR of two correlated EXISTS over
  *                        disjoint periods (decorrelation of EXISTS
  *                        inside a disjunction)
  *  - qds_ranked_union    Q49: per-channel return-rate ranking with a
  *                        cross-channel union, integer-ppm rank keys
  *  - qds_share_growth    Q31: quarter-over-quarter share growth kept
  *                        via cross-multiplied HAVING (no division)
  *  - qds_spend_segments  Q54: brand-buyer cohort → next-period spend →
  *                        fixed-width segment histogram
  *  - qds_ship_window     Q72: wide 4-join with date-interval predicate
  *                        (shipped 60+ days after ordering)
  *
  * Money uses whole dollars where products of sums appear (cents would
  * overflow BIGINT at larger scale factors) and integer cents
  * elsewhere; every ratio comparison is cross-multiplied.
  */
object QTpcds4 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qOrExists =
    """SELECT n_name AS nation, count(*) AS n_customers
      |FROM customer JOIN nation ON n_nationkey = c_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c_custkey
      |      AND extract(year FROM o.o_orderdate) = 1996)
      |   OR EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c_custkey
      |      AND extract(year FROM o.o_orderdate) = 1998)
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  private val qRankedUnion =
    """WITH base AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN 'express' ELSE 'standard' END AS channel,
      |    l_partkey AS pk,
      |    CAST(sum(CASE WHEN l_returnflag = 'R'
      |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS ret,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  GROUP BY CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN 'express' ELSE 'standard' END, l_partkey
      |  HAVING sum(CAST(l_quantity AS BIGINT)) >= 100)
      |SELECT channel, pk, ratio_ppm, rnk FROM (
      |  SELECT channel, pk,
      |    CAST(floor(ret * 1000000.0 / tot) AS BIGINT) AS ratio_ppm,
      |    rank() OVER (PARTITION BY channel
      |      ORDER BY CAST(floor(ret * 1000000.0 / tot) AS BIGINT) DESC, pk)
      |      AS rnk
      |  FROM base) r
      |WHERE rnk <= 10
      |ORDER BY channel, rnk, pk""".stripMargin

  private val qShareGrowth =
    """WITH base AS (
      |  SELECT n_name AS nation,
      |    CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
      |    o_orderpriority IN ('1-URGENT','2-HIGH') AS is_e,
      |    CAST(round(o_totalprice) AS BIGINT) AS d
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  WHERE extract(year FROM o_orderdate) = 1997)
      |SELECT nation,
      |  CAST(sum(CASE WHEN qtr = 1 AND is_e THEN d ELSE 0 END) AS BIGINT)
      |    AS e1,
      |  CAST(sum(CASE WHEN qtr = 2 AND is_e THEN d ELSE 0 END) AS BIGINT)
      |    AS e2,
      |  CAST(sum(CASE WHEN qtr = 1 AND NOT is_e THEN d ELSE 0 END)
      |    AS BIGINT) AS s1,
      |  CAST(sum(CASE WHEN qtr = 2 AND NOT is_e THEN d ELSE 0 END)
      |    AS BIGINT) AS s2
      |FROM base GROUP BY nation
      |HAVING sum(CASE WHEN qtr = 2 AND is_e THEN d ELSE 0 END)
      |     * sum(CASE WHEN qtr = 1 AND NOT is_e THEN d ELSE 0 END)
      |     > sum(CASE WHEN qtr = 1 AND is_e THEN d ELSE 0 END)
      |     * sum(CASE WHEN qtr = 2 AND NOT is_e THEN d ELSE 0 END)
      |ORDER BY nation""".stripMargin

  private val qSpendSegments =
    """WITH buyers AS (
      |  SELECT DISTINCT o_custkey
      |  FROM orders
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = (SELECT min(p_brand) FROM part)
      |    AND extract(year FROM o_orderdate) = 1997),
      |spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_custkey IN (SELECT o_custkey FROM buyers)
      |    AND extract(year FROM o_orderdate) = 1998
      |  GROUP BY o_custkey)
      |SELECT CAST(floor(cents / 5000000.0) AS INT) AS segment,
      |  count(*) AS n
      |FROM spend
      |GROUP BY CAST(floor(cents / 5000000.0) AS INT)
      |ORDER BY segment""".stripMargin

  private val qShipWindow =
    """SELECT p_brand, s_name, count(*) AS n_late
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      |GROUP BY p_brand, s_name
      |HAVING count(*) >= 3
      |ORDER BY p_brand, s_name""".stripMargin

  // Q38 shape: customers active in ALL THREE years (INTERSECT chain of
  // per-year DISTINCT customer sets), counted.
  private val qIntersectYears =
    """SELECT count(*) AS n_loyal FROM (
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1996
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1997) t""".stripMargin

  // Q87 shape: Q38's EXCEPT counterpart — active in 1995 but in
  // NEITHER of the two following years.
  private val qExceptYears =
    """SELECT count(*) AS n_lapsed FROM (
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1995
      |  EXCEPT
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1996
      |  EXCEPT
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1997) t""".stripMargin

  // Q66 shape: wide 12-month conditional-sum pivot per group, one scan.
  private val qMonthPivot = {
    val cols = (1 to 12).map(m =>
      s"""  CAST(sum(CASE WHEN extract(month FROM o_orderdate) = $m
         |    THEN CAST(round(o_totalprice * 100) AS BIGINT)
         |    ELSE 0 END) AS BIGINT) AS m${"%02d".format(m)}""".stripMargin)
    s"""SELECT n_name AS nation,
       |${cols.mkString(",\n")}
       |FROM orders
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation ON n_nationkey = c_nationkey
       |WHERE extract(year FROM o_orderdate) = 1997
       |GROUP BY n_name
       |ORDER BY nation""".stripMargin
  }

  private val shared = Map(
    "qds_intersect_years" -> qIntersectYears,
    "qds_except_years" -> qExceptYears,
    "qds_month_pivot" -> qMonthPivot,
    "qds_or_exists" -> qOrExists,
    "qds_ranked_union" -> qRankedUnion,
    "qds_share_growth" -> qShareGrowth,
    "qds_spend_segments" -> qSpendSegments,
    "qds_ship_window" -> qShipWindow)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
