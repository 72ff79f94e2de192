package graft.queries

import Q._

/** Final TPC-H wave: q2/q11/q13/q15/q16/q20/q21/q22 shapes, completing the
  * 22-query harness the reference ships (pg_lake_benchmark/src/tpch.c:57-96).
  * Adapted to the trimmed fixture schema — no partsupp table, so the
  * part↔supplier relationship is derived through lineitem, and q21/q22 use
  * shipdate/nationkey in place of the absent receiptdate/phone columns.
  * Same SQL text goes to both engines (Spark and the DuckDB oracle).
  */
object QTpch4 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  // Q2: minimum-cost supplier — correlated scalar-aggregate subquery over the
  // same join tree as the outer query (supplier via lineitem, not partsupp).
  private val q2 =
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_brand
      |FROM part, supplier, lineitem, nation, region
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_size = 15 AND p_type = 'PROMO'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND s_acctbal = (
      |    SELECT min(s_acctbal)
      |    FROM supplier, lineitem, nation, region
      |    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |      AND r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  // Q11: important stock — HAVING against a scalar subquery (fraction of the
  // grand total), value = delivered revenue per part for one nation's suppliers.
  private val q11 =
    """SELECT l_partkey AS ps_partkey,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS value
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_5'
      |GROUP BY l_partkey
      |HAVING sum(l_extendedprice * (1 - l_discount)) > (
      |  SELECT sum(l_extendedprice * (1 - l_discount)) * 0.001
      |  FROM lineitem, supplier, nation
      |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_name = 'NATION_5')
      |ORDER BY value DESC, ps_partkey""".stripMargin

  // Q13: customer order-count distribution — left outer join with a predicate
  // in the join condition, then a second-level aggregation over the counts.
  private val q13 =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // Q15: top supplier — CTE (the reference's view) + scalar max subquery over it.
  private val q15 =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(l_extendedprice * (1 - l_discount)) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, round(total_rev, 2) AS total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_rev = (SELECT max(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // Q16: parts/supplier relationship — count(DISTINCT) with NOT IN subquery.
  private val q16 =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#1'
      |  AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // Q20: potential part promotion — nested IN subqueries, the inner one a
  // grouped HAVING threshold (the reference's half-of-availqty correlation).
  private val q20 =
    """SELECT s_name, round(s_acctbal, 2) AS s_acctbal
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |      AND l_shipdate >= TIMESTAMP '1997-01-01'
      |      AND l_shipdate < TIMESTAMP '1998-01-01'
      |    GROUP BY l_suppkey
      |    HAVING sum(l_quantity) > 50)
      |  AND s_nationkey = n_nationkey AND n_name LIKE 'NATION_1%'
      |ORDER BY s_name""".stripMargin

  // Q21: suppliers who kept orders waiting — EXISTS + NOT EXISTS, both
  // correlated on the same order, discriminating on the supplier key
  // (returnflag stands in for the absent receipt/commit dates).
  private val q21 =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT * FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT * FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey AND n_name LIKE 'NATION_2%'
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  // Q22: global sales opportunity — anti-join (NOT EXISTS) + scalar avg
  // subquery; country code derived from nationkey (fixture has no phone), and
  // the anti-join is against urgent orders (every fixture customer has at
  // least one order, so the original "no orders at all" form selects nothing).
  private val q22 =
    """SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
      |FROM (
      |  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
      |  FROM customer
      |  WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
      |    AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      |    AND NOT EXISTS (SELECT * FROM orders
      |                    WHERE o_custkey = c_custkey
      |                      AND o_orderpriority = '1-URGENT'))
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  private val all = Map(
    "q2_min_cost_supplier" -> q2,
    "q11_important_stock" -> q11,
    "q13_order_distribution" -> q13,
    "q15_top_supplier" -> q15,
    "q16_supplier_cnt" -> q16,
    "q20_part_promotion" -> q20,
    "q21_waiting_supplier" -> q21,
    "q22_sales_opportunity" -> q22)

  val queries: Map[String, QueryFn] = all.map { case (n, q) => n -> sql(q) }
  override val oracleSql: Map[String, String] = all
}
