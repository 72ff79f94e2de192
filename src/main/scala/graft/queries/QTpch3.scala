package graft.queries

import Q._

/** Third TPC-H wave: the nation-flow joins (Q7/Q8/Q9 shapes), adapted to
  * the trimmed fixture schema (no partsupp: Q9's supply cost uses the
  * part retail price as the cost proxy). Same SQL to both engines.
  */
object QTpch3 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val q7 =
    """SELECT supp_nation, cust_nation, l_year,
      |  round(sum(volume), 2) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
      |    l_extendedprice * (1 - l_discount) AS volume
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |) GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  private val q8 =
    """SELECT o_year,
      |  round(sum(CASE WHEN nation = 'NATION_11' THEN volume ELSE 0 END)
      |    / sum(volume), 6) AS mkt_share
      |FROM (
      |  SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
      |    l_extendedprice * (1 - l_discount) AS volume,
      |    n2.n_name AS nation
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'EUROPE'
      |) GROUP BY o_year ORDER BY o_year""".stripMargin

  private val q9 =
    """SELECT nation, o_year, round(sum(amount), 1) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
      |    l_extendedprice * (1 - l_discount)
      |      - p_retailprice * l_quantity * 0.01 AS amount
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%a%'
      |) GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "q7_nation_volume" -> sql(q7),
    "q8_market_share" -> sql(q8),
    "q9_profit" -> sql(q9))

  override val oracleSql: Map[String, String] = Map(
    "q7_nation_volume" -> q7,
    "q8_market_share" -> q8,
    "q9_profit" -> q9)
}
