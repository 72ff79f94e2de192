package graft.queries

import Q._

/** TPC-DS wave 13 — the four official-harness plan shapes the waves
  * 1–12 inventory had not yet pinned (pg_lake_benchmark/src/tpcds.c).
  * With these, every one of the 99 official queries maps to at least
  * one gated shape (the full line-by-line table lives in COVERAGE.md):
  *
  *  - qds_hour_union        Q71: three differently-filtered fact arms
  *                          UNION ALL'd and re-grouped by (dim, hour)
  *  - qds_offset_shortfall  Q72: three relations chained through
  *                          date-offset inequality constraints
  *                          (ship later than order + 60d, next order
  *                          within 30d of the ship date)
  *  - qds_dim_chain_band    Q84: pure dimension-chain lookup
  *                          (customer→nation→region) with a numeric
  *                          band on the leaf
  *  - qds_cc_monthly_loss   Q91: returned revenue grouped by two
  *                          dimensions and calendar month
  *
  * Shared-SQL (Spark ∩ DuckDB); the oracle replays the exact text;
  * money in BIGINT cents.
  */
object QTpcds13 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val cents =
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
      "AS BIGINT)) AS BIGINT)"

  // Q71: three filtered arms over the events fact, re-grouped by
  // customer nation and hour of day (time_dim's role).
  private val qHourUnion =
    """SELECT n_name AS nation,
      |  CAST(extract(hour FROM ts) AS INT) AS hr,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS value_cents,
      |  count(*) AS n
      |FROM (
      |  SELECT user_id, ts, value FROM events
      |  WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, value FROM events
      |  WHERE event_type = 'click' AND value > 50
      |  UNION ALL
      |  SELECT user_id, ts, value FROM events
      |  WHERE event_type = 'view' AND value < 10) arms
      |JOIN customer ON c_custkey = user_id
      |JOIN nation ON n_nationkey = c_nationkey
      |GROUP BY n_name, CAST(extract(hour FROM ts) AS INT)
      |ORDER BY nation, hr""".stripMargin

  // Q72: lines shipped more than 60 days after their order, where the
  // same customer places ANOTHER order within 30 days after the ship
  // date — two date-offset inequalities chaining three relations.
  private val qOffsetShortfall =
    """SELECT o1.o_orderpriority AS priority, count(*) AS n_late_rebuy
      |FROM lineitem l
      |JOIN orders o1 ON o1.o_orderkey = l.l_orderkey
      |JOIN orders o2 ON o2.o_custkey = o1.o_custkey
      |  AND o2.o_orderdate > l.l_shipdate
      |  AND o2.o_orderdate <= l.l_shipdate + INTERVAL 30 DAY
      |WHERE l.l_shipdate > o1.o_orderdate + INTERVAL 60 DAY
      |GROUP BY o1.o_orderpriority
      |ORDER BY priority""".stripMargin

  // Q84: dimension-chain lookup with a numeric band on the leaf
  // (income band's role played by the account balance).
  private val qDimChainBand =
    """SELECT c_custkey, c_name, n_name AS nation
      |FROM customer
      |JOIN nation ON n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND c_acctbal BETWEEN 2500 AND 4500
      |ORDER BY c_custkey LIMIT 300""".stripMargin

  // Q91: returned revenue by order priority × market segment × month.
  private val qCcMonthlyLoss =
    s"""SELECT o_orderpriority AS priority, c_mktsegment AS segment,
       |  CAST(extract(year FROM l_shipdate) AS INT) AS yr,
       |  CAST(extract(month FROM l_shipdate) AS INT) AS mo,
       |  $cents AS loss_cents,
       |  count(*) AS n_returns
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |WHERE l_returnflag = 'R'
       |  AND l_shipdate >= DATE '1997-01-01'
       |  AND l_shipdate < DATE '1998-01-01'
       |GROUP BY o_orderpriority, c_mktsegment,
       |  CAST(extract(year FROM l_shipdate) AS INT),
       |  CAST(extract(month FROM l_shipdate) AS INT)
       |ORDER BY priority, segment, yr, mo""".stripMargin

  private val texts: Map[String, String] = Map(
    "qds_hour_union" -> qHourUnion,
    "qds_offset_shortfall" -> qOffsetShortfall,
    "qds_dim_chain_band" -> qDimChainBand,
    "qds_cc_monthly_loss" -> qCcMonthlyLoss)

  val queries: Map[String, QueryFn] =
    texts.map { case (k, v) => k -> sql(v) }

  override val oracleSql: Map[String, String] = texts
}
