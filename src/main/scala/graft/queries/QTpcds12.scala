package graft.queries

import Q._

/** TPC-DS wave 12 — eight more official-harness plan shapes
  * (pg_lake_benchmark/src/tpcds.c), continuing waves 8–11's
  * pull-until-one-breaks program. This wave is the MULTI-INSTANCE-FACT
  * and DERIVED-SET families:
  *
  *  - qds_triple_fact_cv    Q17/Q25/Q29: the same fact joined three
  *                          ways (sale, return, repurchase) with
  *                          exact variance components (n, Σx, Σx²)
  *  - qds_addr_change       Q46/Q68/Q79: per-order aggregate joined
  *                          back to dims, kept only when the customer
  *                          and supplier sit in different nations
  *  - qds_month_vs_quarter  Q53/Q63: monthly revenue vs the part
  *                          type's quarterly average through a window
  *                          sum, deviation filter cross-multiplied
  *  - qds_week_in_set       Q83: three returns aggregates each
  *                          restricted to a derived week set (IN over
  *                          a grouped subquery), joined on part
  *  - qds_band_or_avgs      Q13/Q85: one pass with multiple aggregate
  *                          slots under OR'd three-way band predicate
  *                          combinations
  *  - qds_rollup4_avg       Q22: four-level ROLLUP lattice carrying
  *                          exact average components (Σ, n)
  *  - qds_band_semi         Q37/Q82: dimension band filter + DISTINCT
  *                          semi join against a dated fact window
  *  - qds_net_promo_rollup  Q80: channel ROLLUP over revenue netted
  *                          of returns with promotional parts excluded
  *
  * Shared-SQL (Spark ∩ DuckDB); the oracle replays the exact text.
  * Averages and variances travel as integer components (Σ, Σx², n) in
  * BIGINT, deviation compares cross-multiply — exact by construction.
  */
object QTpcds12 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val cents =
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
      "AS BIGINT)) AS BIGINT)"

  private val lineCents =
    "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"

  // Q17/Q25/Q29: sale line + a returned line of the same part in the
  // same nation + a later repurchase line (Q17 correlates store/state;
  // nation plays the state role at this corpus density); quantity
  // variance components per part brand, all integer-exact.
  private val qTripleFactCv =
    """WITH sale AS (
      |  SELECT c_nationkey AS ck, l_partkey AS pk, o_orderdate AS d,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  WHERE l_returnflag = 'N'),
      |ret AS (
      |  SELECT c_nationkey AS ck, l_partkey AS pk, o_orderdate AS d,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  WHERE l_returnflag = 'R')
      |SELECT p_brand AS brand,
      |  count(*) AS n,
      |  CAST(sum(s.qty) AS BIGINT) AS sale_qty_sum,
      |  CAST(sum(s.qty * s.qty) AS BIGINT) AS sale_qty_sumsq,
      |  CAST(sum(r.qty) AS BIGINT) AS ret_qty_sum,
      |  CAST(sum(s2.qty) AS BIGINT) AS rebuy_qty_sum
      |FROM sale s
      |JOIN ret r ON r.ck = s.ck AND r.pk = s.pk AND r.d > s.d
      |JOIN sale s2 ON s2.ck = s.ck AND s2.pk = s.pk AND s2.d > r.d
      |JOIN part ON p_partkey = s.pk
      |GROUP BY p_brand
      |ORDER BY brand""".stripMargin

  // Q46/Q68/Q79: per-order ticket aggregate joined back to the
  // customer, kept when any line's supplier nation differs from the
  // customer's nation (the "address changed" inequality).
  private val qAddrChange =
    s"""WITH tickets AS (
       |  SELECT o_orderkey AS ok, o_custkey AS ck,
       |    $cents AS ticket_cents,
       |    count(*) AS n_lines,
       |    CAST(sum(CASE WHEN s_nationkey <> c_nationkey
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN customer ON c_custkey = o_custkey
       |  WHERE o_orderdate >= DATE '1997-01-01'
       |    AND o_orderdate < DATE '1997-04-01'
       |  GROUP BY o_orderkey, o_custkey)
       |SELECT c_name, t.ok AS ok, t.ticket_cents AS ticket_cents,
       |  t.n_lines AS n_lines, t.n_foreign AS n_foreign
       |FROM tickets t JOIN customer ON c_custkey = t.ck
       |WHERE t.n_foreign > 0
       |ORDER BY c_name, ok LIMIT 300""".stripMargin

  // Q53/Q63: monthly part-type revenue vs its quarterly average
  // (window sum/count over the quarter), keeping months that deviate
  // from the quarter mean by more than 20% — cross-multiplied:
  // |m·nq − Sq| · 10 > 2 · Sq  with nq months in the quarter.
  private val qMonthVsQuarter =
    s"""WITH monthly AS (
       |  SELECT p_type AS ptype,
       |    CAST(extract(year FROM l_shipdate) AS INT) AS yr,
       |    CAST(extract(quarter FROM l_shipdate) AS INT) AS qtr,
       |    CAST(extract(month FROM l_shipdate) AS INT) AS mo,
       |    $cents AS m_cents
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  GROUP BY p_type, CAST(extract(year FROM l_shipdate) AS INT),
       |    CAST(extract(quarter FROM l_shipdate) AS INT),
       |    CAST(extract(month FROM l_shipdate) AS INT)),
       |windowed AS (
       |  SELECT ptype, yr, qtr, mo, m_cents,
       |    CAST(sum(m_cents) OVER (PARTITION BY ptype, yr, qtr)
       |      AS BIGINT) AS q_cents,
       |    count(*) OVER (PARTITION BY ptype, yr, qtr) AS q_months
       |  FROM monthly)
       |SELECT ptype, yr, qtr, mo, m_cents, q_cents
       |FROM windowed
       |WHERE abs(m_cents * q_months - q_cents) * 10 > 2 * q_cents
       |ORDER BY ptype, yr, mo""".stripMargin

  // Q83: three per-part return aggregates, each restricted to a
  // derived week set (weeks whose total returned quantity clears a
  // dial), joined on the part key.
  private val qWeekInSet = {
    def arm(flag: String, alias: String) =
      s"""  SELECT l_partkey AS pk,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem
         |  WHERE l_returnflag = '$flag'
         |    AND CAST(extract(week FROM l_shipdate) AS INT) IN (
         |      SELECT CAST(extract(week FROM l_shipdate) AS INT)
         |      FROM lineitem WHERE l_returnflag = '$flag'
         |      GROUP BY CAST(extract(week FROM l_shipdate) AS INT)
         |      HAVING sum(CAST(l_quantity AS BIGINT)) > 9800)
         |  GROUP BY l_partkey""".stripMargin
    s"""WITH a AS (
       |${arm("A", "a")}),
       |n AS (
       |${arm("N", "n")}),
       |r AS (
       |${arm("R", "r")})
       |SELECT a.pk AS pk, a.qty AS a_qty, n.qty AS n_qty, r.qty AS r_qty
       |FROM a JOIN n ON n.pk = a.pk JOIN r ON r.pk = a.pk
       |ORDER BY pk LIMIT 300""".stripMargin
  }

  // Q13/Q85: one scan, several aggregate slots under OR'd three-way
  // band combinations (segment × balance × quantity).
  private val qBandOrAvgs =
    s"""SELECT
       |  count(*) AS n,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
       |  $cents AS rev_cents,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |    AS order_cents
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |WHERE
       |  (c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 1000 AND 5000
       |    AND l_quantity BETWEEN 10 AND 30)
       |  OR (c_mktsegment = 'AUTOMOBILE' AND c_acctbal BETWEEN 0 AND 3000
       |    AND l_quantity BETWEEN 20 AND 40)
       |  OR (c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 4000 AND 9000
       |    AND l_quantity BETWEEN 1 AND 15)""".stripMargin

  // Q22: four-level ROLLUP lattice carrying exact average components.
  private val qRollup4Avg =
    """SELECT p_brand, p_type, p_size,
      |  CASE WHEN p_retailprice < 950 THEN 'lo' ELSE 'hi' END AS tier,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
      |  count(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |GROUP BY ROLLUP(p_brand, p_type, p_size,
      |  CASE WHEN p_retailprice < 950 THEN 'lo' ELSE 'hi' END)
      |HAVING count(*) >= 40
      |ORDER BY p_brand NULLS FIRST, p_type NULLS FIRST,
      |  p_size NULLS FIRST, tier NULLS FIRST""".stripMargin

  // Q37/Q82: dimension band + DISTINCT semi join against a dated fact
  // window.
  private val qBandSemi =
    """SELECT p_partkey, p_brand,
      |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      |FROM part
      |WHERE p_size BETWEEN 10 AND 25
      |  AND p_retailprice BETWEEN 920 AND 970
      |  AND p_partkey IN (
      |    SELECT l_partkey FROM lineitem
      |    WHERE l_shipdate BETWEEN DATE '1996-01-01'
      |      AND DATE '1996-06-30'
      |      AND l_quantity > 20)
      |ORDER BY p_partkey LIMIT 300""".stripMargin

  // Q80: channel ROLLUP over revenue netted of returned lines, with
  // promotional parts excluded before aggregation.
  private val qNetPromoRollup =
    s"""SELECT l_returnflag AS channel, l_linestatus AS leg,
       |  CAST(sum(CASE WHEN l_returnflag = 'R'
       |    THEN -$lineCents ELSE $lineCents END) AS BIGINT) AS net_cents,
       |  count(*) AS n_lines
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE p_type <> 'PROMO'
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY channel NULLS FIRST, leg NULLS FIRST""".stripMargin

  private val texts: Map[String, String] = Map(
    "qds_triple_fact_cv" -> qTripleFactCv,
    "qds_addr_change" -> qAddrChange,
    "qds_month_vs_quarter" -> qMonthVsQuarter,
    "qds_week_in_set" -> qWeekInSet,
    "qds_band_or_avgs" -> qBandOrAvgs,
    "qds_rollup4_avg" -> qRollup4Avg,
    "qds_band_semi" -> qBandSemi,
    "qds_net_promo_rollup" -> qNetPromoRollup)

  val queries: Map[String, QueryFn] =
    texts.map { case (k, v) => k -> sql(v) }

  override val oracleSql: Map[String, String] = texts
}
