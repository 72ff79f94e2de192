package graft.queries

import Q._

/** TPC-DS wave 11 — ten more official-harness plan shapes
  * (pg_lake_benchmark/src/tpcds.c), continuing the pull-until-one-
  * breaks program of waves 8/9/10. This wave is the SCALAR-PIVOT and
  * NETTING families the earlier waves had not touched:
  *
  *  - qds_case_scalar_pick  Q9: CASE over scalar aggregate subqueries
  *                          in the projection — each band picks one of
  *                          two scalar sums based on a scalar count
  *  - qds_band_stats_row    Q28: six band statistics (count, distinct
  *                          count, sum) with OR'd range predicates,
  *                          cross-joined into one row
  *  - qds_excess_discount   Q32/Q92: sum over fact rows whose discount
  *                          exceeds 1.3x their part's average discount
  *                          (correlated scalar aggregates over the fact
  *                          itself, cross-multiplied in basis points)
  *  - qds_ratio_rank_union  Q49: per-channel return-ratio ranked two
  *                          ways (amount ratio, quantity ratio); rows
  *                          surviving either top-10 window
  *  - qds_latency_pivot     Q50: ship-latency bucket counts pivoted
  *                          into columns per supplier nation
  *  - qds_wow_pivot_join    Q59: per-week weekday revenue pivot, one
  *                          CTE per year, joined on week number
  *  - qds_promo_share       Q61: promotional vs total revenue as two
  *                          identically-joined scalar arms in one row
  *  - qds_pivot_union_reagg Q66: monthly pivot computed per UNION ALL
  *                          arm, then re-aggregated column-wise
  *  - qds_yoy_decline       Q75: per-(brand,year) quantity net of
  *                          returns via UNION ALL channel arms,
  *                          year-over-year self-join, decline filter
  *  - qds_prepost_band      Q21: pre/post event-date quantities with a
  *                          2/3..3/2 ratio band HAVING, cross-multiplied
  *
  * Shared-SQL (Spark ∩ DuckDB); the oracle replays the exact text.
  * Money stays in BIGINT cents, discounts in BIGINT basis points, and
  * every ratio compare cross-multiplies — no float drift by
  * construction. The two rank windows order by a double that is the
  * IEEE quotient of two exact integers, which both engines round
  * identically.
  */
object QTpcds11 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val cents =
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
      "AS BIGINT)) AS BIGINT)"

  private val lineCents =
    "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"

  // Q9: five quantity bands; each output column picks the band's
  // revenue sum when the band is populous enough, else a count-derived
  // fallback — all through scalar subqueries inside CASE.
  private val qCaseScalarPick = {
    val band = (lo: Int, hi: Int, n: Int) =>
      s"""  CASE WHEN (SELECT count(*) FROM lineitem
         |       WHERE l_quantity BETWEEN $lo AND $hi) > $n
         |    THEN (SELECT $cents FROM lineitem
         |          WHERE l_quantity BETWEEN $lo AND $hi)
         |    ELSE (SELECT count(*) * 1000 FROM lineitem
         |          WHERE l_quantity BETWEEN $lo AND $hi)
         |  END AS b${lo}_$hi""".stripMargin
    s"""SELECT
       |${Seq(band(1, 10, 5000), band(11, 20, 5000), band(21, 30, 999999),
            band(31, 40, 5000), band(41, 50, 999999)).mkString(",\n")}
       |FROM (SELECT 1 AS one) t""".stripMargin
  }

  // Q28: six band statistics cross-joined into one row; each band has
  // an OR'd secondary range predicate, a plain count, a DISTINCT
  // count, and an exact cent sum.
  private val qBandStatsRow = {
    val band = (i: Int, lo: Int, hi: Int) =>
      s"""  (SELECT count(*) AS n$i,
         |    count(DISTINCT l_partkey) AS d$i,
         |    $cents AS c$i
         |   FROM lineitem
         |   WHERE l_quantity BETWEEN $lo AND $hi
         |     AND (l_discount BETWEEN 0.00 AND 0.03
         |       OR l_extendedprice BETWEEN 10000 AND 40000
         |       OR l_tax BETWEEN 0.05 AND 0.07)) b$i""".stripMargin
    s"""SELECT n1, d1, c1, n2, d2, c2, n3, d3, c3,
       |  n4, d4, c4, n5, d5, c5, n6, d6, c6
       |FROM
       |${Seq(band(1, 1, 8), band(2, 9, 16), band(3, 17, 24),
            band(4, 25, 32), band(5, 33, 40), band(6, 41, 50))
        .mkString(",\n")}""".stripMargin
  }

  // Q32/Q92 "excess discount": lines whose discount exceeds 1.3x the
  // average discount of their part, summed. Basis points keep the
  // correlated compare exact: d > 1.3*S/n  <=>  10*d*n > 13*S.
  private val qExcessDiscount =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |    AS BIGINT) AS excess_cents,
      |  count(*) AS n_lines
      |FROM lineitem l
      |WHERE l_shipdate >= DATE '1996-01-01'
      |  AND l_shipdate < DATE '1996-04-01'
      |  AND CAST(round(l_discount * 10000) AS BIGINT) * 10 * (
      |    SELECT count(*) FROM lineitem l2
      |    WHERE l2.l_partkey = l.l_partkey)
      |  > 13 * (
      |    SELECT CAST(sum(CAST(round(l_discount * 10000) AS BIGINT))
      |      AS BIGINT)
      |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  // Q49: per-channel (linestatus) part return ratios ranked two ways;
  // keep rows in either top-10. The rank ordering key is an IEEE
  // quotient of exact integers — identical in both engines; ties break
  // on the part key.
  private val qRatioRankUnion =
    s"""WITH per_part AS (
       |  SELECT l_linestatus AS channel, l_partkey AS pk,
       |    CAST(sum(CASE WHEN l_returnflag = 'R'
       |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS ret_qty,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty,
       |    CAST(sum(CASE WHEN l_returnflag = 'R'
       |      THEN $lineCents ELSE 0 END) AS BIGINT) AS ret_cents,
       |    $cents AS tot_cents
       |  FROM lineitem
       |  GROUP BY l_linestatus, l_partkey
       |  HAVING sum(CASE WHEN l_returnflag = 'R'
       |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0),
       |ranked AS (
       |  SELECT channel, pk, ret_qty, tot_qty,
       |    rank() OVER (PARTITION BY channel
       |      ORDER BY (ret_qty * 1000000) / tot_qty DESC, pk ASC)
       |      AS qty_rank,
       |    rank() OVER (PARTITION BY channel
       |      ORDER BY (ret_cents * 1000000) / tot_cents DESC, pk ASC)
       |      AS amt_rank
       |  FROM per_part)
       |SELECT channel, pk, ret_qty, tot_qty, qty_rank, amt_rank
       |FROM ranked
       |WHERE qty_rank <= 10 OR amt_rank <= 10
       |ORDER BY channel, pk""".stripMargin

  // Q50: latency buckets as pivot COLUMNS per supplier nation.
  private val qLatencyPivot =
    """SELECT n_name AS nation,
      |  CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
      |    AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |    AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |    AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS dover
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |GROUP BY n_name
      |ORDER BY nation""".stripMargin

  // Q59: weekday revenue pivot per ISO week, one arm per year, joined
  // on week number. The weekday slot is day-of-month mod 7 — a
  // deterministic 7-way split both engines compute identically (the
  // SHAPE under test is the pivot-join, not calendar semantics).
  private val qWowPivotJoin = {
    val slots = (0 to 6).map(dow =>
      s"""    CAST(sum(CASE WHEN (CAST(extract(day FROM o_orderdate)
         |      AS INT) - 1) % 7 = $dow
         |      THEN CAST(round(o_totalprice * 100) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS d$dow""".stripMargin)
    def arm(year: Int) =
      s"""  SELECT CAST(extract(week FROM o_orderdate) AS INT) AS wk,
         |${slots.mkString(",\n")}
         |  FROM orders
         |  WHERE CAST(extract(year FROM o_orderdate) AS INT) = $year
         |  GROUP BY CAST(extract(week FROM o_orderdate) AS INT)"""
        .stripMargin
    s"""WITH y96 AS (
       |${arm(1996)}),
       |y97 AS (
       |${arm(1997)})
       |SELECT y96.wk AS wk,
       |  y96.d0 AS d0_96, y97.d0 AS d0_97,
       |  y96.d1 AS d1_96, y97.d1 AS d1_97,
       |  y96.d2 AS d2_96, y97.d2 AS d2_97,
       |  y96.d3 AS d3_96, y97.d3 AS d3_97,
       |  y96.d4 AS d4_96, y97.d4 AS d4_97,
       |  y96.d5 AS d5_96, y97.d5 AS d5_97,
       |  y96.d6 AS d6_96, y97.d6 AS d6_97
       |FROM y96 JOIN y97 ON y96.wk = y97.wk
       |WHERE y96.wk BETWEEN 2 AND 51
       |ORDER BY wk""".stripMargin
  }

  // Q61: promotional vs total revenue through the SAME join tree,
  // two scalar arms cross-joined into one row (counts and cents
  // projected, never divided).
  private val qPromoShare =
    s"""SELECT promo.c AS promo_cents, promo.n AS promo_lines,
       |  total.c AS total_cents, total.n AS total_lines
       |FROM
       |  (SELECT $cents AS c, count(*) AS n
       |   FROM lineitem
       |   JOIN part ON p_partkey = l_partkey
       |   JOIN orders ON o_orderkey = l_orderkey
       |   WHERE p_type = 'PROMO'
       |     AND o_orderdate >= DATE '1997-01-01'
       |     AND o_orderdate < DATE '1998-01-01') promo,
       |  (SELECT $cents AS c, count(*) AS n
       |   FROM lineitem
       |   JOIN part ON p_partkey = l_partkey
       |   JOIN orders ON o_orderkey = l_orderkey
       |   WHERE o_orderdate >= DATE '1997-01-01'
       |     AND o_orderdate < DATE '1998-01-01') total""".stripMargin

  // Q66: 12-month pivot per supplier nation computed separately per
  // UNION ALL arm (returned vs kept lines as the two "warehouses"),
  // then re-aggregated column-wise.
  private val qPivotUnionReagg = {
    val cols = (1 to 12).map(m =>
      s"""    CAST(sum(CASE WHEN extract(month FROM l_shipdate) = $m
         |      THEN $lineCents ELSE 0 END) AS BIGINT)
         |      AS m${"%02d".format(m)}""".stripMargin)
    def arm(pred: String) =
      s"""  SELECT n_name AS nation,
         |${cols.mkString(",\n")}
         |  FROM lineitem
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN nation ON n_nationkey = s_nationkey
         |  WHERE $pred
         |  GROUP BY n_name""".stripMargin
    val outer = (1 to 12).map(m =>
      s"  CAST(sum(m${"%02d".format(m)}) AS BIGINT) AS m${"%02d".format(m)}")
    s"""SELECT nation,
       |${outer.mkString(",\n")}
       |FROM (
       |${arm("l_returnflag = 'R'")}
       |  UNION ALL
       |${arm("l_returnflag <> 'R'")}) arms
       |GROUP BY nation
       |ORDER BY nation""".stripMargin
  }

  // Q75: per-(brand, year) quantity net of returns, built from two
  // UNION ALL channel arms, self-joined on the previous year, keeping
  // declining brands only.
  private val qYoyDecline = {
    def arm(status: String) =
      s"""  SELECT p_brand AS brand,
         |    CAST(extract(year FROM l_shipdate) AS INT) AS yr,
         |    CAST(sum(CASE WHEN l_returnflag = 'R'
         |      THEN -CAST(l_quantity AS BIGINT)
         |      ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty
         |  FROM lineitem JOIN part ON p_partkey = l_partkey
         |  WHERE l_linestatus = '$status'
         |  GROUP BY p_brand, CAST(extract(year FROM l_shipdate) AS INT)"""
        .stripMargin
    s"""WITH per_year AS (
       |  SELECT brand, yr, CAST(sum(qty) AS BIGINT) AS qty FROM (
       |${arm("O")}
       |  UNION ALL
       |${arm("F")}) arms
       |  GROUP BY brand, yr)
       |SELECT curr.brand AS brand, prev.yr AS prev_yr,
       |  prev.qty AS prev_qty, curr.qty AS curr_qty
       |FROM per_year curr
       |JOIN per_year prev
       |  ON curr.brand = prev.brand AND curr.yr = prev.yr + 1
       |WHERE curr.qty < prev.qty
       |ORDER BY brand, prev_yr""".stripMargin
  }

  // Q21: pre/post quantities around an event date per (supplier,
  // part), kept only when the two sit within a 2/3..3/2 band of each
  // other — the band test cross-multiplies so it is engine-exact.
  private val qPrepostBand =
    """SELECT l_suppkey AS sk, l_partkey AS pk,
      |  CAST(sum(CASE WHEN l_shipdate < DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS pre_qty,
      |  CAST(sum(CASE WHEN l_shipdate >= DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS post_qty
      |FROM lineitem
      |WHERE l_shipdate BETWEEN DATE '1996-10-01' AND DATE '1997-04-01'
      |GROUP BY l_suppkey, l_partkey
      |HAVING sum(CASE WHEN l_shipdate < DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0
      |  AND sum(CASE WHEN l_shipdate >= DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) > 0
      |  AND 2 * sum(CASE WHEN l_shipdate < DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
      |    <= 3 * sum(CASE WHEN l_shipdate >= DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
      |  AND 2 * sum(CASE WHEN l_shipdate >= DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
      |    <= 3 * sum(CASE WHEN l_shipdate < DATE '1997-01-01'
      |    THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
      |ORDER BY sk, pk""".stripMargin

  private val texts: Map[String, String] = Map(
    "qds_case_scalar_pick" -> qCaseScalarPick,
    "qds_band_stats_row" -> qBandStatsRow,
    "qds_excess_discount" -> qExcessDiscount,
    "qds_ratio_rank_union" -> qRatioRankUnion,
    "qds_latency_pivot" -> qLatencyPivot,
    "qds_wow_pivot_join" -> qWowPivotJoin,
    "qds_promo_share" -> qPromoShare,
    "qds_pivot_union_reagg" -> qPivotUnionReagg,
    "qds_yoy_decline" -> qYoyDecline,
    "qds_prepost_band" -> qPrepostBand)

  val queries: Map[String, QueryFn] =
    texts.map { case (k, v) => k -> sql(v) }

  override val oracleSql: Map[String, String] = texts
}
