package graft.queries

import Q._

/** TPC-DS wave 10 — ten more official-harness plan shapes
  * (pg_lake_benchmark/src/tpcds.c), continuing the pull-until-one-
  * breaks program of waves 8/9. This wave is the CORRELATED-SCALAR
  * family plus the remaining window/band shapes:
  *
  *  - qds_above_group_avg   Q1: rows above 1.2× their GROUP's average
  *                          (CTE referenced twice, group-avg compare)
  *  - qds_above_cat_avg     Q6: correlated scalar-subquery average in
  *                          WHERE (per-category price band)
  *  - qds_or_in_corr        Q15/Q45: OR of an IN-list and a correlated
  *                          IN-subquery (disjunctive decorrelation)
  *  - qds_max_freq_cut      Q23: HAVING count > fraction × a scalar
  *                          subquery of a grouped MAX
  *  - qds_exists_orblock    Q41: EXISTS over a deeply OR'd predicate
  *                          block + DISTINCT projection
  *  - qds_rank_duel         Q44: best-vs-worst rank() windows (asc and
  *                          desc over the same aggregate) joined on rank
  *  - qds_band_of_three     Q58: three period aggregates joined where
  *                          each sits within a symmetric band of the
  *                          three-way average (cross-multiplied exact)
  *  - qds_tri_union_topn    Q33/Q56: three-arm UNION ALL of per-part
  *                          revenue, re-aggregated, top-N
  *  - qds_below_group_frac  Q65: per-group min vs fraction-of-average
  *                          compare (two grouped relations joined)
  *  - qds_ampm_ratio        Q90: two scalar counts in one row (am/pm
  *                          shape; counts projected, not divided)
  *
  * Shared-SQL (Spark ∩ DuckDB); oracle replays the text. BIGINT cents
  * + cross-multiplication keep every compare exact.
  */
object QTpcds10 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val cents =
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
      "AS BIGINT)) AS BIGINT)"

  private val qAboveGroupAvg =
    s"""WITH cust_channel AS (
       |  SELECT o_custkey AS ck, l_returnflag AS channel,
       |    $cents AS cents
       |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |  GROUP BY o_custkey, l_returnflag)
       |SELECT c1.ck AS ck, c1.channel AS channel, c1.cents AS cents
       |FROM cust_channel c1
       |-- above 1.2× the channel average, exactly: 10·c·n > 12·S
       |WHERE c1.cents * 10 * (
       |    SELECT count(*) FROM cust_channel c2
       |    WHERE c2.channel = c1.channel)
       |  > 12 * (
       |    SELECT CAST(sum(c2.cents) AS BIGINT) FROM cust_channel c2
       |    WHERE c2.channel = c1.channel)
       |ORDER BY ck, channel LIMIT 200""".stripMargin

  private val qAboveCatAvg =
    """SELECT p_partkey,
      |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      |FROM part p1
      |-- above 1.02× the brand average (TPC-H prices are formulaic and
      |-- tight within a brand), exactly in cents: 50·p·n > 51·S
      |WHERE CAST(round(p_retailprice * 100) AS BIGINT) * 50 * (
      |    SELECT count(*) FROM part p2 WHERE p2.p_brand = p1.p_brand)
      |  > 51 * (
      |    SELECT CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
      |      AS BIGINT)
      |    FROM part p2 WHERE p2.p_brand = p1.p_brand)
      |ORDER BY p_partkey LIMIT 200""".stripMargin

  private val qOrInCorr =
    """SELECT c_custkey, c_acctbal
      |FROM customer
      |WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
      |   OR c_custkey IN (
      |     SELECT o_custkey FROM orders
      |     WHERE o_totalprice > 400000)
      |ORDER BY c_custkey LIMIT 300""".stripMargin

  private val qMaxFreqCut =
    """WITH part_freq AS (
      |  SELECT l_partkey AS pk, count(*) AS cnt
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT pk, cnt FROM part_freq
      |WHERE cnt * 10 > (SELECT max(cnt) * 8 FROM part_freq)
      |ORDER BY pk""".stripMargin

  private val qExistsOrblock =
    """SELECT DISTINCT p_brand, p_type
      |FROM part p
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_partkey = p.p_partkey
      |    AND ((l.l_quantity > 45 AND l.l_returnflag = 'R')
      |      OR (l.l_quantity < 5 AND l.l_returnflag = 'A')
      |      OR (l.l_discount > 0.09 AND l.l_linestatus = 'F')))
      |ORDER BY p_brand, p_type LIMIT 200""".stripMargin

  private val qRankDuel =
    s"""WITH perf AS (
       |  SELECT l_suppkey AS sk, $cents AS cents
       |  FROM lineitem GROUP BY l_suppkey),
       |best AS (
       |  SELECT sk, cents,
       |    rank() OVER (ORDER BY cents DESC, sk ASC) AS r
       |  FROM perf),
       |worst AS (
       |  SELECT sk, cents,
       |    rank() OVER (ORDER BY cents ASC, sk ASC) AS r
       |  FROM perf)
       |SELECT b.r AS r, b.sk AS best_sk, b.cents AS best_cents,
       |  w.sk AS worst_sk, w.cents AS worst_cents
       |FROM best b JOIN worst w ON b.r = w.r
       |WHERE b.r <= 10
       |ORDER BY r""".stripMargin

  private val qBandOfThree =
    s"""WITH by_flag AS (
       |  SELECT l_partkey AS pk, l_returnflag AS f, $cents AS cents
       |  FROM lineitem WHERE l_partkey < 2000
       |  GROUP BY l_partkey, l_returnflag)
       |SELECT a.pk AS pk, a.cents AS a_c, n.cents AS n_c, r.cents AS r_c
       |FROM by_flag a JOIN by_flag n ON a.pk = n.pk
       |  JOIN by_flag r ON a.pk = r.pk
       |WHERE a.f = 'A' AND n.f = 'N' AND r.f = 'R'
       |  -- each channel within [0.5·avg, 1.5·avg] where avg = S/3,
       |  -- exactly: 6·c ≥ S and 2·c ≤ S
       |  AND 6 * a.cents >= (a.cents + n.cents + r.cents)
       |  AND 2 * a.cents <= (a.cents + n.cents + r.cents)
       |  AND 6 * n.cents >= (a.cents + n.cents + r.cents)
       |  AND 2 * n.cents <= (a.cents + n.cents + r.cents)
       |  AND 6 * r.cents >= (a.cents + n.cents + r.cents)
       |  AND 2 * r.cents <= (a.cents + n.cents + r.cents)
       |ORDER BY pk""".stripMargin

  private val qTriUnionTopn =
    s"""WITH arms AS (
       |  SELECT l_partkey AS pk, $cents AS cents
       |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_partkey
       |  UNION ALL
       |  SELECT l_partkey, $cents FROM lineitem
       |  WHERE l_returnflag = 'N' GROUP BY l_partkey
       |  UNION ALL
       |  SELECT l_partkey, $cents FROM lineitem
       |  WHERE l_returnflag = 'R' GROUP BY l_partkey)
       |SELECT pk, CAST(sum(cents) AS BIGINT) AS total_cents,
       |  count(*) AS arms_present
       |FROM arms GROUP BY pk
       |ORDER BY total_cents DESC, pk ASC LIMIT 100""".stripMargin

  private val qBelowGroupFrac =
    s"""WITH per_part AS (
       |  SELECT l_suppkey AS sk, l_partkey AS pk, $cents AS cents
       |  FROM lineitem GROUP BY l_suppkey, l_partkey),
       |per_supp AS (
       |  SELECT sk, CAST(sum(cents) AS BIGINT) AS s_cents,
       |    count(*) AS n_parts
       |  FROM per_part GROUP BY sk)
       |SELECT p.sk AS sk, p.pk AS pk, p.cents AS cents,
       |  s.s_cents AS s_cents
       |FROM per_part p JOIN per_supp s ON p.sk = s.sk
       |-- parts earning under a tenth of their supplier's per-part avg:
       |-- c < 0.1 · S/n  ⟺  10·c·n < S (exact)
       |WHERE 10 * p.cents * s.n_parts < s.s_cents
       |ORDER BY sk, pk LIMIT 200""".stripMargin

  private val qAmpmRatio =
    """SELECT am.n AS am_n, pm.n AS pm_n
      |FROM
      |  (SELECT count(*) AS n FROM events
      |   WHERE extract(hour FROM ts) < 12) am,
      |  (SELECT count(*) AS n FROM events
      |   WHERE extract(hour FROM ts) >= 12) pm""".stripMargin

  private val texts: Map[String, String] = Map(
    "qds_above_group_avg" -> qAboveGroupAvg,
    "qds_above_cat_avg" -> qAboveCatAvg,
    "qds_or_in_corr" -> qOrInCorr,
    "qds_max_freq_cut" -> qMaxFreqCut,
    "qds_exists_orblock" -> qExistsOrblock,
    "qds_rank_duel" -> qRankDuel,
    "qds_band_of_three" -> qBandOfThree,
    "qds_tri_union_topn" -> qTriUnionTopn,
    "qds_below_group_frac" -> qBelowGroupFrac,
    "qds_ampm_ratio" -> qAmpmRatio)

  val queries: Map[String, QueryFn] =
    texts.map { case (k, v) => k -> sql(v) }

  override val oracleSql: Map[String, String] = texts
}
