package graft.queries

import Q._

/** TPC-DS/ClickBench wave 2 — the distinctive shapes the round-1 set
  * lacked, adapted to the fixture star schema (the reference ships the
  * full 99-query TPC-DS + 43-query ClickBench harness as its correctness
  * smoke surface: pg_lake_benchmark/src/tpcds.c,
  * pg_lake_benchmark--3.0.sql:65-230).
  *
  *  - qds_returns_cohort  Q1: above-nation-average returns via a
  *                        correlated scalar subquery over a CTE
  *  - qds_multi_slot      Q88: eight cross-joined single-row scalar
  *                        counts over disjoint time slots
  *  - qds_ship_latency    Q62/Q99: shipping-latency day buckets
  *  - qds_growth_accel    Q11/Q74: customers whose year-over-year growth
  *                        beats the average growth (subquery over ratios)
  *  - qds_channel_band    Q58: parts whose per-channel revenues agree
  *                        within a ±10% band (integer-cent arithmetic so
  *                        the band test is engine-exact)
  *  - qds_type_union      Q33/Q56: UNION ALL of two differently-filtered
  *                        fact scans re-aggregated by brand
  *  - qds_or_pred         Q41: nested OR/AND predicate combinations
  *  - q_click_regex_extract  ClickBench regex shape: regexp_extract over
  *                           a JSON-ish props string, bucketed stats
  *  - q_click_word_search    ClickBench search shape: multi-LIKE + regex
  *                           conditional counts in one scan
  *  - q_click_top_tokens     ClickBench top-K shape: split → explode →
  *                           frequency top-20 (SRF + TakeOrdered)
  *
  * Money snaps to integer cents before any comparison or output so no
  * float accumulation-order drift can cross a rounding boundary.
  */
object QTpcds2 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  // Q1 shape: per-customer return revenue vs 1.2× their nation's average.
  private val qReturnsCohort =
    """WITH ret AS (
      |  SELECT o_custkey, n_name AS nation,
      |    CAST(round(sum(l_extendedprice * 100)) AS BIGINT) AS ret_cents
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  WHERE l_returnflag = 'R'
      |  GROUP BY o_custkey, n_name)
      |SELECT o_custkey, nation, ret_cents
      |FROM ret r1
      |WHERE ret_cents > (SELECT avg(r2.ret_cents) * 1.2 FROM ret r2
      |                   WHERE r2.nation = r1.nation)
      |ORDER BY nation, o_custkey""".stripMargin

  // Q88 shape: one row of eight independent scalar slot counts.
  private val qMultiSlot = {
    val slots = Seq((0, 2), (3, 5), (6, 8), (9, 11), (12, 14), (15, 17),
      (18, 20), (21, 23))
    val froms = slots.zipWithIndex.map { case ((lo, hi), i) =>
      s"""(SELECT count(*) AS cnt FROM events
         |   WHERE extract(hour FROM CAST(ts AS TIMESTAMP))
         |     BETWEEN $lo AND $hi) s$i""".stripMargin
    }
    val cols = slots.zipWithIndex.map { case ((lo, hi), i) =>
      f"s$i.cnt AS h$lo%02d_$hi%02d"
    }
    s"SELECT ${cols.mkString(", ")}\nFROM ${froms.mkString(",\n")}"
  }

  // Q11/Q74 shape: count of customers whose 1996→1997 spend ratio beats
  // the average ratio. Spend snaps to cents so the ratios are
  // engine-identical doubles of exact integers.
  private val qGrowthAccel =
    """WITH spend AS (
      |  SELECT o_custkey, CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      |    CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE extract(year FROM o_orderdate) IN (1996, 1997)
      |  GROUP BY o_custkey, CAST(extract(year FROM o_orderdate) AS INT)),
      |ratio AS (
      |  SELECT a.o_custkey,
      |    CAST(b.cents AS DOUBLE) / CAST(a.cents AS DOUBLE) AS r
      |  FROM spend a JOIN spend b ON a.o_custkey = b.o_custkey
      |  WHERE a.yr = 1996 AND b.yr = 1997 AND a.cents > 0)
      |SELECT count(*) AS n_accel FROM ratio
      |WHERE r > (SELECT avg(r) FROM ratio)""".stripMargin

  // Q58 shape: parts whose express/standard channel revenues fall within
  // a ±10% band — the band test runs on integer cents (exact).
  private val qChannelBand =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(round(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN l_extendedprice ELSE 0 END) * 100) AS BIGINT)
      |      AS express_cents,
      |    CAST(round(sum(CASE WHEN o_orderpriority
      |        NOT IN ('1-URGENT','2-HIGH')
      |      THEN l_extendedprice ELSE 0 END) * 100) AS BIGINT)
      |      AS standard_cents
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  GROUP BY l_partkey)
      |SELECT l_partkey, express_cents, standard_cents
      |FROM rev
      |WHERE express_cents > 0 AND standard_cents > 0
      |  AND express_cents * 10 BETWEEN standard_cents * 9
      |    AND standard_cents * 11
      |ORDER BY l_partkey""".stripMargin

  // Q33/Q56 shape: UNION ALL of two differently-filtered fact+dim scans,
  // re-aggregated by brand.
  private val qTypeUnion =
    """SELECT p_brand, CAST(round(sum(rev) * 100) AS BIGINT) AS rev_cents,
      |  count(*) AS n
      |FROM (
      |  SELECT p_brand, l_extendedprice * (1 - l_discount) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_type IN ('PROMO', 'ECONOMY')
      |  UNION ALL
      |  SELECT p_brand, l_extendedprice * (1 - l_discount) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_size BETWEEN 1 AND 5) u
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // Q41 shape: nested OR/AND predicate combinations over one dim scan.
  private val qOrPred =
    """SELECT DISTINCT p_name FROM part
      |WHERE (p_brand = 'Brand#1'
      |       AND (p_size BETWEEN 1 AND 15 OR p_retailprice < 920))
      |   OR (p_brand = 'Brand#2'
      |       AND (p_size BETWEEN 10 AND 25 OR p_retailprice > 980))
      |   OR (p_type = 'PROMO' AND p_size < 10
      |       AND p_retailprice BETWEEN 940 AND 960)
      |ORDER BY p_name""".stripMargin

  // ClickBench regex shape: pull the numeric payload out of the JSON-ish
  // props string with a regex, bucket by tens.
  private val qRegexExtract =
    """SELECT k10, count(*) AS n,
      |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
      |FROM (
      |  SELECT k, CAST(floor(k / 10.0) AS INT) AS k10 FROM (
      |    SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS k
      |    FROM events) x) y
      |GROUP BY k10 ORDER BY k10""".stripMargin

  // Portable pairs (same SQL to both engines).
  private val shared = Map(
    "qds_returns_cohort" -> qReturnsCohort,
    "qds_multi_slot" -> qMultiSlot,
    "qds_growth_accel" -> qGrowthAccel,
    "qds_channel_band" -> qChannelBand,
    "qds_type_union" -> qTypeUnion,
    "qds_or_pred" -> qOrPred,
    "q_click_regex_extract" -> qRegexExtract)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) } ++ Map(
      // Q62/Q99 shape — Spark spells day difference datediff(end, start)
      "qds_ship_latency" -> sql(
        """SELECT CASE WHEN days <= 30 THEN 'a:0-30'
          |            WHEN days <= 60 THEN 'b:31-60'
          |            WHEN days <= 90 THEN 'c:61-90'
          |            ELSE 'd:90+' END AS bucket,
          |  l_returnflag, count(*) AS n
          |FROM (SELECT datediff(l_shipdate, o_orderdate) AS days,
          |        l_returnflag
          |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey) t
          |GROUP BY bucket, l_returnflag
          |ORDER BY bucket, l_returnflag""".stripMargin),

      // ClickBench search shape — Spark RLIKE
      "q_click_word_search" -> sql(
        """SELECT
          |  CAST(sum(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_spark,
          |  CAST(sum(CASE WHEN text LIKE '%window%' AND text LIKE '%agg%'
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_window_agg,
          |  CAST(sum(CASE WHEN text LIKE '%stream%' OR text LIKE '%batch%'
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stream_batch,
          |  CAST(sum(CASE WHEN text RLIKE 'fast [a-z]+ slow'
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pattern
          |FROM documents""".stripMargin),

      // ClickBench top-K shape — Spark explode(split(...))
      "q_click_top_tokens" -> sql(
        """SELECT tok, count(*) AS n
          |FROM (SELECT explode(split(text, ' ')) AS tok FROM documents) t
          |WHERE tok <> ''
          |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin))

  override val oracleSql: Map[String, String] = shared ++ Map(
    "qds_ship_latency" ->
      """SELECT CASE WHEN days <= 30 THEN 'a:0-30'
        |            WHEN days <= 60 THEN 'b:31-60'
        |            WHEN days <= 90 THEN 'c:61-90'
        |            ELSE 'd:90+' END AS bucket,
        |  l_returnflag, count(*) AS n
        |FROM (SELECT date_diff('day', o_orderdate, l_shipdate) AS days,
        |        l_returnflag
        |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey) t
        |GROUP BY bucket, l_returnflag
        |ORDER BY bucket, l_returnflag""".stripMargin,

    "q_click_word_search" ->
      """SELECT
        |  CAST(sum(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_spark,
        |  CAST(sum(CASE WHEN text LIKE '%window%' AND text LIKE '%agg%'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_window_agg,
        |  CAST(sum(CASE WHEN text LIKE '%stream%' OR text LIKE '%batch%'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stream_batch,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'fast [a-z]+ slow')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pattern
        |FROM documents""".stripMargin,

    "q_click_top_tokens" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |      FROM documents) t
        |WHERE tok <> ''
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)
}
