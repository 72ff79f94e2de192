package graft.queries

import Q._

/** ClickBench wave 3 — the URL/referrer string-heavy group-bys and the
  * wide-scan families still missing after wave 2 (reference ships all 43:
  * pg_lake_benchmark--3.0.sql:18-64). The fixture has no URL columns, so
  * URL-shaped strings are synthesized per row with concat() (identically
  * on both engines) — the operator under test is the string pipeline
  * (regexp_extract of the domain, LIKE stacks, substr, min-over-strings),
  * not the data.
  *
  *  - q_click_referrer_domain  Q28: regexp domain extraction + avg(length)
  *                             + HAVING + top-25 (regex kept
  *                             backslash-free: Spark SQL string literals
  *                             eat backslashes, DuckDB keeps them)
  *  - q_click_min_url          Q23: LIKE / NOT LIKE stack with min(url),
  *                             min(title), count distinct
  *  - q_click_wide_sums        Q30: 30 independent SUM(expr + k) over one
  *                             scan (tests wide projection codegen)
  *  - q_click_ip_arith         Q32: GROUP BY key, key-1, key-2, key-3
  *  - q_click_src_dst          Q41: CASE src/dst matrix + OFFSET paging
  *  - q_click_minute_series    Q43: per-minute time series + OFFSET
  *  - q_click_user_minute      Q24: user × minute × type heavy group-by
  *  - q_click_point_lookup     Q19: single-key point filter (pushdown)
  *  - q_click_sorted_phrase    Q26: two-key sort + LIMIT over strings
  *
  * ClickBench's bare `LIMIT n` after `ORDER BY c DESC` is tie-ambiguous
  * across engines, so every LIMIT here adds unique(-enough) tiebreak keys
  * — same tolerance the reference applies when differential-testing.
  */
object QClick2 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val docUrl =
    "concat('https://', source, '.example.com/doc/', doc_id)"

  // Q28 shape: domain extraction via regexp over a synthesized referrer.
  private val qReferrerDomain =
    s"""SELECT regexp_extract($docUrl, 'https?://([^/]+)/', 1) AS k,
       |  round(avg(length(text)), 4) AS l, count(*) AS c,
       |  min(source) AS m
       |FROM documents
       |WHERE source <> ''
       |GROUP BY k
       |HAVING count(*) > 10
       |ORDER BY l DESC, k
       |LIMIT 25""".stripMargin

  // Q23 shape: LIKE / NOT LIKE stack, min over synthesized url + title.
  private val qMinUrl =
    s"""SELECT lang, min($docUrl) AS min_url,
       |  min(substr(text, 1, 20)) AS min_title,
       |  count(*) AS c, count(DISTINCT source) AS u
       |FROM documents
       |WHERE text LIKE '%spark%' AND text NOT LIKE '%slow%'
       |  AND lang <> ''
       |GROUP BY lang
       |ORDER BY c DESC, lang
       |LIMIT 10""".stripMargin

  // Q30 shape: thirty independent sums over one scan.
  private val qWideSums = {
    val sums = (0 until 30).map(k =>
      s"CAST(sum(n_chars + $k) AS BIGINT) AS s${"%02d".format(k)}")
    s"SELECT\n  ${sums.mkString(",\n  ")}\nFROM documents"
  }

  // Q32 shape: group by the key and three derived keys.
  private val qIpArith =
    """SELECT user_id, user_id - 1 AS u1, user_id - 2 AS u2,
      |  user_id - 3 AS u3, count(*) AS c
      |FROM events
      |GROUP BY user_id, user_id - 1, user_id - 2, user_id - 3
      |ORDER BY c DESC, user_id
      |LIMIT 10""".stripMargin

  // Q41 shape: src/dst matrix with a CASE side and OFFSET paging.
  private val qSrcDst =
    """SELECT event_type,
      |  CASE WHEN event_type IN ('view', 'click')
      |    THEN concat('u', user_id) ELSE '' END AS src,
      |  concat('e', event_id % 100) AS dst,
      |  count(*) AS page_views
      |FROM events
      |WHERE event_type <> 'error'
      |GROUP BY 1, 2, 3
      |ORDER BY page_views DESC, event_type, src, dst
      |LIMIT 10 OFFSET 100""".stripMargin

  // Q43 shape: per-minute series, paged.
  private val qMinuteSeries =
    """SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m,
      |  count(*) AS page_views
      |FROM events
      |WHERE event_type <> 'error'
      |GROUP BY date_trunc('minute', CAST(ts AS TIMESTAMP))
      |ORDER BY m
      |LIMIT 10 OFFSET 100""".stripMargin

  // Q24 shape: user × minute × phrase heavy group-by, top-10.
  private val qUserMinute =
    """SELECT user_id,
      |  CAST(extract(minute FROM CAST(ts AS TIMESTAMP)) AS INT) AS m,
      |  event_type, count(*) AS c
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY c DESC, user_id, m, event_type
      |LIMIT 10""".stripMargin

  // Q19 shape: point lookup on a single key.
  private val qPointLookup =
    """SELECT user_id, count(*) AS n
      |FROM events
      |WHERE user_id = 42
      |GROUP BY user_id""".stripMargin

  // Q26 shape: two-key sort + LIMIT over strings.
  private val qSortedPhrase =
    """SELECT n_chars, substr(text, 1, 30) AS phrase
      |FROM documents
      |WHERE lang = 'en'
      |ORDER BY n_chars, phrase
      |LIMIT 10""".stripMargin

  private val shared = Map(
    "q_click_referrer_domain" -> qReferrerDomain,
    "q_click_min_url" -> qMinUrl,
    "q_click_wide_sums" -> qWideSums,
    "q_click_ip_arith" -> qIpArith,
    "q_click_src_dst" -> qSrcDst,
    "q_click_minute_series" -> qMinuteSeries,
    "q_click_user_minute" -> qUserMinute,
    "q_click_point_lookup" -> qPointLookup,
    "q_click_sorted_phrase" -> qSortedPhrase)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
