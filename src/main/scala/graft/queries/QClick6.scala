package graft.queries

import Q._

/** ClickBench wave 7 — dedicated gates for the ids that previously
  * shared a shape-representative query, completing per-id coverage of
  * the reference's 43 (pg_lake_benchmark--3.0.sql:18-64; Q18 — LIMIT
  * without ORDER BY — stays excluded: nondeterministic output admits no
  * exact oracle). 1-indexed ids against that list:
  *
  *  - q_click_count_star          Q1:  bare COUNT(*)
  *  - q_click_filtered_count      Q2:  COUNT(*) under a cheap predicate
  *  - q_click_distinct_phrases    Q6:  global COUNT(DISTINCT dim)
  *  - q_click_model_users         Q11: non-empty dim → ndistinct users
  *  - q_click_brand_model_users   Q12: two-dim ndistinct users, top-k
  *  - q_click_time_ordered        Q25: string col ORDER BY time LIMIT
  *  - q_click_time_phrase_ordered Q27: ORDER BY time, string LIMIT
  *  - q_click_engine_ip           Q31: filtered two-key count/sum/avg
  *  - q_click_watch_ip_all        Q33: same family, unfiltered
  *  - q_click_url_counts          Q34: single string-dim count top-k
  *  - q_click_link_views_paged    Q39: date-window + flags + OFFSET
  *
  * Same SQL text runs on both engines; every LIMIT carries a unique
  * tiebreak (event_id / full key list) so the set-compare gate is
  * deterministic. hits.parquet columns map onto the events fixture:
  * SearchPhrase→props, UserID→user_id, EventTime→ts, the MobilePhone
  * model→the props payload digits, URLs→synthesized from user_id (the
  * operator under test is the plan shape, not the data).
  */
object QClick6 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qCountStar =
    """SELECT count(*) AS n FROM events""".stripMargin

  private val qFilteredCount =
    """SELECT count(*) AS n FROM events WHERE event_type <> 'view'"""
      .stripMargin

  private val qDistinctPhrases =
    """SELECT count(DISTINCT props) AS phrases FROM events""".stripMargin

  private val qModelUsers =
    """SELECT substr(props, 7, 2) AS model,
      |  count(DISTINCT user_id) AS u
      |FROM events WHERE props <> ''
      |GROUP BY 1
      |ORDER BY u DESC, model
      |LIMIT 10""".stripMargin

  private val qBrandModelUsers =
    """SELECT event_type, substr(props, 7, 2) AS model,
      |  count(DISTINCT user_id) AS u
      |FROM events WHERE props <> ''
      |GROUP BY 1, 2
      |ORDER BY u DESC, event_type, model
      |LIMIT 10""".stripMargin

  private val qTimeOrdered =
    """SELECT props FROM events WHERE props <> ''
      |ORDER BY ts, event_id
      |LIMIT 10""".stripMargin

  private val qTimePhraseOrdered =
    """SELECT props FROM events WHERE props <> ''
      |ORDER BY ts, props, event_id
      |LIMIT 10""".stripMargin

  private val qEngineIp =
    """SELECT event_type, user_id % 256 AS ip, count(*) AS c,
      |  CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS refreshes,
      |  round(avg(value), 4) AS avg_v
      |FROM events WHERE props <> ''
      |GROUP BY event_type, user_id % 256
      |ORDER BY c DESC, event_type, ip
      |LIMIT 10""".stripMargin

  private val qWatchIpAll =
    """SELECT user_id % 5000 AS watch, user_id % 256 AS ip, count(*) AS c,
      |  round(sum(value), 2) AS sv, round(avg(value), 4) AS av
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY c DESC, watch, ip
      |LIMIT 10""".stripMargin

  private val qUrlCounts =
    """SELECT concat('http://example.com/', CAST(user_id % 500 AS STRING))
      |    AS url,
      |  count(*) AS c
      |FROM events
      |GROUP BY 1
      |ORDER BY c DESC, url
      |LIMIT 10""".stripMargin

  private val qLinkViewsPaged =
    """SELECT concat('http://example.com/', CAST(user_id % 500 AS STRING))
      |    AS url,
      |  count(*) AS views
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
      |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-25'
      |  AND event_type = 'click' AND value > 50
      |GROUP BY 1
      |ORDER BY views DESC, url
      |LIMIT 10 OFFSET 100""".stripMargin

  private val shared = Map(
    "q_click_count_star" -> qCountStar,
    "q_click_filtered_count" -> qFilteredCount,
    "q_click_distinct_phrases" -> qDistinctPhrases,
    "q_click_model_users" -> qModelUsers,
    "q_click_brand_model_users" -> qBrandModelUsers,
    "q_click_time_ordered" -> qTimeOrdered,
    "q_click_time_phrase_ordered" -> qTimePhraseOrdered,
    "q_click_engine_ip" -> qEngineIp,
    "q_click_watch_ip_all" -> qWatchIpAll,
    "q_click_url_counts" -> qUrlCounts,
    "q_click_link_views_paged" -> qLinkViewsPaged)

  // Q18 — GROUP BY UserID, SearchPhrase LIMIT 10 with NO ORDER BY
  // (pg_lake_benchmark--3.0.sql:35): the row SET is engine-arbitrary,
  // so no exact oracle can exist; gated as the driver's weaker
  // rows-only check (10 rows out, plan exercised) by declaring the
  // query WITHOUT an oracle entry. Completes 43/43 per-id coverage.
  private val qGroupLimit =
    """SELECT user_id, props, count(*) AS c
      |FROM events GROUP BY user_id, props LIMIT 10""".stripMargin

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) } +
      ("q_click_group_limit" -> sql(qGroupLimit))

  override val oracleSql: Map[String, String] = shared
}
