package graft.queries

import Q._

/** ClickBench wave 5 — the last unmapped shapes from the reference's 43
  * (pg_lake_benchmark--3.0.sql:18-64), on the events/documents fixture:
  *
  *  - q_click_sum_count_avg   Q3:  SUM + COUNT + AVG in one scan
  *  - q_click_distinct_counts Q5/6: global COUNT(DISTINCT) pair
  *  - q_click_region_multi    Q10: group with sum/count/avg/ndistinct
  *  - q_click_phrase_users    Q14: non-empty dim → COUNT(DISTINCT user)
  *  - q_click_engine_phrase   Q15: two-dim group, count-desc top-k
  *  - q_click_notlike         Q23: LIKE + NOT LIKE + min + ndistinct
  *  - q_click_wide_topk       Q24: SELECT * filtered, time-ordered top-k
  *  - q_click_paged_views     Q39-42: date-windowed group, paged OFFSET
  *
  * Same SQL text runs on both engines; every LIMIT carries a unique
  * tiebreak so the ordered-hash gate is deterministic.
  */
object QClick4 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qSumCountAvg =
    """SELECT round(sum(value), 2) AS sum_v, count(*) AS n,
      |  round(avg(event_id), 4) AS avg_id
      |FROM events""".stripMargin

  private val qDistinctCounts =
    """SELECT count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT props) AS n_props
      |FROM events""".stripMargin

  private val qRegionMulti =
    """SELECT user_id % 20 AS region,
      |  CAST(sum(event_id % 7) AS BIGINT) AS adv,
      |  count(*) AS c, round(avg(value), 4) AS avg_v,
      |  count(DISTINCT user_id) AS u
      |FROM events
      |GROUP BY user_id % 20
      |ORDER BY c DESC, region
      |LIMIT 10""".stripMargin

  private val qPhraseUsers =
    """SELECT props, count(DISTINCT user_id) AS u
      |FROM events
      |WHERE props <> ''
      |GROUP BY props
      |ORDER BY u DESC, props
      |LIMIT 10""".stripMargin

  private val qEnginePhrase =
    """SELECT event_type, props, count(*) AS c
      |FROM events
      |WHERE props <> ''
      |GROUP BY event_type, props
      |ORDER BY c DESC, event_type, props
      |LIMIT 10""".stripMargin

  private val qNotLike =
    """SELECT event_type, min(props) AS min_props, count(*) AS c,
      |  count(DISTINCT user_id) AS u
      |FROM events
      |WHERE props LIKE '%9%' AND props NOT LIKE '%99%'
      |GROUP BY event_type
      |ORDER BY c DESC, event_type
      |LIMIT 10""".stripMargin

  private val qWideTopk =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |  round(value, 4) AS value, props
      |FROM events
      |WHERE props LIKE '%1%'
      |ORDER BY ts, event_id
      |LIMIT 10""".stripMargin

  private val qPagedViews =
    """SELECT props, count(*) AS views
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08'
      |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-22'
      |  AND event_type = 'view'
      |GROUP BY props
      |ORDER BY views DESC, props
      |LIMIT 10 OFFSET 25""".stripMargin

  private val shared = Map(
    "q_click_sum_count_avg" -> qSumCountAvg,
    "q_click_distinct_counts" -> qDistinctCounts,
    "q_click_region_multi" -> qRegionMulti,
    "q_click_phrase_users" -> qPhraseUsers,
    "q_click_engine_phrase" -> qEnginePhrase,
    "q_click_notlike" -> qNotLike,
    "q_click_wide_topk" -> qWideTopk,
    "q_click_paged_views" -> qPagedViews)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
