package graft.queries

import Q._

/** ClickBench wave 6 — remaining literal shapes for full 43-query
  * coverage (pg_lake_benchmark--3.0.sql:18-64):
  *
  *  - q_click_avg_key       Q4: bare AVG over a key column
  *  - q_click_user_phrase   Q17: two-key group ordered by count
  *  - q_click_title_views   Q38: date-windowed flag-filtered group
  *  - q_click_hash_window   Q41: IN-list + point filter + paged group
  */
object QClick5 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qAvgKey =
    """SELECT round(avg(user_id), 4) AS avg_user FROM events""".stripMargin

  private val qUserPhrase =
    """SELECT user_id, props, count(*) AS c
      |FROM events
      |GROUP BY user_id, props
      |ORDER BY c DESC, user_id, props
      |LIMIT 10""".stripMargin

  private val qTitleViews =
    """SELECT substr(props, 7, 2) AS title, count(*) AS views
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10'
      |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20'
      |  AND event_type <> 'view' AND props <> ''
      |GROUP BY substr(props, 7, 2)
      |ORDER BY views DESC, title
      |LIMIT 10""".stripMargin

  private val qHashWindow =
    """SELECT user_id % 1000 AS uhash,
      |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, count(*) AS views
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
      |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-25'
      |  AND event_type IN ('view', 'click')
      |  AND event_id % 97 = 3
      |GROUP BY user_id % 1000, CAST(CAST(ts AS TIMESTAMP) AS DATE)
      |ORDER BY views DESC, uhash, d
      |LIMIT 10 OFFSET 10""".stripMargin

  private val shared = Map(
    "q_click_avg_key" -> qAvgKey,
    "q_click_user_phrase" -> qUserPhrase,
    "q_click_title_views" -> qTitleViews,
    "q_click_hash_window" -> qHashWindow)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
