package graft.queries

import Q._

/** ClickBench wave 4 — the remaining distinctive shapes
  * (pg_lake_benchmark--3.0.sql:18-64):
  *
  *  - q_click_minmax_ts    Q6: bare min/max over the time column
  *  - q_click_type_counts  Q7: filtered single-dim group-by, count-desc
  *  - q_click_const_group  Q35: constant in the GROUP BY key list
  *  - q_click_watch_ip     Q33/34: two-key group with count + CASE sum
  *                         + avg over a measure
  *  - q_click_counter_len  Q27: avg(length) per group with HAVING floor
  *  - q_click_dim_pair     Q42: derived dimension pair histogram, paged
  *
  * floor()-based bucketing instead of integer `//` division (DuckDB
  * spells it `//`, Spark `DIV`); deterministic tiebreaks on every LIMIT.
  */
object QClick3 extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val qMinmaxTs =
    """SELECT min(CAST(ts AS TIMESTAMP)) AS min_ts,
      |  max(CAST(ts AS TIMESTAMP)) AS max_ts, count(*) AS n
      |FROM events""".stripMargin

  private val qTypeCounts =
    """SELECT event_type, count(*) AS c
      |FROM events
      |WHERE value > 1
      |GROUP BY event_type
      |ORDER BY c DESC, event_type""".stripMargin

  private val qConstGroup =
    """SELECT 1 AS one, source, count(*) AS c
      |FROM documents
      |GROUP BY 1, source
      |ORDER BY c DESC, source
      |LIMIT 10""".stripMargin

  private val qWatchIp =
    """SELECT event_id % 100 AS w, user_id, count(*) AS c,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS views,
      |  round(avg(value), 4) AS avg_value
      |FROM events
      |GROUP BY event_id % 100, user_id
      |ORDER BY c DESC, w, user_id
      |LIMIT 10""".stripMargin

  private val qCounterLen =
    """SELECT source, round(avg(length(text)), 4) AS l, count(*) AS c
      |FROM documents
      |WHERE text <> ''
      |GROUP BY source
      |HAVING count(*) > 20
      |ORDER BY l DESC, source
      |LIMIT 25""".stripMargin

  private val qDimPair =
    """SELECT CAST(floor(n_chars / 50.0) AS INT) AS w,
      |  CAST(n_chars % 7 AS INT) AS h, count(*) AS c
      |FROM documents
      |GROUP BY CAST(floor(n_chars / 50.0) AS INT),
      |  CAST(n_chars % 7 AS INT)
      |ORDER BY c DESC, w, h
      |LIMIT 10 OFFSET 5""".stripMargin

  private val shared = Map(
    "q_click_minmax_ts" -> qMinmaxTs,
    "q_click_type_counts" -> qTypeCounts,
    "q_click_const_group" -> qConstGroup,
    "q_click_watch_ip" -> qWatchIp,
    "q_click_counter_len" -> qCounterLen,
    "q_click_dim_pair" -> qDimPair)

  val queries: Map[String, QueryFn] =
    shared.map { case (n, q) => n -> sql(q) }

  override val oracleSql: Map[String, String] = shared
}
