package graft.queries

import graft.functions.PgFunctions
import Q._

/** PG-semantics shim functions through the gate, called via their SQL
  * registration (pg_substring / pg_initcap / to_char / date_bin /
  * pg_date_trunc / sind) — the oracle side emulates the PG behavior with
  * portable DuckDB SQL, mirroring how the reference pins its shims with
  * differential tests (test_expression_pushdown.py).
  */
object QPgShim extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    PgFunctions.registerAll(s)
    s.sql(q)
  }

  val queries: Map[String, QueryFn] = Map(
    "q_pg_text" -> sql(
      """SELECT doc_id,
        |  pg_substring(text, -3, 10) AS sub_neg,
        |  pg_substring(text, 5, 8) AS sub_pos,
        |  pg_initcap(source) AS cap
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin),

    "q_pg_datetime" -> sql(
      """SELECT o_orderkey,
        |  to_char(o_orderdate, 'YYYY-MM-DD') AS iso,
        |  to_char(o_orderdate, 'FMDay') AS dayname,
        |  to_char(o_orderdate, 'Mon YYYY') AS mon_year,
        |  CAST(date_bin(INTERVAL 6 HOUR, o_orderdate, TIMESTAMP '1995-01-01')
        |    AS TIMESTAMP_NTZ) AS bin6h,
        |  CAST(pg_date_trunc('century', o_orderdate) AS TIMESTAMP_NTZ)
        |    AS century,
        |  CAST(pg_date_trunc('decade', o_orderdate) AS TIMESTAMP_NTZ)
        |    AS decade,
        |  round(sind(CAST(o_orderkey % 360 AS DOUBLE)), 10) AS sd
        |FROM orders WHERE o_orderkey % 23 = 0 ORDER BY o_orderkey""".stripMargin),

    // full to_char pattern-table sweep, date tokens (to_char.c:621 chain):
    // padded names, ISO week calendar, week-of-year/month, century,
    // Julian day, Roman months, year tails, comma years, FM modifiers
    "q_pg_tochar" -> sql(
      """SELECT o_orderkey,
        |  to_char(o_orderdate, 'Day') AS day_padded,
        |  to_char(o_orderdate, 'DY, DD Mon YYYY') AS dy_line,
        |  to_char(o_orderdate, 'IYYY-"W"IW-ID') AS iso_week,
        |  to_char(o_orderdate, 'WW/W/D') AS weeks,
        |  to_char(o_orderdate, 'Q CC J') AS q_cc_j,
        |  to_char(o_orderdate, 'Y,YYY FMRM') AS y_rm,
        |  to_char(o_orderdate, 'YYY.YY.Y') AS year_tails,
        |  to_char(o_orderdate, 'FMDD FMMM') AS fm_nums,
        |  to_char(o_orderdate, 'MONTH') AS month_upper
        |FROM orders WHERE o_orderkey % 31 = 0 ORDER BY o_orderkey""".stripMargin),

    // time-of-day tokens over micro-precision events timestamps
    "q_pg_tochar_time" -> sql(
      """SELECT event_id,
        |  to_char(ts, 'HH24:MI:SS.MS') AS hms_ms,
        |  to_char(ts, 'HH12:MI AM') AS twelve,
        |  to_char(ts, 'FMHH12 a.m.') AS twelve_fm,
        |  to_char(ts, 'SSSS') AS secs_midnight,
        |  to_char(ts, 'US') AS micros
        |FROM events WHERE event_id % 37 = 0 ORDER BY event_id""".stripMargin))

  override val oracleSql: Map[String, String] = Map(
    "q_pg_text" ->
      """SELECT doc_id,
        |  substring(text, greatest(-3, 1),
        |    greatest((-3 + 10) - greatest(-3, 1), 0)) AS sub_neg,
        |  substring(text, greatest(5, 1),
        |    greatest((5 + 8) - greatest(5, 1), 0)) AS sub_pos,
        |  upper(left(source, 1)) || lower(substring(source, 2)) AS cap
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin,

    "q_pg_datetime" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso,
        |  strftime(o_orderdate, '%A') AS dayname,
        |  strftime(o_orderdate, '%b %Y') AS mon_year,
        |  make_timestamp(((CAST(epoch(o_orderdate) AS BIGINT)
        |      - CAST(epoch(TIMESTAMP '1995-01-01') AS BIGINT)) // 21600
        |      * 21600 + CAST(epoch(TIMESTAMP '1995-01-01') AS BIGINT))
        |    * 1000000) AS bin6h,
        |  CAST(CAST((CAST(extract(year FROM o_orderdate) AS BIGINT) - 1)
        |      // 100 * 100 + 1 AS VARCHAR) || '-01-01' AS TIMESTAMP)
        |    AS century,
        |  CAST(CAST(CAST(extract(year FROM o_orderdate) AS BIGINT)
        |      // 10 * 10 AS VARCHAR) || '-01-01' AS TIMESTAMP) AS decade,
        |  round(sin(radians(CAST(o_orderkey % 360 AS DOUBLE))), 10) AS sd
        |FROM orders WHERE o_orderkey % 23 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_pg_tochar" ->
      """SELECT o_orderkey,
        |  rpad(strftime(o_orderdate, '%A'), 9, ' ') AS day_padded,
        |  upper(strftime(o_orderdate, '%a')) || ', '
        |    || strftime(o_orderdate, '%d %b %Y') AS dy_line,
        |  lpad(CAST(isoyear(o_orderdate) AS VARCHAR), 4, '0') || '-W'
        |    || lpad(CAST(weekofyear(o_orderdate) AS VARCHAR), 2, '0') || '-'
        |    || CAST(isodow(o_orderdate) AS VARCHAR) AS iso_week,
        |  lpad(CAST((dayofyear(o_orderdate) - 1) // 7 + 1 AS VARCHAR), 2, '0')
        |    || '/' || CAST((dayofmonth(o_orderdate) - 1) // 7 + 1 AS VARCHAR)
        |    || '/' || CAST(dayofweek(o_orderdate) + 1 AS VARCHAR) AS weeks,
        |  CAST(quarter(o_orderdate) AS VARCHAR) || ' '
        |    || lpad(CAST((extract(year FROM o_orderdate) - 1) // 100 + 1
        |         AS VARCHAR), 2, '0') || ' '
        |    || CAST(date_diff('day', DATE '1970-01-01',
        |         CAST(o_orderdate AS DATE)) + 2440588 AS VARCHAR) AS q_cc_j,
        |  format('{:,}', CAST(extract(year FROM o_orderdate) AS BIGINT))
        |    || ' ' || (['I','II','III','IV','V','VI','VII','VIII','IX','X',
        |         'XI','XII'])[CAST(extract(month FROM o_orderdate) AS INT)]
        |    AS y_rm,
        |  lpad(CAST(extract(year FROM o_orderdate) % 1000 AS VARCHAR), 3, '0')
        |    || '.' || lpad(CAST(extract(year FROM o_orderdate) % 100
        |         AS VARCHAR), 2, '0')
        |    || '.' || CAST(extract(year FROM o_orderdate) % 10 AS VARCHAR)
        |    AS year_tails,
        |  CAST(dayofmonth(o_orderdate) AS VARCHAR) || ' '
        |    || CAST(CAST(extract(month FROM o_orderdate) AS INT) AS VARCHAR)
        |    AS fm_nums,
        |  rpad(upper(strftime(o_orderdate, '%B')), 9, ' ') AS month_upper
        |FROM orders WHERE o_orderkey % 31 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_pg_tochar_time" ->
      """SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S.')
        |    || substr(strftime(CAST(ts AS TIMESTAMP), '%f'), 1, 3) AS hms_ms,
        |  strftime(CAST(ts AS TIMESTAMP), '%I:%M ')
        |    || CASE WHEN extract(hour FROM CAST(ts AS TIMESTAMP)) < 12
        |       THEN 'AM' ELSE 'PM' END AS twelve,
        |  CAST(CAST(strftime(CAST(ts AS TIMESTAMP), '%I') AS INT) AS VARCHAR)
        |    || ' ' || CASE WHEN extract(hour FROM CAST(ts AS TIMESTAMP)) < 12
        |       THEN 'a.m.' ELSE 'p.m.' END AS twelve_fm,
        |  CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) * 3600
        |    + extract(minute FROM CAST(ts AS TIMESTAMP)) * 60
        |    + extract(second FROM CAST(ts AS TIMESTAMP)) AS VARCHAR)
        |    AS secs_midnight,
        |  strftime(CAST(ts AS TIMESTAMP), '%f') AS micros
        |FROM events WHERE event_id % 37 = 0 ORDER BY event_id""".stripMargin)
}
