package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Q._

/** ClickBench-shaped analytics over the events table — the reference
  * ships the ClickBench harness as benchmark+smoke surface
  * (pg_lake_benchmark--3.0.sql:65-230); these mirror its query shapes
  * (counts, distincts, top-k heavy hitters, time bucketing, quantiles)
  * on the fixture's event stream, plus the remaining small operators:
  * OFFSET, NULLS ordering, interval arithmetic, and the deterministic
  * mode() rewrite.
  */
object QClick extends Batch {

  val queries: Map[String, QueryFn] = Map(
    "q_click_overview" -> { (s, dir) =>
      t(s, dir, "events").agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"),
        round(avg("value"), 6).as("avg_value"),
        round(expr("percentile(value, 0.9)"), 6).as("p90_value"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"))
    },

    "q_click_heavy_hitters" -> { (s, dir) =>
      t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy(desc("n"), col("user_id"))
        .limit(25)
    },

    "q_click_by_type_hour" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"))
        .orderBy("event_type", "h")
    },

    "q_click_daily_active" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(countDistinct(col("user_id")).as("dau"),
          count(lit(1)).as("events"))
        .orderBy("d")
    },

    // per-user session-ish ordering with lag: time since previous event
    "q_click_gaps" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          (col("ts").cast("long") - col("prev_ts").cast("long"))
            .as("gap_s"))
        .orderBy("event_id")
    },

    // OFFSET + NULLS FIRST/LAST ordering (deterministic via keys)
    "q_offset_nulls" -> { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        .orderBy(col("seg").asc_nulls_first, col("c_custkey"))
        .offset(100).limit(50)
    },

    // LIKE with ESCAPE + NOT LIKE
    "q_like_escape" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_orderpriority
        FROM orders
        WHERE replace(o_orderpriority, '-', '_') LIKE '1!_%' ESCAPE '!'
          AND o_orderpriority NOT LIKE '5%'
        ORDER BY o_orderkey LIMIT 100""")
    },

    // interval arithmetic family (operators.c:442-452): interval * int,
    // interval + interval, ts + scaled interval
    "q_interval_ops" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey,
          o_orderdate + INTERVAL 1 DAY * (CAST(o_orderkey AS INT) % 5)
            AS staggered,
          o_orderdate + (INTERVAL 1 HOUR + INTERVAL 30 MINUTE) AS plus90m,
          o_orderdate - INTERVAL 1 WEEK AS minus_wk
        FROM orders WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""")
    },

    // mode() via the deterministic count-desc/value-asc rank rewrite
    // (portable across engines where native mode() tie-breaks differ)
    "q_mode_rewrite" -> { (s, dir) =>
      val counts = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linenumber")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(desc("n"), col("l_linenumber"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("l_linenumber").as("modal_ln"),
          col("n"))
        .orderBy("l_returnflag")
    })

  override val oracleSql: Map[String, String] = Map(
    "q_click_overview" ->
      """SELECT count(*) AS n, count(DISTINCT user_id) AS users,
        |  round(avg(value), 6) AS avg_value,
        |  round(quantile_cont(value, 0.9), 6) AS p90_value,
        |  CAST(min(ts) AS TIMESTAMP) AS first_ts,
        |  CAST(max(ts) AS TIMESTAMP) AS last_ts
        |FROM events""".stripMargin,

    "q_click_heavy_hitters" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id
        |ORDER BY n DESC, user_id LIMIT 25""".stripMargin,

    "q_click_by_type_hour" ->
      """SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS h,
        |  count(*) AS n, count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1, 2 ORDER BY event_type, h""".stripMargin,

    "q_click_daily_active" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
        |  count(DISTINCT user_id) AS dau, count(*) AS events
        |FROM events GROUP BY 1 ORDER BY d""".stripMargin,

    "q_click_gaps" ->
      """SELECT event_id, user_id,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |    - CAST(floor(epoch(CAST(prev_ts AS TIMESTAMP))) AS BIGINT)
        |    AS gap_s
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events)
        |WHERE prev_ts IS NOT NULL ORDER BY event_id""".stripMargin,

    "q_offset_nulls" ->
      """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        |FROM customer
        |ORDER BY seg ASC NULLS FIRST, c_custkey
        |LIMIT 50 OFFSET 100""".stripMargin,

    "q_like_escape" ->
      """SELECT o_orderkey, o_orderpriority
        |FROM orders
        |WHERE replace(o_orderpriority, '-', '_') LIKE '1!_%' ESCAPE '!'
        |  AND o_orderpriority NOT LIKE '5%'
        |ORDER BY o_orderkey LIMIT 100""".stripMargin,

    "q_interval_ops" ->
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 1 DAY * (CAST(o_orderkey AS INT) % 5)
        |    AS staggered,
        |  o_orderdate + (INTERVAL 1 HOUR + INTERVAL 30 MINUTE) AS plus90m,
        |  o_orderdate - INTERVAL 1 WEEK AS minus_wk
        |FROM orders WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_mode_rewrite" ->
      """SELECT l_returnflag, l_linenumber AS modal_ln, n FROM (
        |  SELECT l_returnflag, l_linenumber, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY count(*) DESC, l_linenumber) AS rk
        |  FROM lineitem GROUP BY l_returnflag, l_linenumber)
        |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin)
}
