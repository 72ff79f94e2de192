package graft.queries

import org.apache.spark.sql.functions._

import graft.streaming.StreamIngest
import Q._

/** Map-type surface (native MapType vs the reference's pg_map emulation,
  * SURVEY §2.8) and the event-time windowed rollup (batch execution of
  * the streaming plan — same Catalyst operators).
  */
object QMisc extends Batch {

  val queries: Map[String, QueryFn] = Map(
    "q_fn_map" -> { (s, dir) =>
      val d = t(s, dir, "nation")
      d.select(col("n_nationkey"),
          map(lit("name"), col("n_name"),
              lit("region"), col("n_regionkey").cast("string")).as("m"))
        .select(
          col("n_nationkey"),
          element_at(col("m"), "name").as("m_name"),
          element_at(col("m"), "region").as("m_region"),
          element_at(col("m"), "missing").as("m_missing"),
          // array outputs serialized to strings: the driver's pandas row
          // sort cannot hash ndarray cells
          array_join(sort_array(map_keys(col("m"))), ",").as("ks"),
          size(col("m")).cast("long").as("n_entries"))
        .orderBy("n_nationkey")
    },

    // hourly event rollup — identical plan to the streaming query
    // (StreamIngest.windowedCounts), executed in batch mode
    "q_event_window" -> { (s, dir) =>
      // w_start → NTZ so the written parquet matches the oracle's naive
      // TIMESTAMP (session TZ is UTC; cast is wall-clock identity)
      StreamIngest.windowedCounts(
        t(s, dir, "events"), "ts", "value", "1 hour", "10 minutes")
        .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
        .orderBy("w_start", "event_type")
    },

    // gap-based sessionization (batch form of ops.Sessionize; the
    // streaming flatMapGroupsWithState form is equivalence-tested in
    // SessionizeSpec)
    "q_sessionize" -> { (s, dir) =>
      graft.ops.Sessionize.sessions(
        t(s, dir, "events"), "user_id", "ts", "value")
        .transform(Q.ordered(_, col("user_id"), col("session_start")))
    })

  override val oracleSql: Map[String, String] = Map(
    "q_fn_map" ->
      """SELECT n_nationkey,
        |  map(['name','region'],[n_name, CAST(n_regionkey AS VARCHAR)])['name'][1]
        |    AS m_name,
        |  map(['name','region'],[n_name, CAST(n_regionkey AS VARCHAR)])['region'][1]
        |    AS m_region,
        |  map(['name','region'],[n_name, CAST(n_regionkey AS VARCHAR)])['missing'][1]
        |    AS m_missing,
        |  'name,region' AS ks,
        |  CAST(2 AS BIGINT) AS n_entries
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_event_window" ->
      """SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
        |    AS BIGINT) * 3600 * 1000000) AS w_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |      OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |    THEN 1 ELSE 0 END AS newf
        |  FROM (SELECT *, lag(ts) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |        FROM e)
        |), sess AS (
        |  SELECT *, sum(newf) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS s
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY user_id, s
        |ORDER BY user_id, session_start""".stripMargin)
}
