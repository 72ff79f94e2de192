package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Q._

/** Window-function surface: the reference's shippable window list
  * (shippable_builtin_functions.c:381-395 — rank/row_number/dense_rank/
  * percent_rank/cume_dist/ntile/lag/lead/first/last/nth_value) plus
  * aggregates-over-windows and ROWS/RANGE frames, exercised exhaustively in
  * tests/pytests/test_window_function_pushdown.py:6-37.
  *
  * Subsampled via `l_orderkey % 11 = 0` (deterministic, pushdown-friendly)
  * to keep verify output modest. Ordering keys are unique wherever the
  * function is order-sensitive (row_number/ntile/lag/lead/frames); ties are
  * only allowed under tie-stable functions (rank/dense_rank/percent_rank/
  * cume_dist).
  */
object QWin extends Batch {

  private def li(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_orderkey") % 11 === 0)

  private val uniq = Seq(col("l_orderkey"), col("l_linenumber"),
    col("l_partkey"), col("l_suppkey"))

  val queries: Map[String, QueryFn] = Map(
    // tie-stable ranking over a non-unique order
    // value-determined ranking over a ~50-distinct order key: computed
    // from the (flag, quantity) frequency table and broadcast-joined
    // back (ops/RankStats) — the fact is scanned once and never
    // shuffled into the 3-task window sort; self-guards back to the
    // classic window above 100K distinct tuples
    "q_win_rank" -> { (s, dir) =>
      graft.ops.RankStats.lowCardRanks(
          li(s, dir).select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity"),
          "l_returnflag", Seq("l_quantity"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          col("rnk"), col("drnk"),
          round(col("prnk"), 8).as("prnk"),
          round(col("cdist"), 8).as("cdist"))
        .transform(ordered(_, col("l_orderkey"), col("l_linenumber")))
    },

    // forced-rewrite twin of q_win_rank: the frequency-table path under
    // the DuckDB oracle at fixture scale (the size dispatch would run
    // the classic window here; RankStatsSpec pins equivalence, this
    // puts the rewrite itself under the oracle)
    "q_win_rank_freq" -> { (s, dir) =>
      graft.ops.RankStats.lowCardRanks(
          li(s, dir).select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity"),
          "l_returnflag", Seq("l_quantity"), auto = false)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          col("rnk"), col("drnk"),
          round(col("prnk"), 8).as("prnk"),
          round(col("cdist"), 8).as("cdist"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // order-sensitive ranking over a unique order
    "q_win_rownum" -> { (s, dir) =>
      val w = Window.partitionBy("l_returnflag").orderBy(uniq: _*)
      li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    "q_win_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy("l_returnflag").orderBy(uniq: _*)
      li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"),
        lag(col("l_quantity"), 2, -1.0).over(w).as("prev2_qty"),
        lead(col("l_quantity"), 1).over(w).as("next_qty"),
        lead(col("l_quantity"), 3, 0.0).over(w).as("next3_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    "q_win_first_last" -> { (s, dir) =>
      val w = Window.partitionBy("l_returnflag").orderBy(uniq: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        first(col("l_quantity")).over(w).as("first_qty"),
        last(col("l_quantity")).over(w).as("last_qty"),
        nth_value(col("l_quantity"), 3).over(w).as("third_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ROWS frames: trailing window + running total. PARTITION BY a
    // 3-value key funnels the whole table into 3 window tasks (60M rows
    // sort on 3 cores at sf10, any scale on 3 executors) — routed
    // through BigWindow.frameStats: one shared range-blocked layout
    // computes all three frames cluster-wide; carries fill the
    // cross-block frame positions and a metadata-sized offsets relation
    // lifts the local prefix to the global running sum. Exact here
    // because l_quantity is integer-valued (sums associate exactly);
    // the oracle replays the classic serial window.
    "q_win_frame_rows" -> { (s, dir) =>
      val base = li(s, dir).select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_returnflag", "l_quantity")
      graft.ops.BigWindow.frameStats(base, "l_returnflag",
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          "l_quantity", trail = 3, fwd = 3)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("_trail"), 2).as("trail3"),
          round(col("_run"), 2).as("running"),
          round(col("_fsum") / col("_fcnt"), 6).as("fwd_avg"))
        .transform(ordered(_, col("l_orderkey"), col("l_linenumber")))
    },

    // forced-distributed twin of q_win_frame_rows: the single-exchange
    // FrameStats operator under the DuckDB oracle at fixture scale
    "q_win_frame_dist" -> { (s, dir) =>
      val base = li(s, dir).select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_returnflag", "l_quantity")
      val key = "spark.graft.bigwindow.autoThreshold"
      val old = s.conf.getOption(key)
      s.conf.set(key, "1")
      try {
        graft.ops.BigWindow.frameStats(base, "l_returnflag",
            Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
            "l_quantity", trail = 3, fwd = 3)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            round(col("_trail"), 2).as("trail3"),
            round(col("_run"), 2).as("running"),
            round(col("_fsum") / col("_fcnt"), 6).as("fwd_avg"))
          .orderBy("l_orderkey", "l_linenumber")
      } finally old match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    },

    // RANGE frame with a numeric offset over the ordering key
    "q_win_frame_range" -> { (s, dir) =>
      val w = Window.partitionBy("l_linenumber").orderBy(col("l_orderkey"))
        .rangeBetween(-220, 0)
      li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 2).as("range_sum"),
        count(lit(1)).over(w).as("range_n"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // aggregate-over-window + share-of-partition composition
    "q_win_share" -> { (s, dir) =>
      val w = Window.partitionBy("l_returnflag")
      li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(sum(col("l_extendedprice")).over(w), -2).as("flag_total"),
        round(col("l_extendedprice") / sum(col("l_extendedprice")).over(w), 8)
          .as("share"),
        count(lit(1)).over(w).as("flag_n"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // window over an aggregated relation (window-after-group composition)
    "q_win_over_agg" -> { (s, dir) =>
      val agg = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(desc("sum_qty"), col("l_linestatus"))
      agg.select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        rank().over(w).as("rnk_in_flag"))
        .orderBy("l_returnflag", "l_linestatus")
    })

  private val where = "WHERE l_orderkey % 11 = 0"

  override val oracleSql: Map[String, String] = Map(
    "q_win_rank" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         |  rank() OVER w AS rnk,
         |  dense_rank() OVER w AS drnk,
         |  round(percent_rank() OVER w, 8) AS prnk,
         |  round(cume_dist() OVER w, 8) AS cdist
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_rank_freq" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         |  rank() OVER w AS rnk,
         |  dense_rank() OVER w AS drnk,
         |  round(percent_rank() OVER w, 8) AS prnk,
         |  round(cume_dist() OVER w, 8) AS cdist
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_rownum" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  row_number() OVER w AS rn,
         |  ntile(4) OVER w AS quartile
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_lag_lead" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  lag(l_quantity, 1) OVER w AS prev_qty,
         |  lag(l_quantity, 2, -1.0) OVER w AS prev2_qty,
         |  lead(l_quantity, 1) OVER w AS next_qty,
         |  lead(l_quantity, 3, 0.0) OVER w AS next3_qty
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_first_last" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  first_value(l_quantity) OVER w AS first_qty,
         |  last_value(l_quantity) OVER w AS last_qty,
         |  nth_value(l_quantity, 3) OVER w AS third_qty
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_frame_rows" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  round(sum(l_quantity) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS trail3,
         |  round(sum(l_quantity) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running,
         |  round(avg(l_quantity) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING), 6) AS fwd_avg
         |FROM lineitem $where
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_frame_dist" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  round(sum(l_quantity) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS trail3,
         |  round(sum(l_quantity) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running,
         |  round(avg(l_quantity) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING), 6) AS fwd_avg
         |FROM lineitem $where
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_frame_range" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  round(sum(l_quantity) OVER w, 2) AS range_sum,
         |  count(*) OVER w AS range_n
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_linenumber ORDER BY l_orderkey
         |             RANGE BETWEEN 220 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_share" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  round(sum(l_extendedprice) OVER w, -2) AS flag_total,
         |  round(l_extendedprice / sum(l_extendedprice) OVER w, 8) AS share,
         |  count(*) OVER w AS flag_n
         |FROM lineitem $where
         |WINDOW w AS (PARTITION BY l_returnflag)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_win_over_agg" ->
      """SELECT l_returnflag, l_linestatus, sum_qty,
        |  rank() OVER (PARTITION BY l_returnflag
        |               ORDER BY sum_qty DESC, l_linestatus) AS rnk_in_flag
        |FROM (SELECT l_returnflag, l_linestatus,
        |        round(sum(l_quantity), 2) AS sum_qty
        |      FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
}
