package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q._

/** Aggregate surface: the reference's shippable aggregate list
  * (pg_lake_engine/src/pgduck/shippable_builtin_functions.c:50-168,286-287,
  * 377-378) — count/avg/sum/min/max/stddev/variance/corr/covar/regr/
  * percentile/bool_and/bool_or/array_agg/any_value — plus FILTER, DISTINCT
  * aggregates, HAVING, and GROUPING SETS / ROLLUP / CUBE
  * (tests/pytests/test_grouping_set_pushdown.py:6-19).
  *
  * All are Spark built-ins (partial/final split + map-side combine come
  * from the HashAggregate physical operator for free).
  */
object QAgg extends Batch {

  val queries: Map[String, QueryFn] = Map(
    // stats aggregates derived from kernel power sums (n, Σx, Σx², Σy,
    // Σy², Σxy): one columnar pass replaces seven Welford-style
    // aggregate buffers. The naive formulas differ from Welford in the
    // last ulps; the declared rounding absorbs it (gate stays EXACT vs
    // the DuckDB oracle — verified, not assumed).
    "q_agg_stats" -> { (s, dir) =>
      import graft.plans.LowCardAgg
      import graft.plans.LowCardAgg.{ProductSum, Term}
      val x = "l_quantity"; val y = "l_extendedprice"
      def m2x = col("_sxx") - col("_sx") * col("_sx") / col("n")
      def m2y = col("_syy") - col("_sy") * col("_sy") / col("n")
      def mxy = col("_sxy") - col("_sx") * col("_sy") / col("n")
      LowCardAgg.sumsByKey(t(s, dir, "lineitem"), Seq("l_returnflag"),
          Seq(ProductSum("_sx", Seq(Term(x))),
            ProductSum("_sxx", Seq(Term(x), Term(x))),
            ProductSum("_sy", Seq(Term(y))),
            ProductSum("_syy", Seq(Term(y), Term(y))),
            ProductSum("_sxy", Seq(Term(x), Term(y)))))
        .withColumnRenamed("cnt", "n")
        .select(col("l_returnflag"),
          round(sqrt(m2x / (col("n") - 1)), 6).as("sd_samp"),
          round(sqrt(m2x / col("n")), 6).as("sd_pop"),
          round(m2x / (col("n") - 1), 6).as("v_samp"),
          round(m2x / col("n"), 6).as("v_pop"),
          round(mxy / sqrt(m2x * m2y), 6).as("cor"),
          round(mxy / (col("n") - 1), 2).as("cov_samp"),
          round(mxy / col("n"), 2).as("cov_pop"),
          col("n"))
        // <= |returnflag| rows: one-task sort, no sampling pass (r18)
        .transform(orderedTiny(_, col("l_returnflag")))
    },

    "q_agg_regr" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_linestatus").agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2)
          .as("icept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("rn"),
        round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6)
          .as("ax"),
        round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 4)
          .as("ay"))
        .orderBy("l_linestatus")
    },

    "q_agg_minmax" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"),
        min("l_linestatus").as("min_status"),
        max("l_linestatus").as("max_status"))
        // <= |returnflag| rows: one-task sort, no sampling pass (r18)
        .transform(orderedTiny(_, col("l_returnflag")))
    },

    "q_agg_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey"), col("l_partkey")).as("nd_ps"),
        round(sum_distinct(col("l_quantity")), 2).as("sumd_qty"),
        count(lit(1)).as("n"))
        // <= |returnflag| rows: one-task sort, no sampling pass (r18)
        .transform(orderedTiny(_, col("l_returnflag")))
    },

    // aggregate FILTER (WHERE ...) — reference ships it
    // (test_window_function_pushdown.py:16); Spark: conditional aggregation
    // over when(), identical null-skipping semantics.
    "q_agg_filter" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_linestatus").agg(
        round(sum(when(col("l_returnflag") === "R", col("l_quantity"))), 2)
          .as("qty_r"),
        count(when(col("l_discount") > 0.05, lit(1))).as("n_disc"),
        round(avg(when(col("l_quantity") > 25, col("l_extendedprice"))), 4)
          .as("avg_big"))
        .orderBy("l_linestatus")
    },

    "q_agg_bool" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") > 0.09).as("any_bigdisc"),
        bool_and(col("l_tax") < 0.05).as("all_lowtax"))
        // <= |returnflag| rows: one-task sort, no sampling pass (r18)
        .transform(orderedTiny(_, col("l_returnflag")))
    },

    // any_value on a functionally-determined group → deterministic
    "q_agg_anyval" -> { (s, dir) =>
      t(s, dir, "customer").groupBy("c_custkey").agg(
        any_value(col("c_name")).as("name"),
        count(lit(1)).as("n"))
        .orderBy("c_custkey")
    },

    // percentile_cont equivalents (ordered-set aggs,
    // shippable_builtin_functions.c:165-168)
    "q_agg_percentile" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        round(expr("percentile(l_quantity, array(0.25, 0.75))")
          .getItem(0), 6).as("p25_qty"),
        round(median(col("l_discount")), 6).as("med_disc"))
        // <= |returnflag| rows: one-task sort, no sampling pass (r18)
        .transform(orderedTiny(_, col("l_returnflag")))
    },

    // PG percentile_disc: the first value whose cume_dist >= f, i.e. the
    // element at 1-based position ceil(f·n) of the sorted group — Spark's
    // native percentile_disc implements exactly this; the oracle emulates
    // it with sorted-array indexing because DuckDB's quantile_disc rounds
    // the position differently (shippable_builtin_functions.c:164-168).
    "q_agg_percentile_disc" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag,
          |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p25,
          |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p50,
          |  percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p90,
          |  percentile_disc(1.0) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p100
          |FROM lineitem
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // PG bare mode() with the engine-defined tie broken deterministically
    // to the LOWEST value (Spark's mode(col, true)); the oracle emulates
    // the same tie-break with a max-count window + min.
    "q_agg_mode" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag,
          |  mode(CAST(l_quantity AS INT) % 10, true) AS mode_bucket,
          |  mode(l_linenumber, true) AS mode_line
          |FROM lineitem
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // array_agg with deterministic (sorted) element order; serialized to a
    // string because the driver's pandas row sort cannot hash ndarray cells
    // (l_quantity is integral in the fixture → lossless BIGINT cast)
    "q_agg_array" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .groupBy("l_orderkey").agg(
          array_join(
            sort_array(collect_list(col("l_quantity").cast("long"))), ",")
            .as("qtys"),
          count(lit(1)).as("n"))
        .orderBy("l_orderkey")
    },

    "q_agg_having" -> { (s, dir) =>
      t(s, dir, "orders").groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    },

    "q_agg_sum_int" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        sum(col("l_linenumber")).as("sum_ln"),
        avg(col("l_linenumber")).as("avg_ln"),
        min(col("l_linenumber")).as("min_ln"),
        max(col("l_linenumber")).as("max_ln"))
        // <= |returnflag| rows: one-task sort, no sampling pass (r18)
        .transform(orderedTiny(_, col("l_returnflag")))
    },

    // rollup/cube through the size-adaptive dispatch: native Expand at
    // fixture scale, finest-first decomposition once the fact's size
    // estimate crosses the measured crossover (ops/Rollup.rollupAuto) —
    // one declaration, right plan at both sf0.1 and sf10. Rounding is
    // applied AFTER the dispatch (rounding inside the aggregate would
    // break the upper levels of the decomposed path).
    "q_rollup" -> { (s, dir) =>
      graft.ops.Rollup.rollupAuto(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(graft.ops.Rollup.sum(col("l_quantity"), "sum_qty"),
            graft.ops.Rollup.count(lit(1), "n")),
          kernelMaxGroups = 64)
        .withColumn("sum_qty", round(col("sum_qty"), 2))
        .withColumnRenamed("grouping_l_returnflag", "g_rf")
        .withColumnRenamed("grouping_l_linestatus", "g_ls")
        .transform(ordered(_, col("g_rf"), col("g_ls"),
          col("l_returnflag"), col("l_linestatus")))
    },

    "q_cube" -> { (s, dir) =>
      graft.ops.Rollup.cubeAuto(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(graft.ops.Rollup.sum(col("l_extendedprice"), "sum_price"),
            graft.ops.Rollup.count(lit(1), "n")),
          kernelMaxGroups = 64)
        .withColumn("sum_price", round(col("sum_price"), 2))
        .withColumnRenamed("grouping_l_returnflag", "g_rf")
        .withColumnRenamed("grouping_l_linestatus", "g_ls")
        .transform(ordered(_, col("g_rf"), col("g_ls"),
          col("l_returnflag"), col("l_linestatus")))
    },

    "q_grouping_sets" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    // finest-level-first ROLLUP/CUBE (ops/Rollup.scala): the fact is
    // aggregated ONCE at the finest grouping (no Expand row
    // multiplication — sf10: cube 1.37 → 0.59 s), upper levels derive
    // from that result via ReuseExchange. Oracle = plain SQL ROLLUP/CUBE:
    // the decomposition must be invisible in the output.
    "q_rollup_finest" -> { (s, dir) =>
      graft.ops.Rollup.rollup(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(graft.ops.Rollup.sum(col("l_quantity"), "sum_qty"),
            graft.ops.Rollup.count(lit(1), "n")))
        .withColumn("sum_qty", round(col("sum_qty"), 2))
        .withColumnRenamed("grouping_l_returnflag", "g_rf")
        .withColumnRenamed("grouping_l_linestatus", "g_ls")
        .transform(ordered(_, col("g_rf"), col("g_ls"),
          col("l_returnflag"), col("l_linestatus")))
    },

    "q_cube_finest" -> { (s, dir) =>
      graft.ops.Rollup.cube(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(graft.ops.Rollup.sum(col("l_extendedprice"), "sum_price"),
            graft.ops.Rollup.count(lit(1), "n")))
        .withColumn("sum_price", round(col("sum_price"), 2))
        .withColumnRenamed("grouping_l_returnflag", "g_rf")
        .withColumnRenamed("grouping_l_linestatus", "g_ls")
        .transform(ordered(_, col("g_rf"), col("g_ls"),
          col("l_returnflag"), col("l_linestatus")))
    })

  override val oracleSql: Map[String, String] = Map(
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_samp,
        |  round(stddev_pop(l_quantity), 6) AS sd_pop,
        |  round(var_samp(l_quantity), 6) AS v_samp,
        |  round(var_pop(l_quantity), 6) AS v_pop,
        |  round(corr(l_quantity, l_extendedprice), 6) AS cor,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_samp,
        |  round(covar_pop(l_quantity, l_extendedprice), 2) AS cov_pop,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_regr" ->
      """SELECT l_linestatus,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS rn,
        |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS ax,
        |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS ay
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_agg_minmax" ->
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        |  min(l_linestatus) AS min_status, max(l_linestatus) AS max_status
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT (l_suppkey, l_partkey)) AS nd_ps,
        |  round(sum(DISTINCT l_quantity), 2) AS sumd_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_filter" ->
      """SELECT l_linestatus,
        |  round(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'), 2) AS qty_r,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  round(avg(l_extendedprice) FILTER (WHERE l_quantity > 25), 4) AS avg_big
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_agg_bool" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS any_bigdisc,
        |  bool_and(l_tax < 0.05) AS all_lowtax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_anyval" ->
      """SELECT c_custkey, any_value(c_name) AS name, count(*) AS n
        |FROM customer GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
        |  round(median(l_discount), 6) AS med_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // PG-exact percentile_disc emulation: sorted-array element at the
    // 1-based position ceil(f·n) (PG's percentile_disc_final rownum).
    "q_agg_percentile_disc" ->
      """SELECT l_returnflag,
        |  (array_agg(l_quantity ORDER BY l_quantity))
        |    [CAST(ceil(0.25 * count(*)) AS BIGINT)] AS p25,
        |  (array_agg(l_quantity ORDER BY l_quantity))
        |    [CAST(ceil(0.5 * count(*)) AS BIGINT)] AS p50,
        |  (array_agg(l_quantity ORDER BY l_quantity))
        |    [CAST(ceil(0.9 * count(*)) AS BIGINT)] AS p90,
        |  (array_agg(l_quantity ORDER BY l_quantity))
        |    [CAST(ceil(1.0 * count(*)) AS BIGINT)] AS p100
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // deterministic mode: min value among the most frequent per group.
    "q_agg_mode" ->
      """SELECT l_returnflag, min(CASE WHEN cb = mcb THEN b END)
        |    AS mode_bucket,
        |  min(CASE WHEN cl = mcl THEN l END) AS mode_line
        |FROM (
        |  SELECT l_returnflag, b, l, cb, cl,
        |    max(cb) OVER (PARTITION BY l_returnflag) AS mcb,
        |    max(cl) OVER (PARTITION BY l_returnflag) AS mcl
        |  FROM (
        |    SELECT l_returnflag, b, l,
        |      count(*) OVER (PARTITION BY l_returnflag, b) AS cb,
        |      count(*) OVER (PARTITION BY l_returnflag, l) AS cl
        |    FROM (SELECT l_returnflag,
        |        CAST(l_quantity AS INT) % 10 AS b,
        |        l_linenumber AS l
        |      FROM lineitem) x) y) z
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_array" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',')
        |    AS qtys,
        |  count(*) AS n
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,

    "q_agg_sum_int" ->
      """SELECT l_returnflag,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
        |  avg(l_linenumber) AS avg_ln,
        |  min(l_linenumber) AS min_ln, max(l_linenumber) AS max_ln
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_rollup_finest" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,

    "q_cube_finest" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)
}
