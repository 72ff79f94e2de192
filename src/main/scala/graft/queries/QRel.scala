package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Q._

/** Relational operator matrix: projection/filter/distinct/case, the five
  * join shapes the reference's FDW tier ships (INNER/LEFT/RIGHT/FULL/SEMI
  * — pg_lake_table/src/fdw/pg_lake_table.c:3892-3894) plus ANTI/CROSS
  * (FQ tier), and set operations
  * (tests/pytests/test_set_operation_pushdown.py:6-23).
  */
object QRel extends Batch {

  val queries: Map[String, QueryFn] = Map(
    // projection + compound predicate (AND/OR/NOT/IN/BETWEEN); all pushed
    // into the parquet scan (PushedFilters in explain).
    "q_proj_filter" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_shipdate")
        .filter((col("l_returnflag").isin("A", "R") &&
                 col("l_quantity").between(10, 20) &&
                 !(col("l_linenumber") === 1)) ||
                col("l_quantity") > 49)
        .orderBy("l_orderkey", "l_linenumber")
    },

    "q_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // DISTINCT ON (l_orderkey) ... ORDER BY l_shipdate: the row_number()==1
    // rewrite the reference also relies on DuckDB for.
    "q_distinct_on" -> { (s, dir) =>
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_shipdate"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey")
    },

    // CASE / NULLIF / COALESCE / IS NULL / IS DISTINCT FROM (PG 3VL —
    // deparseDistinctExpr deparse.c:3096 → Spark <=> negation).
    "q_case_null" -> { (s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("bal_class"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("<b>"))
            .as("seg_coalesced"),
          nullif(col("c_mktsegment"), lit("BUILDING")).isNull.as("is_building"),
          (!(nullif(col("c_mktsegment"), lit("BUILDING")) <=> lit("MACHINERY")))
            .as("distinct_from_machinery"))
        .orderBy("c_custkey")
    },

    "q_join_inner" -> { (s, dir) =>
      t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .transform(ordered(_, col("o_orderkey")))
    },

    // left join with genuinely unmatched rows (filtered right side)
    "q_join_left" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      t(s, dir, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"))
        .orderBy("o_orderkey")
    },

    "q_join_right" -> { (s, dir) =>
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
      o.join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey"), col("o_orderkey"))
    },

    "q_join_full" -> { (s, dir) =>
      val hi = t(s, dir, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_custkey"), col("c_acctbal"))
      val lo = t(s, dir, "customer").filter(col("c_acctbal") < 1000)
        .select(col("c_custkey").as("k2"), col("c_acctbal").as("bal2"))
      hi.join(lo, col("c_custkey") === col("k2"), "full")
        .orderBy(col("c_custkey"), col("k2"))
    },

    // SEMI join — the reference deparses as EXISTS (deparse.c:1899-1971)
    "q_join_semi" -> { (s, dir) =>
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ANTI join — NOT EXISTS at the FQ tier
    "q_join_anti" -> { (s, dir) =>
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    "q_join_cross" -> { (s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    },

    // theta join: equi key + inequality residual
    "q_join_theta" -> { (s, dir) =>
      t(s, dir, "supplier").join(t(s, dir, "customer"),
          col("s_nationkey") === col("c_nationkey") &&
          col("s_acctbal") > col("c_acctbal") + 4000)
        .select("s_suppkey", "c_custkey")
        .orderBy("s_suppkey", "c_custkey")
    },

    "q_union_all" -> { (s, dir) =>
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nk"), lit("c").as("side"))
      val sup = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nk"), lit("s").as("side"))
      c.unionAll(sup).groupBy("nk", "side").agg(count(lit(1)).as("n"))
        .orderBy("nk", "side")
    },

    "q_union_distinct" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.union(sup).distinct().orderBy("nk")
    },

    // PG INTERSECT/EXCEPT are set-semantics = Spark intersect/except
    "q_intersect" -> { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nk"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      a.intersect(b).orderBy("nk")
    },

    "q_except" -> { (s, dir) =>
      val a = t(s, dir, "nation").select(col("n_nationkey").as("nk"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      a.except(b).orderBy("nk")
    })

  override val oracleSql: Map[String, String] = Map(
    "q_proj_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
        |FROM lineitem
        |WHERE (l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 20
        |       AND NOT (l_linenumber = 1)) OR l_quantity > 49
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",

    "q_distinct_on" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_orderkey, l_linenumber, l_shipdate,
        |    row_number() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_shipdate, l_linenumber,
        |                                l_partkey, l_suppkey) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "q_case_null" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_class,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '<b>') AS seg_coalesced,
        |  nullif(c_mktsegment, 'BUILDING') IS NULL AS is_building,
        |  nullif(c_mktsegment, 'BUILDING') IS DISTINCT FROM 'MACHINERY'
        |    AS distinct_from_machinery
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_left" ->
      """SELECT o_orderkey, c_custkey, c_name
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        |  ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_right" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice > 100000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin,

    "q_join_full" ->
      """SELECT hi.c_custkey, hi.c_acctbal, lo.k2, lo.bal2
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 8000) hi
        |FULL JOIN (SELECT c_custkey AS k2, c_acctbal AS bal2 FROM customer
        |           WHERE c_acctbal < 1000) lo
        |  ON hi.c_custkey = lo.k2
        |ORDER BY hi.c_custkey, lo.k2""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY 1, 2",

    "q_join_theta" ->
      """SELECT s_suppkey, c_custkey
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal + 4000
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "q_union_all" ->
      """SELECT nk, side, count(*) AS n FROM (
        |  SELECT c_nationkey AS nk, 'c' AS side FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nk, 's' AS side FROM supplier)
        |GROUP BY nk, side ORDER BY nk, side""".stripMargin,

    "q_union_distinct" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,

    "q_intersect" ->
      """SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000
        |INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,

    "q_except" ->
      """SELECT n_nationkey AS nk FROM nation
        |EXCEPT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin)
}
