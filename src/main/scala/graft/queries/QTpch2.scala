package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Q._

/** Second TPC-H-shaped wave (adapted to the trimmed fixture schema) plus
  * the rewrite patterns the reference documents for features DuckDB lacks
  * (FETCH WITH TIES, query_pushdown.c:636-642) or Spark lacks (window
  * EXCLUDE frames — the oracle side uses DuckDB's native EXCLUDE, pinning
  * our rewrite to the real semantics).
  */
object QTpch2 extends Batch {

  val queries: Map[String, QueryFn] = Map(
    // Q4-shape: order priority counting via EXISTS
    "q4_order_priority" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // Q12-shape: shipping mode classification with conditional counts
    "q12_shipmode" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val o = t(s, dir, "orders")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).cast("long").as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).cast("long").as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // Q14-shape: promo revenue share (conditional agg ratio)
    "q14_promo" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      val p = t(s, dir, "part")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("promo_revenue_pct"))
    },

    // Q17-shape: small-quantity revenue vs per-part average (correlated agg)
    "q17_small_qty" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)""")
    },

    // Q18-shape: large orders (IN over grouped HAVING)
    "q18_large_orders" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP)
            AS o_orderdate,
          round(o_totalprice, 2) AS price, round(sum(l_quantity), 2) AS qty
        FROM customer JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY price DESC, o_orderkey LIMIT 50""")
    },

    // Q19-shape: disjunctive multi-predicate join
    "q19_disjunctive" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey") &&
        ((col("p_brand") === "Brand#1" && col("l_quantity").between(1, 15) &&
          col("p_size").between(1, 10)) ||
         (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 25) &&
          col("p_size").between(1, 20)) ||
         (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 35) &&
          col("p_size").between(1, 30))))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    },

    // FETCH FIRST 5 WITH TIES — rank()<=n rewrite (reference blocks the
    // native form; DuckDB oracle uses the same rank formulation)
    "q_with_ties" -> { (s, dir) =>
      val w = Window.orderBy(desc("o_totalprice"))
      t(s, dir, "orders")
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 5)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(desc("price"), col("o_orderkey"))
    },

    // window EXCLUDE CURRENT ROW — Spark rewrite: frame sum minus current;
    // oracle uses DuckDB's native EXCLUDE clause
    "q_win_exclude" -> { (s, dir) =>
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
        .rowsBetween(-3, 3)
      t(s, dir, "lineitem").filter(col("l_orderkey") % 31 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          // sum over an empty set is NULL: when the frame holds only the
          // current row, the excluded sum must be NULL, not 0
          when(count(lit(1)).over(w) === 1, lit(null))
            .otherwise(round(sum(col("l_quantity")).over(w)
              - col("l_quantity"), 2)).as("neighbor_sum"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    // window EXCLUDE GROUP / EXCLUDE TIES — Spark rewrites over a RANGE
    // frame: peers (equal ORDER BY values) always lie inside a RANGE
    // frame whose bounds include offset 0, so EXCLUDE GROUP = frame sum
    // minus the peer-group sum (a second window keyed by the order
    // value), and EXCLUDE TIES adds the current row back. Sums run in
    // integer cents so both engines' arithmetic is exact. Oracle uses
    // DuckDB's native EXCLUDE GROUP/TIES clauses.
    "q_win_exclude_group" -> { (s, dir) =>
      val cents = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
      val wFrame = Window.partitionBy("l_returnflag")
        .orderBy(col("l_quantity")).rangeBetween(-5, 5)
      val wPeers = Window.partitionBy(col("l_returnflag"), col("l_quantity"))
      t(s, dir, "lineitem").filter(col("l_orderkey") % 37 === 0)
        .withColumn("_cents", cents)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          // EXCLUDE GROUP over an all-peer frame is a sum over the empty
          // set → NULL, not 0 (the peer group is always inside a RANGE
          // frame spanning offset 0, so empty ⇔ counts are equal).
          // EXCLUDE TIES always retains the current row, so never NULL.
          when(count(lit(1)).over(wFrame) === count(lit(1)).over(wPeers),
            lit(null))
            .otherwise(sum(col("_cents")).over(wFrame)
              - sum(col("_cents")).over(wPeers)).as("excl_group_cents"),
          (sum(col("_cents")).over(wFrame) - sum(col("_cents")).over(wPeers)
            + col("_cents")).as("excl_ties_cents"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    })

  override val oracleSql: Map[String, String] = Map(
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q12_shipmode" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q14_promo" ->
      """SELECT round(
        |  sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100.0
        |  / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,

    "q17_small_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS price, round(sum(l_quantity), 2) AS qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY price DESC, o_orderkey LIMIT 50""".stripMargin,

    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | AND ((p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 15
        |       AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 25
        |       AND p_size BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 35
        |       AND p_size BETWEEN 1 AND 30))""".stripMargin,

    "q_with_ties" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    rank() OVER (ORDER BY o_totalprice DESC) AS rnk
        |  FROM orders) WHERE rnk <= 5
        |ORDER BY price DESC, o_orderkey""".stripMargin,

    "q_win_exclude" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  round(sum(l_quantity) OVER (
        |    PARTITION BY l_returnflag
        |    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
        |    EXCLUDE CURRENT ROW), 2) AS neighbor_sum
        |FROM lineitem WHERE l_orderkey % 31 = 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_win_exclude_group" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(sum(cents) OVER (
        |    PARTITION BY l_returnflag ORDER BY l_quantity
        |    RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING
        |    EXCLUDE GROUP) AS BIGINT) AS excl_group_cents,
        |  CAST(sum(cents) OVER (
        |    PARTITION BY l_returnflag ORDER BY l_quantity
        |    RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING
        |    EXCLUDE TIES) AS BIGINT) AS excl_ties_cents
        |FROM (
        |  SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem WHERE l_orderkey % 37 = 0)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)
}
