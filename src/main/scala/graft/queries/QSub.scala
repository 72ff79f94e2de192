package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q._

/** Subqueries / CTEs: the reference ships whole queries with CTEs,
  * scalar subqueries, IN/EXISTS sublinks, and PG-planner-decorrelated
  * correlated subqueries at the FQ tier (deparse via pg_get_querydef,
  * pg_lake_table/src/fdw/deparse_ruleutils.c:395;
  * tests/pytests/test_cte_subquery_pushdown.py). In Spark these are native
  * SQL — Catalyst decorrelates (RewriteCorrelatedScalarSubquery).
  */
object QSub extends Batch {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  private val cte =
    """WITH cust_orders AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    round(sum(o_totalprice), 2) AS spend
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT c_custkey, c_name, n_orders, spend
      |FROM customer JOIN cust_orders ON c_custkey = o_custkey
      |WHERE n_orders >= 14
      |ORDER BY c_custkey""".stripMargin

  private val scalarSub =
    """SELECT o_orderkey,
      |  round(o_totalprice / (SELECT avg(o_totalprice) FROM orders), 8)
      |    AS price_ratio
      |FROM orders
      |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  private val inSub =
    """SELECT c_custkey, c_nationkey FROM customer
      |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  private val corrScalar =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders o
      |WHERE o_totalprice > 1.8 * (SELECT avg(o2.o_totalprice) FROM orders o2
      |                            WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  private val corrExists =
    """SELECT s_suppkey, s_name FROM supplier s
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
      |                  WHERE l2.l_suppkey = s.s_suppkey AND l2.l_discount > 0.099)
      |ORDER BY s_suppkey""".stripMargin

  private val lateralish =
    """SELECT n_name, top_bal FROM nation JOIN (
      |  SELECT c_nationkey, max(c_acctbal) AS top_bal
      |  FROM customer GROUP BY c_nationkey) t
      |ON n_nationkey = c_nationkey
      |ORDER BY n_name""".stripMargin

  /** q_cte runs as a DataFrame declaration (same semantics as the `cte`
    * SQL the oracle replays) so the build side can come from
    * [[graft.ops.JoinOpt.aggBuildJoin]]: broadcasting the filtered
    * per-customer aggregate instead of the customer dim keeps the
    * expensive aggregate out of the stage the ORDER BY's range-exchange
    * sampling re-executes (sf10: 2.5 → 1.7 s). The other five gates
    * keep the identical-SQL-to-both-engines form — that surface parity
    * is itself under test there. */
  private val cteDf: QueryFn = { (s, dir) =>
    import org.apache.spark.sql.functions._
    val c = graft.Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name")
    // Deliberately the native partial HashAggregate: the ProbeAgg
    // groupByCol kernel was built and MEASURED for this 1.5M-group
    // shape (BASELINE "Round 8 continued", sf10: kernel agg 1.07 s ≡
    // native 1.07 s; full query kernel 2.09–2.38 vs native 1.99
    // in-protocol) — at ~400K
    // groups/task the hash probe, not the row pipeline, dominates both
    // paths, and the query's floor is the exchange + final aggregate of
    // ~13M low-reduction partials (ledger in BASELINE.md). SHUFFLE_HASH
    // and MERGE variants of the join also measured WORSE than building
    // on the filtered aggregate (2.02 / 2.12 vs 1.62).
    val aggF = graft.Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("spend"))
      .filter(col("n_orders") >= 14)
    graft.ops.JoinOpt.aggBuildJoin(c, aggF,
        col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name", "n_orders", "spend")
      // report-sized at gate scale, fact-sized leaves at sf10+: the
      // leaf-dispatched sort keeps the measured range path there (r18)
      .transform(ordered(_, col("c_custkey")))
  }

  val queries: Map[String, QueryFn] = Map(
    "q_cte" -> cteDf,
    "q_subq_scalar" -> sql(scalarSub),
    "q_subq_in" -> sql(inSub),
    "q_subq_corr_scalar" -> sql(corrScalar),
    "q_subq_corr_exists" -> sql(corrExists),
    "q_subq_derived" -> sql(lateralish))

  // Same dialect for both engines — pass the identical SQL to DuckDB.
  override val oracleSql: Map[String, String] = Map(
    "q_cte" -> cte,
    "q_subq_scalar" -> scalarSub,
    "q_subq_in" -> inSub,
    "q_subq_corr_scalar" -> corrScalar,
    "q_subq_corr_exists" -> corrExists,
    "q_subq_derived" -> lateralish)
}
