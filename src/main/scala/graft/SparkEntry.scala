package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (SURVEY.md §2), one entry per
  * implemented operator; `oracleSql` carries the DuckDB-equivalent SQL for
  * the driver's differential gate. Batches live under [[graft.queries]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  import _root_.graft.{queries => qb}

  /** Every query batch, listed once; each declares its queries and
    * their oracle SQL together. */
  private lazy val registry = qb.Batch.registry(Seq(
    qb.QTpch, qb.QTpch2, qb.QTpch3, qb.QTpch4,
    qb.QTpcds, qb.QTpcds2, qb.QTpcds3, qb.QTpcds4, qb.QTpcds5, qb.QTpcds6,
    qb.QTpcds7, qb.QTpcds8, qb.QTpcds9, qb.QTpcds10, qb.QTpcds11,
    qb.QTpcds12, qb.QTpcds13,
    qb.QTpcdsOfficial, qb.QTpcdsOfficial2, qb.QTpcdsOfficial3,
    qb.QTpcdsOfficial4, qb.QTpcdsOfficial5, qb.QTpcdsOfficial6,
    qb.QTpcdsOfficial7,
    qb.QTypes, qb.QRel, qb.QAgg, qb.QWin, qb.QSub, qb.QFunc, qb.QLake,
    qb.QPipe, qb.QPgShim, qb.QMisc,
    qb.QClick, qb.QClick2, qb.QClick3, qb.QClick4, qb.QClick5, qb.QClick6,
    qb.QGeo, qb.QSearch))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.queries

  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
