package graft.queries

import Q.QueryFn

/** One batch of gate queries: the query builders and, where the result
  * is SQL-expressible, the DuckDB oracle SQL for the same names. A
  * query with no oracle entry is checked rows-only. */
trait Batch {
  def queries: Map[String, QueryFn]
  def oracleSql: Map[String, String] = Map.empty
}

object Batch {
  final case class Registry(queries: Map[String, QueryFn],
      oracleSql: Map[String, String])

  /** Merge batches into one registry. Fails, naming the query, if two
    * batches declare the same name or an oracle entry has no query. */
  def registry(batches: Seq[Batch]): Registry = {
    val queries = merged(batches.map(_.queries), "query")
    val oracleSql = merged(batches.map(_.oracleSql), "oracle SQL")
    val orphans = (oracleSql.keySet -- queries.keySet).toSeq.sorted
    require(orphans.isEmpty,
      s"oracle SQL without a query: ${orphans.mkString(", ")}")
    Registry(queries, oracleSql)
  }

  private def merged[V](maps: Seq[Map[String, V]], what: String)
      : Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }.toSeq.sorted
    require(dups.isEmpty, s"$what declared twice: ${dups.mkString(", ")}")
    maps.foldLeft(Map.empty[String, V])(_ ++ _)
  }
}
