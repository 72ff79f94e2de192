package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Batch, QTpcdsOfficial7}
import graft.queries.Q.QueryFn

class RegistrySpec extends AnyFunSuite {

  private val noQuery: QueryFn = (_, _) => null

  private def batch(qs: Seq[String], oracle: Seq[String] = Nil): Batch =
    new Batch {
      val queries = qs.map(_ -> noQuery).toMap
      override val oracleSql = oracle.map(q => q -> s"SELECT '$q'").toMap
    }

  test("the registry declares 437 queries, each oracle entry names one") {
    assert(SparkEntry.queries.size == 437)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("rows-only queries are exactly the documented seven") {
    val official = QTpcdsOfficial7.queries.keySet
    assert(official.size == 6 && official.forall(_.startsWith("qds_official_")))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      official + "q_click_group_limit")
  }

  test("a name declared by two batches fails registry construction") {
    val e = intercept[IllegalArgumentException](Batch.registry(Seq(
      batch(Seq("q_a", "q_dup")), batch(Seq("q_b", "q_dup")))))
    assert(e.getMessage.contains("q_dup"), e.getMessage)
    val o = intercept[IllegalArgumentException](Batch.registry(Seq(
      batch(Seq("q_a"), Seq("q_a")), batch(Seq("q_b"), Seq("q_a")))))
    assert(o.getMessage.contains("q_a"), o.getMessage)
  }

  test("an oracle entry without a query fails registry construction") {
    val e = intercept[IllegalArgumentException](Batch.registry(Seq(
      batch(Seq("q_a"), Seq("q_a", "q_orphan")))))
    assert(e.getMessage.contains("q_orphan"), e.getMessage)
  }
}
