package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The one query registry: every query is defined once, in a family
  * module, beside its oracle; the maps the harnesses read derive from it.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val noBuild: (SparkSession, String) => DataFrame = (_, _) => null

  test("a name defined twice is rejected") {
    val a = QueryDef("q_a", noBuild, Sql("SELECT 1"))
    val b = QueryDef("q_b", noBuild, NoOracle("model state"))
    val e = intercept[IllegalArgumentException](
      QueryDef.index(Seq(a, b, a.copy(oracle = BenchOnly("twin")))))
    assert(e.getMessage.contains("q_a"))
    assert(QueryDef.index(Seq(a, b)).keySet == Set("q_a", "q_b"))
  }

  test("251 gated queries, 6 bench-only queries, 241 SQL oracles") {
    assert(SparkEntry.queries.size == 251)
    assert(SparkEntry.benchOnly.size == 6)
    assert(SparkEntry.oracleSql.size == 241)
    assert(SparkEntry.registry.values.count(_.oracle.isInstanceOf[Sql]) == 241)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the queries without an oracle are exactly the stated ten") {
    val none = SparkEntry.registry.values.collect {
      case QueryDef(n, _, NoOracle(reason), _) => n -> reason
    }.toMap
    assert(none.keySet == Set("q_ann_ivf_build", "q_compression_signal",
      "q_fuzzy_clusters", "q_fuzzy_join", "q_image_neardup", "q_ivfpq_probe",
      "q_name_similarity", "q_nsw_probe", "q_unigram_encode",
      "q_unigram_pieces"))
    assert(none.values.forall(_.trim.nonEmpty))
  }

  test("bench-only queries are disjoint from the gated ones") {
    assert(SparkEntry.benchOnly.keySet.intersect(SparkEntry.queries.keySet)
      .isEmpty)
    assert(SparkEntry.registry.values.forall {
      case QueryDef(_, _, BenchOnly(reason), _) => reason.trim.nonEmpty
      case _ => true
    })
  }

  test("Bench's discontinuities name registered queries") {
    assert(Bench.DISCONTINUITIES.size == 24)
    assert(Bench.DISCONTINUITIES.keySet.subsetOf(SparkEntry.registry.keySet))
  }
}
