package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The one query registry: every query is defined once, in a family
  * module, beside its oracle; the maps the harnesses read derive from it.
  * And no code in `src/main` that nothing but a spec reaches.
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

  /** Defs in `src/main` that no query, ingest path, harness or tool
    * names, kept on purpose.
    */
  private val keptUnreferenced = Map(
    "fetchCached" -> ("the paper's S5 cache stage; its live HTTP client " +
      "is a deployment seam"),
    "parseLegacyEnvelope" -> "the reference's legacy zenodo fixture format",
    "hllDistinct" -> ("the exact-register reference the mergeable HLL " +
      "path is compared against"),
    "writeIvfIndexQ" -> ("writes the tables readIvfIndexQ and " +
      "readIvfIndexQWithDelta read"))

  test("every src/main def is named outside its own declaration") {
    assert(Files.isDirectory(Paths.get("src/main/scala")),
      "run from the repository root")
    def filesUnder(dir: String): Seq[Path] = {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) Nil
      else Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
        .toSeq
    }
    val mainFiles = filesUnder("src/main/scala")
      .filter(_.toString.endsWith(".scala")).toSet
    val lines = (mainFiles.toSeq ++ filesUnder("perfbench/src") ++
        filesUnder("tools")).flatMap { f =>
      new String(Files.readAllBytes(f), "UTF-8").split("\n", -1)
        .zipWithIndex.map { case (l, i) => (s"$f:${i + 1}", mainFiles(f), l) }
    }
    val word = "[A-Za-z0-9_]+".r
    val defName = raw"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)".r
    // name -> the lines it appears on; name -> the lines that declare it
    val seenAt = lines.flatMap { case (at, _, l) =>
      word.findAllIn(l).map(_ -> at) }.groupMap(_._1)(_._2)
    val declaredAt = lines.collect {
      case (at, true, l) if !l.contains("override") => defName
        .findAllMatchIn(l).map(_.group(1) -> at)
    }.flatten.groupMap(_._1)(_._2)
    val unnamed = declaredAt.filter { case (n, at) =>
      seenAt(n).forall(at.contains) }
    val dead = (unnamed -- keptUnreferenced.keySet).toSeq.sortBy(_._1)
      .map { case (n, at) => s"$n (${at.distinct.mkString(", ")})" }
    assert(dead.isEmpty, dead.mkString("named only in specs:\n", "\n", ""))
    // an exemption that is named again, or deleted, leaves the list
    assert(keptUnreferenced.keySet.subsetOf(unnamed.keySet),
      keptUnreferenced.keySet -- unnamed.keySet)
  }
}
