package graft

import graft.functions.TextKernels
import graft.functions.TextFunctions.valid_doi
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests ported 1:1 from the reference:
  * tests/test_utilities.py, tests/test_metadata.py:90-146, tests/test_dois.py.
  */
class TextKernelsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // only the DOI pattern tests start it: `valid_doi` is a Column
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .appName("text-kernels-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // --- clean_html (tests/test_utilities.py) ---
  test("clean_html strips jats tags") {
    assert(TextKernels.cleanHtml(
      "<jats:title>Abstract</jats:title><jats:p>Beneficiaries</jats:p>") ==
      "AbstractBeneficiaries")
  }
  test("clean_html soft hyphen becomes space") {
    assert(TextKernels.cleanHtml("renewa­ble") == "renewa ble")
  }
  test("clean_html line breaks collapse") {
    assert(TextKernels.cleanHtml(" \n bla\n bla") == "bla bla")
  }
  test("clean_html unescapes entities after NFC") {
    // cross-checked against CPython: the literal &amp;->& replace runs before
    // html.unescape, so the double-escaped form collapses all the way to "&".
    assert(TextKernels.cleanHtml("a &lt;b&gt; c &amp;amp;") == "a <b> c &")
  }

  // --- score_name_similarity (tests/test_metadata.py:90-146) ---
  import TextKernels.scoreNameSimilarity
  test("score identical names == 1.0") {
    assert(scoreNameSimilarity("Will Usher", "Will Usher") == 1.0)
  }
  test("score garbage == 0.0") {
    assert(scoreNameSimilarity("Will Usher", "1298139487(*&^)") == 0.0)
  }
  test("score truncated > 0.8") {
    assert(scoreNameSimilarity("Vignesh Sridha", "Vignesh Sridharan") > 0.8)
  }
  test("score reversed == 1.0") {
    assert(scoreNameSimilarity("Sridharan Vignesh", "Vignesh Sridharan") == 1.0)
  }
  test("score case-insensitive reversed == 1.0") {
    assert(scoreNameSimilarity("Sridharan Vignesh", "VIGNESH Sridharan") == 1.0)
  }
  test("score similar-but-different == 0.65625 exactly") {
    assert(scoreNameSimilarity("James Sridharan", "Vignesh Sridharan") == 0.65625)
  }
  test("score fernandos 1 < 0.8") {
    assert(scoreNameSimilarity("Fernando Antonio Plazas", "Fernando Plazas-Nino") < 0.8)
  }
  test("score fernandos 2 > 0.8") {
    assert(scoreNameSimilarity("Fernando Plazas-Niño", "Fernando Antonio Plazas-Niño") > 0.8)
  }
  test("score fernandos 3 > 0.8") {
    assert(scoreNameSimilarity("Fernando Plazas-Niño", "Fernando Plazas-Nino") > 0.8)
  }
  test("score fernandos 4 > 0.8") {
    assert(scoreNameSimilarity("Fernando ANtonio Plazas", "Fernando Antonio Plazas Nino") > 0.8)
  }

  // --- DOI pattern + normalization (tests/test_dois.py) ---
  val validDois = Seq(
    "10.5281/zenodo.8140241", "10.5281/ZENODO.8140241", "10.5281/zenodo.8141555",
    "10.5281/zenodo.8140100", "10.5281/zenodo.8140153", "10.5281/zenodo.8139242",
    "10.5281/zenodo.8140226", "10.5281/zenodo.8140289")
  val invalidDois = Seq("", "non_empty_string", "10.5281zenodo.8140226", "10.5281/zenodo")

  // the ingest's own pattern: `DoiOps.validate` runs `valid_doi`
  private def validDoi(dois: Seq[String]): Map[String, Boolean] = {
    import spark.implicits._
    dois.toDF("doi").select(col("doi"), valid_doi(col("doi")))
      .as[(String, Boolean)].collect().toMap
  }
  test("valid DOI patterns accepted") {
    validDoi(validDois).foreach { case (d, ok) => assert(ok, d) }
  }
  test("invalid DOI patterns rejected") {
    validDoi(invalidDois).foreach { case (d, ok) => assert(!ok, d) }
  }
  test("DOI normalization raw -> cleaned") {
    val raw = Seq(
      "10.1371/journal.pclm.0000331", "doi.org/10.5281/zenodo.11395843",
      "doi.org/10.5281/zenodo.11396572", "10.5281/zenodo.11396370",
      "https://doi.org/10.5281/zenodo.11395518", "10.5281/zenodo.11395518.",
      "  10.5281/zenodo.11395519  ")
    val cleaned = Seq(
      "10.1371/journal.pclm.0000331", "10.5281/zenodo.11395843",
      "10.5281/zenodo.11396572", "10.5281/zenodo.11396370",
      "10.5281/zenodo.11395518", "10.5281/zenodo.11395518",
      "10.5281/zenodo.11395519")
    raw.zip(cleaned).foreach { case (r, c) =>
      assert(TextKernels.normalizeDoi(r) == c, r)
    }
  }

  // --- split_names (utils.py:26-36) ---
  test("split_names") {
    assert(TextKernels.splitNames("Will Usher") == ("Will", "Usher"))
    assert(TextKernels.splitNames("Fernando Antonio Plazas") == ("Fernando", "Antonio Plazas"))
    assert(TextKernels.splitNames("Cher") == ("", "Cher"))
  }

  // --- python title ---
  test("pythonTitle titles on any non-letter boundary") {
    assert(TextKernels.pythonTitle("plazas-nino") == "Plazas-Nino")
    assert(TextKernels.pythonTitle("HABINSHUTI") == "Habinshuti")
    assert(TextKernels.pythonTitle("o'neill van der berg") == "O'Neill Van Der Berg")
  }

  // difflib ratio sanity on a couple of extra pairs (cross-checked against
  // CPython difflib during development)
  test("ratio extras") {
    assert(TextKernels.ratio("abcd", "bcde") == 0.75)
    assert(TextKernels.ratio("", "") == 1.0)
    assert(TextKernels.ratio("abc", "") == 0.0)
  }
}
