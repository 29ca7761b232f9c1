package graft.functions

import java.text.Normalizer
import java.util.Locale

import org.apache.commons.text.StringEscapeUtils

import scala.collection.mutable

/** Pure (JVM-static-callable) text kernels.
  *
  * Semantics follow the reference pipeline exactly where golden-tested:
  *  - cleanHtml: reference `src/research_index_backend/utils.py:8-23`
  *  - splitNames: reference `utils.py:26-36`
  *  - normalizeDoi: reference `doi.py:97-103`
  *  - ratio / scoreNameSimilarity: reference `create_graph_from_doi.py:68-101`
  *    (CPython difflib.SequenceMatcher.ratio Ratcliff-Obershelp, pinned by
  *    golden floats in reference `tests/test_metadata.py:90-146`, e.g. 0.65625)
  *
  * Methods are kept on a top-level object so Scala emits static forwarders:
  * the Catalyst expressions in [[graft.functions]] codegen direct static calls
  * and stay inside whole-stage codegen.
  */
object TextKernels {

  private val TagRe = "<.*?>".r.pattern

  /** Strip HTML markup and normalize UTF-8, exactly as the reference does.
    * Order of operations matters and is golden-tested.
    */
  def cleanHtml(raw: String): String = {
    if (raw == null) return null
    val noTags = TagRe.matcher(raw).replaceAll("")
    val cleaned = noTags
      .replace("\n", " ")
      .replace("\u00a0", " ") // nbsp
      .replace("\u00ad", " ") // soft hyphen -> space (NOT deleted)
      .replace("\ufffd", " ") // replacement char
      .replace("&amp;", "&")
      .replace("\u202f", " ") // narrow nbsp
      .replace("    ", " ")
      .replace("   ", " ")
      .replace("  ", " ")
      .strip()
    // reference: unescape(normalize("NFC", cleantext)) — NFC first, then
    // entity unescape. HTML4 entity coverage (commons-text) suffices for the
    // corpus; HTML5-only names (e.g. &planck;) are a documented divergence.
    StringEscapeUtils.unescapeHtml4(Normalizer.normalize(cleaned, Normalizer.Form.NFC))
  }

  /** Split "First [Middle ...] Last"-ish names like the reference:
    * 1 token -> ("", name); 2 -> (first, last); >2 -> (first, rest joined).
    * (The reference's 1-token branch returns the raw list — a latent bug; we
    * implement the documented intent and return the single token as last.)
    */
  def splitNames(name: String): (String, String) = {
    val names = name.split(" ", -1)
    if (names.length == 1) ("", names(0))
    else if (names.length == 2) (names(0), names(1))
    else (names(0), names.drop(1).mkString(" "))
  }

  /** DOI normalization: trim, drop trailing dots, strip doi.org prefixes.
    * Mirrors the reference (strip -> rstrip('.') -> replace both literals).
    */
  def normalizeDoi(doi: String): String = {
    if (doi == null) return null
    var s = doi.strip()
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '.') end -= 1
    s = s.substring(0, end)
    s.replace("https://doi.org/", "").replace("doi.org/", "")
  }

  /** Python str.title(): capitalize the first letter of every run of cased
    * characters, lowercase the rest. (NOT Spark initcap — Python titles on
    * ANY non-letter boundary: "plazas-nino" -> "Plazas-Nino".)
    */
  def pythonTitle(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length)
    var prevCased = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val cased = Character.isLetter(cp)
      val out =
        if (cased && !prevCased) Character.toTitleCase(cp)
        else if (cased) Character.toLowerCase(cp)
        else cp
      sb.appendCodePoint(out)
      prevCased = cased
      i += Character.charCount(cp)
    }
    sb.toString
  }

  // -------------------------------------------------------------------------
  // difflib.SequenceMatcher.ratio() — faithful port over code points.
  // -------------------------------------------------------------------------

  private def codePoints(s: String): Array[Int] = s.codePoints().toArray

  /** b2j with CPython's autojunk "popular" heuristic (len(b) >= 200). */
  private def chainB(b: Array[Int]): mutable.LongMap[Array[Int]] = {
    val b2j = new mutable.LongMap[mutable.ArrayBuffer[Int]]()
    var j = 0
    while (j < b.length) {
      b2j.getOrElseUpdate(b(j).toLong, mutable.ArrayBuffer.empty[Int]) += j
      j += 1
    }
    if (b.length >= 200) {
      val ntest = b.length / 100 + 1
      val popular = b2j.filter(_._2.length > ntest).keys.toArray
      popular.foreach(b2j.remove)
    }
    b2j.map { case (k, v) => (k, v.toArray) } // ascending j per key
  }

  /** Longest matching block in a[alo,ahi) x b[blo,bhi), CPython tie-breaking
    * (earliest i, then earliest j), plus the non-junk extension loops. The
    * reference passes isjunk=None so the junk extension loops are no-ops.
    */
  private def findLongestMatch(
      a: Array[Int], b: Array[Int], b2j: mutable.LongMap[Array[Int]],
      alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
    var besti = alo; var bestj = blo; var bestsize = 0
    var j2len = new mutable.LongMap[Int]()
    var i = alo
    while (i < ahi) {
      val newj2len = new mutable.LongMap[Int]()
      b2j.get(a(i).toLong) match {
        case Some(js) =>
          var idx = 0
          var break = false
          while (idx < js.length && !break) {
            val j = js(idx)
            if (j >= bhi) break = true
            else if (j >= blo) {
              val k = j2len.getOrElse((j - 1).toLong, 0) + 1
              newj2len.update(j.toLong, k)
              if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
            }
            idx += 1
          }
        case None =>
      }
      j2len = newj2len
      i += 1
    }
    while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) {
      besti -= 1; bestj -= 1; bestsize += 1
    }
    while (besti + bestsize < ahi && bestj + bestsize < bhi &&
           a(besti + bestsize) == b(bestj + bestsize)) {
      bestsize += 1
    }
    (besti, bestj, bestsize)
  }

  /** Sum of matching-block sizes (order of discovery is CPython's LIFO queue;
    * the tie-breaking above makes block choice — and therefore the sum —
    * bit-identical to difflib).
    */
  private def totalMatches(a: Array[Int], b: Array[Int]): Int = {
    val b2j = chainB(b)
    var matches = 0
    val queue = mutable.Stack((0, a.length, 0, b.length))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, j, k) = findLongestMatch(a, b, b2j, alo, ahi, blo, bhi)
      if (k > 0) {
        matches += k
        if (alo < i && blo < j) queue.push((alo, i, blo, j))
        if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
      }
    }
    matches
  }

  /** difflib.SequenceMatcher(None, a, b).ratio() */
  def ratio(a: String, b: String): Double = {
    val ca = codePoints(a); val cb = codePoints(b)
    val t = ca.length + cb.length
    if (t == 0) 1.0 else 2.0 * totalMatches(ca, cb) / t
  }

  /** Reference `score_name_similarity` (create_graph_from_doi.py:68-101):
    * lowercase+trim, ratio; on <= threshold retry with word-reversed first
    * name; on still <= threshold return the mean of the two ratios.
    */
  def scoreNameSimilarity(nameResults: String, nameAuthor: String,
                          threshold: Double): Double = {
    def clean(s: String) = s.strip().toLowerCase(Locale.ROOT)
    val a = clean(nameResults)
    val b = clean(nameAuthor)
    val ratioA = ratio(a, b)
    if (ratioA > threshold) ratioA
    else {
      val inv = a.split(" ", -1).reverse.mkString(" ")
      val ratioB = ratio(inv, b)
      if (ratioB > threshold) ratioB else (ratioA + ratioB) / 2.0
    }
  }

  def scoreNameSimilarity(a: String, b: String): Double =
    scoreNameSimilarity(a, b, 0.8)

  /** difflib `SequenceMatcher.quick_ratio()` over the SAME cleaned inputs
    * [[scoreNameSimilarity]] scores — a PROVEN upper bound on its result:
    * quick_ratio = 2·Σ_c min(countA(c), countB(c)) / (|a|+|b|) ≥ ratio
    * (matched blocks consume characters from both multisets), and the
    * word-reversed retry preserves char multisets (split on spaces +
    * single-space rejoin permutes tokens, never characters), so the bound
    * covers ratioA, ratioB, and their mean alike. O(|a|+|b|) versus the
    * matcher's quadratic-with-autojunk — the cheap gate difflib itself
    * recommends running first; [[graft.ops.Joins.blockedFuzzyJoin]] uses
    * it to discard non-candidates before the exact kernel.
    */
  def nameSimilarityUpper(nameResults: String, nameAuthor: String): Double = {
    def clean(s: String) = s.strip().toLowerCase(Locale.ROOT)
    val ca = codePoints(clean(nameResults))
    val cb = codePoints(clean(nameAuthor))
    val t = ca.length + cb.length
    if (t == 0) 1.0
    else {
      val counts = new java.util.HashMap[Int, Int]()
      var i = 0
      while (i < cb.length) { counts.merge(cb(i), 1, Integer.sum _); i += 1 }
      var m = 0
      i = 0
      while (i < ca.length) {
        val n = counts.getOrDefault(ca(i), 0)
        if (n > 0) { m += 1; counts.put(ca(i), n - 1) }
        i += 1
      }
      2.0 * m / t
    }
  }
}
