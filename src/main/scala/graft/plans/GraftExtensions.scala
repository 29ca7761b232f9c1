package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Engine-level integration: `spark.sql.extensions=graft.plans.GraftExtensions`
  * registers graft's optimizer rules (and is the place future custom
  * strategies/functions plug in) — users keep writing plain declarative
  * joins and the engine substitutes the scale-correct plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import graft.functions.{CleanHtml, NameSimilarity, NormalizeDoi, PythonTitle}

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // SQL-callable kernel expressions, injected at session build so every
    // extension-configured session (including thrift/connect ones that
    // never touch the Scala API) gets them
    def info(name: String, clazz: Class[_]) =
      new ExpressionInfo(clazz.getName, name)
    ext.injectFunction((FunctionIdentifier("clean_html"),
      info("clean_html", classOf[CleanHtml]),
      (es: Seq[Expression]) => CleanHtml(es.head)))
    ext.injectFunction((FunctionIdentifier("normalize_doi"),
      info("normalize_doi", classOf[NormalizeDoi]),
      (es: Seq[Expression]) => NormalizeDoi(es.head)))
    ext.injectFunction((FunctionIdentifier("python_title"),
      info("python_title", classOf[PythonTitle]),
      (es: Seq[Expression]) => PythonTitle(es.head)))
    ext.injectFunction((FunctionIdentifier("name_similarity"),
      info("name_similarity", classOf[NameSimilarity]),
      (es: Seq[Expression]) => NameSimilarity(es(0), es(1))))
    def intLit(e: Expression, fn: String, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case _ => throw new IllegalArgumentException(
        s"$fn $what must be an integer literal")
    }
    // the custom aggregate: approx_top_k(value, capacity, k) in SQL
    ext.injectFunction((FunctionIdentifier("approx_top_k"),
      info("approx_top_k", classOf[graft.functions.MisraGriesTopK]),
      (es: Seq[Expression]) => graft.functions.MisraGriesTopK(es(0),
        intLit(es(1), "approx_top_k", "capacity"),
        intLit(es(2), "approx_top_k", "k"))))
    // kmv_sample(value, k): deterministic k-minimum-values distinct sample
    ext.injectFunction((FunctionIdentifier("kmv_sample"),
      info("kmv_sample", classOf[graft.functions.KmvBottomK]),
      (es: Seq[Expression]) => graft.functions.KmvBottomK(es(0),
        intLit(es(1), "kmv_sample", "k"))))
    // min_k(value, k): the k smallest distinct values, bounded buffer
    ext.injectFunction((FunctionIdentifier("min_k"),
      info("min_k", classOf[graft.functions.MinKAgg]),
      (es: Seq[Expression]) => graft.functions.MinKAgg(es(0),
        intLit(es(1), "min_k", "k"))))
    // corpus kernels — the dedup/text-analysis primitives, so the whole
    // annotate/dedup surface is reachable from pure SQL sessions
    import graft.functions.{CosineSim, DocFingerprint, LangId, MinHashSig,
      SimHash64, TokenCountBpeIsh, WordShingles}
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", classOf[SimHash64]),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("doc_fingerprint"),
      info("doc_fingerprint", classOf[DocFingerprint]),
      (es: Seq[Expression]) => DocFingerprint(es.head)))
    ext.injectFunction((FunctionIdentifier("lang_id"),
      info("lang_id", classOf[LangId]),
      (es: Seq[Expression]) => LangId(es.head)))
    ext.injectFunction((FunctionIdentifier("token_count_bpeish"),
      info("token_count_bpeish", classOf[TokenCountBpeIsh]),
      (es: Seq[Expression]) => TokenCountBpeIsh(es.head)))
    ext.injectFunction((FunctionIdentifier("deflate_len"),
      info("deflate_len", classOf[graft.functions.DeflateLen]),
      (es: Seq[Expression]) => graft.functions.DeflateLen(es.head)))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", classOf[CosineSim]),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))))
    // ROUGE-L kernel: lcs_tokens(a, b) — LCS length of the whitespace
    // token sequences (capped DP, integer)
    ext.injectFunction((FunctionIdentifier("lcs_tokens"),
      info("lcs_tokens", classOf[graft.functions.LcsTokens]),
      (es: Seq[Expression]) => graft.functions.LcsTokens(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", classOf[MinHashSig]),
      (es: Seq[Expression]) => MinHashSig(es(0),
        intLit(es(1), "minhash_sig", "shingle k"),
        intLit(es(2), "minhash_sig", "numHashes"))))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", classOf[WordShingles]),
      (es: Seq[Expression]) => WordShingles(es(0),
        intLit(es(1), "word_shingles", "n"))))
    // winnowing fingerprints + selected positions — the substring-dedup
    // shuffle divider, callable as winnow(text, k, window) /
    // winnow_positions(text, k, window)
    import graft.functions.{Winnow, WinnowPositions}
    ext.injectFunction((FunctionIdentifier("winnow"),
      info("winnow", classOf[Winnow]),
      (es: Seq[Expression]) => Winnow(es(0),
        intLit(es(1), "winnow", "k"), intLit(es(2), "winnow", "window"))))
    ext.injectFunction((FunctionIdentifier("winnow_positions"),
      info("winnow_positions", classOf[WinnowPositions]),
      (es: Seq[Expression]) => WinnowPositions(es(0),
        intLit(es(1), "winnow_positions", "k"),
        intLit(es(2), "winnow_positions", "window"))))
    // per-doc Gopher repetition stats: repetition_stats(text, n, delim)
    import graft.functions.RepetitionStats
    def strLit(e: Expression, fn: String, what: String): String = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        v.toString
      case _ => throw new IllegalArgumentException(
        s"$fn $what must be a string literal")
    }
    ext.injectFunction((FunctionIdentifier("repetition_stats"),
      info("repetition_stats", classOf[RepetitionStats]),
      (es: Seq[Expression]) => RepetitionStats(es(0),
        intLit(es(1), "repetition_stats", "n"),
        strLit(es(2), "repetition_stats", "delim"))))
    // quick_ratio upper bound on name_similarity — the fuzzy-join prune gate
    ext.injectFunction((FunctionIdentifier("name_similarity_upper"),
      info("name_similarity_upper",
        classOf[graft.functions.NameSimilarityUpper]),
      (es: Seq[Expression]) =>
        graft.functions.NameSimilarityUpper(es(0), es(1))))
    // Aho–Corasick blocklist matcher: ac_find_phrases(text, patterns) with
    // patterns as one U+0001-joined string literal (SQL has no string-array
    // literal the parser folds; the Scala surface takes a Seq directly)
    ext.injectFunction((FunctionIdentifier("ac_find_phrases"),
      info("ac_find_phrases", classOf[graft.functions.AcFindPhrases]),
      (es: Seq[Expression]) => graft.functions.AcFindPhrases(es(0),
        strLit(es(1), "ac_find_phrases", "patterns")
          .split('\u0001').toSeq)))
    // one-pass leftmost-longest masking: ac_mask_phrases(text, patterns
    // [, mask]), patterns U+0001-joined as above; 2-arg form uses the
    // Scala surface's '[MASKED]' default
    ext.injectFunction((FunctionIdentifier("ac_mask_phrases"),
      info("ac_mask_phrases", classOf[graft.functions.AcMaskPhrases]),
      (es: Seq[Expression]) => {
        require(es.length == 2 || es.length == 3,
          s"ac_mask_phrases takes (text, patterns[, mask]); got ${es.length} args")
        graft.functions.AcMaskPhrases(es(0),
          strLit(es(1), "ac_mask_phrases", "patterns")
            .split('\u0001').toSeq,
          if (es.length == 3) strLit(es(2), "ac_mask_phrases", "mask")
          else "[MASKED]")
      }))
    // occurrence evidence: ac_hit_positions(text, patterns) ->
    // array<struct<start, phrase>>, patterns U+0001-joined as above
    ext.injectFunction((FunctionIdentifier("ac_hit_positions"),
      info("ac_hit_positions", classOf[graft.functions.AcHitPositions]),
      (es: Seq[Expression]) => graft.functions.AcHitPositions(es(0),
        strLit(es(1), "ac_hit_positions", "patterns")
          .split('\u0001').toSeq)))
  }
}

/** Rewrites an inner join whose condition contains interval containment —
  * `p >= s AND p <= e` with `p` from one side and `s`, `e` from the
  * other — into the binned equi-join of [[graft.ops.RangeJoin]]: without
  * this, Catalyst's only physical choice for the range predicate is a
  * (broadcast) nested-loop join, quadratic off-broadcast.
  *
  * The rewrite adds a floor-div bin column on the point side, explodes the
  * interval side over its overlapped bins (`sequence`), and appends
  * `bin = bin` to the join condition — the planner then picks a hash join
  * on the bin (plus any existing equality conjuncts) and keeps the original
  * range predicate as the post-filter. Output schema and semantics are
  * untouched: each (point, interval) candidate meets in exactly the
  * point's bin, so no duplicates are introduced.
  *
  * Opt-in and explicitly sized: set `spark.graft.rangeJoin.binWidth` to a
  * positive long in the UNIT OF THE BOUND COLUMNS (disabled at 0, the
  * default) — bin width is a physical-design choice (near the typical
  * interval length), not something to guess from a plan. v1 applies to
  * integral bound columns only; timestamp/date flows use
  * [[graft.ops.RangeJoin.pointInInterval]] which normalizes units
  * explicitly.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BinCol = "_graft_bin"

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** floor(v / w) in pure long arithmetic: pmod is non-negative, so the
    * numerator is exactly divisible and truncating IntegralDivide IS the
    * floor — no double detour (exact past 2^53), no negative-skew.
    */
  private def binOf(e: Expression, w: Long): Expression = {
    val v = asLong(e)
    val wl = Literal(w, LongType)
    IntegralDivide(Subtract(v, Pmod(v, wl)), wl)
  }

  /** (lower, upper) bound comparisons normalized to (point, bound). */
  private def bounds(conjuncts: Seq[Expression], pointSet: AttributeSet,
                     boundSet: AttributeSet): Option[(Expression, Expression, Expression)] = {
    def pointAndBound(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && a.references.subsetOf(pointSet) &&
        b.references.nonEmpty && b.references.subsetOf(boundSet) &&
        integral(a) && integral(b) && a.deterministic && b.deterministic
    val lowers = conjuncts.collect {
      case GreaterThanOrEqual(p, s) if pointAndBound(p, s) => (p, s)
      case LessThanOrEqual(s, p) if pointAndBound(p, s) => (p, s)
    }
    val uppers = conjuncts.collect {
      case LessThanOrEqual(p, e) if pointAndBound(p, e) => (p, e)
      case GreaterThanOrEqual(e, p) if pointAndBound(p, e) => (p, e)
    }
    (for {
      (pl, s) <- lowers
      (pu, e) <- uppers
      if pl.semanticEquals(pu)
    } yield (pl, s, e)).headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = conf.getConfString("spark.graft.rangeJoin.binWidth", "0").toLong
    if (w <= 0) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          // idempotence: our own rewrite carries BinCol attrs in the cond
          if !cond.references.exists(_.name.startsWith(BinCol)) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val fromLeft = bounds(conjuncts, left.outputSet, right.outputSet)
          .map(b => (b, true))
        val hit = fromLeft.orElse(
          bounds(conjuncts, right.outputSet, left.outputSet).map(b => (b, false)))
        hit match {
          case Some(((p, s, e), pointIsLeft)) =>
            val origOutput = j.output
            val pAlias = Alias(binOf(p, w), BinCol + "_p")()
            val gOut = AttributeReference(BinCol + "_i", LongType,
              nullable = false)()
            // Sequence is TimeZoneAware: without an explicit zone it stays
            // unresolved and fails post-optimizer plan validation
            val gen = Explode(Sequence(binOf(s, w), binOf(e, w), None,
              Some(conf.sessionLocalTimeZone)))
            // Inverted intervals (e < s) can never satisfy the original
            // p >= s AND p <= e conjuncts, but an unfiltered Sequence would
            // step DOWNWARD through them (default step -1) — a dirty row
            // with distant bounds then fans out |binOf(s)-binOf(e)|+1 rows
            // or throws "too long sequence". Drop them before the Generate;
            // null bounds are dropped too (the conjuncts reject them).
            val valid = Filter(GreaterThanOrEqual(e, s), _: LogicalPlan)
            val (newLeft, newRight) =
              if (pointIsLeft)
                (Project(left.output :+ pAlias, left),
                  Generate(gen, Nil, outer = false, None, Seq(gOut), valid(right)))
              else
                (Generate(gen, Nil, outer = false, None, Seq(gOut), valid(left)),
                  Project(right.output :+ pAlias, right))
            val newCond = And(cond, EqualTo(pAlias.toAttribute, gOut))
            Project(origOutput,
              Join(newLeft, newRight, Inner, Some(newCond), hint))
          case None => j
        }
    }
  }
}
