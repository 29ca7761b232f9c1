package graft.ops

import graft.Pins
import graft.functions.CorpusFunctions._
import graft.graph.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language id, quality
  * scoring, token counting, document fingerprinting.
  *
  * Everything is a narrow projection (no shuffle): one pass over the corpus
  * computes all signals. The heuristic pieces (lang-id profiles, BPE-ish
  * token estimate) are deterministic offline stand-ins with the right
  * operator shape — swap the kernel, keep the plan.
  */
object TextAnalysis {

  /** Whitespace token count — pure builtin, stays in codegen. */
  def tokenCountWhitespace(c: Column): Column =
    size(split(trim(c), "\\s+"))

  /** Ratio of non-alphanumeric-non-space chars to total length. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(
      (length(c) - length(regexp_replace(c, "[^A-Za-z0-9\\s]", ""))).cast("double")
        / length(c))

  /** Ratio of uppercase letters to all letters. */
  def upperRatio(c: Column): Column = {
    val letters = length(regexp_replace(c, "[^A-Za-z]", ""))
    when(letters === 0, 0.0).otherwise(
      (letters - length(regexp_replace(c, "[^a-z]", ""))).cast("double") / letters)
  }

  /** English stopword hit ratio over whitespace tokens — builtin-only
    * (split + array_intersect-free contains chain would not scale;
    * array-based filter does).
    */
  /** The 15-stopword English list every text gate in this module shares
    * (and every DuckDB oracle inlines).
    */
  private[graft] val stopwordList: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "that",
      "for", "it", "on", "as", "with", "are", "this")

  private def stopwordArray: Column = array(stopwordList.map(lit): _*)

  def stopwordRatio(c: Column): Column = {
    val stops = stopwordArray
    val toks = split(lower(trim(c)), "\\s+")
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => array_contains(stops, t))).cast("double")
        / size(toks))
  }

  /** Composite quality score in [0,1] — length, punctuation, casing and
    * stopword signals, Gopher/C4-style filters distilled to a scalar:
    * long-enough, not punctuation-soup, not shouting, has function words.
    */
  def qualityScore(c: Column): Column = round(qualityScoreRaw(c), 6)

  /** Unrounded quality score — exact IEEE arithmetic, reproducible
    * term-for-term in ANSI SQL (the oracle mirrors this parenthesization).
    */
  def qualityScoreRaw(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 500.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 4.0)
    val casePenalty = greatest(lit(0.0), lit(1.0) - upperRatio(c))
    val stopScore = least(stopwordRatio(c) * 4.0, lit(1.0))
    lenScore * 0.3 + punctPenalty * 0.25 + casePenalty * 0.15 +
      stopScore * 0.3
  }

  /** Gopher-style repetition statistics (Rae et al. 2021, Table A1) — the
    * WITHIN-document repetition gates of a quality filter, one row per doc:
    *
    *  - `dup_line_frac`       — duplicated lines / lines (a line is
    *    duplicated when it occurs ≥ 2 times in its own doc)
    *  - `dup_line_char_frac`  — characters inside duplicated lines (all
    *    occurrences) / total line characters
    *  - `top_gram`            — the most frequent word n-gram (ties break
    *    to the lexicographically smallest — pinned so reruns and the
    *    oracle agree)
    *  - `top_gram_char_frac`  — occurrences × n-gram length / text length
    *    (occurrences counted sliding, Gopher's convention)
    *
    * Scale shape: ONE narrow codegen'd pass
    * ([[graft.functions.CorpusKernels.repetitionStatsRow]]) — a document's
    * repetition statistics are document-local, so the former explode + two
    * shuffle-aggregation chains keyed by line/gram TEXT were pure
    * distribution overhead (measured 6.5 s → sub-second on the sf0.1
    * bench). Per-doc memory is O(distinct lines + distinct grams) of that
    * one document. All ratios are ratios of integers computed identically
    * by DuckDB, so the floor(×1e6) projections are hash-stable.
    */
  def repetitionStats(docs: DataFrame, n: Int = 2, delim: String = "\n",
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(n >= 1)
    // null-text docs dropped, as the former explode-based chain did
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), repetition_stats(col(textCol), n, delim).as("_r"))
      .select(col(idCol), col("_r.n_lines").as("n_lines"),
        col("_r.dup_line_frac_u6").as("dup_line_frac_u6"),
        col("_r.dup_line_char_frac_u6").as("dup_line_char_frac_u6"),
        col("_r.top_gram").as("top_gram"),
        col("_r.top_gram_char_frac_u6").as("top_gram_char_frac_u6"))
  }

  /** Gopher document-quality RULES (Rae et al. 2021, Table A1) — the
    * published threshold filter applied verbatim, one row per doc with the
    * measured signals plus per-rule booleans and the composite `keep`:
    *
    *  - 50 ≤ word count ≤ 100,000
    *  - 3 ≤ mean word length ≤ 10
    *  - symbol-to-word ratio ("#" or "..."/"…") ≤ 0.1
    *  - lines starting with a bullet ≤ 90%
    *  - lines ending with an ellipsis ≤ 30%
    *  - words with ≥ 1 alphabetic char ≥ 80%
    *  - ≥ 2 distinct words of the 8-word stop list
    *    (the, be, to, of, and, that, have, with)
    *
    * One narrow codegen pass — no shuffle, no UDF: every signal is builtin
    * arithmetic over split/filter/replace, and every ratio is a ratio of
    * integers floored at 1e-6 so the DuckDB oracle hashes identically.
    */
  def gopherQualityFlags(docs: DataFrame,
                         textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, 0).otherwise(size(toks))
      .cast("long")
    // sum of token lengths = doc length minus whitespace
    val wordChars = length(regexp_replace(t, "\\s", "")).cast("long")
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast("long")
    val nDots =
      ((length(t) - length(replace(t, lit("..."), lit("")))) / 3).cast("long") +
        (length(t) - length(replace(t, lit("…"), lit("")))).cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => ltrim(l).rlike("^[-*•‣●]")))
      .cast("long")
    val nEllip = size(filter(lines, l =>
      rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("long")
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val stops = typedLit(Seq("the", "be", "to", "of", "and", "that", "have",
      "with"))
    val lowToks = transform(toks, lower(_))
    // array_intersect (distinct common elements — the same distinct-stop
    // count) evaluates lowToks ONCE; the old filter-lambda captured it
    // and re-split + re-lowercased the whole doc per stopword. The
    // coalesce keeps the null-text value at 0, as the old filter's
    // null-predicate-is-false semantics produced (size(null) is -1).
    val nStop = size(array_intersect(stops,
      coalesce(lowToks, array().cast("array<string>")))).cast("long")
    def u6(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") / den.cast("double") * 1e6))
        .otherwise(0d).cast("long")
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len_u6", u6(wordChars, nWords))
      .withColumn("symbol_ratio_u6", u6(nHash + nDots, nWords))
      .withColumn("bullet_frac_u6", u6(nBullet, nLines))
      .withColumn("ellipsis_frac_u6", u6(nEllip, nLines))
      .withColumn("alpha_frac_u6", u6(nAlpha, nWords))
      .withColumn("n_stop_hits", nStop)
      .withColumn("ok_words",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("ok_word_len", col("mean_word_len_u6") >= 3000000L &&
        col("mean_word_len_u6") <= 10000000L)
      .withColumn("ok_symbols", col("symbol_ratio_u6") <= 100000L)
      .withColumn("ok_bullets", col("bullet_frac_u6") <= 900000L)
      .withColumn("ok_ellipsis", col("ellipsis_frac_u6") <= 300000L)
      .withColumn("ok_alpha", col("alpha_frac_u6") >= 800000L)
      .withColumn("ok_stops", col("n_stop_hits") >= 2L)
      .withColumn("keep", col("ok_words") && col("ok_word_len") &&
        col("ok_symbols") && col("ok_bullets") && col("ok_ellipsis") &&
        col("ok_alpha") && col("ok_stops"))
  }

  /** Per-PARAGRAPH quality stats — the jusText/CCNet granularity (doc-level
    * gates pass pages whose content is fine but whose navigation/footer
    * paragraphs are junk; paragraph gates cut the junk and keep the page).
    * One posexplode + one narrow codegen pass; INTEGER-ONLY output columns
    * (the data-card rule — counts hash identically cross-engine where
    * ratios would sit on the rounding lattice).
    *
    * @return (idCol, par_idx, n_chars, n_words, n_stop) — one row per
    *         paragraph, empty paragraphs included (n_words = 0)
    */
  def paragraphStats(docs: DataFrame, delim: String = "\n",
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // the word array is LET-BOUND via the 1-element-transform pattern
    // (the r11 interpreted-lambda rule): n_words and n_stop both read
    // the lambda variable, so the regex split runs ONCE per paragraph —
    // as plain project expressions the split subtree was evaluated
    // twice (each output column re-split the paragraph)
    val words = filter(split(lower(trim(col("_p"))), "\\s+"), w => w =!= "")
    val st = element_at(transform(array(words), ws => struct(
      size(ws).cast("long").as("n_words"),
      size(filter(ws, w =>
        array_contains(stopwordArray, w))).cast("long").as("n_stop"))), 1)
    docs.select(col(idCol),
        posexplode(split(col(textCol), delim)).as(Seq("par_idx", "_p")))
      .select(col(idCol), col("par_idx"),
        length(col("_p")).cast("long").as("n_chars"), st.as("_st"))
      .select(col(idCol), col("par_idx"), col("n_chars"),
        col("_st.n_words").as("n_words"), col("_st.n_stop").as("n_stop"))
  }

  /** Paragraph-level boilerplate filter (jusText's core heuristic distilled
    * to the two load-bearing signals): a paragraph survives iff it has at
    * least `minWords` words AND a stopword density of at least
    * `minStopRatio` (navigation bars, button labels, cookie banners are
    * short and function-word-free; prose is neither). Survivors rebuild in
    * original order; docs with nothing left rebuild to "".
    *
    * The density gate compares `n_stop >= minStopRatio * n_words` — one
    * IEEE multiply of an integer by a literal, bit-identical cross-engine
    * (no rounding-lattice exposure).
    *
    * @return input columns + `text_filtered` + `n_pars_cut`
    */
  def filterParagraphs(docs: DataFrame, minWords: Long = 5,
                       minStopRatio: Double = 0.05,
                       delim: String = "\n", idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(minWords >= 0 && minStopRatio >= 0.0 && minStopRatio <= 1.0)
    val reserved = Seq("par_idx", "_p", "text_filtered", "n_pars_cut",
      "_n_kept")
    val hit = docs.columns.toSet.intersect(reserved.toSet)
    require(hit.isEmpty,
      s"filterParagraphs reserves ${reserved.mkString(", ")}; " +
        s"rename the input columns: ${hit.mkString(", ")}")
    // ONE explode: stats computed inline on the exploded paragraphs and
    // the survivors rebuilt from the same rows — no second split pass, no
    // (id, par_idx) self-join. The whole keep predicate is ONE expression
    // with the word array LET-BOUND via the 1-element-transform pattern
    // (the r11 interpreted-lambda rule): the word-count and
    // stopword-density legs read the lambda variable, so the regex split
    // runs ONCE per paragraph — as separate column/filter expressions it
    // was evaluated twice. Arithmetic unchanged: size casts to long, the
    // density gate is the same long-by-literal IEEE multiply.
    val words = filter(split(lower(trim(col("_p"))), "\\s+"), w => w =!= "")
    val keep = element_at(transform(array(words), ws =>
      size(ws).cast("long") >= minWords &&
        size(filter(ws, w => array_contains(stopwordArray, w)))
          .cast("double") >= lit(minStopRatio) * size(ws).cast("long")), 1)
    val kept = docs.select(col(idCol),
        posexplode(split(col(textCol), delim)).as(Seq("par_idx", "_p")))
      .filter(keep)
    val rebuilt = kept
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("par_idx"), col("_p")))),
          s => s.getField("_p")), delim).as("text_filtered"),
        count(lit(1)).as("_n_kept"))
    docs.join(rebuilt, Seq(idCol), "left_outer")
      .withColumn("text_filtered", coalesce(col("text_filtered"), lit("")))
      .withColumn("n_pars_cut",
        size(split(col(textCol), delim)).cast("long")
          - coalesce(col("_n_kept"), lit(0L)))
      .drop("_n_kept")
  }

  /** One-pass corpus annotation: all signals as new columns. */
  def annotate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("lang_pred", lang_id(t))
      .withColumn("n_tokens_ws", tokenCountWhitespace(t))
      .withColumn("n_tokens_bpeish", token_count_bpeish(t))
      .withColumn("punct_ratio", round(punctRatio(t), 6))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 6))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", doc_fingerprint(t))
  }

  /** Per-document (term, count) pairs as ONE narrow expression — the tf
    * aggregation WITHOUT its shuffle: a document's terms all live on its
    * own row, so counting them is row-local (sort + run-length encode
    * over the term array), never an exchange of the corpus-sized term
    * stream (guide §2.4 — the explode + groupBy(doc, term) shape
    * shuffled every term occurrence, string payload included, even
    * though its map-side partial aggregation could only ever merge
    * within one document = one task, so the exchange merged nothing).
    * Interpreted-lambda discipline (the r11 rule): every computed array
    * is let-bound via 1-element transform, element reads are O(1) `get`s
    * (0-based, null out-of-bounds even under ANSI), the whole encode is
    * O(n log n) in the document's term count.
    *
    * @param termsArr array<string> of one document's terms (a null array
    *                 counts as empty; elements must be non-null)
    * @return array<struct<term, tf>> — one entry per distinct term with
    *         its multiset count; order unspecified (consumers explode)
    */
  private def termCounts(termsArr: Column): Column = {
    val empty = array().cast("array<struct<term:string,tf:bigint>>")
    flatten(transform(
      array(array_sort(coalesce(termsArr, array().cast("array<string>")))),
      arr =>
        when(size(arr) > 0,
          // run starts: 0-based positions i with arr[i] != arr[i-1];
          // run length = next start (or n) minus own start
          flatten(transform(
            array(filter(sequence(lit(0), size(arr) - 1), i =>
              i === 0 || get(arr, i) =!= get(arr, i - 1))),
            st => transform(sequence(lit(0), size(st) - 1), k =>
              struct(
                get(arr, get(st, k)).as("term"),
                (coalesce(get(st, k + 1), size(arr)) - get(st, k))
                  .cast("long").as("tf"))))))
          .otherwise(empty)))
  }

  /** TF-IDF scored terms per document.
    *
    * Classic two-aggregation dataflow, shuffle-minimal: explode whitespace
    * tokens once, aggregate term frequency on (doc, term) (map-side
    * partials absorb repeated terms), aggregate document frequency on term
    * from the tf table (already one row per doc-term — no re-explode),
    * join tf × df on term, score tf · ln(N / df). Both shuffles key on the
    * term or (doc, term) — no hot-document fan-out, and the df table is
    * dimension-sized so Catalyst broadcasts it while small.
    *
    * The tf table feeds BOTH the df aggregation and the final join, and
    * Catalyst has no cross-branch common-subtree reuse — unpinned, the
    * tokenize + (doc, term) shuffle would run twice per execution. One
    * eager local checkpoint materializes it once (spills under storage
    * pressure; at full corpus scale this is the standard
    * write-once-read-twice trade against re-shuffling the token stream).
    *
    * Deterministic, pure-SQL semantics (natural log, raw counts — the
    * standard Salton formulation) so the whole pipeline is
    * oracle-checkable. Returns (id, term, tf, df, tfidf).
    */
  def tfidf(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val n = docs.select(countDistinct(col(idCol)).as("_n"))
    // tf is row-local work ([[termCounts]]): the old explode +
    // groupBy(doc, term) exchange shuffled the full token stream to
    // merge counts that all lived in one task already
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => w =!= "")
    val tf = docs
      .select(col(idCol), explode(termCounts(toks)).as("_tc"))
      .select(col(idCol), col("_tc.term").as("term"), col("_tc.tf").as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .crossJoin(n) // 1-row count table: literal-style broadcast
      .withColumn("tfidf",
        round(col("tf") * log(col("_n").cast("double") / col("df")), 6))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Top-k characteristic terms per document by TF-IDF (deterministic
    * tie-break on term).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    tfidf(docs, idCol, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** All-pairs document cosine similarity over tf-idf vectors via the
    * inverted-index self-join (the sparse sibling of
    * [[graft.ops.Similarity.cosinePairs]], and the WEIGHTED upgrade of
    * [[graft.ops.Dedup.ngramJaccardPairs]] — jaccard sees "shares rare
    * shingles", cosine sees "shares the same topical vocabulary with the
    * same emphasis"): pairs never materialize beyond documents that
    * share at least one sub-cap term, and the dot product is ONE
    * map-side-combinable aggregate over the shared-term stream.
    *
    * Blocking semantics match the jaccard operator: terms with document
    * frequency above `maxDocFreq` neither generate candidates NOR enter
    * the dot product (norms still cover ALL terms), so the score is a
    * documented conservative underestimate for pairs whose overlap is
    * mostly stop-word-frequency terms — exactly the pairs a similarity
    * pass wants suppressed, and what keeps the self-join off the
    * quadratic hot-term path at 100 TB (a term in 10⁶ docs would emit
    * 10¹² candidate rows uncapped). Zero-idf terms (df = N) drop — their
    * weight is exactly 0.
    *
    * Cosine publishes on the 6-dp ROUNDED lattice (weights are the
    * rounded log lattice, as in [[tfidf]]; the threshold compares the
    * rounded value, the repo oracle convention).
    *
    * `n` picks the term unit: 1 = words (classic tf-idf cosine; only
    * useful when the vocabulary is discriminative), >= 2 = word n-grams
    * (the [[graft.ops.Dedup.ngramJaccardPairs]] shingle space — the
    * right unit on templated corpora whose WORD vocabulary is shared by
    * every document, where unigram cosine is uniformly high and the df
    * cap would either drop everything or admit the quadratic join).
    *
    * @return (id_a, id_b, cosine) with id_a < id_b and
    *         cosine >= threshold
    */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double = 0.3,
                       maxDocFreq: Int = 1000, n: Int = 1,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(threshold > 0 && maxDocFreq >= 1 && n >= 1,
      "need a positive threshold (0 would emit every co-occurring pair), " +
        "a positive df cap and n >= 1")
    val words = filter(split(lower(trim(col(textCol))), "\\s+"),
      x => x =!= "")
    // n >= 2 let-binds the word array (1-element transform): the gram
    // lambda referencing the split() subtree re-ran it per element
    val terms =
      if (n == 1) words
      else flatten(transform(array(words), ws =>
        when(size(ws) >= n,
          transform(sequence(lit(0), size(ws) - n),
            i => concat_ws(" ", slice(ws, i + lit(1), lit(n)))))
          .otherwise(array().cast("array<string>"))))
    // null-key story (the repo inner-join rule): a null-id doc cannot
    // pair, but left in it would inflate every shared term's df (wrong
    // idf for VALID pairs) and then vanish at the norms join — drop it
    // explicitly before anything counts
    // tf is row-local work ([[termCounts]]): the old explode +
    // groupBy(_id, term) exchange shuffled the full gram stream (string
    // payload included) to merge counts that all lived in one task
    val tf = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_id"), explode(termCounts(terms)).as("_tc"))
      .select(col("_id"), col("_tc.term").as("term"),
        col("_tc.tf").as("_tf"))
      .localCheckpoint(true) // shared by df + the weight table build
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("_n"))
    // The weight table is pinned and the tf pin released: norms and BOTH
    // sides of the inverted-index self-join read `w`, and unpinned each
    // consumer would re-run the df aggregation + joins from the tf blocks
    // (the plan cannot reuse the exchange across the duplicated subtrees
    // — distinct expression ids defeat ReuseExchange), multiplying the
    // dimension work by the consumer count. Same materialized-row
    // footprint class as the tf pin it replaces.
    val w = tf.join(dfreq, "term")
      .crossJoin(nDocs) // 1-row count table: literal-style broadcast
      .withColumn("tfidf",
        round(col("_tf") * log(col("_n").cast("double") / col("df")), 6))
      .filter(col("tfidf") > 0)
      .select(col("_id"), col("term"), col("df"), col("tfidf"))
      .localCheckpoint(true)
    Pins.release(tf)
    val norms = w.groupBy("_id")
      .agg(sqrt(sum(col("tfidf") * col("tfidf"))).as("_norm"))
    // Norms attach AFTER the dot-product aggregate, on the (id-keyed)
    // pair stream: carrying them through the term-keyed self-join would
    // widen every candidate row by 16 bytes across the heaviest exchange
    // for values that are a per-doc lookup (shuffle fewer bytes; the
    // groupBy keys also shrink from 4 columns to the 2 real ones).
    val inv = w.filter(col("df") <= maxDocFreq)
    inv.select(col("term"), col("_id").as("id_a"), col("tfidf").as("_wa"))
      .join(inv.select(col("term"), col("_id").as("id_b"),
        col("tfidf").as("_wb")), Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("_wa") * col("_wb")).as("_dot"))
      .join(norms.select(col("_id").as("id_a"), col("_norm").as("_na")),
        Seq("id_a"))
      .join(norms.select(col("_id").as("id_b"), col("_norm").as("_nb")),
        Seq("id_b"))
      .withColumn("cosine",
        round(col("_dot") / (col("_na") * col("_nb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Frequency-ranked vocabulary: (term, n, id) with id = dense position
    * under (count desc, term asc) — the deterministic "sort by frequency,
    * break ties lexically" vocab every tokenizer build uses.
    *
    * The rank is assigned by a range-partitioned SORT + per-partition
    * offsets (`zipWithIndex`), NOT a global row_number window: a window
    * with no partition key drags the whole vocabulary into one task, while
    * zipWithIndex keeps the sort distributed and adds only a lightweight
    * partition-size job. (This is the one legitimate RDD drop-down in the
    * ops layer — Catalyst has no distributed rank-without-partition.)
    *
    * The sorted counts are pinned (eager local checkpoint) BEFORE the
    * zipWithIndex: its partition-size job and every later consumer of the
    * vocab then read one materialization instead of re-running the
    * aggregate + range sort from scratch each time.
    */
  def buildVocab(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", minCount: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    val counts = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("term"))
      .localCheckpoint(true)
    val indexed = counts.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), r.getLong(1), i)
    }
    spark.createDataFrame(indexed,
      org.apache.spark.sql.types.StructType(counts.schema.fields :+
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Encode documents as vocab-id sequences: tokenize with position,
    * equi-join the vocab (dimension-sized → broadcast while small),
    * reassemble in token order. OOV terms encode as -1. One shuffle on the
    * doc id; order restored by the position sort inside the aggregation
    * buffer, not a window.
    */
  def encodeDocs(docs: DataFrame, vocab: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(split(lower(trim(col(textCol))), "\\s+"))
        .as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    toks.join(vocab.select(col("term"), col("id")), Seq("term"), "left_outer")
      .withColumn("_tid", coalesce(col("id"), lit(-1L)))
      .groupBy(idCol)
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("_tid")))),
        s => s.getField("_tid")).as("ids"))
  }

  /** Per-document unigram (word) Shannon entropy in bits — the classic
    * repetitiveness/gibberish signal for corpus curation: near-zero for
    * "spam spam spam", ~log2(n_tokens) for all-distinct text.
    *
    * Uses the single-pass identity  H = ln(N) − Σ n·ln(n) / N  (converted
    * to bits by an explicit ln(2) literal) so both aggregations stay
    * map-side combinable (Σ n·ln(n) is a plain sum — no need to broadcast
    * the per-doc total back under the term rows). Two shuffles, keyed
    * (doc, term) then doc; no window, no collect_list. Natural log rather
    * than log2 because ln is the one transcendental with proven
    * cross-engine round-6 parity here (tfidf); engines disagree more on
    * log2's libm path. Rounded to 6 dp (same contract as [[qualityScore]]).
    */
  def wordEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val ln2 = lit(0.6931471805599453) // shared literal, not engine log(2)
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    toks.groupBy(idCol, "term").agg(count(lit(1)).as("n"))
      .groupBy(idCol)
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(
          (log(sum(col("n")).cast("double")) -
            sum(col("n").cast("double") * log(col("n").cast("double"))) /
              sum(col("n")).cast("double")) / ln2,
          6).as("entropy_bits"))
  }

  /** Unigram language-model table from a reference corpus: (term, n) word
    * counts over whitespace tokens, `minCount`-thresholded — the model half
    * of the CCNet-style perplexity filter (Wenzek et al. 2020 score corpora
    * with a KenLM 5-gram; the unigram form keeps the identical dataflow and
    * filter semantics with exact, oracle-checkable math).
    *
    * Pinned (eager local checkpoint) because every scorer reads it at least
    * twice — once for the probability join and once for the smoothing
    * totals — and unpinned the corpus tokenize + term aggregation would run
    * per consumer. The table is vocabulary-sized (dimension-class), so the
    * pin is cheap and downstream joins broadcast while small.
    */
  def buildUnigramLm(ref: DataFrame, textCol: String = "text",
                     minCount: Long = 1L): DataFrame =
    ref.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .localCheckpoint(true)

  /** Per-document mean unigram surprisal in bits — the pseudo-perplexity
    * quality signal (perplexity = 2^bits_per_token): CCNet-style corpus
    * filtering keeps the head/middle of the per-doc score distribution and
    * drops the gibberish tail. Low bits = doc looks like the reference
    * corpus; high bits = rare-word soup, boilerplate, or wrong language.
    *
    * Add-one smoothing over the LM vocabulary: p(term) = (n+1)/(total+V+1),
    * unseen terms take n = 0 — every token scores, no -inf. Emits
    * (id, n_tokens, n_oov, bits_per_token) so callers can ALSO gate on
    * OOV fraction (the standard companion rule).
    *
    * Scale shape: tokenize-explode feeds ONE equi-join on term against the
    * dimension-sized LM (Catalyst broadcasts while small; a shuffled
    * equi-join — still linear — beyond that), the 1-row smoothing totals
    * ride a literal-style broadcast nested loop, and the per-doc aggregate
    * is map-side combinable (exploded tokens of a doc stay in its scan
    * partition, so the doc-key shuffle carries ~1 row per doc per
    * partition). No window, no collect, no UDF. Rounded to 6 dp with the
    * shared ln(2) literal (same cross-engine contract as [[wordEntropy]]).
    */
  def unigramBitsPerToken(docs: DataFrame, lm: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val ln2 = lit(0.6931471805599453) // shared literal, not engine log(2)
    val totals = lm.agg(sum(col("n")).as("_tot"), count(lit(1)).as("_v"))
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    toks.join(lm, Seq("term"), "left_outer")
      .crossJoin(totals) // 1-row totals table: literal-style broadcast
      .withColumn("_p",
        (coalesce(col("n"), lit(0L)).cast("double") + 1.0d) /
          (col("_tot").cast("double") + col("_v").cast("double") + 1.0d))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("n").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(avg(-log(col("_p")) / ln2), 6).as("bits_per_token"))
  }

  /** Unigram + bigram count tables of a trained bigram LM — both pinned
    * (the build-once artifacts a scoring pass joins against).
    */
  case class BigramLm(unigrams: DataFrame, bigrams: DataFrame)

  /** Per-token rows with the PREVIOUS token attached (null for the first
    * token of a doc) — built inside the token array before exploding, so
    * adjacency costs a narrow transform instead of a lag window or
    * positional self-join. `trim` + `\s+` split leaves no interior empty
    * fragments, so raw-array adjacency equals token adjacency.
    */
  private def tokenPairs(df: DataFrame, idCols: Seq[String],
                         textCol: String): DataFrame = {
    // the token array is let-bound (1-element transform): the pair lambda
    // referencing the split() subtree re-ran the regex split per token
    // (O(len²) per doc — higher-order functions are interpreted)
    val pairs = flatten(transform(
      array(split(lower(trim(col(textCol))), "\\s+")), arr =>
        when(size(arr) > 0 && element_at(arr, 1) =!= "",
          transform(sequence(lit(1), size(arr)), i =>
            struct(element_at(arr, i).as("term"),
              when(i > 1, element_at(arr, i - 1)).as("prev"))))
          .otherwise(
            array().cast("array<struct<term:string,prev:string>>"))))
    df.select(idCols.map(col) :+ explode(pairs).as("_tp"): _*)
      .select(idCols.map(col) :+ col("_tp.term") :+ col("_tp.prev"): _*)
  }

  /** Train the bigram LM: one explode-agg pass each for unigram and bigram
    * counts (map-side combinable; the pair construction never shuffles the
    * text). `minCount` prunes the tables the way production n-gram LMs do
    * — at web scale the bigram table is the big artifact (Brants et al.
    * 2007 shard it; here it stays a first-class DataFrame an equi-join
    * consumes, broadcast while small, linear shuffled join beyond).
    */
  def buildBigramLm(ref: DataFrame, textCol: String = "text",
                    minCount: Long = 1L): BigramLm = {
    // ONE tokenize/explode pass: the (prev, term) count table subsumes
    // both LM tables (every token occurrence has exactly one — nullable —
    // prev, so unigram n(term) = Σ_prev pairCounts(prev, term)). The
    // transient pin is bigram-vocabulary-sized (dimension-class), and the
    // corpus-sized pair stream is aggregated exactly once instead of once
    // per table.
    val pairCounts = tokenPairs(ref, Nil, textCol)
      .groupBy("prev", "term").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val lm = BigramLm(
      unigrams = pairCounts.groupBy("term").agg(sum(col("n")).as("n"))
        .filter(col("n") >= minCount).localCheckpoint(true),
      bigrams = pairCounts.filter(col("prev").isNotNull)
        .filter(col("n") >= minCount)
        .select("prev", "term", "n").localCheckpoint(true))
    Pins.release(pairCounts)
    lm
  }

  /** Per-document mean surprisal in bits under the bigram LM with Stupid
    * Backoff (Brants et al. 2007): S(w|prev) = n2(prev,w)/n1(prev) when
    * the bigram was seen, else alpha * the add-one-smoothed unigram
    * (first tokens take the unsmoothed-alpha unigram — no prev to back
    * off from). A bigram surviving `minCount` implies its prev survived
    * too (unigram count >= bigram count), so the n2-branch denominator is
    * never null.
    *
    * Scale shape mirrors [[unigramBitsPerToken]]: the pair explode feeds
    * one equi-join on (prev, term) against the bigram table and two on
    * term/prev against the unigram table (all dimension-sized, broadcast
    * while small, linear beyond), 1-row smoothing totals ride along, and
    * the per-doc aggregate is map-side combinable. No window, no collect,
    * no UDF; rounded to 6 dp with the shared ln(2) literal.
    */
  def stupidBackoffBits(docs: DataFrame, lm: BigramLm, alpha: Double = 0.4,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val ln2 = lit(0.6931471805599453)
    val totals = lm.unigrams.agg(sum(col("n")).as("_tot"),
      count(lit(1)).as("_v"))
    val toks = tokenPairs(docs, Seq(idCol), textCol)
    val uni = lm.unigrams.select(col("term"), col("n").as("_n1"))
    // the n1(prev) denominator is only READ on the bigram-hit branch, so
    // it rides the (dimension-sized) bigram table instead of a third join
    // over the corpus token stream: one build-side join of two pinned
    // dimension tables replaces a full-stream join stage (guide §1.2.1 /
    // §2.4). left_outer keeps the null algebra bit-identical (a missing
    // prev unigram — impossible under the minCount contract — still
    // yields the same null propagation as the old standalone join). The
    // enriched table rides [[Iterate.gatedBroadcast]] (pinned + count-gated
    // broadcast) because the composite join estimate is pessimistic (sizes
    // multiply) and would silently demote the probe join to a full-stream
    // shuffle.
    val big = Iterate.gatedBroadcast(
      lm.bigrams.select(col("prev"), col("term"), col("n").as("_n2"))
        .join(lm.unigrams.select(col("term").as("prev"), col("n").as("_np")),
          Seq("prev"), "left_outer"))
    val base = (coalesce(col("_n1"), lit(0L)).cast("double") + 1.0d) /
      (col("_tot").cast("double") + col("_v").cast("double") + 1.0d)
    val s = when(col("_n2").isNotNull,
        col("_n2").cast("double") / col("_np").cast("double"))
      .otherwise(when(col("prev").isNull, base)
        .otherwise(lit(alpha) * base))
    toks.join(big, Seq("prev", "term"), "left_outer")
      .join(uni, Seq("term"), "left_outer")
      .crossJoin(totals) // 1-row totals table: literal-style broadcast
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_n2").isNotNull, 1L).otherwise(0L))
          .as("n_bigram_hits"),
        round(avg(-log(s) / ln2), 6).as("bits_per_token"))
  }

  /** Unigram + bigram + trigram count tables of a trained trigram LM
    * (all pinned build-once artifacts).
    */
  case class TrigramLm(unigrams: DataFrame, bigrams: DataFrame,
                       trigrams: DataFrame)

  /** Per-token rows with the two previous tokens attached (nulls at the
    * document start) — same in-array construction as [[tokenPairs]].
    */
  private def tokenTriples(df: DataFrame, idCols: Seq[String],
                           textCol: String): DataFrame = {
    // token array let-bound, as in [[tokenPairs]]
    val triples = flatten(transform(
      array(split(lower(trim(col(textCol))), "\\s+")), arr =>
        when(size(arr) > 0 && element_at(arr, 1) =!= "",
          transform(sequence(lit(1), size(arr)), i =>
            struct(element_at(arr, i).as("term"),
              when(i > 1, element_at(arr, i - 1)).as("prev"),
              when(i > 2, element_at(arr, i - 2)).as("prev2"))))
          .otherwise(array()
            .cast("array<struct<term:string,prev:string,prev2:string>>"))))
    df.select(idCols.map(col) :+ explode(triples).as("_tp"): _*)
      .select(idCols.map(col) :+ col("_tp.term") :+ col("_tp.prev") :+
        col("_tp.prev2"): _*)
  }

  /** Train the trigram LM in ONE tokenize pass (the [[buildBigramLm]]
    * trick one level up): the (prev2, prev, term) count table subsumes
    * all three tables — every token occurrence has exactly one (nullable)
    * context pair, so bigram n(prev, term) = Σ_prev2 and unigram
    * n(term) = Σ_{prev2, prev}. The transient pin is trigram-vocabulary-
    * sized; `minCount` prunes each table the way production n-gram LMs do.
    */
  def buildTrigramLm(ref: DataFrame, textCol: String = "text",
                     minCount: Long = 1L): TrigramLm = {
    val tripleCounts = tokenTriples(ref, Nil, textCol)
      .groupBy("prev2", "prev", "term").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val lm = TrigramLm(
      unigrams = tripleCounts.groupBy("term").agg(sum(col("n")).as("n"))
        .filter(col("n") >= minCount).localCheckpoint(true),
      bigrams = tripleCounts.filter(col("prev").isNotNull)
        .groupBy("prev", "term").agg(sum(col("n")).as("n"))
        .filter(col("n") >= minCount).localCheckpoint(true),
      trigrams = tripleCounts.filter(col("prev2").isNotNull)
        .filter(col("n") >= minCount)
        .select("prev2", "prev", "term", "n").localCheckpoint(true))
    Pins.release(tripleCounts)
    lm
  }

  /** Trigram Stupid Backoff surprisal (Brants et al. 2007 — the trigram
    * is their actual operating point): S(w | p2, p) = n3/n_ctx when the
    * trigram was seen (n_ctx = the BIGRAM count of the (p2, p) context),
    * else α · S_bigram(w | p); S_bigram = n2/n1(p) when seen, else
    * α · smoothed unigram (so a double miss pays α²). Position 1 scores
    * the smoothed unigram, position 2 starts at the bigram level.
    *
    * The `minCount` thresholds make both denominators total: a surviving
    * trigram's (p2, p) context bigram and a surviving bigram's p unigram
    * each occur at least as often, so neither lookup can miss.
    *
    * Scale shape: the triple explode feeds FOUR dimension-table
    * equi-joins (trigram, bigram, context-bigram, two unigram roles —
    * broadcast while small, linear beyond) + one map-side-combinable
    * per-doc aggregate. No window, no lag, no UDF; 6-dp rounding contract
    * as [[wordEntropy]].
    */
  def stupidBackoff3Bits(docs: DataFrame, lm: TrigramLm,
                         alpha: Double = 0.4, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val ln2 = lit(0.6931471805599453)
    val totals = lm.unigrams.agg(sum(col("n")).as("_tot"),
      count(lit(1)).as("_v"))
    val toks = tokenTriples(docs, Seq(idCol), textCol)
    // denominators ride the n-gram tables they gate on (see
    // [[stupidBackoffBits]]): n_ctx(p2,p) is only read on the trigram-hit
    // branch and n1(p) only on the bigram-hit branch, so each attaches to
    // its numerator's dimension table in a build-side join of pinned
    // dimension tables — FIVE full-stream join stages collapse to THREE
    // (guide §1.2.1 / §2.4). left_outer keeps the null algebra
    // bit-identical to the old standalone joins; the enriched tables ride
    // [[Iterate.gatedBroadcast]] (pinned + count-gated broadcast) because
    // the composite join estimate would demote the probe joins to
    // full-stream shuffles (see [[stupidBackoffBits]]).
    val tri = Iterate.gatedBroadcast(
      lm.trigrams.select(col("prev2"), col("prev"), col("term"),
        col("n").as("_n3"))
        .join(lm.bigrams.select(col("prev").as("prev2"),
          col("term").as("prev"), col("n").as("_nc")),
          Seq("prev2", "prev"), "left_outer"))
    val big = Iterate.gatedBroadcast(
      lm.bigrams.select(col("prev"), col("term"), col("n").as("_n2"))
        .join(lm.unigrams.select(col("term").as("prev"), col("n").as("_np")),
          Seq("prev"), "left_outer"))
    val uni = lm.unigrams.select(col("term"), col("n").as("_n1"))
    val base = (coalesce(col("_n1"), lit(0L)).cast("double") + 1.0d) /
      (col("_tot").cast("double") + col("_v").cast("double") + 1.0d)
    val bigramScore = when(col("_n2").isNotNull,
        col("_n2").cast("double") / col("_np").cast("double"))
      .otherwise(lit(alpha) * base)
    val s = when(col("prev").isNull, base)
      .otherwise(when(col("prev2").isNull, bigramScore)
        .otherwise(when(col("_n3").isNotNull,
            col("_n3").cast("double") / col("_nc").cast("double"))
          .otherwise(lit(alpha) * bigramScore)))
    toks.join(tri, Seq("prev2", "prev", "term"), "left_outer")
      .join(big, Seq("prev", "term"), "left_outer")
      .join(uni, Seq("term"), "left_outer")
      .crossJoin(totals) // 1-row totals table: literal-style broadcast
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_n3").isNotNull, 1L).otherwise(0L))
          .as("n_trigram_hits"),
        round(avg(-log(s) / ln2), 6).as("bits_per_token"))
  }

  /** Apply a LINEAR bag-of-words text classifier — the fastText-style
    * shallow quality/topic model of the LLaMA/RedPajama filtering stage
    * ("quality classifier"), as a pure dataflow: the trained model IS a
    * (term, weight) table plus a bias, score = sigmoid(bias + mean token
    * weight) with OOV terms contributing 0. Pair with
    * [[CorpusOps.keepHeadByScore]] (descending via negated score) or a
    * plain threshold filter to gate the corpus.
    *
    * Training happens offline (any logistic-regression/fastText trainer);
    * this operator is the 100 TB APPLY side, and its scale shape is the
    * same as [[unigramBitsPerToken]]: tokenize-explode into ONE equi-join
    * against the dimension-sized weights table (broadcast while small,
    * linear shuffled equi-join beyond), then a map-side-combinable per-doc
    * aggregate. No window, no collect, no UDF — sigmoid is builtin
    * exp/arithmetic, inside codegen.
    *
    * @return (id, n_tokens, n_hit — tokens with a weight, logit, score)
    *         with logit/score rounded to 6 dp (same cross-engine contract
    *         as [[wordEntropy]])
    */
  def classifyLinear(docs: DataFrame, weights: DataFrame,
                     bias: Double = 0.0,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val logit = lit(bias) +
      sum(coalesce(col("weight"), lit(0.0d))) / count(lit(1))
    toks.join(weights.select(col("term"), col("weight").cast("double")),
        Seq("term"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("weight").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        round(logit, 6).as("logit"),
        round(lit(1.0d) / (lit(1.0d) + exp(-logit)), 6).as("score"))
  }

  /** A trained multinomial Naive Bayes model: `classes` = per-class doc
    * and (retained-)token totals, `terms` = per-(term, class) token counts
    * — both pinned build-once artifacts (the `terms` table is
    * vocabulary × classes and joins broadcast-style while small).
    */
  final case class NbModel(classes: DataFrame, terms: DataFrame) {
    def release(): Unit = Pins.release(classes, terms)
  }

  /** Train a multinomial Naive Bayes text classifier from a labeled
    * corpus — the count-based classifier is the one classifier whose
    * TRAINING is itself a pure aggregation dataflow (two explode-agg
    * passes), so unlike the SGD family it trains at corpus scale with no
    * iteration and is exactly reproducible. `minCount` prunes the term
    * table (the class-conditional totals are computed over the retained
    * table, keeping train/apply smoothing consistent).
    */
  def trainNaiveBayes(docs: DataFrame, labelCol: String = "lang",
                      textCol: String = "text",
                      minCount: Long = 1L): NbModel = {
    val toks = docs.select(col(labelCol).as("class"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val terms = toks.groupBy("term", "class").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .localCheckpoint(true)
    val classes = docs.groupBy(col(labelCol).as("class"))
      .agg(count(lit(1)).as("n_docs"))
      .join(terms.groupBy("class").agg(sum(col("n")).as("n_tokens")),
        Seq("class"), "left_outer")
      .na.fill(0L, Seq("n_tokens"))
      .localCheckpoint(true)
    NbModel(classes, terms)
  }

  /** Apply a Naive Bayes model: per doc the argmax-class log-likelihood
    * `ln prior(c) + Σ_tokens ln p(term|c)` with add-one smoothing
    * `p(t|c) = (n_tc + 1)/(N_c + V + 1)` (OOV terms take n = 0; V =
    * retained vocabulary).
    *
    * Scale shape: tokens fan out by the (tiny, broadcast) class table —
    * a literal-style BNLJ, |classes| rows per token — then ONE equi-join
    * on (term, class) against the dimension-sized model, one
    * map-side-combinable (doc, class) aggregate, and the per-doc argmax
    * via `min_by` partial agg (highest likelihood, ties to the
    * lexicographically smallest class). No window, no UDF; exactly
    * SQL-replayable (same 6-dp rounding contract as [[wordEntropy]]).
    *
    * @return (id, n_tokens, pred_class, log_likelihood)
    */
  def classifyNaiveBayes(docs: DataFrame, model: NbModel,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val v = model.terms.agg(countDistinct(col("term")).as("_v"))
    val nDocs = model.classes.agg(sum(col("n_docs")).as("_nd"))
    val scored = toks
      .crossJoin(broadcast(model.classes)) // tiny class table: BNLJ fan-out
      .join(model.terms, Seq("term", "class"), "left_outer")
      .crossJoin(v).crossJoin(nDocs) // 1-row totals: literal-style
      .withColumn("_ll",
        log((coalesce(col("n"), lit(0L)).cast("double") + 1.0d) /
          (col("n_tokens").cast("double") + col("_v").cast("double") + 1.0d)))
      .groupBy(idCol, "class")
      .agg(count(lit(1)).as("n_toks"),
        (sum(col("_ll")) +
          first(log(col("n_docs").cast("double") / col("_nd").cast("double"))))
          .as("_score"))
    scored.groupBy(idCol)
      .agg(first(col("n_toks")).as("n_tokens"),
        min_by(struct(col("class").as("class"), col("_score").as("_s")),
          struct(-col("_score"), col("class"))).as("_best"))
      .select(col(idCol), col("n_tokens"),
        col("_best").getField("class").as("pred_class"),
        round(col("_best").getField("_s"), 6).as("log_likelihood"))
  }

  /** Hashed unigram + bigram feature stream of a corpus: one row per gram
    * occurrence, `bucket` ∈ [0, buckets). The hash is the portable
    * md5-prefix bucket (same cross-engine contract as
    * [[graft.ops.CorpusOps.hashSplit]]) so feature extraction is exactly
    * replayable in the SQL oracle. Bigrams come from zip_with over two
    * offset slices of the token array — a narrow transform, never a lag
    * window or positional self-join.
    */
  private def gramBuckets(df: DataFrame, buckets: Int, textCol: String,
                          idCols: Seq[String]): DataFrame = {
    val arr = split(lower(trim(col(textCol))), "\\s+")
    val unigrams = when(size(arr) > 0 && element_at(arr, 1) =!= "", arr)
      .otherwise(array().cast("array<string>"))
    val bigrams = when(size(arr) >= 2 && element_at(arr, 1) =!= "",
      zip_with(slice(arr, lit(1), size(arr) - 1),
        slice(arr, lit(2), size(arr) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    df.select(idCols.map(col) :+
        explode(concat(unigrams, bigrams)).as("gram"): _*)
      .withColumn("bucket",
        conv(substring(md5(col("gram")), 1, 4), 16, 10).cast("long")
          % buckets)
  }

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw doc
    * by how much more likely its hashed-n-gram bag is under the TARGET
    * distribution than under the RAW distribution —
    * `log w(doc) = Σ_grams [log p_target(bucket) − log p_raw(bucket)]`
    * with add-one smoothing over the `buckets` hashed unigram+bigram
    * features. Feed the result to [[graft.ops.CorpusOps.importanceResample]]
    * to draw the target-like subset.
    *
    * Scale shape: two explode-agg passes build the two bucket-count tables
    * (each ≤ `buckets` rows — dimension-class; totals are 1-row
    * literal-style broadcasts), the per-bucket log-ratio table pins once,
    * and scoring is ONE equi-join of the raw gram stream against that
    * broadcast table + a map-side-combinable per-doc aggregate. No window,
    * no UDF; only docs with ≥ 1 token are scored.
    *
    * @return (id, n_feats — gram occurrences, log_ratio rounded to 6 dp,
    *         same cross-engine contract as [[wordEntropy]])
    */
  def dsirLogRatio(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      "buckets must fit the 16-bit portable hash")
    // pinned (projected to 16-byte rows): the bucket-count aggregation
    // and the final scoring join both read the raw gram stream — lazy,
    // each re-ran the md5 feature hash over every gram of the corpus.
    // The target side is aggregated once into the (≤ buckets)-row count
    // table and pinned for the same reason (its lazy frame appeared
    // twice inside the ratio plan: the join side and the total).
    val rawG = gramBuckets(raw, buckets, textCol, Seq(idCol))
      .select(col(idCol), col("bucket"))
      .localCheckpoint(true)
    val tgtCnt = gramBuckets(target, buckets, textCol, Nil)
      .groupBy("bucket").agg(count(lit(1)).as("_nt"))
      .localCheckpoint(true)
    val rawCnt = rawG.groupBy("bucket").agg(count(lit(1)).as("_nr"))
    val rawTot = rawCnt.agg(sum(col("_nr")).as("_tr"))
    val tgtTot = tgtCnt.agg(coalesce(sum(col("_nt")), lit(0L)).as("_tt"))
    val b = lit(buckets.toDouble)
    val ratio = rawCnt.join(tgtCnt, Seq("bucket"), "left_outer")
      .crossJoin(rawTot).crossJoin(tgtTot) // 1-row totals: literal-style
      .withColumn("_lr",
        log((coalesce(col("_nt"), lit(0L)).cast("double") + 1.0d)
          / (col("_tt").cast("double") + b)) -
        log((col("_nr").cast("double") + 1.0d)
          / (col("_tr").cast("double") + b)))
      .select("bucket", "_lr")
      .localCheckpoint(true) // ≤ buckets rows, read by every scoring task
    Pins.release(tgtCnt) // ratio (its only consumer) is materialized
    rawG.join(broadcast(ratio), Seq("bucket"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("_lr")), 6).as("log_ratio"))
  }

  /** BM25 top-k retrieval of corpus documents for a (benchmark-sized)
    * query set — the lexical-retrieval workhorse behind retrieval-based
    * data selection, dedup candidate mining, and eval-contamination
    * triage. Okapi BM25 with the Lucene idf:
    *
    *   score(q, d) = Σ_{t ∈ distinct(q)} ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *                 · tf_td (k1 + 1) / (tf_td + k1 (1 − b + b · dl_d / avgdl))
    *
    * N and avgdl range over docs with ≥ 1 token (token = whitespace-split
    * lowercase, the shared tokenizer of this module); query term
    * multiplicity is ignored (distinct terms), the standard Okapi choice.
    *
    * Scale shape: one explode-agg builds the per-(doc, term) tf table;
    * the DISTINCT query-term table (benchmark-sized by contract)
    * broadcasts into a semi-prune of tf BEFORE anything wide, so df
    * counting and scoring shuffle only postings of query terms — the
    * inverted-index discipline of [[graft.ops.Dedup.decontaminate]].
    * Doc-length and 1-row corpus stats ride literal-style broadcasts; the
    * per-(query, doc) sum is map-side combinable; top-k is a per-query
    * window over candidate rows only. No UDF; scores round to 6 dp and
    * rank on the ROUNDED score (ties then doc id), the cross-engine
    * contract of [[wordEntropy]] — ln-based scores don't sit on the
    * decimal lattice.
    *
    * @return (query_id, doc-id column, bm25, rank) with rank ≤ k
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "text"): DataFrame = {
    // ONE tokenize pass: the probe consumes four index tables (postings,
    // docFreqs, docLens, stats), and handing it the lazy [[postingsOf]]
    // frames re-ran the corpus tokenize+tf aggregation once per table
    // (4 full passes per one-shot retrieval — chunked callers like the
    // RAG path paid the chunker 4x too). The tf table pins once and the
    // other three derive from the pinned rows, each one aggregation
    // (same derivations as [[buildPostingsIndex]], so scores are
    // unchanged).
    val tf = postingsOf(docs, idCol, textCol).postings.localCheckpoint(true)
    val dl = tf.groupBy(idCol).agg(sum(col("_tf")).as("_dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("_df"))
    val stats = dl
      .agg(count(lit(1)).as("_n"), coalesce(sum(col("_dl")), lit(0L))
        .as("_sum_dl"))
      .withColumn("_avgdl", when(col("_n") > 0,
        col("_sum_dl").cast("double") / col("_n").cast("double")))
    bm25Probe(PostingsIndex(tf, dl, dfT, stats, idCol), queries, k, k1, b,
      idCol, queryIdCol, queryTextCol)
  }

  /** A lexical (BM25) index: `postings` (term, doc id, _tf), `docLens`
    * (doc id, _dl), `docFreqs` (term, _df — vocabulary-sized, computed at
    * BUILD time so probes never re-aggregate postings for idf) and the
    * 1-row corpus `stats` (_n docs, _avgdl) — the build-once artifact of
    * [[bm25TopK]], the text twin of [[graft.ops.Similarity.IvfIndex]].
    * At 100 TB persist `postings` bucketed by term
    * ([[Bucketing.writeBucketed]]) so every probe's query-term join is
    * one-sided, and `docLens` bucketed by the doc id for the scoring
    * join; `docFreqs` broadcasts. `delta` holds the pins a DERIVED index
    * created: an append's batch legs plus the merged dictionary and stats
    * (new objects — the merge never touches the base's), or just the
    * merged dictionary and stats of a delta-merged load
    * ([[graft.ops.IndexStore.readPostingsIndexWithDelta]]).
    */
  final case class PostingsIndex(postings: DataFrame, docLens: DataFrame,
                                 docFreqs: DataFrame, stats: DataFrame,
                                 idCol: String,
                                 delta: Seq[DataFrame] = Nil) {
    /** See [[graft.ops.Similarity.IvfIndex.release]]: a built index
      * created all four tables, a derived one its `delta`. */
    def release(): Unit =
      if (delta.isEmpty) Pins.release(postings, docLens, docFreqs, stats)
      else releaseDelta()
    /** See [[graft.ops.Similarity.IvfIndex.releaseDelta]]. */
    def releaseDelta(): Unit = Pins.release(delta: _*)
  }

  /** The postings dataflow (not pinned — [[buildPostingsIndex]] pins;
    * [[graft.streaming.Streams.bm25AppendIngest]] pins just the tf leg).
    */
  private[graft] def postingsOf(docs: DataFrame, idCol: String,
                                textCol: String): PostingsIndex = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("_tf"))
    val dl = tf.groupBy(idCol).agg(sum(col("_tf")).as("_dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("_df"))
    // stats carry the ADDITIVE state (_n, _sum_dl) alongside the derived
    // _avgdl, so an append can merge two 1-row tables instead of
    // re-averaging the full docLens union. _avgdl = exact-integer-sum /
    // count is bit-identical to avg(_dl) below 2^53 total tokens (avg's
    // double-space partial sums are exact integers there) and strictly
    // better above.
    val stats = dl
      .agg(count(lit(1)).as("_n"), coalesce(sum(col("_dl")), lit(0L))
        .as("_sum_dl"))
      .withColumn("_avgdl", when(col("_n") > 0,
        col("_sum_dl").cast("double") / col("_n").cast("double")))
    PostingsIndex(tf, dl, dfT, stats, idCol)
  }

  /** Build (and pin) the [[PostingsIndex]] of a corpus — pay the
    * explode-agg passes once, probe many times ([[bm25Probe]]).
    *
    * The tf table pins FIRST and every other component derives from the
    * pinned rows: pinning the four [[postingsOf]] frames independently
    * would re-run the corpus tokenize+explode once per pin (each lazy
    * frame roots at the docs scan), i.e. four full corpus passes for one
    * build. Derived this way it is one tokenize pass + three
    * postings-sized aggregations — the derivations are the same
    * groupBy expressions [[postingsOf]] uses, so the tables are
    * identical.
    */
  def buildPostingsIndex(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): PostingsIndex = {
    val tf = postingsOf(docs, idCol, textCol).postings.localCheckpoint(true)
    val dl = tf.groupBy(idCol).agg(sum(col("_tf")).as("_dl"))
      .localCheckpoint(true)
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("_df"))
      .localCheckpoint(true)
    val stats = dl
      .agg(count(lit(1)).as("_n"), coalesce(sum(col("_dl")), lit(0L))
        .as("_sum_dl"))
      .withColumn("_avgdl", when(col("_n") > 0,
        col("_sum_dl").cast("double") / col("_n").cast("double")))
      .localCheckpoint(true)
    PostingsIndex(tf, dl, dfT, stats, idCol)
  }

  /** MAINTAIN a [[PostingsIndex]] under append — the lexical tier's
    * ivfAppend: every component is ADDITIVE, so a batch appends with one
    * postings pass over the NEW docs only (literally no corpus re-scan or
    * re-shuffle): postings/docLens pin the BATCH rows and union lazily
    * (at scale: an append into the bucketed postings tables,
    * [[graft.ops.IndexStore]]); corpus stats merge as two 1-row additive
    * states (_n, _sum_dl — _avgdl derived by one division); docFreqs
    * merge with batch-terms-only work — one broadcast of the batch term
    * counts bumps existing terms and one broadcast anti-join appends
    * novel terms, so the index side streams with NO shuffle and NO
    * re-aggregation (the broadcast is taken only while the batch
    * vocabulary is under `broadcastTermCap`; a shard-sized "batch"
    * falls back to the vocab-sized shuffle aggregation instead of
    * forcing an unbounded driver broadcast). Unlike the vector tiers
    * there is no model to go
    * stale — df/N/avgdl update EXACTLY, so a probe of the appended index
    * equals a probe of a fresh full build (bit-equal: _df and _sum_dl
    * are integer sums, exact below 2^53 total tokens, i.e. far past
    * 100 TB of text). Caller conventions match [[graft.ops.Similarity
    * .ivfAppend]]: batch ids unique vs the corpus, previous index
    * released by the caller.
    */
  def appendPostingsIndex(index: PostingsIndex, docs: DataFrame,
                          textCol: String = "text",
                          broadcastTermCap: Long = BroadcastTermCap
                         ): PostingsIndex = {
    // ONE tokenize pass over the batch: the tf leg pins first and the
    // docLens / docFreqs / stats legs derive from the pinned rows (the
    // buildPostingsIndex discipline — pinning the lazy postingsOf frames
    // independently re-ran the batch tokenize once per pin)
    val addPostings = postingsOf(docs, index.idCol, textCol).postings
      .localCheckpoint(true)
    val addDocLens = addPostings.groupBy(index.idCol)
      .agg(sum(col("_tf")).as("_dl")).localCheckpoint(true)
    val addStats = addDocLens
      .agg(count(lit(1)).as("_n"), coalesce(sum(col("_dl")), lit(0L))
        .as("_sum_dl"))
    val postings = index.postings.unionByName(addPostings)
    val docLens = index.docLens.unionByName(addDocLens)
    val addDf = addPostings.groupBy("term").agg(count(lit(1)).as("_df"))
      .localCheckpoint(true) // batch vocabulary
    // a "batch" is bounded by convention, but nothing enforces it — an
    // append of a whole shard (a day of crawl can carry 1e8+ distinct
    // terms) must not force an unbounded driver broadcast. The batch
    // vocabulary is already pinned, so counting it is one cheap job;
    // past the cap the merge takes mergeDocFreqs' shuffle aggregation
    // (identical result — spec-pinned at the boundary).
    val docFreqs = mergeDocFreqs(index.docFreqs, addDf,
      broadcastAdd = addDf.count() <= broadcastTermCap)
    val statsNew = mergeStats(additiveStatsOf(index), addStats)
    PostingsIndex(postings, docLens, docFreqs, statsNew, index.idCol,
      delta = Seq(addPostings, addDocLens, addDf, docFreqs, statsNew))
  }

  /** Batch-vocabulary size above which the append/drift paths stop
    * force-broadcasting it and fall back to a shuffle join/aggregation:
    * ~2M (term, count) rows ≈ tens of MB serialized — comfortably under
    * the driver/executor broadcast budget; anything bigger is a shard,
    * not a batch, and shuffles instead.
    */
  private[graft] val BroadcastTermCap: Long = 2000000L

  /** Dictionary merge with batch-terms-only work: one broadcast of the
    * (pinned) batch term counts bumps existing terms, one broadcast
    * anti-join appends novel terms — the big dictionary streams twice
    * with NO shuffle and NO re-aggregation. The merged dictionary pins
    * (it is vocabulary-sized — compact, and probes broadcast slices of
    * it).
    */
  private[graft] def mergeDocFreqs(baseDf: DataFrame, addDf: DataFrame,
                                   broadcastAdd: Boolean = true): DataFrame =
    if (broadcastAdd) {
      // one-batch vocabulary: broadcast it, stream the big dictionary
      val bump = broadcast(addDf.withColumnRenamed("_df", "_dfa"))
      val bumped = baseDf.join(bump, Seq("term"), "left")
        .select(col("term"),
          (col("_df") + coalesce(col("_dfa"), lit(0L))).as("_df"))
      val known = baseDf.join(bump, Seq("term"), "left_semi").select("term")
      val novel = addDf.join(broadcast(known), Seq("term"), "left_anti")
      bumped.unionByName(novel).localCheckpoint(true)
    } else {
      // unbounded add side (a whole stream's accumulated vocabulary):
      // never force a broadcast — one vocab-sized shuffle agg instead
      baseDf.unionByName(addDf)
        .groupBy("term").agg(sum(col("_df")).as("_df"))
        .localCheckpoint(true)
    }

  /** Merge two additive (_n, _sum_dl) corpus-stat states into a pinned
    * 1-row stats table with the derived _avgdl.
    */
  private[graft] def mergeStats(baseStats: DataFrame,
                                addStats: DataFrame): DataFrame =
    baseStats.select(col("_n"), col("_sum_dl"))
      .crossJoin(addStats.select(col("_n").as("_na"),
        col("_sum_dl").as("_sa")))
      .select((col("_n") + col("_na")).as("_n"),
        (col("_sum_dl") + col("_sa")).as("_sum_dl"))
      .withColumn("_avgdl", when(col("_n") > 0,
        col("_sum_dl").cast("double") / col("_n").cast("double")))
      .localCheckpoint(true)

  /** The index's additive (_n, _sum_dl) state — read from the stats
    * table when present; pre-upgrade artifacts persisted (_n, _avgdl)
    * only, for which one loud docLens re-aggregation recovers it.
    */
  private[graft] def additiveStatsOf(index: PostingsIndex): DataFrame =
    if (index.stats.columns.contains("_sum_dl"))
      index.stats.select(col("_n"), col("_sum_dl"))
    else
      index.docLens.agg(count(lit(1)).as("_n"),
        coalesce(sum(col("_dl")), lit(0L)).as("_sum_dl"))


  /** DRIFT report for a [[PostingsIndex]] under append cadence — the
    * lexical sibling of [[graft.ops.Similarity.indexDriftReport]]: the
    * postings append is exact (no model to go stale), but the RANKING
    * model drifts — idf rests on the indexed df distribution and the
    * length normalization on avgdl, so a batch whose vocabulary or
    * document lengths shifted degrades score quality until a
    * cap/stopword/parameter refresh. Two integer signals, one row:
    *
    *   - `oov_u6` = floor(1e6 · oov_tokens / batch_tokens) — the
    *     fraction of batch TOKENS whose term is absent from the index
    *     dictionary (those score at the df = 0 idf ceiling);
    *   - `dl_shift_u6` = floor(1e6 · |batch_avgdl − index_avgdl| /
    *     index_avgdl), computed as ONE DECIMAL integer division over
    *     the additive (_n, _sum_dl) states — no float path;
    *   - `rebuild` = either signal at or past its u6 threshold.
    *
    * Empty batch or empty index ⇒ zeros / false (no evidence is not
    * drift). Scale shape: one postings pass over the BATCH only, then
    * the batch term set (broadcast) semi/anti-joins the index
    * dictionary — the dictionary streams, nothing corpus-wide shuffles.
    * Pre-upgrade stats without `_sum_dl` fall back to one docLens
    * re-aggregation (the [[appendPostingsIndex]] convention).
    *
    * @return one row: (n_index_docs, n_batch_docs, n_batch_tokens,
    *         n_oov_tokens, n_batch_terms, n_oov_terms, oov_u6,
    *         dl_shift_u6, rebuild)
    */
  def postingsDriftReport(index: PostingsIndex, docs: DataFrame,
                          oovThresholdU6: Long = 100000L,
                          dlThresholdU6: Long = 250000L,
                          textCol: String = "text",
                          broadcastTermCap: Long = BroadcastTermCap): DataFrame = {
    // pin the batch tf once: the report consumes it twice (vocabulary +
    // per-doc lengths), and lazy each consumer would re-tokenize the
    // batch; released after the (pinned 1-row) report materializes
    val tf = postingsOf(docs, index.idCol, textCol).postings
      .localCheckpoint(true)
    val out = postingsDriftReportFrom(index, tf,
      oovThresholdU6, dlThresholdU6, broadcastTermCap)
    Pins.release(tf)
    out
  }

  /** [[postingsDriftReport]] over PRECOMPUTED batch tf rows
    * (idCol, term, _tf) — the streaming ingest shares one tokenize pass
    * between the delta sink and this report.
    */
  private[graft] def postingsDriftReportFrom(index: PostingsIndex,
                                             tf: DataFrame,
                                             oovThresholdU6: Long = 100000L,
                                             dlThresholdU6: Long = 250000L,
                                             broadcastTermCap: Long = BroadcastTermCap): DataFrame = {
    require(oovThresholdU6 >= 0 && oovThresholdU6 <= 1000000L &&
        dlThresholdU6 >= 0,
      "thresholds must sit on the u6 lattice (oov within [0, 1e6])")
    val dec = "decimal(38,0)"
    // batch vocabulary with its token mass — batch-sized, pinned (it
    // feeds the semi-prune, the anti-join and two aggregates)
    val bTerms = tf.groupBy("term")
      .agg(sum(col("_tf")).as("_toks"))
      .localCheckpoint(true)
    // known terms: stream the big dictionary against the batch
    // vocabulary; OOV = batch terms minus the known set (bounded by the
    // batch vocabulary either way). The public API accepts arbitrarily
    // large batch frames, so the broadcasts are GUARDED: past the cap
    // (counted on the pinned frame — one cheap job) the two joins run
    // unhinted and the planner shuffles — same rows, spec-pinned.
    val small = bTerms.count() <= broadcastTermCap
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val known = index.docFreqs
      .join(hinted(bTerms.select("term")), Seq("term"), "left_semi")
      .select("term")
    val oov = bTerms.join(hinted(known), Seq("term"), "left_anti")
    val bAgg = bTerms.agg(
      coalesce(sum(col("_toks")), lit(0L)).as("n_batch_tokens"),
      count(lit(1)).as("n_batch_terms"))
    val oovAgg = oov.agg(
      coalesce(sum(col("_toks")), lit(0L)).as("n_oov_tokens"),
      count(lit(1)).as("n_oov_terms"))
    val iStats =
      (if (index.stats.columns.contains("_sum_dl")) index.stats
       else index.docLens.agg(count(lit(1)).as("_n"),
         coalesce(sum(col("_dl")), lit(0L)).as("_sum_dl")))
        .select(col("_n").as("n_index_docs"), col("_sum_dl").as("_sum_i"))
    val bStats = tf.groupBy(index.idCol).agg(sum(col("_tf")).as("_dl"))
      .agg(count(lit(1)).as("n_batch_docs"),
        coalesce(sum(col("_dl")), lit(0L)).as("_sum_b"))
    val out = iStats.crossJoin(bStats).crossJoin(bAgg).crossJoin(oovAgg)
      .withColumn("oov_u6",
        when(col("n_batch_tokens") > 0,
          expr(s"CAST((CAST(1000000 AS $dec) * " +
            s"CAST(n_oov_tokens AS $dec)) DIV " +
            s"CAST(n_batch_tokens AS $dec) AS BIGINT)"))
        .otherwise(lit(0L)))
      .withColumn("dl_shift_u6",
        when(col("_sum_i") > 0 && col("n_index_docs") > 0 &&
            col("n_batch_docs") > 0,
          expr(s"CAST((CAST(1000000 AS $dec) * " +
            s"abs(CAST(_sum_b AS $dec) * CAST(n_index_docs AS $dec) - " +
            s"CAST(_sum_i AS $dec) * CAST(n_batch_docs AS $dec))) DIV " +
            s"(CAST(_sum_i AS $dec) * CAST(n_batch_docs AS $dec)) " +
            "AS BIGINT)"))
        .otherwise(lit(0L)))
      .withColumn("rebuild",
        col("oov_u6") >= oovThresholdU6 ||
          col("dl_shift_u6") >= dlThresholdU6)
      .select("n_index_docs", "n_batch_docs", "n_batch_tokens",
        "n_oov_tokens", "n_batch_terms", "n_oov_terms", "oov_u6",
        "dl_shift_u6", "rebuild")
      // pin the 1-row report, release the batch-vocabulary frame — no
      // pinned intermediates accumulate across ingest-cadence calls
      .localCheckpoint(true)
    Pins.release(bTerms)
    out
  }

  /** BM25 against a prebuilt [[PostingsIndex]] — the probe half of
    * [[bm25TopK]] (identical scores; see there for the formula and the
    * scale shape: broadcast semi-prune of postings to query terms before
    * anything wide, df counted over pruned postings, map-side-combinable
    * per-(query, doc) sum, rank on the 6-dp-rounded score).
    */
  def bm25Probe(index: PostingsIndex, queries: DataFrame, k: Int = 10,
                k1: Double = 1.2, b: Double = 0.75,
                idCol: String = "doc_id",
                queryIdCol: String = "query_id",
                queryTextCol: String = "text"): DataFrame = {
    require(k > 0 && k1 >= 0 && b >= 0 && b <= 1)
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(split(lower(trim(col(queryTextCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    // postings of query terms only: the broadcast semi-prune runs before
    // any shuffle, so scoring never touches non-query postings; idf comes
    // from the index's build-time df table (filtered to query terms — a
    // broadcast join, no per-probe aggregation over postings)
    val hit = index.postings
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
    val dfTab = index.docFreqs
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .select(col("term"), col("_df"))
    val idf = log(lit(1.0d) +
      (col("_n").cast("double") - col("_df") + 0.5d) / (col("_df") + 0.5d))
    val w = idf * col("_tf").cast("double") * (k1 + 1.0d) /
      (col("_tf").cast("double") +
        lit(k1) * (lit(1.0d - b) + lit(b) * col("_dl") / col("_avgdl")))
    val scored = hit
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfTab), Seq("term"))
      .join(index.docLens, Seq(index.idCol))
      .crossJoin(index.stats) // 1-row corpus stats: literal-style broadcast
      .groupBy("query_id", index.idCol)
      .agg(round(sum(w), 6).as("bm25"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col(index.idCol))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(index.idCol).as(idCol), col("bm25"),
        col("rank"))
  }

  /** ROUGE-N overlap COUNTS for aligned text pairs (summary-vs-source
    * eval, paraphrase-mining verification, near-dup diagnostics):
    * per pair the clipped multiset n-gram intersection `n_overlap` =
    * Σ_g min(count_a(g), count_b(g)) plus each side's total n-gram count.
    * INTEGERS ONLY by design — ROUGE precision/recall/F1 are the
    * consumer's divisions (`n_overlap/n_b`, `n_overlap/n_a`), because
    * published ratios of small integers sit exactly on the 6-dp rounding
    * lattice where cross-engine hashes flake (the [[classifyLinear]] /
    * corpusReport lesson).
    *
    * Scale shape: BOTH sides live on the same pair row, so one explode
    * pass emits every gram tagged with its side and one aggregation
    * produces the per-(pair, gram) count pair — the clip is then a plain
    * per-pair sum of min(count_a, count_b), where a gram present on only
    * one side contributes min(c, 0) = 0, exactly the rows the old
    * two-pass inner join dropped. Half the explode passes, one shuffle
    * instead of two aggregations + an equi-join (guide §2.4). Tokens are
    * the module's shared whitespace tokenizer.
    *
    * @return (idCol, n_overlap, n_a, n_b) — pairs where either side has
    *         no n-gram report zeros for that side
    */
  def rougeNCounts(pairs: DataFrame, n: Int = 2, idCol: String = "pair_id",
                   aCol: String = "text_a", bCol: String = "text_b"): DataFrame = {
    require(n > 0)
    // token array let-bound (1-element transform): the gram lambda
    // referencing the split() subtree re-ran it per element (O(len²)
    // per doc — higher-order functions are interpreted)
    def gramsOf(c: String): Column = flatten(transform(
      array(filter(split(lower(trim(col(c))), "\\s+"), t => t =!= "")),
      arr =>
        when(size(arr) >= n,
          transform(sequence(lit(1), size(arr) - (n - 1)), i =>
            array_join(slice(arr, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))))
    // one UNION of the two side explodes feeds ONE aggregation: the side
    // tag replaces the old per-(pair, gram) equi-join of two separately
    // aggregated sides (one shuffle instead of two aggregations + a
    // join, guide §2.4); each explode generator stays the plain
    // single-array expression of the old per-side pass (a combined
    // two-side array row was measured 5-8× slower under memory pressure)
    def sideRows(c: String, a: Long): DataFrame =
      pairs.select(col(idCol), lit(a).as("_a"), explode(gramsOf(c)).as("_g"))
    val sided = sideRows(aCol, 1L).unionByName(sideRows(bCol, 0L))
    val overlap = sided.groupBy(idCol, "_g")
      .agg(sum(col("_a")).as("_ca"), sum(lit(1L) - col("_a")).as("_cb"))
      .groupBy(idCol).agg(sum(least(col("_ca"), col("_cb"))).as("n_overlap"))
    val totals = pairs.select(col(idCol),
      greatest(size(filter(split(lower(trim(col(aCol))), "\\s+"),
        t => t =!= "")) - (n - 1), lit(0)).cast("long").as("n_a"),
      greatest(size(filter(split(lower(trim(col(bCol))), "\\s+"),
        t => t =!= "")) - (n - 1), lit(0)).cast("long").as("n_b"))
    totals.join(overlap, Seq(idCol), "left_outer")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .select(col(idCol), col("n_overlap"), col("n_a"), col("n_b"))
  }

  /** BLEU-N overlap COUNTS for aligned (candidate, reference) text pairs
    * (Papineni et al. 2002 — the generation-eval staple next to
    * [[rougeNCounts]]): for every n in 1..`maxN`, the CLIPPED candidate
    * n-gram match count `n_match` = Σ_g min(count_cand(g), count_ref(g))
    * and the modified-precision denominator `n_cand` (total candidate
    * n-grams), plus the candidate/reference token lengths for the
    * brevity penalty. INTEGERS ONLY by the data-card rule — precision
    * p_n = n_match/n_cand, BP = exp(1 − ref_len/cand_len), and the
    * geometric mean are the consumer's float divisions (ratios of small
    * integers sit on the 6-dp rounding lattice where cross-engine
    * hashes flake; the [[rougeNCounts]] precedent).
    *
    * Scale shape (one generalization of [[rougeNCounts]]'s): BOTH sides
    * explode in ONE pass to side-tagged (pair, n, gram) positional
    * n-grams for all n, and one aggregation produces the per-(pair, n,
    * gram) count pair; the clip is a per-(pair, n) sum of
    * min(count_cand, count_ref) — one-sided grams contribute 0, exactly
    * the rows the old two-pass inner join dropped. Half the explode
    * passes, one shuffle instead of two aggregations + an equi-join
    * (guide §2.4). Tokens are the module's shared whitespace tokenizer.
    *
    * @return one row per (idCol, n ∈ 1..maxN): (idCol, n, n_match,
    *         n_cand, cand_len, ref_len); sides too short for n report
    *         zeros
    */
  def bleuCounts(pairs: DataFrame, maxN: Int = 4, idCol: String = "pair_id",
                 candCol: String = "text_a",
                 refCol: String = "text_b"): DataFrame = {
    require(maxN >= 1 && maxN <= 16, s"need 1 <= maxN <= 16 (got $maxN)")
    val gramType = "array<struct<n:int,_g:string>>"
    // all n in one expression tree (source scans once however large maxN
    // is); the token array is let-bound so the per-gram lambda reads a
    // variable instead of re-running the split() subtree (see
    // [[rougeNCounts]])
    def gramsOf(c: String): Column = flatten(transform(
      array(filter(split(lower(trim(col(c))), "\\s+"), t => t =!= "")),
      arr =>
        flatten(transform(sequence(lit(1), lit(maxN)), nn =>
          when(size(arr) >= nn,
            transform(sequence(lit(1), size(arr) - nn + 1), i =>
              struct(nn.as("n"),
                array_join(slice(arr, i, nn), " ").as("_g"))))
            .otherwise(array().cast(gramType))))))
    // one UNION of the two side explodes feeds ONE aggregation (see
    // [[rougeNCounts]]): the side tag replaces the old per-(pair, n,
    // gram) equi-join of two separately aggregated sides
    def sideRows(c: String, a: Long): DataFrame =
      pairs.select(col(idCol), lit(a).as("_a"), explode(gramsOf(c)).as("_s"))
        .select(col(idCol), col("_s.n").as("n"), col("_s._g").as("_g"),
          col("_a"))
    val sided = sideRows(candCol, 1L).unionByName(sideRows(refCol, 0L))
    val overlap = sided.groupBy(idCol, "n", "_g")
      .agg(sum(col("_a")).as("_ca"), sum(lit(1L) - col("_a")).as("_cb"))
      .groupBy(idCol, "n")
      .agg(sum(least(col("_ca"), col("_cb"))).as("n_match"))
    def toks(c: String): Column =
      size(filter(split(lower(trim(col(c))), "\\s+"), t => t =!= ""))
        .cast("long")
    val totals = pairs
      .select(col(idCol), toks(candCol).as("cand_len"),
        toks(refCol).as("ref_len"))
      .select(col(idCol), explode(sequence(lit(1), lit(maxN))).as("n"),
        col("cand_len"), col("ref_len"))
      .withColumn("n_cand",
        greatest(col("cand_len") - col("n") + 1, lit(0L)))
    totals.join(overlap, Seq(idCol, "n"), "left_outer")
      .select(col(idCol), col("n"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        col("n_cand"), col("cand_len"), col("ref_len"))
  }

  /** chrF COUNTS for aligned (candidate, reference) pairs (Popović 2015
    * — the character-level generation metric that survives morphology
    * and tokenizer mismatch, the third of the eval trio next to
    * [[bleuCounts]] and [[rougeNCounts]]): for every n in 1..`maxN`
    * (chrF's published default is 6), the clipped char-n-gram match
    * count plus each side's total — chrP = n_match/n_cand,
    * chrR = n_match/n_ref, and the harmonic mean are the consumer's
    * divisions (integer-only by the data-card rule).
    *
    * Char n-grams are taken over the lowercased text with ALL
    * whitespace removed (sacreBLEU's chrF default of ignoring
    * whitespace, plus the module's lowercasing convention); positions
    * are UTF-16-unit based on the Spark side and code-point based in
    * DuckDB — identical on the BMP text the oracles run on.
    *
    * Same one-pass all-n side-tagged explode shape as [[bleuCounts]]
    * (both sides in one pass, clip = per-(pair, n) sum of min counts —
    * one-sided grams contribute 0).
    *
    * @return one row per (idCol, n): (idCol, n, n_match, n_cand, n_ref)
    */
  def chrfCounts(pairs: DataFrame, maxN: Int = 6, idCol: String = "pair_id",
                 candCol: String = "text_a",
                 refCol: String = "text_b"): DataFrame = {
    require(maxN >= 1 && maxN <= 16, s"need 1 <= maxN <= 16 (got $maxN)")
    val gramType = "array<struct<n:int,_g:string>>"
    // the squashed text is let-bound (1-element transform over a string):
    // the per-gram lambda's substr referenced the regexp_replace subtree,
    // re-running the whitespace-strip regex per character position
    // (O(len²) regex work per pair — see [[rougeNCounts]])
    def gramsOf(c: String): Column = flatten(transform(
      array(regexp_replace(lower(trim(col(c))), "\\s+", "")), t =>
        flatten(transform(sequence(lit(1), lit(maxN)), nn =>
          when(length(t) >= nn,
            transform(sequence(lit(1), length(t) - nn + 1), i =>
              struct(nn.as("n"), t.substr(i, nn).as("_g"))))
            .otherwise(array().cast(gramType))))))
    // one UNION of the two side explodes feeds ONE aggregation (see
    // [[rougeNCounts]]): the side tag replaces the old per-(pair, n,
    // gram) equi-join of two separately aggregated sides
    def sideRows(c: String, a: Long): DataFrame =
      pairs.select(col(idCol), lit(a).as("_a"), explode(gramsOf(c)).as("_s"))
        .select(col(idCol), col("_s.n").as("n"), col("_s._g").as("_g"),
          col("_a"))
    val sided = sideRows(candCol, 1L).unionByName(sideRows(refCol, 0L))
    val overlap = sided.groupBy(idCol, "n", "_g")
      .agg(sum(col("_a")).as("_ca"), sum(lit(1L) - col("_a")).as("_cb"))
      .groupBy(idCol, "n")
      .agg(sum(least(col("_ca"), col("_cb"))).as("n_match"))
    def chars(c: String): Column =
      length(regexp_replace(lower(trim(col(c))), "\\s+", "")).cast("long")
    val totals = pairs
      .select(col(idCol), chars(candCol).as("_la"), chars(refCol).as("_lb"))
      .select(col(idCol), explode(sequence(lit(1), lit(maxN))).as("n"),
        col("_la"), col("_lb"))
      .select(col(idCol), col("n"),
        greatest(col("_la") - col("n") + 1, lit(0L)).as("n_cand"),
        greatest(col("_lb") - col("n") + 1, lit(0L)).as("n_ref"))
    totals.join(overlap, Seq(idCol, "n"), "left_outer")
      .select(col(idCol), col("n"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        col("n_cand"), col("n_ref"))
  }

  /** ROUGE-L COUNTS for aligned pairs (Lin 2004 §3.1 — the
    * subsequence-based member of the eval trio): per pair the LCS
    * length of the lowercased whitespace token sequences plus both
    * token counts; P = lcs_len/n_a, R = lcs_len/n_b, and F are the
    * consumer's divisions. Unlike n-gram overlap, LCS rewards in-ORDER
    * matches without requiring adjacency — the metric that separates a
    * reordered paraphrase from a shuffled bag of words.
    *
    * One narrow codegen projection (the [[graft.functions.LcsTokens]]
    * kernel — two-row DP, each side capped at
    * [[graft.functions.CorpusKernels.MaxLcsTokens]] tokens, so one
    * adversarial mega-pair cannot stall an executor core; ROUGE pairs
    * are summary-sized by nature). No shuffle at all. Exact-oracled at
    * the gate (the DP unrolls as a recursive antidiagonal CTE — see
    * q_rouge_l's oracle); goldens additionally pin the DP and the cap.
    *
    * @return (idCol, lcs_len, n_a, n_b)
    */
  def rougeLCounts(pairs: DataFrame, idCol: String = "pair_id",
                   aCol: String = "text_a",
                   bCol: String = "text_b"): DataFrame = {
    import graft.functions.CorpusFunctions.lcs_tokens
    def toks(c: String): Column =
      size(filter(split(lower(trim(col(c))), "\\s+"), t => t =!= ""))
        .cast("long")
    pairs.select(col(idCol),
      lcs_tokens(col(aCol), col(bCol)).as("lcs_len"),
      toks(aCol).as("n_a"), toks(bCol).as("n_b"))
  }

  /** χ² FEATURE SELECTION for text classification (the classical vocab
    * pruning step before training a [[classifyLinear]]/[[trainNaiveBayes]]
    * model): per (term, label) the chi-square statistic of the 2×2
    * document-presence contingency table
    *
    *   a = docs of the label containing the term, b = other docs with it,
    *   c = label docs without it,             d = the rest
    *   χ² = N (ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * keeping the top `k` terms per label (χ² desc, term asc). χ² here is
    * a PER-ROW expression over exact integer counts — a fixed IEEE
    * expression tree, so unlike aggregated floats it is bit-identical
    * across engines and rounds safely (6 dp, ranking on the rounded
    * value).
    *
    * Scale shape: one explode-distinct pass to per-(doc, term) presence,
    * two map-side-combinable aggregations (term×label counts, label
    * totals — the latter dimension-sized, broadcast back), a narrow χ²
    * projection, and one top-k window per label (WindowGroupLimit prunes
    * below the shuffle). `minDocFreq` drops the hapax tail before the
    * wide stages.
    *
    * @return (label, term, n_label_docs_with_term, chi2, rank ≤ k)
    */
  def chiSquareTerms(docs: DataFrame, labelCol: String = "lang", k: Int = 20,
                     minDocFreq: Long = 2L, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(k > 0 && minDocFreq >= 1)
    val presence = docs.select(col(idCol), col(labelCol).as("label"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .distinct() // document PRESENCE, not token frequency
    val tl = presence.groupBy("term", "label").agg(count(lit(1)).as("_a"))
    // term totals ride a term-partitioned window over tl instead of a
    // groupBy + vocabulary-sized self-join: the (corpus explode +
    // distinct + aggregate) tl subtree then executes ONCE, not once per
    // join side, and the join's exchanges disappear (guide §2.4)
    val termTot = sum(col("_a")).over(Window.partitionBy("term"))
    // label totals are label-dimension-sized with two consumers (the
    // scoring join and the corpus total below) — pin the tiny frame so
    // the docs scan behind it runs once
    val labelTot = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("_l"))
      .localCheckpoint(true)
    // corpus doc count = sum of the label counts (null labels are a
    // groupBy group, so the sum is exactly count(*)) — derived from the
    // pin instead of a third scan of the docs subtree
    val nTot = labelTot.agg(sum(col("_l")).as("_n"))
    val a = col("_a").cast("double")
    val b = (col("_t") - col("_a")).cast("double")
    val c = (col("_l") - col("_a")).cast("double")
    val dd = (col("_n") - col("_t") - col("_l") + col("_a")).cast("double")
    // explicit x*x, not pow(x, 2): libm pow is not guaranteed identical
    // to multiplication across engines; the multiply chain is left-assoc
    // on both sides so the (one) inexact product rounds identically
    val diff = a * dd - b * c
    val chi2 = round(
      col("_n").cast("double") * diff * diff /
        ((a + b) * (c + dd) * (a + c) * (b + dd)), 6)
    val scored = tl
      .withColumn("_t", termTot)
      .filter(col("_t") >= minDocFreq) // the minDocFreq prune
      .join(labelTot, Seq("label"))
      .crossJoin(nTot) // 1-row total: literal-style broadcast
      .withColumn("chi2", chi2)
    val w = Window.partitionBy("label")
      .orderBy(col("chi2").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("term"),
        col("_a").as("n_label_docs_with_term"), col("chi2"), col("rank"))
  }

  /** Top-k collocations by pointwise mutual information (Church & Hanks
    * 1990) — the corpus-analysis staple for multiword-expression mining
    * and tokenizer-merge candidates: adjacent word pairs whose joint
    * frequency beats the independence prediction,
    *
    *   pmi(x,y) = log2( (n_xy · T) / (n_x · n_y) )
    *
    * with n_xy the bigram count, n_x/n_y unigram counts and T the TOTAL
    * bigram count (computed before the `minCount` prune so the
    * independence normalizer is the true corpus mass). `minCount` kills
    * the hapax pairs PMI notoriously over-ranks.
    *
    * Scale shape: one tokenize/explode pass whose (prev, term) counts
    * subsume both tables ([[buildBigramLm]]'s trick), two
    * vocabulary-sized equi-joins, a 1-row total riding a crossJoin, and a
    * global top-k that plans as TakeOrderedAndProject — no window, no
    * per-pair state. Ranking is on the 6-dp ROUNDED score (ties then
    * (prev, term)) so both engines order identically.
    *
    * @return (prev, term, n_pair, pmi) — the k highest-PMI adjacent pairs
    */
  def pmiCollocations(docs: DataFrame, k: Int = 50, minCount: Long = 5L,
                      textCol: String = "text"): DataFrame = {
    require(k > 0 && minCount >= 1)
    val ln2 = lit(0.6931471805599453)
    val pairCounts = tokenPairs(docs, Nil, textCol)
      .groupBy("prev", "term").agg(count(lit(1)).as("_n"))
      .localCheckpoint(true) // vocabulary-sized; subsumes all three tables
    val uni = pairCounts.groupBy("term").agg(sum(col("_n")).as("_nt"))
    val tot = pairCounts.filter(col("prev").isNotNull)
      .agg(sum(col("_n")).cast("double").as("_T"))
    val bi = pairCounts.filter(col("prev").isNotNull)
      .filter(col("_n") >= minCount)
    val out = bi
      .join(uni.select(col("term").as("prev"), col("_nt").as("_np")),
        Seq("prev"))
      .join(uni, Seq("term"))
      .crossJoin(tot) // 1-row total: literal-style broadcast
      .withColumn("pmi", round(
        log((col("_n").cast("double") * col("_T")) /
          (col("_np").cast("double") * col("_nt").cast("double"))) / ln2, 6))
      .select(col("prev"), col("term"), col("_n").as("n_pair"), col("pmi"))
    val top = out.orderBy(col("pmi").desc, col("prev"), col("term"))
      .limit(k).localCheckpoint(true)
    Pins.release(pairCounts)
    top
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): words are
    * vertices, adjacent co-occurrence counts are undirected edge
    * weights, and weighted PageRank scores centrality — the classic
    * unsupervised keyword ranker, here as a pure composition of the
    * repo's own primitives (the [[pmiCollocations]] pair table feeding
    * [[graft.graph.GraphOps.pageRank]]).
    *
    * Scale shape: the corpus collapses to a VOCABULARY-sized weighted
    * pair table in one explode-agg pass (the LM-builder shape); every
    * PageRank round then runs over that small graph, never over the
    * corpus. `minCount` prunes hapax edges before iteration. Top-k
    * ranks on the 6-dp ROUNDED score (ties then term — deterministic,
    * the repo oracle convention).
    *
    * `scale = Some(S)` switches the underlying
    * [[graft.graph.GraphOps.pageRank]] to its FIXED-POINT mode and
    * emits `textrank` as the scaled LONG (units of 1/S) — pure integer
    * arithmetic end to end, so the whole extraction (graph build, every
    * round, the top-k tie-break) replays bit-for-bit as unrolled SQL:
    * the contract-certification seam. Default stays the double mode.
    *
    * @return (term, textrank) — k rows, textrank on the rounded lattice
    *         (double mode) or the 1/S integer lattice (fixed mode)
    */
  def textRankKeywords(docs: DataFrame, k: Int = 20, minCount: Long = 2L,
                       maxIter: Int = 30,
                       textCol: String = "text",
                       scale: Option[Long] = None): DataFrame = {
    require(k > 0 && minCount >= 1 && maxIter >= 1)
    val pairCounts = tokenPairs(docs, Nil, textCol)
      .filter(col("prev").isNotNull && col("prev") =!= col("term"))
      .groupBy("prev", "term").agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minCount)
      .localCheckpoint(true) // vocabulary-sized; pageRank iterates on it
    val ranks = graft.graph.GraphOps.pageRank(pairCounts,
      srcCol = "prev", dstCol = "term", weightCol = Some("_n"),
      tol = 0.0, maxIter = maxIter, scale = scale)
    val score =
      if (scale.isDefined) col("pagerank") // already the 1/S lattice
      else round(col("pagerank"), 6)
    val top = ranks
      .select(col("vertex").cast("string").as("term"),
        score.as("textrank"))
      .orderBy(col("textrank").desc, col("term")).limit(k)
      .localCheckpoint(true)
    Pins.release(pairCounts)
    top
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009 /
    * fastText's input layer): token → md5 bucket, no vocabulary build,
    * no dictionary join — the featurizer of choice at 100 TB because it
    * is a single stateless pass whose output width is fixed up front
    * (collisions are the accepted price; nBuckets is the knob).
    * Bucket = first 8 md5 hex digits mod nBuckets — the repo's standard
    * cross-engine hash lattice, bit-reproducible in any engine with md5.
    *
    * Scale shape: explode → one map-side-combinable (id, bucket) count.
    * No shuffle wider than the output itself; contrast [[encodeDocs]],
    * which needs the vocab build + a dictionary equi-join.
    *
    * @return (idCol, bucket, n) sparse long-form features
    */
  def hashFeatures(docs: DataFrame, nBuckets: Int = 256,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(nBuckets > 0)
    docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .withColumn("bucket",
        (conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long")
          % nBuckets).cast("int"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("n"))
  }

  /** Language distribution report (predicted vs labeled when available). */
  def langReport(docs: DataFrame, textCol: String = "text",
                 labelCol: String = "lang"): DataFrame = {
    val base = docs.withColumn("lang_pred", lang_id(col(textCol)))
    if (docs.columns.contains(labelCol))
      base.groupBy(labelCol, "lang_pred").count()
    else base.groupBy("lang_pred").count()
  }

  /** Distinct-n diversity counts per group — the generation-diversity
    * metric (Li et al. 2016, "distinct-1/2"): how repetitive is a
    * model's (or a source's) output? Published as INTEGERS per
    * (group, n): `n_distinct` unique word n-grams and `n_total` n-gram
    * occurrences; distinct-n = n_distinct / n_total is the consumer's
    * division (data-card rule). Low distinct-2 on a generation dump is
    * the canonical mode-collapse smell; on a crawl source it flags
    * boilerplate farms.
    *
    * Tokens are lowercased whitespace words (the repo's shared
    * convention); all n in 1..maxN come from ONE positional explode
    * (the chrfCounts shape) so the corpus is scanned once. The
    * aggregate collapses to the (group, n, gram) lattice first —
    * vocabulary-sized, map-side combinable — then to (group, n).
    * Groups with no tokens emit nothing for the ns they can't fill
    * (a 3-word doc has no 4-grams), matching the oracle exactly.
    *
    * @return (group, n, n_distinct, n_total), n in 1..maxN
    */
  def distinctN(docs: DataFrame, groupCol: String, textCol: String,
                maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"distinctN: maxN 1..8, got $maxN")
    val w = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => t =!= "")
    val grams = docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("group"), w.as("_w"))
      // sequence(1, 0) is DESCENDING in Spark — zero-token docs must
      // be filtered, not fed to the n fan-out
      .filter(size(col("_w")) >= 1)
      .select(col("group"), col("_w"),
        explode(sequence(lit(1), least(lit(maxN), size(col("_w")))))
          .as("n"))
      .select(col("group"), col("n"),
        explode(transform(
          sequence(lit(1), size(col("_w")) - col("n") + 1),
          i => concat_ws(" ", slice(col("_w"), i, col("n")))))
          .as("_g"))
    grams.groupBy("group", "n", "_g").agg(count(lit(1)).as("_c"))
      .groupBy("group", "n")
      .agg(count(lit(1)).as("n_distinct"), sum(col("_c")).as("n_total"))
  }

  /** Sentence-level shape counts: `n_sentences` (runs of terminal
    * punctuation `[.!?]+` — anchor-free so Java and RE2 agree; a
    * lookbehind split would not port) and `n_words` (whitespace tokens —
    * split on the EXPLICIT class `[ \t\n\f\r]+`, not `\s`: Java's `\s`
    * includes U+000B where RE2's does not, so the shorthand diverges
    * cross-engine on vertical tabs). Mean words-per-sentence is the
    * consumer's division (the
    * integer data-card rule); a words/sentences ratio outside ~[4, 60]
    * is a classic boilerplate/table-scrape signal alongside the Gopher
    * flags. One narrow codegen pass; null texts dropped.
    *
    * @return input + (n_sentences, n_words)
    */
  def sentenceStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val reserved = Seq("n_sentences", "n_words")
    val hit = docs.columns.toSet.intersect(reserved.toSet)
    require(hit.isEmpty,
      s"sentenceStats reserves ${reserved.mkString(", ")}; rename: " +
        hit.mkString(", "))
    val t = col(textCol)
    docs.filter(t.isNotNull)
      .withColumn("n_sentences",
        size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long"))
      // split("") yields [""] — an empty doc must count 0 words, not 1
      .withColumn("n_words",
        when(length(trim(t)) === 0, 0L)
          .otherwise(size(split(trim(t), "[ \\t\\n\\f\\r]+")).cast("long")))
  }

  /** Keyword-in-context (KWIC) concordance: every occurrence of every
    * phrase with its 0-based offset and `window` characters of context
    * on each side — the evidence view behind a blocklist or
    * decontamination decision (reviewers adjudicate "is this hit real?"
    * from the surrounding text, not from a count).
    *
    * One narrow pass: the [[graft.functions.AcHitPositions ac_hit
    * _positions]] kernel (Aho–Corasick, O(|text| + hits) independent of
    * phrase count) emits (start, phrase) structs inside codegen; the
    * explode is output-sized (hits, not positions). Matching is exact
    * `contains` semantics over the text AS GIVEN — lowercase both sides
    * upstream for case-insensitive hits (done outside so offsets refer
    * to the text the caller sees). Null texts are dropped.
    *
    * @return (idCol, phrase, start, left_ctx, right_ctx)
    */
  def kwicWindows(docs: DataFrame, phrases: Seq[String], window: Int = 30,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "kwicWindows needs at least one phrase")
    require(phrases.forall(_.nonEmpty),
      "kwicWindows phrases must be non-empty (an empty phrase matches everywhere)")
    require(window > 0 && window <= 10000,
      s"need 0 < window <= 10000 (got $window)")
    import graft.functions.CorpusFunctions.ac_hit_positions
    val t = col(textCol)
    docs.filter(t.isNotNull)
      .select(col(idCol), t.as("_t"),
        explode(ac_hit_positions(t, phrases)).as("_h"))
      .select(col(idCol),
        col("_h.phrase").as("phrase"),
        col("_h.start").as("start"),
        col("_t").substr(greatest(col("_h.start") + 1 - window, lit(1)),
          least(lit(window), col("_h.start"))).as("left_ctx"),
        col("_t").substr(col("_h.start") + length(col("_h.phrase")) + 1,
          lit(window)).as("right_ctx"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022): re-order each
    * document as `<PRE> prefix <SUF> suffix <MID> middle` (PSM mode), so
    * a left-to-right LM learns infilling. The two cut points are
    * DETERMINISTIC — decoded from two independent 8-hex (32-bit) windows
    * of md5(id) mod (len+1), the corpus's standard split-lattice recipe
    * (32 bits cover any realistic document length with negligible modulo
    * bias; a 16-bit window would confine cuts to the first 64 K chars) —
    * so the transform is a pure function of (id, text): reproducible
    * across runs and engines (exact-oracle-checkable, unlike an RNG
    * draw), and re-running an incremental refresh never re-cuts
    * existing documents differently.
    *
    * One narrow codegen pass: md5 + two substrings + concat. Null texts
    * are dropped (the transform is undefined); empty texts pass through
    * as pure sentinels (lo = hi = 0).
    *
    * @return input + (fim_lo, fim_hi, fim_text)
    */
  def fimTransform(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   preTok: String = "<PRE>", sufTok: String = "<SUF>",
                   midTok: String = "<MID>"): DataFrame = {
    val reserved = Seq("fim_lo", "fim_hi", "fim_text")
    val hit = docs.columns.toSet.intersect(reserved.toSet)
    require(hit.isEmpty,
      s"fimTransform reserves ${reserved.mkString(", ")}; rename: " +
        hit.mkString(", "))
    val t = col(textCol)
    val n = length(t)
    def hex8(off: Int): Column =
      conv(substring(md5(col(idCol).cast("string")), off, 8), 16, 10)
        .cast("long")
    val p1 = (hex8(1) % (n + 1)).cast("int")
    val p2 = (hex8(9) % (n + 1)).cast("int")
    docs.filter(t.isNotNull)
      .withColumn("fim_lo", least(p1, p2))
      .withColumn("fim_hi", greatest(p1, p2))
      .withColumn("fim_text",
        concat(lit(preTok), t.substr(lit(1), col("fim_lo")),
          lit(sufTok), t.substr(col("fim_hi") + 1, length(t)),
          lit(midTok),
          t.substr(col("fim_lo") + 1, col("fim_hi") - col("fim_lo"))))
  }
}
