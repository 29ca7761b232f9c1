package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation operators for training-data pipelines: deterministic
  * splits, stratified sampling, distribution-based filtering, and text
  * scrubbing. All are narrow or single-shuffle dataflows; every one is
  * deterministic (hash-driven, not RNG-driven) so runs are reproducible
  * and oracle-checkable — the property a 100 TB pipeline needs to make
  * retries and backfills idempotent.
  */
object CorpusOps {

  /** The repo's shared 16-bit md5 bucket: first 4 hex chars of
    * md5(key) as a long in [0, 65536) — every hash-lattice assignment
    * (splits, strata, folds) derives from this one expression so the
    * DuckDB oracles replay a single decode.
    */
  private def md5Bucket(keyCol: String): Column =
    conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("long")

  /** Deterministic train/val/test assignment from a stable key hash.
    * md5 (not an RNG) so membership is a pure function of the key: adding
    * or removing rows never reshuffles other rows' assignments — the
    * property that keeps incremental corpus refreshes leak-free.
    *
    * @param trainPct/valPct integer percents; test gets the remainder
    */
  def hashSplit(keyCol: String, trainPct: Int = 80,
                valPct: Int = 10): Column = {
    require(trainPct + valPct <= 100, "train+val must be <= 100")
    val bucket = md5Bucket(keyCol) % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic stratified downsample: keep a per-stratum fraction,
    * chosen by key hash (reproducible; no sampleBy RNG). ratePct is an
    * integer percent per stratum value; strata absent from the map keep
    * defaultPct.
    */
  def stratifiedKeep(keyCol: String, stratumCol: String,
                     ratePct: Map[String, Int], defaultPct: Int): Column = {
    val bucket = md5Bucket(keyCol) % 100
    val rate = ratePct.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    bucket < rate
  }

  /** Exact within-stratum length-percentile band filter: keep rows whose
    * text length falls inside [lowPct, highPct] of the stratum's length
    * distribution (Gopher-style outlier trimming, exact rather than
    * approximate so the result is reproducible). One window shuffle per
    * stratum; at corpus scale use the approx-quantile variant per
    * partition of strata if a single stratum exceeds executor memory.
    */
  def lengthBand(df: DataFrame, textCol: String, stratumCol: String,
                 lowPct: Double, highPct: Double): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(length(col(textCol)))
    df.withColumn("_pr", percent_rank().over(w))
      .filter(col("_pr") >= lowPct && col("_pr") <= highPct)
      .drop("_pr")
  }

  /** URL canonicalization — the crawl-pipeline step that PRECEDES text
    * dedup (C4/CCNet dedup by URL before ever touching page text; one
    * canonical form per page collapses the protocol/tracking-param/
    * trailing-slash variants a crawler collects). Pure builtin
    * regexp/array expressions (codegen'd, RE2-compatible — the identical
    * rules run in the DuckDB oracle):
    *
    *  1. trim; strip the `#fragment`
    *  2. lowercase the `scheme://authority` head; drop the default port
    *     (`:80` for http, `:443` for https)
    *  3. strip trailing slashes from the path (root collapses to none)
    *  4. drop tracking query params (`utm_*`, `gclid`, `fbclid`, `ref`),
    *     sort the survivors, drop the `?` when none survive
    *
    * Non-URL strings (no `scheme://` head — empty, whitespace, "N/A",
    * bare paths) canonicalize to NULL, the same verdict as a null input:
    * "not a URL" must flow into [[dedupByUrl]]'s null pass-through
    * (singleton groups) rather than collapse every malformed record
    * into one shared ""-keyed group that dedup would then decimate.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*$", "")
    val head = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    val headNoPort = regexp_replace(
      regexp_replace(head, "^(http://[^/:]*):80$", "$1"),
      "^(https://[^/:]*):443$", "$1")
    val path = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathClean = regexp_replace(path, "/+$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)="))
    val q = array_join(array_sort(params), "&")
    when(headNoPort === "", lit(null).cast("string"))
      .otherwise(concat(headNoPort, pathClean,
        when(q === "", lit("")).otherwise(concat(lit("?"), q))))
  }

  /** Exact dedup on the CANONICAL URL: annotate each row with
    * `canonical_url`, `url_group_size`, `is_canonical` (min id per
    * canonical-URL group wins) — the [[Dedup.exact]] agg+join shape
    * (map-side-combined narrow aggregate, AQE-skew-splittable annotate
    * join; never a window over full rows), keyed on the URL instead of
    * the text fingerprint.
    *
    * Rows with a NULL url (or a url that canonicalizes to null) pass
    * through as singleton groups (size 1, canonical) — "URL unknown"
    * must not collapse unrelated docs into one group, and a plain inner
    * equi-join would instead silently DROP those rows (null keys never
    * match).
    */
  def dedupByUrl(docs: DataFrame, urlCol: String = "url",
                 idCol: String = "doc_id"): DataFrame = {
    val reserved = Seq("canonical_url", "url_group_size", "is_canonical",
      "_canon_id")
    val hit = docs.columns.toSet.intersect(reserved.toSet)
    require(hit.isEmpty,
      s"dedupByUrl reserves output/working columns ${reserved.mkString(", ")}; " +
        s"rename the input columns: ${hit.mkString(", ")}")
    val withUrl = docs.withColumn("canonical_url",
      canonicalizeUrl(col(urlCol)))
    val known = withUrl.filter(col("canonical_url").isNotNull)
    val groups = known.groupBy("canonical_url")
      .agg(count(lit(1)).as("url_group_size"), min(col(idCol)).as("_canon_id"))
    val annotated = known.join(groups, Seq("canonical_url"))
      .withColumn("is_canonical", col(idCol) === col("_canon_id"))
      .drop("_canon_id")
    val unknown = withUrl.filter(col("canonical_url").isNull)
      .withColumn("url_group_size", lit(1L))
      .withColumn("is_canonical", lit(true))
    val outCols = docs.columns.map(col) ++
      Seq(col("canonical_url"), col("url_group_size"), col("is_canonical"))
    annotated.select(outCols: _*).unionByName(unknown.select(outCols: _*))
  }

  /** Deterministic EPOCH SHUFFLE order: a dense 0-based `epoch_order`
    * assigned by ranking on `md5(epoch ":" key…)` — a different but fully
    * reproducible global permutation per epoch (training-data shuffling
    * without RNG state: re-runs, resumes, and other engines produce the
    * identical order). Rides [[assignRowIds]]'s range-partitioned sort +
    * zipWithIndex (narrow mode — only the priority + key columns enter
    * the sort), never a global window. Feed the result to
    * [[graft.ops.Layout.writeRangeSharded]] keyed on `epoch_order` to
    * publish the epoch's shard tree.
    *
    * `keyCols` must uniquely key the input (the [[assignRowIds]]
    * contract).
    */
  def epochShuffle(df: DataFrame, keyCols: Seq[String], epoch: Int,
                   idName: String = "epoch_order"): DataFrame = {
    require(keyCols.nonEmpty)
    require(!df.columns.contains("_eprio") && !df.columns.contains(idName),
      s"epochShuffle reserves _eprio and $idName; rename the input columns")
    val prio = md5(concat_ws(":",
      (lit(epoch.toString) +: keyCols.map(c => col(c).cast("string"))): _*))
    assignRowIds(df.withColumn("_eprio", prio),
      "_eprio" +: keyCols, idName).drop("_eprio")
  }

  /** Deterministic NEGATIVE sampling for contrastive training pairs
    * (the retrieval/embedding fine-tuning data step): for every query in
    * `positives`, pick `k` corpus docs that are NOT among that query's
    * positives — by md5 priority, so the sample is uniform under the
    * hash yet a pure function of the data (reproducible across runs and
    * engines, the [[graft.functions.KmvSample]] discipline).
    *
    * Scale shape: candidates come from ONE global bottom-`poolSize` md5
    * sample of corpus ids (a TakeOrderedAndProject — no full sort
    * materialization), which broadcasts into a pool × queries fan-out;
    * positives anti-join out; the per-query pick is a window over
    * ≤ poolSize rows per query. The corpus itself never shuffles per
    * query. `poolSize` must exceed `k` + the largest per-query positive
    * count with slack, or under-k queries appear (documented contract —
    * require'd at the cheap static level).
    *
    * @param positives (queryIdCol, docIdCol) — the known-relevant pairs
    * @return (queryIdCol, docIdCol, neg_rank 1..k)
    */
  def sampleNegatives(positives: DataFrame, corpus: DataFrame, k: Int,
                      poolSize: Int = 1024,
                      queryIdCol: String = "query_id",
                      docIdCol: String = "doc_id"): DataFrame = {
    require(k > 0 && poolSize >= 4 * k,
      s"poolSize=$poolSize must be >= 4*k (k=$k) to absorb positive overlap")
    require(!positives.columns.contains("neg_rank"),
      "sampleNegatives reserves neg_rank; rename the input column")
    val pool = corpus.select(col(docIdCol))
      .orderBy(md5(col(docIdCol).cast("string")), col(docIdCol))
      .limit(poolSize)
    val queries = positives.select(col(queryIdCol)).distinct()
    val w = Window.partitionBy(queryIdCol).orderBy(
      md5(concat(col(queryIdCol).cast("string"), lit(":"),
        col(docIdCol).cast("string"))), col(docIdCol))
    queries.crossJoin(broadcast(pool))
      .join(positives.select(col(queryIdCol), col(docIdCol)),
        Seq(queryIdCol, docIdCol), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
  }

  /** PII-style scrub: redact email-like and long-digit-run tokens. Pure
    * codegen'd regexp (RE2-compatible patterns — no lookarounds — so the
    * same regexes run in other engines for cross-checking).
    */
  def scrubText(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(email, "[0-9]{9,}", "<NUM>")
  }

  /** PII audit companion to [[scrubText]]: per-doc match counts for each
    * redaction class instead of the redaction itself — the "measure before
    * you scrub" report a curation run logs. Long-digit runs are counted on
    * the email-scrubbed text, mirroring [[scrubText]]'s sequential
    * application (digits inside an email count once, as <EMAIL>). One
    * narrow codegen'd regexp pass, RE2-compatible patterns (no
    * lookarounds) so the oracle runs the identical regexes.
    */
  def piiReport(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val deEmailed = regexp_replace(col(textCol), email, "<EMAIL>")
    val nEmails = when(col(textCol).isNull, 0)
      .otherwise(size(regexp_extract_all(col(textCol), lit(email), lit(0))))
      .cast("int")
    val nNums = when(col(textCol).isNull, 0)
      .otherwise(size(regexp_extract_all(deEmailed, lit("[0-9]{9,}"), lit(0))))
      .cast("int")
    docs.select(col(idCol), nEmails.as("n_emails"), nNums.as("n_long_nums"))
      .withColumn("has_pii", col("n_emails") > 0 || col("n_long_nums") > 0)
  }

  /** Sequence packing: assign documents to fixed token-budget packs —
    * the "concatenate docs into ~budget-token training sequences" step.
    * Streaming-chunk semantics: docs are taken in deterministic id order
    * and a pack is the contiguous run whose EXCLUSIVE running token total
    * stays under the budget (a doc straddling the boundary starts in the
    * pack where its first token lands).
    *
    * Packing is sharded (`nShards` by id-hash) so the running-sum window
    * is partitioned — no global single-task sort — and each shard packs
    * independently (pack identity = (shard, local index)). Exclusive
    * cumsum + integer div keeps it SQL-reproducible.
    *
    * @return input + (shard, n_tokens, pack_id) with pack_id local to the
    *   shard
    */
  /** Per-source quota cap: keep at most `maxPerSource` docs per source,
    * chosen deterministically by key-hash order (md5, lexicographic) — the
    * "cap any one domain's share of the corpus" step. Hash order (not file
    * or id order) keeps the sample unbiased w.r.t. crawl order, and md5
    * (engine-portable, unlike xxhash64) keeps it oracle-checkable. One
    * window shuffle on the source key; skewed hot sources are one group
    * each (row_number streams — no buffering) and AQE splits the stragglers.
    */
  def sourceQuota(df: DataFrame, sourceCol: String, idCol: String,
                  maxPerSource: Int): DataFrame = {
    require(maxPerSource > 0)
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxPerSource)
      .drop("_rn")
  }

  /** Corpus DATA CARD: per-(source, lang) aggregate signals a
    * training-data release publishes — doc/token/char totals, token-length
    * extremes, and PII-flag counts (the [[piiReport]] regexes). All
    * columns are INTEGERS on purpose: sums and counts hash identically
    * across engines, where published averages/ratios would sit on the
    * decimal-rounding lattice (the q_classify_linear lesson) — consumers
    * derive ratios from the exact numerators/denominators.
    *
    * One map-side-combinable aggregation pass; token counting matches
    * [[chunkDocs]]/[[sourceTokenBudget]] accounting (whitespace split,
    * empty tokens dropped).
    */
  def corpusReport(docs: DataFrame, sourceCol: String = "source",
                   langCol: String = "lang",
                   textCol: String = "text"): DataFrame = {
    val toks = size(filter(split(trim(col(textCol)), "\\s+"),
      t => t =!= "")).cast("long")
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    docs.select(col(sourceCol), col(langCol),
        toks.as("_nt"), length(col(textCol)).cast("long").as("_nc"),
        when(col(textCol).rlike(email), 1L).otherwise(0L).as("_em"),
        when(col(textCol).rlike("[0-9]{9,}"), 1L).otherwise(0L).as("_num"))
      .groupBy(sourceCol, langCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        sum(col("_nc")).as("n_chars"),
        min(col("_nt")).as("min_tokens"),
        max(col("_nt")).as("max_tokens"),
        sum(col("_em")).as("n_email_docs"),
        sum(col("_num")).as("n_longnum_docs"))
  }

  /** C4-style blocklist flagging (Raffel et al. 2020 drop pages containing
    * any listed word): per-doc hit counts against a blocklist of TOKENS
    * (the shared lowercase-whitespace tokenizer of [[TextAnalysis]]).
    * Returns only flagged docs — anti-join the ids to clean, or keep the
    * report as the audit artifact ("measure before you drop", like
    * [[piiReport]]).
    *
    * Scale shape: the blocklist is list-sized by nature, so it rides a
    * broadcast equi-join on the token stream (no shuffle of the corpus);
    * the per-doc aggregate is map-side combinable. Word-level by design —
    * multi-word phrases are a containment theta-join (the
    * [[graft.enrich.CountryLinker]] pattern), and substring matching
    * inside words is prone to Scunthorpe false positives.
    *
    * @return (id, n_hits — total hit tokens, n_terms — distinct blocklist
    *         terms present)
    */
  def flagBlocklisted(docs: DataFrame, blocklist: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      termCol: String = "term"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .filter(col("_tok") =!= "")
    toks.join(broadcast(
        blocklist.select(lower(col(termCol)).as("_tok")).distinct()),
        Seq("_tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("_tok")).as("n_terms"))
  }

  /** PHRASE-level blocklist flagging — the multi-word companion of
    * [[flagBlocklisted]]: case-insensitive substring containment of each
    * listed phrase (the [[graft.enrich.CountryLinker]] theta-join
    * pattern: the phrase list broadcasts, Catalyst plans a broadcast
    * nested-loop join — correct here because one side is list-sized BY
    * NATURE; the corpus never self-pairs). Substring semantics match C4's
    * original filter (which also caught words inside words); use the
    * word-level operator when Scunthorpe false positives matter.
    *
    * @return flagged docs only: (id, n_phrases — distinct phrases
    *         contained, first_phrase — alphabetically first hit, for the
    *         audit log)
    */
  def flagBlocklistedPhrases(docs: DataFrame, phrases: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             phraseCol: String = "phrase"): DataFrame = {
    docs.select(col(idCol), lower(col(textCol)).as("_lt"))
      .filter(col("_lt").isNotNull)
      .join(broadcast(phrases.select(lower(col(phraseCol)).as("_p")).distinct()),
        col("_lt").contains(col("_p")))
      .groupBy(idCol)
      .agg(countDistinct(col("_p")).as("n_phrases"),
        min(col("_p")).as("first_phrase"))
  }

  /** [[flagBlocklistedPhrases]] via a single Aho–Corasick pass
    * ([[graft.functions.AhoCorasick]]) — same contract, same output, a
    * different physical plan: the theta-join re-scans every document once
    * PER PHRASE (a broadcast nested-loop whose cost is |corpus|·|phrases|
    * substring searches), this variant finds all phrases in ONE text scan,
    * so it wins exactly when the blocklist is large (C4's word list is
    * ~400 entries; production phrase lists run 10⁴–10⁵, a 100–1000×
    * per-document multiplier the automaton deletes). No join at all on the
    * corpus side — one narrow codegen pass, then the same per-id aggregate
    * as the theta-join (over HIT rows only, so duplicate ids — a pre-dedup
    * crawl — produce identical output from both variants); the phrase list
    * is collected (it is list-sized BY NATURE, `maxPhrases`-guarded) and
    * the automaton ships with the plan.
    *
    * Case-insensitivity matches the theta-join bit-for-bit: both sides go
    * through Spark's own `lower()` — the phrase list is lowered IN SPARK
    * before collection, so no driver-locale lowercase ever touches the
    * data.
    *
    * @return flagged docs only: (id, n_phrases, first_phrase) — same
    *         schema and values as [[flagBlocklistedPhrases]], certified by
    *         sharing its oracle
    */
  /** Driver-collect of a blocklist phrase column, shared by the AC
    * operators: distinct, sorted (lexicographic determinism), optionally
    * case-folded IN SPARK (never a driver-locale lowercase), with the
    * overflow-detecting `limit(maxPhrases + 1)` guard.
    */
  private def collectPhraseList(phrases: DataFrame, phraseCol: String,
                                maxPhrases: Int, fold: Boolean,
                                dropEmpty: Boolean,
                                op: String): Array[String] = {
    val p0 = if (fold) lower(col(phraseCol)) else col(phraseCol)
    // dropEmpty: masking ignores '' (an empty mask target is a no-op);
    // flagging KEEPS it for contains() parity with the theta variant
    // (contains(text, '') is true for every doc)
    val nonNull = phrases.select(p0.as("_p")).filter(col("_p").isNotNull)
    val pats = (if (dropEmpty) nonNull.filter(length(col("_p")) > 0)
                else nonNull)
      .distinct()
      .orderBy("_p").limit(maxPhrases + 1)
      .collect().map(_.getString(0))
    require(pats.length <= maxPhrases,
      s"$op: phrase list exceeds maxPhrases=$maxPhrases — a blocklist " +
        "this size should be partitioned or routed through the " +
        "theta-join variant")
    pats
  }

  def flagBlocklistedPhrasesAC(docs: DataFrame, phrases: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               phraseCol: String = "phrase",
                               maxPhrases: Int = 1 << 20): DataFrame = {
    import graft.functions.CorpusFunctions.ac_find_phrases
    val pats = collectPhraseList(phrases, phraseCol, maxPhrases,
      fold = true, dropEmpty = false, "flagBlocklistedPhrasesAC")
    // aggregate per id like the theta-join does, so duplicate ids (a
    // pre-dedup crawl) produce IDENTICAL rows from both variants; the
    // explode carries only hit phrases (rare), so the shuffle is
    // hit-sized, never corpus-sized
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(ac_find_phrases(lower(col(textCol)), pats.toSeq)).as("_p"))
      .groupBy(idCol)
      .agg(countDistinct(col("_p")).as("n_phrases"),
        min(col("_p")).as("first_phrase"))
  }

  /** MASK blocklisted phrases in place — the APPLY form of the phrase
    * blocklist ([[flagBlocklistedPhrasesAC]] flags, this rewrites): every
    * occurrence of every listed phrase is replaced by `mask` in ONE
    * Aho–Corasick pass per document, overlaps resolved leftmost-longest
    * on the ORIGINAL text (so masking can never create or destroy a
    * match — a sequential `replace` chain's output depends on
    * application order). CASE-SENSITIVE by design: the mask use case is
    * exact strings (PII values, secrets, canonical bad phrases), where
    * the flag use case is case-folded content matching.
    *
    * One narrow codegen pass, no join, no shuffle; the phrase list
    * collects (list-sized BY NATURE, `maxPhrases`-guarded) and the
    * automaton ships with the plan.
    *
    * @return input with `textCol` rewritten (null text passes through)
    */
  def maskBlocklistedPhrases(docs: DataFrame, phrases: DataFrame,
                             mask: String = "[MASKED]",
                             textCol: String = "text",
                             phraseCol: String = "phrase",
                             maxPhrases: Int = 1 << 20): DataFrame = {
    import graft.functions.CorpusFunctions.ac_mask_phrases
    val pats = collectPhraseList(phrases, phraseCol, maxPhrases,
      fold = false, dropEmpty = true, "maskBlocklistedPhrases")
    docs.withColumn(textCol,
      ac_mask_phrases(col(textCol), pats.toSeq, mask))
  }

  /** Within-document repetition ratio (Gopher-style repetition filter):
    * fraction of duplicate word n-grams, `1 - distinct/total` (0 for docs
    * shorter than n words). Entirely narrow — per-row array ops, no
    * shuffle, codegen'd — so it composes with any scan for free.
    */
  def repetitionRatio(textCol: Column, n: Int = 2): Column = {
    // let-binding via a 1-element transform: higher-order functions are
    // interpreted, so a lambda body referencing the split() SUBTREE
    // re-runs the regex split per element (O(len²) per doc); binding the
    // array to a lambda variable evaluates it once and per-element access
    // is a variable read
    val ratio = transform(array(split(textCol, " ")), w => {
      val grams = when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n), i =>
          concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))
      when(size(grams) > 0,
        lit(1.0) - size(array_distinct(grams)).cast("double")
          / size(grams).cast("double"))
        .otherwise(lit(0.0))
    })
    element_at(ratio, 1)
  }

  /** Overlapping fixed-width token chunks: each doc fans out to windows of
    * `chunkTokens` words advancing by `stride` (the context-window prep
    * step for training). Generator fan-out (posexplode over a sequence) —
    * no shuffle, output rows ≈ n_tokens/stride per doc; a final chunk is
    * emitted iff it starts within the text, and every chunk start is
    * `k*stride`, so the decomposition is a pure function of the text.
    *
    * @return (idCol, chunk_idx, chunk_text, chunk_n_tokens)
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, stride: Int,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens)
    val toks = split(trim(col(textCol)), "\\s+")
    docs
      .withColumn("_w", toks)
      .withColumn("_nc", // chunk starts: 0, stride, ... < n_tokens
        greatest(ceil(size(col("_w")).cast("double") / stride).cast("int"),
          lit(1)))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("_nc") - 1), k =>
          slice(col("_w"), k * stride + 1, lit(chunkTokens)))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("chunk_n_tokens"))
  }

  /** Rare-combination suppression (k-anonymity style): drop rows whose
    * value combination over `keyCols` occurs fewer than k times. One
    * hash-aggregate (map-side combined) + a broadcast-friendly semi-join
    * back — no window, so hot combinations cost their row count, not a
    * sort.
    */
  def suppressSmallGroups(df: DataFrame, keyCols: Seq[String],
                          k: Long): DataFrame = {
    require(keyCols.nonEmpty && k >= 1)
    val keep = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= k)
      .drop("_n")
    df.join(keep, keyCols, "left_semi")
  }

  /** Token-budget source quota — the data-mixing cap measured in TOKENS
    * (what a training run actually consumes), not documents: per source,
    * docs are taken in deterministic md5-hash order and kept while the
    * EXCLUSIVE cumulative token count is under `budget` — the doc that
    * crosses the boundary is kept (its first token lands inside the
    * budget, the [[packByTokenBudget]] convention), so a source at or
    * above budget contributes ≥ budget and < budget + one doc; smaller
    * sources contribute everything.
    *
    * One window shuffle on the source key; the running sum streams (no
    * group buffering), so a hot source costs its row count, and the token
    * count is the same whitespace tokenization as [[chunkDocs]], keeping
    * quota accounting consistent with chunk/pack accounting downstream.
    * md5 order (not crawl order) de-biases the kept prefix; md5 is
    * engine-portable, so the kept ROWS are oracle-checkable.
    */
  def sourceTokenBudget(df: DataFrame, sourceCol: String, idCol: String,
                        textCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    tokenPrefix(df, sourceCol, idCol, textCol, lit(budget))
  }

  /** The md5-order exclusive-cumsum token-prefix rule
    * [[sourceTokenBudget]] and [[unimaxApply]] share: per source, keep
    * docs while the tokens BEFORE them (md5-hash order, ties on id) stay
    * under `budget` — the boundary doc is kept. One window shuffle on the
    * source key; the running sum streams.
    */
  private def tokenPrefix(df: DataFrame, sourceCol: String, idCol: String,
                          textCol: String, budget: Column): DataFrame = {
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_nt",
        size(split(trim(col(textCol)), "\\s+")).cast("long"))
      .withColumn("_before", coalesce(sum(col("_nt")).over(w), lit(0L)))
      .filter(col("_before") < budget)
      .drop("_nt", "_before")
  }

  /** UniMax source allocation (Chung et al. 2023): split a total token
    * budget across sources AS UNIFORMLY AS POSSIBLE, capping each source
    * at `maxEpochs` passes over its data — the mixing planner that
    * maximizes coverage of small sources without over-repeating them
    * (temperature sampling's failure mode: either starve small sources or
    * epoch them dozens of times).
    *
    * Exact integer waterfilling over the SOURCE-DIMENSION-sized size
    * table: sources sorted by cap (= maxEpochs·n_tokens) ascending; the
    * smallest j* − 1 sources saturate at their cap, everyone else gets the
    * common level L = (budget − Σ saturated caps) div (#unsaturated) —
    * j* is the first rank whose level is below its own cap. Total
    * allocated ≤ budget with slack < #unsaturated tokens (integer-div
    * floor), or = Σ caps when the budget covers every source. Integer
    * arithmetic end to end, so the oracle replays the allocation exactly.
    *
    * Shape: ONE single-partition window pass (rank/prefix-sum plus the
    * source count and saturation threshold as unbounded frames of the
    * same window) — the input is per-SOURCE rows, list-sized by nature;
    * build it from the corpus with one groupBy. Null sources
    * sort via a '' sentinel (engines disagree on NULL order); null/absent
    * token counts count 0.
    *
    * @param sizes (source, n_tokens) one row per source
    * @return (source, n_tokens, cap, quota) — quota in tokens; consume
    *         ⌊quota/n_tokens⌋ full epochs + a [[sourceTokenBudget]]-style
    *         prefix of the remainder
    */
  def unimaxAllocate(sizes: DataFrame, budget: Long, maxEpochs: Int = 4,
                     sourceCol: String = "source",
                     tokensCol: String = "n_tokens"): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val base = sizes.select(col(sourceCol),
      coalesce(col(tokensCol).cast("long"), lit(0L)).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * maxEpochs)
    val w = Window.orderBy(col("cap"),
      coalesce(col(sourceCol).cast("string"), lit("")))
    // SOURCE-dimension window: the single partition holds one row per
    // source — list-sized by nature, never corpus rows. The source count
    // and the saturation threshold ride UNBOUNDED frames of that same
    // window rather than crossJoin(broadcast(agg)) subqueries: the two
    // 1-row broadcasts each re-planned the (corpus-derived) size subtree
    // as a separate subquery job — three executions-worth of plan and
    // broadcast futures for one window's worth of arithmetic (guide
    // §2.4; the q_unimax_apply many-small-jobs finding). Same integer
    // arithmetic on the same rows, so the allocation is bit-identical.
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = base
      .withColumn("_j", row_number().over(w))
      .withColumn("_pfx",
        coalesce(sum(col("cap")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_k", count(lit(1)).over(wAll))
      .withColumn("_lvl",
        expr(s"(${budget}L - _pfx) div (_k - _j + 1)"))
    // first rank whose even-split level undershoots its own cap; rows
    // before it saturate. No feasible rank => budget covers all caps.
    ranked
      .withColumn("_t",
        min(when(col("_lvl") < col("cap"),
          struct(col("_j").as("j"), col("_lvl").as("l")))).over(wAll))
      .withColumn("quota",
        when(col("_t").isNull || col("_j") < col("_t").getField("j"),
          col("cap"))
          .otherwise(col("_t").getField("l")))
      .select(col(sourceCol), col("n_tokens"), col("cap"), col("quota"))
  }

  /** [[unimaxAllocate]] straight from the corpus: per-source whitespace
    * token totals (the [[sourceTokenBudget]] accounting), then the
    * waterfill.
    */
  def unimaxFromCorpus(df: DataFrame, budget: Long, maxEpochs: Int = 4,
                       sourceCol: String = "source",
                       textCol: String = "text"): DataFrame =
    unimaxAllocate(
      df.groupBy(col(sourceCol))
        .agg(sum(size(split(trim(col(textCol)), "\\s+")).cast("long"))
          .as("n_tokens")),
      budget, maxEpochs, sourceCol)

  /** APPLY a [[unimaxAllocate]] allocation to the corpus — the epoch
    * materialization a training run consumes: each source's docs are
    * emitted `quota div n_tokens` full epochs (epoch = 0, 1, …) plus a
    * deterministic md5-order token-prefix of one more epoch carrying the
    * remainder (`quota mod n_tokens` — the [[sourceTokenBudget]]
    * exclusive-cumsum rule, boundary doc kept). Deterministic end to end,
    * so replays emit identical rows.
    *
    * Shape: one broadcast join against the source-dimension allocation
    * (null-safe on the source key — a null source is a group), one
    * narrow `posexplode(sequence)` fan-out for full epochs, one window
    * pass for the remainder prefix. The fan-out multiplies rows by the
    * epoch count — that is the OUTPUT size, not overhead. Zero-token
    * sources (cap 0) emit nothing; the epoch-count division is guarded
    * against them.
    *
    * @param alloc [[unimaxAllocate]] output: (sourceCol, n_tokens, quota)
    * @return input + `epoch` (0-based); full epochs first, remainder
    *         prefix rows carry the highest epoch number
    */
  def unimaxApply(df: DataFrame, alloc: DataFrame,
                  sourceCol: String = "source", idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val a = broadcast(alloc.select(col(sourceCol).as("_asrc"),
      col("n_tokens").as("_ant"), col("quota").as("_aq")))
    val joined = df.join(a, col(sourceCol) <=> col("_asrc"))
      .withColumn("_full",
        when(col("_ant") > 0, expr("_aq div _ant")).otherwise(lit(0L)))
      .withColumn("_rem",
        when(col("_ant") > 0, expr("_aq % _ant")).otherwise(lit(0L)))
    val fullEpochs = joined
      .filter(col("_full") > 0)
      .select(df.columns.map(col) :+
        explode(sequence(lit(0L), col("_full") - 1)).as("epoch"): _*)
    // rem = 0 sources can't survive the prefix filter — prune them
    // BEFORE the window so exactly-saturated sources never shuffle
    val remainder = tokenPrefix(
        joined.filter(col("_rem") > 0), sourceCol, idCol, textCol,
        col("_rem"))
      .select(df.columns.map(col) :+ col("_full").as("epoch"): _*)
    fullEpochs.unionByName(remainder)
  }

  /** Temperature-based source resampling — the corpus-mixing step that
    * rebalances wildly uneven sources before training (the multilingual
    * α-sampling of Conneau & Lample 2019 / mT5, done WITHOUT replacement):
    * surviving sizes are ∝ n_s^α, interpolating uniform-over-sources
    * (α = 0) and the natural distribution (α = 1). Per-row keep
    * probability q_s = (n_min / n_s)^(1−α) — the smallest source keeps
    * everything, larger sources are thinned toward it.
    *
    * The keep decision is a DETERMINISTIC md5-fraction of the id (first 8
    * hex digits / 2^32): stable across runs, partitionings, and engines
    * (md5 is portable, unlike xxhash64), so the sample is reproducible and
    * oracle-checkable. One map-side-combined count aggregate; the
    * (source-count sized) probability table broadcasts back; the filter is
    * narrow.
    */
  def temperatureSample(df: DataFrame, sourceCol: String, idCol: String,
                        alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0, 1]")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("_n"))
    val probs = counts
      .crossJoin(counts.agg(min(col("_n")).as("_nmin"))) // 1-row: literal-ish
      .withColumn("_q",
        pow(col("_nmin").cast("double") / col("_n"), 1.0 - alpha))
      .select(col(sourceCol), col("_q"))
    df.join(broadcast(probs), Seq(sourceCol))
      .withColumn("_u",
        conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("double") / 4294967296.0d)
      .filter(col("_u") < col("_q"))
      .drop("_q", "_u")
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis A-Res
    * (2006): each row draws u ∈ [0,1) and scores u^(1/w); the n largest
    * scores are exactly a weight-proportional sample without replacement.
    * Used for quality-weighted corpus subsetting (w = quality score,
    * upvotes, freshness) where with-replacement sampling would duplicate
    * documents.
    *
    * u is the DETERMINISTIC md5-fraction of the id (first 8 hex digits /
    * 2^32) — the same portable construction as [[temperatureSample]], so
    * the sample is stable across runs, partitionings, and engines, and
    * oracle-checkable. Rows with weight ≤ 0 never qualify (score −1).
    *
    * Scale: with `strataCols` the top-n is a per-stratum window (one
    * shuffle on the strata, n rows kept per group); without, a global
    * ORDER BY + LIMIT n, which Catalyst plans as TakeOrderedAndProject —
    * per-partition heaps of n, no global sort.
    *
    * @return input rows + `sample_rank` (1-based within stratum / overall)
    */
  def weightedSample(df: DataFrame, weightCol: String, n: Int,
                     idCol: String = "doc_id",
                     strataCols: Seq[String] = Nil): DataFrame = {
    require(n > 0)
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0d
    val score = when(col(weightCol) > 0,
      pow(u, lit(1.0) / col(weightCol))).otherwise(-1.0d)
    val scored = df.withColumn("_score", score).filter(col("_score") >= 0)
    val ranked =
      if (strataCols.isEmpty)
        scored.orderBy(col("_score").desc, col(idCol)).limit(n)
          .withColumn("sample_rank",
            row_number().over(Window.orderBy(col("_score").desc, col(idCol))))
      else
        scored.withColumn("sample_rank",
          row_number().over(Window.partitionBy(strataCols.map(col): _*)
            .orderBy(col("_score").desc, col(idCol))))
          .filter(col("sample_rank") <= n)
    ranked.drop("_score")
  }

  /** Gumbel-top-n importance resampling from LOG weights — the draw step
    * of DSIR selection ([[graft.ops.TextAnalysis.dsirLogRatio]] produces
    * the weights): key = log w + Gumbel(md5-uniform(id)), take the n
    * largest. Equivalent to [[weightedSample]]'s exponential race but
    * stable for log-scale weights (no exp overflow/underflow at |log w| >
    * 700, routine for long docs). Deterministic: the noise is a pure
    * function of the id (seeded distinctly from weightedSample's uniform),
    * so re-runs and engines agree.
    *
    * Scale shape: `orderBy(...).limit(n)` is TakeOrderedAndProject —
    * per-partition top-n then a driver-side merge of n-row heaps, never a
    * global sort; the rank window runs over ≤ n rows.
    */
  def importanceResample(df: DataFrame, logWeightCol: String, n: Int,
                         idCol: String = "doc_id"): DataFrame = {
    require(n > 0)
    val u = (conv(substring(md5(concat(lit("ir:"),
        col(idCol).cast("string"))), 1, 8), 16, 10).cast("double") + 0.5d) /
      4294967296.0d // strictly inside (0,1): both logs below stay finite
    val key = col(logWeightCol) - log(-log(u))
    df.withColumn("_key", key)
      .orderBy(col("_key").desc, col(idCol)).limit(n)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(col("_key").desc, col(idCol))))
      .drop("_key")
  }

  /** Grouped z-score outlier flagging — the statistical curation gate
    * (aberrant doc lengths within a source, absurd metric values within an
    * event type). Two-pass shape: one hash aggregation for the per-group
    * moments (map-side combinable — never a per-row window over the whole
    * group), broadcast-size stats joined back, z computed in one narrow
    * pass. Groups with stddev 0 (constant value) flag nothing.
    *
    * @return input rows + `zscore`, filtered to |z| > `z`
    */
  def zscoreOutliers(df: DataFrame, valueCol: String,
                     groupCols: Seq[String], z: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty && z > 0)
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(avg(col(valueCol)).as("_mu"),
        stddev_samp(col(valueCol)).as("_sd"))
    df.join(stats, groupCols)
      .filter(col("_sd") > 0d)
      .withColumn("zscore", (col(valueCol) - col("_mu")) / col("_sd"))
      .filter(abs(col("zscore")) > z)
      .drop("_mu", "_sd")
  }

  def packByTokenBudget(docs: DataFrame, budget: Long,
                        idCol: String = "doc_id", textCol: String = "text",
                        nShards: Int = 8,
                        shardBy: Option[Column] = None,
                        within: Seq[String] = Nil): DataFrame = {
    require(budget > 0 && nShards > 0)
    // `within` columns join the cumulative-sum partition key, so pack_id is
    // local to (within*, shard) — e.g. within=Seq("split") keeps every pack
    // whole inside one train/val/test split instead of mixing splits
    val w = Window.partitionBy((within :+ "shard").map(col): _*).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard",
        shardBy.getOrElse(pmod(xxhash64(col(idCol)), lit(nShards))))
      .withColumn("n_tokens",
        size(split(trim(col(textCol)), "\\s+")).cast("long"))
      .withColumn("_cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr(s"_cum div ${budget}L"))
      .drop("_cum")
  }

  /** Keep the best `keepFrac` fraction of rows by a score column — the
    * CCNet-style consuming half of any corpus scorer (perplexity bits,
    * quality, outlier distance): rank the whole corpus by
    * (score asc, id asc) and keep ranks below keepFrac × N. Exact and
    * deterministic (ties broken by id), so reruns and backfills keep the
    * same rows.
    *
    * Scale shape: the global rank comes from a range-partitioned SORT +
    * per-partition offsets (`zipWithIndex`), NOT a `percent_rank()` window
    * — an un-partitioned window drags the entire corpus into one task,
    * while the sort stays distributed (same pattern, same reasoning as
    * [[TextAnalysis.buildVocab]]). The sorted rows are pinned (eager local
    * checkpoint) so zipWithIndex's partition-size job and the rank filter
    * read one materialization. The N for the cutoff rides a 1-row
    * aggregate through a literal-style broadcast — no driver-side collect.
    * Output = input columns + the global `rank` (dense from 0).
    *
    * Cost at scale: with `narrow = true` (the default) only the
    * (score, id) PROJECTION is sorted and pinned — two slim columns per
    * row regardless of how wide the corpus is — and the ranks equi-join
    * back onto the input by id; the full rows ride one hash join, never
    * the sort or the pinned materialization. `narrow = false` sorts and
    * pins the full rows (identical output, spec-pinned; cheaper only
    * when the input is already just (id, score)). When the exact global
    * rank isn't required, a cheaper cut is a quantile threshold from
    * [[Sketches.approxQuantiles]] + a narrow filter — approximate at the
    * boundary, no global sort at all.
    */
  def keepHeadByScore(df: DataFrame, scoreCol: String, idCol: String,
                      keepFrac: Double, narrow: Boolean = true): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    globalRank(df, scoreCol, idCol, narrow)
      .filter(col("rank").cast("double") < lit(keepFrac) * col("_n"))
      .drop("_n")
  }

  /** Global (score asc, id asc) rank via range-partitioned sort +
    * zipWithIndex — the `buildVocab` pattern: an un-partitioned
    * `percent_rank()` window would drag the corpus into one task. Adds
    * `rank` (0-based) and the 1-row total `_n` (literal-style broadcast).
    *
    * `narrow = true` sorts/pins only the (score, id) projection and
    * joins ranks back — the 100 TB mode: the pinned materialization
    * carries two slim columns, the wide rows ride one equi-join.
    * Skipped automatically when the input has no other columns.
    *
    * idCol must uniquely key the input (the contract of ANY
    * deterministic global rank — direct mode gives duplicate-id twins
    * arbitrary distinct ranks). Narrow mode is defensive about
    * violations: the projection dedups on (score, id) and joins back
    * NULL-SAFE on both columns, so duplicate-(score, id) twins share
    * one rank and null ids rank instead of silently dropping (a plain
    * Seq(idCol) inner join would multiply duplicate ids and lose null
    * ones).
    */
  private def globalRank(df: DataFrame, scoreCol: String, idCol: String,
                         narrow: Boolean = true): DataFrame = {
    if (narrow && df.columns.length > 2) {
      val ranks = globalRankDirect(
        df.select(col(scoreCol), col(idCol)).dropDuplicates(scoreCol, idCol),
        scoreCol, idCol)
        .select(col(scoreCol).as("_rk_s"), col(idCol).as("_rk_i"),
          col("rank"), col("_n")).as("_r")
      val l = df.as("_l")
      l.join(ranks, col(s"_l.$scoreCol") <=> col("_rk_s") &&
          col(s"_l.$idCol") <=> col("_rk_i"))
        .select(df.columns.map(c => col(s"_l.$c")) ++
          Seq(col("rank"), col("_n")): _*)
    } else globalRankDirect(df, scoreCol, idCol)
  }

  private def globalRankDirect(df: DataFrame, scoreCol: String,
                               idCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(col(scoreCol).asc, col(idCol).asc)
      .localCheckpoint(true)
    val ranked = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    val withRank = spark.createDataFrame(ranked,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val total = withRank.agg(count(lit(1)).as("_n"))
    withRank.crossJoin(total) // 1-row count table: literal-style broadcast
  }

  /** Stable dense row ids (0-based) in deterministic `orderCols` order —
    * the ingest step for raw corpora that arrive without ids (crawl
    * dumps, JSONL drops). Same machinery as the global-rank/vocab
    * pattern: a RANGE-PARTITIONED distributed sort + per-partition
    * zipWithIndex offsets, never an un-partitioned `row_number()` window
    * (which drags the whole corpus into one task). `orderCols` must be a
    * unique key of the input or ids are order-dependent across runs —
    * the caller's contract, as with any deterministic-ingest scheme.
    *
    * `narrow = true` (default) sorts/pins only the `orderCols`
    * projection and joins ids back (null-safe on every key column), so
    * wide corpus rows never enter the sort or the pinned
    * materialization; identical output either way (spec-pinned).
    */
  def assignRowIds(df: DataFrame, orderCols: Seq[String],
                   idName: String = "row_id",
                   narrow: Boolean = true): DataFrame = {
    require(orderCols.nonEmpty)
    if (narrow && df.columns.length > orderCols.length) {
      val ids = assignRowIdsDirect(
        df.select(orderCols.map(col): _*).dropDuplicates(orderCols),
        orderCols, idName).as("_r")
      val l = df.as("_l")
      val cond = orderCols.map(c => col(s"_l.$c") <=> col(s"_r.$c"))
        .reduce(_ && _)
      l.join(ids, cond)
        .select(df.columns.map(c => col(s"_l.$c")) :+ col(s"_r.$idName"): _*)
    } else assignRowIdsDirect(df, orderCols, idName)
  }

  private def assignRowIdsDirect(df: DataFrame, orderCols: Seq[String],
                                 idName: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(orderCols.map(col(_).asc): _*).localCheckpoint(true)
    val withId = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(withId,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(idName,
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Distribution DRIFT between two snapshots of a numeric column — the
    * data-quality gate a production corpus pipeline runs before
    * admitting a new crawl batch (did the length/quality/score
    * distribution move?): a binned two-sample Kolmogorov–Smirnov
    * statistic. Bin edges are equi-width over the UNION's [min, max]
    * (deterministic — no sampling), per-side bin counts aggregate
    * map-side, and the CDF scan runs over ≤ `bins` rows (an
    * unpartitioned window over the AGGREGATED bin table — bins-sized by
    * construction, never the data).
    *
    * INTEGER-ONLY output (the data-card rule): the KS statistic is
    * `max_cross_diff / (n_a * n_b)` — the consumer's division; comparing
    * `max_cross_diff * threshold_den` with `n_a * n_b * threshold_num`
    * stays in exact integer arithmetic end-to-end.
    *
    * The cross term `cum·n` is bounded by `n_a · n_b`, which overflows
    * Long once both snapshots exceed ~3e9 rows — plausible at 100 TB. It
    * is therefore computed in DECIMAL(38,0) (exact up to 1e38 > 2⁶³·2⁶³·2)
    * and cast back to BIGINT only at the end, behind a raise_error guard:
    * a result too large for BIGINT fails loudly instead of wrapping
    * (DuckDB would throw on the same overflow; Spark's bigint `*` wraps
    * silently).
    *
    * @return one row: (n_a, n_b, max_cross_diff =
    *         max over bins of |cumA·n_b − cumB·n_a|, argmax_bin)
    */
  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String,
              bins: Int = 256): DataFrame = {
    require(bins > 0)
    val va = a.select(col(valueCol).cast("double").as("_v")).filter(col("_v").isNotNull)
    val vb = b.select(col(valueCol).cast("double").as("_v")).filter(col("_v").isNotNull)
    val bounds = va.union(vb).agg(min(col("_v")).as("_lo"), max(col("_v")).as("_hi"))
    def binned(df: DataFrame, as: String) = df
      .crossJoin(bounds) // 1-row bounds: literal-style broadcast
      .withColumn("_bin",
        when(col("_hi") === col("_lo"), lit(0))
          .otherwise(least(lit(bins - 1),
            floor((col("_v") - col("_lo")) / ((col("_hi") - col("_lo")) / bins))
              .cast("int"))))
      .groupBy("_bin").agg(count(lit(1)).as(as))
    val joined = binned(va, "_ca").join(binned(vb, "_cb"), Seq("_bin"), "full_outer")
      .select(col("_bin"),
        coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
    // <= bins rows from here on: the unpartitioned window is deliberate
    val w = Window.orderBy("_bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("_cuma", sum(col("_ca")).over(w))
      .withColumn("_cumb", sum(col("_cb")).over(w))
      .crossJoin(joined.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b")))
      // exact wide arithmetic: bigint·bigint wraps silently at ~3e9·3e9
      .withColumn("_cross", abs(
        col("_cuma").cast("decimal(38,0)") * col("n_b").cast("decimal(38,0)")
          - col("_cumb").cast("decimal(38,0)") * col("n_a").cast("decimal(38,0)")))
      .groupBy("n_a", "n_b")
      .agg(max(col("_cross")).as("_maxc"),
        min_by(col("_bin"), struct(-col("_cross"), col("_bin"))).as("argmax_bin"))
      .withColumn("max_cross_diff",
        when(col("_maxc") > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(lit("ksDrift: max cross diff overflows BIGINT: "),
            col("_maxc").cast("string"))).cast("long"))
          .otherwise(col("_maxc").cast("long")))
      .select("n_a", "n_b", "max_cross_diff", "argmax_bin")
  }

  /** CCNet-style score buckets (Wenzek et al. 2020 publish CommonCrawl as
    * perplexity head/middle/tail): rank the corpus globally by
    * (score asc, id asc) and label row rank r of n with `labels(i)` where
    * `fracs(i-1) * n <= r < fracs(i) * n` (fracs are the upper boundaries
    * of all buckets but the last). Same rank machinery as
    * [[keepHeadByScore]] — distributed sort, no global window.
    *
    * @return input rows + `score_bucket`
    */
  def scoreBuckets(df: DataFrame, scoreCol: String, idCol: String,
                   fracs: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                   labels: Seq[String] =
                     Seq("head", "middle", "tail"),
                   narrow: Boolean = true): DataFrame = {
    require(labels.size == fracs.size + 1,
      "need exactly one more label than boundary fractions")
    require(fracs == fracs.sorted && fracs.forall(f => f > 0.0 && f < 1.0),
      s"fracs must be ascending within (0, 1), got $fracs")
    val r = col("rank").cast("double")
    val bucket = fracs.zip(labels.init).foldRight(lit(labels.last)) {
      case ((f, l), rest) => when(r < lit(f) * col("_n"), l).otherwise(rest)
    }
    globalRank(df, scoreCol, idCol, narrow)
      .withColumn("score_bucket", bucket)
      .drop("rank", "_n")
  }

  /** Unbiased pass@k (Chen et al. 2021, the Codex estimator): per
    * problem with n graded samples of which c pass,
    * `pass@k = 1 − C(n−c, k)/C(n, k)` — the probability that a random
    * size-k subset contains at least one passing sample. Computed in the
    * numerically-stable product form
    * `1 − Π_{i<k} (n−c−i)/(n−i)`, each ratio divided FIRST and the
    * ratios then folded LEFT-TO-RIGHT in ascending i — Spark's
    * `aggregate` and DuckDB's `list_reduce` both evaluate exactly that
    * sequence of IEEE operations (the parenthesization matters: folding
    * `(acc·num)/den` instead diverges from the oracle's pre-divided
    * ratios by an ulp on hundreds of thousands of (n, c) pairs), so the
    * oracle is bit-exact, not approximately close. `n − c < k` short-circuits to
    * exactly 1.0 (every size-k subset must contain a pass); `n < k`
    * yields NULL (the estimator is undefined — document k against your
    * sampling budget, don't extrapolate). A NULL `correct` counts as
    * not-passing (`when` semantics: unverified is failed).
    *
    * One map-side-combinable (n, c) aggregate per problem plus a narrow
    * codegen fold — no joins, no windows.
    *
    * @return (problemCol, n, c, pass_at_k — rounded 6 dp, null iff n<k)
    */
  def passAtK(samples: DataFrame, k: Int,
              problemCol: String = "problem_id",
              correctCol: String = "correct"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(!Seq("n", "c", "pass_at_k").contains(problemCol),
      s"passAtK reserves column names n, c, pass_at_k; rename '$problemCol'")
    samples.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol), 1L).otherwise(0L)).as("c"))
      .withColumn("pass_at_k",
        when(col("n") < k, lit(null).cast("double"))
          .when(col("n") - col("c") < k, lit(1.0))
          .otherwise(round(lit(1.0) - expr(
            s"""aggregate(sequence(0, ${k - 1}), CAST(1.0 AS DOUBLE),
               |(acc, i) -> acc * (CAST(n - c - i AS DOUBLE)
               |  / CAST(n - i AS DOUBLE)))""".stripMargin), 6)))
  }

  /** Reliability-diagram bins for a [0, 1]-scored binary classifier —
    * the calibration audit run before a quality/toxicity classifier's
    * scores are trusted as keep-probabilities: per equal-width score bin,
    * row count and positive count as exact integers (the empirical
    * positive rate n_pos/n vs the bin midpoint IS the reliability
    * diagram; integer outputs per the repo's float-lattice rule).
    * Scores outside [0, 1] clamp into the edge bins; null scores drop.
    *
    * One map-side-combinable aggregate over ≤ `bins` groups — nothing
    * else. A null label counts as negative (`when(label)` semantics),
    * matching "not verified positive". Null AND NaN scores drop — a NaN
    * would otherwise cast-floor to 0 and silently inflate bin 0.
    *
    * @return (bin, n, n_pos), bin ∈ [0, bins)
    */
  def calibrationBins(scored: DataFrame, scoreCol: String,
                      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins > 0)
    val b = least(lit(bins - 1),
      greatest(lit(0), floor(col(scoreCol).cast("double") * bins)
        .cast("int")))
    scored.filter(col(scoreCol).isNotNull &&
        !isnan(col(scoreCol).cast("double")))
      .groupBy(b.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_pos"))
  }

  /** EXACT tie-corrected AUC (Mann–Whitney U form) as an integer
    * fraction: with R⁺ the sum of positives' midranks,
    *
    *   AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ · n⁻)
    *
    * published doubled (`auc_num2`/`auc_den2`) so tie midranks (half
    * integers) stay exact integers — the repo's float-lattice rule. The
    * classifier-gate evaluation a curation pipeline runs against a
    * labeled holdout; exact so two engines (or two days) can be compared
    * for bit equality, unlike sampled/bucketed AUC estimates.
    *
    * Scale shape: scores are first rounded to the `quantize`-dp lattice
    * (the repo convention — scores are published at 6 dp anyway), so the
    * score-level aggregate holds AT MOST one row per lattice point
    * (≤ ~2·10^(quantize) for [0,1]-ish scores). The single unpartitioned
    * prefix window then runs over those NARROW aggregated rows, never
    * over data rows — the [[ksDrift]] shape. Midrank products run in
    * DECIMAL(38,0) (n⁺·n⁻ wraps bigint past ~3e9·3e9) and downcast
    * behind a raise_error guard.
    *
    * @return one row: (n_pos, n_neg, auc_num2, auc_den2); AUC =
    *         auc_num2/auc_den2
    */
  def aucExact(scored: DataFrame, scoreCol: String, labelCol: String,
               quantize: Int = 6): DataFrame = {
    require(quantize >= 0 && quantize <= 9,
      "quantize must keep the score lattice bounded (0-9 dp)")
    val dec = "decimal(38,0)"
    val g = scored.filter(col(scoreCol).isNotNull)
      .groupBy(round(col(scoreCol).cast("double"), quantize).as("_s"))
      .agg(count(lit(1)).cast(dec).as("_n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .cast(dec).as("_np"))
    // <= lattice-size narrow rows from here on: the unpartitioned
    // window is deliberate and bounded (the ksDrift shape)
    val w = Window.orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.withColumn("_cum", sum(col("_n")).over(w))
    def guarded(x: Column, what: String): Column =
      when(x > lit(Long.MaxValue).cast(dec),
        raise_error(concat(lit(s"aucExact: $what overflows BIGINT: "),
          x.cast("string"))).cast("long"))
        .otherwise(x.cast("long"))
    c.agg(
        sum(col("_np") * ((col("_cum") - col("_n")) * lit(2).cast(dec)
          + col("_n") + lit(1).cast(dec))).as("_r2"),
        sum(col("_np")).as("_npos"), sum(col("_n")).as("_ntot"))
      .select(
        guarded(col("_npos"), "n_pos").as("n_pos"),
        guarded(col("_ntot") - col("_npos"), "n_neg").as("n_neg"),
        guarded(col("_r2") - col("_npos") * (col("_npos") + lit(1).cast(dec)),
          "auc numerator").as("auc_num2"),
        guarded(lit(2).cast(dec) * col("_npos")
          * (col("_ntot") - col("_npos")), "auc denominator").as("auc_den2"))
  }

  /** Robust outlier annotation by median/MAD (the Hampel identifier —
    * Hampel 1974): a row is an outlier when |x − median| > k·MAD.
    * [[zscoreOutliers]]' robust sibling: mean/stddev themselves move
    * with the outliers they're supposed to find (one 10⁹-char document
    * drags the mean), while median and MAD have a 50% breakdown point —
    * the length/score gate that survives a corrupted shard.
    *
    * Shape: two chained 1-row percentile aggregates over the NARROW
    * value column (median, then MAD of |x − median|), broadcast back as
    * literal-style 1-row crossJoins. The DEFAULT percentile is the
    * mergeable GK sketch (`percentile_approx`, O(`accuracy`) memory per
    * task regardless of value cardinality — the 100 TB plan: an
    * all-distinct double score column costs the same as an integer
    * lattice). `exact = true` opts into Spark's exact `percentile`
    * aggregate, whose FINAL MERGE buffers the full distinct-value
    * histogram in one task — only safe on bounded lattices (integer
    * lengths, rounded scores); the contract queries use it because the
    * DuckDB oracle interpolates exactly. Any input with fewer distinct
    * values than `accuracy` is summarized exactly by the sketch too —
    * the two modes then differ only in interpolation at even-count
    * midpoints (the sketch returns a data value; exact interpolates).
    *
    * @return input + (med, mad, is_outlier) — med/mad rounded 6 dp;
    *         null values get null flags and pass through
    */
  def madOutliers(df: DataFrame, valueCol: String,
                  k: Double = 3.5, exact: Boolean = false,
                  accuracy: Int = 10000): DataFrame = {
    require(k > 0 && k.isFinite, s"need k > 0 (got $k)")
    require(accuracy >= 100, s"need accuracy >= 100 (got $accuracy)")
    val reserved = Seq("med", "mad", "is_outlier")
    val hit = df.columns.toSet.intersect(reserved.toSet)
    require(hit.isEmpty,
      s"madOutliers reserves ${reserved.mkString(", ")}; rename: " +
        hit.mkString(", "))
    val x = col(valueCol).cast("double")
    def p50(c: Column): Column =
      if (exact) percentile(c, lit(0.5))
      else percentile_approx(c, lit(0.5), lit(accuracy))
    val med = df.agg(round(p50(x), 6).as("med"))
    val mad = df.crossJoin(med) // 1-row
      .agg(round(p50(abs(x - col("med"))), 6).as("mad"))
    df.crossJoin(med).crossJoin(mad) // two 1-row stats tables
      .withColumn("is_outlier", abs(x - col("med")) > lit(k) * col("mad"))
  }

  /** Equal-frequency (quantile) binning: k cut points from the exact
    * interpolated percentile lattice, assignment as a codegen'd
    * comparison fold — the feature-discretization primitive (score
    * deciles for stratified eval, length quartiles for curriculum
    * ordering). bin = number of cut points strictly below the value,
    * so bins are [0, k) and boundary values land in the LOWER bin on
    * both engines (the `>` is the whole cross-engine contract; an
    * interpolated cut can equal a data value exactly).
    *
    * One narrow 1-row aggregate (the cut array) + one broadcast
    * crossJoin + a k-term comparison chain. Same percentile-mode story
    * as [[madOutliers]]: the DEFAULT cut points come from the mergeable
    * GK sketch (task memory O(`accuracy`) however many distinct scores
    * exist — the 100 TB plan); `exact = true` opts into the exact
    * interpolated aggregate, safe only on bounded lattices and used by
    * the contract queries to match the oracle's interpolation.
    *
    * @return input + `bin` (null value → null bin)
    */
  def quantileBins(df: DataFrame, valueCol: String, k: Int,
                   exact: Boolean = false,
                   accuracy: Int = 10000): DataFrame = {
    require(k >= 2 && k <= 10000, s"need 2 <= k <= 10000 (got $k)")
    require(accuracy >= 100, s"need accuracy >= 100 (got $accuracy)")
    require(!df.columns.contains("bin") && !df.columns.contains("_cuts"),
      "quantileBins reserves 'bin' and '_cuts'; rename the input")
    val x = col(valueCol).cast("double")
    val fracs = array((1 until k).map(i =>
      lit(i.toDouble / k)): _*)
    val cuts = df.agg(
      (if (exact) percentile(x, fracs)
       else percentile_approx(x, fracs, lit(accuracy))
        .cast("array<double>")).as("_cuts"))
    df.crossJoin(cuts) // 1-row cut table
      .withColumn("bin",
        when(x.isNull, lit(null).cast("int"))
          .otherwise(aggregate(col("_cuts"), lit(0),
            (acc, c) => acc + when(x > c, 1).otherwise(0))))
      .drop("_cuts")
  }

  /** Score normalization — the step before mixing heterogeneous quality
    * signals (a perplexity, a classifier logit, and a length prior live
    * on incomparable scales; any weighted blend or threshold sweep needs
    * them normalized first). Three methods:
    *
    *  - `zscore`: (x − mean)/σ_pop, from explicit (n, Σx, Σx²) sums —
    *    NOT Welford/stddev_pop, whose M2 merge order varies run-to-run;
    *    plain sums are order-independent whenever the values are
    *    integer-valued (exact in doubles to 2⁵³), which is what makes
    *    the integer-column contract query hash-stable cross-engine.
    *  - `minmax`: (x − min)/(max − min) into [0, 1].
    *  - `robust`: (x − median)/IQR — same percentile-mode story as
    *    [[madOutliers]]: DEFAULT quantiles come from the mergeable GK
    *    sketch (the 100 TB plan); `exact = true` opts into the exact
    *    interpolated aggregate for bounded lattices.
    *
    * Scale shape: one 1-row stats aggregate + a broadcast crossJoin +
    * a narrow codegen expression. Degenerate spread (σ = 0, max = min,
    * IQR = 0) yields null — a constant column has no meaningful
    * normalization, and silently emitting 0 would let it pass a
    * downstream blend as "perfectly average".
    *
    * @return input + `norm` (rounded 6 dp; null value → null norm)
    */
  def normalizeScores(df: DataFrame, valueCol: String,
                      method: String = "zscore",
                      exact: Boolean = false,
                      accuracy: Int = 10000): DataFrame = {
    require(Seq("zscore", "minmax", "robust").contains(method),
      s"method must be zscore | minmax | robust (got $method)")
    require(!df.columns.contains("norm"),
      "normalizeScores reserves the output column 'norm'; rename the input")
    val x = col(valueCol).cast("double")
    def pct(c: Column, f: Double): Column =
      if (exact) percentile(c, lit(f))
      else percentile_approx(c, lit(f), lit(accuracy))
    val (stats, norm) = method match {
      case "zscore" =>
        val s = df.agg(count(x).as("_n"), sum(x).as("_s"),
          sum(x * x).as("_s2"))
        val mean = col("_s") / col("_n")
        val varP = col("_s2") / col("_n") - mean * mean
        (s, when(varP > 0, round((x - mean) / sqrt(varP), 6)))
      case "minmax" =>
        val s = df.agg(min(x).as("_lo"), max(x).as("_hi"))
        (s, when(col("_hi") > col("_lo"),
          round((x - col("_lo")) / (col("_hi") - col("_lo")), 6)))
      case "robust" =>
        // stats rounded 6 dp BEFORE the division (madOutliers'
        // discipline): interpolated quantiles are the one stat whose
        // last-ulp can differ cross-engine
        val s = df.agg(round(pct(x, 0.5), 6).as("_med"),
          round(pct(x, 0.25), 6).as("_q1"), round(pct(x, 0.75), 6).as("_q3"))
        (s, when(col("_q3") > col("_q1"),
          round((x - col("_med")) / (col("_q3") - col("_q1")), 6)))
    }
    val statCols = stats.columns
    df.crossJoin(stats) // 1-row stats table
      .withColumn("norm", norm)
      .drop(statCols: _*)
  }

  /** Winsorize: clamp values into the [pLo, pHi] quantile interval —
    * heavy-tail taming for loss weights, sampling scores, or any signal
    * where a handful of extreme documents would otherwise dominate a
    * mean (the alternative to [[madOutliers]]' drop decision when rows
    * must be KEPT, just de-weighted).
    *
    * Same plan and percentile-mode story as [[quantileBins]]: one 1-row
    * quantile aggregate (GK sketch by DEFAULT — bounded task memory on
    * all-distinct doubles; `exact = true` for bounded lattices and the
    * oracle's interpolation) + a broadcast crossJoin + a narrow clamp.
    *
    * @return input + `winsorized` (rounded 6 dp; null value → null)
    */
  def winsorize(df: DataFrame, valueCol: String,
                pLo: Double = 0.01, pHi: Double = 0.99,
                exact: Boolean = false,
                accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    require(!df.columns.contains("winsorized"),
      "winsorize reserves the output column 'winsorized'; rename the input")
    val x = col(valueCol).cast("double")
    def pct(c: Column, f: Double): Column =
      if (exact) percentile(c, lit(f))
      else percentile_approx(c, lit(f), lit(accuracy))
    // cut points rounded 6 dp before the clamp, so a last-ulp
    // interpolation difference can never leak into a clamped value
    val cuts = df.agg(round(pct(x, pLo), 6).as("_wlo"),
      round(pct(x, pHi), 6).as("_whi"))
    df.crossJoin(cuts) // 1-row cut table
      // greatest/least SKIP nulls (a null value would clamp to the cut
      // itself) — gate explicitly so null stays null
      .withColumn("winsorized",
        when(x.isNull, lit(null).cast("double"))
          .otherwise(round(least(greatest(x, col("_wlo")), col("_whi")), 6)))
      .drop("_wlo", "_whi")
  }

  /** k-fold cross-validation fold assignment on the md5 lattice — the
    * CV sibling of [[hashSplit]]: fold membership is a pure function of
    * the key (no RNG, no state), so folds are reproducible across runs,
    * machines, and corpus versions, and adding rows never reshuffles
    * existing ones.
    *
    * `groupCol` switches to GROUP k-fold (scikit-learn's GroupKFold
    * semantics, hash-based): every row of a group lands in the SAME
    * fold, so near-duplicate clusters, per-source families, or per-
    * author documents never straddle a train/eval boundary — the fold-
    * level form of the pipeline's split-leakage audit.
    *
    * One narrow projection; nothing shuffles.
    *
    * @return input + `fold` in [0, k)
    */
  def kFoldAssign(df: DataFrame, keyCol: String, k: Int,
                  groupCol: Option[String] = None): DataFrame = {
    require(k >= 2 && k <= 65536, s"need 2 <= k <= 65536 (got $k)")
    require(!df.columns.contains("fold"),
      "kFoldAssign reserves the output column 'fold'; rename the input")
    val keyC = groupCol.getOrElse(keyCol)
    df.withColumn("fold", (md5Bucket(keyC) % k).cast("int"))
  }

  /** Deterministic n-per-group sample: the md5-priority top-n of every
    * group — the balanced-subset primitive (n examples per class/source
    * for a calibration set or a human-review queue), uniform under the
    * md5 lattice and reproducible like every sampler here.
    *
    * One window pass that plans as `WindowGroupLimit` (rank <= n pushes
    * into the shuffle, so each task retains n rows per group instead of
    * sorting whole groups — the [[weightedSample]] shape; a corpus-hot
    * group never materializes beyond n rows per task).
    *
    * @return the sampled input rows (all columns, <= n per group)
    */
  def takeNPerGroup(df: DataFrame, groupCols: Seq[String], n: Int,
                    keyCol: String): DataFrame = {
    require(groupCols.nonEmpty && n >= 1)
    require(!df.columns.contains("_rn"),
      "takeNPerGroup reserves the working column '_rn'; rename the input")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n).drop("_rn")
  }

  /** Poisson-bootstrap replicates (Chamandy et al. 2012, "Estimating
    * Uncertainty for Massive Data Streams" — the Google formulation of
    * the bootstrap that works in one pass over distributed data): each
    * row enters replicate r with multiplicity k ~ Poisson(1), derived
    * DETERMINISTICALLY from the md5 lattice of (key, r) by inverting the
    * Poisson CDF on the 32-bit uniform — no RNG, membership is a pure
    * function of the key (the [[hashSplit]] discipline). Classical
    * with-replacement resampling would need n draws per replicate
    * coordinated across executors; Poisson(1) multiplicities are iid per
    * row, embarrassingly parallel, and match the bootstrap to O(1/n).
    *
    * Published integer sources per replicate: effective row count and
    * correct-prediction count — accuracy_r = n_correct/n downstream;
    * the spread over replicates is the CI (the repo float-lattice rule:
    * integers out, division downstream). Multiplicity caps at 8
    * (P[k > 8] < 1e-8 — the tail's contribution is far below the CI's
    * own resolution).
    *
    * Scale shape: ONE pass over rows x `reps` (an explicit, documented
    * `reps`-way fan-out — generate_series costs no shuffle), one
    * map-side-combinable aggregate to `reps` rows. No collect, no
    * window, no per-replicate job.
    *
    * @return (rep, n, n_correct), rep in [1, reps]
    */
  def poissonBootstrap(scored: DataFrame, idCol: String, labelCol: String,
                       predCol: String, reps: Int = 32): DataFrame = {
    require(reps >= 1 && reps <= 10000, s"unreasonable reps=$reps")
    // Poisson(1) CDF * 2^32 for k = 0..7 (then cap 8), as LITERALS so
    // the DuckDB oracle replays byte-identical thresholds (a computed
    // exp(-1) ladder could drift 1 ulp between engines)
    val cdf: Seq[Long] = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L)
    val u = conv(substring(md5(concat_ws(":",
      col(idCol).cast("string"), col("rep").cast("string"))), 1, 8),
      16, 10).cast("long")
    val k = cdf.zipWithIndex.foldRight(lit(8): Column) {
      case ((t, i), rest) => when(u < t, i).otherwise(rest)
    }
    scored
      .select(col(idCol), (col(labelCol) === col(predCol)).as("_ok"))
      .select(col(idCol), col("_ok"),
        explode(sequence(lit(1), lit(reps))).as("rep"))
      .select(col("rep"), k.cast("long").as("_k"), col("_ok"))
      .groupBy("rep")
      .agg(sum(col("_k")).as("n"),
        sum(when(col("_ok"), col("_k")).otherwise(0L)).as("n_correct"))
  }

  /** Fleiss' kappa integer sources (Fleiss 1971) — inter-annotator
    * agreement when EVERY item is rated by the same number of raters
    * n >= 2 (crowd labeling with fixed redundancy; [[cohenKappa]] is the
    * two-identified-raters sibling). With n_ij = ratings of item i in
    * category j, p_j = column totals, N items:
    *
    *   P_o  = (Σ_ij n_ij² − N·n) / (N·n·(n−1))
    *   P_e  = Σ_j (p_j / (N·n))²
    *   kappa = (P_o − P_e)/(1 − P_e)
    *
    * Everything is a ratio of the published EXACT integers (N, n,
    * s2 = Σ n_ij², p2 = Σ p_j²): kappa = ((s2 − N·n)·(N·n)² −
    * p2·N·n·(n−1)) / ((N·n·(n−1))·((N·n)² − p2)) downstream. Squares
    * and totals run in DECIMAL(38,0) behind raise_error guards (the
    * [[aucExact]] discipline). The equal-raters precondition is
    * enforced IN-PLAN (min != max per-item totals raises), so the
    * operator stays action-free.
    *
    * Shape: one (item, label) aggregate, one label-marginal aggregate
    * over the label-vocabulary-sized cell table, two 1-row reductions.
    *
    * @return one row: (n_items, n_raters, s2, p2)
    */
  def fleissKappa(ratings: DataFrame, itemCol: String,
                  labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = ratings
      .filter(col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("_i"), col(labelCol).as("_l"))
      .agg(count(lit(1)).cast(dec).as("_c"))
      .localCheckpoint(true) // feeds three aggregates below
    val perItem = cells.groupBy("_i").agg(sum(col("_c")).as("_ni"),
      sum(col("_c") * col("_c")).as("_s2i"))
    // coalesce: min/max/sum over ZERO items are NULL — the =!= guard
    // below would be NULL too and fall through, publishing NULL
    // n_raters/s2 instead of clean zeros on empty/all-null input
    val items = perItem.agg(
      count(lit(1)).cast(dec).as("_N"),
      coalesce(min(col("_ni")), lit(0).cast(dec)).as("_nmin"),
      coalesce(max(col("_ni")), lit(0).cast(dec)).as("_nmax"),
      coalesce(sum(col("_s2i")), lit(0).cast(dec)).as("_s2"))
    val marg = cells.groupBy("_l").agg(sum(col("_c")).as("_pj"))
      .agg(coalesce(sum(col("_pj") * col("_pj")), lit(0).cast(dec))
        .as("_p2"))
    def guarded(x: Column, what: String): Column =
      when(x > lit(Long.MaxValue).cast(dec),
        raise_error(concat(lit(s"fleissKappa: $what overflows BIGINT: "),
          x.cast("string"))).cast("long"))
        .otherwise(x.cast("long"))
    val out = items.crossJoin(marg) // two 1-row frames
      .select(
        when(col("_nmin") =!= col("_nmax"),
          raise_error(concat(lit("fleissKappa needs every item rated " +
            "by the same number of raters; saw per-item totals from "),
            col("_nmin").cast("string"), lit(" to "),
            col("_nmax").cast("string"))).cast("long"))
          .otherwise(guarded(col("_N"), "n_items")).as("n_items"),
        guarded(col("_nmin"), "n_raters").as("n_raters"),
        guarded(col("_s2"), "s2").as("s2"),
        guarded(col("_p2"), "p2").as("p2"))
      .localCheckpoint(true)
    Pins.release(cells)
    out
  }

  /** Confusion matrix for a labeled classifier run — the evaluation
    * staple the calibration/AUC pair doesn't cover: one row per observed
    * (label, pred) cell with its count, from which every per-class
    * precision/recall/F1 is an integer ratio downstream (row sums =
    * support, column sums = predicted totals, diagonal = hits). Null
    * labels/predictions are cells too (`groupBy` keeps them) — silently
    * dropping them would overstate accuracy on a partially-labeled run.
    *
    * One map-side-combinable aggregate over ≤ |labels|² groups.
    *
    * @return (label, pred, n)
    */
  def confusionMatrix(scored: DataFrame, labelCol: String,
                      predCol: String): DataFrame = {
    scored.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cohen's kappa integer sources (Cohen 1960) — inter-annotator
    * agreement for a double-labeled corpus sample, the QA gate on any
    * human- or model-labeled training set: kappa = (p_o − p_e)/(1 − p_e)
    * with observed agreement p_o = n_agree/n and chance agreement
    * p_e = Σ_l n_a(l)·n_b(l) / n². Published as EXACT integers (the
    * repo's float-lattice rule): kappa = (n_agree·n − pe_num) /
    * (n² − pe_num) downstream. Rows where either rating is null drop
    * (unrated items are not agreement evidence); null-vs-null therefore
    * never counts as agreement.
    *
    * Shape: one count aggregate plus two label-marginal aggregates
    * joined on the label (label-vocabulary-sized, broadcast); the
    * product n_a·n_b and n² run in DECIMAL(38,0) behind raise_error
    * guards (the [[aucExact]] discipline — n² wraps bigint past ~3e9).
    *
    * @return one row: (n, n_agree, pe_num)
    */
  def cohenKappa(rated: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val both = rated.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val totals = both.agg(
      count(lit(1)).cast(dec).as("_n"),
      // coalesce: sum over ZERO rated rows is NULL, not 0 (same
      // empty-input path _pe already guards)
      coalesce(sum(when(col(aCol) === col(bCol), 1L).otherwise(0L)),
        lit(0L)).cast(dec).as("_agree"))
    val ma = both.groupBy(col(aCol).as("_l"))
      .agg(count(lit(1)).cast(dec).as("_na"))
    val mb = both.groupBy(col(bCol).as("_l"))
      .agg(count(lit(1)).cast(dec).as("_nb"))
    // inner join: a label only one rater ever used contributes 0 to pe
    val pe = ma.join(mb, "_l")
      .agg(coalesce(sum(col("_na") * col("_nb")), lit(0).cast(dec))
        .as("_pe"))
    def guarded(x: Column, what: String): Column =
      when(x > lit(Long.MaxValue).cast(dec),
        raise_error(concat(lit(s"cohenKappa: $what overflows BIGINT: "),
          x.cast("string"))).cast("long"))
        .otherwise(x.cast("long"))
    totals.crossJoin(pe) // two 1-row frames
      .select(guarded(col("_n"), "n").as("n"),
        guarded(col("_agree"), "n_agree").as("n_agree"),
        guarded(col("_pe"), "pe numerator").as("pe_num"))
  }

  /** McNemar contingency counts for a PAIRED classifier comparison —
    * "is model B actually better than model A on the same examples?",
    * the question per-model accuracy can't answer because it ignores
    * pairing (McNemar 1947). One row of integers:
    *
    *   n00 both wrong, n01 only B right, n10 only A right, n11 both right
    *
    * The test statistic is the consumer's division (data-card rule):
    * chi2 = (n01 - n10)^2 / (n01 + n10), or the exact binomial on
    * (n01, n01 + n10). Null truth rows drop (unjudgeable); a null
    * PREDICTION counts as wrong, not dropped — dropping it would let a
    * model improve its score by abstaining on hard examples.
    *
    * One map-side-combinable aggregate; no shuffle beyond the 1-row
    * fold. Safe at any scale.
    *
    * @return one row: (n00, n01, n10, n11)
    */
  def mcnemarCounts(scored: DataFrame, truthCol: String,
                    aCol: String, bCol: String): DataFrame = {
    val okA = coalesce(col(aCol) === col(truthCol), lit(false))
    val okB = coalesce(col(bCol) === col(truthCol), lit(false))
    def cell(a: Boolean, b: Boolean): Column =
      coalesce(sum(when(okA === lit(a) && okB === lit(b), 1L)
        .otherwise(0L)), lit(0L))
    scored.filter(col(truthCol).isNotNull)
      .agg(cell(a = false, b = false).as("n00"),
        cell(a = false, b = true).as("n01"),
        cell(a = true, b = false).as("n10"),
        cell(a = true, b = true).as("n11"))
  }

  /** Spearman rank-correlation integer sources — monotonic agreement
    * between two per-row scores (an LLM judge vs a human rubric, two
    * quality heuristics) where Pearson on raw values is distorted by
    * scale. Publishes the rank-moment INTEGERS; rho is the consumer's
    * division (data-card rule, and sqrt makes the float un-hashable):
    *
    *   rho = (n*s_ab - s_a*s_b)
    *         / sqrt((n*s_a2 - s_a^2) * (n*s_b2 - s_b^2))
    *
    * Ties get AVERAGE ranks (the standard treatment). Average ranks
    * live on a half-integer lattice, so the published moments are of
    * DOUBLED ranks r2 = 2*min_rank + tie_count - 1 — exact integers;
    * the doubling cancels in rho. `s_a` always equals n*(n+1) — kept
    * as a rank-construction invariant the oracle re-derives.
    *
    * Plan shape: ranks are NOT a window over rows (the repo rule) —
    * rows collapse to the (value_a, value_b) PAIR lattice first, the
    * two per-value rank tables are cumulative sums over each DISTINCT-
    * VALUE lattice (the aucExact discipline: bounded by distinct
    * scores, not rows; the unpartitioned-window warning is expected),
    * and two equi-joins put ranks back on the pair lattice. Moments
    * accumulate in DECIMAL(38,0) behind overflow guards: r2 <= 2n, so
    * a product term is <= 4n^2 and the sum <= 4n^3 — past ~1.3e6 rows
    * the guard fires rather than silently wrapping.
    *
    * @return one row: (n, s_a, s_b, s_a2, s_b2, s_ab) — BIGINTs over
    *         doubled ranks
    */
  def spearmanCounts(scored: DataFrame, aCol: String,
                     bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs = scored
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_va"), col(bCol).as("_vb"))
      .agg(count(lit(1)).as("_np"))
      .localCheckpoint(true) // feeds both rank lattices + the join
    def rankTable(vCol: String, out: String): DataFrame = {
      val byValue = pairs.groupBy(col(vCol).as("_v"))
        .agg(sum(col("_np")).as("_cv"))
      // distinct-value lattice cumsum (bounded; aucExact discipline)
      val w = Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
      byValue.select(col("_v").as(vCol),
        (lit(2) * coalesce(sum(col("_cv")).over(w), lit(0L))
          + col("_cv") + lit(1)).as(out))
    }
    def guarded(x: Column, what: String): Column =
      when(x > lit(Long.MaxValue).cast(dec),
        raise_error(concat(
          lit(s"spearmanCounts: $what overflows BIGINT: "),
          x.cast("string"))).cast("long"))
        .otherwise(x.cast("long"))
    val ranked = pairs
      .join(rankTable("_va", "_ra"), Seq("_va"))
      .join(rankTable("_vb", "_rb"), Seq("_vb"))
    def mom(x: Column, name: String): Column =
      guarded(coalesce(sum((col("_np") * x).cast(dec)),
        lit(0).cast(dec)), name)
    val out = ranked.agg(
      mom(lit(1L), "n").as("n"),
      mom(col("_ra"), "s_a").as("s_a"),
      mom(col("_rb"), "s_b").as("s_b"),
      mom(col("_ra") * col("_ra"), "s_a2").as("s_a2"),
      mom(col("_rb") * col("_rb"), "s_b2").as("s_b2"),
      mom(col("_ra") * col("_rb"), "s_ab").as("s_ab"))
      .localCheckpoint(true)
    Pins.release(pairs)
    out
  }

  /** Krippendorff's alpha (nominal) integer sources — the agreement
    * coefficient that handles MISSING ratings, completing the family
    * (cohenKappa: 2 fixed raters; fleissKappa: every item rated
    * exactly k times; this: any-rater any-subset, the real shape of
    * crowd annotation runs) (Krippendorff 2004).
    *
    *   alpha = 1 - (n-1) * [ sum_m disagree_m / (m-1) ]
    *               / (n^2 - sq_sum)
    *
    * The only non-integer part of alpha is the per-unit 1/(m_u - 1)
    * weight, so the output is the exact-fraction data card GROUPED BY
    * m: one row per observed ratings-per-unit count m with integer
    * (n_units, disagree_m = sum over those units of m^2 - sum_c
    * n_uc^2), plus the global integers (n = total pairable ratings,
    * sq_sum = sum_c n_c^2 over value marginals) repeated on every row
    * so the card is one self-contained frame. The consumer folds the
    * <= |raters| rows of the tiny sum above.
    *
    * Semantics: null unit/rater/value rows drop; duplicate
    * (unit, rater) ratings collapse to the MIN value (deterministic —
    * the reference assumption is one rating per rater per unit);
    * units with m_u < 2 are unpairable and contribute nothing (the
    * standard treatment).
    *
    * Plan shape: unit-keyed aggregates (group sizes = ratings per
    * unit, annotation-bounded), a value-marginal aggregate, and a
    * crossJoin of a <= |raters|-row frame with a 1-row frame.
    * DECIMAL(38,0) + overflow guards on every published sum.
    *
    * @return rows (m, n_units, disagree_m, n, sq_sum), m ascending
    */
  def krippendorffAlpha(ratings: DataFrame, unitCol: String,
                        raterCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = ratings
      .filter(col(unitCol).isNotNull && col(raterCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("_u"), col(raterCol).as("_r"))
      .agg(min(col(valueCol)).as("_v"))
      .groupBy(col("_u"), col("_v"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint(true) // feeds units + marginals
    val units = cells.groupBy("_u")
      .agg(sum(col("_c")).as("_m"),
        sum(col("_c") * col("_c")).as("_s2"))
      .filter(col("_m") >= 2)
      .localCheckpoint(true) // feeds perM + globals + the semi join
    def guarded(x: Column, what: String): Column =
      when(x > lit(Long.MaxValue).cast(dec),
        raise_error(concat(
          lit(s"krippendorffAlpha: $what overflows BIGINT: "),
          x.cast("string"))).cast("long"))
        .otherwise(x.cast("long"))
    val perM = units.groupBy(col("_m").as("m"))
      .agg(count(lit(1)).as("n_units"),
        guarded(coalesce(sum((col("_m") * col("_m") - col("_s2"))
          .cast(dec)), lit(0).cast(dec)), "disagree_m").as("disagree_m"))
    val nTotal = units.agg(
      guarded(coalesce(sum(col("_m").cast(dec)), lit(0).cast(dec)),
        "n").as("n"))
    // value marginals over PAIRABLE units only (semi join on the
    // unit key; cells is the larger side, units is unit-keyed)
    val sqSum = cells.join(units.select("_u"), Seq("_u"), "left_semi")
      .groupBy("_v").agg(sum(col("_c")).as("_nc"))
      .agg(guarded(coalesce(sum((col("_nc") * col("_nc")).cast(dec)),
        lit(0).cast(dec)), "sq_sum").as("sq_sum"))
    val out = perM.crossJoin(nTotal).crossJoin(sqSum) // 1-row frames
      .select(col("m").cast("long").as("m"), col("n_units"),
        col("disagree_m"), col("n"), col("sq_sum"))
      .localCheckpoint(true)
    Pins.release(cells, units)
    out
  }
}
