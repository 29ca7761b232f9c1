package graft.ops

import graft.Pins
import graft.graph.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composition a training-data run
  * actually executes, chaining the operator suite in its canonical order —
  *
  *   0. optional URL dedup (`urlCol`: crawl variants of one page collapse
  *      by canonical URL BEFORE any text is touched — the C4/CCNet first
  *      step and the cheapest gate in the pipeline)
  *   1. annotate (lang-id, token counts, quality — one narrow pass)
  *   2. quality gate (language allow-list, quality floor, repetition cap)
  *   2a. optional C4 blocklist gate (drop docs containing a listed word —
  *      broadcast-join filter, before any text-rewriting stage)
  *   2b. optional per-source boilerplate strip (RefinedWeb: lines repeated
  *      across `boilerplateMinDocs` docs of one source are site furniture,
  *      cut everywhere — BEFORE the LM gate so the LM never learns the
  *      furniture; requires a `source` column)
  *   2c. optional paragraph quality filter (jusText: paragraphs with
  *      fewer than `parMinWords` words or stopword density under
  *      `parMinStopRatio` are cut — heuristic boilerplate the repetition
  *      strip can't see because it isn't repeated)
  *   3. optional LM-perplexity gate (CCNet: keep the lowest-surprisal
  *      `lmKeepFrac` of the gated corpus under a self-built unigram LM)
  *   3b. optional trained-classifier gate (`clfWeights`: fastText-style
  *      linear model scores >= `clfMinScore` survive — the third leg of
  *      the rules/perplexity/classifier stack)
  *   3c. optional DSIR selection (importance-resample toward `dsirTarget`
  *      — hashed-n-gram log-ratio weights + Gumbel top-`dsirKeepN`)
  *   4. exact dedup (fingerprint hash-agg, keep canonical)
  *   5. near dedup (MinHash-LSH clusters, keep canonical)
  *   6. decontaminate (drop docs overlapping the eval set)
  *   7. PII scrub
  *   8. chunk to model context length
  *   9. deterministic train/val/test split + token-budget packing
  *
  * Stage ORDER is the standard cost argument: narrow single-pass filters
  * run first so every later (shuffling) stage sees fewer rows; exact dedup
  * (one cheap hash-agg) runs before MinHash (signature + band join); the
  * eval-overlap join runs on the deduped survivor set. Every stage is the
  * already-tested operator — this object only composes them, so the
  * pipeline inherits each stage's oracle/property coverage, and its own
  * spec checks the cross-stage invariants (monotone row counts, no
  * duplicate survivors, budget-bounded packs).
  *
  * Returns the curated CHUNK table plus a per-stage row-count report for
  * the run log (computed with one count per stage boundary; counts are
  * actions, so the 100 TB invocation passes `audit = false` to skip them —
  * stage boundaries stay pinned either way, the report comes back empty).
  */
object Pipelines {

  final case class CurationResult(chunks: DataFrame, report: DataFrame)

  /** Optional compression-ratio gate shared by both pipelines:
    * templated/generated text (long shared prefixes, serial numbers)
    * deflates far below prose while keeping its WORD-level n-gram
    * repetition low, so the deflate signal catches what the repetition
    * gate can't. bytes <= cap·deflate_len avoids the division
    * (deflate_len >= 2 on any input, but multiply anyway).
    */
  private def compressionGate(df: DataFrame, cap: Option[Double],
                              textCol: String): DataFrame = cap match {
    case Some(c) => df.filter(
      octet_length(col(textCol)).cast("double") <= lit(c) *
        graft.functions.CorpusFunctions.deflate_len(col(textCol))
          .cast("double"))
    case None => df
  }

  def curateCorpus(docs: DataFrame, eval: DataFrame,
                   urlCol: Option[String] = None,
                   langs: Seq[String] = Seq("en"),
                   minQuality: Double = 0.3,
                   maxRepetition: Double = 0.3,
                   maxCompressionRatio: Option[Double] = None,
                   nearDupThreshold: Double = 0.7,
                   nearDupNumHashes: Int = 128,
                   nearDupBands: Int = 32,
                   blocklist: Option[DataFrame] = None,
                   boilerplateMinDocs: Option[Long] = None,
                   boilerplateDelim: String = "\n",
                   sourceCol: String = "source",
                   parMinWords: Option[Long] = None,
                   parMinStopRatio: Double = 0.05,
                   lmKeepFrac: Option[Double] = None,
                   lmMinCount: Long = 5L,
                   clfWeights: Option[DataFrame] = None,
                   clfBias: Double = 0.0,
                   clfMinScore: Double = 0.5,
                   dsirTarget: Option[DataFrame] = None,
                   dsirKeepN: Int = 10000,
                   dsirBuckets: Int = 4096,
                   cutSpanK: Option[Int] = None,
                   dedupLinesDelim: Option[String] = None,
                   chunkTokens: Int = 256, chunkStride: Int = 256,
                   packBudget: Long = 2048,
                   audit: Boolean = true,
                   uniformCanonical: Boolean = false,
                   idCol: String = "doc_id",
                   textCol: String = "text"): CurationResult = {
    val spark = docs.sparkSession
    import spark.implicits._

    val stages = scala.collection.mutable.ListBuffer[(String, Long)]()
    // pin each stage boundary (the eager checkpoint is the materializing
    // action), then release the PREVIOUS boundary's blocks: only one
    // intermediate is ever resident, and the final stage stays pinned for
    // the caller. The audit count is an EXTRA action per boundary — the
    // run-log row counts — skipped when audit=false (the 100 TB mode).
    //
    // Unlike curateBatch (whose no-audit mode pins only fan-out stages),
    // the pins here stay UNCONDITIONAL by design: in the full-rerun
    // pipeline nearly every stage output is re-read by its consumer's
    // statistic + join-back shape (blocklist/LM/classifier/DSIR gates,
    // Dedup.exact's fingerprint aggregate, the near-dup/decontaminate
    // self-joins, the span/line rebuilds), so without the pin each stage
    // would recompute the ENTIRE accumulated upstream chain at least
    // twice — strictly worse than one materialization per boundary. The
    // batch pipeline escapes this only because its statistics live in
    // the PREBUILT CorpusState indexes, leaving most of its stages
    // single-read anti-joins.
    var prevPinned: Option[DataFrame] = None
    def stage(name: String, df: DataFrame): DataFrame = {
      // label the stage's jobs (guide §1.5 practice): the pin + count +
      // any broadcast builds they trigger show up attributable in the
      // UI / listener instead of as anonymous future lambdas
      val pinned = Iterate.described(s"curate: $name") {
        val p = df.localCheckpoint(true)
        if (audit) stages += name -> p.count()
        p
      }
      prevPinned.foreach(Pins.release(_))
      prevPinned = Some(pinned)
      pinned
    }

    // optional URL dedup: crawl variants of one page collapse by
    // canonical URL before any text is read — the cheapest cut possible
    val urlDeduped = urlCol match {
      case Some(u) => stage("url-dedup",
        CorpusOps.dedupByUrl(docs, u, idCol)
          .filter(col("is_canonical"))
          .drop("canonical_url", "url_group_size", "is_canonical"))
      case None => docs
    }

    val annotated = stage("input+annotate",
      TextAnalysis.annotate(urlDeduped, textCol))

    val gated = stage("quality-gate", compressionGate(annotated
      .filter(col("lang_pred").isin(langs: _*))
      .filter(col("quality") >= minQuality)
      .filter(CorpusOps.repetitionRatio(col(textCol)) <= maxRepetition),
      maxCompressionRatio, textCol))

    // optional C4 blocklist gate: drop docs containing ANY listed word —
    // a cheap broadcast-join filter, so it runs right after the rule
    // gates, before every text-rewriting or shuffling stage
    val blGated = blocklist match {
      case Some(bl) => stage("blocklist-gate", gated.join(
        CorpusOps.flagBlocklisted(gated, bl, idCol, textCol)
          .select(idCol),
        Seq(idCol), "left_anti"))
      case None => gated
    }

    // optional per-source boilerplate strip: runs before the LM gate so
    // the perplexity model never trains on site furniture
    val bpStripped = boilerplateMinDocs match {
      case Some(m) => stage("strip-boilerplate",
        Dedup.stripBoilerplate(blGated, sourceCol, m, boilerplateDelim,
          idCol, textCol)
          .withColumn(textCol, col("text_deduped"))
          .drop("text_deduped", "n_lines_cut"))
      case None => blGated
    }

    // optional jusText paragraph filter: heuristic boilerplate (short /
    // function-word-free paragraphs) the repetition-based strip can't
    // see; before the LM gate for the same train-on-clean-text reason
    val parFiltered = parMinWords match {
      case Some(mw) => stage("filter-paragraphs",
        TextAnalysis.filterParagraphs(bpStripped, mw, parMinStopRatio,
          boilerplateDelim, idCol, textCol)
          .withColumn(textCol, col("text_filtered"))
          .drop("text_filtered", "n_pars_cut"))
      case None => bpStripped
    }

    // optional CCNet-style perplexity gate: a unigram LM built from the
    // already-gated corpus scores every doc (mean surprisal in bits) and
    // only the lowest-perplexity lmKeepFrac survives — runs on the gated
    // set so the LM never learns from docs the rule filters just rejected
    val lmGated = lmKeepFrac match {
      case Some(frac) => stage("lm-gate", {
        val lm = TextAnalysis.buildUnigramLm(parFiltered, textCol, lmMinCount)
        val kept = CorpusOps.keepHeadByScore(
          TextAnalysis.unigramBitsPerToken(parFiltered, lm, idCol, textCol),
          "bits_per_token", idCol, frac)
        parFiltered.join(kept.select(idCol), Seq(idCol), "left_semi")
      })
      case None => parFiltered
    }

    // optional trained-classifier gate (the fastText-style stage of the
    // LLaMA/RedPajama stack — rules, perplexity, classifier): keep docs
    // the model scores >= clfMinScore. The weights table is the caller's
    // trained artifact; scoring is one equi-join + per-doc aggregate.
    val clfGated = clfWeights match {
      case Some(wts) => stage("classifier-gate", {
        val scored = TextAnalysis.classifyLinear(lmGated, wts, clfBias,
          idCol, textCol)
        lmGated.join(
          scored.filter(col("score") >= clfMinScore).select(idCol),
          Seq(idCol), "left_semi")
      })
      case None => lmGated
    }

    // optional DSIR selection (Xie et al. 2023): importance-resample the
    // gated corpus toward a target domain — after the cheap narrow gates
    // (don't spend the feature pass on rule-rejected docs), before the
    // dedup shuffles (they should only see the selected subset)
    val dsirSelected = dsirTarget match {
      case Some(tgt) => stage("dsir-select", {
        val w = TextAnalysis.dsirLogRatio(clfGated, tgt, dsirBuckets,
          idCol, textCol)
        clfGated.join(
          CorpusOps.importanceResample(w, "log_ratio", dsirKeepN, idCol)
            .select(idCol),
          Seq(idCol), "left_semi")
      })
      case None => clfGated
    }

    val exactDeduped = stage("exact-dedup",
      // uniformCanonical: exactly ONE survivor per dup group, chosen by
      // id-HASH (uniform over members) instead of min id — de-biases
      // survivor metadata (keep-min always preserves the earliest copy)
      // while staying single-survivor, so the downstream near-dup stage
      // composes unchanged. (softKeep's keep-w.p.-1/n form would leave
      // multi-survivor groups for near-dup to re-collapse to min id,
      // silently reintroducing the bias — use it standalone for
      // weighting, not inside a keep-canonical chain.)
      (if (uniformCanonical) Dedup.exactUniform(dsirSelected, idCol, textCol)
       else Dedup.exact(dsirSelected, idCol, textCol))
        .filter(col("is_canonical"))
        .drop("dup_group_size", "is_canonical"))

    // nearDupNumHashes = 0 / nearDupBands = 1 is minhashLsh's staged
    // seam (exact all-pairs Jaccard) — the q_curate_pipeline oracle
    // rides it; deployment keeps the banded defaults
    val nearDeduped = stage("near-dedup", exactDeduped.join(
      Dedup.clusters(exactDeduped, nearDupThreshold,
        numHashes = nearDupNumHashes, bands = nearDupBands,
        idCol = idCol, textCol = textCol)
        .filter(col("is_canonical"))
        .select(idCol),
      Seq(idCol), "left_semi"))

    val clean = stage("decontaminate", nearDeduped.join(
      Dedup.decontaminate(nearDeduped, eval, idCol = idCol,
        textCol = textCol)
        .select(col("train_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti"))

    // optional substring-level dedup (Lee et al. keep-one policy): cut
    // residual duplicated spans that survive DOC-level dedup (boilerplate
    // headers/footers shared by otherwise-distinct docs)
    val spanCut = cutSpanK match {
      case Some(k) => stage("cut-spans",
        Dedup.cutDuplicateSpans(clean, k, idCol = idCol, textCol = textCol)
          .withColumn(textCol, col("text_deduped"))
          .drop("text_deduped", "n_spans_cut"))
      case None => clean
    }

    // optional paragraph-level dedup (MassiveText policy): each distinct
    // line keeps its first corpus-wide occurrence — catches repeated
    // boilerplate at line granularity, cheaper than the char-gram pass
    val lineDeduped = dedupLinesDelim match {
      case Some(delim) => stage("dedup-lines",
        Dedup.dedupLines(spanCut, delim, idCol, textCol)
          .withColumn(textCol, col("text_deduped"))
          .drop("text_deduped", "n_lines_cut"))
      case None => spanCut
    }

    val scrubbed = lineDeduped.withColumn(textCol,
      CorpusOps.scrubText(col(textCol)))

    val chunks = stage("chunk",
      CorpusOps.chunkDocs(scrubbed, chunkTokens, chunkStride, idCol, textCol))

    // split is keyed by the DOC id (chunks of one doc never straddle
    // train/val — the leakage rule), while packing orders by a UNIQUE
    // chunk key so the cumulative sum is deterministic across runs, and
    // pack_id is split-local (within = split): a pack never mixes
    // train/val/test rows, so publishCurated's per-split trees hold whole,
    // budget-full packs
    val packed = stage("split+pack", CorpusOps.packByTokenBudget(
      chunks
        .withColumn("split", CorpusOps.hashSplit(idCol))
        .withColumn("chunk_key",
          concat(col(idCol), lit(":"), col("chunk_idx"))),
      packBudget, idCol = "chunk_key", textCol = "chunk_text",
      within = Seq("split")))

    val report = stages.toSeq.toDF("stage", "rows")
    CurationResult(packed, report)
  }

  /** Persisted dedup state of an already-curated corpus — what a DAILY
    * incremental curation run carries between days instead of rescanning
    * the corpus:
    *
    *  - `fingerprints`: [[Dedup.fingerprintIndex]] (1 narrow column; at
    *    100 TB bucketed by fingerprint)
    *  - `lines`: [[Dedup.lineIndex]] (distinct lines; bucketed by line_h)
    *  - `minhash`: [[Dedup.MinHashIndex]] (buckets bucketed by
    *    (band, bucket), sigs by doc_id)
    *
    * Persist/reload the minhash member with [[IndexStore]]; the two plain
    * tables with [[Bucketing.writeBucketed]]. All three describe the
    * admitted corpus at the SAME stage position the batch pipeline
    * compares at (post line-dedup, pre-scrub), so cross-day checks see
    * the same text the within-day checks saw.
    */
  final case class CorpusState(fingerprints: DataFrame, lines: DataFrame,
                               minhash: Dedup.MinHashIndex,
                               urls: Option[DataFrame] = None)

  /** Build [[CorpusState]] from an already-admitted corpus (pass
    * `docs.limit(0)` for the day-0 empty state — schemas derive from the
    * input, so no hand-written empty schemas). Pass `urlCol` to also
    * carry the canonical-URL index (1 narrow column — the crawl-dedup
    * state; at 100 TB bucketed by canonical_url).
    */
  def initCorpusState(docs: DataFrame, shingleK: Int = 5,
                      numHashes: Int = 128, bands: Int = 32,
                      delim: String = "\n", idCol: String = "doc_id",
                      textCol: String = "text",
                      urlCol: Option[String] = None): CorpusState =
    CorpusState(
      Dedup.fingerprintIndex(docs, textCol),
      Dedup.lineIndex(docs, delim, textCol),
      Dedup.buildMinhashIndex(docs, shingleK, numHashes, bands, idCol, textCol),
      urlCol.map(u => docs
        .select(CorpusOps.canonicalizeUrl(col(u)).as("canonical_url"))
        .filter(col("canonical_url").isNotNull).distinct()))

  /** `card` is the per-day integer data card: [[CorpusOps.corpusReport]]
    * over the ADMITTED rows, keyed by a leading `batch_id` column — the
    * same (source, lang)-dimensioned integer table full-rerun
    * ([[curateCorpus]]) users publish, emitted per batch so a daily
    * deployment can append day cards into one release table. Missing
    * source/lang columns report as the "_unknown" dimension value
    * rather than failing (the card is an audit artifact, not a gate).
    */
  final case class BatchCurationResult(chunks: DataFrame, admitted: DataFrame,
                                       state: CorpusState, report: DataFrame,
                                       card: DataFrame)

  /** INCREMENTAL curation — the daily-batch form of [[curateCorpus]]:
    * curate one arriving batch against the persisted [[CorpusState]] of
    * everything admitted before it, and return the updated state for
    * tomorrow. Stage order mirrors [[curateCorpus]] (narrow gates →
    * exact dedup → near dedup → decontaminate → line dedup → scrub →
    * chunk → split+pack), with each dedup stage running BOTH axes:
    * within-batch (the batch operators, min-id-wins) and batch-vs-corpus
    * (the incremental primitives probing the state indexes — only the
    * batch side ever shuffles when the state is bucket-persisted).
    *
    * Day-1 equivalence: with an EMPTY state and default options this
    * produces exactly [[curateCorpus]]'s chunks (pinned in
    * PipelinesSpec), so a deployment can switch from full reruns to
    * daily batches without a re-curation discontinuity. Cross-day
    * invariant: a batch doc that exactly or nearly duplicates ANY
    * previously admitted doc is rejected, and a line seen on any earlier
    * day is cut — the keep-one policy holds over the union of all days.
    *
    * The returned state unions the batch survivors' index rows onto the
    * input state (a narrow union — at 100 TB append the new rows to the
    * bucketed state tables instead of rewriting them).
    *
    * Checkpoint policy: with `audit = true` every stage pins and counts
    * (the run-log). With `audit = false` (the 100 TB mode) only stages
    * whose OUTPUT fans out pin (exact-dedup, near-dedup, admitted);
    * everything else stays one lazy chain — including `chunks`, which a
    * day whose caller only consumes `state`/`card` then never computes
    * at all. Ops that internally read their input twice (the
    * fingerprint/line-owner aggregate + join-back shapes) recompute a
    * narrow scan in this mode — deliberately: re-running per-row kernels
    * is cheaper than materializing the full batch per stage.
    */
  def curateBatch(state: CorpusState, batch: DataFrame, eval: DataFrame,
                  langs: Seq[String] = Seq("en"),
                  minQuality: Double = 0.3,
                  maxRepetition: Double = 0.3,
                  maxCompressionRatio: Option[Double] = None,
                  nearDupThreshold: Double = 0.7,
                  blocklist: Option[DataFrame] = None,
                  dedupLinesDelim: Option[String] = None,
                  urlCol: Option[String] = None,
                  shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
                  chunkTokens: Int = 256, chunkStride: Int = 256,
                  packBudget: Long = 2048,
                  audit: Boolean = true,
                  batchId: String = "batch-0",
                  idCol: String = "doc_id",
                  textCol: String = "text"): BatchCurationResult = {
    require(urlCol.isEmpty || state.urls.nonEmpty,
      "urlCol given but the CorpusState carries no URL index — build the " +
        "state with initCorpusState(urlCol = ...)")
    require(urlCol.nonEmpty || state.urls.isEmpty,
      "the CorpusState carries a URL index but no urlCol was given — a " +
        "day curated without the URL gate would admit docs whose URLs " +
        "never enter the index, silently breaking later days' rejection")
    val spark = batch.sparkSession
    import spark.implicits._

    val stages = scala.collection.mutable.ListBuffer[(String, Long)]()
    var prevPinned: Option[DataFrame] = None
    // Pin a stage ONLY when something re-reads its rows: `audit` counts
    // every stage, and a `fanout` stage's output feeds more than one
    // downstream consumer (the self-join dedup shapes; the admitted
    // set's index/card/chunk fan-out). A purely linear stage stays a
    // lazy chain — at 100 TB an unconditional per-stage pin is one full
    // corpus materialization per stage, ~10x the pipeline's necessary
    // I/O. The previous pin is released only when the NEXT pin has
    // materialized (localCheckpoint(true) is eager), so lazy spans
    // between pins never read released blocks.
    def stage(name: String, df: DataFrame,
              fanout: Boolean = false): DataFrame =
      if (audit || fanout) {
        // labeled as in curateCorpus (guide §1.5): pins/counts and the
        // broadcast builds they trigger are attributable per stage
        val pinned = Iterate.described(s"curate-batch: $name") {
          val p = df.localCheckpoint(true)
          if (audit) stages += name -> p.count()
          p
        }
        prevPinned.foreach(Pins.release(_))
        prevPinned = Some(pinned)
        pinned
      } else df

    // optional URL dedup, both axes: within-batch canonical winners,
    // then anti-join against the corpus canonical-URL index — a page
    // crawled on an earlier day is rejected before its text is read
    val urlDeduped = urlCol match {
      case Some(u) => stage("url-dedup-incremental", {
        // left_anti keeps null-canonical rows by itself (a null key
        // matches nothing), so no special-casing is needed here
        CorpusOps.dedupByUrl(batch, u, idCol)
          .filter(col("is_canonical"))
          .join(state.urls.get, Seq("canonical_url"), "left_anti")
          .drop("canonical_url", "url_group_size", "is_canonical")
      })
      case None => batch
    }

    val annotated = stage("input+annotate",
      TextAnalysis.annotate(urlDeduped, textCol))

    val gated = stage("quality-gate", compressionGate(annotated
      .filter(col("lang_pred").isin(langs: _*))
      .filter(col("quality") >= minQuality)
      .filter(CorpusOps.repetitionRatio(col(textCol)) <= maxRepetition),
      maxCompressionRatio, textCol),
      // the blocklist gate anti-joins `gated` against a flagged subset
      // OF `gated` — two consumers
      fanout = blocklist.nonEmpty)

    val blGated = blocklist match {
      case Some(bl) => stage("blocklist-gate", gated.join(
        CorpusOps.flagBlocklisted(gated, bl, idCol, textCol)
          .select(idCol),
        Seq(idCol), "left_anti"))
      case None => gated
    }

    // exact dedup, both axes in one primitive: min-id-wins within the
    // batch, anti-join against the corpus fingerprint index
    val exactNew = stage("exact-dedup-incremental",
      Dedup.incrementalAgainstIndex(state.fingerprints, blGated,
        idCol, textCol),
      fanout = true) // near-dedup self-joins it (clusters + semi-join)

    // near dedup within the batch (same clusters policy as curateCorpus)…
    // PINNED: two consumers (the cross-axis rejection anti-join's left
    // side and nearDupAgainstIndex's batch argument) — lazily each
    // re-ran the whole within-batch LSH candidate+verify subtree (the
    // clusters band join + Jaccard verification, the stage's dominant
    // cost). Batch-sized; released once the near-dedup stage pin below
    // has materialized.
    val nearBatch = exactNew.join(
      Dedup.clusters(exactNew, nearDupThreshold, shingleK, numHashes,
        bands, idCol, textCol)
        .filter(col("is_canonical"))
        .select(idCol),
      Seq(idCol), "left_semi")
      .localCheckpoint(true)
    // …then against the corpus minhash index: any batch doc within
    // threshold of SOME admitted doc is rejected (the admitted twin
    // already carries the content)
    // banding parameters ride the index itself (MinHashIndex records its
    // build parameters); the caller-supplied ones are validated against
    // it so a state built elsewhere can't be probed with a mismatch
    require(state.minhash.shingleK == shingleK &&
        state.minhash.numHashes == numHashes &&
        state.minhash.bands == bands,
      s"curateBatch banding (shingleK=$shingleK, numHashes=$numHashes, " +
        s"bands=$bands) does not match the state's index " +
        s"(${state.minhash.shingleK}, ${state.minhash.numHashes}, " +
        s"${state.minhash.bands})")
    // curateBatch always shingles arriving batches with the production
    // MurmurHash3 hash — a state whose index was built on the md5
    // certification seam would silently mix hash lattices on union
    require(!state.minhash.md5Seam,
      "curateBatch requires a production (MurmurHash3) minhash index; " +
        "the md5 certification seam is for contract oracles only")
    val nearNew = stage("near-dedup-incremental", nearBatch.join(
      Dedup.nearDupAgainstIndex(state.minhash, nearBatch,
        nearDupThreshold, idCol, textCol)
        .select(col("batch_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti"),
      fanout = true) // decontaminate self-joins it
    Pins.release(nearBatch) // the stage pin above is eager — safe to drop

    val clean = stage("decontaminate", nearNew.join(
      Dedup.decontaminate(nearNew, eval, idCol = idCol, textCol = textCol)
        .select(col("train_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti"))

    // optional paragraph dedup, both axes: lines present in the corpus
    // line index are cut, and among corpus-fresh lines the batch-first
    // occurrence survives
    val lineDeduped = dedupLinesDelim match {
      case Some(delim) => stage("dedup-lines-incremental",
        Dedup.dedupLinesIncremental(state.lines, clean, delim, idCol, textCol)
          .withColumn(textCol, col("text_deduped"))
          .drop("text_deduped", "n_lines_cut"))
      case None => clean
    }

    // ADMITTED text (pre-scrub — the stage position the dedup state
    // describes; see CorpusState)
    val admitted = stage("admitted", lineDeduped,
      // fans out three ways: chunk/pack, the new-state index build
      // (which itself reads it several times), and the per-day card
      fanout = true)
    prevPinned = None // the result owns it: no later stage releases it

    val scrubbed = admitted.withColumn(textCol,
      CorpusOps.scrubText(col(textCol)))

    val chunks = stage("chunk",
      CorpusOps.chunkDocs(scrubbed, chunkTokens, chunkStride, idCol, textCol))

    val packed = stage("split+pack", CorpusOps.packByTokenBudget(
      chunks
        .withColumn("split", CorpusOps.hashSplit(idCol))
        .withColumn("chunk_key",
          concat(col(idCol), lit(":"), col("chunk_idx"))),
      packBudget, idCol = "chunk_key", textCol = "chunk_text",
      within = Seq("split")))

    val delim = dedupLinesDelim.getOrElse("\n")
    val admittedIdx = initCorpusState(admitted, shingleK, numHashes, bands,
      delim, idCol, textCol, urlCol)
    val newState = CorpusState(
      state.fingerprints.union(admittedIdx.fingerprints).distinct(),
      state.lines.union(admittedIdx.lines)
        .groupBy("line_h", "line").agg(sum(col("n_occ")).as("n_occ")),
      Dedup.MinHashIndex(
        state.minhash.buckets.union(admittedIdx.minhash.buckets),
        state.minhash.sigs.union(admittedIdx.minhash.sigs),
        state.minhash.shingleK, state.minhash.numHashes,
        state.minhash.bands, state.minhash.md5Seam),
      (state.urls, admittedIdx.urls) match {
        case (Some(a), Some(b)) => Some(a.union(b).distinct())
        case (a, b) => a.orElse(b)
      })

    val report = stages.toSeq.toDF("stage", "rows")
    // per-day data card over the ADMITTED rows (the stage position the
    // state describes — pre-scrub, so day cards reconcile with the
    // indexes): integer corpusReport dimensions, keyed by batch_id so a
    // deployment appends one card table across days
    val forCard = Seq("source", "lang").foldLeft(admitted)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit("_unknown")))
    val card = CorpusOps.corpusReport(forCard, "source", "lang", textCol)
      .select(lit(batchId).as("batch_id"), col("*"))
    BatchCurationResult(packed, admitted, newState, report, card)
  }

  /** SPLIT-LEAKAGE audit: near-dup pairs whose members landed in
    * DIFFERENT train/val/test splits — the leakage a doc-keyed split
    * cannot prevent (two near-duplicate but distinct docs hash to
    * different splits, and the val member leaks the train member's
    * content). Run on the post-dedup corpus: pairs that survive
    * curation's own near-dedup at `threshold` but cross a split boundary
    * are the ones to fix (drop the non-train member, or tighten the
    * dedup threshold). Pure composition of [[Dedup.minhashLsh]] with two
    * id-keyed label joins.
    *
    * @return (id_a, id_b, jaccard, split_a, split_b), split_a != split_b
    */
  def auditSplitLeakage(docs: DataFrame, splitCol: String = "split",
                        threshold: Double = 0.7, shingleK: Int = 5,
                        numHashes: Int = 128, bands: Int = 32,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        md5Seam: Boolean = false): DataFrame = {
    // the corpus is referenced five times downstream (three in the pair
    // generator, two label joins) and Catalyst has no cross-branch scan
    // reuse — pin the narrow projection once (the semanticDedup
    // precedent) so the source is read once, not five times
    val pinned = docs.select(col(idCol), col(textCol), col(splitCol))
      .localCheckpoint(true)
    val pairs = Dedup.minhashLsh(pinned, threshold, shingleK, numHashes,
      bands, idCol, textCol, md5Seam)
    val lab = pinned.select(col(idCol), col(splitCol))
    pairs
      .join(lab.select(col(idCol).as("id_a"), col(splitCol).as("split_a")),
        Seq("id_a"))
      .join(lab.select(col(idCol).as("id_b"), col(splitCol).as("split_b")),
        Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "jaccard", "split_a", "split_b")
  }

  /** Publish the curated chunks for training: one tree per split, each
    * written as globally sorted shards on (shard, pack_id, chunk_key)
    * ([[Layout.writeRangeSharded]]) — so a training job reads shard files
    * in order and gets whole packs contiguously, and a resume can seek to
    * any (shard, pack) boundary by file min/max alone. `format` defaults
    * to parquet; pass `"json"` for JSONL shards (the common training-data
    * interchange — same tree layout, same in-file order, no columnar
    * stats so seek-by-minmax degrades to seek-by-filename).
    */
  def publishCurated(result: CurationResult, path: String,
                     shardsPerSplit: Int = 8,
                     format: String = "parquet",
                     manifest: Boolean = true): Unit = {
    val splits = result.chunks.select("split").distinct()
      .collect().map(_.getString(0)) // ≤ 3 rows: train/val/test
    splits.foreach { sp =>
      Layout.writeRangeSharded(
        result.chunks.filter(col("split") === sp),
        s"$path/split=$sp",
        Seq("shard", "pack_id", "chunk_key"), shardsPerSplit,
        format)
    }
    // one-aggregation manifest: a training job sizes its read plan (and a
    // resume validates completeness) from per-(split, shard) row/token/
    // pack totals without listing or scanning the shard trees. pack_id is
    // 0-based consecutive per (split, shard), so n_packs = max+1.
    if (manifest)
      result.chunks
        .groupBy("split", "shard")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("n_tokens"),
          (max(col("pack_id")) + 1L).as("n_packs"))
        .orderBy("split", "shard")
        .coalesce(1)
        .write.mode("overwrite").json(s"$path/_manifest")
  }
}
