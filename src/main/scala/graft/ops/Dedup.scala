package graft.ops

import graft.functions.CorpusFunctions._
import graft.graph.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for training-data pipelines.
  *
  * Doc-level tiers, cheapest-first, all expressed as shuffle-minimal
  * DataFrame plans (no collect, no cross joins — every pairing goes
  * through a blocking key so the shuffle carries candidates, not the
  * corpus):
  *
  *  1. exact        — hash group-by on the normalized fingerprint
  *  2. minhashLSH   — shingle → MinHash signature → banded bucket join
  *  3. simhash      — 64-bit SimHash, near-dup via band blocking + hamming
  *  4. ngramJaccard — word-n-gram inverted-index join, exact Jaccard verify
  *  5. embedding    — cosine near-dup, see [[Similarity]]
  *  6. semantic     — SemDeDup: k-means cells + within-cell cosine
  *
  * Plus SUB-document granularity: [[dedupLines]] (duplicate paragraphs,
  * MassiveText) and the substring-span family ([[duplicateSpans]] /
  * [[duplicateSpanRanges]] / [[cutDuplicateSpans]], Lee et al. 2022).
  *
  * At 100 TB: signatures are one narrow codegen'd pass; every subsequent
  * join keys on (band, bucket-hash) so Catalyst plans plain hash-shuffle
  * equi-joins, AQE coalescing the (skewed) bucket partitions.
  */
object Dedup {

  /** Exact dedup on the whitespace/case-normalized rolling-hash fingerprint.
    * Returns docs annotated (dup_group_size, is_canonical); canonical = min
    * id per fingerprint group.
    *
    * Winners and group sizes come from a NARROW (fingerprint, count, min id)
    * aggregate joined back onto the docs — never a window over full-text
    * rows. The aggregate map-side-combines, so a corpus-hot fingerprint
    * (empty docs, boilerplate pages — the norm in dedup-worthy corpora)
    * collapses per-partition before it shuffles; and the annotate join is a
    * plain equi-join, which AQE can skew-split (or broadcast outright when
    * distinct fingerprints are few) — a `Window.partitionBy(fingerprint)`
    * would instead drag every hot-group row, text payload included, into
    * ONE task with no runtime escape hatch.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    // string join key with a null sentinel: null-text docs (null
    // fingerprint) form one group like the pre-r6 window semantics —
    // a plain Seq("_fp") equi-join would silently DROP them (null keys
    // never match). cast(long as string) can never collide with "null".
    val withFp = docs.withColumn("_fp",
      coalesce(doc_fingerprint(col(textCol)).cast("string"), lit("null")))
    val groups = withFp.groupBy("_fp")
      .agg(count(lit(1)).as("dup_group_size"), min(col(idCol)).as("_canon_id"))
    withFp.join(groups, Seq("_fp"))
      .withColumn("is_canonical", col(idCol) === col("_canon_id"))
      .drop("_fp", "_canon_id")
  }

  /** Incremental (cross-batch) exact dedup — the daily-ingest shape: keep
    * only new-batch docs whose fingerprint appears nowhere in the existing
    * corpus AND is not a within-batch duplicate (min id wins).
    *
    * The corpus side reduces to a one-column fingerprint INDEX before the
    * anti-join — at 100 TB persist that index bucketed by fingerprint
    * ([[Bucketing.writeBucketed]]) so each day's anti-join shuffles only
    * the batch; the corpus text is never rescanned. Within-batch
    * canonicalization is a groupBy-min + semi-join (no window — skew-proof
    * under fingerprint hot spots).
    *
    * @param fingerprint normalized-content key; defaults to the rolling-hash
    *   kernel, injectable (e.g. md5) when cross-engine reproducibility
    *   matters more than normalization
    * @return the novel batch rows, original columns
    */
  def incremental(corpus: DataFrame, batch: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  fingerprint: Column => Column = doc_fingerprint(_)
                 ): DataFrame =
    incrementalAgainstIndex(
      fingerprintIndex(corpus, textCol, fingerprint), batch,
      idCol, textCol, fingerprint)

  /** Corpus FINGERPRINT INDEX: the distinct normalized-content
    * fingerprints, one 8-byte column — the exact-dedup state a daily
    * pipeline persists (at 100 TB bucketed by `fingerprint`,
    * [[Bucketing.writeBucketed]]) so each day's anti-join shuffles only
    * the batch and the corpus text is never rescanned.
    */
  def fingerprintIndex(docs: DataFrame, textCol: String = "text",
                       fingerprint: Column => Column = doc_fingerprint(_)
                      ): DataFrame =
    docs.select(fingerprint(col(textCol)).as("fingerprint")).distinct()

  /** [[incremental]] against a PREBUILT [[fingerprintIndex]] — the
    * deployment shape: the index is corpus state, the batch is the only
    * text scanned.
    */
  def incrementalAgainstIndex(index: DataFrame, batch: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              fingerprint: Column => Column = doc_fingerprint(_)
                             ): DataFrame = {
    // min-id-wins rides a fingerprint-partitioned window instead of a
    // groupBy + (fp, id) semi-join: the fingerprinted batch subtree then
    // executes once (not once per join side) and the join's exchange
    // disappears (guide §2.4). Row set identical: null fingerprints /
    // null ids are dropped explicitly up front — exactly what the old
    // semi join's null-never-matches equality did; a null-id group whose
    // min is null fails `id === min` the same way.
    val w = Window.partitionBy("_fp")
    batch.withColumn("_fp", fingerprint(col(textCol)))
      .filter(col("_fp").isNotNull)
      .withColumn("_mn", min(col(idCol)).over(w))
      .filter(col(idCol) === col("_mn"))
      .drop("_mn")
      .join(index.select(col("fingerprint").as("_fp")), Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  /** [[exact]] with a UNIFORM canonical: the group's survivor is the
    * member with the smallest (md5(id), id) — a deterministic uniform
    * draw over members — instead of the smallest id. Exactly-one-survivor
    * semantics (unlike [[softKeep]]'s keep-w.p.-1/n weighting), so it
    * drops into any keep-canonical pipeline stage, but without keep-min's
    * systematic bias toward the earliest crawl/id range; null ids hash
    * via the chr(0) sentinel.
    */
  def exactUniform(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val withFp = docs.withColumn("_fp",
      coalesce(doc_fingerprint(col(textCol)).cast("string"), lit("null")))
    val prio = struct(
      md5(coalesce(col(idCol).cast("string"), lit("\u0000"))).as("h"),
      col(idCol).as("i"))
    val groups = withFp.groupBy("_fp")
      .agg(count(lit(1)).as("dup_group_size"), min(prio).as("_win"))
    withFp.join(groups, Seq("_fp"))
      .withColumn("is_canonical",
        col(idCol) <=> col("_win").getField("i"))
      .drop("_fp", "_win")
  }

  /** SOFT exact dedup — duplication-aware downsampling instead of hard
    * dropping (the reweighting idea behind soft-dedup methods: a group of
    * n exact duplicates should contribute ~1 expected document, but WHICH
    * member survives should stay uniform so per-member metadata — source,
    * crawl date, formatting — keeps its distribution; hard keep-min always
    * preserves the earliest copy and silently biases toward old crawls).
    *
    * Each row is kept independently with probability ~1/n (n = its
    * exact-dup group size), decided on the INTEGER md5 lattice: keep iff
    * `hash60(id) < 2⁶⁰ div n` — integer arithmetic end to end (integer
    * DIVISION, not multiplication: `hash60 · n` would overflow Long, and a
    * double division desyncs engines past 2⁵³), so membership is a
    * deterministic pure function of (id, n) that any engine replays
    * bit-for-bit. Unique docs (n = 1) always survive (`hash60 < 2⁶⁰`
    * identically); the 60-bit lattice keeps the rule meaningful up to
    * n = 2⁶⁰ — a 16-bit bucket would saturate at 65536-dup groups and
    * quietly keep n/65536 expected survivors. Expected survivors per
    * group ≈ 1 (exact to within n·2⁻⁶⁰ floor bias); P(group loses all
    * copies) → 1/e, acceptable for corpus downsampling (use [[exact]]'s
    * `is_canonical` when exactly-one semantics are required).
    *
    * Group sizes come from the same NARROW (fingerprint, count) aggregate +
    * equi-join shape as [[exact]] — map-side combined, AQE-splittable,
    * never a window over text rows. Null-text docs share one sentinel
    * group, mirroring [[exact]]; null IDS hash via a chr(0) sentinel (all
    * null-id rows share one lattice point), so `kept` is never NULL — a
    * NULL would silently vanish under `filter(col("kept"))`.
    *
    * @return input + (dup_group_size, kept); filter on `kept` to apply
    */
  def softKeep(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               fingerprint: Column => Column = doc_fingerprint(_)
              ): DataFrame = {
    val withFp = docs.withColumn("_fp",
      coalesce(fingerprint(col(textCol)).cast("string"), lit("null")))
    val groups = withFp.groupBy("_fp").agg(count(lit(1)).as("dup_group_size"))
    val hash60 = conv(substring(md5(
      coalesce(col(idCol).cast("string"), lit("\u0000"))), 1, 15), 16, 10)
      .cast("long")
    withFp.join(groups, Seq("_fp"))
      .withColumn("kept",
        hash60 < expr(s"${1L << 60}L div dup_group_size"))
      .drop("_fp")
  }

  /** MinHash + LSH candidate pairs with exact-Jaccard verification.
    *
    * signature (numHashes) → bands of rows (bandRows each) → per-band bucket
    * key = hash(band slice) → self-join inside buckets → distinct pairs →
    * verify jaccard ≥ threshold on the original text.
    *
    * STAGED-FORM certification seam: `numHashes = 0` (with `bands = 1`)
    * degenerates the blocking to one constant bucket and disables the
    * signature-agreement prune (undefined on an empty signature), so
    * EVERY pair is a candidate and the band/dedup/verify code path must
    * equal exact all-pairs shingle-Jaccard — the contract rides an exact
    * SQL oracle through it on a corpus sample (the planes = 0 seam of
    * [[Similarity.cosinePairs]]). Deployment always uses
    * numHashes ≥ bands ≥ 1.
    *
    * `md5Seam = true` switches the shingle hash to the md5-derived
    * certification seam ([[graft.functions.CorpusKernels
    * .shingleHashesMd5]]): the oracle recomputes the SAME per-gram hash
    * from `md5()` and dedups by it, so op and oracle verify over
    * IDENTICAL shingle sets by construction (no hash-collision
    * probability argument). Production keeps the MurmurHash3 default.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.8,
                 shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
                 idCol: String = "doc_id", textCol: String = "text",
                 md5Seam: Boolean = false): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0, "bands must divide numHashes")
    // the seam exists to make op and oracle verify IDENTICAL shingle
    // sets; with numHashes > 0 the signature/margin prune would still
    // estimate Jaccard over MURMUR shingle minima while verification
    // uses md5 sets — the mixed hash lattice the seam is meant to
    // remove. Same guard as Pipelines.curateBatch's.
    require(!md5Seam || numHashes == 0,
      "md5Seam is the staged certification seam — it requires " +
        s"numHashes = 0 (got numHashes = $numHashes); production " +
        "banding uses the MurmurHash3 default")
    val rowsPerBand = numHashes / bands
    // one narrow pass per doc: signature + sorted shingle set (verification
    // is then a merge over hash arrays — the text is never re-hashed).
    // PINNED: three consumers read this frame (the band fan-out and both
    // verification sides), and lazily each would re-run the signature +
    // shingle kernels over the full corpus — the most expensive narrow
    // work in the operator, tripled. Write-once-read-thrice is the tfidf
    // trade; blocks spill under storage pressure.
    val sig = docs.select(col(idCol).as("_id"),
      minhash_sig(col(textCol), shingleK, numHashes).as("_sig"),
      sorted_shingles(col(textCol), shingleK, md5Seam).as("_sh"))
      .localCheckpoint(true)

    // fan out band keys: (band_idx, hash(slice)) — bands is a plan-time
    // constant, so the key array is built statically (pure codegen'd exprs)
    val bandKeys =
      if (numHashes == 0) array(lit(0)) // staged form: one global bucket
      else array((0 until bands).map(b =>
        hash(slice(col("_sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    val banded = sig.select(col("_id"),
      posexplode(bandKeys).as(Seq("_band", "_bucket")))

    val l = banded.select(col("_band"), col("_bucket"), col("_id").as("id_a"))
    val r = banded.select(col("_band"), col("_bucket"), col("_id").as("id_b"))
    val cand = l.join(r, Seq("_band", "_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // staged verify: cheap signature-agreement estimate prunes the long
    // tail of low-similarity band collisions; exact sorted-merge Jaccard
    // confirms survivors (no false positives). The estimator's stddev at
    // jaccard=t is sqrt(t(1-t)/numHashes), so a 3-sigma margin keeps
    // boundary recall loss ~0.1% of true pairs the band join found.
    val margin = 3.0 * math.sqrt(threshold * (1.0 - threshold) / numHashes)
    val a = sig.select(col("_id").as("id_a"), col("_sig").as("_sig_a"),
      col("_sh").as("_sh_a"))
    val b = sig.select(col("_id").as("id_b"), col("_sig").as("_sig_b"),
      col("_sh").as("_sh_b"))
    val verified = cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
    val pruned =
      if (numHashes == 0) verified // staged form: no signature to estimate
      else verified.filter(
        sig_agreement(col("_sig_a"), col("_sig_b")) >= threshold - margin)
    pruned
      .withColumn("jaccard",
        jaccard_sorted_arrays(col("_sh_a"), col("_sh_b"), md5Seam))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash LSH index of a corpus, for INCREMENTAL near-dup
    * ([[nearDupAgainstIndex]]). Two tables, so that a signature is not
    * replicated per band:
    *
    *  - `buckets` (band, bucket, doc_id): 16 bytes + id per band-doc — at
    *    100 TB persist bucketed by (band, bucket)
    *    ([[Bucketing.writeBucketed]]) so each day's probe join is
    *    one-sided
    *  - `sigs` (doc_id, sig, shingles): one row per doc, joined only for
    *    the candidates that survive bucket blocking; persist bucketed by
    *    doc_id
    *
    * The index RECORDS the parameters it was built with (shingleK,
    * numHashes, bands): [[nearDupAgainstIndex]] reads them from here, so
    * a probe can never silently band a batch with different parameters
    * than the corpus was banded with (which would yield wrong or empty
    * candidate sets). [[IndexStore]] persists them alongside the tables.
    */
  case class MinHashIndex(buckets: DataFrame, sigs: DataFrame,
                          shingleK: Int, numHashes: Int, bands: Int,
                          md5Seam: Boolean = false) {
    require(bands > 0 && (numHashes == 0 || numHashes % bands == 0),
      s"bands ($bands) must divide numHashes ($numHashes)")
  }

  /** Build the [[MinHashIndex]] of a corpus (one narrow signature pass +
    * a static band fan-out — no shuffle; partitioning happens when the
    * caller persists the two tables). `md5Seam` follows [[minhashLsh]]'s
    * convention and — like the banding — is RECORDED on the index, so a
    * probe can never verify a batch with a different shingle hash than
    * the corpus was shingled with.
    */
  def buildMinhashIndex(docs: DataFrame, shingleK: Int = 5,
                        numHashes: Int = 128, bands: Int = 32,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        md5Seam: Boolean = false): MinHashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // see [[minhashLsh]]: a seamed index with a live signature would
    // band on murmur minima while verifying md5 sets — mixed lattices
    require(!md5Seam || numHashes == 0,
      "md5Seam is the staged certification seam — it requires " +
        s"numHashes = 0 (got numHashes = $numHashes)")
    val rowsPerBand = numHashes / bands
    val sigs = docs.select(col(idCol).as("doc_id"),
      minhash_sig(col(textCol), shingleK, numHashes).as("sig"),
      sorted_shingles(col(textCol), shingleK, md5Seam).as("shingles"))
    // numHashes = 0 is [[minhashLsh]]'s staged-form seam: one global
    // bucket, so probing the index is exact all-pairs verification —
    // the cross-axis twin of the oracle certification there
    val bandKeys =
      if (numHashes == 0) array(lit(0))
      else array((0 until bands).map(b =>
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    val buckets = sigs.select(col("doc_id"),
      posexplode(bandKeys).as(Seq("band", "bucket")))
      .select("band", "bucket", "doc_id")
    MinHashIndex(buckets, sigs, shingleK, numHashes, bands, md5Seam)
  }

  /** Incremental (cross-batch) NEAR-dup: every batch doc within `threshold`
    * Jaccard of SOME indexed corpus doc — the daily-ingest near-dup gate
    * (anti-join the result to admit only novel docs, then append the
    * batch's own index rows to keep the invariant across days).
    *
    * Scale shape: the batch is banded with the index's parameters and
    * equi-joins `index.buckets` on (band, bucket) — with a bucketed index
    * only the batch side shuffles. Candidates dedup to (batch, corpus)
    * pairs, then verify in two stages (signature-agreement prune at 3σ,
    * exact sorted-merge Jaccard) — the corpus SIGNATURE table is joined
    * per candidate, never per band. Within-batch duplicates are
    * [[minhashLsh]] on the batch alone; this operator covers the
    * batch-vs-corpus axis.
    *
    * @return (batch_id, corpus_id, jaccard), jaccard ≥ threshold
    */
  def nearDupAgainstIndex(index: MinHashIndex, batch: DataFrame,
                          threshold: Double = 0.8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    // banding parameters come FROM the index — a probe banded with
    // different parameters than the build would silently return wrong or
    // empty candidates, so there is deliberately no way to supply them
    val shingleK = index.shingleK
    val numHashes = index.numHashes
    val bands = index.bands
    val md5Seam = index.md5Seam
    val rowsPerBand = numHashes / bands
    // pinned: both the band fan-out and the candidate join read this
    // batch-sized frame — lazy, each re-ran the signature + shingle
    // kernels over the batch (the minhashLsh discipline)
    val bsig = batch.select(col(idCol).as("batch_id"),
      minhash_sig(col(textCol), shingleK, numHashes).as("_bsig"),
      sorted_shingles(col(textCol), shingleK, md5Seam).as("_bsh"))
      .localCheckpoint(true)
    // the numHashes = 0 staged seam mirrors [[buildMinhashIndex]]'s:
    // every batch doc probes the one global bucket and there is no
    // signature to estimate, so the result is exact cross-axis Jaccard
    val bandKeys =
      if (numHashes == 0) array(lit(0))
      else array((0 until bands).map(b =>
        hash(slice(col("_bsig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    val probes = bsig.select(col("batch_id"),
      posexplode(bandKeys).as(Seq("band", "bucket")))
    val cand = probes
      .join(index.buckets, Seq("band", "bucket"))
      .select(col("batch_id"), col("doc_id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    val joined = cand
      .join(bsig, Seq("batch_id"))
      .join(index.sigs.select(col("doc_id").as("corpus_id"),
        col("sig").as("_csig"), col("shingles").as("_csh")), Seq("corpus_id"))
    val pruned =
      if (numHashes == 0) joined
      else {
        val margin =
          3.0 * math.sqrt(threshold * (1.0 - threshold) / numHashes)
        joined.filter(
          sig_agreement(col("_bsig"), col("_csig")) >= threshold - margin)
      }
    pruned
      .withColumn("jaccard",
        jaccard_sorted_arrays(col("_bsh"), col("_csh"), md5Seam))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ maxHamming.
    * One narrow signature pass, then the generic [[hammingPairs]] blocking.
    *
    * `md5Seam = true` switches the word hash to the md5-derived
    * certification seam ([[graft.functions.CorpusKernels.simHashMd5]]):
    * the FULL pipeline — signature, pigeonhole banding, bit_count verify —
    * becomes replayable in a SQL oracle (the contract rides it through
    * this real code path); production near-dup keeps the MurmurHash3
    * default.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   md5Seam: Boolean = false): DataFrame =
    hammingPairs(
      docs.select(col(idCol), simhash64(col(textCol), md5Seam).as("_sh64")),
      maxHamming, idCol, "_sh64")

  /** Near-dup pairs by Hamming distance over PRECOMPUTED 64-bit signatures
    * — the generic engine behind [[simhashPairs]], reusable for any
    * locality-preserving bit fingerprint (image dHash
    * ([[Multimodal.imageNearDups]]), audio fingerprints, feature-hash
    * sketches).
    *
    * Blocking: split the 64 bits into (maxHamming+1) bands — by pigeonhole
    * any pair within the distance agrees on ≥ 1 full band, so a band
    * equi-join finds all of them without a cross join (Manku et al.,
    * WWW'07 — the Google near-dup crawl design); the final `bit_count`
    * filter is exact, so the band stage only ever adds candidates. When 64
    * doesn't divide evenly the leftover high bits live in no band, which
    * is still complete (bits outside every band can't break a band
    * agreement). Scale shape: `maxHamming+1` rows per doc into a hash
    * equi-join on (band, key) — candidates, never the corpus, ride the
    * pair stage, same as the MinHash banding.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming
    */
  def hammingPairs(hashed: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id",
                   hashCol: String = "hash64"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      "maxHamming must be in [0, 32) so every band keeps >= 2 bits")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    // maxHamming=0 degenerates to ONE 64-bit band (an exact-equality
    // equi-join); the mask must not wrap (1L << 64 == 1L in JVM shift)
    val mask = if (bandBits == 64) lit(-1L) else lit((1L << bandBits) - 1)
    // pinned: both self-join sides read the banded frame, and lazily each
    // would re-run the caller's signature kernel (simhash64 / image dHash)
    // over the corpus — 16 bytes + id per row, the minhashLsh discipline
    val sig = hashed.select(col(idCol).as("_id"), col(hashCol).as("_sh"))
      .localCheckpoint(true)
    val bandKeys = array((0 until nBands).map(b =>
      shiftrightunsigned(col("_sh"), b * bandBits).bitwiseAND(mask)): _*)
    val banded = sig.select(col("_id"), col("_sh"),
      posexplode(bandKeys).as(Seq("_band", "_key")))
    val l = banded.select(col("_band"), col("_key"),
      col("_id").as("id_a"), col("_sh").as("sh_a"))
    val r = banded.select(col("_band"), col("_key"),
      col("_id").as("id_b"), col("_sh").as("sh_b"))
    l.join(r, Seq("_band", "_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Word-n-gram Jaccard pairs via inverted-index blocking: explode distinct
    * shingle hashes, equi-join on shingle, count shared shingles per pair,
    * compute exact Jaccard from set sizes — no re-scan of the text, no
    * verify pass needed (intersection is exact).
    *
    * Two scale levers:
    *  - maxDocFreq: a shingle occurring in k docs generates k² candidate
    *    rows, so ONE boilerplate shingle shared by 10⁶ docs would emit
    *    10¹² join rows. Shingles above the document-frequency cap carry no
    *    similarity signal (they are corpus-wide boilerplate) and are
    *    dropped BEFORE the self-join. Slightly conservative on recall
    *    (a pair must share a sub-cap shingle to be found); the default cap
    *    of 1000 bounds per-shingle fan-out at 10⁶ rows regardless of
    *    corpus size.
    *  - minSharedShingles prunes the long tail of accidental
    *    single-shingle collisions before the pair aggregation.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        minSharedShingles: Int = 2, maxDocFreq: Int = 1000,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val shingled = docs.select(col(idCol).as("_id"),
      word_shingles(col(textCol), n).as("_sh"))
      .withColumn("_setsize", size(col("_sh")))
      .filter(col("_setsize") > 0)
    // pinned: the df-cap aggregation and both self-join sides read the
    // exploded index — lazy, each re-ran the word-shingle kernel over
    // the corpus (3 full passes); ~24 bytes/row pinned
    val inv0 = shingled.select(col("_id"), col("_setsize"),
      explode(col("_sh")).as("_shingle"))
      .localCheckpoint(true)
    // df-cap: one extra agg pass over the inverted index, then only
    // informative shingles enter the quadratic join
    val rare = inv0.groupBy("_shingle")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDocFreq)
      .select("_shingle")
    val inv = inv0.join(rare, Seq("_shingle"))
    val pairs = inv.select(col("_shingle"), col("_id").as("id_a"),
        col("_setsize").as("size_a"))
      .join(inv.select(col("_shingle"), col("_id").as("id_b"),
        col("_setsize").as("size_b")), Seq("_shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("_inter"))
      .filter(col("_inter") >= minSharedShingles)
    pairs.withColumn("jaccard",
      col("_inter") / (col("size_a") + col("size_b") - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-CONTAINMENT pairs: overlap coefficient |A∩B| / min(|A|,|B|) over
    * word-n-gram sets — the measure that catches a document embedded
    * inside a larger one (quote farms, scraped aggregators, doc+boilerplate
    * wrappers), which Jaccard structurally misses: a 1 KB doc fully
    * contained in a 100 KB doc has Jaccard ≈ 0.01 but containment 1.0.
    *
    * Same inverted-index blocking and scale levers as
    * [[ngramJaccardPairs]] (df-cap before the self-join, shared-shingle
    * floor before the pair agg); the only change is the final formula, so
    * the shuffle profile is identical and exact — no verify pass needed.
    * Directional containments are also returned (`in_a` = fraction of A's
    * grams present in B).
    */
  def ngramContainmentPairs(docs: DataFrame, n: Int = 3,
                            threshold: Double = 0.8,
                            minSharedShingles: Int = 2, maxDocFreq: Int = 1000,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val shingled = docs.select(col(idCol).as("_id"),
      word_shingles(col(textCol), n).as("_sh"))
      .withColumn("_setsize", size(col("_sh")))
      .filter(col("_setsize") > 0)
    // pinned for the same three consumers as [[ngramJaccardPairs]]
    val inv0 = shingled.select(col("_id"), col("_setsize"),
      explode(col("_sh")).as("_shingle"))
      .localCheckpoint(true)
    val rare = inv0.groupBy("_shingle")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDocFreq)
      .select("_shingle")
    val inv = inv0.join(rare, Seq("_shingle"))
    inv.select(col("_shingle"), col("_id").as("id_a"),
        col("_setsize").as("size_a"))
      .join(inv.select(col("_shingle"), col("_id").as("id_b"),
        col("_setsize").as("size_b")), Seq("_shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("_inter"))
      .filter(col("_inter") >= minSharedShingles)
      .withColumn("containment",
        col("_inter") / least(col("size_a"), col("size_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"),
        (col("_inter") / col("size_a")).as("in_a"),
        (col("_inter") / col("size_b")).as("in_b"))
  }

  /** Eval-set decontamination: flag training documents that share at least
    * `minSharedShingles` word-n-grams with ANY eval/benchmark document —
    * the contamination filter every LLM training pipeline runs before a
    * corpus ships.
    *
    * Shape: inverted-index join of train shingles against EVAL shingles
    * (the eval side is benchmark-sized — thousands of docs — so its
    * exploded index broadcasts; no self-join, no quadratic term in the
    * 100 TB train side). Returns one row per CONTAMINATED train doc with
    * the eval doc and overlap count; anti-join against it to clean.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 3,
                    minSharedShingles: Int = 2,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    md5Seam: Boolean = false): DataFrame =
    // the index is built HERE with the probe's own (n, md5Seam), so the
    // prebuilt-index head() parameter check is tautological — join
    // directly instead of paying its extra job per call
    decontaminateJoin(train,
      evalShingleIndex(eval, n, idCol, textCol, md5Seam),
      minSharedShingles, idCol, textCol, n, md5Seam)

  /** The eval set's exploded shingle INDEX: (eval_id, _shingle, _n) —
    * the decontamination state to build ONCE and reuse (persist it next
    * to the benchmark; a streaming gate computes it once per query, not
    * per micro-batch). `_n` records the shingle width the index was
    * built with, so a probe with a DIFFERENT n fails fast instead of
    * silently matching nothing — a contamination gate that joins 3-gram
    * probes against a 5-gram index would pass every leaking doc as
    * clean, the fail-open failure mode. `_md5` records the gram hash the
    * same way (seamed and production hashes never match — fail-open in
    * the identical sense), with absent-column back-compat reading as the
    * production murmur hash every pre-seam index was built with.
    */
  def evalShingleIndex(eval: DataFrame, n: Int = 3,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       md5Seam: Boolean = false): DataFrame =
    eval.select(col(idCol).as("eval_id"),
      explode(word_shingles(col(textCol), n, md5Seam)).as("_shingle"),
      lit(n).as("_n"), lit(md5Seam).as("_md5"))

  /** [[decontaminate]] against a PREBUILT [[evalShingleIndex]] — the
    * deployment/streaming shape: only the train side is shingled per
    * call. Requires the index's recorded `_n` to equal this probe's `n`
    * (one first()-row lookup — parquet answers it from footer stats);
    * a mismatch throws rather than failing open.
    */
  def decontaminateAgainstIndex(train: DataFrame, index: DataFrame,
                                minSharedShingles: Int = 2,
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                n: Int = 3,
                                md5Seam: Boolean = false): DataFrame = {
    require(index.columns.contains("_n"),
      "decontaminateAgainstIndex: index lacks the _n width column — " +
        "rebuild it with Dedup.evalShingleIndex")
    // pre-seam indexes carry no _md5 column: they were necessarily
    // built with the production murmur hash
    val hasSeamCol = index.columns.contains("_md5")
    index.select(col("_n"),
        (if (hasSeamCol) col("_md5") else lit(false)).as("_md5"))
      .head(1).foreach { r =>
        require(r.getInt(0) == n,
          s"decontaminateAgainstIndex: probe n=$n but the index was built " +
            s"with n=${r.getInt(0)} — shingles would never match " +
            "(fail-open); rebuild one side")
        require(r.getBoolean(1) == md5Seam,
          s"decontaminateAgainstIndex: probe md5Seam=$md5Seam but the " +
            s"index was built with md5Seam=${r.getBoolean(1)} — gram " +
            "hashes would never match (fail-open); rebuild one side")
      }
    decontaminateJoin(train, index, minSharedShingles, idCol, textCol, n,
      md5Seam)
  }

  /** The decontamination join itself (shared by [[decontaminate]], whose
    * self-built index needs no parameter check, and
    * [[decontaminateAgainstIndex]], which checks first).
    */
  private def decontaminateJoin(train: DataFrame, index: DataFrame,
                                minSharedShingles: Int, idCol: String,
                                textCol: String, n: Int,
                                md5Seam: Boolean): DataFrame =
    train.select(col(idCol).as("train_id"),
        explode(word_shingles(col(textCol), n, md5Seam)).as("_shingle"))
      .join(index.drop("_n", "_md5"), Seq("_shingle"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSharedShingles)

  /** Per-eval-set contamination REPORT — the data-card table every release
    * ships next to the decontamination pass (GPT-3's appendix-C "dirty"
    * accounting): for each benchmark, how many of its docs leak into the
    * train corpus and how many train docs carry the leak. Integer-only by
    * the data-card rule.
    *
    * Composes over ANY (train_id, eval_id, n_shared) pairs source —
    * [[decontaminate]] for doc-level, the span family for substring-level —
    * so the report needs no second corpus scan; both joined dimensions
    * (eval→set map, per-set totals) are benchmark-sized broadcasts.
    * Eval sets with ZERO hits still report (n_* = 0) — the row a release
    * card actually wants to show.
    *
    * @param pairs (train_id, eval_id, n_shared)
    * @param evals (idCol, setCol) — the eval docs with their set labels
    * @return (eval_set, n_eval_docs, n_eval_docs_hit, n_train_docs_hit,
    *         n_pairs)
    */
  def contaminationReport(pairs: DataFrame, evals: DataFrame,
                          idCol: String = "doc_id",
                          setCol: String = "eval_set"): DataFrame = {
    val sets = evals.select(col(idCol).as("eval_id"), col(setCol))
    // null-id rows collapse to one sentinel identity in the totals (they
    // can't be hit — the pairs join on eval_id is null-dropping by SQL
    // semantics, correctly: a null id is not an attributable doc)
    val totals = evals.groupBy(col(setCol))
      .agg(countDistinct(coalesce(col(idCol).cast("string"),
        lit("\u0000"))).as("n_eval_docs"))
    val hits = pairs.join(broadcast(sets), Seq("eval_id"))
      .groupBy(col(setCol).as("_hset"))
      .agg(countDistinct(col("eval_id")).as("n_eval_docs_hit"),
        countDistinct(col("train_id")).as("n_train_docs_hit"),
        count(lit(1)).as("n_pairs"))
    // null-SAFE set join: a NULL set label is a real (if sloppy) label —
    // a plain equi-join would zero its hit counts silently
    totals.join(hits, totals(setCol) <=> hits("_hset"), "left_outer")
      .select(totals(setCol),
        col("n_eval_docs"),
        coalesce(col("n_eval_docs_hit"), lit(0L)).as("n_eval_docs_hit"),
        coalesce(col("n_train_docs_hit"), lit(0L)).as("n_train_docs_hit"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** TRANSITIVE contamination closure — the leak doc-level
    * [[decontaminate]] structurally misses (the accounting gap GPT-3's
    * appendix-C noted): a training doc that shares no n-gram with any
    * eval doc but is a NEAR-DUPLICATE of a contaminated doc (a
    * paraphrase, a re-crawl with the leaking span lightly mutated)
    * carries the same eval content and must go too. Composes the two
    * certified primitives: direct hits from any (train_id, eval_id,
    * n_shared) pair source ([[decontaminate]] / the span family) and
    * near-dup connected components from any (id_a, id_b) pair source
    * ([[minhashLsh]] etc. via [[clustersFromPairs]]) — every doc in a
    * component containing a direct hit is flagged, so the closure is
    * transitive through near-dup CHAINS (A~B~C flags C when only A
    * leaks).
    *
    * Scale shape: the CC dataflow over the near-dup pairs (the
    * [[clusters]] cost, already paid if the pipeline deduped), then
    * three equi-joins against the direct-hit set (decontaminate-output
    * sized — small). No new corpus scan.
    *
    * @param directHits (train_id, eval_id, n_shared) — [[decontaminate]]
    *                   output (or the span family's)
    * @param nearDupPairs (id_a, id_b) — any near-dup pair source
    * @param docs the training corpus (ids only are read)
    * @return one row per flagged doc: (idCol,
    *         reason ∈ {direct, via_neardup},
    *         evidence — for direct, the min leaking eval_id; for
    *         via_neardup, the min DIRECTLY contaminated doc id in the
    *         doc's near-dup component)
    */
  def contaminationClosure(directHits: DataFrame, nearDupPairs: DataFrame,
                           docs: DataFrame,
                           idCol: String = "doc_id"): DataFrame = {
    // per-doc direct evidence: the smallest leaking eval id
    val direct = directHits.groupBy(col("train_id").as(idCol))
      .agg(min(col("eval_id")).as("_ev"))
    val comps = clustersFromPairs(docs, nearDupPairs, idCol)
      .select(col(idCol), col("cluster_id"))
    // contaminated components + their via-evidence (min direct member)
    val hotClusters = comps.join(direct.select(idCol), Seq(idCol))
      .groupBy("cluster_id").agg(min(col(idCol)).as("_via"))
    comps.join(hotClusters, Seq("cluster_id"))
      .join(direct, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("_ev").isNotNull, lit("direct"))
          .otherwise(lit("via_neardup")).as("reason"),
        coalesce(col("_ev"), col("_via")).as("evidence"))
  }

  /** One-shot [[contaminationClosure]]: doc-level [[decontaminate]] hits
    * plus [[minhashLsh]] near-dup pairs over the SAME training corpus —
    * the form a pipeline calls when it has no precomputed pair source.
    * Flags strictly more than [[decontaminate]] alone whenever a
    * contaminated doc has near-duplicates below the shingle-overlap
    * radar (the planted-paraphrase spec pins exactly that chain).
    */
  def decontaminateTransitive(train: DataFrame, eval: DataFrame,
                              n: Int = 3, minSharedShingles: Int = 2,
                              threshold: Double = 0.8, shingleK: Int = 5,
                              numHashes: Int = 128, bands: Int = 32,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    // the corpus feeds both the hit probe and the pair generator — pin
    // the narrow projection once (the auditSplitLeakage discipline)
    val pinned = train.select(col(idCol), col(textCol)).localCheckpoint(true)
    contaminationClosure(
      decontaminate(pinned, eval, n, minSharedShingles, idCol, textCol),
      minhashLsh(pinned, threshold, shingleK, numHashes, bands, idCol,
        textCol),
      pinned, idCol)
  }

  /** Per-position k-gram stream: (idCol, _pos: long, gram). With `window`
    * set, positions route through winnowing selection
    * ([[graft.functions.CorpusKernels.winnowPositions]]): ~1/window of
    * positions survive, dividing every downstream shuffle by the window
    * factor; winnowing's self-synchronization guarantees any substring
    * duplicated at length ≥ k+window−1 still selects at least one common
    * gram in every copy, and consecutive selected positions inside a
    * duplicated region are ≤ window apart.
    */
  private def gramStream(df: DataFrame, k: Int, window: Option[Int],
                         idCol: String, textCol: String,
                         md5Seam: Boolean = false): DataFrame = {
    val positions = window match {
      case Some(w) =>
        require(w > 0, "winnow window must be positive")
        winnow_positions(col(textCol), k, w, md5Seam)
      case None =>
        sequence(lit(1L), (length(col(textCol)) - (k - 1)).cast("long"))
    }
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol), explode(positions).as("_pos"), col(textCol))
      .select(col(idCol), col("_pos"),
        col(textCol).substr(col("_pos").cast("int"), lit(k)).as("gram"))
  }

  /** Shared passes of the substring-dedup operators: the positions whose
    * k-gram EXACT text occurs ≥ minOcc times corpus-wide.
    *
    * Pass 1 groups 8-byte xxhash64(gram) keys — the wide stage carries no
    * strings — and keeps hashes with ≥ minOcc occurrences. Pass 2 joins the
    * re-enumerated grams against that survivor set (count-gated broadcast,
    * see [[Iterate.gatedBroadcast]]: explicit broadcast in the normal
    * regime where duplicated grams are rare, shuffled equi-join fallback
    * — linear, no executor-memory ceiling — on heavily-duplicated corpora
    * where the survivor set outgrows the cap), then regroups survivors by
    * the REAL gram text. The exact regroup makes the operators
    * collision-proof: a 64-bit birthday collision (expected in bulk at
    * ~1e14 positions) can only add a candidate that the regroup discards,
    * never mark a unique gram duplicated, and the per-gram owner (corpus-first occurrence) is
    * computed per exact gram, not per hash group. Pass 3 re-joins positions
    * to the verified-gram table on (_h, gram) — gated the same way.
    *
    * Plan sharing: passes 2 and 3 both consume the SAME candidate subtree
    * (stream ⋈ survivor hashes) rather than re-enumerating the stream for
    * the final position join. In the broadcast regime that subtree is a
    * narrow scan either way; in the FALLBACK regime it ends in the one
    * _h-keyed full-stream exchange, which Spark's ReuseExchange serves to
    * both consumers — so the verify regroup and the position join shuffle
    * only the candidate subset, never the full k-bytes-per-position
    * stream a second time. (An eager localCheckpoint of the candidates
    * was measured WORSE in the degenerate all-duplicated regime: there
    * the candidate set IS the stream, and materializing it as row
    * objects costs more than re-reading the compressed shuffle files.)
    */
  private def dupGramPositions(docs: DataFrame, k: Int, minOcc: Int,
                               idCol: String, textCol: String,
                               window: Option[Int],
                               keepOwner: Boolean): DataFrame = {
    def grams = gramStream(docs, k, window, idCol, textCol)
      .withColumn("_h", xxhash64(col("gram")))
    val hot = Iterate.gatedBroadcast(
      grams.groupBy("_h").agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= minOcc)
        .select("_h"))
    // one candidate subtree feeds BOTH the verify regroup and the final
    // position join (ReuseExchange shares its shuffle in the fallback
    // regime; it is a narrow scan in the broadcast regime)
    val cand = grams.join(hot, Seq("_h"))
    val verified = Iterate.gatedBroadcast(
      cand
        .groupBy("_h", "gram")
        .agg(count(lit(1)).as("_c"),
          min(struct(col(idCol).as("d"), col("_pos").as("p"))).as("_own"))
        .filter(col("_c") >= minOcc)
        .select(col("_h"), col("gram"), col("_own")),
      // verified rows carry the k-char gram text, so the byte cap is the
      // same order as the hash set's at k=60
      Iterate.BroadcastCap / 8)
    val pos = cand.join(verified, Seq("_h", "gram"))
    if (keepOwner) pos.select(col(idCol), col("_pos"), col("_own"))
    else pos.select(col(idCol), col("_pos"))
  }

  /** Exact duplicate-SPAN detection: every character k-gram that occurs at
    * least `minOcc` times anywhere in the corpus, with its document and
    * occurrence counts — the substring-level dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (ACL 2022),
    * re-expressed as a two-pass aggregation instead of a suffix array
    * (exact for fixed k; a suffix array additionally merges overlapping
    * k-grams into maximal spans, a post-pass over this output).
    *
    * Scale shape: pass 1 groups 8-byte xxhash64(gram) keys — the shuffle
    * carries no strings; pass 2 re-enumerates grams (CPU-cheap re-scan
    * beats shuffling position×k bytes), joins the survivor hash set under
    * a count-gated broadcast ([[Iterate.gatedBroadcast]]: explicit
    * broadcast while the measured survivor count fits, shuffled equi-join
    * fallback — linear, no executor-memory ceiling — on
    * heavily-duplicated corpora where it doesn't) and regroups by the REAL gram text, so a hash
    * collision only ever adds a candidate that the regroup discards;
    * counts are exact.
    *
    * Cost at scale: pass 1 shuffles one 12-byte row per character of
    * corpus — linear, not quadratic (100 TB of text ≈ 1.2 PB of shuffle
    * spread across the cluster: a heavy but feasible offline job, the
    * same budget class as Lee et al.'s suffix-array machines). When that
    * budget is too rich, set `window`: gram positions route through
    * winnowing selection (~1/window of positions), dividing the shuffle by
    * the window factor; any span duplicated at length ≥ k+window−1 still
    * shares a selected gram (shorter duplicates may be missed — the
    * documented approximation trade). `md5Seam = true` switches the
    * winnow gram hash to the md5 certification seam
    * ([[graft.functions.CorpusKernels.winnowPositionsMd5]]) so the
    * selection replays in a SQL oracle; production keeps MurmurHash3.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 60, minOcc: Int = 2,
                     idCol: String = "doc_id",
                     textCol: String = "text",
                     window: Option[Int] = None,
                     md5Seam: Boolean = false): DataFrame = {
    require(k > 0 && minOcc > 1)
    def grams = gramStream(docs, k, window, idCol, textCol, md5Seam)
    val hot = Iterate.gatedBroadcast(
      grams
        .groupBy(xxhash64(col("gram")).as("_h"))
        .agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= minOcc)
        .select("_h"))
    grams
      .join(hot, xxhash64(col("gram")) === col("_h"))
      .groupBy("gram")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minOcc)
  }

  /** Maximal duplicated RANGES per document: the gaps-and-islands merge
    * over [[duplicateSpans]]' duplicated k-gram positions — two k-gram
    * ranges overlap when their starts are ≤ k apart, so per-doc islands of
    * close positions collapse to one (span_start, span_end) row. This is
    * the "remove one copy of every substring duplicated across the corpus"
    * output of Lee et al. 2022 at fixed k. Candidate positions are verified
    * by exact gram text before the merge (see [[dupGramPositions]]), so
    * hash collisions never produce a spurious range.
    *
    * With `window` set the positions are winnowing-selected (approximate:
    * spans shorter than k+window−1 may be missed and reported bounds
    * tighten to selected positions, up to window−1 chars inside the true
    * span) and the island-merge gap widens to k+window, since consecutive
    * selected positions inside one duplicated region are ≤ window apart.
    *
    * Position streams are per-doc (window partitioned by the doc id, ≤
    * text-length rows per group), so the merge shuffles once on doc id and
    * no group outgrows a document.
    */
  def duplicateSpanRanges(docs: DataFrame, k: Int = 60, minOcc: Int = 2,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          window: Option[Int] = None): DataFrame = {
    require(k > 0 && minOcc > 1)
    import org.apache.spark.sql.expressions.Window
    val dup = dupGramPositions(docs, k, minOcc, idCol, textCol, window,
      keepOwner = false)
    val gap = k + window.getOrElse(0)
    val w = Window.partitionBy(idCol).orderBy("_pos")
    dup
      .withColumn("_new",
        when(col("_pos") - lag(col("_pos"), 1).over(w) > gap, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("_pos")).as("span_start"),
        (max(col("_pos")) + (k - 1)).as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1L)
      .drop("_island")
  }

  /** APPLY substring dedup: cut every duplicated k-gram occurrence except
    * the first corpus-wide (owner = smallest (doc_id, pos) per exact gram —
    * the "keep one copy of every duplicated substring" policy of Lee et
    * al.). Overlapping/adjacent cut positions merge into maximal ranges
    * ([[duplicateSpanRanges]]' islands), and the surviving text is rebuilt
    * with one fold over each doc's sorted cut list — a codegen'd
    * higher-order aggregate, no UDF, no per-row driver work.
    *
    * Same scale shape as [[duplicateSpans]]: the wide stages move 8-byte
    * hashes, (doc, pos) pairs, and the rare verified grams; full document
    * text never rides a shuffle as data (the rebuild joins the SMALL
    * per-doc span list back onto the docs — AQE broadcasts it). Candidates
    * are verified by exact gram text and the owner is computed per exact
    * gram ([[dupGramPositions]]), so a 64-bit hash collision can neither
    * cut a unique gram nor hand a gram's kept copy to a different gram
    * sharing its hash.
    *
    * Kept-copy caveat (inherent to range-cut substring dedup, including
    * Lee et al.'s): the owner occurrence is guaranteed to survive intact
    * only when no OTHER duplicated occurrence overlaps its [pos, pos+k−1]
    * chars in the same document — e.g. a run of one gram repeated
    * back-to-back merges its non-owner cut positions into an island that
    * overlaps (and so truncates) the owner copy. Self-overlapping repeats
    * lose up to the overlapped prefix of the kept copy.
    *
    * @return input columns + `text_deduped` (cut text) + `n_spans_cut`
    */
  def cutDuplicateSpans(docs: DataFrame, k: Int = 60, minOcc: Int = 2,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k > 0 && minOcc > 1)
    // every verified non-owner occurrence is a cut position. No distinct:
    // (id, pos) is unique by construction — the unwinnowed gram stream
    // emits each position once, and the verified table is unique per
    // (hash, gram) (it IS a groupBy of those keys), so the position join
    // never fans out. The old defensive distinct() was a full extra
    // shuffle of the cut set.
    val cutPos = dupGramPositions(docs, k, minOcc, idCol, textCol,
      window = None, keepOwner = true)
      .filter(!(col(idCol) === col("_own.d") && col("_pos") === col("_own.p")))
      .select(col(idCol), col("_pos"))
    applyCutPositions(docs, cutPos, k, idCol, textCol, "text_deduped")
  }

  /** Shared APPLY stage of the span-cutting operators: merge per-doc cut
    * positions (each covering k chars) into maximal islands — two cut
    * ranges overlap when starts are ≤ k apart — and rebuild each doc's
    * surviving text with one fold over its sorted disjoint cut list (a
    * codegen'd higher-order aggregate, no UDF, no per-row driver work).
    *
    * Position streams are per-doc (window partitioned by the doc id, ≤
    * text-length rows per group) and the rebuild joins the SMALL per-doc
    * span list back onto the docs (AQE broadcasts it) — full document
    * text never rides a shuffle as data.
    */
  private def applyCutPositions(docs: DataFrame, cutPos: DataFrame, k: Int,
                                idCol: String, textCol: String,
                                outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("_pos")
    val spans = cutPos
      .withColumn("_new",
        when(col("_pos") - lag(col("_pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("_pos")).as("s"), (max(col("_pos")) + (k - 1)).as("e"))
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("_spans"))
    // rebuild: fold the sorted disjoint cut list, keeping [cursor, s) each
    // step and the tail after the last cut
    val t = col(textCol)
    val kept = aggregate(col("_spans"),
      struct(lit(1L).as("cur"), lit("").as("out")),
      (acc, s) => struct(
        (s.getField("e") + 1L).as("cur"),
        concat(acc.getField("out"),
          t.substr(acc.getField("cur").cast("int"),
            (s.getField("s") - acc.getField("cur")).cast("int"))).as("out")),
      acc => concat(acc.getField("out"),
        t.substr(acc.getField("cur").cast("int"),
          (length(t) - acc.getField("cur") + 1L).cast("int"))))
    docs.join(spans, Seq(idCol), "left_outer")
      .withColumn(outCol,
        when(col("_spans").isNull, t).otherwise(kept))
      .withColumn("n_spans_cut",
        coalesce(size(col("_spans")), lit(0)).cast("long"))
      .drop("_spans")
  }

  /** Span-level eval-set DECONTAMINATION: cut from the training corpus
    * every occurrence of every character k-gram that appears anywhere in
    * the eval suite — the apply form of [[decontaminate]] (which only
    * FLAGS contaminated docs). Doc-level dropping throws away whole
    * documents for one quoted benchmark question; span cutting keeps the
    * document and removes exactly the leaked substrings (overlapping cuts
    * merge to maximal islands, text rebuilt in one fold —
    * [[applyCutPositions]]).
    *
    * Scale shape mirrors [[cutDuplicateSpans]] with the survivor set
    * replaced by the EVAL gram table: eval suites are benchmark-sized
    * (MBs against a 100 TB train side), so the distinct (hash, gram)
    * table takes the count-gated broadcast ([[Iterate.gatedBroadcast]] —
    * explicit broadcast in the normal regime, linear shuffled equi-join
    * fallback if an outsized "eval" set is passed), and the train gram
    * stream is probed WITHOUT shuffling: the join matches on hash AND exact gram
    * text in one step, so 64-bit collisions can never cut a clean span.
    * No owner logic — eval text is never "kept first", every train
    * occurrence goes.
    *
    * @return train columns + `text_decontaminated` + `n_spans_cut`
    */
  def cutContaminatedSpans(train: DataFrame, eval: DataFrame, k: Int = 60,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           evalTextCol: String = "text"): DataFrame = {
    require(k > 0)
    val e = col(evalTextCol)
    val evalGrams = Iterate.gatedBroadcast(
      eval.filter(length(e) >= k)
        .select(explode(sequence(lit(1L),
          (length(e) - (k - 1)).cast("long"))).as("_pos"), e.as("_t"))
        .select(col("_t").substr(col("_pos").cast("int"), lit(k)).as("gram"))
        .distinct()
        .select(xxhash64(col("gram")).as("_h"), col("gram")),
      // rows carry the k-char gram text: same byte-budget cap as the
      // verified-survivor table of the dedup trio
      Iterate.BroadcastCap / 8)
    // no distinct: the unwinnowed gram stream emits each (id, pos) once
    // and evalGrams is unique per (hash, gram) — see [[cutDuplicateSpans]]
    val cutPos = gramStream(train, k, None, idCol, textCol)
      .withColumn("_h", xxhash64(col("gram")))
      .join(evalGrams, Seq("_h", "gram"))
      .select(col(idCol), col("_pos"))
    applyCutPositions(train, cutPos, k, idCol, textCol,
      "text_decontaminated")
  }

  /** Line/paragraph-level EXACT dedup across the corpus (the MassiveText /
    * Gopher "remove duplicate paragraphs" pass, Rae et al. 2021): every
    * distinct line keeps its first corpus-wide occurrence — smallest
    * (doc, position) — and every other occurrence is dropped; each doc's
    * surviving lines are rejoined in original order with `delim`.
    *
    * Scale shape: one generator fan-out (narrow), one aggregation keyed by
    * (xxhash64(line), line) computing the owner with `min(struct)` — the
    * exact line text rides the group key, so hash collisions are harmless,
    * and map-side partial aggregation reduces a corpus-hot line (empty
    * line, boilerplate header repeated across half the corpus) to one
    * candidate per task BEFORE the shuffle: no per-line sort group exists
    * to skew, unlike a `row_number` window. The kept occurrences ARE the
    * aggregation output — no join back onto the line stream at all — so
    * the only other wide stages are the per-doc regroup and the (doc-count
    * sized) rebuilt-text join onto the input. Full documents never ride a
    * shuffle.
    *
    * @return input + `text_deduped` (kept lines, original order) +
    *   `n_lines_cut`; a doc whose every line lost ownership rebuilds to ""
    */
  def dedupLines(docs: DataFrame, delim: String = "\n",
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    rebuildFromKeptLines(docs, lineOwners(docs, delim, idCol, textCol),
      delim, idCol, textCol)

  /** Per-position line stream → kept occurrences (owner per distinct line
    * = lexicographic-min (doc, pos); the aggregation winners ARE the kept
    * rows — no join against the line stream).
    */
  private def lineOwners(docs: DataFrame, delim: String, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol),
      posexplode(split(col(textCol), delim)).as(Seq("_pos", "_line")))
      .groupBy(xxhash64(col("_line")).as("_h"), col("_line"))
      .agg(min(struct(col(idCol).as("d"), col("_pos").as("p"))).as("_own"))
      .select(col("_h"),
        col("_own.d").as(idCol), col("_own.p").as("_pos"), col("_line"))

  /** Rejoin each doc's kept lines in original order; docs with no kept
    * line rebuild to "".
    */
  private def rebuildFromKeptLines(docs: DataFrame, kept: DataFrame,
                                   delim: String, idCol: String,
                                   textCol: String): DataFrame = {
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line")), delim).as("text_deduped"),
        count(lit(1)).as("_n_kept"))
    docs.join(rebuilt, Seq(idCol), "left_outer")
      .withColumn("text_deduped", coalesce(col("text_deduped"), lit("")))
      .withColumn("n_lines_cut",
        (size(split(col(textCol), delim)).cast("long")
          - coalesce(col("_n_kept"), lit(0L))))
      .drop("_n_kept")
  }

  /** Per-source boilerplate stripping (the CCNet/RefinedWeb step): a line
    * appearing in at least `minDocs` DISTINCT documents of the SAME source
    * is site furniture (header, nav, cookie banner) and is cut from EVERY
    * document — unlike [[dedupLines]] there is no surviving owner copy,
    * because boilerplate is noise, not content.
    *
    * Scale shape: one generator fan-out; the hot-line table is a distinct
    * count aggregate keyed by (source, hash, exact line) — boilerplate is
    * by definition repeated, so the hot table is far smaller than the line
    * stream (bounded by distinct repeated lines per source); the cut is an
    * UNHINTED left anti equi-join on (source, hash, exact line) — AQE
    * broadcasts the hot table while it is small, and beyond that the
    * fallback is a linear shuffled anti-join (the r4 span-dedup lesson:
    * never force-broadcast a survivor set that grows with corpus
    * duplication). Matching on exact line text alongside the hash makes
    * collisions harmless. Rebuild reuses the [[dedupLines]] stage: full
    * documents never ride a shuffle.
    *
    * @return input + `text_deduped` (surviving lines, original order) +
    *   `n_lines_cut`
    */
  def stripBoilerplate(docs: DataFrame, sourceCol: String = "source",
                       minDocs: Long = 3, delim: String = "\n",
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, "boilerplate needs at least 2 documents")
    val lines = docs.select(col(idCol), col(sourceCol),
      posexplode(split(col(textCol), delim)).as(Seq("_pos", "_line")))
    val hot = lines
      .groupBy(col(sourceCol), xxhash64(col("_line")).as("_h"), col("_line"))
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col(sourceCol), col("_h"), col("_line"))
    val kept = lines.withColumn("_h", xxhash64(col("_line")))
      .join(hot, Seq(sourceCol, "_h", "_line"), "left_anti")
      .select(col(idCol), col("_pos"), col("_line"))
    rebuildFromKeptLines(docs, kept, delim, idCol, textCol)
  }

  /** Corpus LINE INDEX: the distinct lines of a corpus, for
    * [[dedupLinesIncremental]]. At 100 TB persist it bucketed by `line_h`
    * ([[Bucketing.writeBucketed]]) so each day's batch anti-join shuffles
    * only the batch side.
    */
  def lineIndex(docs: DataFrame, delim: String = "\n",
                textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), delim)).as("line"))
      .groupBy(xxhash64(col("line")).as("line_h"), col("line"))
      .agg(count(lit(1)).as("n_occ"))

  /** Incremental (cross-batch) LINE dedup — the daily-ingest form of
    * [[dedupLines]]: batch lines already present in the corpus line index
    * are cut everywhere, and among the remaining (corpus-fresh) lines the
    * batch-first (doc, pos) occurrence survives — so appending the
    * surviving lines to the corpus index preserves the global keep-one
    * invariant across days. Anti-join keys on (hash, exact line): the
    * index side carries its 8-byte hash for the shuffle, collisions are
    * impossible, and a bucketed index makes the join one-sided.
    */
  def dedupLinesIncremental(corpusLines: DataFrame, batch: DataFrame,
                            delim: String = "\n",
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val fresh = lineOwners(batch, delim, idCol, textCol)
      .join(corpusLines.select(col("line_h").as("_h"),
        col("line").as("_line")), Seq("_h", "_line"), "left_anti")
    rebuildFromKeptLines(batch, fresh, delim, idCol, textCol)
  }

  /** SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with deterministic k-means,
    * then within each cluster drop every vector that has a smaller-id
    * cluster-mate with cosine ≥ threshold — one survivor per tight
    * semantic neighborhood, cheap enough to run corpus-wide because
    * pairing is confined to cluster cells.
    *
    * Scale shape: the clustering is [[Similarity.buildIvfIndex]] (broadcast
    * centroid assignment, a few Lloyd rounds); the pair stage self-joins
    * each cell only (quadratic in CELL size, not corpus size — size
    * `nCenters` ∝ corpus so cell cardinality stays bounded, the same knob
    * SemDeDup itself turns). The drop set is an id-only anti-join back
    * onto the cells.
    *
    * Deterministic end-to-end: centroids are seeded (hash-ordered sample),
    * the keep rule is pure (smallest id wins), so reruns agree — but the
    * centroids are model state, not SQL, hence no DuckDB oracle (rows-only
    * contract query; Round5OpsSpec re-derives the policy by brute force).
    *
    * @return (idCol, center_id, is_kept)
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.9,
                    nCenters: Int = 16, iters: Int = 3,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val idx = Similarity.buildIvfIndex(embeddings, nCenters, iters, idCol, vecCol)
    val out = semanticDedup(idx, threshold)
      .withColumnRenamed("vec_id", idCol)
      .localCheckpoint(true)
    idx.release()
    out
  }

  /** [[semanticDedup]] against a PREBUILT IVF index — the deployment shape
    * at corpus scale: the k-means build is paid once
    * ([[Similarity.buildIvfIndex]], persisted bucketed by `center_id`) and
    * each curation run only pays the within-cell pairing. Column names
    * follow the index (`vec_id`, `center_id`).
    */
  def semanticDedup(index: Similarity.IvfIndex,
                    threshold: Double): DataFrame = {
    val a = index.cells.select(col("center_id"), col("vec_id").as("_ida"),
      col("_cv").as("_va"))
    val b = index.cells.select(col("center_id"), col("vec_id").as("_idb"),
      col("_cv").as("_vb"))
    val drops = a.join(b, Seq("center_id"))
      .filter(col("_ida") < col("_idb"))
      .filter(cosine_sim(col("_va"), col("_vb")) >= threshold)
      .select(col("_idb").as("vec_id")).distinct()
    index.cells
      .join(drops.withColumn("_dropped", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("center_id"),
        coalesce(!col("_dropped"), lit(true)).as("is_kept"))
  }

  /** Dedup clustering: near-dup pairs → connected components → one
    * canonical doc per cluster (the standard post-LSH step: keep
    * `is_canonical`, drop the rest). DataFrame CC rounds are O(log²
    * cluster diameter); near-dup clusters are shallow (dup chains, not
    * paths), so this converges in a few rounds even at corpus scale (see
    * [[graft.graph.ConnectedComponents]]). Vertex id is the
    * doc id itself — no hashing, and the component id (min vertex id in the
    * component) is therefore the min doc id: deterministic across runs.
    *
    * @return (doc_id, cluster_id, is_canonical); singletons keep their own
    *   id as cluster_id
    */
  def clusters(docs: DataFrame, threshold: Double = 0.8, shingleK: Int = 5,
               numHashes: Int = 128, bands: Int = 32,
               idCol: String = "doc_id", textCol: String = "text",
               md5Seam: Boolean = false): DataFrame =
    clustersFromPairs(docs,
      minhashLsh(docs, threshold, shingleK, numHashes, bands, idCol,
        textCol, md5Seam),
      idCol)

  /** Connected-components clustering over an arbitrary near-dup pair set
    * (id_a, id_b) — composes with ANY pair generator above (minhashLsh,
    * simhashPairs, ngramJaccardPairs, embeddingPairs). Vertex id is the doc
    * id itself, so cluster_id (CC label = min vertex id) is the min doc id:
    * deterministic across runs and reproducible by a plain min-label
    * fixpoint (oracle-checkable when the pair set is). Components run as a
    * pure DataFrame dataflow (alternating large/small-star,
    * [[graft.graph.ConnectedComponents]]) — no RDD/GraphX handoff; near-dup
    * graphs are star-shaped and converge in 1-2 rounds.
    */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id"): DataFrame = {
    val verts = docs.select(col(idCol).cast("long").as("id"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.graph.ConnectedComponents.run(verts, edges)
      .select(col("id").as(idCol), col("component_id").as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** Distinct word-n-gram shingle hashes as a column (array<int>, or
    * array<bigint> of md5-32 gram hashes with `md5Seam` — the word-gram
    * certification seam, [[graft.functions.CorpusKernels
    * .wordShingleHashesMd5]]).
    */
  def word_shingles(c: Column, n: Int, md5Seam: Boolean = false): Column = {
    import org.apache.spark.sql.graft.Bridge
    if (md5Seam)
      Bridge.column(graft.functions.WordShinglesMd5(Bridge.expression(c), n))
    else Bridge.column(graft.functions.WordShingles(Bridge.expression(c), n))
  }

  /** Embedding-cosine near-dup pairs — delegates to the LSH-bucketed
    * similarity join (see [[Similarity.cosinePairs]]).
    */
  def embeddingPairs(embeddings: DataFrame, threshold: Double = 0.95,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    Similarity.cosinePairs(embeddings, threshold, idCol, vecCol)
}
