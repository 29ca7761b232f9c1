package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Persistence for the build-once/probe-many index artifacts
  * ([[Dedup.MinHashIndex]], [[Similarity.IvfIndex]]/[[Similarity.IvfIndexQ]],
  * [[Similarity.NswIndex]], [[Similarity.PqCodebooks]],
  * [[TextAnalysis.PostingsIndex]], [[Pipelines.CorpusState]]) — the
  * session-pinned (`localCheckpoint`) builders become durable artifacts a
  * deployment writes ONCE and probes from every later job/day, exactly the
  * layout each builder's docstring promises:
  *
  *  - corpus-sized tables land BUCKETED on their probe-join key
  *    (minhash buckets on (band, bucket); IVF cells on center_id; postings
  *    on term; doc lengths on the doc id), so every subsequent probe join
  *    shuffles ONLY the query/batch side — the bucketed side reads
  *    pre-shuffled, zero Exchange (asserted in IndexStoreSpec).
  *  - dimension-sized tables (centroids, codebooks, df table, stats)
  *    land as plain tables; they broadcast at probe time anyway.
  *  - artifact scalars (PQ's m/subDim, the postings id column) ride a
  *    1-row `<prefix>_meta` table so `read*` restores the exact object.
  *
  * Tables are external when `path` is given (data under `path/<table>`),
  * managed (warehouse) otherwise. Readers return the SAME case classes the
  * builders produce, so every probe operator works unchanged on a reloaded
  * index — certified by the probe-after-reload equality specs.
  */
object IndexStore {

  private def writeBucketedTable(df: DataFrame, table: String,
                                 keys: Seq[String], buckets: Int,
                                 path: Option[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    path.fold(w)(p => w.option("path", s"$p/$table")).saveAsTable(table)
  }

  private def writeSmallTable(df: DataFrame, table: String,
                              path: Option[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    path.fold(w)(p => w.option("path", s"$p/$table")).saveAsTable(table)
  }

  // --- MinHash LSH index -------------------------------------------------

  /** Persist a [[Dedup.MinHashIndex]]: `buckets` bucketed on
    * (band, bucket) — [[Dedup.nearDupAgainstIndex]]'s candidate join key —
    * and `sigs` bucketed on doc_id (the verify join key).
    */
  def writeMinhashIndex(index: Dedup.MinHashIndex, prefix: String,
                        buckets: Int = 8,
                        path: Option[String] = None): Unit = {
    writeBucketedTable(index.buckets, s"${prefix}_buckets",
      Seq("band", "bucket"), buckets, path)
    writeBucketedTable(index.sigs, s"${prefix}_sigs",
      Seq("doc_id"), buckets, path)
    // the build parameters travel WITH the artifact (one-row meta table):
    // a reloaded index must probe with exactly the banding it was built
    // with, across sessions and engines
    val spark = index.buckets.sparkSession
    import spark.implicits._
    writeSmallTable(
      Seq((index.shingleK, index.numHashes, index.bands, index.md5Seam))
        .toDF("shingle_k", "num_hashes", "bands", "md5_seam"),
      s"${prefix}_meta", path)
  }

  def readMinhashIndex(spark: SparkSession, prefix: String): Dedup.MinHashIndex = {
    val buckets = spark.table(s"${prefix}_buckets")
    val sigs = spark.table(s"${prefix}_sigs")
    // indexes persisted before the meta table existed carry no recorded
    // parameters — the build defaults (5/128/32) were the only defaults
    // ever shipped, but a pre-upgrade artifact persisted with OVERRIDES
    // would reload with wrong banding and probe silently wrong/empty, so
    // the guess is VALIDATED against the artifact itself (signature width
    // must equal numHashes; band ids must fit the band count) and the
    // load fails loudly on mismatch instead of assuming
    val (k, n, b, seam) =
      if (spark.catalog.tableExists(s"${prefix}_meta")) {
        val meta = spark.table(s"${prefix}_meta")
        val m = meta.head()
        // metas written before the md5_seam column existed are always
        // production murmur indexes (the seam did not exist yet)
        val seam = meta.columns.contains("md5_seam") &&
          m.getAs[Boolean]("md5_seam")
        (m.getAs[Int]("shingle_k"), m.getAs[Int]("num_hashes"),
          m.getAs[Int]("bands"), seam)
      } else {
        import org.apache.spark.sql.functions.{col, countDistinct, size}
        val sigW = sigs.select(size(col("sig")).as("_w"))
          .limit(1).collect().headOption.map(_.getInt(0))
        // every doc fans out to ALL its bands, so a non-empty bucket
        // table observes exactly `bands` distinct band ids — this
        // catches overridden bandings in BOTH directions (more bands
        // than 32 and fewer), where a max-id check would miss the latter
        val nBands = buckets.agg(countDistinct(col("band"))).head().getLong(0)
        require(sigW.forall(_ == 128) && (nBands == 0L || nBands == 32L),
          s"minhash index '$prefix' has no parameter meta table and does " +
            s"not match the shipped defaults (numHashes=128, bands=32): " +
            s"signature width=$sigW, observed bands=$nBands — re-persist " +
            "it with writeMinhashIndex to record its build parameters " +
            "(shingleK cannot be recovered from the artifact)")
        // shingleK is NOT recoverable from the artifact (shingles are
        // hashes) — warn loudly that it is ASSUMED, the one parameter
        // the validation above cannot cover; a shingleK-overridden
        // pre-meta artifact would pass and verify with wrong Jaccards,
        // so re-persisting with the meta table is the real fix
        System.err.println(s"WARN IndexStore: minhash index '$prefix' " +
          "has no meta table; numHashes/bands validated from the " +
          "artifact, shingleK=5 ASSUMED (unrecoverable) — re-persist " +
          "with writeMinhashIndex to record parameters")
        (5, 128, 32, false)
      }
    Dedup.MinHashIndex(buckets, sigs, k, n, b, seam)
  }

  // --- IVF index (float and quantized cells) -----------------------------

  /** Persist an [[Similarity.IvfIndex]]: `cells` bucketed on center_id
    * (the probe join key), centroid table plain (it broadcasts at probe).
    * A REBUILD over a previously-compacted prefix resets the generation
    * lineage first — otherwise the stale newest generation would shadow
    * the retrained base at read time.
    */
  def writeIvfIndex(index: Similarity.IvfIndex, prefix: String,
                    buckets: Int = 8, path: Option[String] = None): Unit = {
    dropGenerations(index.cells.sparkSession, prefix)
    writeBucketedTable(index.cells, s"${prefix}_cells",
      Seq("center_id"), buckets, path)
    writeSmallTable(index.centroids, s"${prefix}_centroids", path)
  }

  def readIvfIndex(spark: SparkSession, prefix: String): Similarity.IvfIndex =
    Similarity.IvfIndex(spark.table(s"${prefix}_centroids"),
      genTable(spark, prefix, "cells"))

  // --- crash-safe delta compaction (generations) --------------------------
  //
  // The streaming-maintenance lifecycle ("fold deltas into a rewritten
  // base on compaction cadence") cannot be executed safely as
  // rewrite-base-then-delete-deltas: a crash between the two steps leaves
  // a base that already CONTAINS the delta rows plus a delta tree the
  // reader unions in again — silent double-counting. Compaction here is
  // therefore GENERATIONAL with a commit-last marker (the
  // [[graft.streaming.Streams.curatedLandingIngest]] discipline):
  //
  //   1. the folded base lands under NEW table names
  //      `<prefix>_gen<N>_<table>` (never touching the tables readers
  //      currently resolve);
  //   2. a 1-row `<prefix>_gen<N>_commit` marker (gen, folded_batch_id)
  //      is written LAST.
  //
  // Readers resolve the newest COMMITTED generation and skip delta
  // partitions with batch_id ≤ its folded high-water. A crash anywhere
  // before the marker leaves the new generation invisible — the previous
  // base plus ALL its live deltas still read exactly-once — and a crash
  // after the marker only leaves folded partitions on disk, which every
  // reader already skips. Deleting them ([[pruneFoldedDeltas]]) is lazy
  // hygiene with one retention caveat documented there. Single compactor
  // at a time (the usual maintenance-job convention); concurrent APPENDS
  // are safe — the fold is bounded to the batch ids it saw at start, so
  // a batch landing mid-compaction stays live under the new high-water.
  //
  // READ ATOMICITY RULE: every reader resolves latestGeneration exactly
  // ONCE and derives ALL its tables AND the high-water from that one
  // resolution. Resolving twice would tear the read against a commit
  // landing in between — e.g. base cells from the old generation but the
  // new generation's high-water skipping batches the old base never
  // absorbed (silent row loss), or a postings index mixing generations
  // across postings/docFreqs (skewed df/N). One resolution = one
  // consistent snapshot, because committed generations are immutable.

  private val BatchDir = "batch_id=(\\d+)".r

  /** Batch ids present as partitions of a [[graft.streaming.Streams
    * .writeBatchIdempotent]] delta tree (`batch_id=N` directories); a
    * missing root reads as empty. A non-hidden entry that is NOT a
    * batch-partition directory fails loudly — the high-water skip is
    * only sound over partitioned trees, and silently including (or
    * worse, skipping) unpartitioned data would corrupt the exactly-once
    * account.
    */
  private def deltaBatchIds(spark: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case n if n.startsWith("_") || n.startsWith(".") => None
        case BatchDir(id) => Some(id.toLong)
        case n => throw new IllegalArgumentException(
          s"delta tree $path contains non-batch entry '$n' — delta " +
            "trees must be batch_id-partitioned (writeBatchIdempotent)")
      }
    }
  }

  /** Newest COMMITTED compaction generation of `prefix`:
    * (gen, folded high-water batch id), None when only the
    * builder-written base exists. One catalog listing per call —
    * resolve once and hold the index object on probe-many paths.
    */
  private[graft] def latestGeneration(spark: SparkSession,
                                      prefix: String): Option[(Long, Long)] = {
    val pat = (s"^${java.util.regex.Pattern.quote(prefix.toLowerCase)}" +
      "_gen(\\d+)_commit$").r
    val gens = spark.catalog.listTables().collect().toSeq.map(_.name)
      .collect { case pat(n) => n.toLong }
    gens.sorted.lastOption.map { g =>
      val r = spark.table(s"${prefix}_gen${g}_commit").head()
      (g, r.getAs[Long]("folded_batch_id"))
    }
  }

  /** Folded high-water batch id of `prefix` (−1 when nothing was ever
    * compacted): delta partitions at or below it are already inside the
    * committed base and must be skipped by every reader.
    */
  private[graft] def foldedHighWater(spark: SparkSession,
                                     prefix: String): Long =
    latestGeneration(spark, prefix).map(_._2).getOrElse(-1L)

  /** Resolve an artifact table AT a pre-resolved generation (the read
    * atomicity rule above: one latestGeneration call per reader, all
    * tables + high-water derived from it).
    */
  private def resolvedTable(spark: SparkSession, prefix: String,
                            gen: Option[(Long, Long)],
                            table: String): DataFrame =
    gen.map { case (g, _) => spark.table(s"${prefix}_gen${g}_$table") }
      .getOrElse(spark.table(s"${prefix}_$table"))

  /** Single-table convenience of [[resolvedTable]] — ONLY for readers
    * that touch one generation-resolved table and no high-water.
    */
  private def genTable(spark: SparkSession, prefix: String,
                       table: String): DataFrame =
    resolvedTable(spark, prefix, latestGeneration(spark, prefix), table)

  /** Next generation number: one past anything already on disk —
    * committed OR half-written (a crashed compaction's uncommitted
    * tables are never overwritten, just orphaned).
    */
  private def nextGeneration(spark: SparkSession, prefix: String): Long = {
    val pat = (s"^${java.util.regex.Pattern.quote(prefix.toLowerCase)}" +
      "_gen(\\d+)_[a-z_]+$").r
    val seen = spark.catalog.listTables().collect().toSeq.map(_.name)
      .collect { case pat(n) => n.toLong }
    seen.sorted.lastOption.getOrElse(0L) + 1L
  }

  /** Drop every compaction-generation table of `prefix` — the REBUILD
    * reset: a retrained base written by the plain writers must not stay
    * shadowed by a stale committed generation. Commit markers drop
    * FIRST (each generation turns invisible atomically-enough — a crash
    * mid-reset leaves readers on the previous base, never on a
    * half-dropped generation), data tables after. The delta TREE is the
    * stream's artifact, not touched here: a retrain redeploys its
    * ingest with a fresh deltaPath + checkpoint (stale deltas would
    * read as live again once the high-water resets).
    */
  private def dropGenerations(spark: SparkSession, prefix: String): Unit = {
    val pat = (s"^${java.util.regex.Pattern.quote(prefix.toLowerCase)}" +
      "_gen(\\d+)_([a-z_]+)$").r
    val tables = spark.catalog.listTables().collect().toSeq.map(_.name)
      .filter(pat.pattern.matcher(_).matches())
    val (commits, data) = tables.partition(_.endsWith("_commit"))
    (commits ++ data).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** The commit-LAST marker that makes a generation visible. */
  private def commitGeneration(spark: SparkSession, prefix: String,
                               gen: Long, highWater: Long,
                               path: Option[String]): Unit = {
    import spark.implicits._
    writeSmallTable(Seq((gen, highWater)).toDF("gen", "folded_batch_id"),
      s"${prefix}_gen${gen}_commit", path)
  }

  /** Delete delta partitions already folded into the newest COMMITTED
    * generation (batch_id ≤ its high-water). Disk hygiene for every
    * FUTURE read — readers resolve the generation and skip folded
    * partitions whether or not this ever runs, and a crash mid-prune
    * costs bytes, not correctness. The one retention caveat (the
    * standard vacuum trade, as in Delta/Iceberg): an index object
    * resolved BEFORE the compaction committed still references the
    * now-folded files in its lazy plan — run prune only after such
    * in-flight readers have retired (probe services re-resolve on their
    * own cadence; give them one cadence of grace).
    * @return partitions removed
    */
  def pruneFoldedDeltas(spark: SparkSession, prefix: String,
                        deltaPath: String): Int = {
    val hw = foldedHighWater(spark, prefix)
    val p = new org.apache.hadoop.fs.Path(deltaPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      st.getPath.getName match {
        case BatchDir(id) if id.toLong <= hw =>
          fs.delete(st.getPath, true)
        case _ => false
      }
    }
  }

  /** Fold the live IVF append deltas into a rewritten bucketed base —
    * the compaction the delta readers' scaladocs defer to, crash-safe
    * via the commit-last generation recipe above. The fold is BOUNDED to
    * the batch ids visible at start (a concurrent
    * [[graft.streaming.Streams.ivfAppendIngest]] batch landing
    * mid-compaction stays live under the new high-water instead of
    * being silently absorbed without acknowledgment). Centroids are the
    * frozen model — never rewritten. SCHEMA-GENERIC over the cell
    * families: the fold rewrites exactly `cells`' own columns bucketed
    * on center_id, so the same operator compacts the float
    * ([[readIvfIndexWithDelta]]), int8 ([[readIvfIndexQWithDelta]]) and
    * PQ ([[readIvfPqIndexWithDelta]]) delta trees. After the commit,
    * probes through the family's readers regain the zero-Exchange
    * bucketed plan (spec-asserted); [[pruneFoldedDeltas]] reclaims the
    * folded partitions whenever convenient.
    *
    * @return the committed folded high-water batch id (unchanged, and
    *         nothing written, when the delta tree holds nothing new)
    */
  def compactIvfDeltas(spark: SparkSession, prefix: String,
                       deltaPath: String, buckets: Int = 8,
                       path: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val genNow = latestGeneration(spark, prefix) // one snapshot
    val hw = genNow.map(_._2).getOrElse(-1L)
    val ids = deltaBatchIds(spark, deltaPath).filter(_ > hw)
    if (ids.isEmpty) hw
    else {
      val hwNew = ids.max
      val baseCells = resolvedTable(spark, prefix, genNow, "cells")
      val delta = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw && col("batch_id") <= hwNew)
        .select(baseCells.columns.map(col): _*)
      val gen = nextGeneration(spark, prefix)
      writeBucketedTable(baseCells.unionByName(delta),
        s"${prefix}_gen${gen}_cells", Seq("center_id"), buckets, path)
      commitGeneration(spark, prefix, gen, hwNew, path)
      hwNew
    }
  }

  /** [[readIvfIndex]] plus the LIVE streaming append deltas written by
    * [[graft.streaming.Streams.ivfAppendIngest]]: the bucketed base
    * cells union the batch_id-partitioned delta rows with batch_id ABOVE
    * the committed folded high-water (partitions a [[compactIvfDeltas]]
    * already absorbed are skipped — present or deleted, they can never
    * double-count). With no live deltas the base returns VERBATIM,
    * zero-Exchange plan intact. NOTE the honest partitioning cost while
    * live deltas exist: a UNION reports unknown output partitioning, so
    * a probe against the unioned cells re-shuffles BOTH sides — keep
    * deltas small relative to probe volume between compactions, or use
    * [[Similarity.ivfProbeSplit]], which probes base and delta
    * separately (base keeps the zero-Exchange plan) and merges the
    * per-side top-k exactly.
    */
  def readIvfIndexWithDelta(spark: SparkSession, prefix: String,
                            deltaPath: String): Similarity.IvfIndex = {
    import org.apache.spark.sql.functions.col
    // ONE resolution: base cells and high-water from the same snapshot
    // (the read atomicity rule)
    val gen = latestGeneration(spark, prefix)
    val base = Similarity.IvfIndex(spark.table(s"${prefix}_centroids"),
      resolvedTable(spark, prefix, gen, "cells"))
    val hw = gen.map(_._2).getOrElse(-1L)
    if (!deltaBatchIds(spark, deltaPath).exists(_ > hw)) base
    else {
      val delta = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw)
        .select(base.cells.columns.map(col): _*)
      Similarity.IvfIndex(base.centroids, base.cells.unionByName(delta))
    }
  }

  /** Persist an [[Similarity.NswIndex]]: the adjacency bucketed on `src`
    * (each beam hop's frontier join is one-sided against it — the
    * graph-tier equivalent of the cells/center_id bucketing), the entry
    * set plain (it is gateway-sized and broadcasts at search).
    */
  def writeNswIndex(index: Similarity.NswIndex, prefix: String,
                    buckets: Int = 8, path: Option[String] = None): Unit = {
    // rebuild resets the compaction lineage (see writeIvfIndex)
    val spark = index.edges.sparkSession
    dropGenerations(spark, prefix)
    writeBucketedTable(index.edges, s"${prefix}_edges",
      Seq("src"), buckets, path)
    writeSmallTable(index.entries, s"${prefix}_entries", path)
    // the BUILD-time edge count rides a 1-row meta table (one count job
    // on the build path): the streaming drift audit needs it as the
    // denominator of the CUMULATIVE appended share — the adjacency
    // itself absorbs folded appends at compaction, so "built edges" is
    // unrecoverable from the tables afterwards
    import spark.implicits._
    writeSmallTable(Seq(index.edges.count()).toDF("n_built_edges"),
      s"${prefix}_meta", path)
  }

  /** The build-time edge count recorded by [[writeNswIndex]] — None for
    * pre-upgrade artifacts (the drift audit then falls back to
    * per-batch share semantics, documented there).
    */
  private[graft] def nswBuiltEdges(spark: SparkSession,
                                   prefix: String): Option[Long] =
    if (spark.catalog.tableExists(s"${prefix}_meta"))
      Some(spark.table(s"${prefix}_meta").head()
        .getAs[Long]("n_built_edges"))
    else None

  def readNswIndex(spark: SparkSession, prefix: String): Similarity.NswIndex =
    Similarity.NswIndex(genTable(spark, prefix, "edges"),
      spark.table(s"${prefix}_entries"))

  /** Derive the edges a delta batch appends from its single data
    * artifact (vec_id, embedding, nbrs): forward explode ∪ mirror,
    * deduped alone — the [[Similarity.nswAppend]] algebra. Null/missing
    * neighbor lists (a batch vector that found nothing) derive no edges
    * but still carry their vector.
    */
  private def nswDeltaEdges(dp: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    Similarity.mirrorEdges(dp.select(col("vec_id").as("src"),
      explode(col("nbrs")).as("dst")))
  }

  /** [[readNswIndex]] plus the LIVE streaming append deltas written by
    * [[graft.streaming.Streams.nswAppendIngest]]: per delta row the
    * neighbor list derives its forward + mirror edges at load (ONE data
    * artifact per batch — edges can never skew against vectors across a
    * crash), unioned under the bucketed base adjacency. Partitions at
    * or below the committed folded high-water ([[compactNswDeltas]])
    * are skipped; with no live deltas the base returns verbatim,
    * zero-Exchange frontier-join plan intact. Entries stay the build's
    * gateway set (entry refresh is build-cadence, like centroids). The
    * batch VECTORS ride [[readNswDeltaVectors]] — callers union them
    * with the search corpus.
    *
    * @param excludeBatchId skip this batch's own partition — the
    *   REPLAY-idempotence hook: a replayed micro-batch must not read
    *   the partial partition its first attempt wrote (its vectors would
    *   join the graph it searches, changing the recomputed neighbor
    *   lists — [[graft.streaming.Streams.nswAppendIngest]] passes its
    *   current batch id here)
    */
  def readNswIndexWithDelta(spark: SparkSession, prefix: String,
                            deltaPath: String,
                            excludeBatchId: Option[Long] = None): Similarity.NswIndex = {
    import org.apache.spark.sql.functions.{col, lit}
    val gen = latestGeneration(spark, prefix) // one snapshot: edges + hw
    val base = Similarity.NswIndex(resolvedTable(spark, prefix, gen, "edges"),
      spark.table(s"${prefix}_entries"))
    val hw = gen.map(_._2).getOrElse(-1L)
    val live = deltaBatchIds(spark, deltaPath)
      .filter(id => id > hw && !excludeBatchId.contains(id))
    if (live.isEmpty) base
    else {
      val dp = spark.read.parquet(deltaPath).filter(col("batch_id") > hw &&
        excludeBatchId.map(id => col("batch_id") =!= lit(id))
          .getOrElse(lit(true)))
      Similarity.NswIndex(base.edges.unionByName(nswDeltaEdges(dp)),
        base.entries)
    }
  }

  /** All appended vectors of an NSW maintenance stream: the committed
    * generations' folded vector table plus the live delta partitions —
    * the corpus GROWTH a caller unions with its vector store when
    * searching/appending (the graph artifact itself never stores
    * vectors; search takes the corpus separately). None when nothing
    * was ever appended.
    */
  def readNswDeltaVectors(spark: SparkSession, prefix: String,
                          deltaPath: String,
                          excludeBatchId: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val gen = latestGeneration(spark, prefix) // one snapshot: vecs + hw
    val folded = gen
      .filter { case (g, _) =>
        spark.catalog.tableExists(s"${prefix}_gen${g}_vecs") }
      .map { case (g, _) => spark.table(s"${prefix}_gen${g}_vecs") }
    val hw = gen.map(_._2).getOrElse(-1L)
    val liveIds = deltaBatchIds(spark, deltaPath)
      .filter(id => id > hw && !excludeBatchId.contains(id))
    val live =
      if (liveIds.isEmpty) None
      else Some(spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw && excludeBatchId
          .map(id => col("batch_id") =!= lit(id)).getOrElse(lit(true)))
        .select("vec_id", "embedding"))
    (folded, live) match {
      case (Some(f), Some(l)) => Some(f.unionByName(l))
      case (f, l) => f.orElse(l)
    }
  }

  /** [[compactIvfDeltas]] for the graph tier: fold the live delta
    * batches' derived edges into a rewritten src-bucketed adjacency AND
    * their vectors into the generation's `_vecs` table (so
    * [[pruneFoldedDeltas]] never orphans the only copy of an appended
    * vector), commit-last. Entries are untouched — gateway refresh is a
    * rebuild, not a compaction.
    *
    * @return the committed folded high-water batch id (unchanged, and
    *         nothing written, when the delta tree holds nothing new)
    */
  def compactNswDeltas(spark: SparkSession, prefix: String,
                       deltaPath: String, buckets: Int = 8,
                       path: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val genNow = latestGeneration(spark, prefix) // one snapshot
    val hw = genNow.map(_._2).getOrElse(-1L)
    val ids = deltaBatchIds(spark, deltaPath).filter(_ > hw)
    if (ids.isEmpty) hw
    else {
      val hwNew = ids.max
      val baseEdges = resolvedTable(spark, prefix, genNow, "edges")
      val dp = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw && col("batch_id") <= hwNew)
      val newVecs = dp.select("vec_id", "embedding")
      val vecs = genNow
        .filter { case (g, _) =>
          spark.catalog.tableExists(s"${prefix}_gen${g}_vecs") }
        .map { case (g, _) =>
          spark.table(s"${prefix}_gen${g}_vecs").unionByName(newVecs) }
        .getOrElse(newVecs)
      val gen = nextGeneration(spark, prefix)
      writeBucketedTable(baseEdges.unionByName(nswDeltaEdges(dp)),
        s"${prefix}_gen${gen}_edges", Seq("src"), buckets, path)
      writeBucketedTable(vecs, s"${prefix}_gen${gen}_vecs",
        Seq("vec_id"), buckets, path)
      commitGeneration(spark, prefix, gen, hwNew, path)
      hwNew
    }
  }

  def writeIvfIndexQ(index: Similarity.IvfIndexQ, prefix: String,
                     buckets: Int = 8, path: Option[String] = None): Unit = {
    // rebuild resets the compaction lineage (see writeIvfIndex)
    dropGenerations(index.cells.sparkSession, prefix)
    writeBucketedTable(index.cells, s"${prefix}_cells",
      Seq("center_id"), buckets, path)
    writeSmallTable(index.centroids, s"${prefix}_centroids", path)
  }

  def readIvfIndexQ(spark: SparkSession, prefix: String): Similarity.IvfIndexQ =
    Similarity.IvfIndexQ(spark.table(s"${prefix}_centroids"),
      genTable(spark, prefix, "cells"))

  /** [[readIvfIndexWithDelta]] for the QUANTIZED tier: byte-code cells
    * streamed by [[graft.streaming.Streams.ivfQAppendIngest]] union
    * under the bucketed base above the folded high-water. Compaction is
    * the SAME operator — [[compactIvfDeltas]] is schema-generic over
    * the cell families (it rewrites `base.cells`' own columns bucketed
    * on center_id and never touches centroids/codebooks), so one
    * recipe serves float, int8 and PQ cells.
    */
  def readIvfIndexQWithDelta(spark: SparkSession, prefix: String,
                             deltaPath: String): Similarity.IvfIndexQ = {
    import org.apache.spark.sql.functions.col
    val gen = latestGeneration(spark, prefix) // one snapshot: cells + hw
    val base = Similarity.IvfIndexQ(spark.table(s"${prefix}_centroids"),
      resolvedTable(spark, prefix, gen, "cells"))
    val hw = gen.map(_._2).getOrElse(-1L)
    if (!deltaBatchIds(spark, deltaPath).exists(_ > hw)) base
    else {
      val delta = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw)
        .select(base.cells.columns.map(col): _*)
      Similarity.IvfIndexQ(base.centroids, base.cells.unionByName(delta))
    }
  }

  /** Persist an [[Similarity.IvfPqIndex]]: byte-code cells bucketed on
    * center_id (the probe routing join — only the query side ever
    * shuffles), centroid table plain, codebooks + (m, subDim) meta via
    * the PQ writer. The combined tier joins the build-once artifact
    * family with the same probe-after-reload equality guarantee.
    */
  def writeIvfPqIndex(index: Similarity.IvfPqIndex, prefix: String,
                      buckets: Int = 8, path: Option[String] = None): Unit = {
    // rebuild resets the compaction lineage (see writeIvfIndex)
    dropGenerations(index.cells.sparkSession, prefix)
    writeBucketedTable(index.cells, s"${prefix}_cells",
      Seq("center_id"), buckets, path)
    writeSmallTable(index.centroids, s"${prefix}_centroids", path)
    writePqCodebooks(index.cb, s"${prefix}_pq", path)
  }

  def readIvfPqIndex(spark: SparkSession,
                     prefix: String): Similarity.IvfPqIndex =
    Similarity.IvfPqIndex(spark.table(s"${prefix}_centroids"),
      genTable(spark, prefix, "cells"),
      readPqCodebooks(spark, s"${prefix}_pq"))

  /** [[readIvfIndexWithDelta]] for the COMBINED tier: PQ-code cells
    * streamed by [[graft.streaming.Streams.ivfPqAppendIngest]] union
    * under the bucketed base above the folded high-water; centroids and
    * codebooks are the frozen models, shared unchanged. Compaction is
    * the schema-generic [[compactIvfDeltas]].
    */
  def readIvfPqIndexWithDelta(spark: SparkSession, prefix: String,
                              deltaPath: String): Similarity.IvfPqIndex = {
    import org.apache.spark.sql.functions.col
    val gen = latestGeneration(spark, prefix) // one snapshot: cells + hw
    val base = Similarity.IvfPqIndex(spark.table(s"${prefix}_centroids"),
      resolvedTable(spark, prefix, gen, "cells"),
      readPqCodebooks(spark, s"${prefix}_pq"))
    val hw = gen.map(_._2).getOrElse(-1L)
    if (!deltaBatchIds(spark, deltaPath).exists(_ > hw)) base
    else {
      val delta = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw)
        .select(base.cells.columns.map(col): _*)
      Similarity.IvfPqIndex(base.centroids,
        base.cells.unionByName(delta), base.cb)
    }
  }

  // --- PQ codebooks ------------------------------------------------------

  /** Persist [[Similarity.PqCodebooks]] (codebooks are m×ksub rows — a
    * plain table) plus a 1-row meta table carrying (m, subDim).
    */
  def writePqCodebooks(cb: Similarity.PqCodebooks, prefix: String,
                       path: Option[String] = None): Unit = {
    writeSmallTable(cb.codebooks, s"${prefix}_codebooks", path)
    val spark = cb.codebooks.sparkSession
    import spark.implicits._
    writeSmallTable(Seq((cb.m, cb.subDim)).toDF("m", "sub_dim"),
      s"${prefix}_meta", path)
  }

  def readPqCodebooks(spark: SparkSession,
                      prefix: String): Similarity.PqCodebooks = {
    val meta = spark.table(s"${prefix}_meta").head()
    Similarity.PqCodebooks(meta.getInt(0), meta.getInt(1),
      spark.table(s"${prefix}_codebooks"))
  }

  // --- BM25 postings index -----------------------------------------------

  /** Persist a [[TextAnalysis.PostingsIndex]]: postings bucketed on term
    * (every probe's query-term join), doc lengths bucketed on the doc id
    * (the scoring join), df table + 1-row stats plain, and the id column
    * name in the meta table.
    */
  def writePostingsIndex(index: TextAnalysis.PostingsIndex, prefix: String,
                         buckets: Int = 8,
                         path: Option[String] = None): Unit = {
    // rebuild resets the compaction lineage (see writeIvfIndex)
    dropGenerations(index.stats.sparkSession, prefix)
    writeBucketedTable(index.postings, s"${prefix}_postings",
      Seq("term"), buckets, path)
    writeBucketedTable(index.docLens, s"${prefix}_doclens",
      Seq(index.idCol), buckets, path)
    writeSmallTable(index.docFreqs, s"${prefix}_docfreqs", path)
    writeSmallTable(index.stats, s"${prefix}_stats", path)
    val spark = index.stats.sparkSession
    import spark.implicits._
    writeSmallTable(Seq(index.idCol).toDF("id_col"), s"${prefix}_meta", path)
  }

  def readPostingsIndex(spark: SparkSession,
                        prefix: String): TextAnalysis.PostingsIndex =
    readPostingsIndexAt(spark, prefix, latestGeneration(spark, prefix))

  /** All four tables from ONE pre-resolved generation — a commit
    * landing between per-table resolutions must not mix generations
    * (postings from one, docFreqs/stats from another would skew every
    * idf/length term).
    */
  private def readPostingsIndexAt(spark: SparkSession, prefix: String,
                                  gen: Option[(Long, Long)]): TextAnalysis.PostingsIndex =
    TextAnalysis.PostingsIndex(
      resolvedTable(spark, prefix, gen, "postings"),
      resolvedTable(spark, prefix, gen, "doclens"),
      resolvedTable(spark, prefix, gen, "docfreqs"),
      resolvedTable(spark, prefix, gen, "stats"),
      spark.table(s"${prefix}_meta").head().getString(0))

  /** Derive the merged index from a base plus RAW delta tf rows — the
    * shared tail of [[readPostingsIndexWithDelta]] and
    * [[compactPostingsDeltas]]: docLens, the dictionary merge and the
    * additive stats all REBUILD from tf (a crash can never leave derived
    * tables mutually skewed), so the result probes BIT-EQUAL to a full
    * rebuild over base ∪ delta.
    */
  private def mergePostingsDelta(base: TextAnalysis.PostingsIndex,
                                 dpRaw: DataFrame): TextAnalysis.PostingsIndex = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val dp = dpRaw.select(base.postings.columns.map(col): _*)
    val dl = dp.groupBy(base.idCol).agg(sum(col("_tf")).as("_dl"))
    val addDf = dp.groupBy("term").agg(count(lit(1)).as("_df"))
    val docFreqs = TextAnalysis.mergeDocFreqs(base.docFreqs, addDf,
      broadcastAdd = false)
    val addStats = dl.agg(count(lit(1)).as("_n"),
      coalesce(sum(col("_dl")), lit(0L)).as("_sum_dl"))
    val stats = TextAnalysis.mergeStats(
      TextAnalysis.additiveStatsOf(base), addStats)
    TextAnalysis.PostingsIndex(base.postings.unionByName(dp),
      base.docLens.unionByName(dl), docFreqs, stats, base.idCol,
      delta = Seq(docFreqs, stats))
  }

  /** [[readPostingsIndex]] plus the LIVE streaming append deltas written
    * by [[graft.streaming.Streams.bm25AppendIngest]]: the single
    * per-batch tf artifact is the ONLY thing on disk — docLens, the
    * dictionary merge and the additive stats all REBUILD from it at load
    * (a crash can never leave derived tables mutually skewed), so the
    * loaded index probes BIT-EQUAL to a full rebuild over base ∪ stream.
    * The dictionary merge deliberately does NOT broadcast the
    * accumulated delta vocabulary (it grows until compaction — one
    * bounded vocab-sized shuffle agg at load instead). Partitions at or
    * below the committed folded high-water ([[compactPostingsDeltas]])
    * are skipped — present or deleted, they can never double-count; a
    * missing/empty/fully-folded delta tree reads as the (generation-
    * resolved) base verbatim, zero-Exchange plan intact. Same
    * union-partitioning caveat as [[readIvfIndexWithDelta]] while live
    * deltas exist.
    */
  def readPostingsIndexWithDelta(spark: SparkSession, prefix: String,
                                 deltaPath: String): TextAnalysis.PostingsIndex = {
    import org.apache.spark.sql.functions.col
    // ONE resolution for all four tables AND the high-water
    val gen = latestGeneration(spark, prefix)
    val base = readPostingsIndexAt(spark, prefix, gen)
    val hw = gen.map(_._2).getOrElse(-1L)
    if (!deltaBatchIds(spark, deltaPath).exists(_ > hw)) base
    else mergePostingsDelta(base,
      spark.read.parquet(deltaPath).filter(col("batch_id") > hw))
  }

  /** [[compactIvfDeltas]] for the lexical tier: fold the live tf deltas
    * into a rewritten generation (postings re-bucketed on term, docLens
    * on the id column, dictionary and additive stats re-derived —
    * [[mergePostingsDelta]], so the compacted base probes bit-equal to
    * a full rebuild), commit-last. Same crash/concurrency contract as
    * the IVF recipe: invisible until the marker lands, bounded to the
    * batch ids seen at start.
    *
    * @return the committed folded high-water batch id (unchanged, and
    *         nothing written, when the delta tree holds nothing new)
    */
  def compactPostingsDeltas(spark: SparkSession, prefix: String,
                            deltaPath: String, buckets: Int = 8,
                            path: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val genNow = latestGeneration(spark, prefix) // one snapshot
    val hw = genNow.map(_._2).getOrElse(-1L)
    val ids = deltaBatchIds(spark, deltaPath).filter(_ > hw)
    if (ids.isEmpty) hw
    else {
      val hwNew = ids.max
      val base = readPostingsIndexAt(spark, prefix, genNow)
      val merged = mergePostingsDelta(base,
        spark.read.parquet(deltaPath)
          .filter(col("batch_id") > hw && col("batch_id") <= hwNew))
      val gen = nextGeneration(spark, prefix)
      writeBucketedTable(merged.postings, s"${prefix}_gen${gen}_postings",
        Seq("term"), buckets, path)
      writeBucketedTable(merged.docLens, s"${prefix}_gen${gen}_doclens",
        Seq(base.idCol), buckets, path)
      writeSmallTable(merged.docFreqs, s"${prefix}_gen${gen}_docfreqs", path)
      writeSmallTable(merged.stats, s"${prefix}_gen${gen}_stats", path)
      commitGeneration(spark, prefix, gen, hwNew, path)
      // the derivation pinned the merged dictionary/stats; the artifact
      // is on disk now — a compaction-cadence job must not accumulate
      // session blocks
      merged.releaseDelta()
      hwNew
    }
  }

  // --- incremental-curation corpus state ---------------------------------

  /** Persist a [[Pipelines.CorpusState]] — the artifact `curateBatch`
    * carries between days: fingerprints bucketed on fingerprint (the
    * exact-dedup anti-join key), lines on line_h (the line-cut anti-join
    * key), and the MinHash member via [[writeMinhashIndex]]. With this
    * layout every daily probe join shuffles only the batch side.
    */
  def writeCorpusState(state: Pipelines.CorpusState, prefix: String,
                       buckets: Int = 8,
                       path: Option[String] = None): Unit = {
    // rebuild resets the compaction lineage (see writeIvfIndex)
    dropGenerations(state.fingerprints.sparkSession, prefix)
    writeBucketedTable(state.fingerprints, s"${prefix}_fingerprints",
      Seq("fingerprint"), buckets, path)
    writeBucketedTable(state.lines, s"${prefix}_lines",
      Seq("line_h"), buckets, path)
    writeMinhashIndex(state.minhash, s"${prefix}_mh", buckets, path)
    state.urls match {
      case Some(u) => writeBucketedTable(u, s"${prefix}_urls",
        Seq("canonical_url"), buckets, path)
      case None =>
        // a rewrite of the same prefix WITHOUT URL state must not leave
        // a stale _urls table for readCorpusState to resurrect (it
        // would be inconsistent with the rest of the generation)
        state.fingerprints.sparkSession
          .sql(s"DROP TABLE IF EXISTS ${prefix}_urls")
        ()
    }
  }

  def readCorpusState(spark: SparkSession,
                      prefix: String): Pipelines.CorpusState =
    readCorpusStateAt(spark, prefix, latestGeneration(spark, prefix))

  /** All state tables from ONE pre-resolved generation (the read
    * atomicity rule); minhash PARAMETERS always come from the base
    * `<prefix>_mh_meta` (frozen — compaction never re-bands).
    */
  private def readCorpusStateAt(spark: SparkSession, prefix: String,
                                gen: Option[(Long, Long)]): Pipelines.CorpusState = {
    val mhBase = readMinhashIndex(spark, s"${prefix}_mh")
    val mh = gen.map { case (g, _) =>
      Dedup.MinHashIndex(spark.table(s"${prefix}_gen${g}_mh_buckets"),
        spark.table(s"${prefix}_gen${g}_mh_sigs"),
        mhBase.shingleK, mhBase.numHashes, mhBase.bands, mhBase.md5Seam)
    }.getOrElse(mhBase)
    val urlsTable = gen
      .map { case (g, _) => s"${prefix}_gen${g}_urls" }
      .getOrElse(s"${prefix}_urls")
    Pipelines.CorpusState(
      resolvedTable(spark, prefix, gen, "fingerprints"),
      resolvedTable(spark, prefix, gen, "lines"),
      mh,
      if (spark.catalog.tableExists(urlsTable))
        Some(spark.table(urlsTable))
      else None)
  }

  /** [[readCorpusState]] plus the LIVE admitted-doc deltas written by
    * [[graft.streaming.Streams.curatedDeltaLandingIngest]] — the
    * O(batch) state-maintenance path: instead of rewriting the full
    * (corpus-sized) state tables every micro-batch, each batch lands
    * ONE artifact — its admitted pre-scrub rows — and every state view
    * (fingerprint index, line index, minhash bands + signatures, url
    * set) DERIVES from it at load, so no cross-sink crash skew is
    * possible (the bm25AppendIngest discipline). Probing semantics are
    * UNCHANGED by the base/delta split: every consumer is an
    * anti-join/band-join insensitive to duplicates and splits —
    * fingerprints/urls/lines probe by existence (n_occ is maintained
    * but never read on a probe path; the per-batch delta counts fold
    * additively at compaction), and each admitted doc's minhash rows
    * appear exactly once across the union (cross-batch exact dedup
    * guarantees distinct texts). Derivation cost is LIVE-delta-sized
    * (re-shingling the un-compacted admissions) — bounded between
    * [[compactCorpusStateDeltas]] folds. The md5-seam staged states are
    * refused (this is a production path, mirroring curateBatch's
    * guard).
    *
    * @param excludeBatchId the replay-idempotence hook, as
    *   [[readNswIndexWithDelta]]
    */
  def readCorpusStateWithDelta(spark: SparkSession, prefix: String,
                               deltaPath: String,
                               excludeBatchId: Option[Long] = None,
                               delim: String = "\n",
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               urlCol: Option[String] = None): Pipelines.CorpusState = {
    import org.apache.spark.sql.functions.{col, lit}
    val gen = latestGeneration(spark, prefix) // one snapshot: tables + hw
    val base = readCorpusStateAt(spark, prefix, gen)
    require(!base.minhash.md5Seam,
      "delta state maintenance is a production path; the md5-seam " +
        "staged states exist only for oracle certification " +
        "(curateBatch's guard)")
    require(urlCol.isEmpty == base.urls.isEmpty,
      s"urlCol (${urlCol.isDefined}) must match the base state's URL " +
        s"index (${base.urls.isDefined})")
    val hw = gen.map(_._2).getOrElse(-1L)
    val liveIds = deltaBatchIds(spark, deltaPath)
      .filter(id => id > hw && !excludeBatchId.contains(id))
    if (liveIds.isEmpty) base
    else {
      val dd = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw && excludeBatchId
          .map(id => col("batch_id") =!= lit(id)).getOrElse(lit(true)))
      val d = Pipelines.initCorpusState(dd, base.minhash.shingleK,
        base.minhash.numHashes, base.minhash.bands, delim, idCol,
        textCol, urlCol)
      Pipelines.CorpusState(
        base.fingerprints.unionByName(d.fingerprints),
        base.lines.unionByName(d.lines),
        Dedup.MinHashIndex(
          base.minhash.buckets.unionByName(d.minhash.buckets),
          base.minhash.sigs.unionByName(d.minhash.sigs),
          base.minhash.shingleK, base.minhash.numHashes,
          base.minhash.bands, base.minhash.md5Seam),
        (base.urls, d.urls) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        })
    }
  }

  /** [[compactIvfDeltas]] for the curation state: re-derive the live
    * admitted docs' index rows, fold them into rewritten bucketed state
    * tables (fingerprints/urls distinct, line counts summed additively,
    * minhash rows appended — exactly the merge curateBatch performs
    * per batch, moved to compaction cadence), commit-last. Minhash
    * PARAMETERS (`<prefix>_mh_meta`) are frozen — never rewritten.
    *
    * @return the committed folded high-water batch id (unchanged, and
    *         nothing written, when the delta tree holds nothing new)
    */
  def compactCorpusStateDeltas(spark: SparkSession, prefix: String,
                               deltaPath: String, buckets: Int = 8,
                               path: Option[String] = None,
                               delim: String = "\n",
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               urlCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, sum}
    val genNow = latestGeneration(spark, prefix) // one snapshot
    val hw = genNow.map(_._2).getOrElse(-1L)
    val ids = deltaBatchIds(spark, deltaPath).filter(_ > hw)
    if (ids.isEmpty) hw
    else {
      val hwNew = ids.max
      val base = readCorpusStateAt(spark, prefix, genNow)
      val dd = spark.read.parquet(deltaPath)
        .filter(col("batch_id") > hw && col("batch_id") <= hwNew)
      val d = Pipelines.initCorpusState(dd, base.minhash.shingleK,
        base.minhash.numHashes, base.minhash.bands, delim, idCol,
        textCol, urlCol)
      val gen = nextGeneration(spark, prefix)
      writeBucketedTable(
        base.fingerprints.unionByName(d.fingerprints).distinct(),
        s"${prefix}_gen${gen}_fingerprints", Seq("fingerprint"),
        buckets, path)
      writeBucketedTable(
        base.lines.unionByName(d.lines)
          .groupBy("line_h", "line").agg(sum(col("n_occ")).as("n_occ")),
        s"${prefix}_gen${gen}_lines", Seq("line_h"), buckets, path)
      writeBucketedTable(
        base.minhash.buckets.unionByName(d.minhash.buckets),
        s"${prefix}_gen${gen}_mh_buckets", Seq("band", "bucket"),
        buckets, path)
      writeBucketedTable(
        base.minhash.sigs.unionByName(d.minhash.sigs),
        s"${prefix}_gen${gen}_mh_sigs", Seq("doc_id"), buckets, path)
      (base.urls, d.urls) match {
        case (Some(a), Some(b)) => writeBucketedTable(
          a.unionByName(b).distinct(), s"${prefix}_gen${gen}_urls",
          Seq("canonical_url"), buckets, path)
        case _ => ()
      }
      commitGeneration(spark, prefix, gen, hwNew, path)
      hwNew
    }
  }
}
