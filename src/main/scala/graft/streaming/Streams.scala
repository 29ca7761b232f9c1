package graft.streaming

import graft.Pins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface.
  *
  * The reference is a batch CLI — its only "stream" is the sequential
  * per-DOI ingest loop (SURVEY.md §2.10). Every stream here is an
  * AvailableNow `foreachBatch` query that runs already-certified batch
  * operators on each micro-batch:
  *
  *  1. [[doiLandingIngest]] — the reference ingest loop as an incremental
  *     pipeline: DOI-list files land in a directory and each micro-batch
  *     runs `Ingest.run`.
  *  2. [[decontaminationGatedIngest]] — the eval-leakage gate at landing.
  *  3. index maintenance: [[ivfAppendIngest]], [[ivfQAppendIngest]],
  *     [[ivfPqAppendIngest]], [[bm25AppendIngest]] and
  *     [[nswAppendIngest]] land each batch as a delta partition of a
  *     persisted index plus a drift-audit row set.
  *  4. curated landing: [[curatedLandingIngest]] and
  *     [[curatedDeltaLandingIngest]] run `Pipelines.curateBatch` per
  *     batch against the persisted state of everything admitted before.
  *
  * Streams 2-4 write their per-batch parquet sinks through
  * [[writeBatchIdempotent]].
  */
object Streams {

  /** Idempotent per-micro-batch parquet sink: stamp `batch_id`, partition
    * by it, and DYNAMICALLY overwrite — only the partitions present in
    * this batch (i.e. `batch_id=<id>`) are replaced, so a micro-batch
    * replayed after a failure between the write and the checkpoint commit
    * rewrites its own partition instead of appending duplicates.
    * `foreachBatch` is at-least-once per the Structured Streaming
    * contract; this makes the OUTPUT exactly-once, and the `batch_id`
    * column doubles as the downstream lineage marker.
    */
  private[graft] def writeBatchIdempotent(df: DataFrame, batchId: Long,
                                              outPath: String): Unit = {
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
  }

  /** Streaming DECONTAMINATION gate: arriving documents sharing at least
    * `minSharedShingles` word-n-grams with ANY eval/benchmark document
    * ([[graft.ops.Dedup.decontaminateAgainstIndex]]) are quarantined per
    * micro-batch; clean docs land — eval leakage blocked AT INGEST, not
    * discovered at release audit. The eval set is STATIC state: its
    * exploded shingle index ([[graft.ops.Dedup.evalShingleIndex]]) is
    * built and pinned ONCE at query start, so each micro-batch pays only
    * the train-side shingling; foreachBatch because the gate is
    * per-document. Both sinks are [[writeBatchIdempotent]] (dynamic
    * overwrite of this batch's `batch_id` partition) — a replayed batch
    * rewrites, never duplicates. Quarantined rows carry their EVIDENCE
    * (n_eval_hits, max_shared, first_eval_id), so the release audit can
    * answer "which benchmark leaked, how strongly" from the quarantine
    * sink alone. Docs with a NULL id split null-SAFELY on a sentinel key:
    * all null-id docs share one identity, so one dirty null-id doc
    * quarantines them all — fail-closed, never a silent landing (a plain
    * equi-join split would let contaminated null-id docs through).
    */
  def decontaminationGatedIngest(docs: DataFrame, eval: DataFrame,
                                 outPath: String, quarantinePath: String,
                                 checkpoint: String,
                                 n: Int = 3, minSharedShingles: Int = 2,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"
                                ): org.apache.spark.sql.streaming.StreamingQuery = {
    val evalIndex = graft.ops.Dedup
      .evalShingleIndex(eval, n, idCol, textCol)
      .localCheckpoint(true) // benchmark-sized; built once per query
    def key(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit("\u0000"))
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val pinned = batch
            .withColumn("_k", key(col(idCol)))
            .localCheckpoint(true) // one scan, two sinks
          val pairs = graft.ops.Dedup.decontaminateAgainstIndex(
            pinned, evalIndex, minSharedShingles, idCol, textCol, n)
          // pinned once, read by both sinks; UNHINTED joins — evidence is
          // one row per dirty doc, unbounded on a contaminated backlog
          // (AvailableNow's first batch IS the backlog), so the planner
          // must stay free to pick a shuffle join over a broadcast
          val evidence = pairs
            .groupBy(key(col("train_id")).as("_k"))
            .agg(count(lit(1)).as("n_eval_hits"),
              max(col("n_shared")).as("max_shared"),
              min(col("eval_id")).as("first_eval_id"))
            .localCheckpoint(true)
          writeBatchIdempotent(
            pinned.join(evidence, Seq("_k")).drop("_k"),
            batchId, quarantinePath)
          writeBatchIdempotent(
            pinned.join(evidence.select("_k"), Seq("_k"), "left_anti")
              .drop("_k"),
            batchId, outPath)
          Pins.release(evidence, pinned)
        }
      }
      .start()
  }

  /** Streaming ANN INDEX MAINTENANCE — the IVF append path run
    * continuously as vectors land (the [[curatedLandingIngest]]
    * discipline applied to the vector tier):
    * every micro-batch routes against the PERSISTED index's frozen
    * centroids ([[graft.ops.Similarity.ivfAssign]] — the real append
    * path, no Lloyd re-run) and lands two sinks, both via
    * [[writeBatchIdempotent]] so a replayed batch rewrites its own
    * `batch_id` partition:
    *
    *   - `deltaPath`: the batch's assignment rows (vec_id, _cv,
    *     center_id — the cells schema). [[graft.ops.IndexStore
    *     .readIvfIndexWithDelta]] unions them under the bucketed base
    *     for probing; on retrain/compaction cadence
    *     [[graft.ops.IndexStore.compactIvfDeltas]] folds them into a
    *     rewritten base crash-safely (commit-last generation; folded
    *     partitions are skipped by every reader, deleted lazily by
    *     [[graft.ops.IndexStore.pruneFoldedDeltas]]).
    *   - `auditPath`: one [[graft.ops.Similarity.indexDriftReport]]
    *     row-set per batch (per-cell occupancies + tv_u6 + retrain) —
    *     the drift-cadence signal computed AT ingest, so "retrain on
    *     drift cadence" is an alertable log, not a manual check.
    *
    * foreachBatch because both sinks need the whole batch against the
    * whole index (not bounded keyed state), and batches are complete
    * drops by construction. Caller conventions are the append family's:
    * vec_ids unique across the stream and vs the corpus.
    */
  def ivfAppendIngest(vectors: DataFrame, indexPrefix: String,
                      deltaPath: String, auditPath: String,
                      checkpoint: String,
                      tvThresholdU6: Long = 250000L
                     ): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val idx = graft.ops.IndexStore.readIvfIndex(spark, indexPrefix)
          // route ONCE: the pinned assignment feeds both the delta sink
          // and the drift histogram (no second batch x centroids pass)
          val assigned = graft.ops.Similarity.ivfAssign(batch, idx)
            .localCheckpoint(true)
          writeBatchIdempotent(assigned, batchId, deltaPath)
          val report = graft.ops.Similarity
            .indexDriftReportFromAssigned(idx, assigned, tvThresholdU6)
          writeBatchIdempotent(report, batchId, auditPath)
          Pins.release(report, assigned)
        }
      }
      .start()

  /** [[ivfAppendIngest]] for the QUANTIZED tier: every micro-batch
    * routes against the persisted index's frozen centroids (the real
    * [[graft.ops.Similarity.ivfQAppend]] path) and int8-quantizes the
    * new vectors — the delta tree carries CODE rows (vec_id, center_id,
    * codes, q_min, q_scale), 4× less landed bytes than the float tier,
    * plus the same per-batch drift audit off the shared routing pass
    * (the quantized tier routes through the SAME centroids, so the
    * histogram signal is identical). [[graft.ops.IndexStore
    * .readIvfIndexQWithDelta]] loads base ∪ live deltas; the
    * schema-generic [[graft.ops.IndexStore.compactIvfDeltas]] folds
    * them. Caller conventions are [[ivfAppendIngest]]'s.
    */
  def ivfQAppendIngest(vectors: DataFrame, indexPrefix: String,
                       deltaPath: String, auditPath: String,
                       checkpoint: String,
                       tvThresholdU6: Long = 250000L
                      ): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val idx = graft.ops.IndexStore.readIvfIndexQ(spark, indexPrefix)
          val shim = graft.ops.Similarity.IvfIndex(idx.centroids, idx.cells)
          // route ONCE; the pinned code rows feed both sinks
          val q = graft.ops.Similarity.quantizeInt8(
              graft.ops.Similarity.ivfAssign(batch, shim)
                .withColumnRenamed("_cv", "embedding"), "embedding")
            .select("vec_id", "center_id", "codes", "q_min", "q_scale")
            .localCheckpoint(true)
          writeBatchIdempotent(q, batchId, deltaPath)
          val report = graft.ops.Similarity
            .indexDriftReportFromAssigned(shim, q, tvThresholdU6)
          writeBatchIdempotent(report, batchId, auditPath)
          Pins.release(report, q)
        }
      }
      .start()

  /** [[ivfAppendIngest]] for the COMBINED tier: route against the
    * frozen centroids AND PQ-encode against the frozen codebooks (the
    * real [[graft.ops.Similarity.ivfPqAppend]] path) — the delta tree
    * carries the byte-cell schema (vec_id, center_id, codes,
    * recon_norm), the per-vector footprint a billion-vector store
    * actually lands. Same shared-pass drift audit; load with
    * [[graft.ops.IndexStore.readIvfPqIndexWithDelta]], fold with the
    * schema-generic [[graft.ops.IndexStore.compactIvfDeltas]].
    */
  def ivfPqAppendIngest(vectors: DataFrame, indexPrefix: String,
                        deltaPath: String, auditPath: String,
                        checkpoint: String,
                        tvThresholdU6: Long = 250000L
                       ): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val idx = graft.ops.IndexStore.readIvfPqIndex(spark, indexPrefix)
          val shim = graft.ops.Similarity.IvfIndex(idx.centroids, idx.cells)
          // one routing pass + one encode pass (the ivfPqAppend shape);
          // the joined code rows are the single data artifact
          val rows = graft.ops.Similarity.ivfAssign(batch, shim)
            .select("vec_id", "center_id")
            .join(graft.ops.Similarity.pqEncode(batch, idx.cb),
              Seq("vec_id"))
            .localCheckpoint(true)
          writeBatchIdempotent(rows, batchId, deltaPath)
          val report = graft.ops.Similarity
            .indexDriftReportFromAssigned(shim, rows, tvThresholdU6)
          writeBatchIdempotent(report, batchId, auditPath)
          Pins.release(report, rows)
        }
      }
      .start()

  /** [[ivfAppendIngest]] for the LEXICAL tier — BM25 postings
    * maintenance run continuously as documents land: every micro-batch
    * tokenizes ONCE and lands exactly ONE replay-idempotent data sink —
    * its tf (postings) rows under a batch_id-partitioned delta tree —
    * plus one [[graft.ops.TextAnalysis.postingsDriftReport]] row per
    * batch to `auditPath` (OOV/avgdl drift vs the PERSISTED base — the
    * refresh-cadence signal computed at ingest, sharing the same
    * tokenize pass). docLens/df/stats all DERIVE from tf, so
    * [[graft.ops.IndexStore.readPostingsIndexWithDelta]] rebuilds them
    * at load — a single data artifact per batch means a crash can never
    * leave the sinks mutually skewed, and because every component is
    * additive the merged index probes BIT-EQUAL to a full rebuild over
    * base ∪ stream (the append family's unconditional lexical
    * guarantee). On compaction cadence
    * [[graft.ops.IndexStore.compactPostingsDeltas]] folds the deltas
    * into a rewritten base crash-safely (commit-last generation +
    * lazy [[graft.ops.IndexStore.pruneFoldedDeltas]]).
    */
  def bm25AppendIngest(docs: DataFrame, indexPrefix: String,
                       deltaPath: String, auditPath: String,
                       checkpoint: String,
                       oovThresholdU6: Long = 100000L,
                       dlThresholdU6: Long = 250000L,
                       textCol: String = "text"
                      ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val base = graft.ops.IndexStore.readPostingsIndex(spark,
            indexPrefix)
          // tokenize ONCE: the pinned tf rows are the ONLY delta sink
          // (docLens/df/stats all derive from tf, so the reader rebuilds
          // them — one artifact per batch means no cross-sink crash
          // window can skew the merged index) and they feed the drift
          // report without a second tokenize pass
          val tf = graft.ops.TextAnalysis
            .postingsOf(batch, base.idCol, textCol).postings
            .localCheckpoint(true)
          writeBatchIdempotent(tf, batchId, deltaPath)
          val report = graft.ops.TextAnalysis.postingsDriftReportFrom(
            base, tf, oovThresholdU6, dlThresholdU6)
          writeBatchIdempotent(report, batchId, auditPath)
          Pins.release(report, tf)
        }
      }
      .start()

  /** [[ivfAppendIngest]] for the GRAPH tier — NSW maintenance run
    * continuously as vectors land: every micro-batch beam-searches the
    * persisted graph (base ∪ the deltas streamed so far — batch 2 must
    * be able to attach to batch 1's nodes) for each new vector's `m`
    * nearest, exactly [[graft.ops.Similarity.nswAppend]]'s insertion
    * search, and lands ONE data artifact per batch: rows
    * `(vec_id, embedding, nbrs)` — the vector plus its ordered neighbor
    * list. Forward and mirror edges DERIVE from `nbrs` at load
    * ([[graft.ops.IndexStore.readNswIndexWithDelta]]), so a crash can
    * never skew edges against vectors, and the vectors ride the same
    * rows ([[graft.ops.IndexStore.readNswDeltaVectors]]) because the
    * graph artifact never stores them. One
    * [[graft.ops.Similarity.nswDriftReport]] row per batch lands in
    * `auditPath` off the SAME search pass — reach (a vector that finds
    * no neighbor would insert unreachable) and appended-share growth,
    * the rebuild-cadence signal computed at ingest. Both sinks are
    * [[writeBatchIdempotent]] — a replayed batch rewrites its own
    * partition. Fold deltas with
    * [[graft.ops.IndexStore.compactNswDeltas]] on compaction cadence.
    *
    * `corpus` is the static vector store the graph was built over
    * (searches need vectors; the adjacency carries only ids) — the
    * caller conventions are [[graft.ops.Similarity.nswAppend]]'s:
    * vec_ids unique across the stream and vs the corpus.
    */
  def nswAppendIngest(vectors: DataFrame, indexPrefix: String,
                      corpus: DataFrame, deltaPath: String,
                      auditPath: String, checkpoint: String,
                      m: Int = 8, ef: Int = 32, hops: Int = 3,
                      reachThresholdU6: Long = 990000L,
                      growthThresholdU6: Long = 250000L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"
                     ): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // REPLAY idempotence: exclude THIS batch id from the loaded
          // graph/vectors — a replayed batch must not read the partial
          // partition its first attempt wrote (its own vectors would
          // join the graph it searches and change the recomputed
          // neighbor lists, breaking the rewrite-own-partition contract)
          val idx = graft.ops.IndexStore
            .readNswIndexWithDelta(spark, indexPrefix, deltaPath,
              excludeBatchId = Some(batchId))
          val corpusAll = graft.ops.IndexStore
            .readNswDeltaVectors(spark, indexPrefix, deltaPath,
              excludeBatchId = Some(batchId))
            .foldLeft(corpus.select(col(idCol).as("vec_id"),
              col(vecCol).as("embedding")))(_ unionByName _)
          val q = batch.select(col(idCol).as("query_id"),
            col(vecCol).as("embedding"))
          // search ONCE: the pinned neighbor set feeds the delta rows
          // AND the drift report (nswSearch pins its result)
          val found = graft.ops.Similarity.nswSearch(q, idx, corpusAll,
            k = m, ef = math.max(ef, m), hops = hops)
          // ordered neighbor list per batch vector; vectors that found
          // nothing keep a NULL list (they still land — explode skips
          // null at edge derivation, the reach signal flags them)
          val nbrs = found.groupBy("query_id")
            .agg(transform(
              array_sort(collect_list(struct(col("rank"), col("vec_id")))),
              x => x.getField("vec_id")).as("nbrs"))
            .withColumnRenamed("query_id", "vec_id")
          val rows = batch.select(col(idCol).as("vec_id"),
              col(vecCol).as("embedding"))
            .join(nbrs, Seq("vec_id"), "left")
          writeBatchIdempotent(rows, batchId, deltaPath)
          // growth is the CUMULATIVE appended share: the recorded
          // build-time edge count is the denominator's built part, so
          // the rebuild threshold stays reachable under micro-batches
          val report = graft.ops.Similarity.nswDriftReportFrom(idx, found,
            q.select("query_id"), reachThresholdU6, growthThresholdU6,
            builtEdges = graft.ops.IndexStore
              .nswBuiltEdges(spark, indexPrefix))
          writeBatchIdempotent(report, batchId, auditPath)
          Pins.release(report, found)
        }
      }
      .start()

  /** Newest persisted [[graft.ops.Pipelines.CorpusState]] generation
    * strictly BEFORE `batchId` (None when no prior generation exists).
    * Generations are the catalog tables `<prefix>_g<N>_…` written by
    * [[curatedLandingIngest]]; reading only `gen < batchId` is what makes
    * batch REPLAY idempotent — a batch re-run after a crash between its
    * state write and the checkpoint commit re-reads the same pre-batch
    * state, recomputes the same (deterministic) result, and overwrites
    * its own outputs.
    */
  private[graft] def latestStateBefore(spark: SparkSession, prefix: String,
                                       batchId: Long): Option[(Long, graft.ops.Pipelines.CorpusState)] = {
    val pat = s"^${java.util.regex.Pattern.quote(prefix.toLowerCase)}_g(\\d+)_fingerprints$$".r
    val gens = spark.catalog.listTables().collect().toSeq
      .map(_.name)
      .collect { case pat(n) => n.toLong }
      .filter(_ < batchId)
    gens.sorted.lastOption.map(g =>
      g -> graft.ops.IndexStore.readCorpusState(spark, s"${prefix}_g$g"))
  }

  /** Streaming CURATED landing ingest — the full incremental curation
    * pipeline ([[graft.ops.Pipelines.curateBatch]]) run per arriving
    * micro-batch against the PERSISTED corpus state of everything
    * admitted before it: quality gates → exact dedup (within-batch AND
    * vs corpus) → near dedup (both axes) → decontaminate → optional
    * line dedup → scrub → chunk → split+pack, with the curated chunks
    * landing via [[writeBatchIdempotent]] and the updated state written
    * as generation `<statePrefix>_g<batchId>` ([[graft.ops.IndexStore]]
    * bucketed tables).
    *
    * Exactly-once discipline without a transactional store: each batch
    * reads the newest state generation STRICTLY BEFORE its own batch id
    * and writes its own generation — replay after any crash re-reads the
    * same input state and overwrites the same chunk partition + state
    * generation (curateBatch is deterministic). Generations older than
    * `retainGenerations` are dropped from the catalog after each
    * successful batch (their files linger when `statePath` external
    * tables are used — a deployment's retention job reaps them).
    *
    * foreachBatch because the pipeline is a composed batch dataflow over
    * a complete batch — the same certified operators, not a re-derived
    * stream variant.
    */
  def curatedLandingIngest(docs: DataFrame, eval: DataFrame,
                           statePrefix: String, outPath: String,
                           checkpoint: String,
                           langs: Seq[String] = Seq("en"),
                           minQuality: Double = 0.3,
                           maxRepetition: Double = 0.3,
                           nearDupThreshold: Double = 0.7,
                           dedupLinesDelim: Option[String] = None,
                           urlCol: Option[String] = None,
                           stateBuckets: Int = 8,
                           statePath: Option[String] = None,
                           retainGenerations: Int = 2,
                           idCol: String = "doc_id",
                           textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery = {
    // >= 2 is a CORRECTNESS bound, not tuning: with only the newest
    // generation retained, a batch replayed after a crash between its
    // state write and the checkpoint commit finds no gen < batchId,
    // falls back to an EMPTY state, and overwrites its generation with
    // one missing every earlier day's rows — silent permanent
    // dedup-state corruption. Keeping gen batchId-1 makes replay read
    // the same pre-batch state it read the first time.
    require(retainGenerations >= 2,
      s"retainGenerations=$retainGenerations would drop the previous " +
        "generation a crash replay must re-read; need >= 2")
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val state = latestStateBefore(spark, statePrefix, batchId)
            .map(_._2)
            .getOrElse(graft.ops.Pipelines.initCorpusState(
              batch.limit(0), idCol = idCol, textCol = textCol,
              urlCol = urlCol))
          val r = graft.ops.Pipelines.curateBatch(state, batch, eval,
            langs, minQuality, maxRepetition,
            nearDupThreshold = nearDupThreshold,
            blocklist = None, dedupLinesDelim = dedupLinesDelim,
            urlCol = urlCol,
            audit = false, idCol = idCol, textCol = textCol)
          writeBatchIdempotent(r.chunks, batchId, outPath)
          graft.ops.IndexStore.writeCorpusState(r.state,
            s"${statePrefix}_g$batchId", stateBuckets, statePath)
          Pins.release(r.admitted) // audit = false: the batch's one pin
          // retention: drop generations older than the newest
          // `retainGenerations` (AFTER the new one is durably written)
          val pat = s"^${java.util.regex.Pattern.quote(statePrefix.toLowerCase)}_g(\\d+)_fingerprints$$".r
          val gens = spark.catalog.listTables().collect().toSeq
            .map(_.name).collect { case pat(n) => n.toLong }.sorted
          gens.dropRight(retainGenerations).foreach { g =>
            Seq("fingerprints", "lines", "mh_buckets", "mh_sigs", "urls").foreach(t =>
              spark.sql(s"DROP TABLE IF EXISTS ${statePrefix}_g${g}_$t"))
          }
        }
      }
      .start()
  }

  /** [[curatedLandingIngest]] with O(batch) STATE maintenance — the
    * delta-tree lifecycle applied to the curation state: instead of
    * rewriting the full (corpus-sized) state tables as a fresh
    * generation every micro-batch, each batch lands ONE artifact — its
    * ADMITTED pre-scrub rows — under a batch_id-partitioned delta tree,
    * and [[graft.ops.IndexStore.readCorpusStateWithDelta]] derives
    * every state view (fingerprints, line index, minhash bands +
    * signatures, url set) from base ∪ live deltas at load. Per batch
    * the state write is admitted-sized; the corpus-sized rewrite moves
    * to compaction cadence
    * ([[graft.ops.IndexStore.compactCorpusStateDeltas]]).
    *
    * Exactly-once discipline: the loaded state EXCLUDES the current
    * batch id, so a replayed batch cannot read the partial artifact its
    * first attempt wrote — it re-reads the same pre-batch state,
    * recomputes the same (deterministic) result, and dynamic-overwrites
    * its own chunk + admitted partitions. A crash between the two sinks
    * is also safe: both rewrite on replay, and no later batch runs
    * before the replay (same checkpointed query).
    *
    * The BASE state must be a persisted [[graft.ops.IndexStore
    * .writeCorpusState]] artifact (day-0: persist
    * `initCorpusState(docs.limit(0), ...)` — the parameters ride the
    * minhash meta). Production parameters only — the reader refuses
    * md5-seam staged states, like curateBatch.
    */
  def curatedDeltaLandingIngest(docs: DataFrame, eval: DataFrame,
                                statePrefix: String, stateDeltaPath: String,
                                outPath: String, checkpoint: String,
                                langs: Seq[String] = Seq("en"),
                                minQuality: Double = 0.3,
                                maxRepetition: Double = 0.3,
                                nearDupThreshold: Double = 0.7,
                                dedupLinesDelim: Option[String] = None,
                                urlCol: Option[String] = None,
                                idCol: String = "doc_id",
                                textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val delim = dedupLinesDelim.getOrElse("\n")
          val state = graft.ops.IndexStore.readCorpusStateWithDelta(
            spark, statePrefix, stateDeltaPath,
            excludeBatchId = Some(batchId), delim = delim,
            idCol = idCol, textCol = textCol, urlCol = urlCol)
          val r = graft.ops.Pipelines.curateBatch(state, batch, eval,
            langs, minQuality, maxRepetition,
            nearDupThreshold = nearDupThreshold,
            blocklist = None, dedupLinesDelim = dedupLinesDelim,
            urlCol = urlCol,
            shingleK = state.minhash.shingleK,
            numHashes = state.minhash.numHashes,
            bands = state.minhash.bands,
            audit = false, idCol = idCol, textCol = textCol)
          writeBatchIdempotent(r.chunks, batchId, outPath)
          // ONE state artifact: the admitted pre-scrub rows (plus the
          // url column when carried) — every index view derives at load
          val stateCols = Seq(idCol, textCol) ++ urlCol.toSeq
          writeBatchIdempotent(
            r.admitted.select(stateCols.map(col): _*), batchId,
            stateDeltaPath)
          Pins.release(r.admitted) // audit = false: the batch's one pin
        }
      }
      .start()

  /** Incremental DOI ingest: watch a landing directory of DOI-list files,
    * run the batch dataflow (`Ingest.run`) per micro-batch. AvailableNow
    * processes the backlog and stops — the streaming re-expression of the
    * reference CLI loop (create_graph_from_doi.py:218-254).
    *
    * Replay is safe only after a complete batch: the dedup anti-joins
    * then find every DOI stored, so a replay creates nothing. It is not
    * idempotent under partial writes: `foreachBatch` replays a batch that
    * failed part-way, and if the outputs were appended but not the
    * authors, the replay marks those DOIs existing and never creates
    * their authors or edges (ROADMAP.md, the crash-consistent warehouse
    * item).
    */
  def doiLandingIngest(spark: SparkSession, landingDir: String,
                       payloads: DataFrame, store: graft.graph.GraphStore,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val lines = spark.readStream.text(landingDir)
    lines.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val doiList = batch
          .withColumn("submission_order", monotonically_increasing_id())
          .select(trim(col("value")).as("raw_doi"), col("submission_order"))
          .filter(col("raw_doi") =!= "")
        if (!doiList.isEmpty)
          Pins.release(graft.ingest.Ingest.run(spark, store, doiList, payloads))
      }
      .start()
  }
}
