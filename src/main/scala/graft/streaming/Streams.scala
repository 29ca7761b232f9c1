package graft.streaming

import java.sql.Timestamp

import graft.Pins
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface.
  *
  * The reference is a batch CLI — its only "stream" is the sequential
  * per-DOI ingest loop (SURVEY.md §2.10). Two streaming capabilities:
  *
  *  1. [[doiLandingIngest]] — the reference ingest loop as an incremental
  *     pipeline: DOI-list files land in a directory; each micro-batch runs
  *     the same batch dataflow. Idempotent by construction (the dedup
  *     anti-joins J1/J7 make redelivery safe), Trigger.AvailableNow for
  *     catch-up-then-stop semantics.
  *  2. [[tumblingCounts]] / [[sessionize]] — event-stream analytics for
  *     the training-data pipeline: watermarked tumbling-window aggregates
  *     and gap-based sessionization with typed state
  *     (flatMapGroupsWithState), the canonical stateful-op shapes.
  */
object Streams {

  /** Watermarked tumbling-window counts per event type — streaming
    * equivalent of SparkEntry q_tumbling_window.
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Watermarked HOPPING-window counts (overlapping windows: width >
    * slide) — streaming equivalent of SparkEntry q_sliding_window. Same
    * bounded state as tumbling: the per-event fan-out (width/slide rows)
    * happens before the stateful agg, and the watermark retires whole
    * windows as event time passes window.end + watermark.
    */
  def hoppingCounts(events: DataFrame, window_ : String = "10 minutes",
                    slide: String = "5 minutes",
                    watermark: String = "2 hours"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Int,
                          totalValue: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int,
                     total_value: Double)

  /** Gap-based sessionization: a user's session closes after `gapMs` of
    * inactivity (event-time, driven by the watermark). Typed state via
    * flatMapGroupsWithState — the custom-state shape that windowed aggs
    * can't express.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // session closed by watermark passing the gap
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.lastSeen), s.nEvents, s.totalValue))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = math.max(s.lastSeen, t),
                    nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start),
                    new Timestamp(s.lastSeen), s.nEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  case class DocEvent(doc_id: Long, ts: Timestamp, text: String)
  case class NearDupMatch(doc_id: Long, matched_id: Long,
                          est_jaccard: Double, band: Int)
  /** Bucket entries hold a 1-byte-per-hash SKETCH of the signature, not
    * the signature itself: each doc's state footprint is bands×numHashes
    * bytes (16×128 = 2 KB at the defaults) instead of bands×numHashes
    * longs (16 KB) — the full signature only rides the transient shuffle,
    * never the state store.
    */
  case class BucketState(entries: List[(Long, Array[Byte], Long)])

  /** Streaming NEAR-duplicate detection: the incremental form of
    * [[graft.ops.Dedup.minhashLsh]] — arriving documents are checked
    * against everything previously seen in their MinHash band buckets,
    * with bucket state evicted by event-time TTL.
    *
    * Shape: one narrow pass computes the signature, band keys fan out
    * (`bands` rows per doc), and each (band, bucket) group holds a
    * byte-per-hash sketch of the signatures previously routed to it
    * (`flatMapGroupsWithState` — see [[BucketState]] for the state-size
    * math). A new doc emits one match row per bucket entry whose estimated
    * signature agreement ≥ threshold; the estimate compares the arrival's
    * full signature against the stored low-byte sketch and debiases the
    * 1/256 accidental-collision term, so `est_jaccard` carries ≤ 0.4%
    * sketch bias on top of the usual minhash estimator noise. A doc
    * matching in several bands emits per band (an at-least-once candidate
    * stream; collapse downstream with `dropDuplicatesWithinWatermark` if
    * exactly-once candidates matter).
    *
    * State is bounded two ways: event-time timeout drops buckets idle past
    * `stateTtl`, and `maxEntries` caps a pathological hot bucket (oldest
    * entries evicted first — boilerplate-heavy buckets degrade recall
    * before they degrade the cluster, the same trade the batch df-cap
    * makes).
    */
  def nearDupMatches(docs: Dataset[DocEvent], threshold: Double = 0.8,
                     shingleK: Int = 5, numHashes: Int = 128,
                     bands: Int = 16, watermark: String = "2 hours",
                     stateTtlMs: Long = 24L * 3600 * 1000,
                     maxEntries: Int = 1000): Dataset[NearDupMatch] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val spark = docs.sparkSession
    import graft.functions.CorpusFunctions.minhash_sig
    import spark.implicits._
    val sig = docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        minhash_sig(col("text"), shingleK, numHashes).as("sig"))
    val bandKeys = array((0 until bands).map(b =>
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    sig
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(bandKeys).as(Seq("band", "bucket")))
      .as[(Long, Timestamp, Seq[Long], Int, Int)]
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState[BucketState, NearDupMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Int), batch: Iterator[(Long, Timestamp, Seq[Long], Int, Int)],
         state: GroupState[BucketState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic replay order inside the micro-batch
            val arrivals = batch.toSeq.sortBy(r => (r._2.getTime, r._1))
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
            val out = List.newBuilder[NearDupMatch]
            arrivals.foreach { case (id, ts, s, band, _) =>
              entries.foreach { case (seenId, seenSketch, _) =>
                if (seenId != id) {
                  // arrival's full signature vs the stored low-byte
                  // sketch; debias the 1/256 accidental byte collisions
                  val obs = s.iterator.zip(seenSketch.iterator)
                    .count { case (a, b) => (a & 0xffL).toByte == b }
                    .toDouble / numHashes
                  val agree = math.max(0.0, (obs - 1.0 / 256) / (1 - 1.0 / 256))
                  if (agree >= threshold)
                    out += NearDupMatch(id, seenId, agree, band)
                }
              }
              val sketch = s.iterator.map(v => (v & 0xffL).toByte).toArray
              entries = ((id, sketch, ts.getTime) :: entries).take(maxEntries)
            }
            val latest = entries.map(_._3).max
            state.update(BucketState(entries))
            state.setTimeoutTimestamp(latest + stateTtlMs)
            out.result().iterator
          }
      }
  }

  case class ImageEvent(asset_id: Long, ts: Timestamp, bytes: Array[Byte])
  case class ImageNearDup(asset_id: Long, matched_id: Long, hamming: Int,
                          band: Int)
  /** Per-(band, key) state of [[imageNearDupMatches]]: (id, hash64, ts)
    * entries — 24 bytes each, the whole 64-bit hash (unlike the MinHash
    * sketch there is nothing to slim; the hash IS 8 bytes).
    */
  case class HashBucketState(entries: List[(Long, Long, Long)])

  /** Streaming IMAGE near-duplicate detection — the incremental form of
    * [[graft.ops.Multimodal.imageNearDups]]: arriving images are decoded
    * (real ImageIO → dHash, per micro-batch, embarrassingly parallel),
    * their 64-bit hash fans out to the Manku pigeonhole bands
    * (`maxHamming`+1 bands — any qualifying pair agrees on ≥ 1 full
    * band), and each (band, key) group holds the hashes previously routed
    * to it. A new image emits one match row per stored entry within
    * `maxHamming` bits (exact `bitCount`, not an estimate — unlike the
    * MinHash matcher there is no sketch error). Matching in several bands
    * emits per band: an at-least-once candidate stream, collapse with
    * `dropDuplicatesWithinWatermark` downstream if needed.
    *
    * Undecodable payloads are dropped before the stateful stage (null
    * hash — no pixel signal, same policy as the batch operator). State is
    * bounded by event-time TTL + the `maxEntries` hot-bucket cap,
    * mirroring [[nearDupMatches]].
    */
  def imageNearDupMatches(images: Dataset[ImageEvent], maxHamming: Int = 6,
                          watermark: String = "2 hours",
                          stateTtlMs: Long = 24L * 3600 * 1000,
                          maxEntries: Int = 1000): Dataset[ImageNearDup] = {
    require(maxHamming >= 0 && maxHamming < 32)
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val spark = images.sparkSession
    import spark.implicits._
    images
      .mapPartitions { it => // codec init amortizes per partition-batch
        it.flatMap { e =>
          graft.ops.Multimodal.tryDecodeImage(e.bytes)
            .map(img => (e.asset_id, e.ts,
              graft.ops.Multimodal.dHash64(img)))
        }
      }
      .toDF("asset_id", "ts", "hash64")
      .withWatermark("ts", watermark)
      .select(col("asset_id"), col("ts"), col("hash64"),
        posexplode(array((0 until nBands).map(b =>
          shiftrightunsigned(col("hash64"), b * bandBits)
            .bitwiseAND(lit(mask))): _*)).as(Seq("band", "key")))
      .as[(Long, Timestamp, Long, Int, Long)]
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState[HashBucketState, ImageNearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), batch: Iterator[(Long, Timestamp, Long, Int, Long)],
         state: GroupState[HashBucketState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val arrivals = batch.toSeq.sortBy(r => (r._2.getTime, r._1))
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
            val out = List.newBuilder[ImageNearDup]
            arrivals.foreach { case (id, ts, h, band, _) =>
              entries.foreach { case (seenId, seenHash, _) =>
                if (seenId != id) {
                  val d = java.lang.Long.bitCount(h ^ seenHash)
                  if (d <= maxHamming) out += ImageNearDup(id, seenId, d, band)
                }
              }
              entries = ((id, h, ts.getTime) :: entries).take(maxEntries)
            }
            val latest = entries.map(_._3).max
            state.update(HashBucketState(entries))
            state.setTimeoutTimestamp(latest + stateTtlMs)
            out.result().iterator
          }
      }
  }

  /** Stream-static enrichment join: a streaming event feed joined to a
    * (slowly-changing) dimension table. Catalyst broadcasts the static
    * side per micro-batch when small — the standard shape for decorating
    * a 100 TB/day event stream with reference data without stateful
    * stream-stream joins.
    */
  def enrichedEvents(events: DataFrame, dim: DataFrame,
                     key: String): DataFrame =
    events.join(dim, Seq(key), "left_outer")

  /** Stream-STREAM interval join: clicks attributed to the view (same
    * user) they followed within `attributionWindow`. Both sides carry
    * watermarks and the join condition bounds event-time from both ends,
    * so Spark derives a state-retention horizon for each side — state is
    * evicted as the watermark advances instead of growing forever (the
    * condition every production stream-stream join must satisfy).
    *
    * Inner join: a click emits once per qualifying view; unmatched clicks
    * drop (left-outer would emit them after the watermark horizon).
    */
  def attributedClicks(clicks: DataFrame, views: DataFrame,
                       watermark: String = "1 hour",
                       attributionWindow: String = "30 minutes"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val v = views
      .select(col("event_id").as("view_id"),
        col("user_id").as("view_user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    c.join(v,
      col("user_id") === col("view_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $attributionWindow"))
      .select("click_id", "view_id", "user_id", "click_ts", "view_ts")
  }

  /** Streaming exact dedup within the watermark: drop redelivered events
    * by key, state expiring with the watermark (bounded state — the
    * at-least-once -> effectively-once repair stage in front of any
    * downstream aggregation).
    */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours",
                    keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Incremental DOI ingest: watch a landing directory of DOI-list files,
    * run the batch dataflow per micro-batch. AvailableNow processes the
    * backlog and stops — the streaming re-expression of the reference CLI
    * loop (create_graph_from_doi.py:218-254) with exactly-once-per-DOI
    * effects via the pipeline's own dedup joins.
    */
  /** Streaming classifier gate: score each arriving document micro-batch
    * against a PRE-TRAINED Naive Bayes model (the train-once/score-forever
    * deployment of [[graft.ops.TextAnalysis.classifyNaiveBayes]]) and
    * append the scored rows to a parquet tree. The per-doc explode +
    * aggregate is not expressible as a bounded-state unbounded stream
    * aggregation — and doesn't need to be: every doc is whole within its
    * micro-batch, so `foreachBatch` applies the already-certified BATCH
    * operator per batch (the standard pattern for batch-certified
    * transforms in a stream; same shape as [[doiLandingIngest]]). The
    * model tables are pinned once and re-read by every batch — zero
    * retrain cost on the stream path.
    *
    * Output is partitioned by `batch_id` and written with
    * [[writeBatchIdempotent]], so a replayed micro-batch rewrites its own
    * partition — exactly-once output under the checkpoint.
    */
  def classifiedDocsIngest(docs: DataFrame,
                           model: graft.ops.TextAnalysis.NbModel,
                           outPath: String, checkpoint: String,
                           idCol: String = "doc_id",
                           textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          writeBatchIdempotent(
            graft.ops.TextAnalysis.classifyNaiveBayes(batch, model,
              idCol, textCol), batchId, outPath)
        }
      }
      .start()

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

  /** Streaming BLOCKLIST gate: arriving documents containing any listed
    * word ([[graft.ops.CorpusOps.flagBlocklisted]] — word-level,
    * broadcast list) are dropped per micro-batch and the survivors
    * appended — the C4 filter as a landing gate. foreachBatch because
    * the gate is per-document (no cross-batch state at all); survivors
    * land via [[writeBatchIdempotent]] (dynamic overwrite of this batch's
    * `batch_id` partition), so replayed batches rewrite rather than
    * duplicate — exactly-once output under the checkpoint.
    */
  def blocklistGatedIngest(docs: DataFrame, blocklist: DataFrame,
                           outPath: String, checkpoint: String,
                           idCol: String = "doc_id",
                           textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          writeBatchIdempotent(
            batch.join(
              graft.ops.CorpusOps.flagBlocklisted(batch, blocklist,
                idCol, textCol).select(idCol),
              Seq(idCol), "left_anti"), batchId, outPath)
        }
      }
      .start()

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
    * continuously as vectors land (the 14th streaming op; the
    * [[curatedLandingIngest]] discipline applied to the vector tier):
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

  /** Streaming DRIFT MONITOR: score every arriving micro-batch against a
    * STATIC reference snapshot with the binned KS gate
    * ([[graft.ops.CorpusOps.ksDrift]]) and append one audit row per
    * batch — the admit-or-hold check run continuously as data lands
    * (alert when `max_cross_diff` exceeds `threshold × n_a × n_b` in
    * exact integer arithmetic; the appended table IS the drift log).
    * foreachBatch because the statistic needs the whole batch against
    * the whole reference — not expressible as bounded keyed state — and
    * batches are complete units by construction. One audit row per
    * batch, written via [[writeBatchIdempotent]] — a replayed batch
    * rewrites its own `batch_id` partition, so the drift log stays
    * duplicate-free.
    */
  def driftMonitor(stream: DataFrame, reference: DataFrame,
                   valueCol: String, outPath: String, checkpoint: String,
                   bins: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          writeBatchIdempotent(
            graft.ops.CorpusOps.ksDrift(batch, reference, valueCol, bins),
            batchId, outPath)
        }
      }
      .start()

  case class KeyedValue(group: String, value: String)
  case class KmvState(hashes: Array[Long])
  /** `expired = true` marks the TTL's final emission ("state dropped —
    * a later redelivery restarts this group's count"); normal updates
    * are false, so the deliberate forget is OBSERVABLE in the sink
    * instead of schema-identical to a live row.
    */
  case class KmvEstimate(group: String, k_eff: Int, kth_hash60: Long,
                         approx_distinct: Long, expired: Boolean = false)

  /** Streaming DISTINCT-COUNT monitor — the KMV bottom-k sketch
    * ([[graft.ops.Sketches.kmvDistinct]]) as typed streaming state:
    * per group the state is the k smallest distinct 60-bit md5 hashes
    * seen so far (O(k) longs, bounded FOREVER — the reason a bottom-k
    * beats `dropDuplicates` for "how many distinct users/urls/ids so
    * far", whose state grows with the true cardinality), and every
    * trigger emits the group's refreshed integer estimate: EXACT while
    * distinct ≤ k, the Beyer et al. estimator beyond. Bottom-k is a
    * semilattice, so the state merge is lossless and arrival
    * order/redelivery cannot change it (idempotent under replay).
    * mapGroupsWithState, Update output mode — the state-store twin of
    * the batch partials → merge path, sharing its hash lattice
    * (first 15 md5 hex digits = md5Hash64 >>> 4).
    *
    * Per-group state is O(k) but the GROUP COUNT is unbounded — a
    * monitor over a high-cardinality key (urls, session ids) would grow
    * the state store forever. `idleTimeoutMs` bounds it: a group that
    * receives no rows for that long EXPIRES — it emits one final
    * estimate flagged `expired = true` (so a consumer can tell the
    * deliberate forget from a live update) and its state is dropped
    * (processing-time timeout). A
    * value redelivered AFTER expiry restarts the group's count from
    * zero — the documented trade of the TTL (idempotence holds within a
    * group's lifetime; expiry is a deliberate forget). Default: no
    * timeout, the prior semantics exactly. With a TTL set, pair the
    * query with a processing-time trigger interval: timeout sweeps run
    * as no-data batches on the trigger cadence (and starve
    * `processAllAvailable`-style quiescence waits, which is why the
    * spec polls the sink instead).
    */
  def distinctMonitor(rows: Dataset[KeyedValue], k: Int = 1024,
                      idleTimeoutMs: Option[Long] = None): Dataset[KmvEstimate] = {
    require(k > 0, s"k must be > 0, got $k")
    require(idleTimeoutMs.forall(_ > 0),
      s"idleTimeoutMs must be positive, got $idleTimeoutMs")
    val spark = rows.sparkSession
    import spark.implicits._
    val timeoutConf = idleTimeoutMs
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    rows.groupByKey(_.group)
      .mapGroupsWithState[KmvState, KmvEstimate](timeoutConf) {
        (group: String, batch: Iterator[KeyedValue],
         state: GroupState[KmvState]) =>
          def estimate(merged: Array[Long],
                       expired: Boolean = false): KmvEstimate = {
            val kEff = merged.length
            val kth = if (kEff == 0) 0L else merged(kEff - 1)
            val est =
              if (kEff < k || kth == 0L) kEff.toLong
              else (BigInt(k - 1) * BigInt(1152921504606846976L) / kth)
                .toLong
            KmvEstimate(group, kEff, kth, est, expired)
          }
          if (state.hasTimedOut) {
            // idle group: publish the final estimate FLAGGED as the
            // TTL's deliberate forget, drop the state
            val last = state.getOption.map(_.hashes)
              .getOrElse(Array.empty[Long])
            state.remove()
            estimate(last, expired = true)
          } else {
            // bounded merge (the MinKAgg discipline): a capped TreeSet
            // insert keeps per-trigger work O(batch log k) and memory
            // O(k) — never materialize/sort the whole batch, that's the
            // state blowup this sketch exists to avoid
            val set = scala.collection.mutable.TreeSet.empty[Long]
            state.getOption.foreach(_.hashes.foreach(set.add))
            batch.foreach { r =>
              if (r.value != null) {
                val h = graft.functions.CorpusKernels.md5Hash64(r.value) >>> 4
                if (set.size < k) set.add(h)
                else if (h < set.last && set.add(h)) set.remove(set.last)
              }
            }
            val merged = set.toArray
            state.update(KmvState(merged))
            idleTimeoutMs.foreach(ms => state.setTimeoutDuration(ms))
            estimate(merged)
          }
      }
  }

  /** Streaming DATA-QUALITY gate: every arriving micro-batch is
    * evaluated against a declarative expectation suite
    * ([[graft.ops.Profile.checkExpectations]] — the Deequ shape) and
    * routed whole: a batch with ZERO violations lands in `outPath`, a
    * failing batch is QUARANTINED intact in `rejectPath` (admission is
    * all-or-nothing per batch — the production contract for corpus
    * promotion: never promote a partially-bad drop, never lose the
    * evidence), and the per-check report (n_rows, n_violations) appends
    * to `auditPath` either way — the audit log IS the quality history.
    *
    * foreachBatch because the suite aggregates whole batches (batches
    * are complete drops by construction, as [[driftMonitor]]); the
    * routing decision reads the checks-many report rows on the driver
    * (bounded by the suite size, never by data). All three sinks write
    * via [[writeBatchIdempotent]] — a replayed batch rewrites its own
    * `batch_id` partition in whichever sink it routes to, so output
    * stays exactly-once under the checkpoint even though the decision
    * re-runs.
    */
  def expectationGatedIngest(docs: DataFrame,
                             checks: Seq[graft.ops.Profile.Expectation],
                             outPath: String, rejectPath: String,
                             auditPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(checks.nonEmpty, "empty expectation suite")
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val report = graft.ops.Profile.checkExpectations(batch, checks)
            .localCheckpoint(true) // evaluated once, read twice below
          val bad = report.agg(sum(col("n_violations")))
            .head().getLong(0) > 0L
          writeBatchIdempotent(report, batchId, auditPath)
          writeBatchIdempotent(batch, batchId,
            if (bad) rejectPath else outPath)
          Pins.release(report)
        }
      }
      .start()
  }

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
