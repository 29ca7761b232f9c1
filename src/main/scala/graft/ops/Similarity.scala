package graft.ops

import graft.Pins
import graft.functions.CorpusFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the query set,
  *    one shuffle-free scan of the corpus, per-query top-k via window.
  *    The correctness baseline; right answer whenever |queries| is small.
  *  - [[annTopK]] / [[cosinePairs]]: random-hyperplane LSH bucketing —
  *    the 100 TB path. Candidates come from multi-probe band joins
  *    (hash-shuffle equi-joins on (band, bucket)); exact cosine re-ranks
  *    only candidates. Recall is tunable via bands × planes.
  */
object Similarity {

  /** Exact cosine top-k neighbors for each query vector.
    *
    * @param queries (query_id, vector) — must be broadcast-sized
    * @param corpus  (id, vector)
    * @return (query_id, id, cosine, rank) with rank ≤ k per query
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                     queryIdCol: String = "query_id", corpusIdCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("_qv")))
    val c = corpus.select(col(corpusIdCol).as("vec_id"), col(vecCol).as("_cv"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** LSH-bucketed approximate top-k: candidates share ≥ 1 signature band
    * with the query; exact cosine re-ranks candidates only.
    *
    * planes per band is planes/bands; fewer planes per band → bigger
    * buckets → higher recall, more compute. 16 planes / 4 bands ≈ 4-bit
    * bands: on clustered data this recalls near-duplicate-grade neighbors
    * while touching a small corpus fraction.
    *
    * STAGED-FORM certification seam: `planes = 0` (with `bands = 1`) is
    * the degenerate configuration — the signature is the constant 0, all
    * vectors meet in one bucket, so the full band/bucket-join/re-rank
    * code path must reproduce [[bruteForceTopK]] EXACTLY (the contract
    * rides brute force's exact oracle through it; the q_ivfpq_topk
    * pattern). Deployment always uses planes ≥ bands ≥ 1.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              planes: Int = 16, bands: Int = 4,
              queryIdCol: String = "query_id", corpusIdCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(bands >= 1 && planes % bands == 0, "bands must divide planes")
    val bandBits = planes / bands
    val mask = (1L << bandBits) - 1

    def banded(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      val sig = if (planes == 0) lit(0L) else hyperplane_sig(col("_v"), planes)
      val bandKeys = array((0 until bands).map(b =>
        shiftrightunsigned(sig, b * bandBits).bitwiseAND(lit(mask))): _*)
      df.select(col("_id").as(idAs), col("_v").as(vecAs),
        posexplode(bandKeys).as(Seq("_band", "_key")))
    }

    val qb = banded(queries.select(col(queryIdCol).as("_id"),
      col(vecCol).as("_v")), "query_id", "_qv")
    val cb = banded(corpus.select(col(corpusIdCol).as("_id"),
      col(vecCol).as("_v")), "vec_id", "_cv")

    val cands = qb.join(cb, Seq("_band", "_key"))
      .filter(col("query_id") =!= col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cosine", cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Deterministic k-means centroids as a DataFrame dataflow (Lloyd
    * iterations; init = hash-ordered sample, so runs are reproducible).
    * Assignment is a broadcast join corpus × centroids + window argmin;
    * the update step re-averages element-wise via posexplode — every step
    * is a plain shuffle/agg, nothing driver-side but the loop counter.
    *
    * @return (center_id, centroid: array<float>)
    */
  def kmeansCentroids(corpus: DataFrame, nCenters: Int, iters: Int = 3,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    // pinned for the Lloyd loop: the init sample + every iteration's
    // assignment re-read the corpus (iters+1 full scans of the caller's
    // subtree); the classic cache-during-iterations trade — released
    // before returning (the centroid table is the build's artifact)
    val base = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .localCheckpoint(true)
    val out = kmeansCentroidsPinned(base, nCenters, iters)
    Pins.release(base)
    out
  }

  /** The Lloyd loop over an ALREADY-PINNED (_id, _v) frame — shared by
    * [[kmeansCentroids]] and [[buildIvfIndex]] (which reuses one pin for
    * the loop AND the final cell assignment).
    */
  private def kmeansCentroidsPinned(base: DataFrame, nCenters: Int,
                                    iters: Int): DataFrame = {
    // center ids via array positions over the (≤ nCenters-row) hash-ordered
    // sample — no global window (a partition-less WindowExec would both
    // warn and single-task; collect_list on ≤ nCenters rows is trivial)
    var centroids = base
      .select(struct(xxhash64(col("_id")).as("_h"), col("_v").as("_v"))
        .as("_s"))
      .orderBy(col("_s._h")).limit(nCenters)
      .agg(array_sort(collect_list(col("_s"))).as("_a"))
      .select(posexplode(col("_a")).as(Seq("center_id", "_s")))
      .select(col("center_id"), col("_s._v").as("centroid"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(base, centroids)
      val next = assigned
        .select(col("center_id"), posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy("center_id", "_pos").agg(avg(col("_x")).as("_m"))
        .groupBy("center_id")
        .agg(transform(
          array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m").cast("float")).as("centroid"))
        .localCheckpoint(true)
      Pins.release(centroids)
      centroids = next
    }
    centroids
  }

  /** Nearest-centroid assignment: fold the (small) centroid table into
    * ONE broadcast row and compute the per-vector argmax as a narrow
    * array fold — NO shuffle of the corpus at all. The previous shape
    * (crossJoin fan-out + `groupBy(_id).max_by`) shuffled one row per
    * corpus vector, payload included, even though map-side partial
    * aggregation had already reduced every vector to a single candidate
    * inside its own task — the exchange merged nothing, it only moved
    * bytes (guide §2.4); inside a Lloyd loop that was one corpus-sized
    * exchange per iteration. The argmax ordinal is unchanged and unique
    * per vector — `(cosine, -center_id)` compared field-by-field with
    * the same null-first struct ordering `max_by` used, so highest
    * cosine wins, ties go to the smallest center id, and a null cosine
    * (null vector) loses to any scored candidate exactly as before.
    * The `size > 0` guard preserves the empty-centroid-table case (the
    * old crossJoin emitted no rows). Row-per-input-row, as before under
    * the documented caller-unique-id contract.
    */
  private def assignToCentroids(base: DataFrame, centroids: DataFrame): DataFrame = {
    val cArr = centroids.agg(
      collect_list(struct(col("center_id"), col("centroid"))).as("_cs"))
    base.crossJoin(broadcast(cArr))
      .filter(size(col("_cs")) > 0)
      .withColumn("_best",
        array_max(transform(col("_cs"), c =>
          struct(cosine_sim(col("_v"), c.getField("centroid")).as("c"),
            (-c.getField("center_id")).as("n")))))
      .select(col("_id"), col("_v"),
        (-col("_best").getField("n")).as("center_id"))
  }

  /** A built IVF index: the (small) centroid table plus the cell-assigned
    * corpus `(vec_id, _cv, center_id)`, both pinned in storage. This is the
    * artifact a deployment persists ONCE (at 100 TB: write `cells` bucketed
    * by `center_id`, e.g. via [[graft.ops.Bucketing.writeBucketed]]) and
    * probes many times — the build cost (Lloyd iterations + assignment)
    * never appears on the query path.
    */
  final case class IvfIndex(centroids: DataFrame, cells: DataFrame,
                            delta: Option[DataFrame] = None) {
    /** Release the pins THIS index object created ([[Pins.release]]): a
      * built index its centroids and cells, an appended index only its
      * batch leg — its centroids and the base side of its cells are the
      * base's. The one ownership rule of every index family. An index
      * loaded from tables holds no pin: [[Pins.release]] rejects it.
      */
    def release(): Unit =
      delta.fold(Pins.release(centroids, cells))(Pins.release(_))
    /** Release the pins the APPEND created (the per-execution artifact),
      * nothing for a built index: the base stays live for the next
      * append/probe. [[graft.ops.TextAnalysis.PostingsIndex]]'s append
      * also pins the merged dictionary/stats, so its releaseDelta frees
      * those too. THIS index object is unusable afterwards: its cells
      * read the freed leg.
      */
    def releaseDelta(): Unit = delta.foreach(Pins.release(_))
  }

  /** Build the IVF index: deterministic k-means centroids + nearest-cell
    * assignment of the full corpus, materialized (`localCheckpoint`) so
    * probes read pinned blocks instead of re-running the build dataflow.
    */
  def buildIvfIndex(corpus: DataFrame, nCenters: Int = 16, iters: Int = 3,
                    corpusIdCol: String = "vec_id",
                    vecCol: String = "embedding"): IvfIndex = {
    // ONE pin serves the Lloyd loop's iters+1 corpus reads AND the final
    // cell assignment (previously every one of them re-ran the caller's
    // scan subtree); released once the cells materialize
    val base = corpus.select(col(corpusIdCol).as("_id"), col(vecCol).as("_v"))
      .localCheckpoint(true)
    val centroids = kmeansCentroidsPinned(base, nCenters, iters)
    val cells = assignToCentroids(base, centroids)
      .select(col("_id").as("vec_id"), col("_v").as("_cv"), col("center_id"))
      .localCheckpoint(true)
    Pins.release(base)
    IvfIndex(centroids, cells)
  }

  /** Probe a prebuilt IVF index: rank cells per query against the (tiny)
    * centroid table, search only the nProbe nearest cells, exact-cosine
    * re-rank of candidates. Corpus fraction touched ≈ nProbe/nCenters.
    */
  def ivfProbe(queries: DataFrame, index: IvfIndex, k: Int = 10,
               nProbe: Int = 4, queryIdCol: String = "query_id",
               vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("_cos_c", cosine_sim(col("_qv"), col("centroid")))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("_cos_c").desc, col("center_id"))
    val probed = probes.withColumn("_rn", row_number().over(wp))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "_qv", "center_id")
    val cands = probed.join(index.cells, Seq("center_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** [[ivfProbe]] over a SPLIT index — the bucketed persisted base plus
    * a small delta cell table (e.g. [[graft.streaming.Streams
    * .ivfAppendIngest]]'s accumulated batches) — WITHOUT unioning them:
    * a union reports unknown partitioning and re-shuffles the
    * corpus-sized base on every probe, so instead each side is probed
    * separately (the base side keeps its zero-Exchange pre-shuffled
    * plan; the delta side is delta-sized) and the per-side top-k merge
    * by ONE more rank layer over ≤ 2k rows per query. EXACT by the
    * top-k algebra: both sides route through the SAME centroids, so the
    * probed cells agree, their candidate sets partition across the
    * sides, and any global top-k candidate is necessarily in its own
    * side's top-k — global top-k = top-k of the union of per-side
    * top-k. Row-for-row equal to probing the unioned index
    * (spec-pinned), at the pre-compaction plan cost the delta reader's
    * scaladoc asks for.
    */
  def ivfProbeSplit(queries: DataFrame, base: IvfIndex, delta: DataFrame,
                    k: Int = 10, nProbe: Int = 4,
                    queryIdCol: String = "query_id",
                    vecCol: String = "embedding"): DataFrame = {
    val sides =
      ivfProbe(queries, base, k, nProbe, queryIdCol, vecCol)
        .unionByName(ivfProbe(queries, IvfIndex(base.centroids, delta),
          k, nProbe, queryIdCol, vecCol))
        .drop("rank")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    sides.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** [[ivfProbeSplit]] for the QUANTIZED tier: base and delta code
    * cells probed separately (the bucketed base keeps its zero-Exchange
    * plan), per-side top-k merged by one rank layer. Exact w.r.t. the
    * unioned quantized probe by the same top-k partition algebra — the
    * per-candidate quantized cosine depends only on the candidate's own
    * (codes, q_min, q_scale), never on which side it sat.
    */
  def ivfProbeQuantizedSplit(queries: DataFrame, base: IvfIndexQ,
                             delta: DataFrame, k: Int = 10,
                             nProbe: Int = 4,
                             queryIdCol: String = "query_id",
                             vecCol: String = "embedding"): DataFrame = {
    val sides =
      ivfProbeQuantized(queries, base, k, nProbe, queryIdCol, vecCol)
        .unionByName(ivfProbeQuantized(queries,
          IvfIndexQ(base.centroids, delta), k, nProbe, queryIdCol, vecCol))
        .drop("rank")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    sides.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Assign a batch of NEW vectors to an existing index's cells — the
    * incremental-ingest seam: an embedding append (nightly crawl, new
    * corpus shard) lands in the persisted cell table without re-running
    * Lloyd (re-train on drift cadence, not append cadence; the cosine
    * objective makes assignments of unchanged vectors stable across
    * appends). Output rows have the cell-table schema, so the caller can
    * union/append them to `index.cells` (or the bucketed table on disk).
    */
  def ivfAssign(batch: DataFrame, index: IvfIndex,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    assignToCentroids(
      batch.select(col(idCol).as("_id"), col(vecCol).as("_v")),
      index.centroids)
      .select(col("_id").as("vec_id"), col("_v").as("_cv"),
        col("center_id"))

  /** MAINTAIN an [[IvfIndex]] under append: route the new batch to its
    * nearest cells ([[ivfAssign]] — no Lloyd re-run; retrain on drift
    * cadence, not append cadence), pin the BATCH-sized assignment rows,
    * and union them lazily onto the existing cells — O(batch) work, the
    * index block is never re-materialized. The
    * centroid table is shared unchanged, so an appended index probes
    * with the identical cell routing — probing after appending an empty
    * batch is bit-equal to probing the original (spec-pinned), and the
    * staged-parameter probe over an appended index equals brute force
    * over the unioned corpus (the contract's exact certification).
    *
    * Caller owns vec_id uniqueness across appends (the incremental-index
    * convention, like [[graft.ops.Dedup.nearDupAgainstIndex]]'s corpus
    * ids) and releases the PREVIOUS index when done probing it — the old
    * cells block is not released here. At 100 TB the equivalent move
    * is appending the assignment rows into the cells table persisted
    * bucketed by center_id ([[graft.ops.Bucketing.writeBucketed]]); this
    * is the in-session form.
    */
  def ivfAppend(index: IvfIndex, batch: DataFrame,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): IvfIndex =
    // O(batch) maintenance (the nswAppend discipline): pin only the NEW
    // assignment rows and union lazily — the existing cells block is
    // never re-materialized (at scale: append the pinned rows into the
    // center_id-bucketed persisted table)
    {
      val leg = ivfAssign(batch, index, idCol, vecCol).localCheckpoint(true)
      IvfIndex(index.centroids, index.cells.unionByName(leg), Some(leg))
    }

  /** DRIFT report for a frozen-model index under append cadence — the
    * retrain SIGNAL the append tiers defer to ("retrain on drift
    * cadence, not append cadence"): route the arriving batch through
    * the index's frozen centroids (the REAL [[ivfAssign]] path) and
    * compare its cell histogram against the indexed corpus's. Every
    * published field is an integer, so the whole report is
    * engine-exact: per cell the raw occupancies (n_index, n_batch), and
    * replicated on every row the report-level total-variation distance
    * `tv_u6` = floor(1e6 · TV), TV = Σ_c |n_b(c)/N_b − n_i(c)/N_i| / 2,
    * computed as ONE DECIMAL integer division (1e6·Σ|n_b·N_i − n_i·N_b|
    * DIV 2·N_i·N_b — no float path, exact for counts past 10^15), plus
    * `retrain` = tv_u6 ≥ tvThresholdU6. An empty batch or empty index
    * reports tv_u6 = 0 / retrain = false — no evidence is not drift.
    *
    * Scale shape: the index histogram is one map-side-combinable count
    * over the bucketed cells table, the batch histogram is batch-sized,
    * and every join frame after that is centroid-sized — nothing
    * corpus-wide shuffles. For a finer signal over assignment-distance
    * DISTRIBUTIONS, compose [[ivfAssign]]'s cosines with
    * [[graft.ops.CorpusOps.ksDrift]]; this report is the integer
    * contract tier. The same histogram comparison serves the quantized
    * and PQ tiers — their routing shares these centroids.
    *
    * @return one row per centroid (center_id, n_index, n_batch, tv_u6,
    *         retrain), tv_u6/retrain identical on every row
    */
  def indexDriftReport(index: IvfIndex, batch: DataFrame,
                       tvThresholdU6: Long = 250000L,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    indexDriftReportFromAssigned(index,
      ivfAssign(batch, index, idCol, vecCol), tvThresholdU6)

  /** [[indexDriftReport]] over PRECOMPUTED assignment rows (any frame
    * with one row per routed batch vector carrying `center_id`) — the
    * streaming ingest shares one routing pass between the delta sink
    * and this report.
    */
  private[graft] def indexDriftReportFromAssigned(index: IvfIndex,
                                                  assigned: DataFrame,
                                                  tvThresholdU6: Long = 250000L): DataFrame = {
    require(tvThresholdU6 >= 0 && tvThresholdU6 <= 1000000L,
      s"tvThresholdU6 must be on the u6 lattice [0, 1e6], got $tvThresholdU6")
    val dec = "decimal(38,0)"
    val idxHist = index.cells.groupBy("center_id")
      .agg(count(lit(1)).as("_ni"))
    val bHist = assigned
      .groupBy("center_id").agg(count(lit(1)).as("_nb"))
    // centroid-sized frame, pinned: it feeds the totals, the TV sum and
    // the published rows (three consumers of two aggregations)
    val hist = index.centroids.select("center_id")
      .join(idxHist, Seq("center_id"), "left")
      .join(bHist, Seq("center_id"), "left")
      .select(col("center_id"),
        coalesce(col("_ni"), lit(0L)).as("n_index"),
        coalesce(col("_nb"), lit(0L)).as("n_batch"))
      .localCheckpoint(true)
    val totals = hist.agg(
      coalesce(sum(col("n_index")), lit(0L)).cast(dec).as("_Ni"),
      coalesce(sum(col("n_batch")), lit(0L)).cast(dec).as("_Nb"))
    val tvRow = hist.crossJoin(totals)
      .agg(coalesce(sum(abs(col("n_batch").cast(dec) * col("_Ni") -
          col("n_index").cast(dec) * col("_Nb"))),
          lit(0).cast(dec)).as("_sumabs"),
        max(col("_Ni")).as("_Ni"), max(col("_Nb")).as("_Nb"))
      .select(when(col("_Ni") > 0 && col("_Nb") > 0,
          expr(s"CAST((CAST(1000000 AS $dec) * _sumabs) DIV " +
            s"(CAST(2 AS $dec) * _Ni * _Nb) AS BIGINT)"))
        .otherwise(lit(0L)).as("tv_u6"))
      .withColumn("retrain", col("tv_u6") >= tvThresholdU6)
    // pin the (centroid-sized) report and release the working frame —
    // a drift check on an ingest cadence must not accumulate pinned
    // intermediates across calls
    val out = hist.crossJoin(tvRow)
      .select("center_id", "n_index", "n_batch", "tv_u6", "retrain")
      .localCheckpoint(true)
    Pins.release(hist)
    out
  }

  /** All corpus pairs with cosine ≥ threshold, via hyperplane-band blocking
    * (the embedding-cosine near-dup tier of [[Dedup]]).
    *
    * STAGED-FORM certification seam: `planes = 0, bands = 1` degenerates
    * the blocking to one bucket — every pair becomes a candidate and the
    * full band/dedup/threshold code path must equal the exact all-pairs
    * form (the contract rides q_emb_near_pairs' exact oracle through it).
    * Deployment always uses planes ≥ bands ≥ 1.
    */
  def cosinePairs(embeddings: DataFrame, threshold: Double = 0.95,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  planes: Int = 16, bands: Int = 4): DataFrame = {
    require(bands >= 1 && planes % bands == 0, "bands must divide planes")
    val bandBits = planes / bands
    val mask = (1L << bandBits) - 1
    // pinned: both self-join sides read the signed frame — lazy, each
    // would re-run the hyperplane-signature kernel over every embedding
    // (the minhashLsh/hammingPairs discipline)
    val base = embeddings.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_sig",
        if (planes == 0) lit(0L) else hyperplane_sig(col("_v"), planes))
      .localCheckpoint(true)
    val bandKeys = array((0 until bands).map(b =>
      shiftrightunsigned(col("_sig"), b * bandBits).bitwiseAND(lit(mask))): _*)
    val banded = base.select(col("_id"), col("_v"),
      posexplode(bandKeys).as(Seq("_band", "_key")))
    val l = banded.select(col("_band"), col("_key"),
      col("_id").as("id_a"), col("_v").as("_va"))
    val r = banded.select(col("_band"), col("_key"),
      col("_id").as("id_b"), col("_v").as("_vb"))
    l.join(r, Seq("_band", "_key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosine_sim(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** An IVF index whose cells store int8 CODES instead of float vectors —
    * the production shape at 100 TB: 4 bytes/dim of cell payload becomes
    * 1 byte/dim (+16 bytes of per-vector scale metadata), so every probe
    * scans/shuffles a quarter of the bytes. Probing is asymmetric-distance:
    * the full-precision query scores against dequantized candidates.
    */
  final case class IvfIndexQ(centroids: DataFrame, cells: DataFrame,
                             delta: Option[DataFrame] = None) {
    /** See [[IvfIndex.release]]; the centroids are always the float
      * index's ([[quantizeIndex]]), so a quantized index created only
      * its code cells. */
    def release(): Unit = Pins.release(delta.getOrElse(cells))
    /** See [[IvfIndex.releaseDelta]]. */
    def releaseDelta(): Unit = delta.foreach(Pins.release(_))
  }

  /** Quantize a built IVF index's cells ([[quantizeInt8]] per vector). The
    * original float cells can be dropped afterwards; the centroid table is
    * shared (it is tiny and stays float for probe ranking).
    */
  def quantizeIndex(index: IvfIndex): IvfIndexQ = {
    val qcells = quantizeInt8(
      index.cells.withColumnRenamed("_cv", "embedding"), "embedding")
      .select(col("vec_id"), col("center_id"), col("codes"),
        col("q_min"), col("q_scale"))
      .localCheckpoint(true)
    IvfIndexQ(index.centroids, qcells)
  }

  /** [[ivfAppend]] for the quantized tier: route the batch to its
    * nearest cells, int8-quantize the new vectors ([[quantizeInt8]] —
    * per-vector min/scale, same encoding as the build), and pin the NEW
    * byte rows only (lazy union — O(batch)). Same ownership conventions as
    * [[ivfAppend]] (caller-unique ids; previous index released by the
    * caller; at 100 TB this is an append into the bucketed cells table).
    */
  def ivfQAppend(index: IvfIndexQ, batch: DataFrame,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): IvfIndexQ = {
    val assigned = assignToCentroids(
      batch.select(col(idCol).as("_id"), col(vecCol).as("_v")),
      index.centroids)
      .select(col("_id").as("vec_id"), col("_v").as("embedding"),
        col("center_id"))
    val q = quantizeInt8(assigned, "embedding")
      .select(col("vec_id"), col("center_id"), col("codes"),
        col("q_min"), col("q_scale"))
    // batch-side pin + lazy union, as ivfAppend
    val leg = q.localCheckpoint(true)
    IvfIndexQ(index.centroids, index.cells.unionByName(leg), Some(leg))
  }

  /** Probe a quantized IVF index: identical cell ranking to [[ivfProbe]],
    * but candidates are scored by asymmetric distance — full-precision
    * query against `min + code·scale` dequantization (one codegen'd
    * transform; the index never materializes float vectors). Returned
    * `cosine` is the quantized estimate (within O(scale) of exact, see
    * the recall spec).
    */
  def ivfProbeQuantized(queries: DataFrame, index: IvfIndexQ, k: Int = 10,
                        nProbe: Int = 4, queryIdCol: String = "query_id",
                        vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("_cos_c", cosine_sim(col("_qv"), col("centroid")))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("_cos_c").desc, col("center_id"))
    val probed = probes.withColumn("_rn", row_number().over(wp))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "_qv", "center_id")
    val dequant = transform(col("codes"),
      c => (col("q_min") + c.cast("double") * col("q_scale")).cast("float"))
    val cands = probed.join(index.cells, Seq("center_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", cosine_sim(col("_qv"), dequant))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  // --- product quantization ---------------------------------------------

  /** Trained PQ codebooks: `m` subspaces of `subDim` dims each; `codebooks`
    * is the (small, pinned) table `(sub, code, centroid: array<float>)`
    * with `m × ksub` rows — the artifact a deployment trains once and
    * broadcasts into every encode/probe pass.
    */
  final case class PqCodebooks(m: Int, subDim: Int, codebooks: DataFrame) {
    def release(): Unit = Pins.release(codebooks)
  }

  /** Squared L2 distance between two float-array columns (double math,
    * left-to-right fold — deterministic and SQL-replayable).
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0d), (acc, v) => acc + v)

  private def dotp(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)

  private def normSq(a: Column): Column = dotp(a, a)

  /** Vector dimensionality probe (one 1-row driver action on the build
    * path — never on a probe path).
    */
  private def vecDim(corpus: DataFrame, vecCol: String, m: Int): Int = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m")
    dim / m
  }

  /** Data-row PQ codebooks: code `c` of every subspace is the matching
    * slice of the corpus vector with the c-th smallest id. Not a trained
    * quantizer — it exists so the ENCODE dataflow (argmin per subspace,
    * integer codes) has a deterministic, SQL-replayable configuration the
    * correctness gate can oracle exactly; production trains with
    * [[trainPqCodebooks]] and the dataflow is identical.
    */
  def pqCodebooksFromRows(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): PqCodebooks = {
    val subDim = vecDim(corpus, vecCol, m)
    val seed = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .orderBy("_id").limit(ksub)
      .agg(array_sort(collect_list(struct(col("_id"), col("_v")))).as("_a"))
      .select(posexplode(col("_a")).as(Seq("code", "_s")))
      .select(col("code"), col("_s._v").as("_v"))
    val cbs = seed.select(col("code"),
      posexplode(array((0 until m).map(s =>
        slice(col("_v"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "centroid")))
      .select(col("sub"), col("code"), col("centroid"))
      .localCheckpoint(true)
    PqCodebooks(m, subDim, cbs)
  }

  /** Train PQ codebooks: per-subspace deterministic k-means over the
    * sliced corpus ([[kmeansCentroids]] per subspace — `m × iters` small
    * jobs, a BUILD-path cost like [[buildIvfIndex]]; the trained table is
    * `m × ksub` rows, pinned).
    */
  def trainPqCodebooks(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
                       iters: Int = 3, idCol: String = "vec_id",
                       vecCol: String = "embedding"): PqCodebooks = {
    val subDim = vecDim(corpus, vecCol, m)
    val parts = (0 until m).map(s => kmeansCentroids(
      corpus.select(col(idCol).as("_sid"),
        slice(col(vecCol), s * subDim + 1, subDim).as("_sv")),
      ksub, iters, "_sid", "_sv"))
    val cbs = parts.zipWithIndex.map { case (p, s) =>
      p.select(lit(s).as("sub"), col("center_id").as("code"), col("centroid"))
    }.reduce(_ union _).localCheckpoint(true)
    Pins.release(parts: _*)
    PqCodebooks(m, subDim, cbs)
  }

  /** Encode the corpus against PQ codebooks: per (vector, subspace) the
    * argmin-L2 code — `m` bytes of payload per vector instead of
    * `4 × dim` (the 32× storage/shuffle tier below [[quantizeInt8]]'s 4×).
    * `recon_norm` (the reconstructed vector's L2 norm) is stored at encode
    * time so cosine probes never re-touch the codebooks per candidate.
    *
    * Scale shape: one narrow `m`-way slice fan-out, an equi-join on `sub`
    * against the broadcast-sized codebook table, argmin via `min_by`
    * partial agg (map-side combine to one candidate per (vector, subspace)
    * — never a window), then one per-vector regroup. Ties argmin to the
    * smallest code, so encoding is deterministic and exactly replayable in
    * SQL (the correctness gate checks codes as integers).
    *
    * @return (vec_id, codes: array<int> of length m, recon_norm: double)
    */
  def pqEncode(corpus: DataFrame, cb: PqCodebooks,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val base = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("_v"))
    val subs = base.select(col("vec_id"),
      posexplode(array((0 until cb.m).map(s =>
        slice(col("_v"), s * cb.subDim + 1, cb.subDim)): _*))
        .as(Seq("sub", "_sv")))
    val scored = subs.join(broadcast(cb.codebooks), Seq("sub"))
      .withColumn("_d2", l2sq(col("_sv"), col("centroid")))
      .withColumn("_cn2", normSq(col("centroid")))
    val best = scored.groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code").as("code"), col("_cn2").as("_cn2")),
        struct(col("_d2"), col("code"))).as("_b"))
    best.groupBy("vec_id").agg(
      transform(
        array_sort(collect_list(struct(col("sub"),
          col("_b").getField("code").as("code")))),
        x => x.getField("code")).as("codes"),
      sqrt(sum(col("_b").getField("_cn2"))).as("recon_norm"))
  }

  /** Asymmetric-distance PQ probe (ADC): each query precomputes one
    * `m × ksub` inner-product table against the codebooks (query set is
    * broadcast-sized by contract, like [[bruteForceTopK]]); the code scan
    * is then pure byte-level — posexplode the `m` codes, equi-join the
    * broadcast distance table on (sub, code), sum the `m` partials per
    * (query, vector), cosine ≈ ip / (‖q‖ · recon_norm). The corpus side
    * never touches a float vector: at 100 TB the scan reads `m` bytes +
    * one double per vector (the point of PQ), and the per-(query, vector)
    * aggregate is map-side combinable. Approximate → certify rows-only;
    * the recall spec cross-checks against [[bruteForceTopK]].
    */
  def pqProbe(queries: DataFrame, encoded: DataFrame, cb: PqCodebooks,
              k: Int = 10, queryIdCol: String = "query_id",
              vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("_qn", sqrt(normSq(col("_qv"))))
    val dtab = q.crossJoin(broadcast(cb.codebooks))
      .withColumn("_ip",
        dotp(slice(col("_qv"), col("sub") * cb.subDim + 1, lit(cb.subDim)),
          col("centroid")))
      .select("query_id", "_qn", "sub", "code", "_ip")
    val fan = encoded.select(col("vec_id"), col("recon_norm"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    val cands = fan.join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("_ip")).as("_ips"),
        first(col("recon_norm")).as("_rn"), first(col("_qn")).as("_q"))
      .withColumn("cosine",
        when(col("_rn") > 0d && col("_q") > 0d,
          col("_ips") / (col("_rn") * col("_q"))).otherwise(lit(0.0d)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Over-fetch + exact re-rank PQ probe — the standard PQ deployment
    * (FAISS-style): the ADC byte scan nominates `k × overfetch` candidates
    * per query, then exact cosine re-ranks ONLY the candidate set against
    * the float corpus. The full corpus is still touched byte-wise once;
    * floats are read for the (query-set × k × overfetch)-sized candidate
    * table, which rides a broadcast into a hash equi-join on the corpus id
    * — no shuffle of the float corpus. Recovers most of the recall ADC
    * ranking loses (PqSpec measures the floor).
    */
  def pqProbeRerank(queries: DataFrame, encoded: DataFrame, cb: PqCodebooks,
                    corpus: DataFrame, k: Int = 10, overfetch: Int = 5,
                    queryIdCol: String = "query_id",
                    corpusIdCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(overfetch >= 1)
    val cands = pqProbe(queries, encoded, cb, k * overfetch, queryIdCol, vecCol)
      .select(col("query_id"), col("vec_id"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
    val c = corpus.select(col(corpusIdCol).as("vec_id"), col(vecCol).as("_cv"))
    val exact = c.join(broadcast(cands.join(q, Seq("query_id"))), Seq("vec_id"))
      .withColumn("cosine", cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** IVF-PQ index: cell-routed byte codes — the combined retrieval tier
    * (FAISS's IndexIVFPQ shape, Jégou et al. 2011): IVF prunes WHICH
    * vectors a query touches (≈ nProbe/nCenters of the corpus), PQ
    * shrinks WHAT is read per touched vector (`m` bytes + one double,
    * never the float). `cells` carries (vec_id, center_id, codes,
    * recon_norm) — no float column, so the probe-path scan is byte-only;
    * codes quantize the RAW vector (FAISS `by_residual=false` mode),
    * which lets the build reuse [[pqEncode]]/[[trainPqCodebooks]]
    * verbatim and keeps the ADC table query-global instead of
    * per-(query, cell).
    */
  final case class IvfPqIndex(centroids: DataFrame, cells: DataFrame,
                              cb: PqCodebooks,
                              delta: Option[DataFrame] = None) {
    /** See [[IvfIndex.release]]; a built index also trained `cb`. */
    def release(): Unit =
      delta.fold(Pins.release(centroids, cells, cb.codebooks))(Pins.release(_))
    /** See [[IvfIndex.releaseDelta]]. */
    def releaseDelta(): Unit = delta.foreach(Pins.release(_))
  }

  /** Build the combined index: IVF cell assignment + PQ codes joined on
    * the vector id, floats dropped, pinned. Build-path cost ≈ one IVF
    * build + one PQ train/encode (both already certified); the float
    * cell table is released once the byte cells are pinned.
    */
  def buildIvfPqIndex(corpus: DataFrame, nCenters: Int = 16,
                      iters: Int = 3, m: Int = 8, ksub: Int = 16,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): IvfPqIndex = {
    val ivf = buildIvfIndex(corpus, nCenters, iters, idCol, vecCol)
    val cb = trainPqCodebooks(corpus, m, ksub, iters, idCol, vecCol)
    val cells = ivf.cells.select(col("vec_id"), col("center_id"))
      .join(pqEncode(corpus, cb, idCol, vecCol), Seq("vec_id"))
      .localCheckpoint(true)
    Pins.release(ivf.cells)
    IvfPqIndex(ivf.centroids, cells, cb)
  }

  /** [[ivfAppend]] for the combined tier: route the batch to its nearest
    * cells, PQ-encode the new vectors against the index's EXISTING
    * codebooks ([[pqEncode]] — codebooks retrain on drift cadence, like
    * the centroids), and pin the NEW byte rows only (lazy union —
    * O(batch)). Centroids and
    * codebooks are shared unchanged, so probe routing and the ADC table
    * are identical before and after an append; same ownership
    * conventions as [[ivfAppend]].
    */
  def ivfPqAppend(index: IvfPqIndex, batch: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): IvfPqIndex = {
    val assigned = assignToCentroids(
      batch.select(col(idCol).as("_id"), col(vecCol).as("_v")),
      index.centroids)
      .select(col("_id").as("vec_id"), col("center_id"))
    val newCells = assigned
      .join(pqEncode(batch, index.cb, idCol, vecCol), Seq("vec_id"))
    // batch-side pin + lazy union, as ivfAppend
    val leg = newCells.localCheckpoint(true)
    IvfPqIndex(index.centroids, index.cells.unionByName(leg), index.cb,
      Some(leg))
  }

  /** Probe the combined index: (1) rank cells per query against the
    * broadcast centroid table and keep the nProbe nearest ([[ivfProbe]]'s
    * routing); (2) ADC-score ONLY the probed cells' byte codes against
    * the query's broadcast `m × ksub` inner-product table ([[pqProbe]]'s
    * scan, restricted by one equi-join on center_id); (3) keep
    * `k × overfetch` ADC candidates per query and exact-cosine re-rank
    * them against the float corpus ([[pqProbeRerank]]'s tail — floats are
    * read for the candidate set only, riding a broadcast).
    *
    * Corpus fraction touched ≈ nProbe/nCenters, at `m` bytes per touched
    * vector — the two pruning levers compose multiplicatively; this is
    * the tier that makes billion-vector cosine search a practical scan.
    * Approximate by construction (cell routing can miss, ADC ranking is
    * lossy) → certified by the STAGED-FORM identity: with
    * nProbe ≥ nCenters and k·overfetch ≥ corpus size it equals
    * [[bruteForceTopK]] by construction, and the contract query rides
    * q_sim_topk's EXACT oracle through this full code path (the
    * q_hard_negatives_from pattern); the realistic-parameter recall
    * floor is spec-pinned against brute force.
    */
  def ivfPqProbe(queries: DataFrame, index: IvfPqIndex, corpus: DataFrame,
                 k: Int = 10, nProbe: Int = 4, overfetch: Int = 5,
                 queryIdCol: String = "query_id",
                 corpusIdCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1 && overfetch >= 1 && k >= 1)
    val cb = index.cb
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("_qv"))
    // (1) cell routing: query set x centroid table (nCenters rows)
    val wp = Window.partitionBy("query_id")
      .orderBy(col("_cos_c").desc, col("center_id"))
    val probed = q.crossJoin(broadcast(index.centroids))
      .withColumn("_cos_c", cosine_sim(col("_qv"), col("centroid")))
      .withColumn("_rn", row_number().over(wp))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "center_id")
    // (2) per-query ADC distance table (m x ksub rows per query)
    val dtab = q.withColumn("_qn", sqrt(normSq(col("_qv"))))
      .crossJoin(broadcast(cb.codebooks))
      .withColumn("_ip",
        dotp(slice(col("_qv"), col("sub") * cb.subDim + 1, lit(cb.subDim)),
          col("centroid")))
      .select("query_id", "_qn", "sub", "code", "_ip")
    val fan = index.cells.join(broadcast(probed), Seq("center_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("recon_norm"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val adc = fan.join(broadcast(dtab), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("_ip")).as("_ips"),
        first(col("recon_norm")).as("_rn"), first(col("_qn")).as("_q"))
      .withColumn("_adc",
        when(col("_rn") > 0d && col("_q") > 0d,
          col("_ips") / (col("_rn") * col("_q"))).otherwise(lit(0.0d)))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("_adc").desc, col("vec_id"))
    val cands = adc.withColumn("_crn", row_number().over(wc))
      .filter(col("_crn") <= k.toLong * overfetch)
      .select("query_id", "vec_id")
    // (3) exact re-rank of the candidate set against the float corpus
    val c = corpus.select(col(corpusIdCol).as("vec_id"), col(vecCol).as("_cv"))
    val exact = c.join(broadcast(cands.join(q, Seq("query_id"))), Seq("vec_id"))
      .withColumn("cosine", cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** A built NSW graph index (single-layer HNSW-lite, Malkov & Yashunin
    * 2016 reduced to its navigable-small-world core): `edges` is the
    * (src, dst) adjacency — each vector's M nearest WITHIN its IVF cell
    * plus a complete mesh over the nCenters cell gateways — and
    * `entries` are the gateway nodes search starts from. Both pinned;
    * at 100 TB persist `edges` bucketed by `src`
    * ([[graft.ops.Bucketing.writeBucketed]]) so each beam hop's
    * frontier join is one-sided.
    *
    * Design note (why not full HNSW): the hierarchy's greedy descent is
    * inherently sequential per query; what survives distribution is the
    * single-layer graph + a coarse entry tier. Cell-local kNN gives the
    * local navigability, the gateway mesh replaces the upper layers
    * (any query reaches any cell region in one hop), and beam search
    * runs as set-at-a-time joins — per hop: broadcast the (queries × ef)
    * frontier against the adjacency, score only new candidates.
    */
  final case class NswIndex(edges: DataFrame, entries: DataFrame,
                            delta: Option[DataFrame] = None) {
    /** See [[IvfIndex.release]]. */
    def release(): Unit =
      delta.fold(Pins.release(edges, entries))(Pins.release(_))
    /** See [[IvfIndex.releaseDelta]]. */
    def releaseDelta(): Unit = delta.foreach(Pins.release(_))
  }

  /** Build the NSW graph. Three edge families, each covering a failure
    * mode of the others:
    *
    *  - CELL-LOCAL kNN (`m` per node): the similarity gradient beam
    *    search climbs. IVF cells bound the quadratic (per-cell pairing
    *    only — the SemDeDup argument: nCenters grows with the corpus,
    *    cell size stays bounded).
    *  - IN-CELL FINGERS (`fingers` per node): Chord-style hash-ring
    *    skips at halving distances — deterministic long-range links
    *    that keep a cell's INTERIOR small-world even when k-means has
    *    merged two genuinely separate clusters into one cell, where
    *    pure-kNN edges never cross the gap (measured failure mode: a
    *    merged cell's unlucky sub-cluster was unreachable and recall
    *    collapsed to 0 for its queries).
    *  - GATEWAY MESH: `gatewaysPerCell` HASH-SPREAD nodes per cell
    *    (coverage draw, not the centroid-nearest hub — a merged cell's
    *    single hub sits between sub-clusters and its kNN edges commit
    *    to one of them), fully meshed so any query reaches any cell
    *    region in one hop; search enters at all gateways.
    *
    * Deterministic end-to-end: seeded k-means, hash-ordered draws, ties
    * to the smallest id. Build-path cost, paid once
    * ([[cachedIvfIndex]]-style lifecycle); probes touch only
    * `edges`/`entries`.
    */
  def buildNswGraph(corpus: DataFrame, m: Int = 8, nCenters: Int = 16,
                    iters: Int = 3, gatewaysPerCell: Int = 4,
                    fingers: Int = 3, corpusIdCol: String = "vec_id",
                    vecCol: String = "embedding"): NswIndex = {
    require(m >= 1 && nCenters >= 1 && gatewaysPerCell >= 1 && fingers >= 0)
    val ivf = buildIvfIndex(corpus, nCenters, iters, corpusIdCol, vecCol)
    val a = ivf.cells.select(col("center_id"), col("vec_id").as("src"),
      col("_cv").as("_va"))
    val b = ivf.cells.select(col("center_id"), col("vec_id").as("dst"),
      col("_cv").as("_vb"))
    val w = Window.partitionBy("src").orderBy(col("_cos").desc, col("dst"))
    val local = a.join(b, Seq("center_id"))
      .filter(col("src") =!= col("dst"))
      .withColumn("_cos", cosine_sim(col("_va"), col("_vb")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= m)
      .select("src", "dst")
    // hash ring per cell: rank in xxhash order (cell-bounded window)
    val wRing = Window.partitionBy("center_id")
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    val ranked = ivf.cells
      .select(col("center_id"), col("vec_id"),
        (row_number().over(wRing) - 1).as("_rank"),
        count(lit(1)).over(Window.partitionBy("center_id")).as("_size"))
      .localCheckpoint(true)
    val fingerEdges = (0 until fingers).map { r =>
      val skip = greatest(shiftright(col("_size"), r + 1), lit(1L))
      val probe = ranked.select(col("center_id"),
        col("vec_id").as("src"),
        ((col("_rank") + skip) % col("_size")).as("_trank"))
      probe.join(ranked.select(col("center_id"),
          col("_rank").as("_trank"), col("vec_id").as("dst")),
        Seq("center_id", "_trank"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
    }
    val gateways = ranked.filter(col("_rank") < gatewaysPerCell)
      .select("vec_id")
    val mesh = gateways.select(col("vec_id").as("src"))
      .crossJoin(broadcast(gateways.select(col("vec_id").as("dst"))))
      .filter(col("src") =!= col("dst"))
    val edges = (local +: mesh +: fingerEdges).reduce(_ union _)
      .distinct().localCheckpoint(true)
    val entries = gateways.localCheckpoint(true)
    Pins.release(ranked)
    ivf.release()
    NswIndex(edges, entries)
  }

  /** Beam search over a prebuilt [[NswIndex]]: score the entry set, then
    * `hops` rounds of expand-score-prune — per round the (queries × ef)
    * frontier broadcasts into an equi-join on `edges.src`, only the
    * newly reached nodes fetch their vector (equi-join on the corpus
    * id), and a per-query window keeps the best `ef`. Run-exactly-N
    * rounds (the PageRank discipline — a data-dependent convergence test
    * would serialize the job graph); each round pins its frontier and
    * releases the previous one. Deterministic: ties to the smallest id.
    *
    * Approximate by construction (the graph may not connect a query's
    * region to its true neighbors) → rows-only at deployment
    * parameters, recall-floor spec-pinned; the STAGED FORM — `entries` =
    * the whole corpus with ef ≥ corpus size — makes the search equal
    * [[bruteForceTopK]] by construction (every node is scored up front;
    * hops only re-find them), so the contract rides q_sim_topk's exact
    * oracle through the full score/dedup/prune/rank code path (the
    * q_ivfpq_topk recipe).
    *
    * @param entries override the index's entry set (the staged seam)
    * @return (query_id, vec_id, cosine, rank) with rank ≤ k per query
    */
  def nswSearch(queries: DataFrame, index: NswIndex, corpus: DataFrame,
                k: Int = 10, ef: Int = 32, hops: Int = 3,
                entries: Option[DataFrame] = None,
                queryIdCol: String = "query_id",
                corpusIdCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && ef >= k && hops >= 0,
      s"need ef >= k >= 1 and hops >= 0 (got k=$k ef=$ef hops=$hops)")
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
    val c = corpus.select(col(corpusIdCol).as("vec_id"), col(vecCol).as("_cv"))
    val entry = entries.getOrElse(index.entries).select(col("vec_id"))
    def score(cands: DataFrame): DataFrame = // (query_id, vec_id) -> +cos
      cands.join(c, Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("_cos", cosine_sim(col("_qv"), col("_cv")))
        .select("query_id", "vec_id", "_cos")
    val wEf = Window.partitionBy("query_id")
      .orderBy(col("_cos").desc, col("vec_id"))
    def topEf(scored: DataFrame): DataFrame = scored
      .withColumn("_rn", row_number().over(wEf))
      .filter(col("_rn") <= ef)
      .select("query_id", "vec_id", "_cos")
    var best = topEf(score(q.select("query_id")
        .crossJoin(broadcast(entry))))
      .localCheckpoint(true)
    for (_ <- 1 to hops) {
      val reached = best.select(col("query_id"), col("vec_id").as("src"))
        .join(index.edges, Seq("src"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .dropDuplicates("query_id", "vec_id")
      // dedup AFTER the union: a re-reached node rescores to the
      // identical cosine, so dropDuplicates is deterministic here
      val next = topEf(best.union(score(reached))
          .dropDuplicates("query_id", "vec_id"))
        .localCheckpoint(true)
      Pins.release(best)
      best = next
    }
    val out = best
      .withColumn("rank", row_number().over(wEf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("_cos").as("cosine"),
        col("rank"))
      .localCheckpoint(true)
    Pins.release(best)
    out
  }

  /** MAINTAIN an [[NswIndex]] under append — the graph tier's
    * [[ivfAppend]], via the classic HNSW insertion move: each new vector
    * SEARCHES the existing graph for its m nearest ([[nswSearch]] — the
    * same set-at-a-time beam the queries run, so the append is one batch
    * search, not per-row work) and connects BIDIRECTIONALLY to them.
    * Forward edges give the new node its local gradient; the back-edges
    * are what make it REACHABLE (search entering anywhere near its
    * region steps onto it through a neighbor). Entries are unchanged —
    * gateway coverage is a build-cadence concern, like centroid retrain.
    *
    * Caller conventions match [[ivfAppend]]: batch ids unique vs the
    * corpus (and across appends), the previous index is released by the
    * caller, and future searches pass `corpus ∪ batch` as the corpus.
    * Degree is additive across appends (an appended node gets m forward
    * edges; existing nodes gain back-edges) — on drift cadence rebuild,
    * as with every other tier.
    *
    * The staged form (`entries` = the full corpus with `ef` ≥ its size)
    * makes the neighbor search exact brute-force top-m by construction —
    * the contract certifies the appended EDGE SET against a SQL
    * brute-force oracle through this real code path; deployment-
    * parameter appends are spec-pinned by planted-duplicate recall.
    */
  def nswAppend(index: NswIndex, batch: DataFrame, corpus: DataFrame,
                m: Int = 8, ef: Int = 32, hops: Int = 3,
                entries: Option[DataFrame] = None,
                batchIdCol: String = "vec_id",
                corpusIdCol: String = "vec_id",
                vecCol: String = "embedding"): NswIndex = {
    require(m >= 1, s"need m >= 1 (got $m)")
    val q = batch.select(col(batchIdCol).as("query_id"),
      col(vecCol).as("embedding"))
    val found = nswSearch(q, index, corpus, k = m, ef = math.max(ef, m),
      hops = hops, entries = entries, corpusIdCol = corpusIdCol)
    val nn = found.select(col("query_id").as("src"), col("vec_id").as("dst"))
    // O(batch) maintenance: the append NEVER touches the existing
    // adjacency. The new edge set ([[mirrorEdges]] — forward ∪ mirror,
    // ≤ 2·m·|batch| rows) is disjoint from index.edges by the
    // id-uniqueness contract — batch ids are new, so every new edge has
    // a batch id endpoint and every existing edge has none — and
    // internally duplicate-free unless the caller ships duplicate batch
    // ids, so one batch-sized dropDuplicates reproduces the edge SET a
    // full union().distinct() would have built without shuffling or
    // re-checkpointing the O(index) table (at scale: append the pinned
    // new-edge table into the bucketed persisted adjacency,
    // [[graft.ops.IndexStore.writeNswIndex]]).
    val newEdges = mirrorEdges(nn).localCheckpoint(true)
    Pins.release(found) // the search's pinned result is folded into newEdges
    NswIndex(index.edges.union(newEdges), index.entries, Some(newEdges))
  }

  /** The bidirectional-connect edge set over a (src, dst) neighbor
    * table: forward ∪ mirror, deduped ALONE. The ONE definition shared
    * by the batch append ([[nswAppend]]), the drift report's
    * n_new_edges ([[nswDriftReportFrom]]) and the delta-tree edge
    * derivation ([[graft.ops.IndexStore.readNswIndexWithDelta]]), so
    * the counted set and the loaded set can never drift apart.
    */
  private[graft] def mirrorEdges(nn: DataFrame): DataFrame =
    nn.union(nn.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")

  /** DRIFT report for an [[NswIndex]] under append cadence — the graph
    * tier's [[indexDriftReport]]: appended nodes attach only via
    * beam-search neighbors and the entry set goes stale at build
    * cadence, so graph QUALITY decays with append volume even though
    * every append is individually correct. Two integer signals, one
    * row, engine-exact like the IVF/BM25 siblings:
    *
    *   - `reach_u6` = floor(1e6 · n_reached / n_batch): the fraction of
    *     batch vectors whose beam search (the REAL append search — same
    *     parameters the insertion uses) found ≥ 1 neighbor. A batch
    *     vector that finds NOTHING would be inserted edge-less and
    *     unreachable — the recall-collapse failure mode, measured at
    *     ingest.
    *   - `growth_u6` = floor(1e6 · n_new_edges / (n_index_edges +
    *     n_new_edges)): the appended share of the adjacency. Appended
    *     nodes never receive the build's cell-local/finger/gateway
    *     structure, so past a share threshold the graph should REBUILD
    *     (the centroid-retrain analogue).
    *
    * `degrade` = reach below / growth at-or-past its threshold; an
    * empty batch reports zeros / false (no evidence is not drift).
    * Scale shape: one batch-sized beam search (the append already pays
    * it — the streaming ingest shares the pass via the `From` variant),
    * one map-side-combinable count of the bucketed adjacency, and
    * 1-row crossjoins; nothing corpus-wide shuffles beyond the search
    * itself.
    *
    * @return one row: (n_batch, n_reached, n_new_edges, n_index_edges,
    *         n_built_edges, reach_u6, growth_u6, degrade) — here
    *         n_built_edges = n_index_edges (a one-shot call treats the
    *         given index as the build; the STREAMING audit passes the
    *         recorded build count so growth_u6 is the cumulative
    *         appended share, see [[nswDriftReportFrom]])
    */
  def nswDriftReport(index: NswIndex, batch: DataFrame, corpus: DataFrame,
                     m: Int = 8, ef: Int = 32, hops: Int = 3,
                     entries: Option[DataFrame] = None,
                     reachThresholdU6: Long = 990000L,
                     growthThresholdU6: Long = 250000L,
                     batchIdCol: String = "vec_id",
                     corpusIdCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = batch.select(col(batchIdCol).as("query_id"),
      col(vecCol).as("embedding"))
    val found = nswSearch(q, index, corpus, k = m, ef = math.max(ef, m),
      hops = hops, entries = entries, corpusIdCol = corpusIdCol)
    val out = nswDriftReportFrom(index, found, q.select("query_id"),
      reachThresholdU6, growthThresholdU6)
    Pins.release(found) // the report is pinned; the search leg can go
    out
  }

  /** [[nswDriftReport]] over a PRECOMPUTED neighbor search result — the
    * streaming ingest shares one beam-search pass between the delta
    * sink and this report.
    *
    * @param builtEdges the BUILD-time edge count when known
    *   ([[graft.ops.IndexStore.nswBuiltEdges]] — the streaming audit
    *   passes it): growth_u6 then measures the CUMULATIVE appended
    *   share (built edges excluded from the numerator), so the rebuild
    *   threshold is reachable under micro-batch cadence — per-batch
    *   share against an already-appended adjacency would asymptote far
    *   below any sane threshold. None (a one-shot call against a built
    *   index, where n_index IS the build) degenerates to the per-batch
    *   share — the same formula with n_built = n_index.
    */
  private[graft] def nswDriftReportFrom(index: NswIndex, found: DataFrame,
                                        batchIds: DataFrame,
                                        reachThresholdU6: Long = 990000L,
                                        growthThresholdU6: Long = 250000L,
                                        builtEdges: Option[Long] = None): DataFrame = {
    require(reachThresholdU6 >= 0 && reachThresholdU6 <= 1000000L &&
        growthThresholdU6 >= 0 && growthThresholdU6 <= 1000000L,
      "thresholds must sit on the u6 lattice [0, 1e6]")
    val dec = "decimal(38,0)"
    val nb = batchIds.agg(count(lit(1)).as("n_batch"))
    val nr = found.agg(countDistinct(col("query_id")).as("n_reached"))
    // the edge set an append would connect ([[mirrorEdges]] — the same
    // construction the append and the delta loader use, so this count
    // is the count of what actually lands)
    val nn = found.select(col("query_id").as("src"), col("vec_id").as("dst"))
    val ne = mirrorEdges(nn).agg(count(lit(1)).as("n_new_edges"))
    val ni = index.edges.agg(count(lit(1)).as("n_index_edges"))
    val out = nb.crossJoin(nr).crossJoin(ne).crossJoin(ni)
      .withColumn("n_built_edges",
        builtEdges.map(lit(_)).getOrElse(col("n_index_edges")))
      .withColumn("reach_u6", when(col("n_batch") > 0,
        expr(s"CAST((CAST(1000000 AS $dec) * CAST(n_reached AS $dec)) " +
          s"DIV CAST(n_batch AS $dec) AS BIGINT)"))
        .otherwise(lit(0L)))
      // ONE formula for both modes: appended-so-far = total-after-batch
      // minus built (clamped at 0 — a pre-upgrade meta could overstate)
      .withColumn("growth_u6",
        when(col("n_index_edges") + col("n_new_edges") > 0,
          expr(s"CAST((CAST(1000000 AS $dec) * " +
            "CAST(greatest(CAST(0 AS BIGINT), n_index_edges + " +
            s"n_new_edges - n_built_edges) AS $dec))" +
            s" DIV (CAST(n_index_edges AS $dec) + " +
            s"CAST(n_new_edges AS $dec)) AS BIGINT)"))
        .otherwise(lit(0L)))
      .withColumn("degrade",
        (col("n_batch") > 0 && col("reach_u6") < reachThresholdU6) ||
          col("growth_u6") >= growthThresholdU6)
      .select("n_batch", "n_reached", "n_new_edges", "n_index_edges",
        "n_built_edges", "reach_u6", "growth_u6", "degrade")
      .localCheckpoint(true) // 1-row report; no pinned intermediates ride
    out
  }

  /** kNN LABEL CLASSIFICATION — propagate labels from the k nearest
    * corpus vectors to each query (label transfer / semi-supervised
    * labeling / quality-tag propagation over an embedding store):
    * majority vote over the exact top-k neighbors, ties broken by the
    * smallest label, so the prediction is fully deterministic and
    * oracle-checkable.
    *
    * Neighbors come from [[bruteForceTopK]] (the exact baseline — query
    * set broadcast-sized by contract). The 100 TB path swaps in any
    * rank-compatible neighbor source ([[annTopK]], [[ivfProbe]],
    * [[pqProbeRerank]]) via [[knnClassifyFrom]] — they share the
    * (query_id, vec_id) output schema, so the vote stage is identical.
    *
    * @return (query_id, pred_label, n_votes) — n_votes of k for the
    *         winning label
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                  labelCol: String = "label",
                  queryIdCol: String = "query_id",
                  corpusIdCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    knnClassifyFrom(
      bruteForceTopK(queries, corpus, k, queryIdCol, corpusIdCol, vecCol),
      corpus, labelCol, corpusIdCol)

  /** The vote stage of [[knnClassify]] over ANY neighbor table with
    * (query_id, vec_id) columns — one equi-join against the corpus labels
    * and two map-side-combinable aggregates (`min_by` argmax: votes desc,
    * then label asc — no window).
    */
  def knnClassifyFrom(neighbors: DataFrame, corpus: DataFrame,
                      labelCol: String = "label",
                      corpusIdCol: String = "vec_id"): DataFrame = {
    val labels = corpus.select(col(corpusIdCol).as("vec_id"),
      col(labelCol).as("_lbl"))
    neighbors.select("query_id", "vec_id")
      .join(labels, Seq("vec_id"))
      .groupBy("query_id", "_lbl")
      .agg(count(lit(1)).as("_votes"))
      .groupBy("query_id")
      .agg(min_by(struct(col("_lbl").as("l"), col("_votes").as("v")),
        struct(-col("_votes"), col("_lbl"))).as("_best"))
      .select(col("query_id"),
        col("_best").getField("l").as("pred_label"),
        col("_best").getField("v").as("n_votes"))
  }

  /** Hard-negative mining for contrastive / embedding training: for each
    * labeled query vector, the top-k most-similar corpus vectors whose
    * label DIFFERS — the near-miss examples a bi-encoder or reranker
    * learns the most from (the in-batch-negatives upgrade every dense
    * retrieval recipe ships).
    *
    * Brute-force scoring against a broadcast query set (queries are
    * training-batch-sized BY NATURE); at 100 TB swap the candidate source
    * for [[annTopK]]/[[ivfProbe]] and feed it through
    * [[hardNegativesFrom]] — the label filter and rerank are
    * neighbor-source-agnostic. Rows with a NULL label (either side) are
    * excluded EXPLICITLY: a null label cannot certify "different class",
    * and leaving it to `=!=`'s three-valued logic would silently drop
    * query rows too.
    *
    * Ids are assumed to share ONE namespace (queries drawn from the corpus
    * id space, the [[bruteForceTopK]] convention): `query_id = vec_id`
    * pairs are excluded as self-matches. With independent id spaces,
    * offset one side first — otherwise a legitimate negative that happens
    * to collide on id is silently skipped (and a NULL id nulls the
    * predicate and drops the pair).
    *
    * @return (query_id, vec_id, rank) with rank ≤ k per query, ordered by
    *         cosine desc then vec_id (the [[bruteForceTopK]] tie rule)
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                    labelCol: String = "label",
                    queryIdCol: String = "query_id",
                    corpusIdCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries
      .filter(col(labelCol).isNotNull)
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"),
        col(labelCol).as("_qlbl")))
    val c = corpus.filter(col(labelCol).isNotNull)
      .select(col(corpusIdCol).as("vec_id"), col(vecCol).as("_cv"),
        col(labelCol).as("_clbl"))
    // list-sized × corpus: broadcast BNLJ by construction, never a shuffle
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("vec_id"))
      .filter(col("_qlbl") =!= col("_clbl"))
      .withColumn("_cos", cosine_sim(col("_qv"), col("_cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("_cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
  }

  /** The label-filter + rerank stage of [[hardNegatives]] over ANY
    * candidate table with (query_id, vec_id, cosine) columns — e.g.
    * [[annTopK]] or [[ivfProbe]] output with a generous k. Joins the two
    * dimension-sized label tables and keeps the top-k different-label
    * candidates per query.
    */
  def hardNegativesFrom(candidates: DataFrame, queries: DataFrame,
                        corpus: DataFrame, k: Int = 5,
                        labelCol: String = "label",
                        queryIdCol: String = "query_id",
                        corpusIdCol: String = "vec_id"): DataFrame = {
    val ql = queries.filter(col(labelCol).isNotNull)
      .select(col(queryIdCol).as("query_id"), col(labelCol).as("_qlbl"))
    val cl = corpus.filter(col(labelCol).isNotNull)
      .select(col(corpusIdCol).as("vec_id"), col(labelCol).as("_clbl"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    candidates.select("query_id", "vec_id", "cosine")
      .join(broadcast(ql), Seq("query_id"))
      .join(cl, Seq("vec_id"))
      .filter(col("_qlbl") =!= col("_clbl"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
  }

  /** Per-label embedding CENTROIDS (class prototypes — the Rocchio /
    * nearest-class-mean building block, also the "label medoid" input of
    * prototype-based curation): element-wise mean per label, returned in
    * the pos-exploded form `(label, pos, mean)` — that shape is exactly
    * SQL-replayable (each mean rounds to 6 dp; an array column would hash
    * engine-dependently). One narrow posexplode + one map-side-combinable
    * aggregation; `asArrays` regroups to `(label, centroid)` for feeding
    * [[bruteForceTopK]]-style consumers.
    */
  def labelCentroids(embeddings: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "_x")))
      .groupBy("label", "pos")
      .agg(round(avg(col("_x")), 6).as("mean"))

  /** Regroup [[labelCentroids]] output to `(label, centroid:
    * array<float>)`.
    */
  def centroidsAsArrays(centroids: DataFrame): DataFrame =
    centroids.groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean").cast("float")).as("centroid"))

  /** Nearest-class-mean (Rocchio) classification: score each query
    * against the per-label centroid table ([[centroidsAsArrays]] shape —
    * label-count-sized, broadcast) and keep the argmax-cosine label
    * (ties → smallest label). The cheap sibling of [[knnClassify]]: one
    * broadcast fan-out + a `max_by` partial aggregate per query — no
    * per-query neighbor search at all, the right tool when classes are
    * unimodal in embedding space.
    *
    * @return (query_id, pred_label, round(cosine, 6) as score)
    */
  def centroidClassify(queries: DataFrame, centroids: DataFrame,
                       queryIdCol: String = "query_id",
                       vecCol: String = "embedding"): DataFrame = {
    // the label-count-sized centroid table folds into ONE broadcast row
    // and the argmin is a narrow array fold — no shuffle of the query
    // stream (the assignToCentroids shape: the old crossJoin fan-out +
    // groupBy(query_id).min_by exchange merged nothing under its
    // map-side partial agg, guide §2.4). Ordinal unchanged:
    // (-cos, label) under the same null-first struct ordering min_by
    // used — highest cosine wins, ties to the smallest label, numeric
    // AND string labels. size > 0 keeps the empty-centroid-table
    // no-rows case; row-per-input-row under the unique-query-id
    // contract, as before.
    val cArr = centroids.agg(
      collect_list(struct(col("label"), col("centroid"))).as("_cs"))
    queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(broadcast(cArr))
      .filter(size(col("_cs")) > 0)
      // rank on the 6-dp ROUNDED cosine (repo oracle convention, like
      // bm25TopK): the DuckDB oracle's SUM accumulation order isn't
      // pinned, so near-tie centroids could order differently cross-engine
      // if the unrounded value decided the winner
      .withColumn("_best",
        array_min(transform(col("_cs"), c =>
          struct((-round(cosine_sim(col("_qv"), c.getField("centroid")), 6))
            .as("nc"), c.getField("label").as("l")))))
      .select(col("query_id"),
        col("_best").getField("l").as("pred_label"),
        (-col("_best").getField("nc")).as("score"))
  }

  /** Per-vector int8 scalar quantization — the storage tier under any
    * 100 TB embedding store (4 bytes/dim float → 1 byte/dim code + two
    * doubles of per-vector scale metadata = 4× less shuffle/scan/cache on
    * every similarity pass that can tolerate ~scale/2 per-dim error).
    *
    * Codes: q_i = round((x_i − min) / scale), scale = (max − min) / 255,
    * so q ∈ [0, 255]; dequantize as min + q·scale (error ≤ scale/2 per
    * dim, asserted in the unit spec). Constant vectors (scale 0) quantize
    * to all-zero codes. Everything is a codegen'd higher-order-function
    * pipeline over the array column — one narrow pass, no shuffle.
    *
    * @return input columns + `codes` (array<int>), `q_min` (double),
    *         `q_scale` (double)
    */
  def quantizeInt8(embeddings: DataFrame,
                   vecCol: String = "embedding"): DataFrame = {
    val e = transform(col(vecCol), x => x.cast("double"))
    embeddings
      .withColumn("q_min", array_min(e))
      .withColumn("q_scale", (array_max(e) - col("q_min")) / lit(255.0))
      .withColumn("codes",
        when(col("q_scale") > 0d, transform(e,
          x => round((x - col("q_min")) / col("q_scale")).cast("int")))
          .otherwise(transform(e, _ => lit(0))))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: fuse any number of per-query
    * rankings (a BM25 leg, a dense-ANN leg, …) by
    * `score(doc) = Σ_legs 1 / (k0 + rank)`, rank fused candidates on the
    * 6-dp-ROUNDED score (ties → smallest doc id — the repo oracle
    * convention). Rank-only fusion needs no score calibration between
    * legs, which is why it beats score interpolation in practice.
    *
    * Scale shape: each leg is already top-k-per-query (candidate-sized,
    * NOT corpus-sized), so the union + (query, doc) aggregate + per-query
    * window all run over ≤ legs × k rows per query. With exactly two legs
    * the double sum is commutative-exact (a+b); with more legs the
    * 6-dp rounding absorbs summation order (and 1/(k0+r) never sits on a
    * decimal half-boundary, unlike small-integer ratios).
    *
    * @param rankings per-leg DataFrames carrying (queryIdCol, docIdCol,
    *   rankCol) with rank 1-based
    * @return (query_id, docIdCol, rrf, n_legs, fused_rank ≤ topK)
    */
  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversification pass after any top-N retrieval:
    * iteratively select the candidate maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-selected set`, so
    * near-duplicate hits don't crowd the result list.
    *
    * Greedy selection is inherently sequential PER QUERY — but the input
    * is a top-N candidate table (bounded per query by construction), so
    * one `flatMapGroups` pass runs the O(k·N) greedy per query with the
    * candidates of that query alone in memory; queries parallelize
    * freely, the corpus is never touched. Deterministic: ties break on
    * the smallest doc id, float math is plain double arithmetic over the
    * given scores/embeddings. Model-free and engine-exact, but the
    * iterative argmax isn't SQL-expressible — rows-only contract, unit
    * goldens pin the selection.
    *
    * @param candidates (queryIdCol, docIdCol, scoreCol,
    *   vecCol: array<float>) — top-N per query from any retriever
    * @return (query_id, doc_id, mmr_rank 1..k) — selection order
    */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double = 0.7,
                queryIdCol: String = "query_id",
                docIdCol: String = "doc_id",
                scoreCol: String = "score",
                vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && lambda >= 0.0 && lambda <= 1.0)
    val spark = candidates.sparkSession
    import spark.implicits._
    // a NaN score poisons every marginal-relevance comparison (argmax
    // finds no candidate and the greedy would fail) and a null embedding
    // NPEs the cosine — drop such rows up front rather than crash a task
    candidates.select(col(queryIdCol).cast("long"), col(docIdCol).cast("long"),
        col(scoreCol).cast("double"), col(vecCol))
      .filter(col(vecCol).isNotNull && !isnan(col(scoreCol)) &&
        col(scoreCol).isNotNull)
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(c => (-c._3, c._2)) // relevance, then id
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          val n = math.min(a.length, b.length)
          while (i < n) {
            dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i); i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val chosen = scala.collection.mutable.BitSet.empty
        var exhausted = false
        while (!exhausted && selected.length < math.min(k, cand.length)) {
          var bestIdx = -1
          var bestVal = Double.NegativeInfinity
          var i = 0
          while (i < cand.length) {
            if (!chosen(i)) {
              val maxSim =
                if (selected.isEmpty) 0.0
                else selected.iterator
                  .map(j => cos(cand(i)._4, cand(j)._4)).max
              val v = lambda * cand(i)._3 - (1.0 - lambda) * maxSim
              // strict > with candidates pre-sorted (score desc, id asc)
              // makes ties deterministic: first (highest-score, lowest-id)
              if (v > bestVal) { bestVal = v; bestIdx = i }
            }
            i += 1
          }
          if (bestIdx < 0) exhausted = true // unreachable with the NaN filter
          else {
            chosen += bestIdx
            selected += bestIdx
          }
        }
        selected.iterator.zipWithIndex.map { case (i, r) =>
          (qid, cand(i)._2, r + 1)
        }
      }
      .toDF(queryIdCol, docIdCol, "mmr_rank")
  }

  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60, topK: Int = 10,
              queryIdCol: String = "query_id", docIdCol: String = "doc_id",
              rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty && k0 >= 0 && topK > 0)
    // each leg must be a rank table: one row per (query, doc) — a leg
    // with duplicates would double-count its reciprocal contribution
    require(!Seq("rrf", "n_legs", "fused_rank").exists(
      rankings.head.columns.contains),
      "rrfFuse reserves rrf, n_legs, fused_rank; rename the leg columns")
    val unioned = rankings.map(_.select(col(queryIdCol).as("query_id"),
        col(docIdCol).as("_doc"), col(rankCol).cast("long").as("_r")))
      .reduce(_ union _)
    val fused = unioned.groupBy("query_id", "_doc")
      .agg(round(sum(lit(1.0) / (lit(k0.toDouble) + col("_r"))), 6).as("rrf"),
        count(lit(1)).as("n_legs"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("_doc"))
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
      .select(col("query_id"), col("_doc").as(docIdCol), col("rrf"),
        col("n_legs"), col("fused_rank"))
  }

  /** Retrieval-quality metrics of a ranked run against a relevance table
    * (qrels), as exact integers per query: `n_relevant` (total relevant
    * docs judged for the query), `n_hits_at_k` (relevant docs in the
    * top-k — precision@k = /k, recall@k = /n_relevant) and
    * `first_hit_rank` (the MRR numerator source; 0 when no relevant doc
    * was retrieved AT ANY rank). Works over any ranked table — BM25,
    * ANN, PQ, or [[rrfFuse]] output — which is the point: one metrics
    * operator evaluates every retrieval leg and their fusion uniformly.
    *
    * Scale shape: qrels dedup + one (query, doc) equi-join + two narrow
    * aggregates; the base row set is the RUN's query list (left joins),
    * so queries with zero judged-relevant docs still report. Null
    * query/doc ids on either side are dropped (a judgment without an id
    * judges nothing).
    *
    * @param ranked (queryIdCol, docIdCol, rankCol) — one row per
    *               retrieved (query, doc), rank 1-based
    * @param qrels  (queryIdCol, docIdCol) — the judged-relevant pairs
    * @return (query_id, n_relevant, n_hits_at_k, first_hit_rank)
    */
  def retrievalMetrics(ranked: DataFrame, qrels: DataFrame, k: Int,
                       queryIdCol: String = "query_id",
                       docIdCol: String = "doc_id",
                       rankCol: String = "rank"): DataFrame = {
    require(k > 0)
    val r = ranked
      .filter(col(queryIdCol).isNotNull && col(docIdCol).isNotNull)
      .select(col(queryIdCol).as("query_id"), col(docIdCol).as("_doc"),
        col(rankCol).cast("long").as("_r"))
    val q = qrels
      .filter(col(queryIdCol).isNotNull && col(docIdCol).isNotNull)
      .select(col(queryIdCol).as("query_id"), col(docIdCol).as("_doc"))
      .distinct()
    val rel = q.groupBy("query_id").agg(count(lit(1)).as("n_relevant"))
    val hits = r.join(q, Seq("query_id", "_doc"))
      .groupBy("query_id")
      .agg(sum(when(col("_r") <= k, 1L).otherwise(0L)).as("n_hits_at_k"),
        min(col("_r")).as("_fh"))
    r.select("query_id").distinct()
      .join(rel, Seq("query_id"), "left_outer")
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("n_hits_at_k"), lit(0L)).as("n_hits_at_k"),
        coalesce(col("_fh"), lit(0L)).as("first_hit_rank"))
  }

  /** Deterministic ±1 sign for the random-projection matrix: parity of
    * the first hex digit of md5("seed:i:j") — reproducible across
    * engines, sessions, and languages (the matrix IS the seed string, so
    * a projection written today can be extended or re-verified years
    * later without storing it).
    */
  def rpSign(seed: String, i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
    if (((h(0) >>> 4) & 1) == 0) 1 else -1
  }

  /** Random projection (Johnson–Lindenstrauss via Achlioptas 2003 ±1
    * signs): reduce `inDim`-d embeddings to `outDim` dimensions as
    * y_j = Σ_i sign(i,j)·x_i — the standard cheapening step BEFORE
    * LSH banding, k-means cells, or pairwise scans when the source
    * embedding is wide (JL: O(ln n / ε²) dims preserve pairwise
    * distances to 1±ε regardless of inDim). Signs come from [[rpSign]],
    * so no projection matrix is ever stored or shuffled.
    *
    * Scale shape: a pure narrow map — the whole projection is one
    * codegen'd left-associated add/subtract chain per output dim (no
    * explode-join of an (i, j) sign table, which would fan the corpus
    * out inDim·outDim×); no shuffle, no state, trivially
    * partition-parallel. Rows whose vector is null or not `inDim` long
    * are dropped (the projection is undefined for them).
    *
    * Output is long-form (one row per (id, out_dim)) with the 6-dp
    * rounded value — the add chain is evaluated in ascending-i order on
    * every engine, so values are bit-identical cross-engine before the
    * rounding even applies. Scale normalization (1/√outDim) is left to
    * the caller: downstream cosine is scale-invariant.
    *
    * @return (idCol, out_dim, value)
    */
  def randomProject(vecs: DataFrame, inDim: Int, outDim: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    seed: String = "rp"): DataFrame = {
    require(inDim > 0 && outDim > 0, "dimensions must be positive")
    val comps = (0 until outDim).map { j =>
      val terms = (0 until inDim).map { i =>
        val e = element_at(col(vecCol), i + 1).cast("double")
        (rpSign(seed, i, j), e)
      }
      val head = if (terms.head._1 > 0) terms.head._2 else -terms.head._2
      val sum = terms.tail.foldLeft(head) { case (acc, (s, e)) =>
        if (s > 0) acc + e else acc - e
      }
      round(sum, 6)
    }
    vecs.filter(col(vecCol).isNotNull && size(col(vecCol)) === inDim)
      .select(col(idCol),
        posexplode(array(comps: _*)).as(Seq("out_dim", "value")))
  }

  /** Exact integer second moments of the embedding matrix — the
    * covariance sufficient statistics, published per the integer
    * data-card rule (the consumer divides):
    *
    *   cov(i, j) = s_ij/n − (s_i/n)(s_j/n)   on the quantized lattice.
    *
    * Values are quantized FIRST (`round(x · quantScale)` as a long — a
    * float's value times 1e6 is exact in double arithmetic, so the
    * rounding is unambiguous cross-engine), and every sum is then
    * integer-exact and ORDER-INDEPENDENT: the one statistic family where
    * a float formulation would hash-flake on parallel summation order.
    *
    * Scale shape: one corpus scan into ONE [[graft.functions
    * .TriMomentsAgg tri_moments]] aggregation buffer — per-task state is
    * d(d+1)/2 + d long/BigInteger cells (dimension-sized, never corpus-
    * sized), the per-row work is a tight JIT long multiply-add loop, and
    * map-side partials shuffle one buffer per partition. (The
    * declarative spelling — posexplode the pair triangle, decimal-sum
    * per (i, j) — computes the same integers but pays interpreted
    * lambda + hash-probe + BigDecimal machinery per PAIR per ROW:
    * measured 15× slower at 5k×64-d, 31 s vs 2 s.) Accumulation rolls long lanes
    * into BigInteger before overflow, so the sums are exact at any
    * corpus size; outputs cast to BIGINT — valid while n · quantScale²
    * ≤ 2⁶³ per pair (~9e6 rows per 1.0-magnitude dimension at the 1e6
    * default, ~9e12 rows at quantScale = 1e3 — pick the scale for the
    * corpus; PCA fitting uses [[pcaFit]]'s double path instead).
    *
    * Rows with null or wrong-dimension vectors are dropped (moments are
    * undefined for them).
    *
    * @return (i, j, n, s_i, s_j, s_ij) for 0 ≤ i ≤ j < dim
    */
  def embeddingMoments(vecs: DataFrame, dim: Int,
                       quantScale: Long = 1000000L,
                       vecCol: String = "embedding"): DataFrame = {
    require(dim > 0 && dim <= 4096, s"need 0 < dim <= 4096 (got $dim)")
    require(quantScale > 0, s"need quantScale > 0 (got $quantScale)")
    val q = transform(col(vecCol),
      x => round(x.cast("double") * quantScale).cast("long"))
    vecs
      // a null ELEMENT makes the row's moments undefined too (and would
      // NPE the aggregate's primitive extraction) — drop, like null rows
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim &&
        !exists(col(vecCol), _.isNull))
      .agg(graft.functions.TriMoments.tri_moments(q, dim).as("_tm"))
      .select(col("_tm.n").as("n"), explode(col("_tm.moments")).as("_m"))
      // empty corpus -> empty result (the GROUP-BY spelling's semantics),
      // not a triangle of zeros from the global aggregate's one row
      .filter(col("n") > 0)
      .select(col("_m.i").as("i"), col("_m.j").as("j"), col("n"),
        col("_m.s_i").cast("long").as("s_i"),
        col("_m.s_j").cast("long").as("s_j"),
        col("_m.s_ij").cast("long").as("s_ij"))
  }

  /** Fitted PCA basis: `mean` (d), `components` (k rows of d — unit,
    * mutually orthogonal, eigenvalue-descending, sign-normalized so each
    * row's largest-|coordinate| entry is positive), `eigenvalues` (k).
    */
  case class PcaModel(dim: Int, k: Int, mean: Array[Double],
                      components: Array[Array[Double]],
                      eigenvalues: Array[Double])

  /** PCA fit via one-pass covariance + driver-side Jacobi eigensolve —
    * the principled narrowing step before ANN/k-means when random
    * projection's distance guarantee isn't enough (PCA keeps maximum
    * variance for the chosen k; JL keeps pairwise distance).
    *
    * Scale shape: the corpus contributes exactly ONE scan through the
    * same [[graft.functions.TriMomentsAgg tri_moments]] buffer as
    * [[embeddingMoments]] (dimension-sized state, tight long loop,
    * exact BigInteger totals); the driver collects ONE row. The
    * `quantScale` lattice bounds the moment error at 0.5/quantScale per
    * coordinate — 5e-7 at the default, below a float input's own
    * resolution. The d×d eigensolve is driver-side by design: it is
    * O(d³) on a matrix whose size is set by the EMBEDDING WIDTH, not
    * the corpus — 64² doubles at any number of rows. Cyclic Jacobi
    * (Golub & Van Loan §8.5): unconditionally convergent for symmetric
    * matrices, no external linear-algebra dependency.
    */
  def pcaFit(vecs: DataFrame, k: Int, dim: Int,
             vecCol: String = "embedding",
             quantScale: Long = 1000000L): PcaModel = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim (got k=$k dim=$dim)")
    val q = transform(col(vecCol),
      x => round(x.cast("double") * quantScale).cast("long"))
    val head = vecs
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim &&
        !exists(col(vecCol), _.isNull))
      .agg(graft.functions.TriMoments.tri_moments(q, dim).as("_tm"))
      .select("_tm.n", "_tm.moments")
      .head() // ONE dimension-sized row
    val n = head.getAs[Long]("n").toDouble
    require(n > 0, "pcaFit: no rows with the expected dimension")
    val s = quantScale.toDouble
    val mean = new Array[Double](dim)
    val cov = Array.ofDim[Double](dim, dim)
    val moments = head.getSeq[org.apache.spark.sql.Row](1)
    moments.foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      if (i == j)
        mean(i) = r.getAs[java.math.BigDecimal]("s_i").doubleValue() / n / s
    }
    moments.foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      val sij = r.getAs[java.math.BigDecimal]("s_ij").doubleValue()
      val c = sij / n / (s * s) - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.zipWithIndex.sortBy(-_._1).take(k)
    val comps = order.map { case (_, c) =>
      val v = Array.tabulate(dim)(r => vectors(r)(c))
      // sign convention: largest-|coordinate| entry positive, so the fit
      // is reproducible run-to-run despite eigenvector sign ambiguity
      val amax = v.indices.maxBy(i => math.abs(v(i)))
      if (v(amax) < 0) v.map(-_) else v
    }
    PcaModel(dim, k, mean, comps, order.map(_._1))
  }

  /** Cyclic Jacobi eigensolve for a symmetric matrix (in-place on a
    * copy). Returns (eigenvalues, eigenvector columns). O(d³) driver
    * work on a d×d input — bounded by embedding width.
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]],
                                 maxSweeps: Int = 64,
                                 tol: Double = 1e-12
                                ): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiagNorm(a)
    while (off > tol && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol / (d * d)) {
            // Rutishauser's stable rotation parameters (theta = 0 means
            // equal diagonal entries: the 45-degree rotation, t = 1)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Project embeddings onto a fitted [[PcaModel]]:
    * y_j = ⟨x, c_j⟩ − ⟨mean, c_j⟩. The mean term is a CONSTANT folded at
    * plan time, so each component is one zip_with/aggregate dot product
    * against a literal coefficient array — compact codegen (an unrolled
    * d-term chain per component overflows the 64 KB method limit and
    * drops the whole stage to interpreted mode), fixed left-to-right
    * summation order, nothing broadcast, shuffled, or stored. Null /
    * wrong-dimension vectors — and vectors containing null ELEMENTS —
    * are dropped (the same predicate as [[embeddingMoments]]/[[pcaFit]],
    * so fit and project see the same row set).
    *
    * @return (idCol, component, value) long-form, value rounded 6 dp
    */
  def pcaProject(vecs: DataFrame, model: PcaModel,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val comps = (0 until model.k).map { j =>
      val coeffs = array(model.components(j).map(lit): _*)
      val meanDot = (0 until model.dim)
        .map(i => model.mean(i) * model.components(j)(i)).sum
      round(aggregate(
        zip_with(col(vecCol), coeffs, (x, c) => x.cast("double") * c),
        lit(0.0d), (acc, v) => acc + v) - lit(meanDot), 6)
    }
    vecs.filter(col(vecCol).isNotNull && size(col(vecCol)) === model.dim
        && !exists(col(vecCol), _.isNull))
      .select(col(idCol),
        posexplode(array(comps: _*)).as(Seq("component", "value")))
  }
}
