package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch / approximate-aggregate operators — the summary layer a 100 TB
  * corpus pipeline reports from without re-scanning raw data.
  *
  * Everything here is a built-in codegen'd aggregate (DataSketches HLL,
  * GK percentile summaries) or a plain two-stage exact aggregation; all
  * are mergeable map-side-partial shapes, and the HLL path exposes the
  * partial-sketch → union re-aggregation pattern explicitly: compute
  * per-slice (per-day / per-partition) binary sketches ONCE, then answer
  * any rollup by unioning sketches — bytes, not rows, cross the shuffle.
  */
object Sketches {

  /** Approximate distinct values of `valueCol` per group (DataSketches
    * HLL, relative error ≈ 1.04/sqrt(2^lgK) ≈ 1.6% at the default lgK=12).
    */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col(valueCol), lit(lgK))).as("approx_distinct"))

  /** Per-slice partial sketches: one binary HLL per (group, slice). This is
    * the artifact to PERSIST — any later rollup unions sketches instead of
    * re-scanning rows.
    */
  def hllPartials(df: DataFrame, groupCols: Seq[String], sliceCol: String,
                  valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy((groupCols :+ sliceCol).map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Roll partial sketches up to the group level: union then estimate.
    * Estimates are identical to sketching the unsliced data directly —
    * HLL union is lossless over the same lgK.
    */
  def hllMerge(partials: DataFrame, groupCols: Seq[String]): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("approx_distinct"))

  /** Per-group quantiles. `accuracy` is the GK summary size: memory is
    * O(accuracy) per group regardless of group cardinality, and any input
    * with fewer rows than `accuracy` is summarized exactly.
    */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      probs: Seq[Double],
                      accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(percentile_approx(col(valueCol),
        array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))

  /** Exact top-k heavy hitters per group: two-stage — hash-agg counts on
    * (group, value) (map-side partials absorb hot values), then a top-k
    * window over the DISTINCT values of each group (cardinality of the
    * sort is |distinct values|, not |rows|). Deterministic tie-break by
    * value.
    */
  def heavyHitters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   k: Int): DataFrame = {
    val counts = df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("n").desc, col(valueCol))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Approximate top-k heavy hitters per group via the Misra–Gries
    * mergeable summary ([[graft.functions.MisraGriesTopK]], a custom
    * Catalyst TypedImperativeAggregate — Spark has no built-in that can
    * ENUMERATE heavy items). One aggregation, state O(capacity) per
    * group, no |distinct|-sized sort: the at-scale alternative to
    * [[heavyHitters]] when the distinct-value set per group is itself
    * too big to rank exactly. Counts are under-estimates within
    * N/capacity; with capacity ≥ |distinct| the result is exact (the
    * oracle-checked regime).
    *
    * @return one row per (group, rank): groupCols + (item, est_count, rank)
    */
  def approxTopK(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 k: Int, capacity: Int = 4096): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.FreqSketch.approx_top_k(
        col(valueCol), capacity, k).as("_top"))
      .select(groupCols.map(col) :+ posexplode(col("_top")).as(Seq("_i", "_e")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("_e.item").as("item"),
        col("_e.est_count").as("est_count"),
        (col("_i") + 1).cast("int").as("rank")): _*)

  /** KMV (bottom-k) distinct-count PARTIAL sketches per (group, slice) —
    * the bottom-k twin of [[hllPartials]]: each row carries the k
    * smallest DISTINCT 60-bit md5-lattice hashes of `valueCol`
    * ([[graft.functions.MinKAgg]]: bounded O(k) aggregation state,
    * map-side-combinable, shuffles ≤ k longs per (partition, group)).
    * Persist these; any later rollup merges sketches instead of
    * re-scanning rows.
    *
    * Unlike HLL, bottom-k merge is EXACTLY lossless in all regimes
    * (bottom-k of a union of bottom-ks = bottom-k of the union — a
    * semilattice), and when the true distinct count is ≤ k the sketch
    * saw every distinct hash, so the estimate is EXACT and every
    * published field is an integer — deterministic and engine-replayable
    * (the certification regime). HLL stays the at-scale default when NDV
    * >> k (fixed 2^lgK bytes beats k·8); KMV is the tier that also gives
    * exactness below k and an integer contract.
    */
  def kmvPartials(df: DataFrame, groupCols: Seq[String], sliceCol: String,
                  valueCol: String, k: Int = 1024): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    df.groupBy((groupCols :+ sliceCol).map(col): _*)
      .agg(graft.functions.MinK.min_k(hash60(col(valueCol)), k).as("kmv"))
  }

  /** Roll KMV partial sketches up to the group level and estimate:
    * re-bottom-k the union of the partials' hashes (lossless), then
    * publish the integer contract fields —
    *
    *   - `k_eff`           |sketch| = min(k, distinct hashes seen)
    *   - `kth_hash60`      the largest sketch hash (threshold U·2⁶⁰)
    *   - `approx_distinct` k_eff when k_eff < k (EXACT: the sketch holds
    *                       every distinct hash — so the exact regime is
    *                       NDV < k; at NDV == k the sketch is full and
    *                       indistinguishable from NDV > k, so the
    *                       estimator answers); else the Beyer et al.
    *                       estimator floor((k−1)·2⁶⁰ / kth_hash60),
    *                       computed in DECIMAL so it cannot overflow,
    *                       with a kth == 0 guard (degenerate
    *                       all-zero-hash sketch → k_eff).
    *
    * 60-bit hashing keeps collision odds negligible below ~10⁹ distinct
    * keys ([[overlapEstimate]]'s convention); null values are skipped on
    * sketch build (a null key is not an identity).
    */
  def kmvMerge(partials: DataFrame, groupCols: Seq[String],
               k: Int = 1024): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    partials
      .select(groupCols.map(col) :+ explode(col("kmv")).as("_h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.MinK.min_k(col("_h"), k).as("_kmv"))
      .withColumn("k_eff", size(col("_kmv")))
      .withColumn("kth_hash60", element_at(col("_kmv"), -1))
      .withColumn("approx_distinct",
        when(col("k_eff") < k || col("kth_hash60") === 0L,
          col("k_eff").cast("long"))
          .otherwise(expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * " +
            "CAST(1152921504606846976 AS DECIMAL(38,0))) DIV " +
            "CAST(kth_hash60 AS DECIMAL(38,0)) AS BIGINT)")))
      .drop("_kmv")
  }

  /** One-shot KMV distinct per group (build + merge in one aggregation —
    * no slice level). Same contract fields as [[kmvMerge]].
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Int = 1024): DataFrame =
    kmvMerge(
      df.groupBy(groupCols.map(col): _*)
        .agg(graft.functions.MinK.min_k(hash60(col(valueCol)), k).as("kmv")),
      groupCols, k)

  /** The repo's standard 60-bit md5-lattice key hash (15 hex digits) —
    * shared by [[kmvPartials]]/[[kmvDistinct]] and [[overlapEstimate]].
    */
  private def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** KMV (bottom-k) SET-OVERLAP estimate between two key sets (Beyer et
    * al., SIGMOD 2007): "how many documents/urls/ids do corpus A and
    * corpus B share?" answered from two k-row sketches instead of an
    * |A|×|B|-scale join — the corpus-overlap audit that runs BEFORE
    * deciding whether two crawls are worth merging.
    *
    * Shape: each side reduces to its DISTINCT 60-bit md5-lattice key
    * hashes (one narrow map-side-combinable pass over each input); the
    * two hash sets full-outer-merge on the hash, and the k smallest union
    * hashes (a k-row TakeOrdered, never a global sort materialization)
    * form the combined sketch K. Published fields are ALL integers —
    * deterministic, engine-replayable:
    *
    *   - `k_eff`      |K| (= min(k, distinct(A ∪ B)))
    *   - `n_both`     |{h ∈ K : h ∈ A and h ∈ B}|
    *   - `n_a`,`n_b`  per-side members of K
    *   - `kth_hash60` max hash in K (the sketch threshold U·2⁶⁰)
    *
    * Estimators (compute downstream, floats stay out of the contract):
    * when `k_eff = k`, distinct(A ∪ B) ≈ (k−1)·2⁶⁰ / kth_hash60 and
    * Jaccard ≈ n_both/k, so intersection ≈ product of the two; when
    * `k_eff < k` the sketch saw EVERY key and n_both/k_eff counts are
    * exact. 60-bit hashing keeps collision odds negligible below ~10⁹
    * distinct keys per side; null keys are ignored (a null key is not a
    * shared identity). At 100 TB each side's bottom-k reduces
    * per-partition before the k-row heads ever cross the network.
    */
  def overlapEstimate(a: DataFrame, b: DataFrame, keyCol: String,
                      k: Int = 256): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    def hashes(df: DataFrame) = df
      .filter(col(keyCol).isNotNull)
      .select(conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long").as("_h"))
      .distinct()
    val ha = hashes(a).withColumn("_ina", lit(1L))
    val hb = hashes(b).withColumn("_inb", lit(1L))
    ha.join(hb, Seq("_h"), "full_outer")
      .select(col("_h"), coalesce(col("_ina"), lit(0L)).as("_ina"),
        coalesce(col("_inb"), lit(0L)).as("_inb"))
      .orderBy("_h").limit(k)
      .agg(count(lit(1)).as("k_eff"),
        // coalesce: sum/max over ZERO rows (both inputs empty) is NULL
        coalesce(sum(col("_ina") * col("_inb")), lit(0L)).as("n_both"),
        coalesce(sum(col("_ina")), lit(0L)).as("n_a"),
        coalesce(sum(col("_inb")), lit(0L)).as("n_b"),
        coalesce(max(col("_h")), lit(0L)).as("kth_hash60"))
  }
}
