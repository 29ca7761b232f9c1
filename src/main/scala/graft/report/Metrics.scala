package graft.report

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingestion-metrics report — the reference's 14 counters
  * (`src/research_index_backend/doi.py:202-283`) computed in ONE conditional
  * aggregation pass over the tracker DataFrame (partial + final hash agg:
  * no per-counter scans, no driver loops).
  */
object Metrics {

  /** Full 14-counter report, mirroring `doi.py ingestion_metrics()`.
    *
    * Tracker columns consumed: valid_pattern, duplicate, already_exists,
    * openaire_metadata, openalex_metadata, ingestion_success (the last three
    * optional — absent columns count as false). The reference's tracker is a
    * dict keyed by DOI, so every per-DOI counter here is scoped to
    * `!duplicate` rows (one row per distinct DOI); only `submitted_dois` and
    * `duplicated_submissions` look at the raw submission multiset.
    *
    * Reference semantics pinned:
    *  - processed = valid_pattern if update-mode else new (valid, first
    *    submission, not already present) — doi.py:205-207
    *  - metadata_pass / metadata_failure / openalex_success /
    *    openaire_success are scoped to processed (so a valid DOI that
    *    already exists and was never attempted is NOT a failure)
    *  - updated_existing_dois = processed && success && already_exists
    *  - ingested_dois is NOT processed-scoped (doi.py:235-239)
    *
    * @param totalTimeSeconds injectable wall-clock (reference stamps
    *   end_time - start_time; injected for determinism)
    */
  def ingestionReport(tracker: DataFrame, update: Boolean = false,
                      totalTimeSeconds: Double = 0.0): DataFrame = {
    val t = Seq("openaire_metadata", "openalex_metadata", "ingestion_success",
      "already_exists")
      .foldLeft(tracker)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(false)))
    def cnt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L)), lit(0L))
    val distinctDoi = !col("duplicate")
    val newDoi = distinctDoi && col("valid_pattern") && !col("already_exists")
    val processed =
      if (update) distinctDoi && col("valid_pattern") else newDoi
    t.agg(
      count(lit(1)).as("submitted_dois"),
      cnt(col("duplicate")).as("duplicated_submissions"),
      cnt(processed).as("processed_dois"),
      cnt(newDoi).as("new_dois"),
      cnt(distinctDoi && col("already_exists")).as("existing_dois"),
      cnt(processed && col("ingestion_success") && col("already_exists"))
        .as("updated_existing_dois"),
      cnt(distinctDoi && col("ingestion_success")).as("ingested_dois"),
      cnt(processed && col("ingestion_success")).as("metadata_pass"),
      cnt(processed && !col("ingestion_success")).as("metadata_failure"),
      cnt(distinctDoi && col("valid_pattern")).as("valid_pattern_dois"),
      cnt(distinctDoi && !col("valid_pattern")).as("invalid_pattern_dois"),
      cnt(processed && col("openalex_metadata")).as("openalex_success"),
      cnt(processed && col("openaire_metadata")).as("openaire_success"))
      .withColumn("total_time_seconds",
        round(lit(totalTimeSeconds), 3))
  }
}
