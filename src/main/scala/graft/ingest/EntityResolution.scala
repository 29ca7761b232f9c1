package graft.ingest

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch author/output entity resolution.
  *
  * The reference resolves each author mention with a per-row fallback chain
  * of Bolt queries (`create_graph_from_doi.py:104-176`, `models.py:220-249`):
  *   1. ORCID equality match (P1/J5)
  *   2. fuzzy name verification of the ORCID hit (≥ 0.8 difflib ratio,
  *      reversed-order retry); on mismatch fall back to
  *   3. exact full-name match (P2) [models path], then initial+surname
  *      match (P3) [CLI path] — both reference entry points covered
  *   4. else create a new Author node.
  *
  * Here the whole chain is staged left-outer joins + a coalesce
  * priority, executed set-at-a-time. Intra-batch duplicates are canonicalized
  * with a window (first submission wins — reproducing the reference's
  * sequential first-occurrence-wins semantics deterministically, SURVEY.md
  * §7.5.2).
  *
  * Scale notes: the authors dimension is joined WITHOUT a broadcast hint —
  * Catalyst broadcasts it from size stats while it is small and AQE falls
  * back to a shuffled equi-join once it grows past the threshold (the
  * dimension is unbounded: forcing broadcast would OOM at 100×). The fuzzy
  * score only runs on ORCID-hit rows (a filter after an equi-join), not as
  * a similarity join.
  *
  * Note the reference bugs we deliberately do NOT reproduce (SURVEY.md
  * §7.5.3): it interpolates the literal `"https://orcid.org/{orcid}"` into
  * the ORCID match (so the match never hits), selects a misspelled
  * `a.list_name`, and re-fetches with broken Cypher. We implement the
  * documented intent.
  */
object EntityResolution {

  /** Deterministic UUID from a natural key — replaces the reference's
    * `uuid4()` minting (create_graph_from_doi.py:161) so runs are
    * reproducible and oracle-checkable (SURVEY.md §7.5.1).
    */
  def mintUuid(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = sha2(c.cast("string"), 256)
    lower(concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4),
      concat(lit("5"), substring(h, 14, 3)), // version nibble 5 (name-based)
      concat(lit("8"), substring(h, 18, 3)), // RFC 4122 variant
      substring(h, 21, 12)))
  }

  /** Resolve author mentions against the existing authors table.
    *
    * Fallback priority per mention: verified ORCID (J5+J9) → exact full
    * name (P2, the models.py:232-240 `Author.save` path) → initial+surname
    * (P3, the CLI create_graph_from_doi.py path) → mint. Implementing BOTH
    * name stages covers the reference's two entry points; `resolved_by`
    * records which stage won ("name" = exact full name, "initial" =
    * initial+surname).
    *
    * @param mentions  exploded author mentions:
    *   (doi, output_uuid, first_name, last_name, orcid, rank, mention_order)
    *   where mention_order is a global arrival index (for deterministic
    *   duplicate-winner selection).
    * @param authors   existing node table (uuid, first_name, last_name, orcid)
    * @param threshold ORCID-hit fuzzy verification threshold (default 0.8,
    *   reference config.py:20-25)
    * @return mentions + (author_uuid, resolved_by ∈
    *   {orcid, name, initial, minted})
    */
  def resolveAuthors(mentions: DataFrame, authors: DataFrame,
                     threshold: Double = 0.8): DataFrame = {
    val fullName = concat_ws(" ", col("first_name"), col("last_name"))
    val initialName =
      concat_ws(" ", substring(col("first_name"), 1, 1), col("last_name"))

    val dbOrcid = authors.filter(col("orcid").isNotNull).select(
      col("orcid"),
      col("uuid").as("_orcid_uuid"),
      concat_ws(" ", col("first_name"), col("last_name")).as("_orcid_name"))
    // one row per distinct key — LIMIT 1 any-match semantics (models.py:43)
    val dbOrcid1 = dbOrcid.withColumn("_rn",
      row_number().over(Window.partitionBy("orcid").orderBy("_orcid_uuid")))
      .filter(col("_rn") === 1).drop("_rn")

    val dbByName = authors.select(
      concat_ws(" ", col("first_name"), col("last_name")).as("_name_key"),
      col("uuid").as("_name_uuid"))
    val dbByName1 = dbByName.withColumn("_rn",
      row_number().over(Window.partitionBy("_name_key").orderBy("_name_uuid")))
      .filter(col("_rn") === 1).drop("_rn")

    val dbByInitial = authors.select(
      concat_ws(" ", substring(col("first_name"), 1, 1), col("last_name"))
        .as("_init_key"),
      col("uuid").as("_init_uuid"))
    val dbByInitial1 = dbByInitial.withColumn("_rn",
      row_number().over(Window.partitionBy("_init_key").orderBy("_init_uuid")))
      .filter(col("_rn") === 1).drop("_rn")

    // Stage 1: ORCID equi-join (J5). No forced broadcast: the authors
    // dimension is unbounded (tens of GB at 100×), so let Catalyst/AQE pick
    // broadcast from file-size stats when it IS small and fall back to a
    // shuffled equi-join when it isn't.
    val s1 = mentions.join(dbOrcid1, Seq("orcid"), "left_outer")
    // … Stage 2: fuzzy-verify the hit (J9) — score only computed on hits
    val verified = s1.withColumn("_orcid_ok",
      col("_orcid_uuid").isNotNull &&
        name_similarity(col("_orcid_name"), fullName) >= threshold)

    // Stage 2.5: exact full-name lookup (P2, models.py:232-240)
    val s2 = verified
      .withColumn("_name_key", fullName)
      .join(dbByName1, Seq("_name_key"), "left_outer")

    // Stage 3: initial+surname fallback (P3) for the remaining misses
    val s3 = s2
      .withColumn("_init_key", initialName)
      .join(dbByInitial1, Seq("_init_key"), "left_outer")

    val resolvedExisting = s3.withColumn("author_uuid",
      when(col("_orcid_ok"), col("_orcid_uuid"))
        .otherwise(coalesce(col("_name_uuid"), col("_init_uuid"))))
      .withColumn("resolved_by",
        when(col("_orcid_ok"), lit("orcid"))
          .when(col("_name_uuid").isNotNull, lit("name"))
          .when(col("_init_uuid").isNotNull, lit("initial")))

    // Stage 4: mint new authors for the rest. Canonical row per natural key
    // = first arrival (reference processes sequentially; first wins).
    // EXEMPT from the repo's no-window-over-full-rows rule: the window
    // partitions by the author NATURAL KEY, whose group size is the
    // mention count of one author within one ingest batch — bounded by
    // reference-scale semantics (a submission batch, not a corpus), so
    // no key can drag a corpus-sized partition into a single task the
    // way a text-fingerprint key can (the Dedup.exact r6 lesson).
    val natKey = coalesce(col("orcid"), lower(fullName))
    val w = Window.partitionBy("_nat_key").orderBy("mention_order")
    resolvedExisting
      .withColumn("_nat_key", natKey)
      .withColumn("author_uuid",
        when(col("author_uuid").isNotNull, col("author_uuid"))
          .otherwise(mintUuid(concat(lit("author:"), col("_nat_key")))))
      .withColumn("resolved_by", coalesce(col("resolved_by"), lit("minted")))
      .withColumn("_is_canonical",
        col("resolved_by") =!= "minted" || row_number().over(w) === 1)
      .drop("_orcid_uuid", "_orcid_name", "_orcid_ok", "_name_key",
        "_name_uuid", "_init_key", "_init_uuid")
  }

  /** New-author node rows from a resolution result: one row per minted
    * natural key (the canonical first-arrival mention).
    */
  def mintedAuthors(resolved: DataFrame): DataFrame = {
    resolved.filter(col("resolved_by") === "minted" && col("_is_canonical"))
      .select(col("author_uuid").as("uuid"), col("first_name"),
        col("last_name"), col("orcid"),
        lit(null).cast("string").as("openalex"))
  }

  /** Output (article) node rows: one per DOI, with a deterministic uuid
    * minted from the DOI. The dedup against stored outputs (J7; reference
    * models.py:165-168 skips creation on DOI match) is the store's:
    * `GraphStore.upsertNodes` anti-joins on `doi`.
    */
  def outputRows(parsed: DataFrame): DataFrame =
    parsed.dropDuplicates("doi")
      .withColumn("uuid", mintUuid(concat(lit("output:"), col("doi"))))

  /** author_of edge rows (J2): resolved mentions × new outputs, with rank.
    * MERGE semantics = dropDuplicates on the full edge key (S8).
    */
  def authorOfEdges(resolved: DataFrame): DataFrame = {
    resolved.select(
      col("author_uuid").as("src"),
      col("output_uuid").as("dst"),
      col("rank"))
      .dropDuplicates("src", "dst")
  }
}
