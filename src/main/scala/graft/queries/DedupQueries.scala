package graft.queries

import graft.Pins
import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Near-duplicate, contamination and fuzzy entity-resolution queries,
  * and the production twins that only Bench runs.
  */
object DedupQueries {

  /** Word-level 3-gram STRING shingles (distinct) — builtin-only, matches
    * the oracle's string_split construction exactly.
    */
  private def shingles3(text: org.apache.spark.sql.Column) = {
    // let-binding via a 1-element transform (the repetitionRatio trick):
    // higher-order functions are interpreted, so a lambda body that
    // references the split() SUBTREE re-runs it per element (O(len²) per
    // doc); bound to a lambda variable it evaluates once
    array_distinct(flatten(transform(array(split(text, " ")), w =>
      when(size(w) >= 3,
        transform(sequence(lit(0), size(w) - 3), i =>
          concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
            element_at(w, i + 3))))
        .otherwise(array().cast("array<string>")))))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_ngram_jaccard_pairs", (s, d) => {
      // word-3-gram inverted-index join on a subset; integer outputs only
      // (inter/size counts) so the oracle compare is exact. The df-cap (a
      // shingle in >100 docs is boilerplate: k² candidate rows, no signal)
      // is part of the query DEFINITION — mirrored in the oracle's HAVING —
      // so results stay engine-equal at every SF while the join is
      // skew-proof at corpus scale.
      val sh0 = par(s, t(s, d, "documents")).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      val sizes = sh0.groupBy("doc_id").agg(count(lit(1)).as("setsize"))
      val rare = sh0.groupBy("sh").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= 100).select("sh")
      val sh = sh0.join(rare, Seq("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh"))
      a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("id_a"),
          col("setsize").as("size_a")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"),
          col("setsize").as("size_b")), Seq("id_b"))
        .select("id_a", "id_b", "inter", "size_a", "size_b")
    }, Sql(
      """WITH sh0 AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id % 20 = 0) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |sizes AS (SELECT doc_id, count(*) AS setsize FROM sh0 GROUP BY doc_id),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 100),
        |sh AS (SELECT doc_id, s FROM sh0 JOIN rare USING (s)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, inter, sa.setsize AS size_a, sb.setsize AS size_b
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin)),

    QueryDef("q_ngram_containment", (s, d) => {
      // overlap-coefficient sibling of q_ngram_jaccard_pairs
      // (ops.Dedup.ngramContainmentPairs shape): containment
      // inter/min(sizes) catches a doc EMBEDDED in a larger one, where
      // jaccard dilutes toward 0 as the size gap grows. Same inverted
      // index, df-cap, and integer outputs; the 1/25 threshold applies
      // as an integer cross-multiply so the oracle compare stays exact
      // (0.04 — calibrated so the %20 sample yields pairs at BOTH gate
      // SFs: max containment there is 0.054 at sf0.01 / 0.22 at sf0.1,
      // so the old 0.3 made the query vacuously 0-row)
      val sh0 = par(s, t(s, d, "documents")).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      val sizes = sh0.groupBy("doc_id").agg(count(lit(1)).as("setsize"))
      val rare = sh0.groupBy("sh").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= 100).select("sh")
      val sh = sh0.join(rare, Seq("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh"))
      a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("id_a"),
          col("setsize").as("size_a")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"),
          col("setsize").as("size_b")), Seq("id_b"))
        .filter(col("inter") * 25 >= least(col("size_a"), col("size_b")))
        .select("id_a", "id_b", "inter", "size_a", "size_b")
    }, Sql(
      """WITH sh0 AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id % 20 = 0) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |sizes AS (SELECT doc_id, count(*) AS setsize FROM sh0 GROUP BY doc_id),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 100),
        |sh AS (SELECT doc_id, s FROM sh0 JOIN rare USING (s)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, inter, sa.setsize AS size_a, sb.setsize AS size_b
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE inter * 25 >= least(sa.setsize, sb.setsize)""".stripMargin)),

    QueryDef("q_decontaminate", (s, d) => {
      // eval-set decontamination (ops.Dedup.decontaminate shape): flag
      // train docs sharing >= 2 word-3-grams with any eval doc. eval =
      // doc_id < 50 (stand-in benchmark). Inverted-index join — the eval
      // side is benchmark-sized, so no quadratic term in the train side.
      val docs = par(s, t(s, d, "documents"))
      val sh = docs
        .select(col("doc_id"), explode(shingles3(col("text"))).as("_s"))
        .select(col("doc_id"), xxhash64(col("_s")).as("sh"))
      val train = sh.filter(col("doc_id") >= 50)
        .select(col("doc_id").as("train_id"), col("sh"))
      val ev = sh.filter(col("doc_id") < 50)
        .select(col("doc_id").as("eval_id"), col("sh"))
      train.join(ev, Seq("sh"))
        .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    }, Sql(
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g)
        |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        |  count(*) AS n_shared
        |FROM sh a JOIN sh b ON a.s = b.s
        |WHERE a.doc_id >= 50 AND b.doc_id < 50
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    QueryDef("q_dedup_minhash", (s, d) => {
      // MinHash-LSH near-dup pairs in the STAGED-FORM certification:
      // numHashes = 0 / bands = 1 puts every pair of the 1-in-10 sample
      // into one bucket, so the band-join/dedup/verify code path must
      // equal exact all-pairs shingle-Jaccard — replayed in SQL over
      // IDENTICAL shingle sets: the md5 shingle seam
      // (CorpusKernels.shingleHashesMd5) hashes each char-5-gram with
      // md5, and the oracle recomputes the same hash and dedups by IT,
      // so op and oracle agree by CONSTRUCTION (collisions collapse
      // identically on both sides — no probability argument). Threshold
      // 0.25 as the integer cross-multiply 4·inter >= union (a ratio
      // that lands exactly on 0.25 is IEEE-exact, so the double filter
      // and the integer filter agree). Deployment parameters (murmur
      // hashing, 128 hashes / 32 bands, full corpus) remain on the
      // recall specs.
      graft.ops.Dedup.minhashLsh(
        par(s, t(s, d, "documents")).filter(col("doc_id") % 10 === 0),
        threshold = 0.25, numHashes = 0, bands = 1, md5Seam = true)
        .select("id_a", "id_b")
    }, Sql(
      // the minhashLsh staged form: one global bucket admits every sample
      // pair, exact-jaccard verify == all-pairs Jaccard over md5-32
      // shingle hash sets (the op's seam hash, recomputed here — sets are
      // identical by construction), threshold 0.25 as 4·inter >= |A|+|B|−inter
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id % 10 = 0),
        |sh AS (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8))
        |      AS BIGINT) AS s
        |  FROM d, LATERAL (SELECT unnest(generate_series(1,
        |    len(text) - 4)) AS i) g),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b
        |FROM p JOIN sizes sa ON sa.doc_id = id_a
        |       JOIN sizes sb ON sb.doc_id = id_b
        |WHERE 4 * inter >= sa.n + sb.n - inter
        |UNION ALL
        |-- empty-empty shingle sets are kernel-jaccard 1.0: non-null
        |-- sub-5-char sample texts all-pair (nulls pair with nothing)
        |SELECT a.doc_id, b.doc_id
        |FROM (SELECT doc_id FROM d WHERE len(text) < 5) a
        |JOIN (SELECT doc_id FROM d WHERE len(text) < 5) b
        |  ON a.doc_id < b.doc_id""".stripMargin),
      discontinuity = Some("r10: md5 shingle seam replaced the murmur shingle " +
        "hash")),

    QueryDef("q_dedup_simhash", (s, d) => {
      // SimHash near-dup pairs over the FULL corpus with the md5 word-
      // hash certification seam (CorpusKernels.simHashMd5): the whole
      // pipeline — 64-bit signature (per-word ±1 bit votes), pigeonhole
      // band join, exact bit_count verify — replays in the oracle, which
      // computes the identical signatures from md5() and brute-forces
      // all pairs at hamming <= 3 (so the banding's COMPLETENESS is also
      // certified, like q_hamming_pairs). Production near-dup keeps the
      // MurmurHash3 word hash (same code path, hash swapped).
      graft.ops.Dedup.simhashPairs(par(s, t(s, d, "documents")),
        maxHamming = 3, md5Seam = true)
    }, Sql(
      // md5-seam SimHash replayed from scratch: per-word 64-bit hash from
      // the first 16 md5 hex digits (two 8-digit halves; the signed-hi
      // subtraction reconstructs (hi32 << 32) | lo32 without BIGINT
      // overflow), ±1 votes per bit position, sign-of-tally signature
      // (bit 63 added as the Long min literal — DuckDB's << errors at 63),
      // then BRUTE-FORCE all pairs at hamming <= 3 — certifying the
      // pigeonhole banding's completeness, not just its candidates
      """WITH words AS (
        |  SELECT doc_id, w FROM documents,
        |  unnest(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS t(w)
        |  WHERE text IS NOT NULL AND w <> ''),
        |wh AS (
        |  SELECT doc_id,
        |    ((CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
        |      - CASE WHEN CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
        |               >= 2147483648 THEN 4294967296 ELSE 0 END)
        |     * 4294967296
        |     + CAST(('0x' || substr(md5(w), 9, 8)) AS BIGINT)) AS h
        |  FROM words),
        |votes AS (
        |  SELECT doc_id, b.bit AS bit,
        |    SUM(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM wh, (SELECT unnest(range(0, 64)) AS bit) b
        |  GROUP BY 1, 2),
        |sig0 AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN cnt > 0 THEN
        |      CASE WHEN bit = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |           ELSE CAST((CAST(1 AS BIGINT) << CAST(bit AS INT))
        |                     AS HUGEINT) END
        |      ELSE 0 END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id),
        |sig AS MATERIALIZED (
        |  SELECT d.doc_id, coalesce(s.sh, 0) AS sh
        |  FROM documents d LEFT JOIN sig0 s USING (doc_id)
        |  WHERE d.text IS NOT NULL)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin),
      discontinuity = Some("r9: md5 certification seam replaced the murmur " +
        "word hash (~10x hash cost)")),

    QueryDef("q_hamming_pairs", (s, d) => {
      // the generic pigeonhole hamming band join (the engine under
      // simhashPairs / imageNearDups) over a DuckDB-reproducible
      // arithmetic signature: groups of 8 docs share a base pattern
      // spread across ALL FOUR 16-bit bands (overflow-safe shifted
      // multiplications — per-band keys are group-distinct, so buckets
      // hold one group, the realistic band-join regime), each member
      // flips one distinct low-band bit, so every intra-group pair is
      // hamming 2 — and the oracle brute-forces the identical predicate,
      // certifying the banding exact (complete, no cross join).
      val hashed = par(s, t(s, d, "documents")).select(col("doc_id"),
        expr("((doc_id div 8) * 1048573L) % 16777216L").bitwiseXOR(
          shiftleft(expr("((doc_id div 8) * 97911L) % 16777216L"), 24))
          .bitwiseXOR(
            shiftleft(expr("((doc_id div 8) * 31337L) % 262144L"), 44))
          .bitwiseXOR(
            expr("shiftleft(cast(1 as bigint), cast((doc_id % 8) * 5 as int))"))
          .as("hash64"))
      graft.ops.Dedup.hammingPairs(hashed, 3, "doc_id", "hash64")
    }, Sql(
      // brute-force over all pairs: the banded Spark plan must equal the
      // exhaustive predicate (pigeonhole blocking is complete)
      """WITH h AS (
        |  SELECT doc_id,
        |    xor(xor(((doc_id // 8) * 1048573) % 16777216,
        |            (((doc_id // 8) * 97911) % 16777216) << 24),
        |        xor((((doc_id // 8) * 31337) % 262144) << 44,
        |            1::BIGINT << CAST((doc_id % 8) * 5 AS INTEGER))) AS hash64
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hash64, b.hash64)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hash64, b.hash64)) <= 3""".stripMargin)),

    QueryDef("q_dedup_minhash_clusters", (s, d) => {
      // LSH pairs -> connected components -> canonical doc per cluster,
      // in the q_dedup_minhash STAGED FORM (numHashes = 0 / bands = 1 /
      // md5 shingle seam on the 1-in-10 sample): the pair set equals
      // exact all-pairs Jaccard over CONSTRUCTION-identical md5 shingle
      // sets, so the CC + canonical labeling rides an exact recursive
      // min-label oracle through the REAL clusters code path
      // (minhashLsh -> ConnectedComponents -> is_canonical). Deployment
      // blocking stays covered by q_dedup_minhash_incr and the recall
      // specs.
      graft.ops.Dedup.clusters(
        par(s, t(s, d, "documents")).filter(col("doc_id") % 10 === 0),
        threshold = 0.25, numHashes = 0, bands = 1, md5Seam = true)
    }, Sql(
      // q_dedup_minhash's staged pair set + the q_dedup_clusters
      // min-label recursive closure, over the sample universe; shingles
      // dedup by the SAME md5-32 hash the op's seam computes, so the sets
      // are construction-identical (no collision caveat)
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |sh AS (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8))
        |      AS BIGINT) AS s
        |  FROM d, LATERAL (SELECT unnest(generate_series(1,
        |    len(text) - 4)) AS i) g),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b
        |  FROM p JOIN sizes sa ON sa.doc_id = id_a
        |         JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE 4 * inter >= sa.n + sb.n - inter
        |  UNION ALL
        |  -- empty-empty shingle sets are kernel-jaccard 1.0 (nulls
        |  -- pair with nothing — the null-safe kernels return NULL)
        |  SELECT a.doc_id, b.doc_id
        |  FROM (SELECT doc_id FROM d WHERE len(text) < 5) a
        |  JOIN (SELECT doc_id FROM d WHERE len(text) < 5) b
        |    ON a.doc_id < b.doc_id),
        |sym AS (SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM sym
        |  UNION SELECT r.x, s2.y FROM reach r JOIN sym s2 ON r.y = s2.x)
        |SELECT d.doc_id,
        |  CAST(least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS BIGINT)
        |    AS cluster_id,
        |  least(d.doc_id, coalesce(min(r.y), d.doc_id)) = d.doc_id
        |    AS is_canonical
        |FROM d LEFT JOIN reach r ON r.x = d.doc_id
        |GROUP BY d.doc_id""".stripMargin),
      discontinuity = Some("r10: md5 shingle seam")),

    QueryDef("q_dedup_clusters", (s, d) => {
      // exact n-gram Jaccard pairs (SQL-reproducible, same construction as
      // q_ngram_jaccard_pairs) -> connected components -> canonical per
      // cluster. cluster_id = min doc id in the cluster, so the whole
      // result is a deterministic function the oracle replays as a
      // min-label fixpoint (WITH RECURSIVE).
      val docs = par(s, t(s, d, "documents"))
      // shingles hashed to 8-byte keys before the self-join (same pair
      // counts; strings never shuffle); the pair aggregation runs FIRST
      // and only the surviving (small) pair table re-joins the tiny sizes
      // dimension (broadcast). The df-cap (shingles in > 100 docs are
      // corpus boilerplate: k² candidate rows, no signal) is part of the
      // query DEFINITION, mirrored in the oracle's HAVING — results stay
      // engine-equal while the self-join is skew-proof at corpus scale.
      // Set sizes stay PRE-cap so the Jaccard denominator is the true set
      // size (capping only shrinks the intersection — conservative).
      // pin the exploded shingle table ONCE: it feeds four consumers
      // (sizes, the df-cap, both self-join sides) and would otherwise
      // re-run the explode+hash per consumer where exchange reuse doesn't
      // kick in. ~16 bytes/row pinned, released before returning.
      val sh0 = docs
        .select(col("doc_id"), explode(shingles3(col("text"))).as("_s"))
        .select(col("doc_id"), xxhash64(col("_s")).as("sh"))
        .localCheckpoint(true)
      val sizes = sh0.groupBy("doc_id").agg(count(lit(1)).as("setsize"))
      val rare = sh0.groupBy("sh").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= 100).select("sh")
      val sh = sh0.join(rare, Seq("sh"))
      val pairs = sh.select(col("doc_id").as("id_a"), col("sh"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("id_a"),
          col("setsize").as("size_a")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"),
          col("setsize").as("size_b")), Seq("id_b"))
        .filter(col("inter") / (col("size_a") + col("size_b") - col("inter"))
          >= 0.5)
        .select("id_a", "id_b")
      // clustersFromPairs reads pairs only through its connected
      // components pins, so nothing reads sh0 afterwards
      val out = graft.ops.Dedup.clustersFromPairs(docs, pairs)
      Pins.release(sh0)
      out
    }, Sql(
      """WITH RECURSIVE
        |sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |sizes AS (SELECT doc_id, count(*) AS setsize FROM sh0 GROUP BY doc_id),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 100),
        |sh AS (SELECT doc_id, s FROM sh0 JOIN rare USING (s)),
        |p0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM p0
        |  JOIN sizes sa ON sa.doc_id = p0.id_a
        |  JOIN sizes sb ON sb.doc_id = p0.id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.setsize + sb.setsize - inter) >= 0.5),
        |sym AS (SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(x, y) AS (SELECT x, y FROM sym
        |  UNION SELECT r.x, s2.y FROM reach r JOIN sym s2 ON r.y = s2.x)
        |SELECT d.doc_id,
        |  CAST(least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS BIGINT)
        |    AS cluster_id,
        |  least(d.doc_id, coalesce(min(r.y), d.doc_id)) = d.doc_id
        |    AS is_canonical
        |FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
        |GROUP BY d.doc_id""".stripMargin)),

    QueryDef("q_dedup_incremental", (s, d) => {
      // cross-batch dedup (ops.Dedup.incremental): docs arriving as a new
      // batch (doc_id >= 250) kept only when novel vs the existing corpus
      // (doc_id < 250) and first within their batch duplicate group.
      // md5 fingerprint here for engine parity; production uses the
      // rolling-hash kernel default.
      val docs = par(s, t(s, d, "documents"))
      graft.ops.Dedup.incremental(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250),
        fingerprint = md5(_))
        .select("doc_id", "source")
    }, Sql(
      """WITH c AS (SELECT DISTINCT md5(text) AS fp FROM documents
        |           WHERE doc_id < 250),
        |b AS (SELECT doc_id, source, md5(text) AS fp FROM documents
        |      WHERE doc_id >= 250),
        |f AS (SELECT fp, min(doc_id) AS doc_id FROM b GROUP BY 1)
        |SELECT b.doc_id, b.source
        |FROM b JOIN f ON b.fp = f.fp AND b.doc_id = f.doc_id
        |WHERE b.fp NOT IN (SELECT fp FROM c)""".stripMargin)),

    QueryDef("q_dup_spans", (s, d) => {
      // exact duplicate-substring detection (ops.Dedup.duplicateSpans):
      // every 60-char gram occurring >= 2 times corpus-wide, counted
      // exactly — hash-keyed first pass, count-gated survivor broadcast
      // (shuffled-join fallback past the cap), exact regroup (Lee et al.
      // substring dedup, fixed-k form)
      graft.ops.Dedup.duplicateSpans(par(s, t(s, d, "documents")), k = 60)
    }, Sql(
      """WITH grams AS (
        |  SELECT doc_id, substr(text, CAST(pos AS INT), 60) AS gram
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE length(text) >= 60)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM grams GROUP BY gram HAVING count(*) >= 2""".stripMargin)),

    QueryDef("q_dup_spans_winnow", (s, d) => {
      // the shuffle-divided form: winnowing-selected positions (~1/window)
      // instead of every position — any span duplicated at length >=
      // k+window-1 still surfaces. EXACT oracle via the md5 gram-hash
      // certification seam (CorpusKernels.winnowPositionsMd5): the
      // rightmost-minimum window selection replays in SQL as one
      // window-frame MIN over the composite key h*2^24 + (2^24-1-pos)
      // (min hash, rightmost tiebreak — ties happen whenever a 60-gram
      // repeats inside one window, so the tiebreak is load-bearing).
      // Production winnowing keeps MurmurHash3 (same selection loop,
      // hash swapped); KernelPropertySpec pins the coverage guarantee.
      graft.ops.Dedup.duplicateSpans(par(s, t(s, d, "documents")), k = 60,
        window = Some(8), md5Seam = true)
    }, Sql(
      // the winnow selection replayed exactly: per-gram md5-seam hash
      // (first 8 hex digits, unsigned 32-bit), rightmost-minimum per
      // 8-window via ONE frame MIN over the composite key
      // h*2^24 + (2^24-1-pos) (min h; ties -> max pos, matching the
      // kernel's `<=` update), valid window starts only
      // (pos <= max(1, n-7); the frame self-truncates for docs with
      // n <= window), DISTINCT selected positions (argmin positions are
      // non-decreasing, so consecutive-dedup == distinct), then the same
      // dup-gram census as q_dup_spans over the selected grams
      """WITH g AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(substr(text, CAST(pos AS INT), 60)),
        |                         1, 8)) AS BIGINT) AS h,
        |    length(text) - 59 AS n
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE length(text) >= 60),
        |wmin AS (
        |  SELECT doc_id, pos, n,
        |    MIN(h * 16777216 + (16777215 - pos)) OVER
        |      (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS cmin
        |  FROM g),
        |sel AS (
        |  SELECT DISTINCT doc_id, 16777215 - (cmin % 16777216) AS spos
        |  FROM wmin WHERE pos <= GREATEST(1, n - 7)),
        |sgrams AS (
        |  SELECT s.doc_id, substr(d.text, CAST(s.spos AS INT), 60) AS gram
        |  FROM sel s JOIN documents d USING (doc_id))
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM sgrams GROUP BY gram HAVING count(*) >= 2""".stripMargin),
      discontinuity = Some("r9: md5 gram-hash seam replaced murmur")),

    QueryDef("q_split_leakage", (s, d) => {
      // split-leakage audit (ops.Pipelines.auditSplitLeakage): near-dup
      // pairs crossing the deterministic hash-split boundary. STAGED
      // FORM (numHashes = 0 / bands = 1 / md5 shingle seam through
      // auditSplitLeakage's own lsh params): the pair stage equals exact
      // all-pairs Jaccard >= 0.8 over construction-identical md5 shingle
      // sets on the 1-in-10 sample, so the audit — pair set, split
      // labels, boundary filter — rides an exact oracle through the REAL
      // composition. Planted near-dups (tweaked tails, NEGATED ids so
      // they can never collide with real ids) guarantee a non-empty
      // audit; jaccard floor-scaled to the u6 lattice.
      val docs = par(s, t(s, d, "documents"))
        .filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      val planted = docs
        .select((-(col("doc_id") + 1)).as("doc_id"),
          concat(col("text"), lit(" tail tweak")).as("text"))
      val corpus = docs.union(planted)
        .withColumn("split", graft.ops.CorpusOps.hashSplit("doc_id"))
      graft.ops.Pipelines.auditSplitLeakage(corpus, threshold = 0.8,
        numHashes = 0, bands = 1, md5Seam = true)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1e6).cast("long").as("jaccard_u6"),
          col("split_a"), col("split_b"))
    }, Sql(
      // the staged auditSplitLeakage form: exact all-pairs Jaccard >= 0.8
      // (5·inter >= 4·union — exactly the double predicate) over the
      // sampled+planted corpus with md5-32 shingle hash sets (the op's
      // seam hash — identical sets by construction), then the md5-4-hex
      // split lattice and the boundary filter — the full audit composition
      // replayed
      """WITH base AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id % 10 = 0),
        |corpus AS MATERIALIZED (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT -(doc_id + 1) AS doc_id, text || ' tail tweak' AS text
        |  FROM base),
        |lab AS MATERIALIZED (SELECT doc_id,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |        AS BIGINT) % 100 AS b
        |    FROM corpus) t),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8))
        |      AS BIGINT) AS s
        |  FROM corpus,
        |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
        |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh
        |  GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b,
        |    CAST(floor(CAST(inter AS DOUBLE)
        |      / (sa.n + sb.n - inter) * 1e6) AS BIGINT) AS jaccard_u6
        |  FROM p JOIN sizes sa ON sa.doc_id = id_a
        |         JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE 5 * inter >= 4 * (sa.n + sb.n - inter)
        |  UNION ALL
        |  -- empty-empty shingle sets are kernel-jaccard 1.0: non-null
        |  -- sub-5-char corpus texts all-pair at 1e6 (nulls pair with
        |  -- nothing — the null-safe kernels return NULL there)
        |  SELECT a.doc_id, b.doc_id, CAST(1000000 AS BIGINT)
        |  FROM (SELECT doc_id FROM corpus WHERE len(text) < 5) a
        |  JOIN (SELECT doc_id FROM corpus WHERE len(text) < 5) b
        |    ON a.doc_id < b.doc_id)
        |SELECT pr.id_a, pr.id_b, pr.jaccard_u6,
        |  la.split AS split_a, lb.split AS split_b
        |FROM pairs pr JOIN lab la ON la.doc_id = pr.id_a
        |              JOIN lab lb ON lb.doc_id = pr.id_b
        |WHERE la.split <> lb.split""".stripMargin),
      discontinuity = Some("r10: md5 shingle seam")),

    QueryDef("q_dedup_url", (s, d) => {
      // URL-keyed exact dedup (the crawl step BEFORE text dedup): same
      // synthetic URLs; variants of one page collapse to one canonical
      // group, min doc_id wins — agg+join annotate, exact oracle
      val docs = t(s, d, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, "HTTPS://Example.COM:443/")
          .otherwise("https://example.com/"),
        col("source"), lit("/page/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, "/?utm_source=feed&b=2&a=1#frag")
          .otherwise(when(col("doc_id") % 3 === 1, "?b=2&a=1")
            .otherwise("")))
      graft.ops.CorpusOps.dedupByUrl(
        docs.select(col("doc_id"), url.as("url")))
        .select("doc_id", "canonical_url", "url_group_size", "is_canonical")
    }, Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Example.COM:443/'
        |          ELSE 'https://example.com/' END)
        |    || source || '/page/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1#frag'
        |             WHEN doc_id % 3 = 1 THEN '?b=2&a=1' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |        regexp_replace(trim(url), '#.*$', '') AS nofrag FROM u),
        |p AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(nofrag,
        |        '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
        |      '^(http://[^/:]*):80$', '\1'),
        |      '^(https://[^/:]*):443$', '\1') AS head,
        |    regexp_replace(regexp_extract(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
        |      '/+$', '') AS pth,
        |    coalesce(regexp_extract(nofrag, '\?(.*)$', 1), '') AS q
        |  FROM c),
        |canon AS (
        |  SELECT doc_id,
        |    head || pth || CASE WHEN qs = '' THEN '' ELSE '?' || qs END
        |      AS canonical_url
        |  FROM (SELECT doc_id, head, pth,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|gclid|fbclid|ref)='))), '&'), '') AS qs FROM p)),
        |g AS (SELECT canonical_url, count(*) AS url_group_size,
        |        min(doc_id) AS canon_id
        |      FROM canon GROUP BY 1)
        |SELECT c.doc_id, c.canonical_url, g.url_group_size,
        |  c.doc_id = g.canon_id AS is_canonical
        |FROM canon c JOIN g USING (canonical_url)""".stripMargin)),

    QueryDef("q_dedup_lines", (s, d) => {
      // MassiveText-style duplicate-paragraph removal (ops.Dedup.dedupLines):
      // the synthetic corpus has no newlines, so the query first folds every
      // 10 words into a "line" (pure regex, oracle-replicable), then keeps
      // each distinct line's first corpus-wide (doc, pos) occurrence and
      // rebuilds every doc from its surviving lines
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.Dedup.dedupLines(lined)
        .select("doc_id", "text_deduped", "n_lines_cut")
    }, Sql(
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos
        |  FROM lined),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  QUALIFY row_number() OVER (
        |    PARTITION BY line ORDER BY doc_id, pos) = 1),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, coalesce(r.txt, '') AS text_deduped,
        |  CAST(len(string_split(l.t, chr(10))) - coalesce(r.n_kept, 0)
        |    AS BIGINT) AS n_lines_cut
        |FROM lined l LEFT JOIN rebuilt r USING (doc_id)""".stripMargin)),

    QueryDef("q_dedup_lines_incr", (s, d) => {
      // the daily-ingest form (ops.Dedup.dedupLinesIncremental): even docs
      // are the standing corpus (as a line index), odd docs the arriving
      // batch — corpus-known lines are cut everywhere, fresh lines keep
      // their batch-first occurrence
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.Dedup.dedupLinesIncremental(
        graft.ops.Dedup.lineIndex(lined.filter(col("doc_id") % 2 === 0)),
        lined.filter(col("doc_id") % 2 === 1))
        .select("doc_id", "text_deduped", "n_lines_cut")
    }, Sql(
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |corpus AS (
        |  SELECT DISTINCT line FROM (
        |    SELECT unnest(string_split(t, chr(10))) AS line
        |    FROM lined WHERE doc_id % 2 = 0)),
        |blines AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos
        |  FROM lined WHERE doc_id % 2 = 1),
        |kept AS (
        |  SELECT doc_id, pos, line FROM blines
        |  WHERE line NOT IN (SELECT line FROM corpus)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY line ORDER BY doc_id, pos) = 1),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, coalesce(r.txt, '') AS text_deduped,
        |  CAST(len(string_split(l.t, chr(10))) - coalesce(r.n_kept, 0)
        |    AS BIGINT) AS n_lines_cut
        |FROM lined l LEFT JOIN rebuilt r USING (doc_id)
        |WHERE l.doc_id % 2 = 1""".stripMargin)),

    QueryDef("q_boilerplate", (s, d) => {
      // per-source boilerplate stripping (ops.Dedup.stripBoilerplate): a
      // line repeated across >= 3 distinct docs of the same source is site
      // furniture and is cut from EVERY doc (no owner survives, unlike
      // dedup_lines); same regex line-folding as the other line queries
      val lined = t(s, d, "documents").select(col("doc_id"), col("source"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.Dedup.stripBoilerplate(lined, minDocs = 3)
        .select("doc_id", "text_deduped", "n_lines_cut")
    }, Sql(
      // boilerplate = line in >= 3 distinct docs of one source, cut
      // everywhere (anti-join, no surviving owner)
      """WITH lined AS (
        |  SELECT doc_id, source,
        |    regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos
        |  FROM lined),
        |hot AS (
        |  SELECT source, line FROM lines GROUP BY 1, 2
        |  HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT l.doc_id, l.pos, l.line FROM lines l
        |  ANTI JOIN hot h ON l.source = h.source AND l.line = h.line),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, coalesce(r.txt, '') AS text_deduped,
        |  CAST(len(string_split(l.t, chr(10))) - coalesce(r.n_kept, 0)
        |    AS BIGINT) AS n_lines_cut
        |FROM lined l LEFT JOIN rebuilt r USING (doc_id)""".stripMargin)),

    QueryDef("q_dedup_semantic", (s, d) => {
      // SemDeDup (ops.Dedup.semanticDedup): k-means cells + within-cell
      // cosine, smallest-id survivor per tight neighborhood. STAGED FORM
      // (nCenters = 1 on the 1-in-8 sample): one cell makes the
      // within-cell pairing exact all-pairs cosine, so keep/drop rides
      // an exact oracle through the REAL index-build + cell-join path
      // (center_id degenerates to the constant 0 while the dataflow
      // still runs); deployment cells stay covered by Round5OpsSpec's
      // brute-force keep-policy re-derivation
      graft.ops.Dedup.semanticDedup(
        t(s, d, "embeddings").filter(col("vec_id") % 8 === 0),
        threshold = 0.3, nCenters = 1)
    }, Sql(
      // the staged SemDeDup form: one cell == all-pairs cosine on the
      // sample; dropped = some smaller id within cosine >= 0.3
      """WITH s AS MATERIALIZED (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 8 = 0),
        |drops AS (SELECT DISTINCT b.vec_id
        |  FROM s a JOIN s b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= CAST(0.3 AS DOUBLE))
        |SELECT s.vec_id, CAST(0 AS INTEGER) AS center_id,
        |  d.vec_id IS NULL AS is_kept
        |FROM s LEFT JOIN drops d ON d.vec_id = s.vec_id""".stripMargin)),

    QueryDef("q_dedup_minhash_incr", (s, d) => {
      // incremental near-dup (ops.Dedup.buildMinhashIndex +
      // nearDupAgainstIndex): low-id docs are the indexed corpus, high-id
      // docs the arriving batch — the daily-ingest near-dup gate. The
      // index's two tables mirror the deployment shape (band buckets
      // without signature replication; signatures joined per-candidate
      // only). STAGED FORM (numHashes = 0 / bands = 1 / md5 shingle
      // seam, the q_dedup_minhash convention): one global bucket admits
      // every cross pair, so the result equals exact cross-axis Jaccard
      // >= 0.5 over construction-identical md5 shingle sets and rides an
      // exact oracle through the REAL index+probe code path (the seam
      // travels ON the index, like the banding). The batch side is
      // capped at doc_id < 1000 so the all-pairs verify stays bounded at
      // every SF; deployment banding recall is pinned by Round5bOpsSpec
      // (equivalence with corpus-wide LSH on the cross axis).
      val docs = par(s, t(s, d, "documents"))
      val half = 250
      val idx = graft.ops.Dedup.buildMinhashIndex(
        docs.filter(col("doc_id") < half), numHashes = 0, bands = 1,
        md5Seam = true)
      graft.ops.Dedup.nearDupAgainstIndex(idx,
        docs.filter(col("doc_id") >= half && col("doc_id") < 1000),
        threshold = 0.5) // banding read from the index itself
        .select(col("batch_id"), col("corpus_id"),
          floor(col("jaccard") * 1e6).cast("long").as("jaccard_u6"))
    }, Sql(
      // the staged index+probe form: one global bucket admits every
      // (batch, corpus) pair, exact-jaccard verify == cross-axis Jaccard
      // over md5-32 shingle hash sets (the op's seam hash — identical sets
      // by construction); threshold 0.5 as the integer cross-multiply
      // (2·inter >= union, exactly the double predicate for any real
      // corpus size), jaccard_u6 replayed divide-then-scale like the op
      """WITH csh AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8))
        |      AS BIGINT) AS s
        |  FROM (SELECT doc_id, text FROM documents WHERE doc_id < 250) c,
        |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
        |bsh AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 8))
        |      AS BIGINT) AS s
        |  FROM (SELECT doc_id, text FROM documents
        |        WHERE doc_id >= 250 AND doc_id < 1000) b,
        |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
        |cs AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |bs AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
        |p AS (SELECT b1.doc_id AS batch_id, c1.doc_id AS corpus_id,
        |    count(*) AS inter
        |  FROM bsh b1 JOIN csh c1 ON b1.s = c1.s GROUP BY 1, 2)
        |SELECT batch_id, corpus_id,
        |  CAST(floor(CAST(inter AS DOUBLE)
        |    / (bs.n + cs.n - inter) * 1e6) AS BIGINT) AS jaccard_u6
        |FROM p JOIN bs ON bs.doc_id = batch_id
        |       JOIN cs ON cs.doc_id = corpus_id
        |WHERE 2 * inter >= bs.n + cs.n - inter
        |UNION ALL
        |-- two EMPTY shingle sets are jaccard 1.0 in the kernel
        |-- (jaccardSorted's empty-empty case), and the one global bucket
        |-- pairs them: sub-5-char NON-NULL texts cross-pair at 1e6
        |-- (null text makes the null-safe kernels return NULL, which the
        |-- jaccard filter drops — so nulls pair with nothing)
        |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
        |  CAST(1000000 AS BIGINT) AS jaccard_u6
        |FROM (SELECT doc_id FROM documents
        |      WHERE doc_id >= 250 AND doc_id < 1000
        |        AND len(text) < 5) b,
        |     (SELECT doc_id FROM documents
        |      WHERE doc_id < 250 AND len(text) < 5) c""".stripMargin),
      discontinuity = Some("r10: md5 shingle seam")),

    QueryDef("q_dup_span_ranges", (s, d) => {
      // maximal duplicated ranges (ops.Dedup.duplicateSpanRanges): per-doc
      // gaps-and-islands merge of duplicated 60-gram positions — the
      // "what to cut" output of substring dedup
      graft.ops.Dedup.duplicateSpanRanges(par(s, t(s, d, "documents")),
        k = 60)
    }, Sql(
      """WITH grams AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    substr(text, CAST(pos AS INT), 60) AS gram
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE length(text) >= 60),
        |hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, pos FROM grams JOIN hot USING (gram)),
        |flagged AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER
        |        (PARTITION BY doc_id ORDER BY pos) > 60
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dup),
        |isl AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 59 AS span_end,
        |  max(pos) + 59 - min(pos) + 1 AS span_len
        |FROM isl GROUP BY doc_id, island""".stripMargin)),

    QueryDef("q_cut_spans", (s, d) => {
      // substring dedup APPLIED (ops.Dedup.cutDuplicateSpans): every
      // duplicated 60-gram occurrence except the first corpus-wide is cut,
      // text rebuilt by one codegen'd fold over each doc's merged cut list
      graft.ops.Dedup.cutDuplicateSpans(par(s, t(s, d, "documents")), k = 60)
        .select("doc_id", "text_deduped", "n_spans_cut")
    }, Sql(
      // owner per gram = first (doc_id, pos); non-owner occurrences merge to
      // islands (same construction as q_dup_span_ranges) and the kept text
      // is stitched from the inter-span segments + tail
      """WITH grams AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    substr(text, CAST(pos AS INT), 60) AS gram
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE length(text) >= 60),
        |own AS (
        |  SELECT gram, doc_id AS od, pos AS op FROM (
        |    SELECT gram, doc_id, pos,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)
        |        AS rn,
        |      count(*) OVER (PARTITION BY gram) AS c
        |    FROM grams) WHERE rn = 1 AND c >= 2),
        |cuts AS (
        |  SELECT DISTINCT g.doc_id, g.pos
        |  FROM grams g JOIN own o USING (gram)
        |  WHERE NOT (g.doc_id = o.od AND g.pos = o.op)),
        |flagged AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER
        |        (PARTITION BY doc_id ORDER BY pos) > 60
        |      THEN 1 ELSE 0 END AS brk
        |  FROM cuts),
        |isl AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 59 AS e
        |  FROM isl GROUP BY doc_id, island),
        |segs AS (SELECT doc_id, s, e,
        |    lag(e, 1, CAST(0 AS BIGINT)) OVER
        |      (PARTITION BY doc_id ORDER BY s) AS pe
        |  FROM spans),
        |pieces AS (
        |  SELECT g.doc_id, g.s AS ord,
        |    substr(d.text, CAST(g.pe + 1 AS INT),
        |           CAST(g.s - g.pe - 1 AS INT)) AS seg
        |  FROM segs g JOIN documents d USING (doc_id)
        |  UNION ALL
        |  SELECT sp.doc_id, CAST(1e15 AS BIGINT),
        |    substr(d.text, CAST(max(sp.e) + 1 AS INT))
        |  FROM spans sp JOIN documents d USING (doc_id)
        |  GROUP BY sp.doc_id, d.text),
        |rebuilt AS (SELECT doc_id,
        |    string_agg(seg, '' ORDER BY ord) AS text_deduped
        |  FROM pieces GROUP BY doc_id),
        |nsp AS (SELECT doc_id, count(*) AS n FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.text_deduped, d.text) AS text_deduped,
        |  coalesce(nsp.n, 0) AS n_spans_cut
        |FROM documents d
        |LEFT JOIN rebuilt r USING (doc_id)
        |LEFT JOIN nsp USING (doc_id)""".stripMargin)),

    QueryDef("q_cut_contaminated", (s, d) => {
      // span-level decontamination (ops.Dedup.cutContaminatedSpans): eval
      // = doc_id < 50 (the q_decontaminate stand-in benchmark), train =
      // the rest; every train occurrence of an eval 60-gram is cut and
      // the text rebuilt — the APPLY form of doc-level decontamination
      val docs = par(s, t(s, d, "documents"))
      graft.ops.Dedup.cutContaminatedSpans(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        k = 60)
        .select("doc_id", "text_decontaminated", "n_spans_cut")
    }, Sql(
      // same island-merge + rebuild as q_cut_spans, but cut positions come
      // from the eval-gram join (no owner logic: every train occurrence of
      // an eval gram is cut) and only train docs (doc_id >= 50) are emitted
      """WITH ev AS (
        |  SELECT DISTINCT substr(text, CAST(pos AS INT), 60) AS gram
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE doc_id < 50 AND length(text) >= 60),
        |tg AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    substr(text, CAST(pos AS INT), 60) AS gram
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE doc_id >= 50 AND length(text) >= 60),
        |cuts AS (SELECT DISTINCT doc_id, pos FROM tg JOIN ev USING (gram)),
        |flagged AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER
        |        (PARTITION BY doc_id ORDER BY pos) > 60
        |      THEN 1 ELSE 0 END AS brk
        |  FROM cuts),
        |isl AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 59 AS e
        |  FROM isl GROUP BY doc_id, island),
        |segs AS (SELECT doc_id, s, e,
        |    lag(e, 1, CAST(0 AS BIGINT)) OVER
        |      (PARTITION BY doc_id ORDER BY s) AS pe
        |  FROM spans),
        |pieces AS (
        |  SELECT g.doc_id, g.s AS ord,
        |    substr(d.text, CAST(g.pe + 1 AS INT),
        |           CAST(g.s - g.pe - 1 AS INT)) AS seg
        |  FROM segs g JOIN documents d USING (doc_id)
        |  UNION ALL
        |  SELECT sp.doc_id, CAST(1e15 AS BIGINT),
        |    substr(d.text, CAST(max(sp.e) + 1 AS INT))
        |  FROM spans sp JOIN documents d USING (doc_id)
        |  GROUP BY sp.doc_id, d.text),
        |rebuilt AS (SELECT doc_id,
        |    string_agg(seg, '' ORDER BY ord) AS text_decontaminated
        |  FROM pieces GROUP BY doc_id),
        |nsp AS (SELECT doc_id, count(*) AS n FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.text_decontaminated, d.text) AS text_decontaminated,
        |  coalesce(nsp.n, 0) AS n_spans_cut
        |FROM documents d
        |LEFT JOIN rebuilt r USING (doc_id)
        |LEFT JOIN nsp USING (doc_id)
        |WHERE d.doc_id >= 50""".stripMargin)),

    QueryDef("q_fuzzy_join", (s, d) => {
      // blocked fuzzy join (ops.Joins.blockedFuzzyJoin): generic entity
      // resolution over 40-char text prefixes against a DETERMINISTIC
      // mutant of the corpus (every 'a' dropped — difflib ~0.9, never
      // exact), blocked on (lang, length-band) so candidates are a tiny
      // equi-join; verified by the difflib-bit-exact name_similarity
      // codegen kernel. Rows-only (difflib is not SQL-expressible);
      // Round6eOpsSpec pins kernel goldens and the blocking contract
      val docs = t(s, d, "documents")
      val lhs = docs.select(
        col("doc_id").as("l_id"), col("lang").as("l_lang"),
        floor(col("n_chars") / 100).as("l_band"),
        substring(col("text"), 1, 40).as("l_name"))
      val rhs = docs.select(
        col("doc_id").as("r_id"), col("lang").as("r_lang"),
        floor(col("n_chars") / 100).as("r_band"),
        regexp_replace(substring(col("text"), 1, 40), "a", "")
          .as("r_name"))
      graft.ops.Joins.blockedFuzzyJoin(lhs, rhs,
        Seq("l_lang" -> "r_lang", "l_band" -> "r_band"),
        "l_name", "r_name", threshold = 0.85)
    }, NoOracle("the difflib ratio has no SQL replay; Round6eOpsSpec pins " +
      "kernel goldens and the blocking")),

    QueryDef("q_fuzzy_clusters", (s, d) => {
      // the classic ER pipeline END-TO-END as one composition: blocking
      // equi-join -> difflib fuzzy verify (ops.Joins.blockedFuzzyJoin)
      // -> connected-components clustering -> canonical entity
      // (ops.Dedup.clustersFromPairs) — originals plus id-offset
      // mutants resolve into 2-member entities. Rows-only (difflib +
      // iterative CC); the component ops are individually certified
      val docs = t(s, d, "documents")
      val mut = docs.select((col("doc_id") + 10000000L).as("doc_id"),
        regexp_replace(col("text"), "a", "").as("text"),
        col("lang"), col("n_chars"))
      val lhs = docs.select(col("doc_id").as("l_id"),
        col("lang").as("l_lang"),
        floor(col("n_chars") / 100).as("l_band"),
        substring(col("text"), 1, 40).as("l_name"))
      val rhs = mut.select(col("doc_id").as("r_id"),
        col("lang").as("r_lang"),
        floor(col("n_chars") / 100).as("r_band"),
        substring(col("text"), 1, 40).as("r_name"))
      val pairs = graft.ops.Joins.blockedFuzzyJoin(lhs, rhs,
        Seq("l_lang" -> "r_lang", "l_band" -> "r_band"),
        "l_name", "r_name", threshold = 0.85)
        .select(col("l_id").as("id_a"), col("r_id").as("id_b"))
      graft.ops.Dedup.clustersFromPairs(
        docs.select("doc_id").unionByName(mut.select("doc_id")), pairs)
    }, NoOracle("difflib verify and iterative components have no SQL replay; " +
      "each part is certified on its own")),

    QueryDef("q_soft_dedup", (s, d) => {
      // duplication-aware DOWNSAMPLING (ops.Dedup.softKeep): keep each
      // exact-dup group member independently w.p. ~1/n on the 60-bit
      // integer md5 lattice (hash60 < 2^60 div n — integer division,
      // replayed verbatim by the oracle); md5 fingerprint injected for
      // cross-engine replay, as in q_dedup_incremental
      graft.ops.Dedup.softKeep(par(s, t(s, d, "documents")),
          fingerprint = md5(_))
        .select("doc_id", "dup_group_size", "kept")
    }, Sql(
      // keep-each-dup w.p. ~1/n on the 60-bit integer md5 lattice — integer
      // DIVISION on both engines (multiplication would overflow; double
      // division desyncs past 2^53); chr(0) sentinel for null ids
      """WITH g AS (SELECT doc_id,
        |    count(*) OVER (PARTITION BY coalesce(md5(text), 'null'))
        |      AS dup_group_size
        |  FROM documents)
        |SELECT doc_id, CAST(dup_group_size AS BIGINT) AS dup_group_size,
        |  CAST(('0x' || substr(md5(
        |      coalesce(CAST(doc_id AS VARCHAR), chr(0))), 1, 15))
        |    AS BIGINT) < 1152921504606846976 // dup_group_size AS kept
        |FROM g""".stripMargin)),

    QueryDef("q_contamination_report", (s, d) => {
      // per-eval-set contamination data card (ops.Dedup
      // .contaminationReport over the q_decontaminate pair source):
      // integer counts per benchmark, zero-hit sets still reported
      val docs = par(s, t(s, d, "documents"))
      val sh = docs
        .select(col("doc_id"), explode(shingles3(col("text"))).as("_s"))
        .select(col("doc_id"), xxhash64(col("_s")).as("sh"))
      val pairs = sh.filter(col("doc_id") >= 50)
        .select(col("doc_id").as("train_id"), col("sh"))
        .join(sh.filter(col("doc_id") < 50)
          .select(col("doc_id").as("eval_id"), col("sh")), Seq("sh"))
        .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      val evals = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"),
          when(col("doc_id") < 25, lit("set_a")).otherwise(lit("set_b"))
            .as("eval_set"))
      graft.ops.Dedup.contaminationReport(pairs, evals)
    }, Sql(
      // the q_decontaminate pair CTE grouped to eval-set level; LEFT joins
      // from the set totals so zero-hit sets report 0s
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |pairs AS (
        |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id >= 50 AND b.doc_id < 50
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |evals AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 25 THEN 'set_a' ELSE 'set_b' END AS eval_set
        |  FROM documents WHERE doc_id < 50),
        |hits AS (
        |  SELECT e.eval_set,
        |    count(DISTINCT p.eval_id) AS n_eval_docs_hit,
        |    count(DISTINCT p.train_id) AS n_train_docs_hit,
        |    count(*) AS n_pairs
        |  FROM pairs p JOIN evals e ON p.eval_id = e.doc_id
        |  GROUP BY 1)
        |SELECT t.eval_set,
        |  CAST(t.n_eval_docs AS BIGINT) AS n_eval_docs,
        |  CAST(coalesce(h.n_eval_docs_hit, 0) AS BIGINT) AS n_eval_docs_hit,
        |  CAST(coalesce(h.n_train_docs_hit, 0) AS BIGINT)
        |    AS n_train_docs_hit,
        |  CAST(coalesce(h.n_pairs, 0) AS BIGINT) AS n_pairs
        |FROM (SELECT eval_set, count(DISTINCT doc_id) AS n_eval_docs
        |      FROM evals GROUP BY 1) t
        |LEFT JOIN hits h ON t.eval_set = h.eval_set""".stripMargin)),

    QueryDef("q_contamination_closure", (s, d) => {
      // TRANSITIVE contamination closure (ops.Dedup.contaminationClosure):
      // the q_decontaminate direct hits composed with planted near-dup
      // CHAINS i ~ i+1 ~ i+2 (i % 10 == 0) — docs flagged via_neardup
      // carry eval content through a near-duplicate of a contaminated
      // doc, the leak doc-level decontamination misses (and the
      // chain's far end exercises transitivity through CC). EXACT
      // oracle: direct hits are the q_decontaminate shape, the chains
      // are arithmetic, and the CC + evidence labeling is the recursive
      // min-label closure (q_dedup_clusters' recipe); Round7OpsSpec
      // additionally pins the planted-paraphrase chain end-to-end
      // through decontaminateTransitive.
      val docs = par(s, t(s, d, "documents"))
      val sh = docs
        .select(col("doc_id"), explode(shingles3(col("text"))).as("_s"))
        .select(col("doc_id"), xxhash64(col("_s")).as("sh"))
      val direct = sh.filter(col("doc_id") >= 50)
        .select(col("doc_id").as("train_id"), col("sh"))
        .join(sh.filter(col("doc_id") < 50)
          .select(col("doc_id").as("eval_id"), col("sh")), Seq("sh"))
        .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      val train = docs.filter(col("doc_id") >= 50).select("doc_id")
      val chains = train.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .unionByName(train.filter(col("doc_id") % 10 === 1)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b")))
      graft.ops.Dedup.contaminationClosure(direct, chains, train)
    }, Sql(
      // the q_decontaminate direct-hit shape + the planted chain pairs +
      // the q_dedup_clusters recursive min-label closure: contamination
      // closure is a pure integer function of its three inputs, so the
      // whole transitive flag set replays in SQL (same murmur-vs-string
      // shingle caveat as q_dedup_clusters)
      """WITH RECURSIVE sh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |hits AS (
        |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id >= 50 AND b.doc_id < 50
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |direct AS MATERIALIZED (SELECT train_id AS doc_id,
        |    min(eval_id) AS ev FROM hits GROUP BY 1),
        |train AS MATERIALIZED (SELECT doc_id FROM documents
        |  WHERE doc_id >= 50),
        |chains AS (
        |  SELECT doc_id AS x, doc_id + 1 AS y FROM train
        |  WHERE doc_id % 10 = 0 OR doc_id % 10 = 1),
        |sym AS (SELECT x, y FROM chains UNION SELECT y, x FROM chains),
        |reach(x, y) AS (SELECT x, y FROM sym
        |  UNION SELECT r.x, s2.y FROM reach r JOIN sym s2 ON r.y = s2.x),
        |comp AS MATERIALIZED (SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
        |  FROM train d LEFT JOIN reach r ON r.x = d.doc_id
        |  GROUP BY d.doc_id),
        |hot AS (SELECT c.cluster_id, min(c.doc_id) AS via
        |  FROM comp c JOIN direct dr USING (doc_id) GROUP BY 1)
        |SELECT c.doc_id,
        |  CASE WHEN dr.doc_id IS NOT NULL THEN 'direct'
        |       ELSE 'via_neardup' END AS reason,
        |  CAST(coalesce(dr.ev, h.via) AS BIGINT) AS evidence
        |FROM comp c JOIN hot h USING (cluster_id)
        |LEFT JOIN direct dr USING (doc_id)""".stripMargin)),

    QueryDef("q_decontaminate_dialogs", (s, d) => {
      // dialog-level decontamination (ops.DialogOps.decontaminateDialogs
      // = renderDialogs ∘ Dedup.decontaminate): chat corpora get the
      // same eval-leak gate documents have. The planted leak is each
      // dialog's user turn carrying a full document text; eval = docs
      // 300..399, so those dialogs must flag. EXACT oracle: rendering is
      // a pure string template and the gate is the q_decontaminate shape
      // over the rendered text with the md5 WORD-GRAM seam
      // (CorpusKernels.wordShingleHashesMd5): both engines hash each
      // space-joined 3-gram with md5 and dedup/join by that hash, so the
      // gram sets are identical by construction (the q_dedup_minhash
      // recipe; no collision caveat). The seam is recorded on the
      // shingle index (_md5, like _n) so probe and index can never hash
      // differently; production decontamination keeps MurmurHash3.
      val docs = t(s, d, "documents").filter(col("doc_id") < 500)
      val dialogs = docs.select(col("doc_id").as("dialog_id"),
        array(
          struct(lit("user").as("role"), col("text").as("content")),
          struct(lit("assistant").as("role"),
            concat(lit("re: "), coalesce(col("lang"), lit("")))
              .as("content")))
          .as("turns"))
      val evalDocs = t(s, d, "documents")
        .filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select("doc_id", "text")
      graft.ops.DialogOps.decontaminateDialogs(dialogs, evalDocs,
        md5Seam = true)
    }, Sql(
      // renderDialogs' template replayed as a string expression, then the
      // q_decontaminate shape over the rendered text — distinct word
      // 3-grams hashed with the op's md5-32 seam on both sides, so the
      // gram sets are construction-identical (no collision caveat)
      """WITH r AS (SELECT doc_id AS dialog_id,
        |    '<|user|>' || text || chr(10) || '<|assistant|>re: '
        |      || coalesce(lang, '') AS rt
        |  FROM documents WHERE doc_id < 500),
        |tsh AS (SELECT DISTINCT dialog_id,
        |    CAST(('0x' || substr(md5(
        |      w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8))
        |      AS BIGINT) AS s
        |  FROM (SELECT dialog_id, list_filter(
        |      string_split_regex(rt, '\s+'), x -> x <> '') AS w FROM r) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |esh AS (SELECT DISTINCT doc_id AS eval_id,
        |    CAST(('0x' || substr(md5(
        |      w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8))
        |      AS BIGINT) AS s
        |  FROM (SELECT doc_id, list_filter(
        |      string_split_regex(text, '\s+'), x -> x <> '') AS w
        |    FROM documents WHERE doc_id >= 300 AND doc_id < 400) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g)
        |SELECT tsh.dialog_id AS train_id, esh.eval_id,
        |  count(*) AS n_shared
        |FROM tsh JOIN esh USING (s)
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
      discontinuity = Some("r10: md5 word-gram seam replaced the murmur " +
        "word-shingle hash")),

    // BENCH-ONLY production twins of the seam-converted dedup queries:
    // the contract entries above run the md5 certification seams on
    // bounded staged samples (exact-oracle-able but definition-
    // discontinuous vs the production paths), which left the MURMUR
    // deployment-parameter paths unbenched — spec-covered but invisible
    // to cross-round regression tracking. These entries run exactly what
    // production runs (MurmurHash3, deployment banding, full corpus);
    // they ride [[graft.Bench]] but NOT the correctness gate (no SQL
    // oracle can replay murmur — that is the reason the seams exist).
    QueryDef("q_dedup_minhash_prod", (s, d) =>
      // deployment banding over the full corpus (the recall-spec'd path)
      graft.ops.Dedup.minhashLsh(par(s, t(s, d, "documents")),
          threshold = 0.8, numHashes = 128, bands = 32)
        .select("id_a", "id_b"),
      BenchOnly("production twin of q_dedup_minhash: murmur shingle hash, " +
        "deployment banding"),
      discontinuity = Some("r11: new bench-only production twin (murmur, " +
        "deployment banding)")),

    QueryDef("q_dedup_minhash_incr_prod", (s, d) => {
      // production incremental near-dup: deployment-banded index over
      // the first half, second half probed against it
      val docs = par(s, t(s, d, "documents")).select("doc_id", "text")
      val half = 250
      val idx = graft.ops.Dedup.buildMinhashIndex(
        docs.filter(col("doc_id") < half))
      graft.ops.Dedup.nearDupAgainstIndex(idx,
        docs.filter(col("doc_id") >= half), threshold = 0.8)
    }, BenchOnly("production twin of q_dedup_minhash_incr: murmur shingle " +
      "hash"),
      discontinuity = Some("r11: new bench-only production twin")),

    QueryDef("q_dedup_simhash_prod", (s, d) =>
      // murmur word hash (the deployed signature), same banded join
      graft.ops.Dedup.simhashPairs(par(s, t(s, d, "documents")),
        maxHamming = 3),
      BenchOnly("production twin of q_dedup_simhash: murmur word hash"),
      discontinuity = Some("r11: new bench-only production twin")),

    QueryDef("q_dup_spans_winnow_prod", (s, d) =>
      // murmur gram hash through the same winnowing selection loop
      graft.ops.Dedup.duplicateSpans(par(s, t(s, d, "documents")),
        k = 60, window = Some(8)),
      BenchOnly("production twin of q_dup_spans_winnow: murmur gram hash"),
      discontinuity = Some("r11: new bench-only production twin")),

    QueryDef("q_split_leakage_prod", (s, d) => {
      // deployment banding over the FULL corpus + planted near-dups
      val docs = par(s, t(s, d, "documents")).select("doc_id", "text")
      val planted = docs
        .select((-(col("doc_id") + 1)).as("doc_id"),
          concat(col("text"), lit(" tail tweak")).as("text"))
      val corpus = docs.union(planted)
        .withColumn("split", graft.ops.CorpusOps.hashSplit("doc_id"))
      graft.ops.Pipelines.auditSplitLeakage(corpus, threshold = 0.8)
    }, BenchOnly("production twin of q_split_leakage: murmur hash, deployment " +
      "banding"),
      discontinuity = Some("r11: new bench-only production twin")),

    QueryDef("q_decontaminate_dialogs_prod", (s, d) => {
      // the murmur word-gram gate over the same rendered-dialog fixture
      val docs = t(s, d, "documents").filter(col("doc_id") < 500)
      val dialogs = docs.select(col("doc_id").as("dialog_id"),
        array(
          struct(lit("user").as("role"), col("text").as("content")),
          struct(lit("assistant").as("role"),
            concat(lit("re: "), coalesce(col("lang"), lit("")))
              .as("content")))
          .as("turns"))
      val evalDocs = t(s, d, "documents")
        .filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select("doc_id", "text")
      graft.ops.DialogOps.decontaminateDialogs(dialogs, evalDocs)
    }, BenchOnly("production twin of q_decontaminate_dialogs: murmur " +
      "word-gram gate"),
      discontinuity = Some("r11: new bench-only production twin"))
  )
}
