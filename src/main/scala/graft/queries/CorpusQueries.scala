package graft.queries

import graft.Pins
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus curation queries: splits, sampling, quotas, scrubbing,
  * dialogs, profiles, agreement statistics and the curation pipelines.
  */
object CorpusQueries {

  /** Shared arena-battle fixture for q_win_matrix / q_bradley_terry:
    * deterministic (model_a, model_b, winner) rows derived from doc_id
    * (%5 vs //5%5; winner by %3 — 'a'/'b'/'tie'). */
  private def battleFixture(s: SparkSession, d: String): DataFrame = {
    par(s, t(s, d, "documents")).select(
      concat(lit("m"), (col("doc_id") % 5).cast("string")).as("ma"),
      concat(lit("m"), (expr("doc_id div 5") % 5).cast("string")).as("mb"),
      when(col("doc_id") % 3 === 0, lit("a"))
        .when(col("doc_id") % 3 === 1, lit("b"))
        .otherwise(lit("tie")).as("w"))
  }

  /** Day-style curation admission replay shared by the three pipeline
    * oracles: gates over docs < `gateMaxId` (langId argmax + the
    * repetition gate's verbatim double compare; quality >= 0 is inert on
    * non-null text, and null text never passes the lang gate), then over
    * day docs < `dayMaxId`: exact dedup keyed on the FINGERPRINT
    * NORMALIZATION (lower + collapse whitespace + strip leading space —
    * equal normalized strings <=> equal doc_fingerprints, mod the
    * accepted hash-collision caveat), staged all-pairs near-dedup
    * including the kernel's empty-shingle jaccard-1.0 pairs, and the
    * decontaminate anti-join vs eval docs 300..399. Emits CTEs up to
    * `adm1(doc_id, text, norm)` plus `esh`; callers append their stage
    * counts / day-2 tail / card projection.
    */
  private def curateChainSql(gateMaxId: Int, dayMaxId: Int): String =
    s"""d0 AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id < $gateMaxId),
       |ltoks AS (SELECT doc_id, w[i] AS tok FROM (
       |    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
       |    FROM d0) x,
       |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g),
       |${langProfilesSql(withOrd = false)},
       |sc0 AS (SELECT l.doc_id, p.lang, count(*) AS s
       |  FROM ltoks l JOIN prof p ON p.tok = l.tok GROUP BY 1, 2),
       |langok AS (SELECT doc_id FROM (
       |    SELECT doc_id,
       |      sum(CASE WHEN lang = 'en' THEN s ELSE 0 END) AS s_en,
       |      max(CASE WHEN lang <> 'en' THEN s ELSE 0 END) AS s_other
       |    FROM sc0 GROUP BY 1) y
       |  WHERE s_en > 0 AND s_en >= coalesce(s_other, 0)),
       |grams AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d0) x,
       |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) gg),
       |repok AS (SELECT d0.doc_id
       |  FROM d0 LEFT JOIN (
       |    SELECT doc_id, count(*) AS ng, count(DISTINCT g) AS nd
       |    FROM grams GROUP BY 1) r ON r.doc_id = d0.doc_id
       |  WHERE r.doc_id IS NULL
       |     OR (CAST(1.0 AS DOUBLE) - CAST(r.nd AS DOUBLE) / r.ng)
       |        <= CAST(0.9 AS DOUBLE)),
       |gated AS MATERIALIZED (SELECT d0.doc_id, d0.text,
       |    ltrim(regexp_replace(lower(d0.text), '\\s+', ' ', 'g'), ' ')
       |      AS norm
       |  FROM d0 JOIN langok USING (doc_id) JOIN repok USING (doc_id)),
       |ex1 AS MATERIALIZED (SELECT g2.doc_id, g2.text, g2.norm
       |  FROM gated g2 JOIN (SELECT min(doc_id) AS doc_id FROM gated
       |    WHERE doc_id < $dayMaxId GROUP BY norm) m USING (doc_id)),
       |sh1 AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 5) AS s
       |  FROM ex1,
       |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
       |sz1 AS (SELECT doc_id, count(*) AS n FROM sh1 GROUP BY 1),
       |pp1 AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS inter
       |  FROM sh1 a JOIN sh1 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pr1 AS (SELECT x, y FROM pp1 JOIN sz1 sa ON sa.doc_id = x
       |  JOIN sz1 sb ON sb.doc_id = y
       |  WHERE 2 * inter >= sa.n + sb.n - inter
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id
       |  FROM (SELECT doc_id FROM ex1 WHERE len(text) < 5) a
       |  JOIN (SELECT doc_id FROM ex1 WHERE len(text) < 5) b
       |    ON a.doc_id < b.doc_id),
       |sym1 AS (SELECT x, y FROM pr1 UNION SELECT y, x FROM pr1),
       |reach1(x, y) AS (SELECT x, y FROM sym1 UNION
       |  SELECT r.x, s2.y FROM reach1 r JOIN sym1 s2 ON r.y = s2.x),
       |nd1 AS MATERIALIZED (SELECT e.doc_id, e.text, e.norm FROM ex1 e
       |  LEFT JOIN (SELECT x, min(y) AS mn FROM reach1 GROUP BY 1) r
       |    ON r.x = e.doc_id
       |  WHERE least(e.doc_id, coalesce(r.mn, e.doc_id)) = e.doc_id),
       |esh AS MATERIALIZED (SELECT DISTINCT doc_id AS eval_id,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s3
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE doc_id >= 300 AND doc_id < 400) x,
       |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
       |t1sh AS (SELECT DISTINCT doc_id,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s3
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM nd1) x,
       |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
       |adm1 AS MATERIALIZED (SELECT nd1.doc_id, nd1.text, nd1.norm
       |  FROM nd1
       |  LEFT JOIN (SELECT DISTINCT doc_id FROM (
       |      SELECT t.doc_id FROM t1sh t JOIN esh e USING (s3)
       |      GROUP BY t.doc_id, e.eval_id HAVING count(*) >= 2) hh) h
       |    ON h.doc_id = nd1.doc_id
       |  WHERE h.doc_id IS NULL)""".stripMargin

  /** q_bradley_terry oracle: the q_win_matrix lattice, then `iters`
    * unrolled fixed-point MM rounds (bradleyTerry's scale seam, S =
    * 1e6): per-pair n·S² // (p_i+p_j) summed into each endpoint's
    * denominator, update wins2·S² // (2·D), mean-1 normalization
    * p·k·S // total. All HUGEINT; integer adds are order-free, so the
    * driver fold and the SQL agree bit-for-bit.
    */
  private def bradleyTerryOracleSql(iters: Int): String = {
    val S = "CAST(1000000 AS HUGEINT)"
    val head =
      s"""WITH b AS (SELECT
         |    'm' || CAST(doc_id % 5 AS VARCHAR) AS ma,
         |    'm' || CAST((doc_id // 5) % 5 AS VARCHAR) AS mb,
         |    CASE doc_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
         |      ELSE 'tie' END AS w
         |  FROM documents),
         |nrm AS (SELECT least(ma, mb) AS m1, greatest(ma, mb) AS m2,
         |    CASE WHEN w = 'tie' THEN 'tie'
         |         WHEN (w = 'a') = (ma <= mb) THEN '1' ELSE '2' END AS who
         |  FROM b WHERE ma <> mb),
         |wm AS MATERIALIZED (SELECT m1, m2,
         |    sum(CASE WHEN who = '1' THEN 1 ELSE 0 END) AS wins_1,
         |    sum(CASE WHEN who = '2' THEN 1 ELSE 0 END) AS wins_2,
         |    sum(CASE WHEN who = 'tie' THEN 1 ELSE 0 END) AS ties,
         |    count(*) AS n
         |  FROM nrm GROUP BY 1, 2),
         |stat AS MATERIALIZED (SELECT m, sum(wins2) AS wins2,
         |    sum(n) AS games FROM (
         |  SELECT m1 AS m, 2 * wins_1 + ties AS wins2, n FROM wm
         |  UNION ALL SELECT m2, 2 * wins_2 + ties, n FROM wm) y
         |  GROUP BY 1),
         |kk AS MATERIALIZED (SELECT count(*) AS k FROM stat),
         |p0 AS MATERIALIZED (SELECT m, $S AS p FROM stat)""".stripMargin
    val steps = (1 to iters).map { r =>
      s"""d$r AS MATERIALIZED (SELECT m, sum(c) AS d FROM (
         |    SELECT wm.m1 AS m, (wm.n * $S * $S) // (pa.p + pb.p) AS c
         |    FROM wm JOIN p${r - 1} pa ON pa.m = wm.m1
         |             JOIN p${r - 1} pb ON pb.m = wm.m2
         |    WHERE pa.p + pb.p > 0
         |    UNION ALL
         |    SELECT wm.m2, (wm.n * $S * $S) // (pa.p + pb.p)
         |    FROM wm JOIN p${r - 1} pa ON pa.m = wm.m1
         |             JOIN p${r - 1} pb ON pb.m = wm.m2
         |    WHERE pa.p + pb.p > 0) z GROUP BY 1),
         |praw$r AS MATERIALIZED (SELECT s.m,
         |    CASE WHEN coalesce(d.d, 0) > 0
         |      THEN (s.wins2 * $S * $S) // (2 * d.d) ELSE 0 END AS p
         |  FROM stat s LEFT JOIN d$r d ON d.m = s.m),
         |t$r AS MATERIALIZED (SELECT sum(p) AS tot FROM praw$r),
         |p$r AS MATERIALIZED (SELECT m,
         |    CASE WHEN tot > 0 THEN (p * (SELECT k FROM kk) * $S) // tot
         |         ELSE p END AS p
         |  FROM praw$r, t$r)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT s.m AS model, CAST(p.p AS BIGINT) AS strength,
         |  CAST(s.wins2 AS DOUBLE) / 2 AS wins,
         |  CAST(s.games AS BIGINT) AS games
         |FROM p$iters p JOIN stat s ON s.m = p.m""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_assign_ids", (s, d) => {
      // dense 0-based ids in (source, doc_id) order via the distributed
      // sort + zipWithIndex pattern — no un-partitioned window
      graft.ops.CorpusOps.assignRowIds(
        par(s, t(s, d, "documents")).select("source", "doc_id"),
        Seq("source", "doc_id"))
    }, Sql(
      """SELECT source, doc_id,
        |  row_number() OVER (ORDER BY source, doc_id) - 1 AS row_id
        |FROM documents""".stripMargin)),

    QueryDef("q_ks_drift", (s, d) => {
      // binned two-sample KS between click and view event values —
      // integer-only output (KS = max_cross_diff / (n_a*n_b) is the
      // consumer's division)
      val ev = events(s, d)
      graft.ops.CorpusOps.ksDrift(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"),
        "value", bins = 64)
    }, Sql(
      // binning mirrors the Spark expression tree exactly (same IEEE ops:
      // width = (hi-lo)/64 then floor((v-lo)/width)) so bins agree
      """WITH va AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |vb AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM
        |  (SELECT v FROM va UNION ALL SELECT v FROM vb)),
        |ba AS (SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(63, CAST(floor((v - lo) / ((hi - lo) / 64))
        |      AS INTEGER)) END AS bin, count(*) AS ca
        |  FROM va, bounds GROUP BY 1),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(63, CAST(floor((v - lo) / ((hi - lo) / 64))
        |      AS INTEGER)) END AS bin, count(*) AS cb
        |  FROM vb, bounds GROUP BY 1),
        |j AS (SELECT coalesce(ba.bin, bb.bin) AS bin,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM ba FULL OUTER JOIN bb ON ba.bin = bb.bin),
        |cum AS (SELECT bin,
        |    sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumb
        |  FROM j),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b FROM j),
        |cr AS (SELECT bin,
        |    CAST(abs(cuma * n_b - cumb * n_a) AS BIGINT) AS cross_
        |  FROM cum, tot)
        |SELECT n_a, n_b,
        |  (SELECT max(cross_) FROM cr) AS max_cross_diff,
        |  (SELECT bin FROM cr ORDER BY cross_ DESC, bin LIMIT 1)
        |    AS argmax_bin
        |FROM tot""".stripMargin)),

    QueryDef("q_corpus_report", (s, d) => {
      // the data-card aggregation: integer-only per-(source, lang)
      // signals (sums/counts hash identically cross-engine; ratios are
      // the consumer's division)
      graft.ops.CorpusOps.corpusReport(par(s, t(s, d, "documents")))
    }, Sql(
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  min(nt) AS min_tokens, max(nt) AS max_tokens,
        |  CAST(sum(em) AS BIGINT) AS n_email_docs,
        |  CAST(sum(num) AS BIGINT) AS n_longnum_docs
        |FROM (
        |  SELECT source, lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS BIGINT) AS nt,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CASE WHEN regexp_matches(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |      THEN 1 ELSE 0 END AS em,
        |    CASE WHEN regexp_matches(text, '[0-9]{9,}')
        |      THEN 1 ELSE 0 END AS num
        |  FROM documents)
        |GROUP BY source, lang""".stripMargin)),

    QueryDef("q_blocklist_phrases", (s, d) => {
      // phrase containment via the broadcast theta-join pattern (the
      // C4 substring semantics; word-level sibling is q_blocklist)
      import s.implicits._
      graft.ops.CorpusOps.flagBlocklistedPhrases(
        par(s, t(s, d, "documents")),
        Seq("hash join", "merge join", "no such phrase").toDF("phrase"))
    }, Sql(
      """SELECT doc_id, count(DISTINCT p) AS n_phrases,
        |  min(p) AS first_phrase
        |FROM documents,
        |  (SELECT unnest(['hash join', 'merge join', 'no such phrase'])
        |     AS p)
        |WHERE contains(lower(text), p)
        |GROUP BY doc_id""".stripMargin)),

    QueryDef("q_blocklist", (s, d) => {
      // C4-style blocklist audit: word-level hits against a broadcast
      // list (one present term, one absent — the no-hit path is free)
      import s.implicits._
      graft.ops.CorpusOps.flagBlocklisted(
        par(s, t(s, d, "documents")),
        Seq("dup", "deadlock").toDF("term"))
    }, Sql(
      """SELECT doc_id, count(*) AS n_hits,
        |  count(DISTINCT term) AS n_terms
        |FROM (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents)
        |WHERE term IN ('dup', 'deadlock')
        |GROUP BY doc_id""".stripMargin)),

    QueryDef("q_hash_split", (s, d) => {
      // deterministic md5-bucket train/val/test assignment (CorpusOps):
      // membership is a pure function of the key, so incremental corpus
      // refreshes never reshuffle existing rows across splits
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.CorpusOps.hashSplit("doc_id", 80, 10).as("split"))
    }, Sql(
      """WITH b AS (SELECT doc_id,
        |  ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1)) % 100
        |    AS bucket
        |  FROM documents)
        |SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
        |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b""".stripMargin)),

    QueryDef("q_stratified_sample", (s, d) => {
      // deterministic per-language downsample: en kept at 50%, others 20%
      t(s, d, "documents")
        .filter(graft.ops.CorpusOps.stratifiedKeep(
          "doc_id", "lang", Map("en" -> 50), defaultPct = 20))
        .select("doc_id", "lang")
    }, Sql(
      """WITH b AS (SELECT doc_id, lang,
        |  ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1)) % 100
        |    AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)""".stripMargin)),

    QueryDef("q_length_band", (s, d) => {
      // exact within-language length-percentile trim (Gopher-style)
      graft.ops.CorpusOps.lengthBand(
        t(s, d, "documents"), "text", "lang", 0.05, 0.95)
        .select("doc_id", "lang")
    }, Sql(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY length(text)) AS pr
        |  FROM documents)
        |WHERE pr >= 0.05 AND pr <= 0.95""".stripMargin)),

    QueryDef("q_scrub_text", (s, d) => {
      // PII-style scrub over text with deterministically injected
      // email/number tokens (the raw corpus is synthetic and clean)
      val dirty = concat(col("text"), lit(" user"), col("doc_id"),
        lit("@example.com id"), (col("doc_id") + 1) * 1234567890L)
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.CorpusOps.scrubText(dirty).as("scrubbed"))
    }, Sql(
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com id'
        |        || CAST((doc_id + 1) * 1234567890 AS VARCHAR),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{9,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin)),

    QueryDef("q_source_quota", (s, d) => {
      // per-source corpus share cap: at most 40 docs per source, chosen in
      // md5-hash order (deterministic, crawl-order-unbiased)
      graft.ops.CorpusOps.sourceQuota(
        par(s, t(s, d, "documents")), "source", "doc_id", maxPerSource = 40)
        .select("doc_id", "source")
    }, Sql(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 40""".stripMargin)),

    QueryDef("q_repetition", (s, d) => {
      // Gopher-style within-doc repetition filter: duplicate word-bigram
      // fraction, floor(x*1e6) for an exact oracle
      par(s, t(s, d, "documents")).select(col("doc_id"),
        floor(graft.ops.CorpusOps.repetitionRatio(col("text"), 2) * 1e6)
          .cast("long").as("rep2_u6"))
    }, Sql(
      """WITH grams AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s),
        |agg AS (SELECT doc_id, count(*) AS total, count(DISTINCT g) AS dist
        |        FROM grams GROUP BY 1)
        |SELECT d.doc_id, CAST(floor(
        |    (CASE WHEN a.total IS NULL THEN 0.0
        |          ELSE 1.0 - CAST(a.dist AS DOUBLE) / a.total END) * 1000000.0)
        |  AS BIGINT) AS rep2_u6
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    QueryDef("q_chunk", (s, d) => {
      // overlapping context-window chunking: 40-token windows, stride 30
      graft.ops.CorpusOps.chunkDocs(
        par(s, t(s, d, "documents")), chunkTokens = 40, stride = 30)
    }, Sql(
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |    greatest(CAST(ceil(len(w) / 30.0) AS INTEGER), 1) AS nc FROM t),
        |x AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS k FROM c)
        |SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
        |  array_to_string(w[k*30+1 : k*30+40], ' ') AS chunk_text,
        |  CAST(len(w[k*30+1 : k*30+40]) AS BIGINT) AS chunk_n_tokens
        |FROM x""".stripMargin)),

    QueryDef("q_suppress_rare", (s, d) => {
      // k-anonymity-style suppression: drop (user_id, event_type) combos
      // seen fewer than 3 times
      graft.ops.CorpusOps.suppressSmallGroups(
        events(s, d), Seq("user_id", "event_type"), k = 3)
        .select("event_id", "user_id", "event_type")
    }, Sql(
      """SELECT e.event_id, e.user_id, e.event_type
        |FROM events e
        |JOIN (SELECT user_id, event_type FROM events
        |      GROUP BY 1, 2 HAVING count(*) >= 3) g
        |  USING (user_id, event_type)""".stripMargin)),

    QueryDef("q_score_buckets", (s, d) => {
      // CCNet head/middle/tail terciles (ops.CorpusOps.scoreBuckets) over
      // an integer score (n_chars — ties broken by id, so the global rank
      // is fully deterministic); distributed sort + zipWithIndex, no
      // global window
      graft.ops.CorpusOps.scoreBuckets(
        par(s, t(s, d, "documents")).select("doc_id", "n_chars"),
        "n_chars", "doc_id")
        .select("doc_id", "score_bucket")
    }, Sql(
      // boundary literals are the decimal prints of the Scala doubles
      // (1.0/3, 2.0/3) so both engines compare against the same double
      """WITH r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
        |      AS DOUBLE) AS rank,
        |    CAST(count(*) OVER () AS DOUBLE) AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN rank < 0.3333333333333333 * n THEN 'head'
        |       WHEN rank < 0.6666666666666666 * n THEN 'middle'
        |       ELSE 'tail' END AS score_bucket
        |FROM r""".stripMargin)),

    QueryDef("q_k_anonymity", (s, d) => {
      // k-anonymity audit (ops.Profile.kAnonymityViolations): classes of
      // (nationkey, acctbal) smaller than k=5 re-identify their members —
      // acctbal is near-unique so violations exist at every SF
      graft.ops.Profile.kAnonymityViolations(
        t(s, d, "customer"), Seq("c_nationkey", "c_acctbal"), k = 5)
    }, Sql(
      """SELECT c_nationkey, c_acctbal, count(*) AS class_size
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 5""".stripMargin)),

    QueryDef("q_k_anonymity_rows", (s, d) => {
      // row-level annotation (ops.Profile.annotateKAnonymity): each row
      // with its equivalence-class size under (mktsegment, nationkey)
      graft.ops.Profile.annotateKAnonymity(
        t(s, d, "customer").filter(col("c_custkey") <= 500)
          .select("c_custkey", "c_mktsegment", "c_nationkey"),
        Seq("c_mktsegment", "c_nationkey"), k = 3)
    }, Sql(
      """WITH sub AS (
        |  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        |  WHERE c_custkey <= 500),
        |cls AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS class_size
        |  FROM sub GROUP BY 1, 2)
        |SELECT s.c_custkey, s.c_mktsegment, s.c_nationkey,
        |  c.class_size, c.class_size >= 3 AS is_k_anonymous
        |FROM sub s JOIN cls c USING (c_mktsegment, c_nationkey)""".stripMargin)),

    QueryDef("q_l_diversity", (s, d) => {
      // l-diversity audit (ops.Profile.lDiversityViolations): classes
      // whose sensitive acctbal shows < 3 distinct values leak the
      // attribute even when the class passes k-anonymity. The synthetic
      // `cohort` quasi-column (custkey % 50, a zip-code stand-in) keeps
      // classes SMALL at every SF so the audit returns a real mix of
      // violating and passing classes (2965 of 5653 at sf0.1) — a 0-row
      // result would certify only the schema
      graft.ops.Profile.lDiversityViolations(
        t(s, d, "customer")
          .withColumn("cohort", col("c_custkey") % 50),
        Seq("c_mktsegment", "c_nationkey", "cohort"),
        "c_acctbal", l = 3)
    }, Sql(
      """SELECT c_mktsegment, c_nationkey, c_custkey % 50 AS cohort,
        |  count(*) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive
        |FROM customer GROUP BY 1, 2, 3
        |HAVING count(DISTINCT c_acctbal) < 3""".stripMargin)),

    QueryDef("q_validate_dialogs", (s, d) => {
      // chat-corpus structural gate (ops.DialogOps.validateDialogs):
      // synthetic dialogs built from real doc text with planted defects
      // (role repeat every 5th, empty content every 7th, assistant-first
      // every 11th) — exact oracle via window lag alternation in DuckDB
      val docs = t(s, d, "documents").filter(col("doc_id") < 500)
      val dialogs = docs.select(col("doc_id").as("dialog_id"),
        array(
          struct(
            when(col("doc_id") % 11 === 0, "assistant").otherwise("user")
              .as("role"),
            col("text").as("content")),
          struct(
            when(col("doc_id") % 5 === 0, "user").otherwise("assistant")
              .as("role"),
            when(col("doc_id") % 7 === 0, " ")
              .otherwise(concat(lit("re: "), col("text"))).as("content")))
          .as("turns"))
      graft.ops.DialogOps.validateDialogs(dialogs)
        .select("dialog_id", "n_turns", "starts_with_user",
          "ends_with_assistant", "alternates", "all_nonempty", "valid")
    }, Sql(
      """WITH dlg AS (
        |  SELECT doc_id AS dialog_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'assistant' ELSE 'user' END
        |      AS r1,
        |    text AS c1,
        |    CASE WHEN doc_id % 5 = 0 THEN 'user' ELSE 'assistant' END
        |      AS r2,
        |    CASE WHEN doc_id % 7 = 0 THEN ' ' ELSE 're: ' || text END
        |      AS c2
        |  FROM documents WHERE doc_id < 500)
        |SELECT dialog_id, CAST(2 AS BIGINT) AS n_turns,
        |  r1 = 'user' AS starts_with_user,
        |  r2 = 'assistant' AS ends_with_assistant,
        |  r1 <> r2 AS alternates,
        |  len(trim(c1)) > 0 AND len(trim(c2)) > 0 AS all_nonempty,
        |  r1 = 'user' AND r2 = 'assistant' AND r1 <> r2
        |    AND len(trim(c1)) > 0 AND len(trim(c2)) > 0 AS valid
        |FROM dlg""".stripMargin)),

    QueryDef("q_render_dialogs", (s, d) => {
      // dialog flattening (ops.DialogOps.renderDialogs): role-tag
      // template + newline join — exact string oracle
      val docs = t(s, d, "documents").filter(col("doc_id") < 500)
      val dialogs = docs.select(col("doc_id").as("dialog_id"),
        array(
          struct(lit("user").as("role"), col("text").as("content")),
          struct(lit("assistant").as("role"),
            concat(lit("re: "), col("text")).as("content")))
          .as("turns"))
      graft.ops.DialogOps.renderDialogs(dialogs)
        .select("dialog_id", "rendered_text", "n_render_chars")
    }, Sql(
      """SELECT doc_id AS dialog_id,
        |  '<|user|>' || text || chr(10) || '<|assistant|>re: ' || text
        |    AS rendered_text,
        |  CAST(len('<|user|>' || text || chr(10)
        |    || '<|assistant|>re: ' || text) AS BIGINT) AS n_render_chars
        |FROM documents WHERE doc_id < 500""".stripMargin)),

    QueryDef("q_epoch_shuffle", (s, d) => {
      // deterministic per-epoch training order (ops.CorpusOps.epochShuffle):
      // dense 0-based rank on md5('3:' || doc_id) — reproducible global
      // permutation, no RNG; exact oracle
      graft.ops.CorpusOps.epochShuffle(
        t(s, d, "documents").select("doc_id"), Seq("doc_id"), epoch = 3)
    }, Sql(
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS epoch_order
        |FROM documents""".stripMargin)),

    QueryDef("q_sample_negatives", (s, d) => {
      // deterministic contrastive negative sampling
      // (ops.CorpusOps.sampleNegatives): synthetic positive pairs, md5-
      // priority pool + per-query pick — exact oracle (md5 is the same
      // function cross-engine)
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 5)
      val pos = qs.select(col("doc_id").as("query_id"),
          (col("doc_id") * 7 % 100).as("doc_id"))
        .union(qs.select(col("doc_id").as("query_id"),
          (col("doc_id") * 13 % 100).as("doc_id")))
      graft.ops.CorpusOps.sampleNegatives(pos, docs, k = 5, poolSize = 64)
    }, Sql(
      """WITH pos AS (
        |  SELECT doc_id AS query_id, (doc_id * 7) % 100 AS doc_id
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13) % 100
        |  FROM documents WHERE doc_id < 5),
        |pool AS (
        |  SELECT doc_id FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
        |q AS (SELECT DISTINCT query_id FROM pos),
        |cand AS (
        |  SELECT q.query_id, p.doc_id FROM q CROSS JOIN pool p
        |  WHERE NOT EXISTS (SELECT 1 FROM pos
        |    WHERE pos.query_id = q.query_id AND pos.doc_id = p.doc_id))
        |SELECT query_id, doc_id, CAST(r AS INTEGER) AS neg_rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY md5(CAST(query_id AS VARCHAR) || ':'
        |      || CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM cand) WHERE r <= 5""".stripMargin)),

    QueryDef("q_canonical_url", (s, d) => {
      // URL canonicalization (ops.CorpusOps.canonicalizeUrl): synthetic
      // crawl URLs with protocol-case/default-port/tracking-param/
      // trailing-slash/fragment variance, collapsed by the documented
      // rule set — exact string oracle (identical regex rules in DuckDB)
      val docs = t(s, d, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, "HTTPS://Example.COM:443/")
          .otherwise("https://example.com/"),
        col("source"), lit("/page/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, "/?utm_source=feed&b=2&a=1#frag")
          .otherwise(when(col("doc_id") % 3 === 1, "?b=2&a=1")
            .otherwise("")))
      docs.select(col("doc_id"), url.as("url"),
        graft.ops.CorpusOps.canonicalizeUrl(url).as("canonical_url"))
    }, Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Example.COM:443/'
        |          ELSE 'https://example.com/' END)
        |    || source || '/page/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1#frag'
        |             WHEN doc_id % 3 = 1 THEN '?b=2&a=1' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |        regexp_replace(trim(url), '#.*$', '') AS nofrag FROM u),
        |p AS (
        |  SELECT doc_id, url,
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
        |qq AS (
        |  SELECT doc_id, url, head, pth,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|gclid|fbclid|ref)='))), '&'), '') AS qs
        |  FROM p)
        |SELECT doc_id, url,
        |  head || pth || CASE WHEN qs = '' THEN '' ELSE '?' || qs END
        |    AS canonical_url
        |FROM qq""".stripMargin)),

    QueryDef("q_pii_report", (s, d) => {
      // PII audit counts (ops.CorpusOps.piiReport) on the scrub surface:
      // even docs get synthetic PII appended (the corpus itself has none),
      // odd docs stay clean, so both has_pii branches carry rows
      val spiked = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" user"), col("doc_id"),
            lit("@example.com id"),
            ((col("doc_id") + 1) * 1234567890L).cast("string")))
          .otherwise(col("text")).as("text"))
      graft.ops.CorpusOps.piiReport(spiked)
    }, Sql(
      // same spiking and patterns as q_scrub_text; n_long_nums counted on
      // the email-scrubbed text (mirrors scrubText's sequential application)
      """WITH spiked AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN text || ' user' || CAST(doc_id AS VARCHAR)
        |        || '@example.com id'
        |        || CAST((doc_id + 1) * 1234567890 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      AS INTEGER) AS n_emails,
        |    CAST(len(regexp_extract_all(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'), '[0-9]{9,}')) AS INTEGER) AS n_long_nums
        |  FROM spiked)
        |SELECT doc_id, n_emails, n_long_nums,
        |  (n_emails > 0 OR n_long_nums > 0) AS has_pii
        |FROM counted""".stripMargin)),

    QueryDef("q_source_token_budget", (s, d) => {
      // token-measured mixing cap (ops.CorpusOps.sourceTokenBudget): each
      // source keeps its md5-ordered doc prefix until 2000 tokens; the
      // boundary-crossing doc is kept (packByTokenBudget convention) and
      // the kept ROWS oracle-match (md5 order is engine-portable)
      graft.ops.CorpusOps.sourceTokenBudget(
        t(s, d, "documents"), "source", "doc_id", "text", budget = 2000)
        .select("doc_id", "source")
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    coalesce(sum(nt) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM t)
        |SELECT doc_id, source FROM c WHERE before < 2000""".stripMargin)),

    QueryDef("q_mix_temperature", (s, d) => {
      // temperature resampling (ops.CorpusOps.temperatureSample): strata by
      // leading source digit (deliberately uneven: 'src1x' strata are 11x
      // the others), alpha=0.5 thins surviving sizes to ~ n^0.5; the
      // md5-fraction keep decision is engine-portable so the sampled ROWS
      // (not just sizes) oracle-match
      graft.ops.CorpusOps.temperatureSample(
        t(s, d, "documents").select(col("doc_id"),
          substring(col("source"), 4, 1).as("stratum")),
        "stratum", "doc_id", alpha = 0.5)
        .select("doc_id", "stratum")
    }, Sql(
      """WITH s AS (
        |  SELECT doc_id, substr(source, 4, 1) AS stratum FROM documents),
        |c AS (SELECT stratum, count(*) AS n FROM s GROUP BY stratum),
        |p AS (SELECT stratum,
        |        pow(CAST((SELECT min(n) FROM c) AS DOUBLE) / n, 0.5) AS q
        |      FROM c)
        |SELECT s.doc_id, s.stratum
        |FROM s JOIN p USING (stratum)
        |WHERE CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) / 4294967296.0 < p.q""".stripMargin)),

    QueryDef("q_profile", (s, d) => {
      // dataset profiling (ops.Profile.profileColumns): every column's
      // row/null/exact-distinct counts + string min/max in ONE aggregation
      // (multi-countDistinct rewrites into a single Expand — one shuffle,
      // not one job per column), unpivoted by a static inline explode.
      // par(): the Expand fans out 5x per input row, so the single-file
      // scan must be rebalanced or the whole fan-out runs in one task
      graft.ops.Profile.profileColumns(
        par(s, t(s, d, "lineitem")),
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_quantity"))
    }, Sql(
      """SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
        |    count(*) - count(l_orderkey) AS n_nulls,
        |    count(DISTINCT l_orderkey) AS n_distinct,
        |    coalesce(CAST(min(l_orderkey) AS VARCHAR), '') AS min_val,
        |    coalesce(CAST(max(l_orderkey) AS VARCHAR), '') AS max_val
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
        |    count(DISTINCT l_partkey),
        |    coalesce(CAST(min(l_partkey) AS VARCHAR), ''),
        |    coalesce(CAST(max(l_partkey) AS VARCHAR), '')
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |    count(DISTINCT l_returnflag),
        |    coalesce(CAST(min(l_returnflag) AS VARCHAR), ''),
        |    coalesce(CAST(max(l_returnflag) AS VARCHAR), '')
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |    count(DISTINCT l_quantity),
        |    coalesce(CAST(min(l_quantity) AS VARCHAR), ''),
        |    coalesce(CAST(max(l_quantity) AS VARCHAR), '')
        |  FROM lineitem""".stripMargin)),

    QueryDef("q_weighted_sample", (s, d) => {
      // Efraimidis-Spirakis weighted sampling without replacement
      // (ops.CorpusOps.weightedSample): score = u^(1/w), top-20 per
      // source, u = engine-portable md5-fraction so the sampled ROWS
      // oracle-match (w = text length: longer docs oversampled)
      graft.ops.CorpusOps.weightedSample(
        t(s, d, "documents").withColumn("_w", length(col("text")).cast("double")),
        "_w", n = 20, idCol = "doc_id", strataCols = Seq("source"))
        .select("doc_id", "source", "sample_rank")
    }, Sql(
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) / 4294967296.0 AS u,
        |    CAST(length(text) AS DOUBLE) AS w
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY pow(u, 1.0 / w) DESC, doc_id) AS sample_rank
        |  FROM s WHERE w > 0)
        |SELECT doc_id, source, sample_rank FROM r
        |WHERE sample_rank <= 20""".stripMargin)),

    QueryDef("q_curate_pipeline", (s, d) => {
      // the composed curation pipeline (ops.Pipelines.curateCorpus):
      // annotate -> quality gate -> exact dedup -> MinHash dedup ->
      // decontaminate -> scrub -> chunk -> split+pack, on a bounded doc
      // subset with the high-id tail standing in as the eval set.
      // Returns the per-stage row report. EXACT oracle via the near-dup
      // staged seam (nearDupNumHashes = 0): every stage count then
      // replays in SQL — the lang-id argmax, the repetition gate, the
      // fingerprint groups, all-pairs Jaccard + recursive CC, the
      // decontaminate anti-join, and the scrub+chunk token arithmetic —
      // so the COMPOSITION itself is oracle-certified end-to-end, not
      // just its stages. PipelinesSpec keeps the cross-stage invariants
      // and deployment banding. Fixed id windows so both roles are
      // non-empty at every SF the driver runs.
      val docs = par(s, t(s, d, "documents"))
      val r = graft.ops.Pipelines.curateCorpus(
        docs.filter(col("doc_id") < 300),
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .select("doc_id", "text"),
        minQuality = 0.0, maxRepetition = 0.9, nearDupThreshold = 0.5,
        nearDupNumHashes = 0, nearDupBands = 1,
        chunkTokens = 64, chunkStride = 64, packBudget = 512)
      Pins.release(r.chunks)
      r.report
    }, Sql(
      // the WHOLE curation pipeline's per-stage row report, replayed
      // stage by stage via curateChainSql: langId argmax, the repetition
      // gate's verbatim double compare, fingerprint-NORMALIZED exact
      // dedup groups, all-pairs Jaccard (incl. the kernel's empty-shingle
      // 1.0 pairs) + recursive min-label CC, the decontaminate anti-join,
      // then scrub + ceil-div chunk counts (split+pack preserves rows)
      s"""WITH RECURSIVE
        |${curateChainSql(gateMaxId = 300, dayMaxId = 300)},
        |scr AS (SELECT doc_id, regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g'), '[0-9]{9,}', '<NUM>', 'g') AS text FROM adm1),
        |ck AS (SELECT doc_id, greatest(CAST(ceil(len(
        |    regexp_split_to_array(trim(text), '\\s+')) / 64.0) AS BIGINT),
        |    1) AS nc FROM scr),
        |chunkn AS (SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS n
        |  FROM ck)
        |SELECT 'input+annotate' AS stage,
        |  CAST((SELECT count(*) FROM d0) AS BIGINT) AS "rows"
        |UNION ALL SELECT 'quality-gate',
        |  CAST((SELECT count(*) FROM gated) AS BIGINT)
        |UNION ALL SELECT 'exact-dedup',
        |  CAST((SELECT count(*) FROM ex1) AS BIGINT)
        |UNION ALL SELECT 'near-dedup',
        |  CAST((SELECT count(*) FROM nd1) AS BIGINT)
        |UNION ALL SELECT 'decontaminate',
        |  CAST((SELECT count(*) FROM adm1) AS BIGINT)
        |UNION ALL SELECT 'chunk', (SELECT n FROM chunkn)
        |UNION ALL SELECT 'split+pack', (SELECT n FROM chunkn)""".stripMargin)),

    QueryDef("q_curate_batch", (s, d) => {
      // the INCREMENTAL curation pipeline (ops.Pipelines.curateBatch):
      // day 1 curates the low-id half against an empty CorpusState; day 2
      // curates a batch that replays part of day 1 (plus novel docs)
      // against day 1's returned state — the daily-ingest deployment
      // shape. Returns day 2's per-stage report. EXACT oracle via the
      // near-dup staged seam (numHashes = 0 on BOTH days, so the state's
      // band index degenerates to exact cross-axis Jaccard): the oracle
      // replays day 1's admissions, then each day-2 stage count —
      // incremental exact dedup (batch-min-id + text anti-join),
      // incremental near dedup (within-batch CC + cross-day Jaccard
      // rejection), decontaminate, and the scrub+chunk arithmetic.
      // PipelinesSpec keeps day-1 curateCorpus-equivalence and the
      // cross-day keep-one invariants at deployment banding.
      val docs = par(s, t(s, d, "documents")).select("doc_id", "text")
      val eval = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      val day1 = docs.filter(col("doc_id") < 150)
      val r1 = graft.ops.Pipelines.curateBatch(
        graft.ops.Pipelines.initCorpusState(docs.limit(0), numHashes = 0,
          bands = 1), day1, eval,
        minQuality = 0.0, maxRepetition = 0.9, nearDupThreshold = 0.5,
        numHashes = 0, bands = 1,
        chunkTokens = 64, chunkStride = 64, packBudget = 512,
        audit = false)
      // day 2: 50 replayed day-1 docs (remapped ids — must be rejected by
      // the state) + 150 genuinely new docs
      val day2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 300)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val r2 = graft.ops.Pipelines.curateBatch(r1.state, day2, eval,
        minQuality = 0.0, maxRepetition = 0.9, nearDupThreshold = 0.5,
        numHashes = 0, bands = 1,
        chunkTokens = 64, chunkStride = 64, packBudget = 512)
      // the reports are local rows: no pin of either day is read again
      Pins.release(r1.admitted, r2.admitted, r2.chunks)
      r2.report
    }, Sql(
      // the INCREMENTAL pipeline's day-2 report: day 1's admissions via
      // curateChainSql (gates over ids < 300 serve both days — gate
      // outcomes depend only on text), then each day-2 stage —
      // batch-min-id exact dedup anti-joined on day-1 admitted NORMALIZED
      // texts (the fingerprint key), within-batch CC plus cross-day
      // Jaccard rejection (incl. empty-shingle 1.0 pairs on both axes),
      // decontaminate, and scrub+chunk
      s"""WITH RECURSIVE
        |${curateChainSql(gateMaxId = 300, dayMaxId = 150)},
        |b0 AS MATERIALIZED (SELECT doc_id + 1000000 AS doc_id, text, norm
        |  FROM gated WHERE doc_id >= 100 AND doc_id < 300),
        |ex2 AS MATERIALIZED (SELECT b.doc_id, b.text FROM b0 b
        |  JOIN (SELECT min(doc_id) AS doc_id FROM b0 GROUP BY norm) m
        |    USING (doc_id)
        |  LEFT JOIN (SELECT DISTINCT norm FROM adm1) a1
        |    ON a1.norm = b.norm
        |  WHERE a1.norm IS NULL),
        |sh2 AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 5) AS s
        |  FROM ex2,
        |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
        |sz2 AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
        |pp2 AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS inter
        |  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pr2 AS (SELECT x, y FROM pp2 JOIN sz2 sa ON sa.doc_id = x
        |  JOIN sz2 sb ON sb.doc_id = y
        |  WHERE 2 * inter >= sa.n + sb.n - inter
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id
        |  FROM (SELECT doc_id FROM ex2 WHERE len(text) < 5) a
        |  JOIN (SELECT doc_id FROM ex2 WHERE len(text) < 5) b
        |    ON a.doc_id < b.doc_id),
        |sym2 AS (SELECT x, y FROM pr2 UNION SELECT y, x FROM pr2),
        |reach2(x, y) AS (SELECT x, y FROM sym2 UNION
        |  SELECT r.x, s2.y FROM reach2 r JOIN sym2 s2 ON r.y = s2.x),
        |nb2 AS MATERIALIZED (SELECT e.doc_id, e.text FROM ex2 e
        |  LEFT JOIN (SELECT x, min(y) AS mn FROM reach2 GROUP BY 1) r
        |    ON r.x = e.doc_id
        |  WHERE least(e.doc_id, coalesce(r.mn, e.doc_id)) = e.doc_id),
        |ash AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 5) AS s
        |  FROM adm1,
        |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
        |asz AS (SELECT doc_id, count(*) AS n FROM ash GROUP BY 1),
        |bsh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 5) AS s
        |  FROM nb2,
        |  LATERAL (SELECT unnest(generate_series(1, len(text) - 4)) AS i) g),
        |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
        |xhit AS (SELECT DISTINCT x FROM (
        |  SELECT p.x FROM (
        |    SELECT b.doc_id AS x, a.doc_id AS y, count(*) AS inter
        |    FROM bsh b JOIN ash a ON a.s = b.s GROUP BY 1, 2) p
        |  JOIN bsz ON bsz.doc_id = p.x JOIN asz ON asz.doc_id = p.y
        |  WHERE 2 * inter >= bsz.n + asz.n - inter
        |  UNION ALL
        |  SELECT b.doc_id FROM (SELECT doc_id FROM nb2
        |    WHERE len(text) < 5) b,
        |    (SELECT doc_id FROM adm1 WHERE len(text) < 5) a) z),
        |n2 AS MATERIALIZED (SELECT nb2.doc_id, nb2.text FROM nb2
        |  LEFT JOIN xhit ON xhit.x = nb2.doc_id WHERE xhit.x IS NULL),
        |t2sh AS (SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM n2) x,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |c2 AS MATERIALIZED (SELECT n2.doc_id, n2.text FROM n2
        |  LEFT JOIN (SELECT DISTINCT doc_id FROM (
        |      SELECT t.doc_id FROM t2sh t JOIN esh e USING (s3)
        |      GROUP BY t.doc_id, e.eval_id HAVING count(*) >= 2) hh) h
        |    ON h.doc_id = n2.doc_id
        |  WHERE h.doc_id IS NULL),
        |ck2 AS (SELECT greatest(CAST(ceil(len(regexp_split_to_array(trim(
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
        |      'g'), '[0-9]{9,}', '<NUM>', 'g')), '\\s+')) / 64.0)
        |    AS BIGINT), 1) AS nc FROM c2),
        |chn AS (SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS n FROM ck2)
        |SELECT 'input+annotate' AS stage, CAST((SELECT count(*)
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 300)
        |  AS BIGINT) AS "rows"
        |UNION ALL SELECT 'quality-gate',
        |  CAST((SELECT count(*) FROM b0) AS BIGINT)
        |UNION ALL SELECT 'exact-dedup-incremental',
        |  CAST((SELECT count(*) FROM ex2) AS BIGINT)
        |UNION ALL SELECT 'near-dedup-incremental',
        |  CAST((SELECT count(*) FROM n2) AS BIGINT)
        |UNION ALL SELECT 'decontaminate',
        |  CAST((SELECT count(*) FROM c2) AS BIGINT)
        |UNION ALL SELECT 'admitted',
        |  CAST((SELECT count(*) FROM c2) AS BIGINT)
        |UNION ALL SELECT 'chunk', (SELECT n FROM chn)
        |UNION ALL SELECT 'split+pack', (SELECT n FROM chn)""".stripMargin)),

    QueryDef("q_outliers", (s, d) => {
      // grouped z-score outliers (ops.CorpusOps.zscoreOutliers): event
      // values > 3 sigma from their event_type mean — agg + broadcast
      // stats join, no per-row window
      graft.ops.CorpusOps.zscoreOutliers(
        events(s, d).select("event_id", "event_type", "value"),
        "value", Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(col("zscore"), 4).as("z4"))
    }, Sql(
      """WITH stats AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  round((e.value - s.mu) / s.sd, 4) AS z4
        |FROM events e JOIN stats s USING (event_type)
        |WHERE s.sd > 0 AND abs((e.value - s.mu) / s.sd) > 3""".stripMargin)),

    QueryDef("q_t_closeness", (s, d) => {
      // t-closeness audit (ops.Profile.tClosenessViolations): sources
      // whose language distribution deviates from the corpus-global one
      // by total variation > 1/20 — exact integer TVD fraction published
      // as (tvd_num, tvd_den); completes the k-anonymity / l-diversity /
      // t-closeness governance triad
      graft.ops.Profile.tClosenessViolations(
        t(s, d, "documents").select("doc_id", "source", "lang"),
        Seq("source"), "lang", tNum = 1, tDen = 20)
    }, Sql(
      // exact integer TVD fraction; `gl` not `glob` (DuckDB keyword);
      // null-safe joins because a null sensitive/quasi value is a value
      """WITH tot AS (
        |  SELECT CAST(count(*) AS DECIMAL(38,0)) AS N FROM documents),
        |gl AS (SELECT lang AS sv, CAST(count(*) AS DECIMAL(38,0)) AS g
        |       FROM documents GROUP BY 1),
        |cls AS (SELECT source, lang AS sv,
        |    CAST(count(*) AS DECIMAL(38,0)) AS c
        |  FROM documents GROUP BY 1, 2),
        |sizes AS (SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS cs
        |          FROM documents GROUP BY 1),
        |agg AS (
        |  SELECT cls.source, s.cs,
        |    sum(abs(c * N - g * cs)) AS pnum, sum(g) AS gpres,
        |    max(N) AS N
        |  FROM cls JOIN gl ON cls.sv IS NOT DISTINCT FROM gl.sv
        |  JOIN sizes s ON cls.source IS NOT DISTINCT FROM s.source
        |  CROSS JOIN tot GROUP BY 1, 2)
        |SELECT source, CAST(cs AS BIGINT) AS class_size,
        |  CAST(pnum + (N - gpres) * cs AS BIGINT) AS tvd_num,
        |  CAST(2 * cs * N AS BIGINT) AS tvd_den
        |FROM agg
        |WHERE (pnum + (N - gpres) * cs) * 20 > 1 * (2 * cs * N)""".stripMargin)),

    QueryDef("q_calibration_bins", (s, d) => {
      // reliability-diagram bins (ops.CorpusOps.calibrationBins): a
      // synthetic length-based [0,1] score against the is-English label,
      // integer (n, n_pos) per bin — one bounded aggregate
      val scored = t(s, d, "documents").select(col("doc_id"),
        least(lit(1.0), col("n_chars").cast("double") / lit(5000.0d))
          .as("score"),
        (col("lang") === "en").as("is_en"))
      graft.ops.CorpusOps.calibrationBins(scored, "score", "is_en",
        bins = 10)
    }, Sql(
      """SELECT least(9, greatest(0,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      CAST(n_chars AS DOUBLE) / CAST(5000 AS DOUBLE)) * 10)
        |    AS INTEGER))) AS bin,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    QueryDef("q_auc_exact", (s, d) => {
      // exact tie-corrected AUC (ops.CorpusOps.aucExact) of doc length as
      // a predictor of is-English, published as the doubled integer
      // fraction — score-lattice aggregate + one narrow prefix window
      graft.ops.CorpusOps.aucExact(
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            (col("lang") === "en").as("is_en")),
        "n_chars", "is_en")
    }, Sql(
      // doubled Mann-Whitney integers; prefix window over the score
      // lattice exactly as the Spark side
      """WITH g AS (
        |  SELECT round(CAST(n_chars AS DOUBLE), 6) AS s,
        |    CAST(count(*) AS DECIMAL(38,0)) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS DECIMAL(38,0)) AS np
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |c AS (SELECT s, n, np,
        |    sum(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g),
        |t AS (SELECT sum(np * ((cum - n) * 2 + n + 1)) AS r2,
        |        sum(np) AS npos, sum(n) AS ntot FROM c)
        |SELECT CAST(npos AS BIGINT) AS n_pos,
        |  CAST(ntot - npos AS BIGINT) AS n_neg,
        |  CAST(r2 - npos * (npos + 1) AS BIGINT) AS auc_num2,
        |  CAST(2 * npos * (ntot - npos) AS BIGINT) AS auc_den2
        |FROM t""".stripMargin)),

    QueryDef("q_confusion_matrix", (s, d) => {
      // confusion matrix (ops.CorpusOps.confusionMatrix): the " the "
      // heuristic as a toy English detector against the lang label —
      // one bounded (label, pred) aggregate, integer counts
      graft.ops.CorpusOps.confusionMatrix(
        t(s, d, "documents").select(col("lang"),
          when(col("text").contains(" the "), lit("en"))
            .otherwise(lit("other")).as("pred_lang")),
        "lang", "pred_lang")
    }, Sql(
      """SELECT lang AS label,
        |  CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END
        |    AS pred,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    QueryDef("q_cohen_kappa", (s, d) => {
      // Cohen's kappa integer sources (ops.CorpusOps.cohenKappa): lang
      // vs a synthetic second rater (disagrees on %5, abstains on %7 —
      // null ratings drop); kappa = (n_agree*n - pe_num)/(n^2 - pe_num)
      // downstream of the published integers
      graft.ops.CorpusOps.cohenKappa(
        t(s, d, "documents").select(col("lang").as("rater_a"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .when(col("doc_id") % 5 === 0, lit("xx"))
            .otherwise(col("lang")).as("rater_b")),
        "rater_a", "rater_b")
    }, Sql(
      // integer kappa sources; the pe join is inner (a label only one
      // rater used contributes 0), HUGEINT sums cast back to BIGINT
      """WITH r AS (SELECT lang AS a,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |         WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS b
        |  FROM documents),
        |both_r AS (SELECT a, b FROM r WHERE a IS NOT NULL
        |           AND b IS NOT NULL),
        |tot AS (SELECT count(*) AS n,
        |    sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM both_r),
        |ma AS (SELECT a AS l, count(*) AS na FROM both_r GROUP BY 1),
        |mb AS (SELECT b AS l, count(*) AS nb FROM both_r GROUP BY 1),
        |pe AS (SELECT coalesce(sum(na * nb), 0) AS p
        |       FROM ma JOIN mb USING (l))
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
        |  CAST(p AS BIGINT) AS pe_num
        |FROM tot CROSS JOIN pe""".stripMargin)),

    QueryDef("q_expectations", (s, d) => {
      // data-quality expectation suite (ops.Profile.checkExpectations,
      // the Deequ shape): six checks over documents — all four row-local
      // checks fold into ONE aggregate pass; unique adds one key
      // aggregate, refers_to one anti-join. Integer (n_rows,
      // n_violations) per check
      import graft.ops.Profile.Expectation._
      val docs = t(s, d, "documents")
      graft.ops.Profile.checkExpectations(docs, Seq(
        NotNull("lang"),
        InRange("n_chars", 50, 600),
        MatchesRegex("source", "^src\\d+$"),
        InSet("lang", Seq("en", "de", "fr", "es")),
        Unique(Seq("doc_id")),
        RefersTo("lang", docs.filter(col("lang") =!= "zh"), "lang")))
    }, Sql(
      // one SELECT per check; Spark rlike and DuckDB regexp_matches are
      // both find-anywhere, identical under the ^$ anchors
      """SELECT 'not_null(lang)' AS "check", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations
        |FROM documents
        |UNION ALL
        |SELECT 'in_range(n_chars)', count(*),
        |  CAST(sum(CASE WHEN n_chars IS NOT NULL AND
        |      (isnan(CAST(n_chars AS DOUBLE)) OR n_chars < 50
        |        OR n_chars > 600)
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'matches_regex(source)', count(*),
        |  CAST(sum(CASE WHEN source IS NOT NULL AND
        |      NOT regexp_matches(source, '^src\d+$')
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'in_set(lang)', count(*),
        |  CAST(sum(CASE WHEN lang IS NOT NULL AND
        |      lang NOT IN ('en', 'de', 'fr', 'es')
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'unique(doc_id)', CAST(sum(n) AS BIGINT),
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
        |FROM (SELECT count(*) AS n FROM documents GROUP BY doc_id)
        |UNION ALL
        |SELECT 'refers_to(lang)', count(*),
        |  CAST(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN
        |      (SELECT DISTINCT lang FROM documents WHERE lang <> 'zh')
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents""".stripMargin)),

    QueryDef("q_poisson_bootstrap", (s, d) => {
      // Poisson-bootstrap accuracy replicates (ops.CorpusOps
      // .poissonBootstrap): the " the " English detector resampled 16
      // times through the md5-derived Poisson(1) multiplicity lattice —
      // integer (n, n_correct) per replicate, CI downstream; one pass,
      // one aggregate
      graft.ops.CorpusOps.poissonBootstrap(
        t(s, d, "documents").select(col("doc_id"), col("lang"),
          when(col("text").contains(" the "), lit("en"))
            .otherwise(lit("other")).as("pred_lang")),
        "doc_id", "lang", "pred_lang", reps = 16)
    }, Sql(
      // the SAME literal Poisson(1) CDF thresholds the operator embeds
      // (never a computed exp(-1) ladder — 1-ulp drift between engines
      // would flip a multiplicity at a threshold boundary)
      """WITH reps AS (SELECT unnest(generate_series(1, 16)) AS rep),
        |rows_r AS (SELECT d.doc_id, r.rep,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
        |      CAST(r.rep AS VARCHAR)), 1, 8)) AS BIGINT) AS u,
        |    CASE WHEN d.lang =
        |      (CASE WHEN d.text LIKE '% the %' THEN 'en' ELSE 'other' END)
        |      THEN TRUE ELSE FALSE END AS ok
        |  FROM documents d CROSS JOIN reps r),
        |k AS (SELECT rep, ok,
        |    CASE WHEN u < 1580030168 THEN 0
        |         WHEN u < 3160060337 THEN 1
        |         WHEN u < 3950075421 THEN 2
        |         WHEN u < 4213413783 THEN 3
        |         WHEN u < 4279248373 THEN 4
        |         WHEN u < 4292415291 THEN 5
        |         WHEN u < 4294609777 THEN 6
        |         WHEN u < 4294923276 THEN 7
        |         ELSE 8 END AS k
        |  FROM rows_r)
        |SELECT rep, CAST(sum(k) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN ok THEN k ELSE 0 END) AS BIGINT)
        |    AS n_correct
        |FROM k GROUP BY 1""".stripMargin)),

    QueryDef("q_fleiss_kappa", (s, d) => {
      // Fleiss' kappa integer sources (ops.CorpusOps.fleissKappa):
      // every doc rated by 3 synthetic raters on a 3-label arithmetic
      // lattice — (n_items, n_raters, s2, p2) published exact, kappa a
      // ratio of integers downstream
      graft.ops.CorpusOps.fleissKappa(
        t(s, d, "documents").select(col("doc_id"),
          explode(sequence(lit(1), lit(3))).as("rater"))
          .withColumn("label",
            concat(lit("l"), ((col("doc_id") + 1) * col("rater") % 3)
              .cast("string"))),
        "doc_id", "label")
    }, Sql(
      """WITH ratings AS (
        |  SELECT doc_id,
        |    'l' || CAST((doc_id + 1) * r.rater % 3 AS VARCHAR) AS label
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS rater) r),
        |cells AS (SELECT doc_id, label, count(*) AS c FROM ratings
        |          GROUP BY 1, 2),
        |items AS (SELECT count(DISTINCT doc_id) AS N FROM cells),
        |s2 AS (SELECT sum(c * c) AS s2 FROM cells),
        |marg AS (SELECT sum(pj * pj) AS p2
        |         FROM (SELECT sum(c) AS pj FROM cells GROUP BY label) m)
        |SELECT CAST(N AS BIGINT) AS n_items, CAST(3 AS BIGINT)
        |    AS n_raters,
        |  CAST(s2 AS BIGINT) AS s2, CAST(p2 AS BIGINT) AS p2
        |FROM items CROSS JOIN s2 CROSS JOIN marg""".stripMargin)),

    QueryDef("q_kfold_assign", (s, d) => {
      // GROUP k-fold assignment (ops.CorpusOps.kFoldAssign): every doc
      // of a source lands in the same of 5 folds via the md5 lattice of
      // the GROUP key — fold-level leakage-freedom (near-dup families
      // per source never straddle train/eval); one narrow projection
      graft.ops.CorpusOps.kFoldAssign(
        t(s, d, "documents"), "doc_id", k = 5,
        groupCol = Some("source"))
    }, Sql(
      // the q_hash_split 4-hex md5 decode, on the GROUP key (source)
      """SELECT doc_id, text, lang, source, n_chars,
        |  CAST((
        |    (instr('0123456789abcdef', substr(md5(source),1,1))-1)*4096
        |    + (instr('0123456789abcdef', substr(md5(source),2,1))-1)*256
        |    + (instr('0123456789abcdef', substr(md5(source),3,1))-1)*16
        |    + (instr('0123456789abcdef', substr(md5(source),4,1))-1)
        |  ) % 5 AS INTEGER) AS fold
        |FROM documents""".stripMargin)),

    QueryDef("q_take_n_per_group", (s, d) => {
      // deterministic n-per-group sample (ops.CorpusOps.takeNPerGroup):
      // md5-priority top-3 per language — WindowGroupLimit plan, each
      // task retains 3 rows per group instead of sorting whole groups
      graft.ops.CorpusOps.takeNPerGroup(
        t(s, d, "documents"), Seq("lang"), n = 3, keyCol = "doc_id")
    }, Sql(
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 3""".stripMargin)),

    QueryDef("q_dp_counts", (s, d) => {
      // epsilon-DP group counts (ops.Profile.dpGroupCounts, Laplace
      // mechanism): per-(lang, source) noisy counts at eps=0.5, noise
      // inverted from the md5 lattice — replay-deterministic, oracle
      // replays the exact same draw; one aggregate, codegen noise
      graft.ops.Profile.dpGroupCounts(
        t(s, d, "documents"), Seq("lang", "source"), epsilon = 0.5)
    }, Sql(
      // replays the exact Laplace inverse-CDF draw: u from the md5
      // lattice of (lang|source|seed), x = -(1/eps)*sgn(u-.5)*ln(1-2|u-.5|);
      // coalesce-to-chr(0) mirrors the operator's null-group sentinel (||
      // would NULL-propagate and flake the first null-group corpus)
      """WITH g AS (SELECT lang, source, count(*) AS n,
        |    (CAST(('0x' || substr(md5(coalesce(lang, chr(0)) || '|' ||
        |      coalesce(source, chr(0)) || '|dp'),
        |      1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, source,
        |  round(n + (-1.0 / 0.5) * sign(u - 0.5)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n
        |FROM g""".stripMargin)),

    QueryDef("q_mad_outliers", (s, d) => {
      // Hampel median/MAD outliers (ops.CorpusOps.madOutliers): the
      // robust sibling of q_outliers — length gate that survives a
      // corrupted shard; two 1-row percentile stats broadcasts.
      // exact = true: the oracle interpolates exactly, and n_chars is a
      // bounded integer lattice (the documented exact-mode use case —
      // the DEFAULT is the GK sketch, pinned equal on lattices like
      // this one by Round7OpsSpec)
      graft.ops.CorpusOps.madOutliers(
        t(s, d, "documents").select("doc_id", "n_chars"), "n_chars",
        k = 2.0, exact = true)
    }, Sql(
      // med/mad on the 6-dp rounded lattice BEFORE the comparison,
      // exactly as the operator
      """WITH med AS (SELECT round(quantile_cont(
        |    CAST(n_chars AS DOUBLE), 0.5), 6) AS med FROM documents),
        |mad AS (SELECT round(quantile_cont(
        |    abs(CAST(d.n_chars AS DOUBLE) - m.med), 0.5), 6) AS mad
        |  FROM documents d CROSS JOIN med m)
        |SELECT d.doc_id, d.n_chars, m.med, x.mad,
        |  abs(CAST(d.n_chars AS DOUBLE) - m.med) > 2.0 * x.mad
        |    AS is_outlier
        |FROM documents d CROSS JOIN med m CROSS JOIN mad x""".stripMargin)),

    QueryDef("q_quantile_bins", (s, d) => {
      // equal-frequency quartile binning (ops.CorpusOps.quantileBins):
      // exact interpolated cut points broadcast, assignment as a
      // codegen comparison fold; boundary values land low on BOTH
      // engines (strict >). exact = true for the oracle's interpolation
      // (bounded n_chars lattice); the default is the GK-sketch path
      graft.ops.CorpusOps.quantileBins(
        t(s, d, "documents").select("doc_id", "n_chars"), "n_chars",
        k = 4, exact = true)
    }, Sql(
      // strict > against the interpolated cut points, as the operator
      """WITH cuts AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
        |    [0.25, 0.5, 0.75]) AS c FROM documents)
        |SELECT d.doc_id, d.n_chars,
        |  CASE WHEN d.n_chars IS NULL THEN NULL ELSE
        |    CAST(len(list_filter(c, x -> CAST(d.n_chars AS DOUBLE) > x))
        |      AS INTEGER) END AS bin
        |FROM documents d CROSS JOIN cuts""".stripMargin)),

    QueryDef("q_blocklist_phrases_ac", (s, d) => {
      // the q_blocklist_phrases contract through the Aho–Corasick ONE-
      // PASS kernel (ops.CorpusOps.flagBlocklistedPhrasesAC) instead of
      // the per-phrase theta-join — same rows, SAME ORACLE, different
      // physical plan (no join on the corpus side at all)
      import s.implicits._
      graft.ops.CorpusOps.flagBlocklistedPhrasesAC(
        par(s, t(s, d, "documents")),
        Seq("hash join", "merge join", "no such phrase").toDF("phrase"))
    }, Sql(
      // IDENTICAL SQL to q_blocklist_phrases: the Aho–Corasick plan must
      // reproduce the theta-join's rows bit-for-bit
      """SELECT doc_id, count(DISTINCT p) AS n_phrases,
        |  min(p) AS first_phrase
        |FROM documents,
        |  (SELECT unnest(['hash join', 'merge join', 'no such phrase'])
        |     AS p)
        |WHERE contains(lower(text), p)
        |GROUP BY doc_id""".stripMargin)),

    QueryDef("q_unimax", (s, d) => {
      // UniMax token-budget allocation (ops.CorpusOps.unimaxFromCorpus,
      // Chung et al. 2023): exact integer waterfilling over the
      // 20-source dimension — budget 50000 at maxEpochs=2 saturates the
      // small sources at sf0.01 and leaves all unsaturated at sf0.1, so
      // both branches are oracle-exercised
      graft.ops.CorpusOps.unimaxFromCorpus(
        par(s, t(s, d, "documents")), budget = 50000L, maxEpochs = 2)
    }, Sql(
      // exact integer waterfilling replay: sources sorted by cap, first
      // rank whose even-split level undershoots its cap marks the
      // saturated/level boundary; integer division throughout
      """WITH s AS (SELECT source,
        |    CAST(coalesce(sum(len(regexp_split_to_array(trim(text),
        |      '\s+'))), 0) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |b AS (SELECT source, n_tokens, n_tokens * 2 AS cap FROM s),
        |r AS (SELECT *,
        |    row_number() OVER
        |      (ORDER BY cap, coalesce(CAST(source AS VARCHAR), '')) AS j,
        |    coalesce(sum(cap) OVER
        |      (ORDER BY cap, coalesce(CAST(source AS VARCHAR), '')
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pfx,
        |    count(*) OVER () AS k
        |  FROM b),
        |l AS (SELECT *, (50000 - pfx) // (k - j + 1) AS lvl FROM r),
        |t AS (SELECT min(CASE WHEN lvl < cap THEN j END) AS tj FROM l),
        |tl AS (SELECT l.lvl AS v FROM l, t WHERE l.j = t.tj)
        |SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap,
        |  CAST(CASE WHEN (SELECT tj FROM t) IS NULL
        |         OR j < (SELECT tj FROM t)
        |       THEN cap ELSE (SELECT v FROM tl) END AS BIGINT) AS quota
        |FROM l""".stripMargin)),

    QueryDef("q_pass_at_k", (s, d) => {
      // unbiased pass@5 (ops.CorpusOps.passAtK, Chen et al. 2021) over
      // synthetic graded samples (problem = doc_id % 50, pass = a
      // deterministic length predicate) — the left-to-right product
      // fold is bit-identical across engines (aggregate == list_reduce
      // sequential semantics), so the float column rides the hash
      val samples = par(s, t(s, d, "documents"))
        .select((col("doc_id") % 50).as("problem_id"),
          (col("n_chars") % 3 === 0).as("correct"))
      graft.ops.CorpusOps.passAtK(samples, k = 5)
    }, Sql(
      // the same ascending-i sequential product fold as the operator
      // (list_reduce folds left-to-right like Spark's aggregate), so the
      // IEEE doubles are bit-identical before the shared 6-dp round
      """WITH s AS (SELECT doc_id % 50 AS problem_id,
        |    CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END AS ok
        |  FROM documents),
        |g AS (SELECT problem_id, count(*) AS n, sum(ok) AS c
        |  FROM s GROUP BY 1)
        |SELECT problem_id, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
        |  CASE WHEN n < 5 THEN NULL
        |       WHEN n - c < 5 THEN CAST(1.0 AS DOUBLE)
        |       ELSE round(CAST(1.0 AS DOUBLE) - list_reduce(
        |         list_transform(generate_series(0, 4),
        |           i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
        |         (x, y) -> x * y), 6)
        |  END AS pass_at_k
        |FROM g""".stripMargin)),

    QueryDef("q_mask_phrases", (s, d) => {
      // APPLY form of the blocklist (ops.CorpusOps
      // .maskBlocklistedPhrases): one Aho–Corasick pass masks every
      // occurrence, leftmost-longest. Pattern set chosen so the
      // replace-chain oracle is provably order-independent: the two
      // phrases share no border (no suffix of one is a prefix of the
      // other, neither self-overlaps), so occurrences can NEVER overlap
      // in ANY text — nested/overlapping selection is pinned by unit
      // goldens instead, where a replace chain genuinely diverges
      import s.implicits._
      graft.ops.CorpusOps.maskBlocklistedPhrases(
        par(s, t(s, d, "documents")).select("doc_id", "text"),
        Seq("hash join", "merge join").toDF("phrase"),
        mask = "*")
    }, Sql(
      // replace chain == the kernel's leftmost-longest single pass,
      // PROVABLY for this pattern set: the phrases share no border and
      // neither self-overlaps, so occurrences can never overlap in any
      // text ('*' occurs in no pattern, so masking can't cascade either)
      """SELECT doc_id,
        |  replace(replace(text, 'hash join', '*'),
        |    'merge join', '*') AS text
        |FROM documents""".stripMargin)),

    QueryDef("q_unimax_apply", (s, d) => {
      // the q_unimax allocation MATERIALIZED (ops.CorpusOps.unimaxApply):
      // full epochs fanned out + the md5-order remainder prefix — at
      // sf0.01 sources run ~2 epochs, at sf0.1 only the prefix lands, so
      // both paths are oracle-exercised
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.unimaxApply(docs,
          graft.ops.CorpusOps.unimaxFromCorpus(docs, budget = 50000L,
            maxEpochs = 2))
        .select(col("doc_id"), col("epoch"))
    }, Sql(
      // the q_unimax waterfill CTEs + epoch fan-out + the
      // q_source_token_budget exclusive-cumsum remainder prefix
      """WITH s AS (SELECT source,
        |    CAST(coalesce(sum(len(regexp_split_to_array(trim(text),
        |      '\s+'))), 0) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |b AS (SELECT source, n_tokens, n_tokens * 2 AS cap FROM s),
        |r AS (SELECT *,
        |    row_number() OVER
        |      (ORDER BY cap, coalesce(CAST(source AS VARCHAR), '')) AS j,
        |    coalesce(sum(cap) OVER
        |      (ORDER BY cap, coalesce(CAST(source AS VARCHAR), '')
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pfx,
        |    count(*) OVER () AS k
        |  FROM b),
        |l AS (SELECT *, (50000 - pfx) // (k - j + 1) AS lvl FROM r),
        |t AS (SELECT min(CASE WHEN lvl < cap THEN j END) AS tj FROM l),
        |tl AS (SELECT l.lvl AS v FROM l, t WHERE l.j = t.tj),
        |alloc AS (SELECT source, n_tokens,
        |    CAST(CASE WHEN (SELECT tj FROM t) IS NULL
        |           OR j < (SELECT tj FROM t)
        |         THEN cap ELSE (SELECT v FROM tl) END AS BIGINT) AS quota
        |  FROM l),
        |a2 AS (SELECT source,
        |    CASE WHEN n_tokens > 0 THEN quota // n_tokens ELSE 0 END
        |      AS nfull,
        |    CASE WHEN n_tokens > 0 THEN quota % n_tokens ELSE 0 END
        |      AS rem
        |  FROM alloc),
        |d AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS nt
        |  FROM documents),
        |fulle AS (
        |  SELECT d.doc_id, unnest(generate_series(0, a2.nfull - 1))
        |      AS epoch
        |  FROM d JOIN a2 ON d.source IS NOT DISTINCT FROM a2.source
        |  WHERE a2.nfull > 0),
        |cum AS (
        |  SELECT d.doc_id, a2.nfull, a2.rem,
        |    coalesce(sum(d.nt) OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM d JOIN a2 ON d.source IS NOT DISTINCT FROM a2.source)
        |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch FROM fulle
        |UNION ALL
        |SELECT doc_id, CAST(nfull AS BIGINT) AS epoch FROM cum
        |WHERE before < rem""".stripMargin)),

    QueryDef("q_curate_batch_card", (s, d) => {
      // the incremental pipeline's per-day DATA CARD (ops.Pipelines
      // .curateBatch result.card): corpusReport integers over the
      // ADMITTED rows keyed by batch_id — the same release table
      // curateCorpus users publish, emitted per day. EXACT oracle via
      // the near-dup staged seam (numHashes = 0): the oracle replays
      // day 1's admissions, joins source/lang back, and reproduces the
      // corpusReport integers; PipelinesSpec reconciles the card
      // against admitted rows across two days at deployment banding.
      val docs = par(s, t(s, d, "documents"))
        .select("doc_id", "text", "source", "lang")
      val eval = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select("doc_id", "text")
      val r = graft.ops.Pipelines.curateBatch(
        graft.ops.Pipelines.initCorpusState(docs.limit(0), numHashes = 0,
          bands = 1),
        docs.filter(col("doc_id") < 150), eval,
        minQuality = 0.0, maxRepetition = 0.9, nearDupThreshold = 0.5,
        numHashes = 0, bands = 1,
        chunkTokens = 64, chunkStride = 64, packBudget = 512,
        audit = false, batchId = "day-1")
      r.card
    }, Sql(
      // the per-day data card: day-1 admissions via curateChainSql
      // (ids < 150), source/lang joined back, corpusReport integers
      s"""WITH RECURSIVE
        |${curateChainSql(gateMaxId = 150, dayMaxId = 150)}
        |SELECT 'day-1' AS batch_id, source, lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  min(nt) AS min_tokens, max(nt) AS max_tokens,
        |  CAST(sum(em) AS BIGINT) AS n_email_docs,
        |  CAST(sum(num) AS BIGINT) AS n_longnum_docs
        |FROM (
        |  SELECT d.source, d.lang,
        |    CAST(len(list_filter(string_split_regex(trim(d.text), '\\s+'),
        |      t -> t <> '')) AS BIGINT) AS nt,
        |    CAST(length(d.text) AS BIGINT) AS nc,
        |    CASE WHEN regexp_matches(d.text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
        |      THEN 1 ELSE 0 END AS em,
        |    CASE WHEN regexp_matches(d.text, '[0-9]{9,}')
        |      THEN 1 ELSE 0 END AS num
        |  FROM adm1 JOIN documents d USING (doc_id)) t2
        |GROUP BY source, lang""".stripMargin)),

    QueryDef("q_mcnemar", (s, d) => {
      // McNemar paired-comparison cells (ops.CorpusOps.mcnemarCounts):
      // truth = lang, model A flips every %5 to 'xx', model B flips
      // every %3 to 'yy' and ABSTAINS (null) on %7 — the abstain counts
      // as wrong, not dropped; chi2 is the consumer's division
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.mcnemarCounts(docs.select(
        col("lang").as("truth"),
        when(col("doc_id") % 5 === 0, lit("xx"))
          .otherwise(col("lang")).as("pa"),
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .when(col("doc_id") % 3 === 0, lit("yy"))
          .otherwise(col("lang")).as("pb")),
        "truth", "pa", "pb")
    }, Sql(
      """WITH p AS (SELECT lang AS truth,
        |  CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS pa,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 'yy' ELSE lang END AS pb
        |  FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT coalesce(pa = truth, FALSE) AS oa,
        |             coalesce(pb = truth, FALSE) AS ob FROM p)
        |SELECT
        |  CAST(sum(CASE WHEN NOT oa AND NOT ob THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n00,
        |  CAST(sum(CASE WHEN NOT oa AND ob THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n01,
        |  CAST(sum(CASE WHEN oa AND NOT ob THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n10,
        |  CAST(sum(CASE WHEN oa AND ob THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n11
        |FROM c""".stripMargin)),

    QueryDef("q_spearman_counts", (s, d) => {
      // Spearman rank-moment integers (ops.CorpusOps.spearmanCounts):
      // n_chars (tie-heavy) vs the shared 16-bit md5 lattice — doubled
      // average ranks make every published moment exact; rho is the
      // consumer's division (sqrt makes the float un-hashable)
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.spearmanCounts(docs.select(
        col("n_chars").as("a"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").as("b")),
        "a", "b")
    }, Sql(
      // doubled average ranks: r2 = 2*(count below) + (count equal) + 1,
      // built on each DISTINCT-value lattice exactly like the operator
      """WITH b0 AS (SELECT n_chars AS a,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) AS b
        |  FROM documents WHERE n_chars IS NOT NULL),
        |pairs AS (SELECT a, b, count(*) AS np FROM b0 GROUP BY 1, 2),
        |ca AS (SELECT a, sum(np) AS cv FROM pairs GROUP BY 1),
        |ra AS (SELECT a, 2 * coalesce(sum(cv) OVER (ORDER BY a
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cv + 1 AS r2a FROM ca),
        |cb AS (SELECT b, sum(np) AS cv FROM pairs GROUP BY 1),
        |rb AS (SELECT b, 2 * coalesce(sum(cv) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cv + 1 AS r2b FROM cb),
        |j AS (SELECT p.np, ra.r2a, rb.r2b FROM pairs p
        |  JOIN ra USING (a) JOIN rb USING (b))
        |SELECT CAST(sum(np) AS BIGINT) AS n,
        |  CAST(sum(np * r2a) AS BIGINT) AS s_a,
        |  CAST(sum(np * r2b) AS BIGINT) AS s_b,
        |  CAST(sum(np * r2a * r2a) AS BIGINT) AS s_a2,
        |  CAST(sum(np * r2b * r2b) AS BIGINT) AS s_b2,
        |  CAST(sum(np * r2a * r2b) AS BIGINT) AS s_ab
        |FROM j""".stripMargin)),

    QueryDef("q_krippendorff", (s, d) => {
      // Krippendorff's alpha exact-fraction data card (ops.CorpusOps
      // .krippendorffAlpha): units of 3 consecutive docs, rater =
      // doc_id%3, value = lang with %11/%13 ratings MISSING — the
      // missing-data regime kappa can't handle; alpha is the
      // consumer's fold over the per-m rows
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.krippendorffAlpha(docs.select(
        expr("doc_id div 3").as("unit"),
        concat(lit("r"), (col("doc_id") % 3).cast("string")).as("rater"),
        when(col("doc_id") % 11 === 0 || col("doc_id") % 13 === 0,
          lit(null).cast("string")).otherwise(col("lang")).as("value")),
        "unit", "rater", "value")
    }, Sql(
      """WITH r AS (SELECT doc_id // 3 AS u,
        |    'r' || CAST(doc_id % 3 AS VARCHAR) AS rt,
        |    CASE WHEN doc_id % 11 = 0 OR doc_id % 13 = 0 THEN NULL
        |         ELSE lang END AS v
        |  FROM documents),
        |clean AS (SELECT u, rt, min(v) AS v FROM r
        |  WHERE v IS NOT NULL GROUP BY 1, 2),
        |cells AS (SELECT u, v, count(*) AS c FROM clean GROUP BY 1, 2),
        |units AS (SELECT u, sum(c) AS m, sum(c * c) AS s2 FROM cells
        |  GROUP BY 1 HAVING sum(c) >= 2),
        |perm AS (SELECT m, count(*) AS n_units,
        |    sum(m * m - s2) AS disagree_m
        |  FROM units GROUP BY 1),
        |nt AS (SELECT sum(m) AS n FROM units),
        |sq AS (SELECT sum(nc * nc) AS sq_sum FROM
        |  (SELECT cells.v, sum(cells.c) AS nc FROM cells
        |   JOIN units USING (u) GROUP BY 1))
        |SELECT CAST(m AS BIGINT) AS m, CAST(n_units AS BIGINT) AS n_units,
        |  CAST(disagree_m AS BIGINT) AS disagree_m,
        |  CAST(n AS BIGINT) AS n, CAST(sq_sum AS BIGINT) AS sq_sum
        |FROM perm, nt, sq""".stripMargin)),

    QueryDef("q_preference_pairs", (s, d) => {
      // DPO pair construction (ops.Preference.preferencePairs):
      // prompts of ~n/97 completions (doc_id%97), score = the shared
      // md5 lattice; strict-margin pairs with struct-extrema
      // tie-breaks — all-integer columns ride the hash
      val docs = par(s, t(s, d, "documents"))
      graft.ops.Preference.preferencePairs(docs.select(
        (col("doc_id") % 97).as("prompt"),
        col("doc_id").as("completion"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").as("score")),
        "prompt", "completion", "score")
    }, Sql(
      // struct-extrema tie-breaks == (score DESC, id DESC) / (ASC, ASC)
      """WITH s AS (SELECT doc_id % 97 AS prompt, doc_id AS c,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) AS sc
        |  FROM documents),
        |mx AS (SELECT prompt, c AS chosen_id, sc AS chosen_score FROM
        |  (SELECT *, row_number() OVER (PARTITION BY prompt
        |     ORDER BY sc DESC, c DESC) AS rn FROM s) WHERE rn = 1),
        |mn AS (SELECT prompt, c AS rejected_id, sc AS rejected_score FROM
        |  (SELECT *, row_number() OVER (PARTITION BY prompt
        |     ORDER BY sc ASC, c ASC) AS rn FROM s) WHERE rn = 1),
        |cnt AS (SELECT prompt, count(*) AS n FROM s GROUP BY 1)
        |SELECT mx.prompt AS prompt, chosen_id, chosen_score,
        |  rejected_id, rejected_score,
        |  chosen_score - rejected_score AS margin,
        |  CAST(n AS BIGINT) AS n_completions
        |FROM mx JOIN mn USING (prompt) JOIN cnt USING (prompt)
        |WHERE chosen_score - rejected_score > 0""".stripMargin)),

    QueryDef("q_win_matrix", (s, d) => {
      // arena win matrix (ops.Preference.winMatrix): 5 synthetic
      // models battle by doc (%5 vs //5%5, winner by %3), pair order
      // normalized so A-vs-B and B-vs-A land in one row — the exact
      // sufficient statistic Bradley-Terry consumes
      graft.ops.Preference.winMatrix(battleFixture(s, d),
        "ma", "mb", "w")
    }, Sql(
      """WITH b AS (SELECT
        |    'm' || CAST(doc_id % 5 AS VARCHAR) AS ma,
        |    'm' || CAST((doc_id // 5) % 5 AS VARCHAR) AS mb,
        |    CASE doc_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |      ELSE 'tie' END AS w
        |  FROM documents),
        |nrm AS (SELECT least(ma, mb) AS m1, greatest(ma, mb) AS m2,
        |    CASE WHEN w = 'tie' THEN 'tie'
        |         WHEN (w = 'a') = (ma <= mb) THEN '1' ELSE '2' END AS who
        |  FROM b WHERE ma <> mb)
        |SELECT m1 AS model_1, m2 AS model_2,
        |  CAST(sum(CASE WHEN who = '1' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS wins_1,
        |  CAST(sum(CASE WHEN who = '2' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS wins_2,
        |  CAST(sum(CASE WHEN who = 'tie' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ties,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM nrm GROUP BY 1, 2""".stripMargin)),

    QueryDef("q_bradley_terry", (s, d) => {
      // Bradley-Terry MM strengths (ops.Preference.bradleyTerry) over
      // the same battle log. EXACT oracle via the fixed-point seam
      // (scale = 1e6): the MM fold is integer division end-to-end, so
      // the 20 driver-side rounds unroll to SQL over the win-matrix
      // lattice; Round7dOpsSpec pins the double mode's 2-player closed
      // form and a planted transitive triple. The corpus collapses to
      // the 5x5 pair lattice FIRST; rounds iterate on 5 rows only
      graft.ops.Preference.bradleyTerry(battleFixture(s, d),
        "ma", "mb", "w", iters = 20, scale = Some(1000000L))
        .orderBy("model")
    }, Sql(
      // fixed-point Bradley-Terry MM (the scale = 1e6 seam): 20 integer
      // rounds over the win-matrix lattice, unrolled
      bradleyTerryOracleSql(iters = 20))),

    QueryDef("q_normalize_scores", (s, d) => {
      // zscore + minmax normalization (ops.CorpusOps.normalizeScores):
      // zscore from explicit (n, sum, sum-of-squares) — exact on
      // integer-valued columns whatever the summation order — minmax
      // from exact min/max; both 1-row stats crossJoins
      val docs = par(s, t(s, d, "documents"))
        .select(col("doc_id"), col("n_chars"))
      val z = graft.ops.CorpusOps.normalizeScores(docs, "n_chars",
        method = "zscore").withColumnRenamed("norm", "z_norm")
      graft.ops.CorpusOps.normalizeScores(z, "n_chars",
        method = "minmax").withColumnRenamed("norm", "mm_norm")
        .select("doc_id", "z_norm", "mm_norm")
    }, Sql(
      // zscore from explicit (n, sum, sum-of-squares) — exact on the
      // integer n_chars lattice in any summation order; minmax exact
      """WITH s AS (SELECT count(n_chars) AS n,
        |    sum(CAST(n_chars AS DOUBLE)) AS sx,
        |    sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS sx2,
        |    min(CAST(n_chars AS DOUBLE)) AS lo,
        |    max(CAST(n_chars AS DOUBLE)) AS hi
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN sx2 / n - (sx / n) * (sx / n) > 0
        |    THEN round((CAST(n_chars AS DOUBLE) - sx / n)
        |      / sqrt(sx2 / n - (sx / n) * (sx / n)), 6) END AS z_norm,
        |  CASE WHEN hi > lo
        |    THEN round((CAST(n_chars AS DOUBLE) - lo) / (hi - lo), 6)
        |    END AS mm_norm
        |FROM documents, s""".stripMargin)),

    QueryDef("q_normalize_robust", (s, d) => {
      // robust (median/IQR) normalization, exact-percentile opt-in so
      // the DuckDB quantile_cont interpolation matches; stats rounded
      // 6 dp before the division (the madOutliers discipline). The
      // DEFAULT is the GK sketch — the 100 TB plan
      graft.ops.CorpusOps.normalizeScores(
        par(s, t(s, d, "documents")).select(col("doc_id"), col("n_chars")),
        "n_chars", method = "robust", exact = true)
        .select("doc_id", "norm")
    }, Sql(
      // quantile_cont == Spark's exact interpolated percentile (the
      // madOutliers precedent); stats rounded 6 dp before the division
      """WITH s AS (SELECT
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS med,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6) AS q1,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6) AS q3
        |  FROM documents)
        |SELECT doc_id, CASE WHEN q3 > q1
        |  THEN round((CAST(n_chars AS DOUBLE) - med) / (q3 - q1), 6)
        |  END AS norm
        |FROM documents, s""".stripMargin)),

    QueryDef("q_winsorize", (s, d) => {
      // quantile clamping (ops.CorpusOps.winsorize): keep-but-de-weight
      // alternative to madOutliers' drop; exact percentile opt-in for
      // the oracle, sketch default for scale
      graft.ops.CorpusOps.winsorize(
        par(s, t(s, d, "documents")).select(col("doc_id"), col("n_chars")),
        "n_chars", pLo = 0.05, pHi = 0.95, exact = true)
        .select("doc_id", "winsorized")
    }, Sql(
      """WITH c AS (SELECT
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.05), 6) AS wlo,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 6) AS whi
        |  FROM documents)
        |SELECT doc_id, CASE WHEN n_chars IS NULL THEN NULL
        |  ELSE round(least(greatest(CAST(n_chars AS DOUBLE), wlo), whi), 6)
        |  END AS winsorized
        |FROM documents, c""".stripMargin)),

    QueryDef("q_truncate_dialogs", (s, d) => {
      // context-budget truncation (ops.DialogOps.truncateDialogs):
      // system turn pinned, longest fitting suffix kept — 5-turn
      // synthetic dialogs with doc_id-modulated lengths so the cut
      // point lands everywhere from "all fits" to "system only";
      // kept turns re-rendered so the STRING rides the hash
      val docs = t(s, d, "documents").filter(col("doc_id") < 500)
      def cut(m: Int, w: Int): org.apache.spark.sql.Column =
        col("text").substr(lit(1), lit(1) + (col("doc_id") % m) * w)
      val dialogs = docs.select(col("doc_id").as("dialog_id"),
        array(
          struct(lit("system").as("role"),
            concat(lit("sys: "), coalesce(col("lang"), lit("")))
              .as("content")),
          struct(lit("user").as("role"), cut(7, 40).as("content")),
          struct(lit("assistant").as("role"), cut(5, 60).as("content")),
          struct(lit("user").as("role"), cut(3, 80).as("content")),
          struct(lit("assistant").as("role"), cut(11, 25).as("content")))
          .as("turns"))
      val trunc = graft.ops.DialogOps.truncateDialogs(dialogs, budget = 400)
      graft.ops.DialogOps.renderDialogs(trunc, turnsCol = "turns_kept")
        .select("dialog_id", "n_kept", "kept_chars", "rendered_text")
    }, Sql(
      // 5-turn construction -> the suffix-fit count is monotone, so the
      // cut point is 6 - fits; rendered with renderDialogs' template
      """WITH d0 AS (
        |  SELECT doc_id AS dialog_id,
        |    'sys: ' || coalesce(lang, '') AS c1,
        |    substr(text, 1, 1 + (doc_id % 7) * 40) AS t2,
        |    substr(text, 1, 1 + (doc_id % 5) * 60) AS t3,
        |    substr(text, 1, 1 + (doc_id % 3) * 80) AS t4,
        |    substr(text, 1, 1 + (doc_id % 11) * 25) AS t5
        |  FROM documents WHERE doc_id < 500),
        |c AS (SELECT *, len(c1) AS l1, len(t2) AS l2, len(t3) AS l3,
        |    len(t4) AS l4, len(t5) AS l5 FROM d0),
        |f AS (SELECT *,
        |    (CASE WHEN l1 + l2 + l3 + l4 + l5 <= 400 THEN 1 ELSE 0 END
        |     + CASE WHEN l1 + l3 + l4 + l5 <= 400 THEN 1 ELSE 0 END
        |     + CASE WHEN l1 + l4 + l5 <= 400 THEN 1 ELSE 0 END
        |     + CASE WHEN l1 + l5 <= 400 THEN 1 ELSE 0 END
        |     + CASE WHEN l1 <= 400 THEN 1 ELSE 0 END) AS fits
        |  FROM c),
        |k AS (SELECT *, 6 - greatest(fits, 1) AS kf FROM f)
        |SELECT dialog_id,
        |  CAST(6 - kf AS BIGINT) AS n_kept,
        |  CAST(l1 + CASE WHEN kf <= 1 THEN l2 ELSE 0 END
        |    + CASE WHEN kf <= 2 THEN l3 ELSE 0 END
        |    + CASE WHEN kf <= 3 THEN l4 ELSE 0 END
        |    + CASE WHEN kf <= 4 THEN l5 ELSE 0 END AS BIGINT)
        |    AS kept_chars,
        |  '<|system|>' || c1
        |    || CASE WHEN kf <= 1 THEN chr(10) || '<|user|>' || t2
        |       ELSE '' END
        |    || CASE WHEN kf <= 2 THEN chr(10) || '<|assistant|>' || t3
        |       ELSE '' END
        |    || CASE WHEN kf <= 3 THEN chr(10) || '<|user|>' || t4
        |       ELSE '' END
        |    || CASE WHEN kf <= 4 THEN chr(10) || '<|assistant|>' || t5
        |       ELSE '' END AS rendered_text
        |FROM k""".stripMargin)),

    QueryDef("q_mask_dialogs", (s, d) => {
      // in-turn AC masking (ops.DialogOps.maskDialogContents) then
      // render: the chosen phrases cannot overlap each other or
      // themselves and the mask token contains no pattern characters,
      // so leftmost-longest single-pass == chained replace — which is
      // exactly how the oracle spells it
      val docs = t(s, d, "documents").filter(col("doc_id") < 500)
      val dialogs = docs.select(col("doc_id").as("dialog_id"),
        array(
          struct(lit("user").as("role"), lower(col("text")).as("content")),
          struct(lit("assistant").as("role"),
            concat(lit("re: "), lower(col("text"))).as("content")))
          .as("turns"))
      graft.ops.DialogOps.renderDialogs(
        graft.ops.DialogOps.maskDialogContents(dialogs,
          Seq("hash join", "merge join"), mask = "[X]"))
        .select("dialog_id", "rendered_text", "n_render_chars")
    }, Sql(
      // disjoint, non-self-overlapping phrases + a mask with no pattern
      // characters: leftmost-longest AC == chained replace
      """WITH m AS (SELECT doc_id AS dialog_id,
        |    replace(replace(lower(text), 'hash join', '[X]'),
        |      'merge join', '[X]') AS c1
        |  FROM documents WHERE doc_id < 500)
        |SELECT dialog_id,
        |  '<|user|>' || c1 || chr(10) || '<|assistant|>re: ' || c1
        |    AS rendered_text,
        |  CAST(len('<|user|>' || c1 || chr(10) || '<|assistant|>re: '
        |    || c1) AS BIGINT) AS n_render_chars
        |FROM m""".stripMargin)),

    QueryDef("q_rfm", (s, d) => {
      // RFM segmentation composed from existing operators: per-user
      // recency (days from the corpus max ts — a 1-row reference
      // table), frequency, and monetary in integer CENTS
      // (round(value*100): the double product is computed identically
      // by IEEE rules in both engines, so the quantize is exact), each
      // discretized by exact quantileBins (k=4)
      import graft.ops.CorpusOps.quantileBins
      val e = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val rfm = e.groupBy("user_id").agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        sum(round(col("value") * 100).cast("long")).as("monetary_cents"))
      val ref = e.agg(max(col("ts")).as("_ref")) // 1-row reference date
      val withR = rfm.crossJoin(ref)
        .withColumn("recency_days",
          datediff(col("_ref"), col("last_ts")).cast("long"))
        .drop("_ref", "last_ts")
      val r = quantileBins(withR, "recency_days", k = 4, exact = true)
        .withColumnRenamed("bin", "r_bin")
      val f = quantileBins(r, "frequency", k = 4, exact = true)
        .withColumnRenamed("bin", "f_bin")
      quantileBins(f, "monetary_cents", k = 4, exact = true)
        .withColumnRenamed("bin", "m_bin")
        .select("user_id", "recency_days", "frequency", "monetary_cents",
          "r_bin", "f_bin", "m_bin")
    }, Sql(
      // integer-cents monetary (IEEE product + half-away round identical
      // cross-engine), day recency from the corpus max ts, q_quantile_bins'
      // strictly-below bin rule per dimension
      """WITH e AS (SELECT user_id, ts, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |rfm AS (SELECT user_id, max(ts) AS last_ts,
        |    count(*) AS frequency,
        |    -- sum(BIGINT) is HUGEINT: re-cast so the dtype matches
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM e GROUP BY 1),
        |ref AS (SELECT max(ts) AS r FROM e),
        |base AS (SELECT user_id,
        |    CAST(date_diff('day', CAST(last_ts AS DATE), CAST(r AS DATE))
        |      AS BIGINT) AS recency_days,
        |    frequency, monetary_cents
        |  FROM rfm CROSS JOIN ref),
        |cuts AS (SELECT
        |    quantile_cont(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75])
        |      AS rc,
        |    quantile_cont(CAST(frequency AS DOUBLE), [0.25, 0.5, 0.75])
        |      AS fc,
        |    quantile_cont(CAST(monetary_cents AS DOUBLE),
        |      [0.25, 0.5, 0.75]) AS mc
        |  FROM base)
        |SELECT user_id, recency_days,
        |  CAST(frequency AS BIGINT) AS frequency, monetary_cents,
        |  CAST(len(list_filter(rc, x -> CAST(recency_days AS DOUBLE) > x))
        |    AS INTEGER) AS r_bin,
        |  CAST(len(list_filter(fc, x -> CAST(frequency AS DOUBLE) > x))
        |    AS INTEGER) AS f_bin,
        |  CAST(len(list_filter(mc, x -> CAST(monetary_cents AS DOUBLE)
        |    > x)) AS INTEGER) AS m_bin
        |FROM base CROSS JOIN cuts""".stripMargin))
  )
}
