package graft.queries

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Tokenizer queries: vocabulary, BPE, byte-BPE, unigram-LM and
  * WordPiece training, encoding and round trips.
  */
object TokenizeQueries {

  /** The BPE TRAINER unrolled to SQL — one CTE block per merge round
    * (the fixed-point-rank recipe applied to a trainer): round n explodes
    * the previous symbol lists (e), picks the best pair by
    * (count DESC, left, right) (b — Java and DuckDB string orders agree
    * on the corpus's ASCII symbols), selects the greedy LEFT-TO-RIGHT
    * non-overlapping match positions as run-parity islands (k: inside a
    * run of consecutive matches — only possible when left == right —
    * keep even offsets from the run start, exactly mergeIn's skip-ahead),
    * and rebuilds the lists (w: kept positions emit the fused pair, the
    * position after a kept one drops). Early stop replicates naturally:
    * an empty pair table yields an empty b_n and every later round
    * passes through unchanged. The dict cap (maxWords = 2^20) is not
    * replayed — the corpus vocabulary is orders of magnitude below it.
    */
  /** The mergeIn replay shared by the trainer and encoder rounds: the
    * greedy LEFT-TO-RIGHT non-overlapping match selection as run-parity
    * islands — inside a run of consecutive match positions (possible
    * only when left == right) keep even offsets from the run start,
    * exactly the kernel's skip-ahead. `matches` must select
    * (word, i) rows of the positions where the round's pair matches.
    */
  private def parityIslandCte(matches: String): String =
    s"""  SELECT word, i FROM (
  SELECT word, i, min(i) OVER (PARTITION BY word, grp) AS rs FROM (
    SELECT word, i,
      (i - row_number() OVER (PARTITION BY word ORDER BY i)) AS grp
    FROM ($matches)))
  WHERE (i - rs) % 2 = 0"""

  private def bpeTrainCtes(rounds: Int, minCount: Int): String = {
    val w0 = s"""w0 AS MATERIALIZED (
  SELECT word, cnt,
    [CASE WHEN i = length(word) THEN word[i:i] || '</w>'
          ELSE word[i:i] END FOR i IN range(1, length(word)+1)] AS syms
  FROM (SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w HAVING count(*) >= $minCount))"""
    val blocks = (1 to rounds).map { n =>
      val p = n - 1
      s"""e$n AS MATERIALIZED (
  SELECT word, cnt, t.i, syms[t.i] AS sym,
    CASE WHEN t.i < len(syms) THEN syms[t.i+1] ELSE NULL END AS nxt
  FROM w$p, LATERAL (SELECT unnest(range(1, len(syms)+1)) AS i) t),
b$n AS MATERIALIZED (
  SELECT sym AS a, nxt AS b FROM e$n WHERE nxt IS NOT NULL
  GROUP BY 1, 2 ORDER BY sum(cnt) DESC, a, b LIMIT 1),
k$n AS MATERIALIZED (
${parityIslandCte(s"SELECT e.word, e.i FROM e$n e, b$n " +
        s"WHERE e.sym = b$n.a AND e.nxt = b$n.b")}),
w$n AS MATERIALIZED (
  SELECT e.word, min(e.cnt) AS cnt,
    list(CASE WHEN k.i IS NOT NULL THEN e.sym || e.nxt ELSE e.sym END
         ORDER BY e.i) AS syms
  FROM e$n e
  LEFT JOIN k$n k ON e.word = k.word AND e.i = k.i
  LEFT JOIN k$n k2 ON e.word = k2.word AND e.i = k2.i + 1
  WHERE k2.i IS NULL
  GROUP BY e.word)"""
    }
    val mt = (1 to rounds).map(n =>
      s"SELECT CAST(${n - 1} AS INTEGER) AS rank, a, b FROM b$n")
      .mkString(" UNION ALL ")
    (w0 +: blocks).mkString(",\n") + s",\nmt AS MATERIALIZED ($mt)"
  }

  /** q_bpe_merges: the trainer replay's merge table, rank-ordered. */
  private def bpeMergesOracle(rounds: Int, minCount: Int): String =
    s"""WITH ${bpeTrainCtes(rounds, minCount)}
SELECT rank, a AS "left", b AS "right" FROM mt ORDER BY rank"""

  /** q_bpe_encode: the ENCODER unrolled on top of the trainer replay —
    * encodeWord's loop (merge the present pair with the LOWEST rank,
    * repeat) as `applyRounds` per-word rounds over the distinct corpus
    * vocabulary (each round shortens a word by >= 1 symbol, so
    * max-word-length − 1 rounds suffice; extra rounds are no-ops), the
    * same parity-island mergeIn replay with a PER-WORD pair (min rank
    * present, rank -> unique pair). Docs then join word -> tokens:
    * n_tokens = Σ per-word token counts, first_token = the first word's
    * first token.
    */
  private def bpeEncodeOracle(rounds: Int, minCount: Int,
                              applyRounds: Int): String = {
    val v0 = """v0 AS MATERIALIZED (
  SELECT word,
    [CASE WHEN i = length(word) THEN word[i:i] || '</w>'
          ELSE word[i:i] END FOR i IN range(1, length(word)+1)] AS syms
  FROM (SELECT DISTINCT w AS word FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> ''))"""
    val blocks = (1 to applyRounds).map { n =>
      val p = n - 1
      s"""f$n AS MATERIALIZED (
  SELECT word, t.i, syms[t.i] AS sym,
    CASE WHEN t.i < len(syms) THEN syms[t.i+1] ELSE NULL END AS nxt
  FROM v$p, LATERAL (SELECT unnest(range(1, len(syms)+1)) AS i) t),
pb$n AS MATERIALIZED (
  SELECT r.word, m.a, m.b FROM (
    SELECT f.word, min(m.rank) AS mr
    FROM f$n f JOIN mt m ON f.sym = m.a AND f.nxt = m.b
    GROUP BY f.word) r JOIN mt m ON m.rank = r.mr),
kk$n AS MATERIALIZED (
${parityIslandCte(s"SELECT f.word, f.i FROM f$n f JOIN pb$n p " +
        s"ON f.word = p.word WHERE f.sym = p.a AND f.nxt = p.b")}),
v$n AS MATERIALIZED (
  SELECT f.word,
    list(CASE WHEN k.i IS NOT NULL THEN f.sym || f.nxt ELSE f.sym END
         ORDER BY f.i) AS syms
  FROM f$n f
  LEFT JOIN kk$n k ON f.word = k.word AND f.i = k.i
  LEFT JOIN kk$n k2 ON f.word = k2.word AND f.i = k2.i + 1
  WHERE k2.i IS NULL
  GROUP BY f.word)"""
    }
    val dw = """dw AS MATERIALIZED (
  SELECT doc_id, t.j, wl[t.j] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
  LATERAL (SELECT unnest(range(1, len(wl)+1)) AS j) t
  WHERE wl[t.j] <> '')"""
    s"""WITH ${bpeTrainCtes(rounds, minCount)},
${(v0 +: blocks).mkString(",\n")},
$dw
SELECT d0.doc_id,
  CAST(coalesce(sum(len(v.syms)), 0) AS INTEGER) AS n_tokens,
  min(CASE WHEN d.j = fw.mj THEN v.syms[1] END) AS first_token
FROM (SELECT doc_id FROM documents) d0
LEFT JOIN dw d ON d0.doc_id = d.doc_id
LEFT JOIN v$applyRounds v ON d.word = v.word
LEFT JOIN (SELECT doc_id, min(j) AS mj FROM dw GROUP BY doc_id) fw
  ON d0.doc_id = fw.doc_id
GROUP BY d0.doc_id"""
  }

  /** q_wordpiece_encode: the greedy longest-prefix walk unrolled — the
    * vocabulary (chars + ##chars + topWords whole words) derives in SQL,
    * then `rounds` per-word state rounds each match the LONGEST piece at
    * the cursor (try every end, join vocab, max end) or mark the word
    * [UNK] whole (the BERT all-or-nothing rule; length > 64 pre-UNKs).
    * Every round consumes >= 1 char, so rounds >= max word length makes
    * the tail rounds no-ops.
    */
  private def wordPieceOracle(topWords: Int, rounds: Int): String = {
    val stateBlocks = (1 to rounds).map { r =>
      s"""s$r AS MATERIALIZED (
  SELECT s.word, s.len,
    CASE WHEN s.start >= s.len THEN s.start
         WHEN b.e IS NULL THEN s.len ELSE b.e END AS start,
    CASE WHEN s.start >= s.len THEN s.npieces
         WHEN b.e IS NULL THEN 1 ELSE s.npieces + 1 END AS npieces,
    CASE WHEN s.start >= s.len THEN s.unk
         WHEN b.e IS NULL THEN 1 ELSE s.unk END AS unk
  FROM s${r - 1} s LEFT JOIN (
    SELECT word, max(e) AS e FROM (
      SELECT s.word, t.e
      FROM s${r - 1} s,
      LATERAL (SELECT unnest(range(s.start+1, s.len+1)) AS e) t
      JOIN vocab v ON v.piece =
        (CASE WHEN s.start > 0 THEN '##' ELSE '' END)
        || s.word[s.start+1:t.e]
      WHERE s.start < s.len) GROUP BY word) b ON s.word = b.word)"""
    }.mkString(",\n")
    s"""WITH dict AS MATERIALIZED (
  SELECT w, count(*) AS n FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w),
chars AS (
  SELECT DISTINCT w[i:i] AS c FROM dict,
  LATERAL (SELECT unnest(range(1, length(w)+1)) AS i) t),
vocab AS MATERIALIZED (
  SELECT c AS piece FROM chars
  UNION SELECT '##' || c FROM chars
  UNION SELECT w FROM (SELECT w FROM dict ORDER BY n DESC, w
                       LIMIT $topWords)),
words AS (SELECT DISTINCT w AS word FROM dict),
s0 AS MATERIALIZED (
  SELECT word, length(word) AS len,
    CASE WHEN length(word) > 64 THEN length(word) ELSE 0 END AS start,
    CASE WHEN length(word) > 64 THEN 1 ELSE 0 END AS npieces,
    CASE WHEN length(word) > 64 THEN 1 ELSE 0 END AS unk
  FROM words),
$stateBlocks,
dw AS MATERIALIZED (
  SELECT doc_id, wl[j] AS word FROM (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wl
    FROM documents),
  LATERAL (SELECT unnest(range(1, len(wl)+1)) AS j) t
  WHERE wl[j] <> '')
SELECT d0.doc_id,
  CAST(coalesce(sum(s.npieces), 0) AS INTEGER) AS n_tokens,
  CAST(coalesce(sum(s.unk), 0) AS INTEGER) AS n_unk
FROM (SELECT doc_id FROM documents) d0
LEFT JOIN dw d ON d0.doc_id = d.doc_id
LEFT JOIN s$rounds s ON d.word = s.word
GROUP BY d0.doc_id"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_vocab", (s, d) => {
      // frequency-ranked vocabulary (ops.TextAnalysis.buildVocab):
      // distributed sort + zipWithIndex rank, no single-task window
      graft.ops.TextAnalysis.buildVocab(par(s, t(s, d, "documents")),
        minCount = 5)
    }, Sql(
      """SELECT term, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT) AS id
        |FROM (SELECT w[i] AS term, count(*) AS n
        |      FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        |            FROM documents) t,
        |      LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |      WHERE w[i] <> '' GROUP BY 1 HAVING count(*) >= 5)""".stripMargin)),

    QueryDef("q_encode_docs", (s, d) => {
      // docs -> vocab-id sequences (OOV = -1), order restored inside the
      // aggregation buffer (array_sort on (pos, id) structs), not a window.
      // The array column is CSV-flattened for the oracle compare (the
      // driver's hasher needs scalar cells); encodeDocs itself keeps the
      // typed array<long> for downstream consumers.
      val docs = par(s, t(s, d, "documents"))
      val vocab = graft.ops.TextAnalysis.buildVocab(docs, minCount = 5)
      graft.ops.TextAnalysis.encodeDocs(docs, vocab)
        .select(col("doc_id"),
          size(col("ids")).cast("long").as("n_ids"),
          array_join(transform(col("ids"), _.cast("string")), ",")
            .as("ids_csv"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, w[i] AS term, i AS pos
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |vocab AS (SELECT term,
        |    CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT) AS id
        |  FROM (SELECT term, count(*) AS n FROM toks GROUP BY 1
        |        HAVING count(*) >= 5)),
        |enc AS (SELECT t.doc_id,
        |    list(coalesce(v.id, -1) ORDER BY t.pos) AS ids
        |  FROM toks t LEFT JOIN vocab v USING (term) GROUP BY 1)
        |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_ids,
        |  array_to_string(ids, ',') AS ids_csv FROM enc""".stripMargin)),

    QueryDef("q_pack", (s, d) => {
      // token-budget sequence packing (ops.CorpusOps): sharded exclusive
      // cumsum, pack = exclusive-total div budget. shard = doc_id % 8 here
      // (SQL-reproducible); default is hash-sharding for arbitrary keys
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.packByTokenBudget(docs, budget = 2048,
        shardBy = Some(pmod(col("doc_id"), lit(8))))
        .select("doc_id", "shard", "n_tokens", "pack_id")
    }, Sql(
      """SELECT doc_id, doc_id % 8 AS shard,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  CAST((sum(len(string_split_regex(trim(text), '\s+')))
        |          OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING)
        |        - len(string_split_regex(trim(text), '\s+'))) // 2048
        |    AS BIGINT) AS pack_id
        |FROM documents""".stripMargin)),

    QueryDef("q_bpe_chars", (s, d) => {
      // the merge-free degenerate encode: every char is a token, so
      // n_tokens per doc equals the non-space character count — an exact
      // SQL identity that certifies the split/symbol/count plumbing of the
      // SAME distributed encode path the trained queries use
      graft.ops.Tokenize.encodeBpe(par(s, t(s, d, "documents")), Nil)
        .select(col("doc_id"), col("n_tokens"))
    }, Sql(
      // 0-merge BPE: one token per non-space character (runs of spaces
      // contribute nothing, same as the split-and-drop-empties encode)
      """SELECT doc_id,
        |  CAST(coalesce(strlen(replace(text, ' ', '')), 0) AS INTEGER)
        |    AS n_tokens
        |FROM documents""".stripMargin)),

    QueryDef("q_bpe_encode", (s, d) => {
      // real trained encode: merges learned once per (session, dir) from
      // the corpus word-frequency dict (minCount=2, 50 merges), then one
      // narrow distributed pass with the merge table on the closure.
      // EXACT oracle: the oracle re-trains the merges itself (the
      // unrolled trainer rounds, see bpeTrainCtes) and replays
      // encodeWord's lowest-rank-first loop as per-word apply rounds —
      // n_tokens and first_token must match token-for-token.
      // TokenizeSpec's hand-derived goldens stay as the unit pins.
      graft.ops.Tokenize.encodeBpe(
        par(s, t(s, d, "documents")), cachedBpeMerges(s, d))
        .select(col("doc_id"), col("n_tokens"),
          element_at(col("tokens"), 1).as("first_token"))
    }, Sql(bpeEncodeOracle(rounds = 50, minCount = 2,
      applyRounds = 12))),

    QueryDef("q_bpe_merges", (s, d) => {
      // the published model artifact (rank-ordered merge table) — EXACT
      // oracle: the greedy tie-broken merge loop replays as 50 unrolled
      // SQL rounds (pair census -> best by (count DESC, left, right) ->
      // parity-island mergeIn -> rebuilt symbol lists), reproducing the
      // trainer's merge table rank-for-rank from the raw corpus.
      graft.ops.Tokenize.mergesDf(s, cachedBpeMerges(s, d))
    }, Sql(
      // the BPE trainer and encoder replayed as unrolled SQL rounds — see
      // bpeTrainCtes/bpeEncodeOracle; parameters mirror cachedBpeMerges
      // (50 merges, minCount 2); applyRounds = 12 > max word length
      bpeMergesOracle(rounds = 50, minCount = 2))),

    QueryDef("q_unigram_encode", (s, d) => {
      // the unigram-LM tokenizer (Kudo 2018), BPE's sibling: pieces
      // trained once per (session, dir) by driver Viterbi-EM over the
      // corpus word dict, then one narrow distributed Viterbi encode with
      // the piece table on the closure. Model-based training — rows-only;
      // the algorithm's exactness is pinned by TokenizeSpec goldens and
      // the concatenation property.
      graft.ops.Tokenize.encodeUnigram(
        par(s, t(s, d, "documents")), cachedUnigramPieces(s, d))
        .select(col("doc_id"), col("n_tokens"),
          element_at(col("tokens"), 1).as("first_token"))
    }, NoOracle("the Viterbi-EM model has no SQL replay; TokenizeSpec pins " +
      "goldens")),

    QueryDef("q_unigram_pieces", (s, d) => {
      // the published model artifact: (piece, log_prob) rounded to the
      // 6-dp lattice for a stable hash (rows-only regardless — the EM
      // loop is model state)
      graft.ops.Tokenize.piecesDf(s, cachedUnigramPieces(s, d))
        .select(col("piece"), round(col("log_prob"), 6).as("log_prob"))
    }, NoOracle("the EM-trained piece table is model state")),

    QueryDef("q_wordpiece_encode", (s, d) => {
      // WordPiece greedy longest-match encode (ops.Tokenize
      // .encodeWordPiece) against the corpus-derived char+top-word
      // vocabulary — the third tokenizer family next to BPE and
      // unigram-LM. EXACT oracle (wordPieceOracle): the vocabulary is
      // non-iterative (chars + ##chars + top-10 whole words, all
      // SQL-derivable) and the greedy longest-prefix walk unrolls as
      // per-word rounds (each consumes >= 1 char; try-all-ends + max).
      // topWords = 10 keeps the walk NON-trivial: only the 10 most
      // frequent words match whole, everything else genuinely splits
      // into ## continuation pieces (a 200-word vocab would swallow the
      // whole corpus vocabulary and trivialize the gate). TokenizeSpec
      // keeps the BERT-rule goldens, incl. the [UNK] paths this corpus
      // never hits (n_unk = 0 is itself oracle-checked).
      val docs = par(s, t(s, d, "documents"))
      val vocab = graft.ops.Tokenize.wordPieceVocab(docs, topWords = 10)
      graft.ops.Tokenize.encodeWordPiece(docs, vocab)
        .select(col("doc_id"), col("n_tokens"),
          size(filter(col("tokens"), tk => tk === "[UNK]")).as("n_unk"))
    }, Sql(
      // the greedy longest-prefix walk unrolled; topWords mirrors the query
      wordPieceOracle(topWords = 10, rounds = 12)),
      discontinuity = Some("r9: topWords 200 -> 10")),

    QueryDef("q_byte_bpe_chars", (s, d) => {
      // 0-merge BYTE-level BPE (ops.Tokenize.encodeByteBpe): one token
      // per UTF-8 byte of each non-space word — the byte sibling of
      // q_bpe_chars, oracled via octet_length
      graft.ops.Tokenize.encodeByteBpe(par(s, t(s, d, "documents")),
          merges = Seq.empty)
        .select(col("doc_id"), col("n_tokens"))
    }, Sql(
      // 0-merge byte-level BPE: one token per UTF-8 BYTE of each non-space
      // word (runs of spaces contribute nothing, as in the encode)
      """SELECT doc_id,
        |  CAST(coalesce(octet_length(encode(replace(text, ' ', ''))), 0)
        |    AS INTEGER) AS n_tokens
        |FROM documents""".stripMargin)),

    QueryDef("q_bpe_roundtrip", (s, d) => {
      // decode ∘ encode == whitespace-normalized identity for the
      // TRAINED char-BPE (ops.Tokenize.decodeBpe) — an exact SQL
      // identity certifying the encoder's losslessness END-TO-END for
      // any merge table (merges only concatenate adjacent symbols)
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      graft.ops.Tokenize.decodeBpe(
        graft.ops.Tokenize.encodeBpe(docs, cachedBpeMerges(s, d)))
    }, Sql(
      // decode ∘ encode == single-space-split normalization — one oracle
      // certifies char-BPE and byte-BPE losslessness end-to-end (the
      // byte path additionally round-trips the GPT-2 byte table + UTF-8)
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split(text, ' '), w -> w <> ''), ' '), '')
        |    AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin)),

    QueryDef("q_byte_bpe_roundtrip", (s, d) => {
      // the byte-level sibling (ops.Tokenize.decodeByteBpe): trained
      // byte merges, inverse GPT-2 byte table, UTF-8 re-decode — the
      // no-UNK claim certified end-to-end by the SAME normalization
      // oracle as q_bpe_roundtrip
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      graft.ops.Tokenize.decodeByteBpe(
        graft.ops.Tokenize.encodeByteBpe(docs, cachedByteBpeMerges(s, d)))
    }, Sql(
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split(text, ' '), w -> w <> ''), ' '), '')
        |    AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin)),

    QueryDef("q_unigram_roundtrip", (s, d) => {
      // unigram-LM round trip via the ▁ word-start mark
      // (encodeUnigram(markWordStart) + decodeUnigram): the marked form
      // is what makes ids→text possible at all — pieces carry no
      // word-boundary structure (SentencePiece's convention); same
      // normalization oracle
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      graft.ops.Tokenize.decodeUnigram(
        graft.ops.Tokenize.encodeUnigram(docs, cachedUnigramPieces(s, d),
          markWordStart = true))
    }, Sql(
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split(text, ' '), w -> w <> ''), ' '), '')
        |    AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin)),

    QueryDef("q_wordpiece_roundtrip", (s, d) => {
      // WordPiece round trip (decodeWordPiece fuses ## continuations):
      // with the corpus-derived vocabulary no word UNKs, so the round
      // trip is exact on the LOWERCASED normalized text — the oracle
      // lowercases; an [UNK] anywhere would hash-break it
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      val vocab = graft.ops.Tokenize.wordPieceVocab(docs, topWords = 200)
      graft.ops.Tokenize.decodeWordPiece(
        graft.ops.Tokenize.encodeWordPiece(docs, vocab))
    }, Sql(
      // WordPiece lowercases and pre-tokenizes on \s+; no [UNK] with the
      // corpus-derived vocab, so the round trip is exact on this form
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w <> ''), ' '), '') AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin))
  )
}
