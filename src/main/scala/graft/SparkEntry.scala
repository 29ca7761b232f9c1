package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query suite's registry and the plumbing its families share. Each
  * query is one [[graft.queries.QueryDef]] in a family module of
  * `graft.queries`, written beside its DuckDB oracle (column names AND
  * types aligned: counts → BIGINT, size()/year() → INTEGER casts on the
  * oracle side; computed float aggregates rounded identically on both
  * sides; raw double columns passed through untouched) or the reason it
  * has none. [[queries]], [[benchOnly]] and [[oracleSql]] are derived
  * from that one registry. Kept here: the table readers, the session
  * artifacts and the oracle fragments several families use.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Rebalance an under-partitioned scan before expression-heavy narrow
    * work. The local testdata is ONE single-row-group parquet file per
    * table, which Spark cannot split — every downstream narrow op would run
    * in a single task. On a real multi-file/multi-row-group layout (any
    * production table) the scan already yields >= defaultParallelism splits
    * and this is a no-op; predicate pushdown and column pruning both pass
    * through Repartition, so scans stay pruned either way.
    */
  private[graft] def par(s: SparkSession, df: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * long (spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench
    * sessions). Normalize to a microsecond TimestampType column either way.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer div, not `/ 1000` (double division rounds ns epochs beyond
        // double's 53-bit mantissa, off-by-1us near hour boundaries)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }

  /** Flagship query on sf=0.001: revenue per nation (J2 multi-join + agg). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_equi_join_agg")(spark, "/root/testdata/sf0.001")

  // session artifacts ------------------------------------------------------

  /** A session artifact's value and the pins its build created and kept. */
  private final case class Artifact(value: Any, pins: Set[Int])

  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Artifact]

  /** The one registry of session artifacts: the build-once/probe-many
    * index and tokenizer-model artifacts below, built at most once per
    * (session, data dir, name) and reused by every later probe query —
    * the deployment shape, where an index or a model is an artifact, not
    * a per-query cost. Keyed by the session too, so an artifact pinned to
    * a stopped session never leaks into a new one; every lookup evicts
    * the entries whose SparkContext has stopped, so a long-lived
    * multi-session host does not accumulate dead sessions.
    *
    * Ownership: `build` runs under [[Pins.track]], and the artifact owns
    * every pin its build created and kept, whatever container its value
    * holds them in ([[livePinRddIds]] reports them). A frame pinned
    * before the call and captured by `build` is not the artifact's.
    * Builds may nest (an artifact derived from another): they run
    * outside the map's update functions under one reentrant lock, and
    * the outer artifact owns the pins of an inner one it built.
    */
  private[graft] def artifact[A](name: String, s: SparkSession, d: String)
                                (build: => A): A = {
    artifacts.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (s, d, name)
    def cached = Option(artifacts.get(key)).map(_.value.asInstanceOf[A])
    cached.getOrElse(artifacts.synchronized {
      cached.getOrElse {
        val (value, pins) = Pins.track(s.sparkContext)(build)
        artifacts.put(key, Artifact(value, pins))
        value
      }
    })
  }

  /** RDD ids of the pins owned by the artifacts of every session on
    * `s`'s SparkContext (see [[artifact]]): the pins that must survive
    * across queries. Bench and Verify release every other pin a query
    * leaves behind once its sink has run.
    */
  private[graft] def livePinRddIds(s: SparkSession): Set[Int] = {
    import scala.jdk.CollectionConverters._
    artifacts.asScala.iterator.collect {
      case ((ss, _, _), a) if ss.sparkContext eq s.sparkContext => a.pins
    }.flatten.toSet
  }

  /** IVF index — see q_ann_ivf: probe queries hit a prebuilt index. */
  private[graft] def cachedIvfIndex(s: SparkSession, d: String,
                             build: => graft.ops.Similarity.IvfIndex) =
    artifact("ivf", s, d)(build)

  /** The quantized-cell variant (derived from the float index once;
    * probes then touch int8 codes only).
    */
  private[graft] def cachedIvfIndexQ(s: SparkSession, d: String,
                              build: => graft.ops.Similarity.IvfIndexQ) =
    artifact("ivf_q", s, d)(build)

  /** NSW graph index — the graph-ANN build-once/probe-many tier. */
  private[graft] def cachedNsw(s: SparkSession, d: String): graft.ops.Similarity.NswIndex =
    artifact("nsw", s, d)(
      graft.ops.Similarity.buildNswGraph(par(s, t(s, d, "embeddings"))))

  /** BM25 postings index — the lexical twin of the IVF index. */
  private[graft] def cachedPostings(s: SparkSession, d: String): graft.ops.TextAnalysis.PostingsIndex =
    artifact("bm25", s, d)(
      graft.ops.TextAnalysis.buildPostingsIndex(par(s, t(s, d, "documents"))))

  /** Even-half postings index (q_bm25_append's persisted base artifact —
    * the lexical twin of [[cachedIvfHalf]]; the append runs per
    * execution so its bench time is the honest append cost).
    */
  private[graft] def cachedPostingsHalf(s: SparkSession, d: String): graft.ops.TextAnalysis.PostingsIndex =
    artifact("bm25_half", s, d)(
      graft.ops.TextAnalysis.buildPostingsIndex(
        par(s, t(s, d, "documents")).filter(col("doc_id") % 2 === 0)))

  /** Shared persist-and-reload recipe of the durable index artifacts:
    * write the artifact into a fresh temp dir under a DATA-DIR-HASHED
    * table prefix (artifacts are per (session, dir), so a fixed table
    * name would let a second dir overwrite the first entry's tables
    * behind its lazy spark.table references), then read it back.
    */
  private def persistReload[A](d: String, tag: String)
                              (write: (String, Option[String]) => Unit,
                               read: String => A): A = {
    val path = java.nio.file.Files
      .createTempDirectory(s"graft_${tag}_idx").toString
    val prefix = s"graft_${tag}_persisted_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    write(prefix, Some(path))
    read(prefix)
  }

  /** The DURABLE twin of [[cachedPostings]]: the postings index written to
    * bucketed tables ([[graft.ops.IndexStore]]) and read BACK — probes of
    * this artifact run against the reloaded on-disk index, certifying the
    * cross-session deployment path with the same oracle as the in-session
    * probe. Data lands under java.io.tmpdir (external tables).
    */
  private[graft] def persistedPostings(s: SparkSession, d: String): graft.ops.TextAnalysis.PostingsIndex =
    artifact("bm25_persisted", s, d)(
      persistReload(d, "bm25")(
        (prefix, path) => graft.ops.IndexStore.writePostingsIndex(
          cachedPostings(s, d), prefix, buckets = 8, path = path),
        prefix => graft.ops.IndexStore.readPostingsIndex(s, prefix)))

  /** The DURABLE twin of [[cachedNsw]] ([[persistedPostings]]'s recipe):
    * the NSW graph written to bucketed tables (edges on src — the beam
    * hop's join key) and read BACK, so the persisted-probe query runs
    * against the reloaded on-disk artifact with the same oracle as the
    * in-session staged search.
    */
  private[graft] def persistedNsw(s: SparkSession, d: String): graft.ops.Similarity.NswIndex =
    artifact("nsw_persisted", s, d)(
      persistReload(d, "nsw")(
        (prefix, path) => graft.ops.IndexStore.writeNswIndex(
          cachedNsw(s, d), prefix, buckets = 8, path = path),
        prefix => graft.ops.IndexStore.readNswIndex(s, prefix)))

  /** Trained-PQ artifacts: the codebooks AND the encoded corpus (both are
    * build-once artifacts a deployment persists; probes touch byte codes
    * only).
    */
  private[graft] def cachedPq(s: SparkSession, d: String): (graft.ops.Similarity.PqCodebooks, DataFrame) =
    artifact("pq", s, d) {
      val emb = par(s, t(s, d, "embeddings"))
      // m=16 x 4-dim subspaces: 16 bytes/vector (16x compression) with
      // materially better ADC recall than 8 coarser subspaces (PqSpec
      // measures 0.44 vs 0.31 @10 on the testdata embeddings)
      val cb = graft.ops.Similarity.trainPqCodebooks(emb, m = 16, ksub = 16)
      (cb, graft.ops.Similarity.pqEncode(emb, cb).localCheckpoint(true))
    }

  /** IVF-PQ combined index — the cell-routed byte-code tier; build once,
    * probe per query.
    */
  private[graft] def cachedIvfPq(s: SparkSession, d: String): graft.ops.Similarity.IvfPqIndex =
    artifact("ivfpq", s, d)(
      graft.ops.Similarity.buildIvfPqIndex(par(s, t(s, d, "embeddings")),
        nCenters = 8, m = 16, ksub = 16))

  /** EVEN-HALF IVF index — the BASE artifact of the append-maintenance
    * queries (q_ann_ivf_append): the build is once-per-session (the
    * persisted-index deployment shape) while the APPEND runs per
    * execution, so its bench time is the honest append cost.
    */
  private[graft] def cachedIvfHalf(s: SparkSession, d: String): graft.ops.Similarity.IvfIndex =
    artifact("ivf_half", s, d)(
      graft.ops.Similarity.buildIvfIndex(
        par(s, t(s, d, "embeddings")).filter(col("vec_id") % 2 === 0),
        nCenters = 16))

  /** Even-half IVF-PQ base index (q_ivfpq_append's persisted artifact;
    * centroids AND codebooks are trained on the even half only — the
    * append encodes new vectors against these existing models).
    */
  private[graft] def cachedIvfPqHalf(s: SparkSession, d: String): graft.ops.Similarity.IvfPqIndex =
    artifact("ivfpq_half", s, d)(
      graft.ops.Similarity.buildIvfPqIndex(
        par(s, t(s, d, "embeddings")).filter(col("vec_id") % 2 === 0),
        nCenters = 8, m = 16, ksub = 16))

  /** COMPACTED IVF artifact — the crash-window shape of the
    * delta-maintenance lifecycle: the even-half base persisted to
    * bucketed tables, the odd half landed as ONE batch_id = 0 delta
    * partition (the streamed form), folded by
    * [[graft.ops.IndexStore.compactIvfDeltas]] into a committed
    * generation — and the delta tree DELIBERATELY LEFT on disk, the
    * exact crash window between the commit and the (lazy) delta
    * cleanup. q_ann_ivf_compact probes through the WithDelta reader, so
    * a reader that failed to skip the folded partition would
    * double-count every odd vector and hash-fail the exact oracle.
    * Returns (table prefix, delta path).
    */
  private[graft] def compactedIvf(s: SparkSession, d: String): (String, String) =
    artifact("ivf_compact", s, d) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ivfc_idx").toString
      val prefix = "graft_ivfc_persisted_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val emb = par(s, t(s, d, "embeddings"))
      val base = graft.ops.Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 2 === 0), nCenters = 16)
      graft.ops.IndexStore.writeIvfIndex(base, prefix, buckets = 8,
        path = Some(s"$root/base"))
      val deltaPath = s"$root/delta"
      graft.ops.Similarity
        .ivfAssign(emb.filter(col("vec_id") % 2 === 1), base)
        .withColumn("batch_id", lit(0L))
        .write.partitionBy("batch_id").parquet(deltaPath)
      base.release()
      graft.ops.IndexStore.compactIvfDeltas(s, prefix, deltaPath,
        buckets = 8, path = Some(s"$root/base"))
      (prefix, deltaPath)
    }

  /** The lexical twin of [[compactedIvf]]: even-half postings base
    * persisted, the odd half's tf rows as one delta partition, folded by
    * [[graft.ops.IndexStore.compactPostingsDeltas]] — delta tree left on
    * disk (the crash window q_bm25_compact certifies across).
    */
  private[graft] def compactedPostings(s: SparkSession, d: String): (String, String) =
    artifact("bm25_compact", s, d) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_bmc_idx").toString
      val prefix = "graft_bmc_persisted_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val docs = par(s, t(s, d, "documents"))
      val base = graft.ops.TextAnalysis.buildPostingsIndex(
        docs.filter(col("doc_id") % 2 === 0))
      graft.ops.IndexStore.writePostingsIndex(base, prefix, buckets = 8,
        path = Some(s"$root/base"))
      base.release()
      val deltaPath = s"$root/delta"
      graft.ops.TextAnalysis
        .postingsOf(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .postings
        .withColumn("batch_id", lit(0L))
        .write.partitionBy("batch_id").parquet(deltaPath)
      graft.ops.IndexStore.compactPostingsDeltas(s, prefix, deltaPath,
        buckets = 8, path = Some(s"$root/base"))
      (prefix, deltaPath)
    }

  /** Even-half QUANTIZED IVF index — the byte-code base of
    * q_ann_ivfq_split (int8 cells over [[cachedIvfHalf]]'s centroids; the
    * delta side quantizes per execution).
    */
  private[graft] def cachedIvfQHalf(s: SparkSession, d: String): graft.ops.Similarity.IvfIndexQ =
    artifact("ivf_q_half", s, d)(
      graft.ops.Similarity.quantizeIndex(cachedIvfHalf(s, d)))

  /** [[compactedIvf]] for the COMBINED tier: the even-half IVF-PQ base
    * persisted (centroids + byte cells + codebooks), the odd half's
    * code rows as one delta partition, folded by the SCHEMA-GENERIC
    * compactIvfDeltas — delta tree left on disk (the crash window
    * q_ivfpq_compact certifies across).
    */
  private[graft] def compactedIvfPq(s: SparkSession, d: String): (String, String) =
    artifact("ivfpq_compact", s, d) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_pqc_idx").toString
      val prefix = "graft_pqc_persisted_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val emb = par(s, t(s, d, "embeddings"))
      val base = cachedIvfPqHalf(s, d)
      graft.ops.IndexStore.writeIvfPqIndex(base, prefix, buckets = 8,
        path = Some(s"$root/base"))
      val deltaPath = s"$root/delta"
      val odd = emb.filter(col("vec_id") % 2 === 1)
      graft.ops.Similarity.ivfAssign(odd, graft.ops.Similarity
          .IvfIndex(base.centroids, base.cells))
        .select("vec_id", "center_id")
        .join(graft.ops.Similarity.pqEncode(odd, base.cb), Seq("vec_id"))
        .withColumn("batch_id", lit(0L))
        .write.partitionBy("batch_id").parquet(deltaPath)
      graft.ops.IndexStore.compactIvfDeltas(s, prefix, deltaPath,
        buckets = 8, path = Some(s"$root/base"))
      (prefix, deltaPath)
    }

  /** BPE merge table — train-once/encode-many, the deployment shape of a
    * real tokenizer.
    */
  private[graft] def cachedBpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    artifact("bpe", s, d)(
      graft.ops.Tokenize.trainBpe(
        par(s, t(s, d, "documents")), numMerges = 50, minCount = 2))

  /** BYTE-BPE merge table — trained once, shared by the encode and
    * round-trip queries.
    */
  private[graft] def cachedByteBpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    artifact("byte_bpe", s, d)(
      graft.ops.Tokenize.trainByteBpe(
        par(s, t(s, d, "documents")), numMerges = 50, minCount = 2))

  /** Unigram-LM piece table — the tokenizer-model twin of
    * [[cachedBpeMerges]].
    */
  private[graft] def cachedUnigramPieces(s: SparkSession, d: String): Seq[(String, Double)] =
    artifact("unigram", s, d)(
      graft.ops.Tokenize.trainUnigram(
        par(s, t(s, d, "documents")), vocabSize = 200, minCount = 2))

  // shared oracle fragments --------------------------------------------------

  /** The langId stopword-profile VALUES lattice (CorpusKernels.profiles
    * verbatim), shared by the curate and annotate oracles; `withOrd`
    * prefixes the profile order index the argmax tie-break needs.
    */
  private[graft] def langProfilesSql(withOrd: Boolean): String = {
    val profiles = Seq(
      "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that",
        "for", "it"),
      "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se",
        "por"),
      "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den",
        "nicht", "ein"),
      "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du",
        "est", "pour"),
      "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em", "um",
        "para"),
      "it" -> Seq("il", "di", "che", "e", "la", "per", "un", "in", "non",
        "sono"))
    val rows = profiles.zipWithIndex.flatMap { case ((lang, toks), i) =>
      toks.map(t =>
        if (withOrd) s"(${i + 1},'$lang','$t')" else s"('$lang','$t')")
    }
    val cols = if (withOrd) "(ord, lang, tok)" else "(lang, tok)"
    s"prof$cols AS (VALUES\n  " +
      rows.grouped(5).map(_.mkString(",")).mkString(",\n  ") + ")"
  }

  // the registry -------------------------------------------------------------

  /** Every query of the suite by name, from the family modules. */
  private[graft] lazy val registry: Map[String, QueryDef] = QueryDef.index(
    RelationalQueries.defs ++ GraphQueries.defs ++ DedupQueries.defs ++
      SimilarityQueries.defs ++ TextQueries.defs ++ CorpusQueries.defs ++
      TokenizeQueries.defs ++ MultimodalQueries.defs)

  private def builds(keep: Oracle => Boolean) =
    registry.collect { case (n, q) if keep(q.oracle) => n -> q.build }

  /** The gated queries: Verify dumps each, the compare checks each
    * against its [[oracleSql]] entry or counts its rows.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    builds(!_.isInstanceOf[BenchOnly])

  /** Production twins that only Bench runs (see [[BenchOnly]]). */
  lazy val benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    builds(_.isInstanceOf[BenchOnly])

  /** The DuckDB oracle of every query that has one. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (n, QueryDef(_, _, Sql(text), _)) => n -> text }
}
