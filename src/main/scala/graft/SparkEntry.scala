package graft

import graft.functions.CorpusFunctions._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per operator family from
  * SURVEY.md §2 (reference parity) plus the corpus/training-data operators
  * (dedup, similarity, text analysis). Each SQL-expressible entry has a
  * DuckDB oracle in [[oracleSql]] with column names AND types aligned
  * (counts → BIGINT, size()/year() → INTEGER casts on the oracle side;
  * computed float aggregates rounded identically on both sides; raw double
  * columns passed through untouched).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Rebalance an under-partitioned scan before expression-heavy narrow
    * work. The local testdata is ONE single-row-group parquet file per
    * table, which Spark cannot split — every downstream narrow op would run
    * in a single task. On a real multi-file/multi-row-group layout (any
    * production table) the scan already yields >= defaultParallelism splits
    * and this is a no-op; predicate pushdown and column pruning both pass
    * through Repartition, so scans stay pruned either way.
    */
  private def par(s: SparkSession, df: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Deterministic md5-random test graph on 97 vertices, one edge per
    * document, endpoints from two independent md5 lattices. A polynomial
    * derivation like (doc_id % 97, (7·doc_id+3) % 97) would make dst a
    * pure function of src — a triangle-free functional permutation — so
    * the endpoints must hash doc_id, not its residue.
    */
  private def mdGraph(docs: DataFrame): DataFrame =
    docs.select(
      (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 97).as("src"),
      (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":t"))),
        1, 8), 16, 10).cast("long") % 97).as("dst"))

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * long (spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench
    * sessions). Normalize to a microsecond TimestampType column either way.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
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
  private def cachedIvfIndex(s: SparkSession, d: String,
                             build: => graft.ops.Similarity.IvfIndex) =
    artifact("ivf", s, d)(build)

  /** The quantized-cell variant (derived from the float index once;
    * probes then touch int8 codes only).
    */
  private def cachedIvfIndexQ(s: SparkSession, d: String,
                              build: => graft.ops.Similarity.IvfIndexQ) =
    artifact("ivf_q", s, d)(build)

  /** NSW graph index — the graph-ANN build-once/probe-many tier. */
  private def cachedNsw(s: SparkSession, d: String): graft.ops.Similarity.NswIndex =
    artifact("nsw", s, d)(
      graft.ops.Similarity.buildNswGraph(par(s, t(s, d, "embeddings"))))

  /** BM25 postings index — the lexical twin of the IVF index. */
  private def cachedPostings(s: SparkSession, d: String): graft.ops.TextAnalysis.PostingsIndex =
    artifact("bm25", s, d)(
      graft.ops.TextAnalysis.buildPostingsIndex(par(s, t(s, d, "documents"))))

  /** Even-half postings index (q_bm25_append's persisted base artifact —
    * the lexical twin of [[cachedIvfHalf]]; the append runs per
    * execution so its bench time is the honest append cost).
    */
  private def cachedPostingsHalf(s: SparkSession, d: String): graft.ops.TextAnalysis.PostingsIndex =
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
  private def persistedPostings(s: SparkSession, d: String): graft.ops.TextAnalysis.PostingsIndex =
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
  private def persistedNsw(s: SparkSession, d: String): graft.ops.Similarity.NswIndex =
    artifact("nsw_persisted", s, d)(
      persistReload(d, "nsw")(
        (prefix, path) => graft.ops.IndexStore.writeNswIndex(
          cachedNsw(s, d), prefix, buckets = 8, path = path),
        prefix => graft.ops.IndexStore.readNswIndex(s, prefix)))

  /** Trained-PQ artifacts: the codebooks AND the encoded corpus (both are
    * build-once artifacts a deployment persists; probes touch byte codes
    * only).
    */
  private def cachedPq(s: SparkSession, d: String): (graft.ops.Similarity.PqCodebooks, DataFrame) =
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
  private def cachedIvfPq(s: SparkSession, d: String): graft.ops.Similarity.IvfPqIndex =
    artifact("ivfpq", s, d)(
      graft.ops.Similarity.buildIvfPqIndex(par(s, t(s, d, "embeddings")),
        nCenters = 8, m = 16, ksub = 16))

  /** EVEN-HALF IVF index — the BASE artifact of the append-maintenance
    * queries (q_ann_ivf_append): the build is once-per-session (the
    * persisted-index deployment shape) while the APPEND runs per
    * execution, so its bench time is the honest append cost.
    */
  private def cachedIvfHalf(s: SparkSession, d: String): graft.ops.Similarity.IvfIndex =
    artifact("ivf_half", s, d)(
      graft.ops.Similarity.buildIvfIndex(
        par(s, t(s, d, "embeddings")).filter(col("vec_id") % 2 === 0),
        nCenters = 16))

  /** Even-half IVF-PQ base index (q_ivfpq_append's persisted artifact;
    * centroids AND codebooks are trained on the even half only — the
    * append encodes new vectors against these existing models).
    */
  private def cachedIvfPqHalf(s: SparkSession, d: String): graft.ops.Similarity.IvfPqIndex =
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
  private def compactedIvf(s: SparkSession, d: String): (String, String) =
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
  private def compactedPostings(s: SparkSession, d: String): (String, String) =
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
  private def cachedIvfQHalf(s: SparkSession, d: String): graft.ops.Similarity.IvfIndexQ =
    artifact("ivf_q_half", s, d)(
      graft.ops.Similarity.quantizeIndex(cachedIvfHalf(s, d)))

  /** [[compactedIvf]] for the COMBINED tier: the even-half IVF-PQ base
    * persisted (centroids + byte cells + codebooks), the odd half's
    * code rows as one delta partition, folded by the SCHEMA-GENERIC
    * compactIvfDeltas — delta tree left on disk (the crash window
    * q_ivfpq_compact certifies across).
    */
  private def compactedIvfPq(s: SparkSession, d: String): (String, String) =
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
  private def cachedBpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    artifact("bpe", s, d)(
      graft.ops.Tokenize.trainBpe(
        par(s, t(s, d, "documents")), numMerges = 50, minCount = 2))

  /** BYTE-BPE merge table — trained once, shared by the encode and
    * round-trip queries.
    */
  private def cachedByteBpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    artifact("byte_bpe", s, d)(
      graft.ops.Tokenize.trainByteBpe(
        par(s, t(s, d, "documents")), numMerges = 50, minCount = 2))

  /** Unigram-LM piece table — the tokenizer-model twin of
    * [[cachedBpeMerges]].
    */
  private def cachedUnigramPieces(s: SparkSession, d: String): Seq[(String, Double)] =
    artifact("unigram", s, d)(
      graft.ops.Tokenize.trainUnigram(
        par(s, t(s, d, "documents")), vocabSize = 200, minCount = 2))

  // shared fragments -------------------------------------------------------

  private val stopwords15 =
    Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it",
      "on", "as", "with", "are", "this")

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- scans / filters / projections (S1, P5, P6; pushdown) -----------
    "q_scan_filter_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q_regex_filter" -> ((s, d) => {
      t(s, d, "documents")
        .filter(col("text").rlike("(fast|slow) (key|join)"))
        .select("doc_id", "lang")
    }),

    // --- scalar functions (F2/F3/F9/F11/F13 analogues) ------------------
    "q_string_funcs" -> ((s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 5).as("pre5"),
        regexp_replace(col("p_name"), " ", "_").as("slug"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        element_at(split(col("p_name"), " "), 1).as("first_word"))
    }),

    "q_date_funcs" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
    }),

    "q_json_funcs" -> ((s, d) => {
      events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    }),

    // --- joins (J1/J5-J8 semi/anti/equi; J4 theta; J10 fallback) --------
    "q_semi_join" -> ((s, d) => {
      val big = t(s, d, "lineitem").filter(col("l_quantity") > 45)
      t(s, d, "orders").join(big, col("o_orderkey") === col("l_orderkey"),
        "left_semi").select("o_orderkey")
    }),

    "q_anti_join" -> ((s, d) => {
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    }),

    "q_equi_join_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q_contains_theta_join" -> ((s, d) => {
      // J4: country-mention analogue — substring containment theta-join
      // against a broadcast dimension (the 100 TB-safe shape: BNLJ with a
      // tiny build side, one pass over the big table)
      val words = t(s, d, "documents").filter(col("doc_id") < 5)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "").distinct()
      t(s, d, "documents").join(broadcast(words),
        col("text").contains(col("word")))
        .groupBy("word").agg(count(lit(1)).as("n_docs"))
    }),

    "q_theta_top1_per_key" -> ((s, d) => {
      // L3: CALL { ... LIMIT 1 } per dimension row -> window top-1
      val words = t(s, d, "documents").filter(col("doc_id") < 5)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "").distinct()
      val pairs = t(s, d, "documents").join(broadcast(words),
        col("text").contains(col("word")))
      val w = Window.partitionBy("word").orderBy("doc_id")
      pairs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select("word", "doc_id")
    }),

    "q_fallback_join" -> ((s, d) => {
      // J10/J5->J6 fallback chain: primary match, else fallback, else -1
      val sup = t(s, d, "supplier")
      val cust = t(s, d, "customer")
      val primary = cust.groupBy(col("c_nationkey").as("p_nationkey"))
        .agg(min(when(col("c_acctbal") > 5000, col("c_custkey")))
          .as("primary_custkey"))
      val fallback = cust.groupBy(col("c_nationkey").as("f_nationkey"))
        .agg(min(col("c_custkey")).as("fallback_custkey"))
      sup
        .join(broadcast(primary), col("s_nationkey") === col("p_nationkey"),
          "left_outer")
        .join(broadcast(fallback), col("s_nationkey") === col("f_nationkey"),
          "left_outer")
        .select(col("s_suppkey"),
          coalesce(col("primary_custkey"), col("fallback_custkey"), lit(-1L))
            .as("matched_custkey"),
          when(col("primary_custkey").isNotNull, "primary")
            .when(col("fallback_custkey").isNotNull, "fallback")
            .otherwise("none").as("matched_by"))
    }),

    // --- window functions (L3, rank/lag, running) -----------------------
    "q_window_top1" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      events(s, d).select(
        col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("running_value"))
    }),

    "q_window_rank_lag" -> ((s, d) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      t(s, d, "supplier").select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
        dense_rank().over(w).as("bal_rank"),
        lag(col("s_acctbal"), 1).over(w).as("prev_bal"))
    }),

    // --- aggregations (A1/A2/A3/A5) -------------------------------------
    "q_agg_basic" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          max(col("l_discount")).as("max_disc"),
          count(lit(1)).as("count_order"))
    }),

    "q_agg_conditional" -> ((s, d) => {
      t(s, d, "orders").agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L)).as("n_p"),
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(lit(0.0))), 2).as("f_totalprice"),
        sum(when(col("o_orderpriority").startsWith("1"), 1L)
          .otherwise(0L)).as("n_prio1"))
    }),

    "q_dedup_exact" -> ((s, d) => {
      // A3 duplicate detection == exact-dedup group census
      t(s, d, "documents").groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_id"))
    }),

    "q_census" -> ((s, d) => {
      t(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
    }),

    // --- sort / limit (L2) ----------------------------------------------
    "q_orderby_limit" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(20)
    }),

    // --- set operations --------------------------------------------------
    "q_union_distinct" -> ((s, d) => {
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }),

    "q_except" -> ((s, d) => {
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").filter(col("s_acctbal") > 8000)
          .select(col("s_nationkey").as("nationkey")))
    }),

    // --- generators (G1/G2/G3) ------------------------------------------
    "q_explode_wordcount" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50)
    }),

    "q_posexplode" -> ((s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    }),

    // --- corpus ops: dedup / similarity / text analysis -----------------
    "q_ngram_jaccard_pairs" -> ((s, d) => {
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
    }),

    "q_ngram_containment" -> ((s, d) => {
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
    }),

    "q_token_stats" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val stops = array(stopwords15.map(lit): _*)
      t(s, d, "documents").select(
        col("doc_id"),
        length(col("text")).as("text_len"),
        size(toks).as("n_tokens"),
        size(filter(toks, x => array_contains(stops, x))).as("n_stopwords"))
    }),

    "q_sim_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val c = emb.select(col("vec_id"), col("embedding").as("_cv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("_cos").desc, col("vec_id"))
      c.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("_cos", cosine_sim(col("_qv"), col("_cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "vec_id", "rank")
    }),

    "q_emb_near_pairs" -> ((s, d) => {
      // EXACT near-pair baseline on a 1-in-10 sample — deliberately the
      // brute-force O((n/10)^2) form so DuckDB can oracle it bit-exact;
      // the scale path is q_emb_near_pairs_lsh below (same pairs via
      // banded blocking, no cross join)
      val emb = t(s, d, "embeddings").filter(col("vec_id") % 10 === 0)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos", cosine_sim(col("_va"), col("_vb")))
        .filter(col("cos") >= 0.3)
        .select("id_a", "id_b")
    }),

    "q_emb_near_pairs_lsh" -> ((s, d) => {
      // the 100 TB near-pair path (ops.Similarity.cosinePairs: hyperplane
      // band blocking — candidates meet in (band, key) buckets, a plain
      // equi-join, no cartesian term) in its STAGED-FORM certification:
      // planes = 0 degenerates the blocking to one bucket, so the full
      // band/dedup/threshold code path must reproduce the exact all-pairs
      // sibling — SAME oracle as q_emb_near_pairs. Deployment-parameter
      // recall (16 planes / 8 bands ≈ 0.97 at this 0.3 threshold) stays
      // spec-pinned in Round5OpsSpec on the same sample.
      graft.ops.Similarity.cosinePairs(
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        threshold = 0.3, planes = 0, bands = 1)
        .select("id_a", "id_b")
    }),

    "q_asof_join" -> ((s, d) => {
      // point-in-time join: every click decorated with the latest prior
      // view's value per user (union + ordered window — one shuffle, no
      // range fan-out; see ops.AsOfJoin)
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("view_value"))
      graft.ops.AsOfJoin.asofLeft(clicks, views, Seq("user_id"), "ts",
        Seq("view_value"))
        .select("event_id", "user_id", "asof_ts", "asof_view_value")
    }),

    "q_asof_tolerance" -> ((s, d) => {
      // bounded-lookback as-of (the feature-store staleness rule): same
      // join as q_asof_join but matches older than 30 minutes are nulled
      // out — tolerance is a post-window filter, the plan is unchanged
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("view_value"))
      graft.ops.AsOfJoin.asofLeft(clicks, views, Seq("user_id"), "ts",
        Seq("view_value"), tolerance = Some(30L * 60 * 1000000)) // 30 min in micros
        .select("event_id", "user_id", "asof_ts", "asof_view_value")
    }),

    "q_range_join" -> ((s, d) => {
      // interval join as a binned equi-join (ops.RangeJoin): every click
      // inside a 30-minute attribution window opened by a view of the same
      // user. Bin width = window length, so each interval fans out to at
      // most 2 bins and the join is a plain hash equi-join on
      // (user_id, bin) — no nested loop at any scale.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
      graft.ops.RangeJoin.pointInInterval(clicks, views, Seq("user_id"),
        "ts", "win_start", "win_end", binWidth = 30L * 60 * 1000 * 1000)
        .select("click_id", "view_id", "user_id")
    }),

    "q_interval_overlap" -> ((s, d) => {
      // two-sided interval join, dedup-free first-shared-bin discipline:
      // 4h view windows x 1h click windows per user; bin = 4h so each
      // interval fans to <= 2 bins and every overlapping pair survives the
      // post-filter exactly once
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("v_start"),
          (col("ts") + expr("INTERVAL 4 HOURS")).as("v_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id"),
          col("ts").as("c_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("c_end"))
      graft.ops.RangeJoin.intervalOverlap(views, clicks, Seq("user_id"),
        "v_start", "v_end", "c_start", "c_end",
        binWidth = 4L * 3600 * 1000 * 1000)
        .select("view_id", "click_id", "user_id",
          "overlap_start", "overlap_end")
    }),

    "q_heavy_hitters" -> ((s, d) => {
      // exact top-k heavy hitters per group (ops.Sketches): two-stage agg,
      // deterministic tie-break — the exact sibling of the sketch path
      val li = t(s, d, "lineitem")
      graft.ops.Sketches.heavyHitters(li, Seq("l_returnflag"), "l_partkey",
        k = 3)
        .select(col("l_returnflag"), col("l_partkey"), col("n"), col("rank"))
    }),

    "q_sketch_quantiles" -> ((s, d) => {
      // per-group quantiles; accuracy (100k) exceeds every group's row
      // count through sf0.5, so the GK summary is exact at any verify
      // scale and the DuckDB quantile_disc oracle matches hash-exactly
      // (percentile_approx returns an actual element, i.e. the discrete
      // quantile)
      val ev = events(s, d)
      graft.ops.Sketches.approxQuantiles(ev, Seq("event_type"), "value",
        probs = Seq(0.25, 0.5, 0.75, 0.95), accuracy = 100000)
        .select(col("event_type"),
          round(element_at(col("quantiles"), 1), 6).as("q25"),
          round(element_at(col("quantiles"), 2), 6).as("q50"),
          round(element_at(col("quantiles"), 3), 6).as("q75"),
          round(element_at(col("quantiles"), 4), 6).as("q95"))
    }),

    "q_sessionize" -> ((s, d) => {
      // batch sessionization (ops.Sessions): gap>30min splits sessions;
      // boundary-flag -> prefix-sum over ONE per-key sort, then per-session
      // rollup — the backfill twin of the streaming mapGroupsWithState path
      val ev = events(s, d).select("user_id", "ts")
      val sess = graft.ops.Sessions.sessionize(ev, Seq("user_id"), "ts",
        gapSeconds = 1800)
      graft.ops.Sessions.sessionStats(sess, Seq("user_id"), "ts")
        .select(col("user_id"), col("session_index"), col("session_start"),
          col("session_end"), col("duration_us"), col("n_events"))
    }),

    "q_tfidf" -> ((s, d) => {
      // top-3 characteristic terms per document by TF-IDF (ops.TextAnalysis):
      // tf on (doc, term), df on term (no re-explode), broadcast df join
      graft.ops.TextAnalysis.tfidfTopTerms(par(s, t(s, d, "documents")), k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rank"))
    }),

    "q_decontaminate" -> ((s, d) => {
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
    }),

    "q_vocab" -> ((s, d) => {
      // frequency-ranked vocabulary (ops.TextAnalysis.buildVocab):
      // distributed sort + zipWithIndex rank, no single-task window
      graft.ops.TextAnalysis.buildVocab(par(s, t(s, d, "documents")),
        minCount = 5)
    }),

    "q_encode_docs" -> ((s, d) => {
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
    }),

    "q_pack" -> ((s, d) => {
      // token-budget sequence packing (ops.CorpusOps): sharded exclusive
      // cumsum, pack = exclusive-total div budget. shard = doc_id % 8 here
      // (SQL-reproducible); default is hash-sharding for arbitrary keys
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.packByTokenBudget(docs, budget = 2048,
        shardBy = Some(pmod(col("doc_id"), lit(8))))
        .select("doc_id", "shard", "n_tokens", "pack_id")
    }),

    "q_pivot" -> ((s, d) => {
      // pivot with EXPLICIT values: one aggregation pass, no extra
      // distinct-scan to discover columns (the implicit-values form runs a
      // collect at plan time — never at 100 TB)
      events(s, d).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
    }),

    "q_rollup" -> ((s, d) => {
      // hierarchical totals in one pass: ROLLUP expands to the grouping-set
      // lattice inside a single aggregation (partial-agg friendly), not a
      // self-union of three scans
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"),
          grouping_id().cast("int").as("gid"))
    }),

    // --- streaming-shaped (tumbling-window agg, batch-equivalent) -------
    "q_tumbling_window" -> ((s, d) => {
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    }),

    // --- model-state / staged-certification operators -------------------
    "q_dedup_minhash" -> ((s, d) => {
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
    }),

    "q_dedup_simhash" -> ((s, d) => {
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
    }),

    "q_hamming_pairs" -> ((s, d) => {
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
    }),

    "q_image_neardup" -> ((s, d) => {
      // REAL ImageIO decode → dHash → hamming band join over a
      // deterministic PNG corpus bound to documents (groups of 4 planted
      // near-identical images). Codec output isn't SQL-expressible →
      // rows-only; the pairing semantics are oracle-certified by
      // q_hamming_pairs and the hash by ImageHashSpec goldens.
      graft.ops.Multimodal.imageNearDups(
        graft.ops.Multimodal.imagesFromDocuments(par(s, t(s, d, "documents"))),
        maxHamming = 6)
    }),

    "q_assign_ids" -> ((s, d) => {
      // dense 0-based ids in (source, doc_id) order via the distributed
      // sort + zipWithIndex pattern — no un-partitioned window
      graft.ops.CorpusOps.assignRowIds(
        par(s, t(s, d, "documents")).select("source", "doc_id"),
        Seq("source", "doc_id"))
    }),

    "q_rouge_counts" -> ((s, d) => {
      // ROUGE-2 overlap counts over 250 aligned doc pairs (doc i vs
      // doc i+250) — integer numerators/denominators only; P/R/F1 are
      // the consumer's divisions (the data-card float lesson)
      val docs = par(s, t(s, d, "documents"))
      val a = docs.filter(col("doc_id") < 250)
        .select(col("doc_id").as("pair_id"), col("text").as("text_a"))
      val b = docs.select((col("doc_id") - 250).as("pair_id"),
        col("text").as("text_b"))
      graft.ops.TextAnalysis.rougeNCounts(a.join(b, Seq("pair_id")), n = 2)
    }),

    "q_knn_classify" -> ((s, d) => {
      // label propagation from exact top-5 cosine neighbors (majority
      // vote, ties to the smallest label) — deterministic, so the oracle
      // replays it; 100 TB path swaps the neighbor source for ANN/IVF
      // via knnClassifyFrom
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.knnClassify(qs, emb, k = 5)
    }),

    "q_label_centroids" -> ((s, d) => {
      // class prototypes: element-wise per-label mean in pos-exploded
      // form (each mean rounds to 6 dp — SQL-replayable; the array shape
      // would hash engine-dependently)
      graft.ops.Similarity.labelCentroids(par(s, t(s, d, "embeddings")))
    }),

    "q_centroid_classify" -> ((s, d) => {
      // Rocchio: nearest per-label centroid by cosine — centroids from
      // labelCentroids, ranking on the 6-dp ROUNDED cosine with ties to
      // the smallest label (oracle convention: both engines order on the
      // same lattice value, immune to float sum-order)
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.centroidClassify(qs,
        graft.ops.Similarity.centroidsAsArrays(
          graft.ops.Similarity.labelCentroids(emb)))
        // ranking is certified; the cosine VALUE itself never rides an
        // oracle hash (float sum-order exposure — q_sim_topk precedent)
        .select("query_id", "pred_label")
    }),

    "q_knn_classify_ann" -> ((s, d) => {
      // the 100 TB shape of q_knn_classify (neighbors from the cached IVF
      // index probe instead of the exact scan) in its STAGED-FORM
      // certification: nProbe = nCenters makes the probe's neighbor set
      // exactly bruteForceTopK's, so the probe + vote pipeline must equal
      // knnClassify — SAME oracle as q_knn_classify. Deployment-parameter
      // (nProbe 4) vote agreement stays spec-pinned (Round5fOpsSpec).
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = cachedIvfIndex(s, d,
        graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16))
      graft.ops.Similarity.knnClassifyFrom(
        graft.ops.Similarity.ivfProbe(qs, idx, k = 5, nProbe = 16), emb)
    }),

    "q_chi2_terms" -> ((s, d) => {
      // chi-square vocab selection per lang label — per-row rational
      // arithmetic on integer counts (bit-identical cross-engine, unlike
      // aggregated floats), rank on the rounded value
      graft.ops.TextAnalysis.chiSquareTerms(
        par(s, t(s, d, "documents")), "lang", k = 10)
    }),

    "q_ks_drift" -> ((s, d) => {
      // binned two-sample KS between click and view event values —
      // integer-only output (KS = max_cross_diff / (n_a*n_b) is the
      // consumer's division)
      val ev = events(s, d)
      graft.ops.CorpusOps.ksDrift(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"),
        "value", bins = 64)
    }),

    "q_corpus_report" -> ((s, d) => {
      // the data-card aggregation: integer-only per-(source, lang)
      // signals (sums/counts hash identically cross-engine; ratios are
      // the consumer's division)
      graft.ops.CorpusOps.corpusReport(par(s, t(s, d, "documents")))
    }),

    "q_blocklist_phrases" -> ((s, d) => {
      // phrase containment via the broadcast theta-join pattern (the
      // C4 substring semantics; word-level sibling is q_blocklist)
      import s.implicits._
      graft.ops.CorpusOps.flagBlocklistedPhrases(
        par(s, t(s, d, "documents")),
        Seq("hash join", "merge join", "no such phrase").toDF("phrase"))
    }),

    "q_blocklist" -> ((s, d) => {
      // C4-style blocklist audit: word-level hits against a broadcast
      // list (one present term, one absent — the no-hit path is free)
      import s.implicits._
      graft.ops.CorpusOps.flagBlocklisted(
        par(s, t(s, d, "documents")),
        Seq("dup", "deadlock").toDF("term"))
    }),

    "q_bm25_topk" -> ((s, d) => {
      // lexical retrieval: first-8-token queries from the first 3 docs
      // against the full corpus — BM25 with Lucene idf, exact DuckDB
      // oracle (ln-based scores round safely at 6 dp; rank on the
      // rounded score so both engines order identically)
      val docs = par(s, t(s, d, "documents"))
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      graft.ops.TextAnalysis.bm25TopK(docs, qs)
    }),

    "q_bm25_probe" -> ((s, d) => {
      // the deployment shape: probe the SESSION-CACHED postings index
      // (built once per (session, dir) like the IVF index) — identical
      // scores to q_bm25_topk, so the same exact oracle certifies the
      // build/probe split
      val qs = t(s, d, "documents").filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      graft.ops.TextAnalysis.bm25Probe(cachedPostings(s, d), qs)
    }),

    "q_bm25_append" -> ((s, d) => {
      // the lexical tier's index MAINTENANCE (ops.TextAnalysis
      // .appendPostingsIndex): per-execution append of the odd docs onto
      // the cached even-half base — every component is additive and
      // model-free, so df/N/avgdl update EXACTLY and the probe of the
      // appended index must equal the full-corpus probe — the SAME exact
      // oracle as q_bm25_topk/q_bm25_probe. Unlike the vector tiers this
      // append needs no staging: the equality is unconditional.
      val qs = t(s, d, "documents").filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      val appended = graft.ops.TextAnalysis.appendPostingsIndex(
        cachedPostingsHalf(s, d),
        par(s, t(s, d, "documents")).filter(col("doc_id") % 2 === 1))
      val out = graft.ops.TextAnalysis.bm25Probe(appended, qs)
        .localCheckpoint(true)
      // per-execution artifact: free the append legs + the appended
      // index's own merged dictionary/stats; the cached base stays
      appended.releaseDelta()
      out
    }),

    "q_bm25_drift" -> ((s, d) => {
      // the lexical tier's drift signal (ops.TextAnalysis
      // .postingsDriftReport — the q_ivf_drift sibling): the cached
      // even-half index vs the odd half as the arriving batch. Both
      // signals are integers — OOV token mass over the batch, and the
      // avgdl shift as one DECIMAL floor-division over the additive
      // (_n, _sum_dl) states — and the term sets are exact STRINGS on
      // both sides, so the whole report (the rebuild decision included)
      // replays in SQL with no hash caveat.
      graft.ops.TextAnalysis.postingsDriftReport(
        cachedPostingsHalf(s, d),
        par(s, t(s, d, "documents")).filter(col("doc_id") % 2 === 1))
    }),

    "q_bm25_compact" -> ((s, d) => {
      // the lexical tier's crash-safe COMPACTION
      // (ops.IndexStore.compactPostingsDeltas), q_ann_ivf_compact's
      // sibling: the session-cached artifact folded the odd half's tf
      // delta into a committed generation (postings re-bucketed,
      // dictionary/stats re-derived) with the delta tree LEFT on disk.
      // The WithDelta reader must skip the folded partition — a
      // double-count would double every odd doc's tf and df and shift
      // the scores — and the probe must equal the full-corpus probe:
      // the SAME exact oracle as q_bm25_topk/q_bm25_probe.
      val (prefix, deltaPath) = compactedPostings(s, d)
      val qs = t(s, d, "documents").filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      graft.ops.TextAnalysis.bm25Probe(
        graft.ops.IndexStore.readPostingsIndexWithDelta(s, prefix,
          deltaPath), qs)
    }),

    "q_bm25_probe_persisted" -> ((s, d) => {
      // the CROSS-SESSION deployment shape: the postings index written to
      // bucketed tables (IndexStore) and read back from disk — the probe
      // runs against the reloaded artifact and the SAME exact oracle as
      // q_bm25_topk/q_bm25_probe certifies write → read → probe
      val qs = t(s, d, "documents").filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      graft.ops.TextAnalysis.bm25Probe(persistedPostings(s, d), qs)
    }),

    "q_mmr_rerank" -> ((s, d) => {
      // MMR diversification over a brute-force cosine top-20 candidate
      // set. EXACT oracle: the greedy argmax unrolls to k = 5 CTE
      // levels with the op's exact double arithmetic (mmrOracleSql);
      // Round6OpsSpec additionally pins hand-computed selections
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))
      val cands = emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("score", cosine_sim(col("_qv"), col("embedding")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 20)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("score"), col("embedding"))
      graft.ops.Similarity.mmrRerank(cands, k = 5)
    }),

    "q_rrf_fuse" -> ((s, d) => {
      // hybrid retrieval: BM25 lexical leg + brute-force cosine dense leg,
      // fused by reciprocal rank (ops.Similarity.rrfFuse). Both legs are
      // rank tables the oracle reproduces exactly; the two-leg double sum
      // is commutative-exact, so the fused score hashes
      val qs = t(s, d, "documents").filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      // lexical leg probes the SESSION postings index (identical scores
      // to the one-shot operator — q_bm25_probe's certified equivalence)
      val lexical = graft.ops.TextAnalysis.bm25Probe(cachedPostings(s, d), qs)
        .select("query_id", "doc_id", "rank")
      val emb = t(s, d, "embeddings")
      val dq = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("_cos").desc, col("vec_id"))
      val dense = emb.select(col("vec_id"), col("embedding").as("_cv"))
        .crossJoin(broadcast(dq))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("_cos", cosine_sim(col("_qv"), col("_cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.ops.Similarity.rrfFuse(Seq(lexical, dense))
    }),

    "q_text_annotate" -> ((s, d) => {
      // the one-pass document annotator (ops.TextAnalysis.annotate).
      // EXACT oracle over its discrete columns: lang_pred replays as the
      // stopword-profile argmax, n_tokens_bpeish as the regex-piece sum,
      // and the rolling-hash fingerprint as a recursive Horner over the
      // whitespace-normalized text (base 257 mod 2^61-1 — pure integer).
      // The round(x, 6) ratio columns stay covered by q_quality_score's
      // floor-lattice forms (round() is the one cross-engine-unsafe
      // spelling, so the contract projects the exact columns).
      graft.ops.TextAnalysis.annotate(par(s, t(s, d, "documents")))
        .select("doc_id", "lang_pred", "n_tokens_ws", "n_tokens_bpeish",
          "fingerprint")
    }),

    "q_ann_topk" -> ((s, d) => {
      // LSH top-k in its STAGED-FORM certification: planes = 0 puts every
      // vector in one bucket, so the full band/bucket-join/re-rank code
      // path must equal bruteForceTopK — SAME oracle as q_sim_topk (the
      // q_ivfpq_topk recipe). Deployment-parameter recall (16 planes /
      // 8 bands) stays spec-pinned in Round5OpsSpec.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.annTopK(q, emb, k = 5, planes = 0, bands = 1)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ann_ivf" -> ((s, d) => {
      // IVF probe in its STAGED-FORM certification: nProbe = nCenters
      // probes every cell, and each corpus vector lives in exactly one
      // cell, so the full routing + cell-join + re-rank code path must
      // equal bruteForceTopK — SAME oracle as q_sim_topk (kmeans cells
      // become irrelevant to the RESULT while the dataflow still runs).
      // The index is built once per (session, dir) and reused — the
      // build-once/probe-many deployment shape (build timed separately
      // as q_ann_ivf_build); deployment-parameter recall (nProbe 4 of
      // 16) stays spec-pinned in Round5OpsSpec.
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = cachedIvfIndex(s, d,
        graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16))
      graft.ops.Similarity.ivfProbe(q, idx, k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ann_ivf_quant" -> ((s, d) => {
      // quantized IVF probe, EXACT-oracled: nProbe = nCenters probes all
      // cells (cell routing drops out of the result), and int8
      // quantization is itself SQL-replayable (q_quantize_int8's
      // precedent) — the oracle recomputes codes/min/scale, dequantizes
      // `min + code·scale` through the same float cast, and ranks on the
      // identical quantized cosine. The 4x-less-bytes asymmetric-distance
      // scan is what a 100 TB vector store actually runs; deployment
      // recall (nProbe 4) stays unit-tested (CorpusOpsSpec).
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val qidx = cachedIvfIndexQ(s, d, graft.ops.Similarity.quantizeIndex(
        cachedIvfIndex(s, d,
          graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16))))
      graft.ops.Similarity.ivfProbeQuantized(q, qidx, k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ann_ivfq_split" -> ((s, d) => {
      // the quantized tier's SPLIT probe (ops.Similarity
      // .ivfProbeQuantizedSplit — q_ann_ivf_split's byte-code sibling,
      // the pre-compaction deployment shape at 4x less scanned bytes):
      // base = the even-half int8 index (session-cached), delta = the
      // odd half routed + quantized per execution (the streamed delta
      // tree's schema). Staged exhaustive (nProbe = nCenters) the
      // merged per-side top-k equals the GLOBAL quantized top-k — the
      // per-candidate quantized cosine depends only on its own
      // codes/min/scale, never on which side it sat — so
      // q_ann_ivf_quant's exact oracle certifies the merge algebra.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val baseQ = cachedIvfQHalf(s, d)
      val delta = graft.ops.Similarity.quantizeInt8(
          graft.ops.Similarity.ivfAssign(
            emb.filter(col("vec_id") % 2 === 1), cachedIvfHalf(s, d))
            .withColumnRenamed("_cv", "embedding"), "embedding")
        .select("vec_id", "center_id", "codes", "q_min", "q_scale")
      graft.ops.Similarity.ivfProbeQuantizedSplit(qs, baseQ, delta,
          k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ivfpq_compact" -> ((s, d) => {
      // crash-safe compaction for the COMBINED byte-code tier
      // (q_ann_ivf_compact's sibling through the SCHEMA-GENERIC
      // compactIvfDeltas): the session-cached artifact folded the odd
      // half's PQ code rows into a committed generation with the delta
      // tree left on disk. The WithDelta reader must skip the folded
      // partition, and the staged probe (all cells, exhaustive
      // overfetch, exact re-rank tail) must equal brute force over the
      // FULL corpus — q_sim_topk's oracle.
      val (prefix, deltaPath) = compactedIvfPq(s, d)
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = graft.ops.IndexStore.readIvfPqIndexWithDelta(s, prefix,
        deltaPath)
      graft.ops.Similarity.ivfPqProbe(qs, idx, emb, k = 5, nProbe = 8,
          overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ann_ivf_build" -> ((s, d) => {
      // the offline half of the IVF pair: a FRESH index build every
      // execution (deterministic k-means + aggregate-argmin cell
      // assignment), so its bench time is the honest indexing cost rather
      // than a cache hit. Returns per-cell occupancy (rows-only).
      val emb = par(s, t(s, d, "embeddings"))
      val idx = graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16)
      val out = idx.cells.groupBy("center_id")
        .agg(count(lit(1)).as("cell_size"))
        .orderBy("center_id")
        .localCheckpoint(true)
      idx.release()
      out
    }),

    "q_ivf_assign" -> ((s, d) => {
      // incremental cell routing (ops.Similarity.ivfAssign) made EXACT
      // via the literal-model seam (the q_pca_project recipe): the index
      // carries 16 FORMULA centroids — centroid[j][i] =
      // ((1 + (i+1)·(j+1)) mod 67) − 33, integer-valued floats both
      // engines rebuild verbatim — so nearest-cell assignment (argmax
      // cosine, ties to the smallest center_id) replays in SQL through
      // the REAL assignToCentroids code path. K-MEANS-built routing
      // stays covered by q_ann_ivf_append (ivfAssign inside) and
      // Round5dOpsSpec's unchanged-vectors-reproduce-cells pin; the
      // honest Lloyd build cost stays on q_ann_ivf_build.
      import s.implicits._
      val cents = (0 until 16).map(j =>
        (j, Array.tabulate(64)(i0 =>
          (((1 + (i0 + 1) * (j + 1)) % 67) - 33).toFloat)))
        .toDF("center_id", "centroid")
      val idx = graft.ops.Similarity.IvfIndex(cents,
        t(s, d, "embeddings").limit(0)
          .select(col("vec_id"), col("embedding").as("_cv"),
            lit(0).as("center_id")))
      val batch = t(s, d, "embeddings").filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      graft.ops.Similarity.ivfAssign(batch, idx)
        .groupBy("center_id").agg(count(lit(1)).as("appended"))
        .orderBy("center_id")
    }),

    "q_ivf_drift" -> ((s, d) => {
      // drift-triggered retrain signal (ops.Similarity.indexDriftReport)
      // made EXACT via the q_ivf_assign literal-model seam: the indexed
      // corpus is the 1-in-10 sample routed through the REAL ivfAssign
      // path against the 16 formula centroids, the "arriving batch" is
      // a disjoint 1-in-10 sample — per-cell occupancies are integer
      // counts and the report-level total-variation distance replays as
      // one HUGEINT floor-division, so the retrain DECISION itself is
      // oracle-certified. K-means-built drift cadence stays spec-pinned
      // (Round10OpsSpec: zero-drift identity, planted-shift retrain).
      import s.implicits._
      val cents = (0 until 16).map(j =>
        (j, Array.tabulate(64)(i0 =>
          (((1 + (i0 + 1) * (j + 1)) % 67) - 33).toFloat)))
        .toDF("center_id", "centroid")
      val emb = t(s, d, "embeddings")
      val router = graft.ops.Similarity.IvfIndex(cents,
        emb.limit(0).select(col("vec_id"), col("embedding").as("_cv"),
          lit(0).as("center_id")))
      val idx = graft.ops.Similarity.IvfIndex(cents,
        graft.ops.Similarity.ivfAssign(
          emb.filter(col("vec_id") % 10 === 0), router))
      graft.ops.Similarity.indexDriftReport(idx,
          emb.filter(col("vec_id") % 10 === 5))
        .orderBy("center_id")
    }),

    "q_ann_ivf_append" -> ((s, d) => {
      // incremental index MAINTENANCE certified exactly: the base index
      // holds only the even half of the corpus (built once per session —
      // the persisted artifact), each execution APPENDS the odd half
      // (ops.Similarity.ivfAppend: nearest-cell routing, batch-side pin,
      // the honest per-append cost), and the staged probe
      // (nProbe = nCenters) over the appended index must equal brute
      // force over the FULL corpus — q_sim_topk's oracle — which fails
      // if any appended vector landed unreachable or with a wrong
      // vector payload. Deployment-parameter append behavior stays
      // spec-pinned (Round9bOpsSpec: empty-append bit-equality, planted
      // duplicate recall at nProbe 4).
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = cachedIvfHalf(s, d)
      val appended = graft.ops.Similarity.ivfAppend(
        base, emb.filter(col("vec_id") % 2 === 1))
      val out = graft.ops.Similarity.ivfProbe(q, appended, k = 5,
          nProbe = 16)
        .select("query_id", "vec_id", "rank")
        .localCheckpoint(true)
      appended.releaseDelta() // per-execution artifact; base is cached
      out
    }),

    "q_ann_ivf_split" -> ((s, d) => {
      // the SPLIT probe (ops.Similarity.ivfProbeSplit — the
      // pre-compaction deployment shape): base = the cached even-half
      // index (the persisted bucketed artifact, probed zero-Exchange),
      // delta = the odd half routed through ivfAssign (the streamed
      // delta tree's shape), probed separately and merged by one rank
      // layer over <= 2k rows per query. Staged exhaustive
      // (nProbe = nCenters), so the merged result must equal brute
      // force over the FULL corpus — q_sim_topk's oracle — certifying
      // the top-k merge algebra end-to-end.
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = cachedIvfHalf(s, d)
      val delta = graft.ops.Similarity.ivfAssign(
        emb.filter(col("vec_id") % 2 === 1), base)
      graft.ops.Similarity.ivfProbeSplit(q, base, delta, k = 5,
          nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ann_ivf_compact" -> ((s, d) => {
      // crash-safe delta COMPACTION certified exactly
      // (ops.IndexStore.compactIvfDeltas): the session-cached artifact
      // folded the odd-half delta partition into a committed generation
      // and LEFT the delta tree on disk — the crash window between the
      // commit marker and the lazy delta cleanup. The WithDelta reader
      // must skip the folded partition (a double-count would insert
      // every odd vector twice into the ranking and shift ranks), and
      // the staged probe (nProbe = nCenters) over the compacted index
      // must equal brute force over the FULL corpus — q_sim_topk's
      // oracle. Crash-before-commit fallback and re-run convergence are
      // CompactionSpec's.
      val (prefix, deltaPath) = compactedIvf(s, d)
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = graft.ops.IndexStore.readIvfIndexWithDelta(s, prefix,
        deltaPath)
      graft.ops.Similarity.ivfProbe(q, idx, k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ivfpq_append" -> ((s, d) => {
      // the combined tier's append path (ops.Similarity.ivfPqAppend):
      // route the odd half to the even-half index's cells and PQ-encode
      // it against the EXISTING codebooks, then the staged probe
      // (nProbe = nCenters, exhaustive overfetch) must equal brute force
      // over the full corpus — q_sim_topk's oracle — certifying that
      // appended codes decode/score correctly end-to-end. Centroids and
      // codebooks retrain on drift cadence, never per append.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = cachedIvfPqHalf(s, d)
      val appended = graft.ops.Similarity.ivfPqAppend(
        base, emb.filter(col("vec_id") % 2 === 1))
      val out = graft.ops.Similarity.ivfPqProbe(qs, appended, emb, k = 5,
          nProbe = 8, overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
        .localCheckpoint(true)
      appended.releaseDelta()
      out
    }),

    "q_sketch_distinct" -> ((s, d) => {
      // sketched distinct via the partial-sketch -> merge path, in the
      // KMV EXACT-BELOW-K regime (ops.Sketches.kmvPartials/kmvMerge):
      // per-(type, day) bottom-k sketches of the 60-bit md5 key lattice,
      // merged per type with k = 4096 > NDV at gate SFs, so the sketch
      // holds every distinct hash and every published field is an
      // integer. The oracle replays the bottom-k CONSTRUCTION itself
      // (row_number <= k over the hash order + the HUGEINT estimator),
      // so it stays hash-exact in every regime — including the
      // NDV == k boundary, where the op answers with the estimator.
      // The same code path at k < NDV is the Beyer et al. estimator
      // (spec-pinned, Round9bOpsSpec); HLL (hllPartials/hllMerge) stays
      // the at-scale default when NDV >> k — sketch-defined floats, so
      // it keeps unit-level merge-losslessness coverage instead of a
      // cross-engine gate.
      val ev = events(s, d)
        .withColumn("day", to_date(col("ts")))
      val partials = graft.ops.Sketches.kmvPartials(ev,
        Seq("event_type"), "day", "user_id", k = 4096)
      graft.ops.Sketches.kmvMerge(partials, Seq("event_type"), k = 4096)
    }),

    "q_dedup_minhash_clusters" -> ((s, d) => {
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
    }),

    "q_dedup_clusters" -> ((s, d) => {
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
    }),

    "q_author_rank" -> ((s, d) => {
      // co-supplier PageRank (graph.GraphOps.authorRank): star-edge
      // centrality over the same bipartite graph as q_graph_components.
      // EXACT oracle via the FIXED-POINT seam (scale = 1e6): every round
      // is integer (rank·w) DIV wdeg + (85·Σ) DIV 100, so the 8 rounds
      // unroll to 8 SQL CTE levels bit-for-bit — the iterative-rank
      // family's staged-form certification. 8 fixed rounds in
      // run-exactly-N mode (tol=0 skips the per-round convergence
      // query); GraphAndStreamSpec additionally pins the double-mode
      // dataflow against a reference implementation.
      val supplierOrders = par(s, t(s, d, "lineitem"))
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_suppkey").cast("string").as("src"),
          col("l_orderkey").cast("string").as("dst"))
      graft.graph.GraphOps.authorRank(supplierOrders, tol = 0.0,
        maxIter = 8, scale = Some(1000000L))
        .select(col("author_uuid").cast("long").as("supp_key"),
          col("pagerank").as("rank_fp6"))
    }),

    "q_author_rank_weighted" -> ((s, d) => {
      // true co-occurrence weights (#shared orders per supplier pair),
      // k^2 pair join capped per order group (GraphOps.authorRankWeighted)
      // — same fixed-point seam and unrolled exact oracle as
      // q_author_rank, with the count weights riding the integer rounds
      val supplierOrders = par(s, t(s, d, "lineitem"))
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_suppkey").cast("string").as("src"),
          col("l_orderkey").cast("string").as("dst"))
      graft.graph.GraphOps.authorRankWeighted(supplierOrders, tol = 0.0,
        maxIter = 8, maxGroupSize = 100, scale = Some(1000000L))
        .select(col("author_uuid").cast("long").as("supp_key"),
          col("pagerank").as("rank_fp6"))
    }),

    "q_graph_components" -> ((s, d) => {
      // co-supplier graph: suppliers linked when they supply the same
      // order (the co-authorship connected-components analogue). Keys are
      // zero-padded so the component label (min member key, a string min)
      // agrees with numeric min — letting the oracle replay the components
      // as a recursive-CTE reachability fixpoint.
      val supplierOrders = par(s, t(s, d, "lineitem")).select(
        lpad(col("l_suppkey").cast("string"), 10, "0").as("src"),
        col("l_orderkey").cast("string").as("dst"))
      graft.graph.GraphOps.coauthorComponents(supplierOrders)
        .select(col("author_uuid").cast("long").as("supp_key"),
          col("component_id").cast("long").as("component_id"))
    }),

    "q_multimodal_features" -> ((s, d) => {
      // binary-column decode/feature-extract plumbing (decode stubbed,
      // partition-wise execution real) over the documents corpus. The
      // selected columns ride the full mapPartitions path but are
      // SQL-reproducible (bytes = UTF-8 of text), so the distributed
      // plumbing is oracle-checked end-to-end; checksum/feature stay
      // covered by unit tests.
      graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.assetsFromDocuments(par(s, t(s, d, "documents"))))
        .toDF()
        .select("asset_id", "modality", "n_bytes")
    }),

    "q_multimodal_resize" -> ((s, d) => {
      // aspect-preserving bounding-box resize plumbing (resample stubbed
      // as byte truncation, partition-wise execution + dims math real).
      // assetsFromDocuments images are 64x48 -> box 32x32 scales by 0.5 ->
      // 32x24, 768 bytes; md5 over the kept bytes is SQL-reproducible
      // because corpus text is plain ASCII (bytes == characters).
      graft.ops.Multimodal.resizeImages(
        graft.ops.Multimodal.assetsFromDocuments(par(s, t(s, d, "documents"))),
        maxW = 32, maxH = 32)
        .toDF()
        .select(col("asset_id"), col("width"), col("height"),
          length(col("bytes")).cast("int").as("n_bytes"),
          md5(col("bytes")).as("content_md5"))
    }),

    "q_multimodal_frames" -> ((s, d) => {
      // video frame-sampling fan-out: generator over duration, one row per
      // sampled frame — deterministic, so oracle-checked
      graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.assetsFromDocuments(par(s, t(s, d, "documents"))))
        .select("asset_id", "frame_idx", "frame_ts_ms")
    }),

    "q_audio_features" -> ((s, d) => {
      // REAL audio decode certified end-to-end: per-doc 16-bit PCM WAV
      // payloads (power-of-two-period sawtooth, so every float sample is an
      // exact rational) are serialized by wavBytes and decoded back by the
      // hand-rolled RIFF parser before feature extraction; the oracle
      // regenerates the quantized signal arithmetically in SQL, so a wrong
      // writer OR parser breaks the hash. RMS accumulates in double
      // (exact k/32768 terms), rounded floor(x*1e6+0.5)/1e6 on both sides.
      import s.implicits._
      import graft.ops.{Multimodal => M}
      par(s, t(s, d, "documents")).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = 400 + (id % 5).toInt * 100
            val p = 8 << (id % 4).toInt
            val bytes = M.wavBytes(8000, M.sawtoothSamples(n, p))
            val w = M.tryDecodeWav(bytes).get
            (id, w.sampleRate, w.samples.length, M.zeroCrossings(w.samples),
              math.floor(M.rms(w.samples) * 1e6 + 0.5) / 1e6)
          }
        }
        .toDF("asset_id", "sample_rate", "n_samples", "zero_crossings", "rms")
    }),

    "q_audio_resample" -> ((s, d) => {
      // REAL audio resample certified end-to-end: the same WAV payloads ride
      // the Asset schema through resampleAudio (decode -> linear interp at
      // 8000->4000, the exact-decimation regime -> 16-bit re-encode), then
      // the output BYTES are decoded again for features. The oracle takes
      // every 2nd regenerated sample and replays both quantizations
      // (floor(x*32767+0.5)/32768 twice) in SQL.
      import s.implicits._
      import graft.ops.{Multimodal => M}
      val assets = par(s, t(s, d, "documents")).select(col("doc_id")).as[Long]
        .map { id =>
          val n = 400 + (id % 5).toInt * 100
          val p = 8 << (id % 4).toInt
          M.Asset(id, "audio", M.wavBytes(8000, M.sawtoothSamples(n, p)),
            "audio/wav", 0, 0, 0L)
        }
      M.resampleAudio(assets, 4000)
        .map { r =>
          val w = M.tryDecodeWav(r.bytes).get
          (r.asset_id, r.sample_rate, w.samples.length,
            M.zeroCrossings(w.samples),
            math.floor(M.rms(w.samples) * 1e6 + 0.5) / 1e6)
        }
        .toDF("asset_id", "sample_rate", "n_samples", "zero_crossings", "rms")
    }),

    // --- BPE tokenizer (train on the dict, encode distributed) ----------
    "q_bpe_chars" -> ((s, d) => {
      // the merge-free degenerate encode: every char is a token, so
      // n_tokens per doc equals the non-space character count — an exact
      // SQL identity that certifies the split/symbol/count plumbing of the
      // SAME distributed encode path the trained queries use
      graft.ops.Tokenize.encodeBpe(par(s, t(s, d, "documents")), Nil)
        .select(col("doc_id"), col("n_tokens"))
    }),

    "q_bpe_encode" -> ((s, d) => {
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
    }),

    "q_bpe_merges" -> ((s, d) => {
      // the published model artifact (rank-ordered merge table) — EXACT
      // oracle: the greedy tie-broken merge loop replays as 50 unrolled
      // SQL rounds (pair census -> best by (count DESC, left, right) ->
      // parity-island mergeIn -> rebuilt symbol lists), reproducing the
      // trainer's merge table rank-for-rank from the raw corpus.
      graft.ops.Tokenize.mergesDf(s, cachedBpeMerges(s, d))
    }),

    "q_unigram_encode" -> ((s, d) => {
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
    }),

    "q_unigram_pieces" -> ((s, d) => {
      // the published model artifact: (piece, log_prob) rounded to the
      // 6-dp lattice for a stable hash (rows-only regardless — the EM
      // loop is model state)
      graft.ops.Tokenize.piecesDf(s, cachedUnigramPieces(s, d))
        .select(col("piece"), round(col("log_prob"), 6).as("log_prob"))
    }),

    "q_kmv_sample" -> ((s, d) => {
      // deterministic k-minimum-values sample per group: a mergeable
      // TypedImperativeAggregate holding <= k entries per buffer (map-side
      // partials shuffle k rows per partition-group, not the group's row
      // set) — vs the oracle's full window sort over every row
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(graft.functions.KmvSample.kmv_sample(col("c_name"), 5).as("s"))
        .select(col("c_mktsegment"), explode(col("s")).as("e"))
        .select(col("c_mktsegment"), col("e.item").as("item"),
          col("e.priority").as("priority"))
    }),

    "q_name_similarity" -> ((s, d) => {
      // F4 difflib-ratio surface over real string data (key filter, not an
      // unordered limit — deterministic row set)
      t(s, d, "customer").filter(col("c_custkey") <= 500).select(
        col("c_custkey"),
        name_similarity(col("c_name"),
          concat(lit("Customer#"), lpad(col("c_custkey") + 1, 9, "0")))
          .as("sim_next"))
    }),

    "q_clean_html" -> ((s, d) => {
      // F1 surface: clean synthetic markup injected around real text. The
      // corpus text is tag/entity-free single-spaced ASCII, so the cleaned
      // value is SQL-reproducible: tags stripped, \n -> space,
      // '&amp;amp;' -> '&amp;' (literal pass) -> '&' (entity unescape).
      t(s, d, "documents").filter(col("doc_id") < 200).select(
        col("doc_id"),
        clean_html(concat(lit("<p>"), col("text"), lit("</p>\n&amp;amp;")))
          .as("cleaned"))
    }),

    // --- corpus curation: splits / sampling / banding / scrubbing --------
    "q_hash_split" -> ((s, d) => {
      // deterministic md5-bucket train/val/test assignment (CorpusOps):
      // membership is a pure function of the key, so incremental corpus
      // refreshes never reshuffle existing rows across splits
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.CorpusOps.hashSplit("doc_id", 80, 10).as("split"))
    }),

    "q_stratified_sample" -> ((s, d) => {
      // deterministic per-language downsample: en kept at 50%, others 20%
      t(s, d, "documents")
        .filter(graft.ops.CorpusOps.stratifiedKeep(
          "doc_id", "lang", Map("en" -> 50), defaultPct = 20))
        .select("doc_id", "lang")
    }),

    "q_length_band" -> ((s, d) => {
      // exact within-language length-percentile trim (Gopher-style)
      graft.ops.CorpusOps.lengthBand(
        t(s, d, "documents"), "text", "lang", 0.05, 0.95)
        .select("doc_id", "lang")
    }),

    "q_scrub_text" -> ((s, d) => {
      // PII-style scrub over text with deterministically injected
      // email/number tokens (the raw corpus is synthetic and clean)
      val dirty = concat(col("text"), lit(" user"), col("doc_id"),
        lit("@example.com id"), (col("doc_id") + 1) * 1234567890L)
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.CorpusOps.scrubText(dirty).as("scrubbed"))
    }),

    "q_quality_score" -> ((s, d) => {
      // text-quality scoring surface with an EXACT oracle: ratios and the
      // composite score are emitted as floor(x*1e6) integers — floor is
      // exact on identical IEEE doubles, so no rounding-mode divergence
      import graft.ops.TextAnalysis._
      val txt = col("text")
      par(s, t(s, d, "documents")).select(
        col("doc_id"),
        tokenCountWhitespace(txt).as("n_tokens_ws"),
        floor(punctRatio(txt) * 1e6).cast("long").as("punct_u6"),
        floor(stopwordRatio(txt) * 1e6).cast("long").as("stopword_u6"),
        floor(qualityScoreRaw(txt) * 1e6).cast("long").as("quality_u6"))
    }),

    "q_source_quota" -> ((s, d) => {
      // per-source corpus share cap: at most 40 docs per source, chosen in
      // md5-hash order (deterministic, crawl-order-unbiased)
      graft.ops.CorpusOps.sourceQuota(
        par(s, t(s, d, "documents")), "source", "doc_id", maxPerSource = 40)
        .select("doc_id", "source")
    }),

    "q_repetition" -> ((s, d) => {
      // Gopher-style within-doc repetition filter: duplicate word-bigram
      // fraction, floor(x*1e6) for an exact oracle
      par(s, t(s, d, "documents")).select(col("doc_id"),
        floor(graft.ops.CorpusOps.repetitionRatio(col("text"), 2) * 1e6)
          .cast("long").as("rep2_u6"))
    }),

    "q_chunk" -> ((s, d) => {
      // overlapping context-window chunking: 40-token windows, stride 30
      graft.ops.CorpusOps.chunkDocs(
        par(s, t(s, d, "documents")), chunkTokens = 40, stride = 30)
    }),

    "q_suppress_rare" -> ((s, d) => {
      // k-anonymity-style suppression: drop (user_id, event_type) combos
      // seen fewer than 3 times
      graft.ops.CorpusOps.suppressSmallGroups(
        events(s, d), Seq("user_id", "event_type"), k = 3)
        .select("event_id", "user_id", "event_type")
    }),

    "q_skew_join_salted" -> ((s, d) => {
      // salted equi-join (ops.Joins.saltedJoin): the fact side's hot keys
      // spread over 16 sub-keys, the dim replicated 16x, join on
      // (key, salt). The salt cancels in the aggregation, so the oracle is
      // the PLAIN join — proving the skew lever is results-invisible.
      val li = t(s, d, "lineitem").select("l_suppkey", "l_extendedprice")
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.Joins.saltedJoin(li, sup, "l_suppkey", salts = 16)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    }),

    "q_cube" -> ((s, d) => {
      // full grouping-set lattice in ONE aggregation pass (cube = 4 sets
      // here); like q_rollup, expands inside the agg — no self-union of
      // scans, partial-agg friendly
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping_id().cast("int").as("gid"))
    }),

    "q_sliding_window" -> ((s, d) => {
      // hopping windows: 10-min width, 5-min slide — each event lands in
      // exactly width/slide = 2 epoch-aligned windows. The fan-out happens
      // inside the window() generator pre-shuffle; state stays bounded by
      // (windows x event_type), the streaming-compatible shape.
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    "q_word_entropy" -> ((s, d) => {
      // unigram Shannon entropy per doc (ops.TextAnalysis.wordEntropy):
      // repetitiveness/gibberish curation signal; two map-side-combinable
      // aggregations via H = ln(N) - sum(n ln n)/N, no window
      graft.ops.TextAnalysis.wordEntropy(par(s, t(s, d, "documents")))
    }),

    "q_lm_score" -> ((s, d) => {
      // CCNet-style unigram pseudo-perplexity (ops.TextAnalysis
      // .unigramBitsPerToken): self-LM at minCount=2 so the OOV/smoothing
      // path is exercised; one term equi-join (LM is dimension-sized) +
      // one map-side-combinable per-doc aggregate, no window
      val docs = par(s, t(s, d, "documents"))
      val lm = graft.ops.TextAnalysis.buildUnigramLm(docs, minCount = 2L)
      graft.ops.TextAnalysis.unigramBitsPerToken(docs, lm)
    }),

    "q_lm2_score" -> ((s, d) => {
      // bigram Stupid Backoff surprisal (ops.TextAnalysis
      // .stupidBackoffBits): self-LM at minCount=2 exercises all three
      // paths (bigram hit, alpha-backoff, first-token unigram); the pair
      // explode feeds three dimension-table equi-joins + one
      // map-side-combinable per-doc aggregate, no window/lag
      val docs = par(s, t(s, d, "documents"))
      val lm = graft.ops.TextAnalysis.buildBigramLm(docs, minCount = 2L)
      graft.ops.TextAnalysis.stupidBackoffBits(docs, lm)
    }),

    "q_lm3_score" -> ((s, d) => {
      // trigram Stupid Backoff (ops.TextAnalysis.stupidBackoff3Bits —
      // Brants et al.'s actual operating point): self-LM at minCount=2
      // exercises every path (trigram hit, single and double backoff,
      // position-1/2 starts); one-pass trigram LM build + five
      // dimension-table equi-joins, one per-doc aggregate, no window
      val docs = par(s, t(s, d, "documents"))
      val lm = graft.ops.TextAnalysis.buildTrigramLm(docs, minCount = 2L)
      graft.ops.TextAnalysis.stupidBackoff3Bits(docs, lm)
    }),

    "q_classify_linear" -> ((s, d) => {
      // fastText-style linear quality-classifier APPLY (ops.TextAnalysis
      // .classifyLinear): stand-in weights derived deterministically from
      // the corpus vocab (favor longer words) — a real deployment loads a
      // trained (term, weight) table; the dataflow is identical. The
      // stand-in factor and bias are DYADIC (3/64, -1/8) so the per-doc
      // weight sum is order-exact in binary and the rounded logit can
      // never land on a 6-dp half-boundary (a decimal-lattice factor like
      // 0.05 put ~1e-3 of docs exactly on x.xxxxxx5, where the engines'
      // different summation order flipped the rounding at sf0.1)
      val docs = par(s, t(s, d, "documents"))
      val w = graft.ops.TextAnalysis.buildUnigramLm(docs, minCount = 2L)
        .select(col("term"),
          ((length(col("term")) - lit(6)).cast("double") * 0.046875)
            .as("weight"))
      graft.ops.TextAnalysis.classifyLinear(docs, w, bias = -0.125)
    }),

    "q_nb_classify" -> ((s, d) => {
      // multinomial Naive Bayes train + apply (ops.TextAnalysis): the one
      // classifier whose TRAINING is a pure aggregation dataflow — self-
      // trained on the lang labels here, then applied back (minCount=2
      // exercises the OOV/smoothing path). Exact oracle: DuckDB replays
      // counts, add-one smoothing, priors, and the argmax tie-break.
      val docs = par(s, t(s, d, "documents"))
      val model = graft.ops.TextAnalysis.trainNaiveBayes(docs, "lang",
        minCount = 2L)
      graft.ops.TextAnalysis.classifyNaiveBayes(docs, model)
    }),

    "q_score_buckets" -> ((s, d) => {
      // CCNet head/middle/tail terciles (ops.CorpusOps.scoreBuckets) over
      // an integer score (n_chars — ties broken by id, so the global rank
      // is fully deterministic); distributed sort + zipWithIndex, no
      // global window
      graft.ops.CorpusOps.scoreBuckets(
        par(s, t(s, d, "documents")).select("doc_id", "n_chars"),
        "n_chars", "doc_id")
        .select("doc_id", "score_bucket")
    }),

    "q_dsir_weights" -> ((s, d) => {
      // DSIR importance log-weights (ops.TextAnalysis.dsirLogRatio, Xie
      // et al. 2023): raw = the full documents corpus, target = the
      // src0..src4 slice (stand-in "high-quality" domain — a real run
      // points target at Wikipedia/books). Features are hashed
      // unigram+bigram buckets over the portable md5 hash, so DuckDB
      // replays extraction, smoothing, and the log-ratio exactly.
      val docs = par(s, t(s, d, "documents"))
      graft.ops.TextAnalysis.dsirLogRatio(docs,
        docs.filter(col("source")
          .isin("src0", "src1", "src2", "src3", "src4")),
        buckets = 4096)
    }),

    "q_dsir_sample" -> ((s, d) => {
      // DSIR selection = the weights above + Gumbel-top-n importance
      // resampling (ops.CorpusOps.importanceResample): log-space keys, so
      // no exp overflow on long docs; noise is a pure md5 function of the
      // id — deterministic, exactly replayable in SQL. Output is ids +
      // integer ranks only (the float key stays internal).
      val docs = par(s, t(s, d, "documents"))
      val w = graft.ops.TextAnalysis.dsirLogRatio(docs,
        docs.filter(col("source")
          .isin("src0", "src1", "src2", "src3", "src4")),
        buckets = 4096)
      graft.ops.CorpusOps.importanceResample(w, "log_ratio", n = 100)
        .select("doc_id", "sample_rank")
    }),

    "q_lm_filter" -> ((s, d) => {
      // CCNet keep-the-head filter: rank the scored corpus by
      // (bits asc, id asc) via distributed sort + zipWithIndex (no global
      // window) and keep the lowest-perplexity 70%
      val docs = par(s, t(s, d, "documents"))
      val lm = graft.ops.TextAnalysis.buildUnigramLm(docs, minCount = 2L)
      val scored = graft.ops.TextAnalysis.unigramBitsPerToken(docs, lm)
      graft.ops.CorpusOps.keepHeadByScore(scored, "bits_per_token",
        "doc_id", keepFrac = 0.7)
    }),

    "q_asof_forward" -> ((s, d) => {
      // forward point-in-time join: every view decorated with the NEXT
      // purchase at-or-after it per user (time-to-next-action features);
      // same one-shuffle union+window as q_asof_join, frame flipped
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("purchase_value"))
      graft.ops.AsOfJoin.asofLeftForward(views, purchases, Seq("user_id"),
        "ts", Seq("purchase_value"))
        .select("event_id", "user_id", "asof_ts", "asof_purchase_value")
    }),

    "q_unpivot" -> ((s, d) => {
      // wide->long reshape (melt): 4 measure columns to (metric, val)
      // rows. Expand-style fan-out, no shuffle — the inverse of q_pivot.
      t(s, d, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
    }),

    "q_median" -> ((s, d) => {
      // exact interpolated percentiles per group (percentile = SQL
      // percentile_cont): the small-group exact path; the GK-sketch
      // sibling (q_sketch_quantiles) is the mergeable at-scale path
      events(s, d).groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("median_value"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90_value"))
    }),

    "q_string_agg" -> ((s, d) => {
      // ordered string aggregation (listagg): deterministic via
      // sort-inside-the-buffer, not a window; group-sized memory by nature
      t(s, d, "supplier").groupBy("s_nationkey")
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",")
          .as("names"),
          count(lit(1)).as("n"))
    }),

    "q_dedup_incremental" -> ((s, d) => {
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
    }),

    "q_full_outer" -> ((s, d) => {
      // full-outer reconciliation: per-user view activity vs purchase
      // activity, keeping users present on either side only (the audit
      // shape: who browses but never buys, who buys without browsing)
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(count(lit(1)).as("n_views"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")), 2).as("purchase_total"))
      views.join(buys, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          col("purchase_total"))
    }),

    "q_bloom_pruned_join" -> ((s, d) => {
      // runtime row-level filtering as an explicit operator
      // (ops.Joins.bloomPrunedJoin): the filtered part dimension's keys
      // fold into a Bloom filter (scalar subquery), lineitem is pruned
      // BEFORE its shuffle, and the real join afterwards keeps the result
      // exactly equal to the plain join — which is the oracle.
      val dim = t(s, d, "part").filter(col("p_size") === 1)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      val fact = t(s, d, "lineitem").select("l_partkey", "l_quantity")
      graft.ops.Joins.bloomPrunedJoin(fact, dim, "l_partkey",
        expectedItems = 10000L)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    "q_dup_spans" -> ((s, d) => {
      // exact duplicate-substring detection (ops.Dedup.duplicateSpans):
      // every 60-char gram occurring >= 2 times corpus-wide, counted
      // exactly — hash-keyed first pass, count-gated survivor broadcast
      // (shuffled-join fallback past the cap), exact regroup (Lee et al.
      // substring dedup, fixed-k form)
      graft.ops.Dedup.duplicateSpans(par(s, t(s, d, "documents")), k = 60)
    }),

    "q_dup_spans_winnow" -> ((s, d) => {
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
    }),

    "q_k_anonymity" -> ((s, d) => {
      // k-anonymity audit (ops.Profile.kAnonymityViolations): classes of
      // (nationkey, acctbal) smaller than k=5 re-identify their members —
      // acctbal is near-unique so violations exist at every SF
      graft.ops.Profile.kAnonymityViolations(
        t(s, d, "customer"), Seq("c_nationkey", "c_acctbal"), k = 5)
    }),

    "q_k_anonymity_rows" -> ((s, d) => {
      // row-level annotation (ops.Profile.annotateKAnonymity): each row
      // with its equivalence-class size under (mktsegment, nationkey)
      graft.ops.Profile.annotateKAnonymity(
        t(s, d, "customer").filter(col("c_custkey") <= 500)
          .select("c_custkey", "c_mktsegment", "c_nationkey"),
        Seq("c_mktsegment", "c_nationkey"), k = 3)
    }),

    "q_l_diversity" -> ((s, d) => {
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
    }),

    "q_validate_dialogs" -> ((s, d) => {
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
    }),

    "q_render_dialogs" -> ((s, d) => {
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
    }),

    "q_split_leakage" -> ((s, d) => {
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
    }),

    "q_epoch_shuffle" -> ((s, d) => {
      // deterministic per-epoch training order (ops.CorpusOps.epochShuffle):
      // dense 0-based rank on md5('3:' || doc_id) — reproducible global
      // permutation, no RNG; exact oracle
      graft.ops.CorpusOps.epochShuffle(
        t(s, d, "documents").select("doc_id"), Seq("doc_id"), epoch = 3)
    }),

    "q_sample_negatives" -> ((s, d) => {
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
    }),

    "q_canonical_url" -> ((s, d) => {
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
    }),

    "q_dedup_url" -> ((s, d) => {
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
    }),

    "q_paragraph_stats" -> ((s, d) => {
      // per-paragraph quality stats (jusText/CCNet granularity,
      // ops.TextAnalysis.paragraphStats): fold every 10 words into a
      // "paragraph" (the q_dedup_lines regex), then integer-only
      // (n_chars, n_words, n_stop) per (doc, paragraph) — exact oracle
      val lined = par(s, t(s, d, "documents")).select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.TextAnalysis.paragraphStats(lined)
    }),

    "q_filter_paragraphs" -> ((s, d) => {
      // paragraph-level boilerplate filter: paragraphs with < 8 words or
      // stopword density < 0.15 are cut, survivors rebuild in order —
      // exact string-for-string oracle like q_dedup_lines
      val lined = par(s, t(s, d, "documents")).select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.TextAnalysis.filterParagraphs(lined,
        minWords = 8, minStopRatio = 0.15)
        .select("doc_id", "text_filtered", "n_pars_cut")
    }),

    "q_dedup_lines" -> ((s, d) => {
      // MassiveText-style duplicate-paragraph removal (ops.Dedup.dedupLines):
      // the synthetic corpus has no newlines, so the query first folds every
      // 10 words into a "line" (pure regex, oracle-replicable), then keeps
      // each distinct line's first corpus-wide (doc, pos) occurrence and
      // rebuilds every doc from its surviving lines
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.Dedup.dedupLines(lined)
        .select("doc_id", "text_deduped", "n_lines_cut")
    }),

    "q_dedup_lines_incr" -> ((s, d) => {
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
    }),

    "q_boilerplate" -> ((s, d) => {
      // per-source boilerplate stripping (ops.Dedup.stripBoilerplate): a
      // line repeated across >= 3 distinct docs of the same source is site
      // furniture and is cut from EVERY doc (no owner survives, unlike
      // dedup_lines); same regex line-folding as the other line queries
      val lined = t(s, d, "documents").select(col("doc_id"), col("source"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.Dedup.stripBoilerplate(lined, minDocs = 3)
        .select("doc_id", "text_deduped", "n_lines_cut")
    }),

    "q_pii_report" -> ((s, d) => {
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
    }),

    "q_dedup_semantic" -> ((s, d) => {
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
    }),

    "q_gopher_repetition" -> ((s, d) => {
      // Gopher within-doc repetition gates (ops.TextAnalysis
      // .repetitionStats): duplicate-line fraction/char-fraction over
      // regex-folded 10-word lines + top-bigram char fraction; all ratios
      // are integer ratios floored at 1e6 so the oracle hashes exactly
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
      graft.ops.TextAnalysis.repetitionStats(lined, n = 2)
    }),

    "q_source_token_budget" -> ((s, d) => {
      // token-measured mixing cap (ops.CorpusOps.sourceTokenBudget): each
      // source keeps its md5-ordered doc prefix until 2000 tokens; the
      // boundary-crossing doc is kept (packByTokenBudget convention) and
      // the kept ROWS oracle-match (md5 order is engine-portable)
      graft.ops.CorpusOps.sourceTokenBudget(
        t(s, d, "documents"), "source", "doc_id", "text", budget = 2000)
        .select("doc_id", "source")
    }),

    "q_mix_temperature" -> ((s, d) => {
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
    }),

    "q_dedup_minhash_incr" -> ((s, d) => {
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
    }),

    "q_gopher_quality" -> ((s, d) => {
      // the published Gopher rule filter (ops.TextAnalysis
      // .gopherQualityFlags): all seven thresholds verbatim, one narrow
      // codegen pass; ratios floored at 1e-6 so the oracle hashes exactly
      graft.ops.TextAnalysis.gopherQualityFlags(
        par(s, t(s, d, "documents")))
        .select("doc_id", "n_words", "mean_word_len_u6", "symbol_ratio_u6",
          "bullet_frac_u6", "ellipsis_frac_u6", "alpha_frac_u6",
          "n_stop_hits", "keep")
    }),

    "q_profile" -> ((s, d) => {
      // dataset profiling (ops.Profile.profileColumns): every column's
      // row/null/exact-distinct counts + string min/max in ONE aggregation
      // (multi-countDistinct rewrites into a single Expand — one shuffle,
      // not one job per column), unpivoted by a static inline explode.
      // par(): the Expand fans out 5x per input row, so the single-file
      // scan must be rebalanced or the whole fan-out runs in one task
      graft.ops.Profile.profileColumns(
        par(s, t(s, d, "lineitem")),
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_quantity"))
    }),

    "q_weighted_sample" -> ((s, d) => {
      // Efraimidis-Spirakis weighted sampling without replacement
      // (ops.CorpusOps.weightedSample): score = u^(1/w), top-20 per
      // source, u = engine-portable md5-fraction so the sampled ROWS
      // oracle-match (w = text length: longer docs oversampled)
      graft.ops.CorpusOps.weightedSample(
        t(s, d, "documents").withColumn("_w", length(col("text")).cast("double")),
        "_w", n = 20, idCol = "doc_id", strataCols = Seq("source"))
        .select("doc_id", "source", "sample_rank")
    }),

    "q_curate_pipeline" -> ((s, d) => {
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
    }),

    "q_curate_batch" -> ((s, d) => {
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
    }),

    "q_approx_topk" -> ((s, d) => {
      // Misra-Gries mergeable approx top-k (custom TypedImperativeAggregate,
      // ops.Sketches.approxTopK). Capacity is DERIVED from the data so
      // capacity > |distinct partkeys per flag| holds at ANY sf the driver
      // runs, counts stay provably exact, and the exact two-stage top-k
      // oracle remains valid; the approximate regime's N/capacity error
      // bound is property-tested in FreqSketchSpec. The bound is
      // max(l_partkey)+1 — partkeys are positive ints, so their distinct
      // count can't exceed their max — a plain partial-agg max() pre-pass
      // (the previous countDistinct derivation paid a full Expand shuffle
      // for the same guarantee)
      val li = par(s, t(s, d, "lineitem"))
      val cap = li.agg(max(col("l_partkey"))).head().getLong(0).toInt + 1
      val src = li
        .select(col("l_returnflag"), col("l_partkey").cast("string").as("pk"))
      graft.ops.Sketches.approxTopK(src, Seq("l_returnflag"), "pk", k = 3,
        capacity = math.max(cap, 64))
    }),

    "q_dup_span_ranges" -> ((s, d) => {
      // maximal duplicated ranges (ops.Dedup.duplicateSpanRanges): per-doc
      // gaps-and-islands merge of duplicated 60-gram positions — the
      // "what to cut" output of substring dedup
      graft.ops.Dedup.duplicateSpanRanges(par(s, t(s, d, "documents")),
        k = 60)
    }),

    "q_outliers" -> ((s, d) => {
      // grouped z-score outliers (ops.CorpusOps.zscoreOutliers): event
      // values > 3 sigma from their event_type mean — agg + broadcast
      // stats join, no per-row window
      graft.ops.CorpusOps.zscoreOutliers(
        events(s, d).select("event_id", "event_type", "value"),
        "value", Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(col("zscore"), 4).as("z4"))
    }),

    "q_cut_spans" -> ((s, d) => {
      // substring dedup APPLIED (ops.Dedup.cutDuplicateSpans): every
      // duplicated 60-gram occurrence except the first corpus-wide is cut,
      // text rebuilt by one codegen'd fold over each doc's merged cut list
      graft.ops.Dedup.cutDuplicateSpans(par(s, t(s, d, "documents")), k = 60)
        .select("doc_id", "text_deduped", "n_spans_cut")
    }),

    "q_cut_contaminated" -> ((s, d) => {
      // span-level decontamination (ops.Dedup.cutContaminatedSpans): eval
      // = doc_id < 50 (the q_decontaminate stand-in benchmark), train =
      // the rest; every train occurrence of an eval 60-gram is cut and
      // the text rebuilt — the APPLY form of doc-level decontamination
      val docs = par(s, t(s, d, "documents"))
      graft.ops.Dedup.cutContaminatedSpans(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        k = 60)
        .select("doc_id", "text_decontaminated", "n_spans_cut")
    }),

    "q_quantize_int8" -> ((s, d) => {
      // int8 embedding quantization (ops.Similarity.quantizeInt8): the
      // 4x-smaller storage tier for a 100 TB vector store. Codes are
      // integers, so the oracle check is exact: per-vector code sum +
      // dimension + the quantization scale (floor-scaled)
      graft.ops.Similarity.quantizeInt8(par(s, t(s, d, "embeddings")))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x.cast("long"))
            .as("q_sum"),
          size(col("codes")).as("dim"),
          floor(col("q_scale") * 1e9).cast("long").as("scale_1e9"))
    }),

    "q_pq_encode" -> ((s, d) => {
      // product-quantization encode (ops.Similarity.pqEncode): the 32x
      // storage tier below int8 — 8 byte codes + one stored norm per
      // 64-dim vector. Data-row codebooks (pqCodebooksFromRows) make the
      // per-subspace L2 argmin exactly SQL-replayable; codes are
      // integers, exploded to scalar rows for the exact oracle. The
      // trained path (trainPqCodebooks) runs the identical dataflow and
      // is certified by q_pq_probe + PqSpec's recall floor.
      val emb = par(s, t(s, d, "embeddings"))
      val cb = graft.ops.Similarity.pqCodebooksFromRows(emb, m = 8, ksub = 16)
      graft.ops.Similarity.pqEncode(emb, cb)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
    }),

    "q_pq_probe" -> ((s, d) => {
      // asymmetric-distance PQ probe (ops.Similarity.pqProbe: the fan-out
      // over byte codes, the broadcast (sub, code) inner-product table
      // join, the per-(query, vector) sum, the window rank — the corpus
      // side never touches a float vector) in its STAGED-FORM
      // certification: m = 1 with the data-row codebooks
      // (pqCodebooksFromRows — SQL-replayable, the q_pq_encode precedent)
      // makes every stage exactly replayable — one code per vector, so
      // the ADC sum is a single deterministic dot product and the oracle
      // recomputes codes, recon_norm, and the ADC cosine bit-for-bit.
      // Deployment (trained m=16 codebooks, 8-way partial sums) stays on
      // q_pq_probe_rerank/q_ivfpq_probe + PqSpec's recall floor.
      val emb = par(s, t(s, d, "embeddings"))
      val cb = graft.ops.Similarity.pqCodebooksFromRows(emb, m = 1, ksub = 16)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.pqProbe(q,
          graft.ops.Similarity.pqEncode(emb, cb), cb, k = 10)
        .select("query_id", "vec_id", "rank")
    }),

    "q_pq_probe_rerank" -> ((s, d) => {
      // the standard PQ deployment (ops.Similarity.pqProbeRerank: ADC
      // byte scan nominates candidates, exact cosine re-ranks only that
      // set — the float corpus never shuffles) in its STAGED-FORM
      // certification: k·overfetch > corpus size means every ADC
      // candidate survives to the exact re-rank regardless of its
      // (trained-codebook) ADC score, so the full nominate + re-rank
      // code path — through the session-cached TRAINED m=16 codebooks —
      // must equal bruteForceTopK exactly (the q_ivfpq_topk recipe).
      // Deployment overfetch recall stays pinned by PqSpec's floor and
      // q_ivfpq_probe's realistic-parameter probe.
      val (cb, enc) = cachedPq(s, d)
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.pqProbeRerank(q, enc, cb, emb, k = 10,
        overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
    }),

    "q_scd2" -> ((s, d) => {
      // SCD2 history from a change log (ops.Cdc.scd2): each purchase
      // version gets [valid_from, valid_to) + is_current via one lead
      // window per user — the O(n) form of the naive range self-join
      val log = events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      graft.ops.Cdc.scd2(log, Seq("user_id"), "ts", "event_id")
        .select("event_id", "user_id", "valid_from", "valid_to",
          "is_current")
    }),

    "q_snapshot_at" -> ((s, d) => {
      // point-in-time snapshot (ops.Cdc.snapshotAt): each user's latest
      // event as of Jan 15, with 'error'-typed latest rows treated as
      // tombstones — the filter prunes the log BEFORE the window shuffle
      graft.ops.Cdc.snapshotAt(
        events(s, d).select("event_id", "user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_id",
        asOf = lit("2024-01-15 00:00:00").cast("timestamp"),
        isDelete = col("event_type") === "error")
        .select("user_id", "event_id", "event_type", "ts")
    }),

    "q_t_closeness" -> ((s, d) => {
      // t-closeness audit (ops.Profile.tClosenessViolations): sources
      // whose language distribution deviates from the corpus-global one
      // by total variation > 1/20 — exact integer TVD fraction published
      // as (tvd_num, tvd_den); completes the k-anonymity / l-diversity /
      // t-closeness governance triad
      graft.ops.Profile.tClosenessViolations(
        t(s, d, "documents").select("doc_id", "source", "lang"),
        Seq("source"), "lang", tNum = 1, tDen = 20)
    }),

    "q_pmi_collocations" -> ((s, d) => {
      // top collocations by PMI (ops.TextAnalysis.pmiCollocations):
      // adjacent word pairs beating the independence prediction, ranked
      // on the 6-dp rounded bits score — one explode-agg pass whose
      // (prev, term) table subsumes unigram/bigram/total
      graft.ops.TextAnalysis.pmiCollocations(
        par(s, t(s, d, "documents")), k = 40, minCount = 5)
    }),

    "q_snapshot_diff" -> ((s, d) => {
      // corpus version diff (ops.Cdc.snapshotDiff): old = docs minus the
      // %7 ids, new = docs minus the %11 ids with %5 texts appended-to
      // and %13 sources rewritten — every status class is planted; one
      // full-outer equi-join, null-safe per-column compare
      val docs = t(s, d, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text", "source")
      val neu = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 13 === 0, lit("mirror"))
            .otherwise(col("source")).as("source"))
      graft.ops.Cdc.snapshotDiff(old, neu, Seq("doc_id"),
        Seq("text", "source"))
    }),

    "q_random_project" -> ((s, d) => {
      // Johnson-Lindenstrauss random projection (ops.Similarity
      // .randomProject): 64-d float embeddings down to 8 dims through the
      // md5-seeded ±1 Achlioptas matrix — one codegen'd add/subtract
      // chain per output dim, no shuffle; the oracle replays the exact
      // same sign literals and left-associated sum
      graft.ops.Similarity.randomProject(
        t(s, d, "embeddings"), inDim = 64, outDim = 8)
    }),

    "q_triangle_counts" -> ((s, d) => {
      // per-vertex triangle counts (graph.GraphOps.triangleCounts) over a
      // deterministic md5-random graph on 97 vertices (~|docs| edges —
      // triangle-rich; a mod-97 polynomial derivation would make dst a
      // function of src and the graph a triangle-free permutation) —
      // degree-ordered orientation caps the wedge join at O(m^1.5); the
      // oracle enumerates a<b<c triangles directly
      graft.graph.GraphOps.triangleCounts(mdGraph(t(s, d, "documents")))
    }),

    "q_hash_features" -> ((s, d) => {
      // feature hashing (ops.TextAnalysis.hashFeatures): token -> md5
      // bucket counts, no vocabulary build — the fixed-width featurizer;
      // same md5 lattice as the sampling/bucketing oracles
      graft.ops.TextAnalysis.hashFeatures(
        t(s, d, "documents").filter(col("doc_id") < 500), nBuckets = 64)
    }),

    "q_calibration_bins" -> ((s, d) => {
      // reliability-diagram bins (ops.CorpusOps.calibrationBins): a
      // synthetic length-based [0,1] score against the is-English label,
      // integer (n, n_pos) per bin — one bounded aggregate
      val scored = t(s, d, "documents").select(col("doc_id"),
        least(lit(1.0), col("n_chars").cast("double") / lit(5000.0d))
          .as("score"),
        (col("lang") === "en").as("is_en"))
      graft.ops.CorpusOps.calibrationBins(scored, "score", "is_en",
        bins = 10)
    }),

    "q_auc_exact" -> ((s, d) => {
      // exact tie-corrected AUC (ops.CorpusOps.aucExact) of doc length as
      // a predictor of is-English, published as the doubled integer
      // fraction — score-lattice aggregate + one narrow prefix window
      graft.ops.CorpusOps.aucExact(
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            (col("lang") === "en").as("is_en")),
        "n_chars", "is_en")
    }),

    "q_clustering_coeff" -> ((s, d) => {
      // local clustering coefficient (graph.GraphOps
      // .clusteringCoefficient) over the same md5-random graph as
      // q_triangle_counts — exact integer (n_triangles, n_wedges)
      // fraction per vertex, every vertex reported
      graft.graph.GraphOps.clusteringCoefficient(
        mdGraph(t(s, d, "documents")))
    }),

    "q_retrieval_metrics" -> ((s, d) => {
      // retrieval evaluation (ops.Similarity.retrievalMetrics): the
      // q_bm25_topk run judged against synthetic doc_id%17 qrels —
      // integer P@k/R@k/MRR sources per query; the oracle nests the
      // FULL bm25 oracle as its ranked CTE, so the metric is certified
      // end-to-end through the ranking it evaluates
      val docs = par(s, t(s, d, "documents"))
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      val ranked = graft.ops.TextAnalysis.bm25TopK(docs, qs)
      val qrels = docs.select((col("doc_id") % 17).as("query_id"),
        col("doc_id")).filter(col("query_id") < 3)
      graft.ops.Similarity.retrievalMetrics(ranked, qrels, k = 10)
    }),

    "q_k_core" -> ((s, d) => {
      // k-core decomposition (graph.GraphOps.kCore): the dense core of
      // the md5-random graph after iteratively peeling sub-5-degree
      // vertices. EXACT oracle: the peel is integer degree-filtering, so
      // it unrolls to KcoreOracleRounds CTE levels (overshoot idles on
      // the converged core); Round6bOpsSpec pins multi-round peeling
      graft.graph.GraphOps.kCore(mdGraph(t(s, d, "documents")), k = 5)
    }),

    "q_compression_signal" -> ((s, d) => {
      // compression-ratio quality signal (functions.DeflateLen — codegen
      // Catalyst expression over java.util.zip): exact integer
      // (n_bytes, deflate_len) per doc; templated/repetitive text
      // compresses far below prose. Rows-only (DuckDB ships no deflate);
      // Round6bOpsSpec pins the kernel's properties
      par(s, t(s, d, "documents")).select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        graft.functions.CorpusFunctions.deflate_len(col("text"))
          .as("deflate_len"))
    }),

    "q_confusion_matrix" -> ((s, d) => {
      // confusion matrix (ops.CorpusOps.confusionMatrix): the " the "
      // heuristic as a toy English detector against the lang label —
      // one bounded (label, pred) aggregate, integer counts
      graft.ops.CorpusOps.confusionMatrix(
        t(s, d, "documents").select(col("lang"),
          when(col("text").contains(" the "), lit("en"))
            .otherwise(lit("other")).as("pred_lang")),
        "lang", "pred_lang")
    }),

    "q_cohen_kappa" -> ((s, d) => {
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
    }),

    "q_merge_into" -> ((s, d) => {
      // MERGE INTO (ops.Cdc.mergeInto): the %3 batch upserts into the
      // %7-gapped target with %9 rows as deletions — matched rows
      // replaced, new rows appended, deleted rows dropped; one left-anti
      // equi-join + union, no window, no full outer
      val docs = t(s, d, "documents")
      val target = docs.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text", "source")
      val source = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          col("source"))
      graft.ops.Cdc.mergeInto(target, source, Seq("doc_id"),
        isDelete = col("doc_id") % 9 === 0)
    }),

    "q_expectations" -> ((s, d) => {
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
    }),

    "q_tfidf_cosine_pairs" -> ((s, d) => {
      // all-pairs tf-idf cosine similarity (ops.TextAnalysis
      // .tfidfCosinePairs): inverted-index self-join with the df cap,
      // dot product as one shared-term aggregate — the WEIGHTED sibling
      // of q_ngram_jaccard_pairs, scored on the 6-dp rounded lattice.
      // Trigram terms (n=3): the synthetic corpus' 31-word vocabulary
      // makes unigram cosine degenerate (every doc shares every word)
      graft.ops.TextAnalysis.tfidfCosinePairs(
        par(s, t(s, d, "documents")), threshold = 0.2, maxDocFreq = 1000,
        n = 3)
    }),

    "q_label_propagation" -> ((s, d) => {
      // community detection (graph.GraphOps.labelPropagation) over the
      // md5-random graph: synchronous min-tie-break LPA with self-vote
      // damping. EXACT oracle: every round is integer votes + integer
      // tie-break, so the 10 rounds unroll to 10 CTE levels (post-
      // convergence rounds are identity — round counts need not agree);
      // Round6cOpsSpec pins planted communities and the tie-break
      graft.graph.GraphOps.labelPropagation(
        mdGraph(t(s, d, "documents")), maxIter = 10)
    }),

    "q_poisson_bootstrap" -> ((s, d) => {
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
    }),

    "q_fleiss_kappa" -> ((s, d) => {
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
    }),

    "q_textrank" -> ((s, d) => {
      // TextRank keywords (ops.TextAnalysis.textRankKeywords): word
      // co-occurrence graph -> weighted PageRank (graph.GraphOps
      // .pageRank, run-exactly-20 mode: the word graph is
      // vocabulary-sized, so bench cost is per-round overhead and 20
      // rounds sit well past convergence) -> top-20 terms. EXACT oracle
      // via the fixed-point seam (scale = 1e6): graph build, rounds,
      // and the (textrank DESC, term) top-k tie-break are all integer;
      // Round6dOpsSpec pins the double mode's planted hub graph and
      // the generic pageRank's closed-form star
      graft.ops.TextAnalysis.textRankKeywords(
        par(s, t(s, d, "documents")), k = 20, minCount = 2, maxIter = 20,
        scale = Some(1000000L))
    }),

    "q_kfold_assign" -> ((s, d) => {
      // GROUP k-fold assignment (ops.CorpusOps.kFoldAssign): every doc
      // of a source lands in the same of 5 folds via the md5 lattice of
      // the GROUP key — fold-level leakage-freedom (near-dup families
      // per source never straddle train/eval); one narrow projection
      graft.ops.CorpusOps.kFoldAssign(
        t(s, d, "documents"), "doc_id", k = 5,
        groupCol = Some("source"))
    }),

    "q_take_n_per_group" -> ((s, d) => {
      // deterministic n-per-group sample (ops.CorpusOps.takeNPerGroup):
      // md5-priority top-3 per language — WindowGroupLimit plan, each
      // task retains 3 rows per group instead of sorting whole groups
      graft.ops.CorpusOps.takeNPerGroup(
        t(s, d, "documents"), Seq("lang"), n = 3, keyCol = "doc_id")
    }),

    "q_fuzzy_join" -> ((s, d) => {
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
    }),

    "q_dp_counts" -> ((s, d) => {
      // epsilon-DP group counts (ops.Profile.dpGroupCounts, Laplace
      // mechanism): per-(lang, source) noisy counts at eps=0.5, noise
      // inverted from the md5 lattice — replay-deterministic, oracle
      // replays the exact same draw; one aggregate, codegen noise
      graft.ops.Profile.dpGroupCounts(
        t(s, d, "documents"), Seq("lang", "source"), epsilon = 0.5)
    }),

    "q_ppr" -> ((s, d) => {
      // personalized PageRank (graph.GraphOps.pageRankPersonalized):
      // teleport mass only on vertices {0,1,2} of the md5-random graph
      // — proximity-to-topic ranking. EXACT oracle via the fixed-point
      // seam (scale = 1e6): the teleport vector is built integrally and
      // the 20 rounds unroll to SQL; Round6fOpsSpec pins double-mode
      // source-component locality and the closed-form 2-path
      val g = mdGraph(t(s, d, "documents"))
      graft.graph.GraphOps.pageRankPersonalized(
        g, g.sparkSession.range(3).toDF("v"), tol = 0.0, maxIter = 20,
        scale = Some(1000000L))
        .select(col("vertex"), col("pagerank").as("rank_fp6"))
    }),

    "q_wordpiece_encode" -> ((s, d) => {
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
    }),

    "q_fuzzy_clusters" -> ((s, d) => {
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
    }),

    "q_mad_outliers" -> ((s, d) => {
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
    }),

    "q_quantile_bins" -> ((s, d) => {
      // equal-frequency quartile binning (ops.CorpusOps.quantileBins):
      // exact interpolated cut points broadcast, assignment as a
      // codegen comparison fold; boundary values land low on BOTH
      // engines (strict >). exact = true for the oracle's interpolation
      // (bounded n_chars lattice); the default is the GK-sketch path
      graft.ops.CorpusOps.quantileBins(
        t(s, d, "documents").select("doc_id", "n_chars"), "n_chars",
        k = 4, exact = true)
    }),

    "q_rag_retrieve" -> ((s, d) => {
      // passage retrieval END-TO-END: stride-30/40-token chunking
      // (ops.CorpusOps.chunkDocs) -> BM25 over CHUNKS (ops.TextAnalysis
      // .bm25TopK, top-20) -> best-chunk-per-document aggregation ->
      // top-3 documents per query. The RAG retrieval path composed
      // from three certified operators, exact-oracled through the
      // spliced chunk+bm25 oracle CTEs
      val docs = par(s, t(s, d, "documents"))
      // 1e6 multiplier: collision-free up to 30M-token documents
      // (chunk_idx < 1e6); a *100 key would silently merge doc N's
      // chunk 100 with doc N+1's chunk 0 past 3000 tokens
      val chunks = graft.ops.CorpusOps.chunkDocs(docs, chunkTokens = 40,
        stride = 30)
        .select((col("doc_id") * 1000000L + col("chunk_idx"))
          .as("chunk_id"),
          col("doc_id").as("parent_id"), col("chunk_text"))
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      val hits = graft.ops.TextAnalysis.bm25TopK(chunks, qs, k = 20,
        idCol = "chunk_id", textCol = "chunk_text")
      val best = hits
        .withColumn("parent_id", expr("chunk_id div 1000000")) // int
        // div: double division would lose exactness past 2^53 ids
        .groupBy("query_id", "parent_id")
        .agg(max(col("bm25")).as("best_bm25"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("best_bm25").desc, col("parent_id"))
      best.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("parent_id"), col("best_bm25"),
          col("rank").cast("int").as("rank"))
    }),

    "q_soft_dedup" -> ((s, d) => {
      // duplication-aware DOWNSAMPLING (ops.Dedup.softKeep): keep each
      // exact-dup group member independently w.p. ~1/n on the 60-bit
      // integer md5 lattice (hash60 < 2^60 div n — integer division,
      // replayed verbatim by the oracle); md5 fingerprint injected for
      // cross-engine replay, as in q_dedup_incremental
      graft.ops.Dedup.softKeep(par(s, t(s, d, "documents")),
          fingerprint = md5(_))
        .select("doc_id", "dup_group_size", "kept")
    }),

    "q_hard_negatives" -> ((s, d) => {
      // hard-negative mining (ops.Similarity.hardNegatives): top-5
      // most-similar DIFFERENT-label corpus vectors per labeled query —
      // the contrastive-training pair miner; brute-force neighbor source
      // here, ANN/IVF via hardNegativesFrom at scale
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label"))
      graft.ops.Similarity.hardNegatives(qs, emb, k = 5)
    }),

    "q_overlap_estimate" -> ((s, d) => {
      // KMV bottom-k corpus-overlap sketch (ops.Sketches
      // .overlapEstimate, Beyer et al. 2007): two overlapping document
      // subsets reduce to 60-bit md5 hash sets; the k smallest union
      // hashes carry per-side membership — all-integer output, the
      // oracle replays the exact sketch
      val docs = par(s, t(s, d, "documents"))
      graft.ops.Sketches.overlapEstimate(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 2 === 0), "text", k = 64)
    }),

    "q_blocklist_phrases_ac" -> ((s, d) => {
      // the q_blocklist_phrases contract through the Aho–Corasick ONE-
      // PASS kernel (ops.CorpusOps.flagBlocklistedPhrasesAC) instead of
      // the per-phrase theta-join — same rows, SAME ORACLE, different
      // physical plan (no join on the corpus side at all)
      import s.implicits._
      graft.ops.CorpusOps.flagBlocklistedPhrasesAC(
        par(s, t(s, d, "documents")),
        Seq("hash join", "merge join", "no such phrase").toDF("phrase"))
    }),

    "q_unimax" -> ((s, d) => {
      // UniMax token-budget allocation (ops.CorpusOps.unimaxFromCorpus,
      // Chung et al. 2023): exact integer waterfilling over the
      // 20-source dimension — budget 50000 at maxEpochs=2 saturates the
      // small sources at sf0.01 and leaves all unsaturated at sf0.1, so
      // both branches are oracle-exercised
      graft.ops.CorpusOps.unimaxFromCorpus(
        par(s, t(s, d, "documents")), budget = 50000L, maxEpochs = 2)
    }),

    "q_contamination_report" -> ((s, d) => {
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
    }),

    "q_byte_bpe_chars" -> ((s, d) => {
      // 0-merge BYTE-level BPE (ops.Tokenize.encodeByteBpe): one token
      // per UTF-8 byte of each non-space word — the byte sibling of
      // q_bpe_chars, oracled via octet_length
      graft.ops.Tokenize.encodeByteBpe(par(s, t(s, d, "documents")),
          merges = Seq.empty)
        .select(col("doc_id"), col("n_tokens"))
    }),

    "q_pass_at_k" -> ((s, d) => {
      // unbiased pass@5 (ops.CorpusOps.passAtK, Chen et al. 2021) over
      // synthetic graded samples (problem = doc_id % 50, pass = a
      // deterministic length predicate) — the left-to-right product
      // fold is bit-identical across engines (aggregate == list_reduce
      // sequential semantics), so the float column rides the hash
      val samples = par(s, t(s, d, "documents"))
        .select((col("doc_id") % 50).as("problem_id"),
          (col("n_chars") % 3 === 0).as("correct"))
      graft.ops.CorpusOps.passAtK(samples, k = 5)
    }),

    "q_mask_phrases" -> ((s, d) => {
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
    }),

    "q_hard_negatives_from" -> ((s, d) => {
      // the rerank stage certified separately (ops.Similarity
      // .hardNegativesFrom): exhaustive brute-force candidates (k =
      // corpus size) make the staged form equal the one-shot by
      // construction — SAME ORACLE as q_hard_negatives, the
      // build/probe certification pattern
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label"))
      val cands = graft.ops.Similarity.bruteForceTopK(
        qs.select("query_id", "embedding"), emb, k = 1 << 20)
      graft.ops.Similarity.hardNegativesFrom(cands, qs, emb, k = 5)
    }),

    "q_unimax_apply" -> ((s, d) => {
      // the q_unimax allocation MATERIALIZED (ops.CorpusOps.unimaxApply):
      // full epochs fanned out + the md5-order remainder prefix — at
      // sf0.01 sources run ~2 epochs, at sf0.1 only the prefix lands, so
      // both paths are oracle-exercised
      val docs = par(s, t(s, d, "documents"))
      graft.ops.CorpusOps.unimaxApply(docs,
          graft.ops.CorpusOps.unimaxFromCorpus(docs, budget = 50000L,
            maxEpochs = 2))
        .select(col("doc_id"), col("epoch"))
    }),

    // ---- round 7 -----------------------------------------------------

    "q_bleu_counts" -> ((s, d) => {
      // BLEU-1..4 clipped-precision COUNTS (ops.TextAnalysis.bleuCounts)
      // over the q_rouge_counts pair fixture (doc i candidate vs doc
      // i+250 reference) — integer numerators/denominators + lengths;
      // p_n, BP, and the geometric mean are the consumer's divisions
      val docs = par(s, t(s, d, "documents"))
      val a = docs.filter(col("doc_id") < 250)
        .select(col("doc_id").as("pair_id"), col("text").as("text_a"))
      val b = docs.select((col("doc_id") - 250).as("pair_id"),
        col("text").as("text_b"))
      graft.ops.TextAnalysis.bleuCounts(a.join(b, Seq("pair_id")), maxN = 4)
    }),

    "q_modularity" -> ((s, d) => {
      // per-community modularity PARTS (graph.GraphOps.modularityParts)
      // over the md5-random graph with the deterministic vertex%10
      // labeling — the integer sufficient statistics (e_c, d_c) of Q,
      // exact-oracled so community QUALITY is certifiable independently
      // of the detector (LPA itself is also exact-oracled — unrolled)
      val g = mdGraph(t(s, d, "documents"))
      val verts = g.select(col("src").as("vertex"))
        .union(g.select(col("dst"))).distinct()
      graft.graph.GraphOps.modularityParts(g,
        verts.withColumn("community", col("vertex") % 10))
    }),

    "q_modularity_score" -> ((s, d) => {
      // the folded one-row form (graph.GraphOps.modularity): Q as the
      // exact integer fraction q_num/q_den = (4m·Σe_c − Σd_c²)/4m² —
      // DECIMAL-guarded against BIGINT overflow at real edge counts
      val g = mdGraph(t(s, d, "documents"))
      val verts = g.select(col("src").as("vertex"))
        .union(g.select(col("dst"))).distinct()
      graft.graph.GraphOps.modularity(g,
        verts.withColumn("community", col("vertex") % 10))
    }),

    "q_contamination_closure" -> ((s, d) => {
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
    }),

    "q_bpe_roundtrip" -> ((s, d) => {
      // decode ∘ encode == whitespace-normalized identity for the
      // TRAINED char-BPE (ops.Tokenize.decodeBpe) — an exact SQL
      // identity certifying the encoder's losslessness END-TO-END for
      // any merge table (merges only concatenate adjacent symbols)
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      graft.ops.Tokenize.decodeBpe(
        graft.ops.Tokenize.encodeBpe(docs, cachedBpeMerges(s, d)))
    }),

    "q_byte_bpe_roundtrip" -> ((s, d) => {
      // the byte-level sibling (ops.Tokenize.decodeByteBpe): trained
      // byte merges, inverse GPT-2 byte table, UTF-8 re-decode — the
      // no-UNK claim certified end-to-end by the SAME normalization
      // oracle as q_bpe_roundtrip
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      graft.ops.Tokenize.decodeByteBpe(
        graft.ops.Tokenize.encodeByteBpe(docs, cachedByteBpeMerges(s, d)))
    }),

    "q_unigram_roundtrip" -> ((s, d) => {
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
    }),

    "q_wordpiece_roundtrip" -> ((s, d) => {
      // WordPiece round trip (decodeWordPiece fuses ## continuations):
      // with the corpus-derived vocabulary no word UNKs, so the round
      // trip is exact on the LOWERCASED normalized text — the oracle
      // lowercases; an [UNK] anywhere would hash-break it
      val docs = par(s, t(s, d, "documents"))
        .filter(col("text").isNotNull)
      val vocab = graft.ops.Tokenize.wordPieceVocab(docs, topWords = 200)
      graft.ops.Tokenize.decodeWordPiece(
        graft.ops.Tokenize.encodeWordPiece(docs, vocab))
    }),

    "q_chrf_counts" -> ((s, d) => {
      // chrF 1..6-gram clipped char counts (ops.TextAnalysis.chrfCounts)
      // — the character-level member of the eval trio, over the first
      // 100 aligned pairs (char grams are ~6x denser than word grams;
      // the cap keeps the bench honest). Integer-only; chrP/chrR/F are
      // the consumer's divisions
      val docs = par(s, t(s, d, "documents"))
      val a = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("pair_id"), col("text").as("text_a"))
      val b = docs.select((col("doc_id") - 250).as("pair_id"),
        col("text").as("text_b"))
      graft.ops.TextAnalysis.chrfCounts(a.join(b, Seq("pair_id")), maxN = 6)
    }),

    "q_rouge_l" -> ((s, d) => {
      // ROUGE-L LCS counts (ops.TextAnalysis.rougeLCounts, codegen
      // lcs_tokens kernel) over the shared 250-pair fixture — integer
      // (lcs_len, n_a, n_b). EXACT oracle: the LCS DP replays as a
      // recursive antidiagonal CTE (one diagonal per iteration, the
      // previous two kept as fresh + age-1 carries); Round7cOpsSpec
      // additionally pins the DP goldens and the MaxLcsTokens cap
      val docs = par(s, t(s, d, "documents"))
      val a = docs.filter(col("doc_id") < 250)
        .select(col("doc_id").as("pair_id"), col("text").as("text_a"))
      val b = docs.select((col("doc_id") - 250).as("pair_id"),
        col("text").as("text_b"))
      graft.ops.TextAnalysis.rougeLCounts(a.join(b, Seq("pair_id")))
    }),

    "q_ivfpq_topk" -> ((s, d) => {
      // the combined IVF-PQ tier (ops.Similarity.ivfPqProbe) in its
      // STAGED-FORM certification: nProbe = nCenters (all cells probed)
      // and k·overfetch > corpus size (every ADC candidate survives to
      // the exact re-rank), so the full cell-routing + byte-scan +
      // re-rank code path must reproduce brute force EXACTLY — SAME
      // oracle as q_sim_topk (the q_hard_negatives_from pattern)
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.ivfPqProbe(qs, cachedIvfPq(s, d), emb, k = 5,
          nProbe = 8, overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
    }),

    "q_nsw_topk" -> ((s, d) => {
      // the graph-ANN tier (ops.Similarity.nswSearch over the cached
      // single-layer NSW graph) in its STAGED-FORM certification:
      // entries = the whole corpus with ef > corpus size scores every
      // node up front, so the full score/dedup/prune/rank code path —
      // one beam hop included — must equal bruteForceTopK — SAME oracle
      // as q_sim_topk (the q_ivfpq_topk recipe). Deployment parameters
      // live on q_nsw_probe + the Round8bOpsSpec recall floor.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.nswSearch(qs, cachedNsw(s, d), emb, k = 5,
          ef = 1 << 18, hops = 1, entries = Some(emb.select("vec_id")))
        .select("query_id", "vec_id", "rank")
    }),

    "q_nsw_topk_persisted" -> ((s, d) => {
      // the CROSS-SESSION deployment shape of the graph tier
      // (q_bm25_probe_persisted's recipe): the NSW graph written to
      // bucketed tables (IndexStore, edges on src) and read back from
      // disk — the staged search (entries = corpus, ef > n, one hop
      // through the RELOADED adjacency) runs against the on-disk
      // artifact and the SAME exact oracle as q_nsw_topk certifies
      // write -> read -> search.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.nswSearch(qs, persistedNsw(s, d), emb, k = 5,
          ef = 1 << 18, hops = 1, entries = Some(emb.select("vec_id")))
        .select("query_id", "vec_id", "rank")
    }),

    "q_nsw_append" -> ((s, d) => {
      // graph-tier index MAINTENANCE (ops.Similarity.nswAppend — HNSW
      // insertion as ONE batch beam search + bidirectional connect) in
      // the STAGED FORM: entries = the whole corpus with exhaustive ef
      // makes the neighbor search exact brute-force top-m by
      // construction, so the appended edge set (forward + back-edges)
      // replays in SQL as top-8-cosine per batch vector plus its mirror
      // — certifying the insertion path end-to-end through the real
      // search/connect code. Deployment-parameter appends (ef 32,
      // 3 hops) are pinned by planted-duplicate reachability in
      // Round9cOpsSpec; the base graph stays session-cached (build
      // cadence) while the append runs per execution (append cadence).
      val emb = par(s, t(s, d, "embeddings"))
      val batch = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val appended = graft.ops.Similarity.nswAppend(cachedNsw(s, d),
        batch, emb, m = 8, ef = 1 << 18, hops = 0,
        entries = Some(emb.select(col("vec_id"))))
      val out = appended.edges
        .filter(col("src") >= 1000000L || col("dst") >= 1000000L)
        .localCheckpoint(true)
      appended.releaseDelta() // per-execution artifact; base is cached
      out
    }),

    "q_nsw_drift" -> ((s, d) => {
      // the graph tier's rebuild-cadence signal (ops.Similarity
      // .nswDriftReport — the q_ivf_drift/q_bm25_drift sibling) made
      // EXACT via the staged search seam: the index adjacency is a
      // deterministic RING over the 1-in-10 sample (whose edge COUNT —
      // the only thing the report reads from it — replays as one SQL
      // count), the arriving batch is the disjoint offset-5 sample, and
      // the insertion search runs STAGED (entries = whole corpus,
      // exhaustive ef, 0 hops) so the found set is exact brute-force
      // top-8 — n_new_edges replays as q_nsw_append's forward ∪ mirror
      // count, reach/growth as HUGEINT floor-divisions, and the REBUILD
      // decision itself is oracle-certified. Deployment-parameter drift
      // (real beam search over the k-means graph) is spec-pinned in
      // CompactionSpec.
      val emb = t(s, d, "embeddings")
      val sample = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
      val ring = sample
        .agg(array_sort(collect_list(col("vec_id"))).as("_a"))
        .select(col("_a"), posexplode(col("_a")).as(Seq("_i", "src")))
        .select(col("src"), element_at(col("_a"),
          ((col("_i") + 1) % size(col("_a"))) + 1).as("dst"))
      val idx = graft.ops.Similarity.NswIndex(ring, sample)
      val batch = emb.filter(col("vec_id") % 10 === 5)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      graft.ops.Similarity.nswDriftReport(idx, batch, emb, m = 8,
        ef = 1 << 18, hops = 0, entries = Some(emb.select("vec_id")))
    }),

    "q_nsw_probe" -> ((s, d) => {
      // the same graph at DEPLOYMENT parameters: beam from the nCenters
      // cell gateways, ef = 32, 3 hops — per hop only the (queries × ef)
      // frontier broadcasts against the adjacency and only new nodes
      // fetch a vector. Rows-only (graph reachability is approximate by
      // construction); Round8bOpsSpec pins the recall floor vs
      // bruteForceTopK and a planted must-hop graph golden.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.nswSearch(qs, cachedNsw(s, d), emb, k = 5,
          ef = 32, hops = 3)
        .select("query_id", "vec_id", "rank")
    }),

    "q_ivfpq_probe" -> ((s, d) => {
      // the same index at DEPLOYMENT parameters (nProbe 4 of 8 cells,
      // 3x overfetch): the plan a billion-vector store actually runs —
      // rows-only (approximate by design); Round7bOpsSpec pins the
      // recall floor against bruteForceTopK
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.ivfPqProbe(qs, cachedIvfPq(s, d), emb, k = 5,
          nProbe = 4, overfetch = 3)
        .select("query_id", "vec_id", "rank")
    }),

    "q_curate_batch_card" -> ((s, d) => {
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
    }),

    "q_mcnemar" -> ((s, d) => {
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
    }),

    "q_spearman_counts" -> ((s, d) => {
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
    }),

    "q_krippendorff" -> ((s, d) => {
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
    }),

    "q_distinct_n" -> ((s, d) => {
      // distinct-n diversity integers per source (ops.TextAnalysis
      // .distinctN): unique vs total word 1..3-grams — the
      // mode-collapse / boilerplate-farm signal; distinct-n is the
      // consumer's division
      graft.ops.TextAnalysis.distinctN(par(s, t(s, d, "documents")),
        "source", "text", maxN = 3)
    }),

    "q_preference_pairs" -> ((s, d) => {
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
    }),

    "q_win_matrix" -> ((s, d) => {
      // arena win matrix (ops.Preference.winMatrix): 5 synthetic
      // models battle by doc (%5 vs //5%5, winner by %3), pair order
      // normalized so A-vs-B and B-vs-A land in one row — the exact
      // sufficient statistic Bradley-Terry consumes
      graft.ops.Preference.winMatrix(battleFixture(s, d),
        "ma", "mb", "w")
    }),

    "q_bradley_terry" -> ((s, d) => {
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
    }),

    "q_emb_moments" -> ((s, d) => {
      // exact integer covariance sufficient statistics (ops.Similarity
      // .embeddingMoments): quantize-first (float*1e6 is exact in
      // double), then every sum is integer-exact and ORDER-INDEPENDENT
      // — upper-triangle (i<=j) pair stream collapsed by map-side agg
      graft.ops.Similarity.embeddingMoments(
        t(s, d, "embeddings").filter(col("vec_id") < 2000),
        dim = 64)
    }),

    "q_pca_project" -> ((s, d) => {
      // PCA projection in the STAGED-FORM certification: the REAL
      // pcaProject code path (k=4 zip_with/aggregate dot chains over the
      // full 64-dim array, posexplode long form) against a caller-
      // supplied LITERAL orthonormal basis — Hadamard H4 rows / 2
      // (entries ±0.5) over disjoint coordinate quadruples, zero mean.
      // Inputs are pre-quantized onto the 2^-4 lattice (floor(x*16)/16,
      // exact in both engines), so every product is a multiple of 2^-5,
      // the left-to-right fold is IEEE-exact, and round(·, 6) is the
      // identity (5-dp values) — the projection replays term-for-term in
      // SQL. The Jacobi FIT stays covered by Round7eOpsSpec (planted
      // rank recovery, orthonormality, eigenvalue order) and its
      // sufficient statistics by q_emb_moments' exact oracle; deployment
      // runs pcaFit -> pcaProject with this identical projection chain.
      val h4 = Array(Array(1, 1, 1, 1), Array(1, -1, 1, -1),
        Array(1, 1, -1, -1), Array(1, -1, -1, 1))
      val comps = Array.tabulate(4) { j =>
        val v = new Array[Double](64)
        (0 until 4).foreach(i => v(16 * j + i) = 0.5 * h4(j)(i))
        v
      }
      val model = graft.ops.Similarity.PcaModel(dim = 64, k = 4,
        mean = new Array[Double](64), components = comps,
        eigenvalues = Array(4.0, 3.0, 2.0, 1.0))
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 2000)
        .withColumn("embedding", transform(col("embedding"),
          x => floor(x.cast("double") * 16) / 16))
      graft.ops.Similarity.pcaProject(emb, model)
    }),

    "q_normalize_scores" -> ((s, d) => {
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
    }),

    "q_normalize_robust" -> ((s, d) => {
      // robust (median/IQR) normalization, exact-percentile opt-in so
      // the DuckDB quantile_cont interpolation matches; stats rounded
      // 6 dp before the division (the madOutliers discipline). The
      // DEFAULT is the GK sketch — the 100 TB plan
      graft.ops.CorpusOps.normalizeScores(
        par(s, t(s, d, "documents")).select(col("doc_id"), col("n_chars")),
        "n_chars", method = "robust", exact = true)
        .select("doc_id", "norm")
    }),

    "q_winsorize" -> ((s, d) => {
      // quantile clamping (ops.CorpusOps.winsorize): keep-but-de-weight
      // alternative to madOutliers' drop; exact percentile opt-in for
      // the oracle, sketch default for scale
      graft.ops.CorpusOps.winsorize(
        par(s, t(s, d, "documents")).select(col("doc_id"), col("n_chars")),
        "n_chars", pLo = 0.05, pHi = 0.95, exact = true)
        .select("doc_id", "winsorized")
    }),

    "q_fim_transform" -> ((s, d) => {
      // fill-in-the-middle re-ordering (ops.TextAnalysis.fimTransform):
      // deterministic PSM cuts from the md5 split lattice — exact
      // string oracle, pure narrow codegen
      graft.ops.TextAnalysis.fimTransform(
        par(s, t(s, d, "documents")).filter(col("doc_id") < 500)
          .select(col("doc_id"), col("text")))
        .select("doc_id", "fim_lo", "fim_hi", "fim_text")
    }),

    "q_truncate_dialogs" -> ((s, d) => {
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
    }),

    "q_kwic" -> ((s, d) => {
      // keyword-in-context concordance (ops.TextAnalysis.kwicWindows):
      // every phrase occurrence with offset + context windows via the
      // ac_hit_positions kernel (one AC pass, O(text + hits)); the
      // oracle re-finds positions by brute substring scan
      graft.ops.TextAnalysis.kwicWindows(
        par(s, t(s, d, "documents"))
          .select(col("doc_id"), lower(col("text")).as("text")),
        Seq("hash join", "merge join"), window = 24)
    }),

    "q_zorder_key" -> ((s, d) => {
      // Morton interleave key (ops.Layout.zorderKey): 8-bit uniform
      // buckets over two integer dims on power-of-two bounds (exact
      // double arithmetic in both engines), bits interleaved
      // round-robin — the layout key behind writeZordered's
      // range-repartition, surfaced so the key itself is oracled
      t(s, d, "events").select(col("event_id"), col("user_id"),
        graft.ops.Layout.zorderKey(
          Seq((col("user_id"), 0.0, 256.0),
            (col("event_id"), 0.0, 65536.0)), bits = 8).as("z"))
    }),

    "q_mask_dialogs" -> ((s, d) => {
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
    }),

    "q_funnel" -> ((s, d) => {
      // earliest-anchored funnel (ops.Sessions.funnel): view -> click
      // -> purchase within 1 day of the anchor; per-step filtered
      // aggregations chained on the user key, no per-user event
      // buffering — semantics stated in the scaladoc ARE the contract,
      // replicated step-for-step by the oracle CTEs
      graft.ops.Sessions.funnel(t(s, d, "events"),
        Seq("view", "click", "purchase"), withinSeconds = 86400L)
    }),

    "q_funnel_sliding" -> ((s, d) => {
      // sliding-anchor funnel (ops.Sessions.funnelSliding — ClickHouse
      // windowFunnel's greedy mode): max depth over ALL view anchors,
      // one shuffle + O(k)-state pass per user with the cap-and-raise
      // buffer guard. EXACT oracle: each level's anchor is a running
      // MAX of the previous level's window-valid candidates over the
      // (ts, step) total order, so the whole recurrence is k-1 chained
      // window layers in SQL; Round8OpsSpec pins goldens, per-user
      // dominance over q_funnel's earliest-anchored stage, and a
      // planted stream where sliding reaches strictly deeper.
      graft.ops.Sessions.funnelSliding(events(s, d),
        Seq("view", "click", "purchase"), withinSeconds = 86400L)
    }),

    "q_decontaminate_dialogs" -> ((s, d) => {
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
    }),

    "q_retention" -> ((s, d) => {
      // weekly cohort retention triangle (ops.Sessions.retention):
      // ISO-Monday week truncation aligns cohort and activity weeks in
      // both engines, so the day delta is always a multiple of 7
      graft.ops.Sessions.retention(t(s, d, "events"))
    }),

    "q_event_transitions" -> ((s, d) => {
      // first-order Markov transition counts (ops.Sessions
      // .eventTransitions): per-user lead over a TOTAL sort key
      // (ts, type, event_id) so colliding timestamps still produce one
      // deterministic sequence in both engines
      graft.ops.Sessions.eventTransitions(t(s, d, "events"))
    }),

    "q_sentence_stats" -> ((s, d) => {
      // sentence/word shape counts (ops.TextAnalysis.sentenceStats):
      // anchor-free terminal-punctuation runs so Java and RE2 regex
      // agree; ratio is the consumer's division
      graft.ops.TextAnalysis.sentenceStats(
        par(s, t(s, d, "documents")).select(col("doc_id"), col("text")))
        .select("doc_id", "n_sentences", "n_words")
    }),

    "q_rfm" -> ((s, d) => {
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
    })
  )

  /** BENCH-ONLY production twins of the seam-converted dedup queries:
    * the contract entries above run the md5 certification seams on
    * bounded staged samples (exact-oracle-able but definition-
    * discontinuous vs the production paths), which left the MURMUR
    * deployment-parameter paths unbenched — spec-covered but invisible
    * to cross-round regression tracking. These entries run exactly what
    * production runs (MurmurHash3, deployment banding, full corpus);
    * they ride [[graft.Bench]] but NOT the correctness gate (no SQL
    * oracle can replay murmur — that is the reason the seams exist).
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash_prod" -> ((s, d) =>
      // deployment banding over the full corpus (the recall-spec'd path)
      graft.ops.Dedup.minhashLsh(par(s, t(s, d, "documents")),
          threshold = 0.8, numHashes = 128, bands = 32)
        .select("id_a", "id_b")),

    "q_dedup_minhash_incr_prod" -> ((s, d) => {
      // production incremental near-dup: deployment-banded index over
      // the first half, second half probed against it
      val docs = par(s, t(s, d, "documents")).select("doc_id", "text")
      val half = 250
      val idx = graft.ops.Dedup.buildMinhashIndex(
        docs.filter(col("doc_id") < half))
      graft.ops.Dedup.nearDupAgainstIndex(idx,
        docs.filter(col("doc_id") >= half), threshold = 0.8)
    }),

    "q_dedup_simhash_prod" -> ((s, d) =>
      // murmur word hash (the deployed signature), same banded join
      graft.ops.Dedup.simhashPairs(par(s, t(s, d, "documents")),
        maxHamming = 3)),

    "q_dup_spans_winnow_prod" -> ((s, d) =>
      // murmur gram hash through the same winnowing selection loop
      graft.ops.Dedup.duplicateSpans(par(s, t(s, d, "documents")),
        k = 60, window = Some(8))),

    "q_split_leakage_prod" -> ((s, d) => {
      // deployment banding over the FULL corpus + planted near-dups
      val docs = par(s, t(s, d, "documents")).select("doc_id", "text")
      val planted = docs
        .select((-(col("doc_id") + 1)).as("doc_id"),
          concat(col("text"), lit(" tail tweak")).as("text"))
      val corpus = docs.union(planted)
        .withColumn("split", graft.ops.CorpusOps.hashSplit("doc_id"))
      graft.ops.Pipelines.auditSplitLeakage(corpus, threshold = 0.8)
    }),

    "q_decontaminate_dialogs_prod" -> ((s, d) => {
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
    })
  )

  /** The quantized-probe oracle shared by q_ann_ivf_quant and its split
    * twin: all cells probed (nProbe = nCenters), candidates ranked on
    * the QUANTIZED cosine — codes/min/scale replayed exactly as in
    * q_quantize_int8, dequantized through the same double→float cast,
    * ranked by list_cosine_similarity (dot / sqrt(na·nb), the CosineSim
    * kernel's formula).
    */
  private def quantProbeOracleSql: String =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |s AS (SELECT vec_id, e, list_min(e) AS mn,
      |    (list_max(e) - list_min(e)) / 255.0 AS sc FROM v),
      |dq AS (SELECT vec_id,
      |    CASE WHEN sc > 0 THEN list_transform(e,
      |        x -> CAST(CAST(mn + round((x - mn) / sc) * sc AS FLOAT)
      |          AS DOUBLE))
      |      ELSE list_transform(e, x -> CAST(CAST(mn AS FLOAT)
      |          AS DOUBLE)) END AS dv
      |  FROM s),
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id < 10),
      |scored AS (SELECT q.query_id, dq.vec_id,
      |    list_cosine_similarity(q.qv, dq.dv) AS cos
      |  FROM q, dq WHERE q.query_id <> dq.vec_id)
      |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin

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

  def oracleSql: Map[String, String] = baseOracleSql ++ Map(
    // the BPE trainer and encoder replayed as unrolled SQL rounds — see
    // bpeTrainCtes/bpeEncodeOracle; parameters mirror cachedBpeMerges
    // (50 merges, minCount 2); applyRounds = 12 > max word length
    "q_bpe_merges" -> bpeMergesOracle(rounds = 50, minCount = 2),
    "q_bpe_encode" -> bpeEncodeOracle(rounds = 50, minCount = 2,
      applyRounds = 12),
    // the greedy longest-prefix walk unrolled; topWords mirrors the query
    "q_wordpiece_encode" -> wordPieceOracle(topWords = 10, rounds = 12),
    "q_mcnemar" ->
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
        |FROM c""".stripMargin,

    // doubled average ranks: r2 = 2*(count below) + (count equal) + 1,
    // built on each DISTINCT-value lattice exactly like the operator
    "q_spearman_counts" ->
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
        |FROM j""".stripMargin,

    "q_krippendorff" ->
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
        |FROM perm, nt, sq""".stripMargin,

    "q_distinct_n" ->
      """WITH toks AS (SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |ns AS (SELECT unnest(generate_series(1, 3)) AS n),
        |grams AS (SELECT source, n, array_to_string(w[i : i + n - 1], ' ')
        |    AS g
        |  FROM toks, ns,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
        |  WHERE i <= len(w) - n + 1),
        |gcnt AS (SELECT source, n, g, count(*) AS c FROM grams
        |  GROUP BY 1, 2, 3)
        |SELECT source AS "group", CAST(n AS INTEGER) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c) AS BIGINT) AS n_total
        |FROM gcnt GROUP BY 1, 2""".stripMargin,

    // struct-extrema tie-breaks == (score DESC, id DESC) / (ASC, ASC)
    "q_preference_pairs" ->
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
        |WHERE chosen_score - rejected_score > 0""".stripMargin,

    "q_win_matrix" ->
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
        |FROM nrm GROUP BY 1, 2""".stripMargin,

    // the persisted-index probe (write → read → probe through IndexStore)
    // returns bit-identical rows to the session probe — one oracle
    // certifies the whole disk round-trip
    "q_bm25_probe_persisted" -> baseOracleSql("q_bm25_probe"),
    // append maintenance: additive stats make the appended-index probe
    // unconditionally equal to the full-corpus probe
    "q_bm25_append" -> baseOracleSql("q_bm25_probe"),
    // compaction: the folded generation ∪ (skipped) leftover delta tree
    // must probe exactly like the full corpus — same oracle; a reader
    // that double-counted the folded partition would double tf/df
    "q_bm25_compact" -> baseOracleSql("q_bm25_probe"),

    // ---- round 7 -----------------------------------------------------

    // the staged-form IVF-PQ identity rides brute force's exact oracle
    // (all cells probed + exhaustive overfetch == bruteForceTopK by
    // construction, through the REAL probe code path)
    "q_ivfpq_topk" -> baseOracleSql("q_sim_topk"),

    // the q_rouge_counts pair fixture generalized to all n in 1..4 in
    // one grams CTE (variable-width list slice); integer-only columns
    "q_bleu_counts" ->
      """WITH p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS ta, b.text AS tb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
        |  WHERE a.doc_id < 250),
        |wa AS (SELECT pair_id,
        |  list_filter(string_split_regex(lower(trim(ta)), '\s+'),
        |    t -> t <> '') AS w FROM p),
        |wb AS (SELECT pair_id,
        |  list_filter(string_split_regex(lower(trim(tb)), '\s+'),
        |    t -> t <> '') AS w FROM p),
        |ns AS (SELECT unnest(generate_series(1, 4)) AS n),
        |ga AS (SELECT pair_id, n, g, count(*) AS ca FROM (
        |  SELECT pair_id, n, array_to_string(w[i:i+n-1], ' ') AS g
        |  FROM wa, ns,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
        |  WHERE i <= len(w) - n + 1)
        |  GROUP BY 1, 2, 3),
        |gb AS (SELECT pair_id, n, g, count(*) AS cb FROM (
        |  SELECT pair_id, n, array_to_string(w[i:i+n-1], ' ') AS g
        |  FROM wb, ns,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
        |  WHERE i <= len(w) - n + 1)
        |  GROUP BY 1, 2, 3),
        |ov AS (SELECT pair_id, n,
        |    CAST(sum(least(ca, cb)) AS BIGINT) AS n_match
        |  FROM ga JOIN gb USING (pair_id, n, g) GROUP BY 1, 2),
        |tot AS (SELECT wa.pair_id AS pair_id, CAST(n AS INTEGER) AS n,
        |    CAST(greatest(len(wa.w) - n + 1, 0) AS BIGINT) AS n_cand,
        |    CAST(len(wa.w) AS BIGINT) AS cand_len,
        |    CAST(len(wb.w) AS BIGINT) AS ref_len
        |  FROM wa JOIN wb ON wa.pair_id = wb.pair_id, ns)
        |SELECT tot.pair_id AS pair_id, tot.n AS n,
        |  CAST(coalesce(ov.n_match, 0) AS BIGINT) AS n_match,
        |  n_cand, cand_len, ref_len
        |FROM tot LEFT JOIN ov
        |  ON tot.pair_id = ov.pair_id AND tot.n = ov.n""".stripMargin,

    // char n-grams of the whitespace-stripped lowercased text, n=1..6
    // (the q_bleu_counts shape at character granularity)
    "q_chrf_counts" ->
      """WITH p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS ta, b.text AS tb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
        |  WHERE a.doc_id < 100),
        |ca AS (SELECT pair_id,
        |  regexp_replace(lower(trim(ta)), '\s+', '', 'g') AS t FROM p),
        |cb AS (SELECT pair_id,
        |  regexp_replace(lower(trim(tb)), '\s+', '', 'g') AS t FROM p),
        |ns AS (SELECT unnest(generate_series(1, 6)) AS n),
        |ga AS (SELECT pair_id, n, g, count(*) AS cca FROM (
        |  SELECT pair_id, n, substr(t, i, n) AS g
        |  FROM ca, ns,
        |  LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s
        |  WHERE i <= len(t) - n + 1)
        |  GROUP BY 1, 2, 3),
        |gb AS (SELECT pair_id, n, g, count(*) AS ccb FROM (
        |  SELECT pair_id, n, substr(t, i, n) AS g
        |  FROM cb, ns,
        |  LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s
        |  WHERE i <= len(t) - n + 1)
        |  GROUP BY 1, 2, 3),
        |ov AS (SELECT pair_id, n,
        |    CAST(sum(least(cca, ccb)) AS BIGINT) AS n_match
        |  FROM ga JOIN gb USING (pair_id, n, g) GROUP BY 1, 2),
        |tot AS (SELECT ca.pair_id AS pair_id, CAST(n AS INTEGER) AS n,
        |    CAST(greatest(len(ca.t) - n + 1, 0) AS BIGINT) AS n_cand,
        |    CAST(greatest(len(cb.t) - n + 1, 0) AS BIGINT) AS n_ref
        |  FROM ca JOIN cb ON ca.pair_id = cb.pair_id, ns)
        |SELECT tot.pair_id AS pair_id, tot.n AS n,
        |  CAST(coalesce(ov.n_match, 0) AS BIGINT) AS n_match,
        |  n_cand, n_ref
        |FROM tot LEFT JOIN ov
        |  ON tot.pair_id = ov.pair_id AND tot.n = ov.n""".stripMargin,

    // the q_triangle_counts md5 graph with the deterministic vertex%10
    // labeling; labels derive from edge ENDPOINTS, so every canonical
    // edge is labeled and the labeled subgraph is the whole graph
    "q_modularity" ->
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |deg AS (SELECT v % 10 AS community, count(*) AS degree_sum
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) x
        |  GROUP BY 1),
        |intra AS (SELECT a % 10 AS community, count(*) AS n_intra
        |  FROM e WHERE a % 10 = b % 10 GROUP BY 1)
        |SELECT deg.community,
        |  CAST(coalesce(intra.n_intra, 0) AS BIGINT) AS n_intra_edges,
        |  CAST(deg.degree_sum AS BIGINT) AS degree_sum
        |FROM deg LEFT JOIN intra ON deg.community = intra.community"""
        .stripMargin,

    // folded integer fraction: q_num = 4m·Σe_c − Σd_c², q_den = 4m²
    // (values far under BIGINT at the 97-vertex fixture; the Spark side
    // DECIMAL-guards real scales)
    "q_modularity_score" ->
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |m AS (SELECT count(*) AS m FROM e),
        |deg AS (SELECT v % 10 AS community, count(*) AS ds
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) x
        |  GROUP BY 1),
        |si AS (SELECT count(*) AS si FROM e WHERE a % 10 = b % 10),
        |sd AS (SELECT CAST(sum(ds * ds) AS BIGINT) AS sd2 FROM deg)
        |SELECT CAST(m.m AS BIGINT) AS m, CAST(si.si AS BIGINT) AS sum_intra,
        |  CAST(4 * m.m * si.si - sd.sd2 AS BIGINT) AS q_num,
        |  CAST(4 * m.m * m.m AS BIGINT) AS q_den
        |FROM m, si, sd""".stripMargin,

    // decode ∘ encode == single-space-split normalization — one oracle
    // certifies char-BPE and byte-BPE losslessness end-to-end (the
    // byte path additionally round-trips the GPT-2 byte table + UTF-8)
    "q_bpe_roundtrip" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split(text, ' '), w -> w <> ''), ' '), '')
        |    AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "q_byte_bpe_roundtrip" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split(text, ' '), w -> w <> ''), ' '), '')
        |    AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "q_unigram_roundtrip" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split(text, ' '), w -> w <> ''), ' '), '')
        |    AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // WordPiece lowercases and pre-tokenizes on \s+; no [UNK] with the
    // corpus-derived vocab, so the round trip is exact on this form
    "q_wordpiece_roundtrip" ->
      """SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w <> ''), ' '), '') AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // exact integer TVD fraction; `gl` not `glob` (DuckDB keyword);
    // null-safe joins because a null sensitive/quasi value is a value
    "q_t_closeness" ->
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
        |WHERE (pnum + (N - gpres) * cs) * 20 > 1 * (2 * cs * N)""".stripMargin,

    // same tokenization as the LM oracles; ranking on the ROUNDED score
    "q_pmi_collocations" ->
      """WITH toks AS (SELECT w[i] AS term,
        |    CASE WHEN i > 1 THEN w[i-1] END AS prev
        |  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |pc AS (SELECT prev, term, count(*) AS n FROM toks GROUP BY 1, 2),
        |uni AS (SELECT term, CAST(sum(n) AS BIGINT) AS nt
        |        FROM pc GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS T FROM pc
        |        WHERE prev IS NOT NULL),
        |bi AS (SELECT prev, term, n FROM pc
        |       WHERE prev IS NOT NULL AND n >= 5)
        |SELECT bi.prev, bi.term, bi.n AS n_pair,
        |  round(ln((CAST(bi.n AS DOUBLE) * T) /
        |      (CAST(up.nt AS DOUBLE) * CAST(ut.nt AS DOUBLE)))
        |    / 0.6931471805599453, 6) AS pmi
        |FROM bi JOIN uni up ON bi.prev = up.term
        |JOIN uni ut ON bi.term = ut.term
        |CROSS JOIN tot
        |ORDER BY pmi DESC, bi.prev, bi.term LIMIT 40""".stripMargin,

    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text, source FROM documents
        |           WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
        |      AS text,
        |    CASE WHEN doc_id % 13 = 0 THEN 'mirror' ELSE source END
        |      AS source
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT * FROM (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN NOT (o.text IS NOT DISTINCT FROM n.text)
        |           OR NOT (o.source IS NOT DISTINCT FROM n.source)
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |           AND (NOT (o.text IS NOT DISTINCT FROM n.text)
        |             OR NOT (o.source IS NOT DISTINCT FROM n.source))
        |      THEN ltrim(
        |        (CASE WHEN NOT (o.text IS NOT DISTINCT FROM n.text)
        |          THEN ',text' ELSE '' END) ||
        |        (CASE WHEN NOT (o.source IS NOT DISTINCT FROM n.source)
        |          THEN ',source' ELSE '' END), ',')
        |      ELSE '' END AS changed_cols
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) d
        |WHERE status <> 'unchanged'""".stripMargin,

    // the oracle replays the EXACT sign literals and left-associated
    // double sum the Spark expression evaluates (signs from rpSign)
    "q_random_project" -> rpOracleSql(inDim = 64, outDim = 8, seed = "rp"),

    // direct a<b<c triangle enumeration (the oracle needs no degree
    // orientation; the triangle SET is orientation-invariant)
    "q_triangle_counts" ->
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT vertex, count(*) AS n_triangles
        |FROM (SELECT unnest([u, v, w]) AS vertex FROM tri) x
        |GROUP BY 1""".stripMargin,

    // same tokenization as the vocab/LM oracles; same md5 hash lattice
    // as the sampling oracles
    "q_hash_features" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5(w[i]), 1, 8)) AS BIGINT) % 64
        |    AS INTEGER) AS bucket,
        |  count(*) AS n
        |FROM (SELECT doc_id,
        |        string_split_regex(lower(trim(text)), '\s+') AS w
        |      FROM documents WHERE doc_id < 500) t,
        |LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |WHERE w[i] <> ''
        |GROUP BY 1, 2""".stripMargin,

    "q_calibration_bins" ->
      """SELECT least(9, greatest(0,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      CAST(n_chars AS DOUBLE) / CAST(5000 AS DOUBLE)) * 10)
        |    AS INTEGER))) AS bin,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // doubled Mann-Whitney integers; prefix window over the score
    // lattice exactly as the Spark side
    "q_auc_exact" ->
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
        |FROM t""".stripMargin,

    // same md5-random graph as q_triangle_counts; integer division (//)
    // mirrors the Spark shiftright
    "q_clustering_coeff" ->
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |deg AS (SELECT v, count(*) AS degree FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) x
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT vertex, count(*) AS n_triangles
        |  FROM (SELECT unnest([u, v, w]) AS vertex FROM tri) x
        |  GROUP BY 1)
        |SELECT deg.v AS vertex, deg.degree,
        |  coalesce(tc.n_triangles, 0) AS n_triangles,
        |  CAST((deg.degree * (deg.degree - 1)) // 2 AS BIGINT) AS n_wedges
        |FROM deg LEFT JOIN tc ON tc.vertex = deg.v""".stripMargin,

    // the ranked CTE IS the full q_bm25_topk oracle (nested WITH), so
    // the metric is certified through the ranking it evaluates
    "q_retrieval_metrics" -> retrievalMetricsOracleSql,

    // ---- round 8 -----------------------------------------------------

    // staged-form identities: degenerate/exhaustive parameters make each
    // approximate path equal its exact sibling BY CONSTRUCTION, so the
    // production code path rides the sibling's exact oracle verbatim
    // (the q_ivfpq_topk recipe — see each query's comment)
    "q_ann_topk" -> baseOracleSql("q_sim_topk"),
    "q_ann_ivf" -> baseOracleSql("q_sim_topk"),
    // append-maintenance staged forms: probe-after-append over the full
    // (base ∪ delta = whole corpus) must equal brute force
    "q_ann_ivf_append" -> baseOracleSql("q_sim_topk"),
    // the split probe's per-side top-k merge must reproduce the same
    // global exact top-k (staged exhaustive on both sides)
    "q_ann_ivf_split" -> baseOracleSql("q_sim_topk"),
    // compaction: probing the committed generation through the WithDelta
    // reader (folded delta tree still on disk — the crash window) must
    // equal brute force over the full corpus; a double-counted partition
    // would occupy duplicate ranks
    "q_ann_ivf_compact" -> baseOracleSql("q_sim_topk"),
    // the byte-code tier's compaction: staged exhaustive probe through
    // the crash window (folded PQ delta partition still on disk) with
    // the exact re-rank tail — brute force's oracle again
    "q_ivfpq_compact" -> baseOracleSql("q_sim_topk"),
    "q_ivfpq_append" -> baseOracleSql("q_sim_topk"),
    "q_nsw_topk" -> baseOracleSql("q_sim_topk"),
    // write -> read -> staged search over the reloaded on-disk graph
    "q_nsw_topk_persisted" -> baseOracleSql("q_sim_topk"),

    // staged nswAppend: the appended edge set is exact brute-force top-8
    // per batch vector (entries = corpus, exhaustive ef) plus its mirror
    "q_nsw_append" ->
      """WITH b AS (
        |  SELECT vec_id + 1000000 AS bid, embedding FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |scored AS (
        |  SELECT b.bid, e.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM b, embeddings e),
        |nn AS MATERIALIZED (
        |  SELECT bid, vec_id FROM (
        |    SELECT bid, vec_id, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, vec_id) AS rn FROM scored)
        |  WHERE rn <= 8)
        |SELECT bid AS src, vec_id AS dst FROM nn
        |UNION
        |SELECT vec_id AS src, bid AS dst FROM nn""".stripMargin,

    // the graph drift report over the STAGED insertion search: found =
    // exact brute-force top-8 per batch vector (q_nsw_append's nn CTE on
    // the offset-5 sample), n_new_edges = the deduped forward ∪ mirror
    // count, n_index_edges = the ring's size (one edge per sampled id),
    // reach/growth as HUGEINT floor-divisions, then the rebuild decision
    "q_nsw_drift" ->
      """WITH b AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS bid, embedding FROM embeddings
        |  WHERE vec_id % 10 = 5),
        |scored AS (
        |  SELECT b.bid, e.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM b, embeddings e),
        |nn AS MATERIALIZED (
        |  SELECT bid, vec_id FROM (
        |    SELECT bid, vec_id, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, vec_id) AS rn FROM scored)
        |  WHERE rn <= 8),
        |edges AS (
        |  SELECT bid AS src, vec_id AS dst FROM nn
        |  UNION
        |  SELECT vec_id AS src, bid AS dst FROM nn),
        |cnt AS (SELECT
        |    (SELECT count(*) FROM b) AS n_batch,
        |    (SELECT count(DISTINCT bid) FROM nn) AS n_reached,
        |    (SELECT count(*) FROM edges) AS n_new_edges,
        |    (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)
        |      AS n_index_edges),
        |u6 AS (SELECT n_batch, n_reached, n_new_edges, n_index_edges,
        |    CASE WHEN n_batch > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT) * n_reached)
        |        // CAST(n_batch AS HUGEINT) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS reach_u6,
        |    CASE WHEN n_index_edges + n_new_edges > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT) * n_new_edges)
        |        // (CAST(n_index_edges AS HUGEINT) + n_new_edges)
        |        AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS growth_u6
        |  FROM cnt)
        |SELECT n_batch, n_reached, n_new_edges, n_index_edges,
        |  n_index_edges AS n_built_edges, reach_u6, growth_u6,
        |  (n_batch > 0 AND reach_u6 < 990000) OR growth_u6 >= 250000
        |    AS degrade
        |FROM u6""".stripMargin,

    // literal-model seam: the 16 formula centroids rebuild verbatim in
    // SQL (integer-valued floats), so nearest-cell routing replays as
    // argmax cosine with the smallest-center tiebreak
    "q_ivf_assign" ->
      """WITH b AS (
        |  SELECT vec_id + 1000000 AS bid, embedding FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |cents AS (
        |  SELECT CAST(j AS INTEGER) AS center_id,
        |    [CAST(((1 + i * (j + 1)) % 67) - 33 AS DOUBLE)
        |     FOR i IN range(1, 65)] AS c
        |  FROM range(0, 16) t(j)),
        |scored AS (
        |  SELECT b.bid, cents.center_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      cents.c) AS cos
        |  FROM b, cents),
        |best AS (
        |  SELECT bid, center_id FROM (
        |    SELECT bid, center_id, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, center_id) AS rn FROM scored)
        |  WHERE rn = 1)
        |SELECT center_id, count(*) AS appended
        |FROM best GROUP BY center_id""".stripMargin,

    // the drift report over the same literal-model routing: two cell
    // histograms (index sample / batch sample), then the report-level
    // total-variation distance as ONE HUGEINT floor-division and the
    // integer threshold compare — the retrain decision replayed exactly
    "q_ivf_drift" ->
      """WITH cents AS (
        |  SELECT CAST(j AS INTEGER) AS center_id,
        |    [CAST(((1 + i * (j + 1)) % 67) - 33 AS DOUBLE)
        |     FOR i IN range(1, 65)] AS c
        |  FROM range(0, 16) t(j)),
        |ih AS (SELECT center_id, count(*) AS n_index FROM (
        |    SELECT e.vec_id, cents.center_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(
        |          CAST(e.embedding AS DOUBLE[]), cents.c) DESC,
        |          cents.center_id) AS rn
        |    FROM embeddings e, cents WHERE e.vec_id % 10 = 0)
        |  WHERE rn = 1 GROUP BY center_id),
        |bh AS (SELECT center_id, count(*) AS n_batch FROM (
        |    SELECT e.vec_id, cents.center_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(
        |          CAST(e.embedding AS DOUBLE[]), cents.c) DESC,
        |          cents.center_id) AS rn
        |    FROM embeddings e, cents WHERE e.vec_id % 10 = 5)
        |  WHERE rn = 1 GROUP BY center_id),
        |hist AS MATERIALIZED (SELECT cents.center_id,
        |    coalesce(ih.n_index, 0) AS n_index,
        |    coalesce(bh.n_batch, 0) AS n_batch
        |  FROM cents LEFT JOIN ih USING (center_id)
        |             LEFT JOIN bh USING (center_id)),
        |tot AS (SELECT CAST(sum(n_index) AS HUGEINT) AS ni,
        |    CAST(sum(n_batch) AS HUGEINT) AS nb FROM hist),
        |tv AS (SELECT CASE WHEN ni > 0 AND nb > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT)
        |        * sum(abs(CAST(n_batch AS HUGEINT) * ni
        |                - CAST(n_index AS HUGEINT) * nb)))
        |        // (CAST(2 AS HUGEINT) * ni * nb) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS tv_u6
        |  FROM hist, tot GROUP BY ni, nb)
        |SELECT h.center_id, CAST(h.n_index AS BIGINT) AS n_index,
        |  CAST(h.n_batch AS BIGINT) AS n_batch, tv.tv_u6,
        |  tv.tv_u6 >= 250000 AS retrain
        |FROM hist h, tv""".stripMargin,
    "q_knn_classify_ann" -> baseOracleSql("q_knn_classify"),
    "q_emb_near_pairs_lsh" -> baseOracleSql("q_emb_near_pairs"),

    // all cells probed (nProbe = nCenters), candidates ranked on the
    // QUANTIZED cosine: codes/min/scale replayed exactly as in
    // q_quantize_int8, dequantized through the same double→float cast,
    // ranked by the same dot/(sqrt·sqrt)-free list_cosine_similarity
    // formula the CosineSim kernel uses (dot / sqrt(na·nb))
    "q_ann_ivf_quant" -> quantProbeOracleSql,
    // the quantized SPLIT probe merges per-side top-k over the SAME
    // per-vector quantization (codes/min/scale are side-independent),
    // so staged exhaustive it equals the global quantized top-k —
    // q_ann_ivf_quant's oracle verbatim
    "q_ann_ivfq_split" -> quantProbeOracleSql,

    // the m = 1 staged ADC replica: data-row codebooks (16 lowest-id
    // vectors), argmin-L2 code per vector (q_pq_encode's argmin, full
    // 64-dim slices), then the ADC cosine EXACTLY as pqProbe computes it
    // — ip / (sqrt(‖c‖²)·sqrt(‖q‖²)), NOT list_cosine_similarity's
    // ip / sqrt(‖c‖²·‖q‖²) (different rounding); sum order is a single
    // dot product on both sides, so the doubles are bit-equal
    "q_pq_probe" ->
      """WITH cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INTEGER) AS code, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |d AS (SELECT e.vec_id, cb.code,
        |    list_distance(CAST(e.embedding AS DOUBLE[]), cb.cv) AS dist
        |  FROM embeddings e CROSS JOIN cb),
        |enc AS (SELECT vec_id, code FROM (
        |    SELECT vec_id, code, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, code) AS rn FROM d) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, enc.vec_id,
        |    CASE WHEN list_inner_product(cb.cv, cb.cv) > 0
        |           AND list_inner_product(q.qv, q.qv) > 0
        |      THEN list_inner_product(q.qv, cb.cv)
        |        / (sqrt(list_inner_product(cb.cv, cb.cv))
        |           * sqrt(list_inner_product(q.qv, q.qv)))
        |      ELSE 0.0 END AS cos
        |  FROM q CROSS JOIN enc JOIN cb USING (code)
        |  WHERE q.query_id <> enc.vec_id)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin,

    // renderDialogs' template replayed as a string expression, then the
    // q_decontaminate shape over the rendered text — distinct word
    // 3-grams hashed with the op's md5-32 seam on both sides, so the
    // gram sets are construction-identical (no collision caveat)
    "q_decontaminate_dialogs" ->
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
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // q_dedup_minhash's staged pair set + the q_dedup_clusters
    // min-label recursive closure, over the sample universe; shingles
    // dedup by the SAME md5-32 hash the op's seam computes, so the sets
    // are construction-identical (no collision caveat)
    "q_dedup_minhash_clusters" ->
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
        |GROUP BY d.doc_id""".stripMargin,

    // the minhashLsh staged form: one global bucket admits every sample
    // pair, exact-jaccard verify == all-pairs Jaccard over md5-32
    // shingle hash sets (the op's seam hash, recomputed here — sets are
    // identical by construction), threshold 0.25 as 4·inter >= |A|+|B|−inter
    "q_dedup_minhash" ->
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
        |  ON a.doc_id < b.doc_id""".stripMargin,

    // the staged index+probe form: one global bucket admits every
    // (batch, corpus) pair, exact-jaccard verify == cross-axis Jaccard
    // over md5-32 shingle hash sets (the op's seam hash — identical sets
    // by construction); threshold 0.5 as the integer cross-multiply
    // (2·inter >= union, exactly the double predicate for any real
    // corpus size), jaccard_u6 replayed divide-then-scale like the op
    "q_dedup_minhash_incr" ->
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
        |      WHERE doc_id < 250 AND len(text) < 5) c""".stripMargin,

    // the staged auditSplitLeakage form: exact all-pairs Jaccard >= 0.8
    // (5·inter >= 4·union — exactly the double predicate) over the
    // sampled+planted corpus with md5-32 shingle hash sets (the op's
    // seam hash — identical sets by construction), then the md5-4-hex
    // split lattice and the boundary filter — the full audit composition
    // replayed
    "q_split_leakage" ->
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
        |WHERE la.split <> lb.split""".stripMargin,

    // the q_decontaminate direct-hit shape + the planted chain pairs +
    // the q_dedup_clusters recursive min-label closure: contamination
    // closure is a pure integer function of its three inputs, so the
    // whole transitive flag set replays in SQL (same murmur-vs-string
    // shingle caveat as q_dedup_clusters)
    "q_contamination_closure" ->
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
        |LEFT JOIN direct dr USING (doc_id)""".stripMargin,

    // greedy MMR unrolled to k selection levels (engine-exact doubles:
    // list_inner_product == the op's sequential cosine loop)
    "q_mmr_rerank" -> mmrOracleSql(k = 5),

    // the staged SemDeDup form: one cell == all-pairs cosine on the
    // sample; dropped = some smaller id within cosine >= 0.3
    "q_dedup_semantic" ->
      """WITH s AS MATERIALIZED (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 8 = 0),
        |drops AS (SELECT DISTINCT b.vec_id
        |  FROM s a JOIN s b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= CAST(0.3 AS DOUBLE))
        |SELECT s.vec_id, CAST(0 AS INTEGER) AS center_id,
        |  d.vec_id IS NULL AS is_kept
        |FROM s LEFT JOIN drops d ON d.vec_id = s.vec_id""".stripMargin,

    // fixed-point Bradley-Terry MM (the scale = 1e6 seam): 20 integer
    // rounds over the win-matrix lattice, unrolled
    "q_bradley_terry" -> bradleyTerryOracleSql(iters = 20),

    // LCS as a recursive antidiagonal DP: each iteration materializes
    // one diagonal per pair from the previous two (the fresh rows are
    // diag d, the age-1 carries diag d-1), replaying lcsTokens' DP
    // cell-for-cell — integer-only, so ROUGE-L rides an exact oracle.
    // The [1:2048] slice mirrors the kernel's MaxLcsTokens cap (inert
    // on this corpus). DuckDB 1.0 permits multiple recursive refs and
    // keeps only the last iteration's rows in the working set, which
    // is exactly the two-diagonal window the DP needs.
    "q_rouge_l" ->
      """WITH RECURSIVE
        |p AS MATERIALIZED (SELECT a.doc_id AS pair_id, a.text AS text_a,
        |    b.text AS text_b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
        |  WHERE a.doc_id < 250),
        |-- n = CAPPED length (bounds the DP like MaxLcsTokens);
        |-- nf = UNCAPPED token count (rougeLCounts' n_a/n_b output has
        |-- no cap — only the LCS itself is capped)
        |ta AS MATERIALIZED (SELECT pair_id, i, w[i] AS tok, len(w) AS n,
        |    nf
        |  FROM (SELECT pair_id, w0[1:2048] AS w, len(w0) AS nf
        |    FROM (SELECT pair_id, list_filter(string_split_regex(
        |        lower(trim(text_a)), '\s+'), t -> t <> '') AS w0
        |      FROM p) x0) x,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g),
        |tb AS MATERIALIZED (SELECT pair_id, i, w[i] AS tok, len(w) AS n,
        |    nf
        |  FROM (SELECT pair_id, w0[1:2048] AS w, len(w0) AS nf
        |    FROM (SELECT pair_id, list_filter(string_split_regex(
        |        lower(trim(text_b)), '\s+'), t -> t <> '') AS w0
        |      FROM p) x0) x,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g),
        |lens AS MATERIALIZED (SELECT p.pair_id,
        |    coalesce(max(ta.n), 0) AS na, coalesce(max(tb.n), 0) AS nb,
        |    coalesce(max(ta.nf), 0) AS naf, coalesce(max(tb.nf), 0) AS nbf
        |  FROM p LEFT JOIN ta ON ta.pair_id = p.pair_id
        |         LEFT JOIN tb ON tb.pair_id = p.pair_id
        |  GROUP BY 1),
        |work(pair_id, d, i, v, age) AS (
        |  SELECT pair_id, 0, 0, 0, 0 FROM lens
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT c.pair_id, c.d, c.i,
        |      CASE WHEN c.i = 0 OR c.j = 0 THEN 0
        |           WHEN xa.tok = xb.tok THEN coalesce(d2.v, 0) + 1
        |           ELSE greatest(coalesce(up.v, 0), coalesce(lf.v, 0))
        |      END AS v,
        |      0 AS age
        |    FROM (
        |      SELECT DISTINCT w.pair_id, w.d + 1 AS d, w.i + s.s AS i,
        |        w.d + 1 - (w.i + s.s) AS j
        |      FROM work w JOIN lens l ON l.pair_id = w.pair_id
        |      CROSS JOIN (SELECT unnest([0, 1]) AS s) s
        |      WHERE w.age = 0 AND w.i + s.s <= l.na
        |        AND w.d + 1 - (w.i + s.s) >= 0
        |        AND w.d + 1 - (w.i + s.s) <= l.nb
        |    ) c
        |    LEFT JOIN work up ON up.age = 0 AND up.pair_id = c.pair_id
        |      AND up.i = c.i
        |    LEFT JOIN work lf ON lf.age = 0 AND lf.pair_id = c.pair_id
        |      AND lf.i = c.i - 1
        |    LEFT JOIN work d2 ON d2.age = 1 AND d2.pair_id = c.pair_id
        |      AND d2.i = c.i - 1
        |    LEFT JOIN ta xa ON xa.pair_id = c.pair_id AND xa.i = c.i
        |    LEFT JOIN tb xb ON xb.pair_id = c.pair_id AND xb.i = c.j
        |    UNION ALL
        |    SELECT pair_id, d, i, v, 1 FROM work WHERE age = 0
        |  )
        |)
        |SELECT l.pair_id, CAST(coalesce(w.v, 0) AS BIGINT) AS lcs_len,
        |  CAST(l.naf AS BIGINT) AS n_a, CAST(l.nbf AS BIGINT) AS n_b
        |FROM lens l LEFT JOIN work w ON w.pair_id = l.pair_id
        |  AND w.age = 0 AND w.d = l.na + l.nb AND w.i = l.na
        |  AND l.na > 0 AND l.nb > 0""".stripMargin,

    // the WHOLE curation pipeline's per-stage row report, replayed
    // stage by stage via curateChainSql: langId argmax, the repetition
    // gate's verbatim double compare, fingerprint-NORMALIZED exact
    // dedup groups, all-pairs Jaccard (incl. the kernel's empty-shingle
    // 1.0 pairs) + recursive min-label CC, the decontaminate anti-join,
    // then scrub + ceil-div chunk counts (split+pack preserves rows)
    "q_curate_pipeline" ->
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
        |UNION ALL SELECT 'split+pack', (SELECT n FROM chunkn)""".stripMargin,

    // the INCREMENTAL pipeline's day-2 report: day 1's admissions via
    // curateChainSql (gates over ids < 300 serve both days — gate
    // outcomes depend only on text), then each day-2 stage —
    // batch-min-id exact dedup anti-joined on day-1 admitted NORMALIZED
    // texts (the fingerprint key), within-batch CC plus cross-day
    // Jaccard rejection (incl. empty-shingle 1.0 pairs on both axes),
    // decontaminate, and scrub+chunk
    "q_curate_batch" ->
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
        |UNION ALL SELECT 'split+pack', (SELECT n FROM chn)""".stripMargin,

    // the per-day data card: day-1 admissions via curateChainSql
    // (ids < 150), source/lang joined back, corpusReport integers
    "q_curate_batch_card" ->
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
        |GROUP BY source, lang""".stripMargin,

    // annotate's discrete columns: langId argmax (first profile in
    // order with the max positive stopword count), whitespace token
    // count, BPE-ish piece sum (RE2 and java.util.regex share
    // leftmost-first alternation), and the rolling-hash fingerprint as
    // a recursive Horner — h_i = (h_{i-1}*257 + code) mod 2^61-1 over
    // the lowercased, whitespace-collapsed, leading-space-stripped text
    "q_text_annotate" ->
      s"""WITH RECURSIVE
        |${langProfilesSql(withOrd = true)},
        |ltoks AS (SELECT doc_id, w[i] AS tok FROM (
        |    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |    FROM documents) x,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g),
        |sc0 AS (SELECT l.doc_id, p.ord, p.lang, count(*) AS s
        |  FROM ltoks l JOIN prof p ON p.tok = l.tok GROUP BY 1, 2, 3),
        |lp AS MATERIALIZED (SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY s DESC, ord) AS rn
        |    FROM sc0 WHERE s > 0) z WHERE rn = 1),
        |bpe AS (SELECT doc_id,
        |    CAST(coalesce((SELECT sum(1 + (length(p) - 1) // 4)
        |      FROM unnest(regexp_extract_all(text,
        |        '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]')) u(p)), 0)
        |      AS INTEGER) AS n_bpeish
        |  FROM documents),
        |norm AS MATERIALIZED (SELECT doc_id,
        |    ltrim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |fp(doc_id, i, h) AS (
        |  SELECT doc_id, 0, CAST(0 AS HUGEINT) FROM norm
        |  UNION ALL
        |  SELECT f.doc_id, f.i + 1,
        |    (f.h * 257 + unicode(substr(n.t, f.i + 1, 1)))
        |      % 2305843009213693951
        |  FROM fp f JOIN norm n ON n.doc_id = f.doc_id
        |  WHERE f.i < len(n.t))
        |SELECT d.doc_id, coalesce(lp.lang, 'und') AS lang_pred,
        |  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS INTEGER)
        |    AS n_tokens_ws,
        |  b.n_bpeish AS n_tokens_bpeish,
        |  CAST(f.h AS BIGINT) AS fingerprint
        |FROM documents d
        |LEFT JOIN lp ON lp.doc_id = d.doc_id
        |JOIN bpe b ON b.doc_id = d.doc_id
        |JOIN norm n ON n.doc_id = d.doc_id
        |JOIN fp f ON f.doc_id = d.doc_id AND f.i = len(n.t)""".stripMargin,

    // windowFunnel's greedy recurrence as chained running-max layers:
    // r0 = running max of view timestamps, c1/c2 = window-valid
    // previous-level anchors at click/purchase rows, a_s = per-user max
    // candidate; depth = deepest non-null level, anchor = its value.
    // The (tus, s) ROWS order makes equal-timestamp events chain in
    // step order exactly like the op's sort
    "q_funnel_sliding" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS u,
        |    epoch_ns(ts) // 1000 AS tus,
        |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |      ELSE 2 END AS s
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |l0 AS (SELECT u, tus, s,
        |    max(CASE WHEN s = 0 THEN tus END) OVER (PARTITION BY u
        |      ORDER BY tus, s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r0
        |  FROM e),
        |l1 AS (SELECT u, tus, s, c1,
        |    max(c1) OVER (PARTITION BY u ORDER BY tus, s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
        |  FROM (SELECT *, CASE WHEN s = 1 AND r0 IS NOT NULL
        |      AND tus - r0 <= 86400000000 THEN r0 END AS c1 FROM l0) x),
        |l2 AS (SELECT u, tus, s, c1,
        |    CASE WHEN s = 2 AND r1 IS NOT NULL
        |      AND tus - r1 <= 86400000000 THEN r1 END AS c2
        |  FROM l1),
        |agg AS (SELECT u,
        |    max(CASE WHEN s = 0 THEN tus END) AS a0,
        |    max(c1) AS a1, max(c2) AS a2
        |  FROM l2 GROUP BY 1)
        |SELECT u AS user_id,
        |  CAST(CASE WHEN a2 IS NOT NULL THEN 3
        |    WHEN a1 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS stage,
        |  coalesce(a2, a1, a0) AS anchor_us
        |FROM agg WHERE a0 IS NOT NULL""".stripMargin,

    // fixed-point PageRank family (the GraphOps scale = 1e6 seam):
    // integer rounds unroll to CTE levels bit-for-bit
    "q_author_rank" -> authorRankOracleSql,
    "q_author_rank_weighted" -> authorRankWeightedOracleSql,
    "q_ppr" -> pprOracleSql,
    "q_textrank" -> textrankOracleSql,

    // synchronous min-tie-break LPA is pure integer arithmetic (labels
    // are vertex ids, votes are counts), so the 10 rounds unroll to 10
    // CTE levels; rounds past the op's early exit re-apply a fixpoint
    // and change nothing, so round counts need not agree
    "q_label_propagation" -> lpaOracleSql(rounds = 10),

    // k-core peeling is integer degree-filtering to a fixpoint; the
    // unrolled levels overshoot the op's data-dependent round count and
    // idle on the converged core. KcoreOracleRounds = 24 vs <= 5
    // observed peel rounds at every driver SF; if a future SF ever
    // needed more, the end-to-end DuckDB compare would fail loudly
    // (an unconverged oracle core differs from the op's fixpoint)
    // rather than silently pass.
    "q_k_core" -> kCoreOracleSql(k = 5, rounds = KcoreOracleRounds),

    // exhaustive overfetch → every vector survives ADC nomination →
    // exact re-rank IS brute force (same shape as q_sim_topk at k = 10)
    "q_pq_probe_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e WHERE q.query_id <> e.vec_id)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin)

  /** The q_triangle_counts / q_clustering_coeff edge CTE — the DuckDB
    * twin of [[mdGraph]] (same md5 lattice, same 97-vertex space).
    */
  private def mdGraphSql: String =
    "raw AS (SELECT " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT) % 97 AS s, " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':t'), 1, 8)) " +
      "AS BIGINT) % 97 AS t FROM documents)"

  /** q_k_core oracle depth: far above the observed peel rounds (≤ 5 at
    * every SF on the 97-vertex md5 graph); extra rounds idle on the
    * converged core, so overshoot is free correctness margin.
    */
  private val KcoreOracleRounds = 24

  /** The langId stopword-profile VALUES lattice (CorpusKernels.profiles
    * verbatim), shared by the curate and annotate oracles; `withOrd`
    * prefixes the profile order index the argmax tie-break needs.
    */
  private def langProfilesSql(withOrd: Boolean): String = {
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

  /** Unrolled FIXED-POINT PageRank rounds (the GraphOps scale seam,
    * S = 1e6): expects prologue CTEs `edges(src, dst, w)` (symmetrized,
    * duplicates preserved), `deg(src, wdeg)` and `verts(v)`; emits
    * r0..rN replaying powerIterate's integer recurrence verbatim —
    * per-edge (rank·w) // wdeg, damp as (85·Σ) // 100, reset re-added
    * each round. `resetSql` is the per-vertex scaled reset expression
    * over `verts.v` (e.g. "150000" for the uniform 0.15·1e6).
    */
  private def fpRankRoundsSql(rounds: Int, resetSql: String): String = {
    // each round is referenced once by the next, but MATERIALIZED keeps
    // DuckDB 1.0 from inlining the whole chain (and edges/deg/verts,
    // referenced every round, must be materialized in the prologue)
    val r0 = s"r0 AS MATERIALIZED (SELECT verts.v AS v,\n" +
      s"  CAST($resetSql AS HUGEINT) AS rnk FROM verts)"
    val steps = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT verts.v AS v,
         |    CAST($resetSql AS HUGEINT)
         |      + (85 * coalesce(c.s, 0)) // 100 AS rnk
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, sum((pr.rnk * e.w) // d.wdeg) AS s
         |    FROM edges e JOIN deg d ON d.src = e.src
         |      JOIN r${i - 1} pr ON pr.v = e.src
         |    GROUP BY 1) c ON c.v = verts.v)""".stripMargin
    }
    (r0 +: steps).mkString(",\n")
  }

  /** q_author_rank / q_author_rank_weighted oracles: replay the star (or
    * capped-pair) co-supplier edge construction over VARCHAR keys (the
    * op compares uuids as STRINGS — min/inequality must be lexicographic
    * here too), then the unrolled fixed-point rounds.
    */
  private def authorRankOracleSql: String =
    s"""WITH mem AS (SELECT CAST(l_orderkey AS VARCHAR) AS o,
       |    CAST(l_suppkey AS VARCHAR) AS m
       |  FROM lineitem WHERE l_orderkey <= 1000),
       |hub AS (SELECT o, min(m) AS h FROM mem GROUP BY 1),
       |star AS (SELECT DISTINCT h AS src, m AS dst
       |  FROM mem JOIN hub USING (o) WHERE m <> h),
       |edges AS MATERIALIZED (SELECT src, dst, 1 AS w FROM star
       |  UNION ALL SELECT dst, src, 1 FROM star),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT m AS v FROM mem),
       |${fpRankRoundsSql(8, "150000")}
       |SELECT CAST(v AS BIGINT) AS supp_key,
       |  CAST(rnk AS BIGINT) AS rank_fp6 FROM r8""".stripMargin

  private def authorRankWeightedOracleSql: String =
    s"""WITH mem AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS o,
       |    CAST(l_suppkey AS VARCHAR) AS m
       |  FROM lineitem WHERE l_orderkey <= 1000),
       |sizes AS (SELECT o, count(*) AS k FROM mem GROUP BY 1),
       |small AS (SELECT mem.o, mem.m FROM mem JOIN sizes USING (o)
       |          WHERE k <= 100),
       |prs AS (SELECT a.m AS ma, b.m AS mb, count(*) AS w
       |  FROM small a JOIN small b ON a.o = b.o AND a.m < b.m
       |  GROUP BY 1, 2),
       |big AS (SELECT mem.o, mem.m FROM mem JOIN sizes USING (o)
       |        WHERE k > 100),
       |bighub AS (SELECT o, min(m) AS h FROM big GROUP BY 1),
       |bigstar AS (SELECT DISTINCT h AS ma, m AS mb
       |  FROM big JOIN bighub USING (o) WHERE m <> h),
       |half AS (SELECT ma, mb, w FROM prs
       |  UNION ALL SELECT ma, mb, 1 AS w FROM bigstar),
       |edges AS MATERIALIZED (SELECT ma AS src, mb AS dst, w FROM half
       |  UNION ALL SELECT mb, ma, w FROM half),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT m AS v FROM mem),
       |${fpRankRoundsSql(8, "150000")}
       |SELECT CAST(v AS BIGINT) AS supp_key,
       |  CAST(rnk AS BIGINT) AS rank_fp6 FROM r8""".stripMargin

  /** q_ppr oracle: the md5-random edge list with DUPLICATES preserved
    * (rankUndirected never dedups — each parallel edge carries weight),
    * teleport mass 0.15·1e6 on {0,1,2} only, 20 unrolled rounds.
    */
  private def pprOracleSql: String =
    s"""WITH $mdGraphSql,
       |e0 AS (SELECT s AS a, t AS b FROM raw WHERE s <> t),
       |edges AS MATERIALIZED (SELECT a AS src, b AS dst, 1 AS w FROM e0
       |  UNION ALL SELECT b, a, 1 FROM e0),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0
       |  UNION ALL SELECT unnest([0, 1, 2])) x),
       |${fpRankRoundsSql(20,
          "CASE WHEN verts.v IN (0, 1, 2) THEN 150000 ELSE 0 END")}
       |SELECT CAST(v AS BIGINT) AS vertex,
       |  CAST(rnk AS BIGINT) AS rank_fp6 FROM r20""".stripMargin

  /** q_textrank oracle: the pmi-collocation tokenization builds the
    * co-occurrence graph (prev <> term, count >= 2), 20 unrolled
    * fixed-point rounds, top-20 on (textrank DESC, term).
    */
  private def textrankOracleSql: String =
    s"""WITH toks AS (SELECT w[i] AS term,
       |    CASE WHEN i > 1 THEN w[i-1] END AS prev
       |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
       |        FROM documents) t,
       |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
       |  WHERE w[i] <> ''),
       |pc AS (SELECT prev, term, count(*) AS w FROM toks
       |  WHERE prev IS NOT NULL AND prev <> term GROUP BY 1, 2
       |  HAVING count(*) >= 2),
       |edges AS MATERIALIZED (SELECT prev AS src, term AS dst, w FROM pc
       |  UNION ALL SELECT term, prev, w FROM pc),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT prev AS v FROM pc UNION ALL SELECT term FROM pc) x),
       |${fpRankRoundsSql(20, "150000")}
       |SELECT CAST(v AS VARCHAR) AS term,
       |  CAST(rnk AS BIGINT) AS textrank FROM r20
       |ORDER BY textrank DESC, term LIMIT 20""".stripMargin

  /** Unrolled synchronous label propagation over [[mdGraphSql]] — one CTE
    * level per round, each replaying labelPropagation's integer recipe
    * exactly: neighbor votes + one self-vote, count, argmax with
    * (count DESC, community ASC) tie-break. Rounds at-or-past the op's
    * early-exit fixpoint are identity, so any `rounds` >= the op's
    * maxIter-capped round count replays the result bit-for-bit.
    */
  private def lpaOracleSql(rounds: Int): String = {
    // AS MATERIALIZED: DuckDB 1.0 inlines CTEs by default, and each
    // round references the previous label table twice — inlining would
    // double the expression tree per round (2^rounds blowup)
    val head =
      s"""WITH $mdGraphSql,
         |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |      FROM raw WHERE s <> t),
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b, a FROM e),
         |lab0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, u AS community
         |  FROM sym)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""lab$r AS MATERIALIZED (SELECT vertex, community FROM (
         |  SELECT vertex, community, row_number() OVER (
         |      PARTITION BY vertex ORDER BY n DESC, community) AS rn
         |  FROM (SELECT vertex, community, count(*) AS n FROM (
         |      SELECT s.u AS vertex, l.community
         |      FROM sym s JOIN lab${r - 1} l ON l.vertex = s.v
         |      UNION ALL SELECT vertex, community FROM lab${r - 1}) v
         |    GROUP BY 1, 2) c) WHERE rn = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT CAST(vertex AS BIGINT) AS vertex," +
      s"\n  CAST(community AS BIGINT) AS community FROM lab$rounds"
  }

  /** Unrolled k-core peeling over [[mdGraphSql]]: per level, keep the
    * vertices of canonical degree >= k, restrict edges to kept×kept —
    * kCore's loop verbatim. Peeling is monotone (a converged core maps
    * to itself), so any `rounds` >= the op's convergence count is exact.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED on every level: each e/k level is referenced 2-3
    // times by the next — DuckDB 1.0's default inlining would make the
    // plan tree exponential in the round count
    val head =
      s"""WITH $mdGraphSql,
         |e0 AS MATERIALIZED (SELECT DISTINCT least(s, t) AS a,
         |       greatest(s, t) AS b FROM raw WHERE s <> t)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e${r - 1}
         |    UNION ALL SELECT b FROM e${r - 1}) x
         |  GROUP BY v HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT v AS vertex, count(*) AS core_degree
         |FROM (SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds) x
         |GROUP BY v""".stripMargin
  }

  /** q_mmr_rerank oracle: the greedy argmax unrolls to k CTE levels.
    * Each level computes, for every unselected candidate, the max cosine
    * to the selected set — cosine spelled ip/(sqrt·sqrt) with
    * list_inner_product exactly like mmrRerank's inner loop (the
    * q_pq_probe precedent: sequential dot products are bit-equal) — and
    * picks argmax of CAST(0.7)·score − (1.0−0.7)·msim with the op's
    * (v DESC, score DESC, doc_id) tie-break. All literals CAST to
    * DOUBLE (DuckDB parses 0.7 as DECIMAL; the op's (1.0 − 0.7) is the
    * double 0.30000000000000004, NOT 0.3).
    */
  private def mmrOracleSql(k: Int): String = {
    val cos = (a: String, b: String) =>
      s"""CASE WHEN list_inner_product($a, $a) > 0
         |        AND list_inner_product($b, $b) > 0
         |   THEN list_inner_product($a, $b)
         |     / (sqrt(list_inner_product($a, $a))
         |        * sqrt(list_inner_product($b, $b)))
         |   ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
    val head =
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 3),
         |c0 AS (SELECT q.query_id, e.vec_id AS doc_id,
         |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[]))
         |      AS score,
         |    CAST(e.embedding AS DOUBLE[]) AS dv
         |  FROM q, embeddings e WHERE q.query_id <> e.vec_id),
         |cands AS MATERIALIZED (SELECT query_id, doc_id, score, dv FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, doc_id) AS rn FROM c0) WHERE rn <= 20),
         |sel1 AS MATERIALIZED (SELECT query_id, doc_id, dv,
         |    1 AS mmr_rank FROM (
         |  SELECT query_id, doc_id, dv, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
         |  FROM cands) WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { r =>
      s"""pick$r AS MATERIALIZED (SELECT query_id, doc_id, dv,
         |    $r AS mmr_rank FROM (
         |  SELECT m.query_id, m.doc_id, m.dv, row_number() OVER (
         |      PARTITION BY m.query_id
         |      ORDER BY CAST(0.7 AS DOUBLE) * m.score
         |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * m.msim
         |          DESC,
         |        m.score DESC, m.doc_id) AS rn
         |  FROM (SELECT c.query_id, c.doc_id,
         |      any_value(c.score) AS score, any_value(c.dv) AS dv,
         |      max(${cos("c.dv", "s.dv")}) AS msim
         |    FROM cands c
         |    JOIN sel${r - 1} s ON s.query_id = c.query_id
         |    LEFT JOIN sel${r - 1} x ON x.query_id = c.query_id
         |      AND x.doc_id = c.doc_id
         |    WHERE x.doc_id IS NULL
         |    GROUP BY c.query_id, c.doc_id) m) WHERE rn = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1}
         |  UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT query_id, doc_id, CAST(mmr_rank AS INTEGER) AS mmr_rank
         |FROM sel$k""".stripMargin
  }

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

  private def retrievalMetricsOracleSql: String =
    s"""WITH ranked AS (
       |${baseOracleSql("q_bm25_topk")}
       |),
       |qrels AS (SELECT doc_id % 17 AS query_id, doc_id FROM documents
       |          WHERE doc_id % 17 < 3),
       |rel AS (SELECT query_id, count(*) AS n_relevant FROM qrels
       |        GROUP BY 1),
       |hits AS (SELECT r.query_id,
       |    CAST(sum(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits_at_k,
       |    min(CAST(r.rank AS BIGINT)) AS fh
       |  FROM ranked r JOIN qrels q
       |    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
       |  GROUP BY 1)
       |SELECT b.query_id, coalesce(rel.n_relevant, 0) AS n_relevant,
       |  coalesce(hits.n_hits_at_k, 0) AS n_hits_at_k,
       |  coalesce(hits.fh, 0) AS first_hit_rank
       |FROM (SELECT DISTINCT query_id FROM ranked) b
       |LEFT JOIN rel USING (query_id)
       |LEFT JOIN hits USING (query_id)""".stripMargin

  /** Build the q_random_project oracle: one UNION ALL branch per output
    * dim, each an explicit left-associated ± chain over
    * CAST(embedding[i] AS DOUBLE) with the same md5-derived signs as
    * [[graft.ops.Similarity.randomProject]].
    */
  private def rpOracleSql(inDim: Int, outDim: Int, seed: String): String =
    (0 until outDim).map { j =>
      val chain = (0 until inDim).map { i =>
        val term = s"CAST(embedding[${i + 1}] AS DOUBLE)"
        val sign = graft.ops.Similarity.rpSign(seed, i, j)
        if (i == 0) { if (sign > 0) term else s"(- $term)" }
        else { if (sign > 0) s" + $term" else s" - $term" }
      }.mkString
      s"""SELECT vec_id, CAST($j AS INTEGER) AS out_dim,
         |  round($chain, 6) AS value
         |FROM embeddings
         |WHERE embedding IS NOT NULL AND len(embedding) = $inDim""".stripMargin
    }.mkString("\nUNION ALL\n")

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

  private def baseOracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1998-01-01'""".stripMargin,

    "q_regex_filter" ->
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_matches(text, '(fast|slow) (key|join)')""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up_name,
        |  substring(p_name, 1, 5) AS pre5,
        |  regexp_replace(p_name, ' ', '_', 'g') AS slug,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  p_brand || ':' || p_type AS brand_type,
        |  split_part(p_name, ' ', 1) AS first_word
        |FROM part""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
        |FROM orders""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,

    "q_equi_join_agg" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_contains_theta_join" ->
      """SELECT w.word, count(*) AS n_docs
        |FROM documents d
        |JOIN (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE doc_id < 5) w
        |  ON w.word <> '' AND contains(d.text, w.word)
        |GROUP BY w.word""".stripMargin,

    "q_theta_top1_per_key" ->
      """SELECT w.word, min(d.doc_id) AS doc_id
        |FROM documents d
        |JOIN (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE doc_id < 5) w
        |  ON w.word <> '' AND contains(d.text, w.word)
        |GROUP BY w.word""".stripMargin,

    "q_fallback_join" ->
      """WITH primary_m AS (
        |  SELECT c_nationkey,
        |    min(CASE WHEN c_acctbal > 5000 THEN c_custkey END) AS primary_custkey
        |  FROM customer GROUP BY c_nationkey),
        |fallback_m AS (
        |  SELECT c_nationkey, min(c_custkey) AS fallback_custkey
        |  FROM customer GROUP BY c_nationkey)
        |SELECT s_suppkey,
        |  coalesce(p.primary_custkey, f.fallback_custkey, -1) AS matched_custkey,
        |  CASE WHEN p.primary_custkey IS NOT NULL THEN 'primary'
        |       WHEN f.fallback_custkey IS NOT NULL THEN 'fallback'
        |       ELSE 'none' END AS matched_by
        |FROM supplier
        |LEFT JOIN primary_m p ON s_nationkey = p.c_nationkey
        |LEFT JOIN fallback_m f ON s_nationkey = f.c_nationkey""".stripMargin,

    "q_window_top1" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id), 2)
        |    AS running_value
        |FROM events""".stripMargin,

    "q_window_rank_lag" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        |  CAST(dense_rank() OVER w AS INTEGER) AS bal_rank,
        |  lag(s_acctbal, 1) OVER w AS prev_bal
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey)""".stripMargin,

    "q_agg_basic" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  max(l_discount) AS max_disc, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_conditional" ->
      """SELECT count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2)
        |    AS f_totalprice,
        |  CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_prio1
        |FROM orders""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_docs,
        |  min(doc_id) AS first_id
        |FROM documents GROUP BY text""".stripMargin,

    // brute-force over all pairs: the banded Spark plan must equal the
    // exhaustive predicate (pigeonhole blocking is complete)
    "q_hamming_pairs" ->
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
        |WHERE bit_count(xor(a.hash64, b.hash64)) <= 3""".stripMargin,

    "q_census" ->
      """SELECT lang, source, count(*) AS n FROM documents
        |GROUP BY lang, source""".stripMargin,

    "q_label_centroids" ->
      """SELECT label, CAST(u.i - 1 AS INTEGER) AS pos,
        |  round(avg(CAST(u.x AS DOUBLE)), 6) AS mean
        |FROM embeddings,
        |  LATERAL (SELECT unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i) u
        |GROUP BY label, u.i""".stripMargin,

    "q_centroid_classify" ->
      """WITH c AS (
        |  SELECT label, CAST(u.i - 1 AS INTEGER) AS pos,
        |    CAST(CAST(round(avg(CAST(u.x AS DOUBLE)), 6) AS REAL)
        |      AS DOUBLE) AS m
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS x,
        |      generate_subscripts(embedding, 1) AS i) u
        |  GROUP BY label, u.i),
        |q AS (
        |  SELECT vec_id AS query_id, CAST(u.i - 1 AS INTEGER) AS pos,
        |    CAST(u.x AS DOUBLE) AS qx
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS x,
        |      generate_subscripts(embedding, 1) AS i) u
        |  WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, c.label,
        |    sum(q.qx * c.m) / sqrt(sum(q.qx * q.qx))
        |      / sqrt(sum(c.m * c.m)) AS cos
        |  FROM q JOIN c USING (pos) GROUP BY 1, 2)
        |SELECT query_id, label AS pred_label FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cos, 6) DESC, label) AS r FROM s)
        |WHERE r = 1""".stripMargin,

    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e WHERE q.query_id <> e.vec_id),
        |nn AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 5),
        |votes AS (SELECT nn.query_id, e.label, count(*) AS n
        |  FROM nn JOIN embeddings e USING (vec_id) GROUP BY 1, 2)
        |SELECT query_id, label AS pred_label,
        |  CAST(n AS BIGINT) AS n_votes
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY n DESC, label) AS r FROM votes)
        |WHERE r = 1""".stripMargin,

    "q_assign_ids" ->
      """SELECT source, doc_id,
        |  row_number() OVER (ORDER BY source, doc_id) - 1 AS row_id
        |FROM documents""".stripMargin,

    "q_rouge_counts" ->
      """WITH p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS ta, b.text AS tb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
        |  WHERE a.doc_id < 250),
        |wa AS (SELECT pair_id,
        |  list_filter(string_split_regex(lower(trim(ta)), '\s+'),
        |    t -> t <> '') AS w FROM p),
        |wb AS (SELECT pair_id,
        |  list_filter(string_split_regex(lower(trim(tb)), '\s+'),
        |    t -> t <> '') AS w FROM p),
        |ga AS (SELECT pair_id, g, count(*) AS ca FROM (
        |  SELECT pair_id, w[i] || ' ' || w[i+1] AS g FROM wa,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s)
        |  GROUP BY 1, 2),
        |gb AS (SELECT pair_id, g, count(*) AS cb FROM (
        |  SELECT pair_id, w[i] || ' ' || w[i+1] AS g FROM wb,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s)
        |  GROUP BY 1, 2),
        |ov AS (SELECT pair_id, CAST(sum(least(ca, cb)) AS BIGINT)
        |    AS n_overlap
        |  FROM ga JOIN gb USING (pair_id, g) GROUP BY 1),
        |tot AS (SELECT wa.pair_id AS pair_id,
        |  CAST(greatest(len(wa.w) - 1, 0) AS BIGINT) AS n_a,
        |  CAST(greatest(len(wb.w) - 1, 0) AS BIGINT) AS n_b
        |  FROM wa JOIN wb ON wa.pair_id = wb.pair_id)
        |SELECT tot.pair_id AS pair_id,
        |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap, n_a, n_b
        |FROM tot LEFT JOIN ov ON tot.pair_id = ov.pair_id""".stripMargin,

    // abcd computed as DOUBLE sub-expressions, diff*diff (not pow), and
    // the same left-assoc multiply chains as the Spark expression — the
    // one inexact product (n*diff*diff > 2^53) rounds identically
    "q_chi2_terms" ->
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, lang AS label,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tl AS (SELECT term, label, count(*) AS na FROM pres
        |  WHERE term <> '' GROUP BY 1, 2),
        |tt AS (SELECT term, CAST(sum(na) AS BIGINT) AS t FROM tl
        |  GROUP BY 1 HAVING sum(na) >= 2),
        |lt AS (SELECT lang AS label, count(*) AS l FROM documents
        |  GROUP BY 1),
        |nt AS (SELECT count(*) AS n FROM documents),
        |abcd AS (
        |  SELECT tl.label, tl.term, tl.na, n,
        |    CAST(na AS DOUBLE) AS a,
        |    CAST(t - na AS DOUBLE) AS b,
        |    CAST(l - na AS DOUBLE) AS c,
        |    CAST(n - t - l + na AS DOUBLE) AS d
        |  FROM tl JOIN tt USING (term) JOIN lt USING (label) CROSS JOIN nt),
        |sc AS (
        |  SELECT label, term, na,
        |    round(CAST(n AS DOUBLE) * (a * d - b * c) * (a * d - b * c)
        |      / ((a + b) * (c + d) * (a + c) * (b + d)), 6) AS chi2
        |  FROM abcd)
        |SELECT label, term, na AS n_label_docs_with_term, chi2,
        |  CAST(r AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY chi2 DESC, term) AS r FROM sc) WHERE r <= 10""".stripMargin,

    // binning mirrors the Spark expression tree exactly (same IEEE ops:
    // width = (hi-lo)/64 then floor((v-lo)/width)) so bins agree
    "q_ks_drift" ->
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
        |FROM tot""".stripMargin,

    "q_corpus_report" ->
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
        |GROUP BY source, lang""".stripMargin,

    "q_blocklist_phrases" ->
      """SELECT doc_id, count(DISTINCT p) AS n_phrases,
        |  min(p) AS first_phrase
        |FROM documents,
        |  (SELECT unnest(['hash join', 'merge join', 'no such phrase'])
        |     AS p)
        |WHERE contains(lower(text), p)
        |GROUP BY doc_id""".stripMargin,

    "q_blocklist" ->
      """SELECT doc_id, count(*) AS n_hits,
        |  count(DISTINCT term) AS n_terms
        |FROM (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents)
        |WHERE term IN ('dup', 'deadlock')
        |GROUP BY doc_id""".stripMargin,

    "q_bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |qterm AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest(list_slice(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> ''), 1, 8)) AS term
        |  FROM documents WHERE doc_id < 3),
        |dft AS (
        |  SELECT tf.term, count(*) AS df FROM tf
        |  WHERE tf.term IN (SELECT term FROM qterm) GROUP BY 1),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6)
        |      AS bm25
        |  FROM qterm q
        |  JOIN tf ON tf.term = q.term
        |  JOIN dft d ON d.term = q.term
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, bm25, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,

    // the lexical drift report: term sets are exact strings on both
    // sides and both signals are HUGEINT floor-divisions over integer
    // token masses and the additive (_n, _sum_dl) states — the rebuild
    // decision replays exactly (thresholds = the op defaults)
    "q_bm25_drift" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |idl AS (SELECT doc_id, sum(tf) AS dl FROM tf
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |istats AS (SELECT CAST(count(*) AS BIGINT) AS n_index_docs,
        |  CAST(coalesce(sum(dl), 0) AS HUGEINT) AS sum_i FROM idl),
        |bdl AS (SELECT doc_id, sum(tf) AS dl FROM tf
        |  WHERE doc_id % 2 = 1 GROUP BY 1),
        |bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_batch_docs,
        |  CAST(coalesce(sum(dl), 0) AS HUGEINT) AS sum_b FROM bdl),
        |iterms AS (SELECT DISTINCT term FROM tf WHERE doc_id % 2 = 0),
        |bterms AS MATERIALIZED (SELECT term, sum(tf) AS toks FROM tf
        |  WHERE doc_id % 2 = 1 GROUP BY 1),
        |bagg AS (SELECT
        |  CAST(coalesce(sum(toks), 0) AS BIGINT) AS n_batch_tokens,
        |  CAST(count(*) AS BIGINT) AS n_batch_terms FROM bterms),
        |oov AS (SELECT
        |  CAST(coalesce(sum(toks), 0) AS BIGINT) AS n_oov_tokens,
        |  CAST(count(*) AS BIGINT) AS n_oov_terms
        |  FROM bterms WHERE term NOT IN (SELECT term FROM iterms)),
        |calc AS (SELECT i.n_index_docs, b.n_batch_docs,
        |  g.n_batch_tokens, o.n_oov_tokens, g.n_batch_terms,
        |  o.n_oov_terms,
        |  CASE WHEN g.n_batch_tokens > 0 THEN
        |    CAST((CAST(1000000 AS HUGEINT)
        |      * CAST(o.n_oov_tokens AS HUGEINT))
        |      // CAST(g.n_batch_tokens AS HUGEINT) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS oov_u6,
        |  CASE WHEN i.sum_i > 0 AND i.n_index_docs > 0
        |      AND b.n_batch_docs > 0 THEN
        |    CAST((CAST(1000000 AS HUGEINT)
        |      * abs(b.sum_b * CAST(i.n_index_docs AS HUGEINT)
        |          - i.sum_i * CAST(b.n_batch_docs AS HUGEINT)))
        |      // (i.sum_i * CAST(b.n_batch_docs AS HUGEINT)) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS dl_shift_u6
        |  FROM istats i, bstats b, bagg g, oov o)
        |SELECT n_index_docs, n_batch_docs, n_batch_tokens, n_oov_tokens,
        |  n_batch_terms, n_oov_terms, oov_u6, dl_shift_u6,
        |  oov_u6 >= 100000 OR dl_shift_u6 >= 250000 AS rebuild
        |FROM calc""".stripMargin,

    "q_bm25_probe" ->  // same result as q_bm25_topk: certifies the index probe
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |qterm AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest(list_slice(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> ''), 1, 8)) AS term
        |  FROM documents WHERE doc_id < 3),
        |dft AS (
        |  SELECT tf.term, count(*) AS df FROM tf
        |  WHERE tf.term IN (SELECT term FROM qterm) GROUP BY 1),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6)
        |      AS bm25
        |  FROM qterm q
        |  JOIN tf ON tf.term = q.term
        |  JOIN dft d ON d.term = q.term
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, bm25, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,

    "q_rrf_fuse" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |qterm AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest(list_slice(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> ''), 1, 8)) AS term
        |  FROM documents WHERE doc_id < 3),
        |dft AS (
        |  SELECT tf.term, count(*) AS df FROM tf
        |  WHERE tf.term IN (SELECT term FROM qterm) GROUP BY 1),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6)
        |      AS bm25
        |  FROM qterm q
        |  JOIN tf ON tf.term = q.term
        |  JOIN dft d ON d.term = q.term
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, doc_id, rnk AS r FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
        |    FROM scored) WHERE rnk <= 10),
        |dq AS (SELECT vec_id AS query_id, embedding AS qv
        |       FROM embeddings WHERE vec_id < 3),
        |dscored AS (
        |  SELECT dq.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(dq.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM dq, embeddings e WHERE dq.query_id <> e.vec_id),
        |dense AS (
        |  SELECT query_id, vec_id AS doc_id, rnk AS r FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |    FROM dscored) WHERE rnk <= 5),
        |legs AS (SELECT * FROM lex UNION ALL SELECT * FROM dense),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    round(sum(CAST(1.0 AS DOUBLE) / (60 + r)), 6) AS rrf,
        |    CAST(count(*) AS BIGINT) AS n_legs
        |  FROM legs GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf, n_legs,
        |  CAST(fr AS INTEGER) AS fused_rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS fr FROM fused)
        |WHERE fr <= 10""".stripMargin,

    "q_orderby_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL SELECT s_nationkey FROM supplier)""".stripMargin,

    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |EXCEPT SELECT s_nationkey FROM supplier
        |WHERE s_acctbal > 8000""".stripMargin,

    "q_explode_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word HAVING count(*) >= 50""".stripMargin,

    "q_posexplode" ->
      """SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, u.word FROM (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id < 20) t,
        |LATERAL (SELECT unnest(ws) AS word,
        |  unnest(generate_series(1, len(ws))) AS i) u""".stripMargin,

    "q_ngram_jaccard_pairs" ->
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
        |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin,

    "q_ngram_containment" ->
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
        |WHERE inter * 25 >= least(sa.setsize, sb.setsize)""".stripMargin,

    "q_dedup_clusters" ->
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
        |GROUP BY d.doc_id""".stripMargin,

    "q_graph_components" ->
      """WITH RECURSIVE co AS (
        |  SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey),
        |reach(x, y) AS (
        |  SELECT x, y FROM co
        |  UNION
        |  SELECT r.x, c.y FROM reach r JOIN co c ON r.y = c.x)
        |SELECT CAST(x AS BIGINT) AS supp_key,
        |  CAST(min(y) AS BIGINT) AS component_id
        |FROM reach GROUP BY x""".stripMargin,

    "q_clean_html" ->
      """SELECT doc_id, text || ' &' AS cleaned FROM documents
        |WHERE doc_id < 200""".stripMargin,

    "q_hash_split" ->
      """WITH b AS (SELECT doc_id,
        |  ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1)) % 100
        |    AS bucket
        |  FROM documents)
        |SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
        |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b""".stripMargin,

    "q_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),4,1))-1)) % 100
        |    AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)""".stripMargin,

    "q_length_band" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY length(text)) AS pr
        |  FROM documents)
        |WHERE pr >= 0.05 AND pr <= 0.95""".stripMargin,

    "q_scrub_text" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com id'
        |        || CAST((doc_id + 1) * 1234567890 AS VARCHAR),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{9,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
        |    AS n_tokens_ws,
        |  CAST(floor((CAST(length(text) - length(
        |      regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |    / length(text)) * 1000000.0) AS BIGINT) AS punct_u6,
        |  CAST(floor((CAST(len(list_filter(
        |      regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','and','of','to','a','in','is','that',
        |        'for','it','on','as','with','are','this'], x))) AS DOUBLE)
        |    / len(regexp_split_to_array(lower(trim(text)), '\s+')))
        |    * 1000000.0) AS BIGINT) AS stopword_u6,
        |  CAST(floor((
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
        |    + greatest(0.0, 1.0 - (CAST(length(text) - length(
        |        regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |        / length(text)) * 4.0) * 0.25
        |    + (CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0
        |       THEN 1.0 ELSE greatest(0.0, 1.0 -
        |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |           - length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |         / length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) END) * 0.15
        |    + least((CAST(len(list_filter(
        |        regexp_split_to_array(lower(trim(text)), '\s+'),
        |        x -> list_contains(['the','and','of','to','a','in','is','that',
        |          'for','it','on','as','with','are','this'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+'))) * 4.0, 1.0)
        |      * 0.3
        |  ) * 1000000.0) AS BIGINT) AS quality_u6
        |FROM documents""".stripMargin,

    "q_source_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 40""".stripMargin,

    "q_k_anonymity" ->
      """SELECT c_nationkey, c_acctbal, count(*) AS class_size
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 5""".stripMargin,

    "q_k_anonymity_rows" ->
      """WITH sub AS (
        |  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        |  WHERE c_custkey <= 500),
        |cls AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS class_size
        |  FROM sub GROUP BY 1, 2)
        |SELECT s.c_custkey, s.c_mktsegment, s.c_nationkey,
        |  c.class_size, c.class_size >= 3 AS is_k_anonymous
        |FROM sub s JOIN cls c USING (c_mktsegment, c_nationkey)""".stripMargin,

    "q_l_diversity" ->
      """SELECT c_mktsegment, c_nationkey, c_custkey % 50 AS cohort,
        |  count(*) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive
        |FROM customer GROUP BY 1, 2, 3
        |HAVING count(DISTINCT c_acctbal) < 3""".stripMargin,

    "q_validate_dialogs" ->
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
        |FROM dlg""".stripMargin,

    "q_render_dialogs" ->
      """SELECT doc_id AS dialog_id,
        |  '<|user|>' || text || chr(10) || '<|assistant|>re: ' || text
        |    AS rendered_text,
        |  CAST(len('<|user|>' || text || chr(10)
        |    || '<|assistant|>re: ' || text) AS BIGINT) AS n_render_chars
        |FROM documents WHERE doc_id < 500""".stripMargin,

    "q_epoch_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS epoch_order
        |FROM documents""".stripMargin,

    "q_sample_negatives" ->
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
        |  FROM cand) WHERE r <= 5""".stripMargin,

    "q_canonical_url" ->
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
        |FROM qq""".stripMargin,

    "q_dedup_url" ->
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
        |FROM canon c JOIN g USING (canonical_url)""".stripMargin,

    "q_paragraph_stats" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |pars AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS p,
        |    CAST(generate_subscripts(string_split(t, chr(10)), 1) - 1
        |      AS INTEGER) AS par_idx
        |  FROM lined),
        |words AS (
        |  SELECT doc_id, par_idx, p,
        |    list_filter(string_split_regex(lower(trim(p)), '\s+'),
        |      w -> w <> '') AS ws
        |  FROM pars)
        |SELECT doc_id, par_idx, CAST(len(p) AS BIGINT) AS n_chars,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(ws, w -> w IN ('the','and','of','to','a',
        |    'in','is','that','for','it','on','as','with','are','this')))
        |    AS BIGINT) AS n_stop
        |FROM words""".stripMargin,

    "q_filter_paragraphs" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |pars AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS p,
        |    generate_subscripts(string_split(t, chr(10)), 1) - 1 AS par_idx
        |  FROM lined),
        |scored AS (
        |  SELECT doc_id, par_idx, p,
        |    len(list_filter(string_split_regex(lower(trim(p)), '\s+'),
        |      w -> w <> '')) AS n_words,
        |    len(list_filter(list_filter(
        |      string_split_regex(lower(trim(p)), '\s+'), w -> w <> ''),
        |      w -> w IN ('the','and','of','to','a','in','is','that','for',
        |        'it','on','as','with','are','this'))) AS n_stop
        |  FROM pars),
        |kept AS (
        |  SELECT doc_id, par_idx, p FROM scored
        |  WHERE n_words >= 8
        |    AND CAST(n_stop AS DOUBLE) >= 0.15 * n_words),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(p, chr(10) ORDER BY par_idx) AS txt,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, coalesce(r.txt, '') AS text_filtered,
        |  CAST(len(string_split(l.t, chr(10))) - coalesce(r.n_kept, 0)
        |    AS BIGINT) AS n_pars_cut
        |FROM lined l LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    "q_dedup_lines" ->
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
        |FROM lined l LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    // boilerplate = line in >= 3 distinct docs of one source, cut
    // everywhere (anti-join, no surviving owner)
    "q_boilerplate" ->
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
        |FROM lined l LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    // same spiking and patterns as q_scrub_text; n_long_nums counted on
    // the email-scrubbed text (mirrors scrubText's sequential application)
    "q_pii_report" ->
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
        |FROM counted""".stripMargin,

    "q_gopher_repetition" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |lc AS (
        |  SELECT doc_id, line, count(*) AS c, len(line) AS l
        |  FROM (SELECT doc_id, unnest(string_split(t, chr(10))) AS line
        |        FROM lined)
        |  GROUP BY doc_id, line),
        |ls AS (
        |  SELECT doc_id, sum(c) AS nl,
        |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dl,
        |    sum(c * l) AS chars,
        |    sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dchars
        |  FROM lc GROUP BY doc_id),
        |gr AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS g, count(*) AS gc
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w
        |        FROM lined) x,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
        |  GROUP BY doc_id, g),
        |top AS (
        |  SELECT doc_id, g AS top_gram, gc FROM gr
        |  QUALIFY row_number() OVER (
        |    PARTITION BY doc_id ORDER BY gc DESC, g) = 1),
        |tl AS (SELECT doc_id, len(t) AS tlen FROM lined)
        |SELECT ls.doc_id,
        |  CAST(ls.nl AS BIGINT) AS n_lines,
        |  CAST(floor(ls.dl * 1.0 / ls.nl * 1000000.0) AS BIGINT)
        |    AS dup_line_frac_u6,
        |  CAST(CASE WHEN ls.chars > 0
        |    THEN floor(ls.dchars * 1.0 / ls.chars * 1000000.0)
        |    ELSE 0 END AS BIGINT) AS dup_line_char_frac_u6,
        |  coalesce(top.top_gram, '') AS top_gram,
        |  coalesce(CASE WHEN tl.tlen > 0
        |    THEN CAST(floor(top.gc * len(top.top_gram) * 1.0 / tl.tlen
        |      * 1000000.0) AS BIGINT) END, 0) AS top_gram_char_frac_u6
        |FROM ls LEFT JOIN top USING (doc_id) JOIN tl USING (doc_id)""".stripMargin,

    "q_source_token_budget" ->
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
        |SELECT doc_id, source FROM c WHERE before < 2000""".stripMargin,

    "q_dedup_lines_incr" ->
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
        |WHERE l.doc_id % 2 = 1""".stripMargin,

    "q_mix_temperature" ->
      """WITH s AS (
        |  SELECT doc_id, substr(source, 4, 1) AS stratum FROM documents),
        |c AS (SELECT stratum, count(*) AS n FROM s GROUP BY stratum),
        |p AS (SELECT stratum,
        |        pow(CAST((SELECT min(n) FROM c) AS DOUBLE) / n, 0.5) AS q
        |      FROM c)
        |SELECT s.doc_id, s.stratum
        |FROM s JOIN p USING (stratum)
        |WHERE CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) / 4294967296.0 < p.q""".stripMargin,

    "q_gopher_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS n_words,
        |    length(regexp_replace(text, '\s', '', 'g')) AS word_chars,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT)
        |      + (length(text) - length(replace(text, '…', ''))) AS n_dots,
        |    string_split(text, chr(10)) AS lines,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_words, word_chars, n_hash, n_dots,
        |    len(lines) AS n_lines,
        |    len(list_filter(lines,
        |      l -> regexp_matches(ltrim(l), '^[-*•‣●]'))) AS n_bullet,
        |    len(list_filter(lines,
        |      l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS n_ellip,
        |    len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS n_alpha,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(list_transform(toks, x -> lower(x)), s)))
        |      AS n_stop
        |  FROM base),
        |u AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(word_chars / CAST(n_words AS DOUBLE) * 1000000.0)
        |      ELSE 0 END AS BIGINT) AS mean_word_len_u6,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor((n_hash + n_dots) / CAST(n_words AS DOUBLE)
        |        * 1000000.0) ELSE 0 END AS BIGINT) AS symbol_ratio_u6,
        |    CAST(CASE WHEN n_lines > 0
        |      THEN floor(n_bullet / CAST(n_lines AS DOUBLE) * 1000000.0)
        |      ELSE 0 END AS BIGINT) AS bullet_frac_u6,
        |    CAST(CASE WHEN n_lines > 0
        |      THEN floor(n_ellip / CAST(n_lines AS DOUBLE) * 1000000.0)
        |      ELSE 0 END AS BIGINT) AS ellipsis_frac_u6,
        |    CAST(CASE WHEN n_words > 0
        |      THEN floor(n_alpha / CAST(n_words AS DOUBLE) * 1000000.0)
        |      ELSE 0 END AS BIGINT) AS alpha_frac_u6,
        |    CAST(n_stop AS BIGINT) AS n_stop_hits
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len_u6, symbol_ratio_u6,
        |  bullet_frac_u6, ellipsis_frac_u6, alpha_frac_u6, n_stop_hits,
        |  (n_words BETWEEN 50 AND 100000
        |    AND mean_word_len_u6 BETWEEN 3000000 AND 10000000
        |    AND symbol_ratio_u6 <= 100000
        |    AND bullet_frac_u6 <= 900000
        |    AND ellipsis_frac_u6 <= 300000
        |    AND alpha_frac_u6 >= 800000
        |    AND n_stop_hits >= 2) AS keep
        |FROM u""".stripMargin,

    "q_profile" ->
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
        |  FROM lineitem""".stripMargin,

    "q_weighted_sample" ->
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
        |WHERE sample_rank <= 20""".stripMargin,

    "q_repetition" ->
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
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_chunk" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |    greatest(CAST(ceil(len(w) / 30.0) AS INTEGER), 1) AS nc FROM t),
        |x AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS k FROM c)
        |SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
        |  array_to_string(w[k*30+1 : k*30+40], ' ') AS chunk_text,
        |  CAST(len(w[k*30+1 : k*30+40]) AS BIGINT) AS chunk_n_tokens
        |FROM x""".stripMargin,

    "q_suppress_rare" ->
      """SELECT e.event_id, e.user_id, e.event_type
        |FROM events e
        |JOIN (SELECT user_id, event_type FROM events
        |      GROUP BY 1, 2 HAVING count(*) >= 3) g
        |  USING (user_id, event_type)""".stripMargin,

    // oracle is the PLAIN join: the salt must be results-invisible
    "q_skew_join_salted" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // each event belongs to exactly 2 epoch-aligned hopping windows:
    // its own 5-min grid cell's window and the one starting 5 min earlier
    "q_sliding_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |x AS (SELECT event_type, value,
        |        unnest([to_timestamp(floor(epoch(ts) / 300) * 300),
        |                to_timestamp(floor(epoch(ts) / 300) * 300)
        |                  - INTERVAL 5 MINUTE]) AS w0
        |      FROM e)
        |SELECT CAST(w0 AS TIMESTAMP) AS w_start,
        |  CAST(w0 + INTERVAL 10 MINUTE AS TIMESTAMP) AS w_end,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2, 3""".stripMargin,

    // same ln-based identity and ln(2) literal as the Spark side:
    // H = (ln(N) - sum(n ln n)/N) / 0.6931471805599453
    "q_word_entropy" ->
      """WITH tf AS (SELECT doc_id, w[i] AS term, count(*) AS n
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> '' GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  round((ln(CAST(sum(n) AS DOUBLE))
        |         - sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
        |           / CAST(sum(n) AS DOUBLE)) / 0.6931471805599453,
        |    6) AS entropy_bits
        |FROM tf GROUP BY 1""".stripMargin,

    // same add-one-smoothed probability and ln(2) literal as the Spark
    // side: p = (n+1)/(tot+V+1), bits = -ln(p)/0.6931471805599453
    "q_lm_score" ->
      """WITH toks AS (SELECT doc_id, w[i] AS term
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |lm AS (SELECT term, count(*) AS n FROM toks GROUP BY 1
        |       HAVING count(*) >= 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS _tot,
        |               CAST(count(*) AS DOUBLE) AS _v FROM lm)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN lm.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(avg(-ln((CAST(coalesce(lm.n, 0) AS DOUBLE) + 1.0)
        |                / (_tot + _v + 1.0)) / 0.6931471805599453), 6)
        |    AS bits_per_token
        |FROM toks LEFT JOIN lm USING (term) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    // Naive Bayes: same tokenization as the LM oracles; smoothing totals
    // come from the minCount-retained term table; argmax ties go to the
    // lexicographically smallest class (ORDER BY score DESC, class)
    "q_nb_classify" ->
      """WITH toks AS (SELECT doc_id, w[i] AS term
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |terms AS (SELECT tk.term, d.lang AS class, count(*) AS n
        |  FROM toks tk JOIN documents d USING (doc_id)
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |classes AS (SELECT lang AS class, count(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |cls AS (SELECT c.class, c.n_docs,
        |    coalesce(ct.n_tokens, 0) AS n_tokens
        |  FROM classes c LEFT JOIN (SELECT class, sum(n) AS n_tokens
        |    FROM terms GROUP BY 1) ct USING (class)),
        |v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM terms),
        |nd AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nd FROM cls),
        |sc AS (SELECT tk.doc_id, c.class, count(*) AS n_toks,
        |    sum(ln((CAST(coalesce(tm.n, 0) AS DOUBLE) + 1.0)
        |         / (CAST(c.n_tokens AS DOUBLE) + v.v + 1.0)))
        |      + ln(CAST(c.n_docs AS DOUBLE) / nd.nd) AS score
        |  FROM toks tk CROSS JOIN cls c
        |  LEFT JOIN terms tm ON tm.term = tk.term AND tm.class = c.class
        |  CROSS JOIN v CROSS JOIN nd
        |  GROUP BY tk.doc_id, c.class, c.n_tokens, c.n_docs, v.v, nd.nd),
        |r AS (SELECT doc_id, n_toks, class, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, class) AS rn
        |  FROM sc)
        |SELECT doc_id, n_toks AS n_tokens, class AS pred_class,
        |  round(score, 6) AS log_likelihood
        |FROM r WHERE rn = 1""".stripMargin,

    // boundary literals are the decimal prints of the Scala doubles
    // (1.0/3, 2.0/3) so both engines compare against the same double
    "q_score_buckets" ->
      """WITH r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
        |      AS DOUBLE) AS rank,
        |    CAST(count(*) OVER () AS DOUBLE) AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN rank < 0.3333333333333333 * n THEN 'head'
        |       WHEN rank < 0.6666666666666666 * n THEN 'middle'
        |       ELSE 'tail' END AS score_bucket
        |FROM r""".stripMargin,

    // DSIR hashed unigram+bigram features over the portable md5 bucket
    // (the hashSplit contract); add-one smoothing over the 4096-bucket
    // domain; target = the src0..src4 slice. trim + \s+ split leaves no
    // interior empties, so len(w) >= 2 implies every token is non-empty.
    "q_dsir_weights" ->
      """WITH wsp AS (SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, w[i] AS gram
        |  FROM wsp,
        |    LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
        |  WHERE w[i] <> ''
        |  UNION ALL
        |  SELECT doc_id, source, w[i] || ' ' || w[i+1] AS gram
        |  FROM wsp,
        |    LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
        |  WHERE len(w) >= 2),
        |b AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(gram), 1, 4)) AS BIGINT) % 4096
        |      AS bucket
        |  FROM g),
        |rc AS (SELECT bucket, count(*) AS nr FROM b GROUP BY 1),
        |tc AS (SELECT bucket, count(*) AS nt FROM b
        |       WHERE source IN ('src0','src1','src2','src3','src4')
        |       GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(nr) AS DOUBLE) FROM rc) AS tr,
        |               (SELECT CAST(coalesce(sum(nt), 0) AS DOUBLE)
        |                  FROM tc) AS tt),
        |ratio AS (SELECT rc.bucket,
        |    ln((CAST(coalesce(tc.nt, 0) AS DOUBLE) + 1.0)
        |       / (tot.tt + 4096.0))
        |  - ln((CAST(rc.nr AS DOUBLE) + 1.0) / (tot.tr + 4096.0)) AS lr
        |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot)
        |SELECT b.doc_id, count(*) AS n_feats,
        |  round(sum(ratio.lr), 6) AS log_ratio
        |FROM b JOIN ratio USING (bucket)
        |GROUP BY b.doc_id""".stripMargin,

    // the weights above + Gumbel-top-n in log space; the uniform is the
    // 'ir:'-seeded md5 of the id (weightedSample's contract, distinct
    // stream), shifted by +0.5/2^32 so both logs stay finite
    "q_dsir_sample" ->
      """WITH wsp AS (SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, w[i] AS gram
        |  FROM wsp,
        |    LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
        |  WHERE w[i] <> ''
        |  UNION ALL
        |  SELECT doc_id, source, w[i] || ' ' || w[i+1] AS gram
        |  FROM wsp,
        |    LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
        |  WHERE len(w) >= 2),
        |b AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(gram), 1, 4)) AS BIGINT) % 4096
        |      AS bucket
        |  FROM g),
        |rc AS (SELECT bucket, count(*) AS nr FROM b GROUP BY 1),
        |tc AS (SELECT bucket, count(*) AS nt FROM b
        |       WHERE source IN ('src0','src1','src2','src3','src4')
        |       GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(nr) AS DOUBLE) FROM rc) AS tr,
        |               (SELECT CAST(coalesce(sum(nt), 0) AS DOUBLE)
        |                  FROM tc) AS tt),
        |ratio AS (SELECT rc.bucket,
        |    ln((CAST(coalesce(tc.nt, 0) AS DOUBLE) + 1.0)
        |       / (tot.tt + 4096.0))
        |  - ln((CAST(rc.nr AS DOUBLE) + 1.0) / (tot.tr + 4096.0)) AS lr
        |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot),
        |wts AS (SELECT b.doc_id, round(sum(ratio.lr), 6) AS log_ratio
        |  FROM b JOIN ratio USING (bucket) GROUP BY b.doc_id),
        |keyed AS (SELECT doc_id, log_ratio - ln(-ln(
        |    (CAST(('0x' || substr(md5('ir:' || CAST(doc_id AS VARCHAR)),
        |       1, 8)) AS BIGINT) + 0.5) / 4294967296.0)) AS k
        |  FROM wts)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY k DESC, doc_id) AS sample_rank
        |FROM keyed ORDER BY k DESC, doc_id LIMIT 100""".stripMargin,

    // bigram Stupid Backoff with the same tokenization; prev = w[i-1]
    // (safe: trim + \s+ split leaves no interior empties), backoff path
    // parenthesized exactly as the Spark expression
    "q_lm2_score" ->
      """WITH toks AS (SELECT doc_id, w[i] AS term,
        |    CASE WHEN i > 1 THEN w[i-1] END AS prev
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |uni AS (SELECT term, count(*) AS n FROM toks GROUP BY 1
        |        HAVING count(*) >= 2),
        |big AS (SELECT prev, term, count(*) AS n FROM toks
        |        WHERE prev IS NOT NULL GROUP BY 1, 2
        |        HAVING count(*) >= 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS _tot,
        |               CAST(count(*) AS DOUBLE) AS _v FROM uni)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN big.n IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bigram_hits,
        |  round(avg(-ln(CASE
        |      WHEN big.n IS NOT NULL
        |        THEN CAST(big.n AS DOUBLE) / CAST(up.n AS DOUBLE)
        |      WHEN toks.prev IS NULL
        |        THEN (CAST(coalesce(uni.n, 0) AS DOUBLE) + 1.0)
        |             / (_tot + _v + 1.0)
        |      ELSE 0.4 * ((CAST(coalesce(uni.n, 0) AS DOUBLE) + 1.0)
        |                  / (_tot + _v + 1.0))
        |    END) / 0.6931471805599453), 6) AS bits_per_token
        |FROM toks
        |LEFT JOIN big ON toks.prev = big.prev AND toks.term = big.term
        |LEFT JOIN uni ON toks.term = uni.term
        |LEFT JOIN uni up ON toks.prev = up.term
        |CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    // trigram Stupid Backoff: position-first CASE mirrors the Spark
    // expression exactly (position 1 -> smoothed unigram, position 2 ->
    // bigram level, else trigram hit n3/n_ctx or alpha * bigram level);
    // bc = the (prev2, prev) CONTEXT bigram count (trigram denominator)
    "q_lm3_score" ->
      """WITH toks AS (SELECT doc_id, w[i] AS term,
        |    CASE WHEN i > 1 THEN w[i-1] END AS prev,
        |    CASE WHEN i > 2 THEN w[i-2] END AS prev2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |uni AS (SELECT term, count(*) AS n FROM toks GROUP BY 1
        |        HAVING count(*) >= 2),
        |big AS (SELECT prev, term, count(*) AS n FROM toks
        |        WHERE prev IS NOT NULL GROUP BY 1, 2
        |        HAVING count(*) >= 2),
        |tri AS (SELECT prev2, prev, term, count(*) AS n FROM toks
        |        WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3
        |        HAVING count(*) >= 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS _tot,
        |               CAST(count(*) AS DOUBLE) AS _v FROM uni)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tri.n IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_trigram_hits,
        |  round(avg(-ln(CASE
        |      WHEN toks.prev IS NULL
        |        THEN (CAST(coalesce(uni.n, 0) AS DOUBLE) + 1.0)
        |             / (_tot + _v + 1.0)
        |      WHEN toks.prev2 IS NULL THEN
        |        CASE WHEN big.n IS NOT NULL
        |          THEN CAST(big.n AS DOUBLE) / CAST(up.n AS DOUBLE)
        |          ELSE 0.4 * ((CAST(coalesce(uni.n, 0) AS DOUBLE) + 1.0)
        |                      / (_tot + _v + 1.0)) END
        |      WHEN tri.n IS NOT NULL
        |        THEN CAST(tri.n AS DOUBLE) / CAST(bc.n AS DOUBLE)
        |      ELSE 0.4 * (CASE WHEN big.n IS NOT NULL
        |        THEN CAST(big.n AS DOUBLE) / CAST(up.n AS DOUBLE)
        |        ELSE 0.4 * ((CAST(coalesce(uni.n, 0) AS DOUBLE) + 1.0)
        |                    / (_tot + _v + 1.0)) END)
        |    END) / 0.6931471805599453), 6) AS bits_per_token
        |FROM toks
        |LEFT JOIN tri ON toks.prev2 = tri.prev2 AND toks.prev = tri.prev
        |  AND toks.term = tri.term
        |LEFT JOIN big ON toks.prev = big.prev AND toks.term = big.term
        |LEFT JOIN big bc ON toks.prev2 = bc.prev AND toks.prev = bc.term
        |LEFT JOIN uni ON toks.term = uni.term
        |LEFT JOIN uni up ON toks.prev = up.term
        |CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    // same tokenization, weight formula, bias and sigmoid expression as
    // the Spark side; logit and score each rounded from the UNROUNDED sum
    "q_classify_linear" ->
      """WITH toks AS (SELECT doc_id, w[i] AS term
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |wt AS (SELECT term,
        |    (CAST(length(term) AS DOUBLE) - 6.0) * 0.046875 AS weight
        |  FROM (SELECT term FROM toks GROUP BY 1 HAVING count(*) >= 2))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN wt.weight IS NULL THEN 0 ELSE 1 END)
        |       AS BIGINT) AS n_hit,
        |  round(-0.125 + sum(coalesce(wt.weight, 0.0)) / count(*), 6)
        |    AS logit,
        |  round(1.0 / (1.0 + exp(-(-0.125 + sum(coalesce(wt.weight, 0.0))
        |                            / count(*)))), 6) AS score
        |FROM toks LEFT JOIN wt USING (term)
        |GROUP BY doc_id""".stripMargin,

    // same scored table as q_lm_score; rank 0-based under
    // (bits asc, doc_id asc), cutoff rank < 0.7 * N in double (identical
    // IEEE product both engines)
    "q_lm_filter" ->
      """WITH toks AS (SELECT doc_id, w[i] AS term
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS w
        |        FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |  WHERE w[i] <> ''),
        |lm AS (SELECT term, count(*) AS n FROM toks GROUP BY 1
        |       HAVING count(*) >= 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS _tot,
        |               CAST(count(*) AS DOUBLE) AS _v FROM lm),
        |scored AS (SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN lm.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(avg(-ln((CAST(coalesce(lm.n, 0) AS DOUBLE) + 1.0)
        |                / (_tot + _v + 1.0)) / 0.6931471805599453), 6)
        |    AS bits_per_token
        |  FROM toks LEFT JOIN lm USING (term) CROSS JOIN tot
        |  GROUP BY doc_id),
        |ranked AS (SELECT *,
        |  CAST(row_number() OVER (ORDER BY bits_per_token, doc_id) - 1
        |       AS BIGINT) AS rank,
        |  count(*) OVER () AS _n FROM scored)
        |SELECT doc_id, n_tokens, n_oov, bits_per_token, rank
        |FROM ranked WHERE CAST(rank AS DOUBLE) < 0.7 * _n""".stripMargin,

    "q_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |r AS (SELECT user_id, ts, round(max(value), 2) AS purchase_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  CAST(r.ts AS TIMESTAMP) AS asof_ts,
        |  r.purchase_value AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts""".stripMargin,

    // UNION ALL rather than engine UNPIVOT syntax: identical semantics,
    // no dialect divergence in metric-name casing or column ordering
    "q_unpivot" ->
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 1000)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS val FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src""".stripMargin,

    "q_median" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS median_value,
        |  round(quantile_cont(value, 0.9), 6) AS p90_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_string_agg" ->
      """SELECT s_nationkey,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names,
        |  count(*) AS n
        |FROM supplier GROUP BY 1""".stripMargin,

    "q_dedup_incremental" ->
      """WITH c AS (SELECT DISTINCT md5(text) AS fp FROM documents
        |           WHERE doc_id < 250),
        |b AS (SELECT doc_id, source, md5(text) AS fp FROM documents
        |      WHERE doc_id >= 250),
        |f AS (SELECT fp, min(doc_id) AS doc_id FROM b GROUP BY 1)
        |SELECT b.doc_id, b.source
        |FROM b JOIN f ON b.fp = f.fp AND b.doc_id = f.doc_id
        |WHERE b.fp NOT IN (SELECT fp FROM c)""".stripMargin,

    "q_full_outer" ->
      """WITH v AS (SELECT user_id, count(*) AS n_views FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT user_id, count(*) AS n_purchases,
        |        round(sum(value), 2) AS purchase_total
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(v.user_id, b.user_id) AS user_id,
        |  coalesce(n_views, 0) AS n_views,
        |  coalesce(n_purchases, 0) AS n_purchases,
        |  purchase_total
        |FROM v FULL OUTER JOIN b ON v.user_id = b.user_id""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS text_len,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), x -> list_contains(
        |    ['the','and','of','to','a','in','is','that','for','it',
        |     'on','as','with','are','this'], x))) AS INTEGER) AS n_stopwords
        |FROM documents""".stripMargin,

    "q_sim_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e WHERE q.query_id <> e.vec_id)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,

    "q_emb_near_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0
        |  AND a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin,

    "q_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, round(max(value), 2) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  CAST(r.ts AS TIMESTAMP) AS asof_ts,
        |  r.view_value AS asof_view_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin,

    "q_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, round(max(value), 2) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |m AS (
        |  SELECT l.event_id, l.user_id, l.ts AS lts, r.ts AS rts,
        |    r.view_value
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND r.ts <= l.ts)
        |SELECT event_id, user_id,
        |  CASE WHEN rts IS NOT NULL
        |    AND date_diff('microsecond', rts, lts) <= 1800000000
        |    THEN CAST(rts AS TIMESTAMP) END AS asof_ts,
        |  CASE WHEN rts IS NOT NULL
        |    AND date_diff('microsecond', rts, lts) <= 1800000000
        |    THEN view_value END AS asof_view_value
        |FROM m""".stripMargin,

    "q_tumbling_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |          THEN 1 ELSE 0 END AS boundary
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_index
        |      FROM b)
        |SELECT user_id, session_index,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |  count(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf AS tf, df.df AS df,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INTEGER) AS rank FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM r
        |WHERE rank <= 3""".stripMargin,

    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g)
        |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        |  count(*) AS n_shared
        |FROM sh a JOIN sh b ON a.s = b.s
        |WHERE a.doc_id >= 50 AND b.doc_id < 50
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "q_vocab" ->
      """SELECT term, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT) AS id
        |FROM (SELECT w[i] AS term, count(*) AS n
        |      FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        |            FROM documents) t,
        |      LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
        |      WHERE w[i] <> '' GROUP BY 1 HAVING count(*) >= 5)""".stripMargin,

    "q_encode_docs" ->
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
        |  array_to_string(ids, ',') AS ids_csv FROM enc""".stripMargin,

    "q_pack" ->
      """SELECT doc_id, doc_id % 8 AS shard,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  CAST((sum(len(string_split_regex(trim(text), '\s+')))
        |          OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING)
        |        - len(string_split_regex(trim(text), '\s+'))) // 2048
        |    AS BIGINT) AS pack_id
        |FROM documents""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_range_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |             CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS win_start,
        |        CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS win_end
        |      FROM events WHERE event_type = 'view')
        |SELECT c.click_id, v.view_id, c.user_id
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND c.cts >= v.win_start AND c.cts <= v.win_end""".stripMargin,

    "q_interval_overlap" ->
      """WITH v AS (SELECT event_id AS view_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS v_start,
        |        CAST(ts AS TIMESTAMP) + INTERVAL 4 HOUR AS v_end
        |      FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id AS cu,
        |        CAST(ts AS TIMESTAMP) AS c_start,
        |        CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS c_end
        |      FROM events WHERE event_type = 'click')
        |SELECT v.view_id, c.click_id, v.user_id,
        |  epoch_us(greatest(v.v_start, c.c_start)) AS overlap_start,
        |  epoch_us(least(v.v_end, c.c_end)) AS overlap_end
        |FROM v JOIN c ON v.user_id = c.cu
        |  AND v.v_start <= c.c_end AND c.c_start <= v.v_end""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT l_returnflag, l_partkey, n, CAST(rank AS INTEGER) AS rank
        |FROM (
        |  SELECT l_returnflag, l_partkey, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_partkey) AS rank
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rank <= 3""".stripMargin,

    "q_sketch_quantiles" ->
      """SELECT event_type,
        |  round(quantile_disc(value, 0.25), 6) AS q25,
        |  round(quantile_disc(value, 0.50), 6) AS q50,
        |  round(quantile_disc(value, 0.75), 6) AS q75,
        |  round(quantile_disc(value, 0.95), 6) AS q95
        |FROM events GROUP BY 1""".stripMargin,

    "q_multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |FROM documents""".stripMargin,

    // images are doc_id%3=0 at fixed 64x48; a 32x32 box scales by 0.5 ->
    // 32x24 = 768 kept bytes. ASCII text: byte slice == char slice, so
    // md5(substring(text)) reproduces Spark's md5 over the binary column.
    "q_multimodal_resize" ->
      """SELECT doc_id AS asset_id,
        |  CAST(32 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
        |  CAST(least(strlen(text), 768) AS INTEGER) AS n_bytes,
        |  md5(substring(text, 1, 768)) AS content_md5
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    "q_multimodal_frames" ->
      """SELECT doc_id AS asset_id, CAST(u.i AS INTEGER) AS frame_idx,
        |  CAST(u.i * 1000 AS BIGINT) AS frame_ts_ms
        |FROM documents,
        |LATERAL (SELECT unnest(generate_series(
        |  0, CAST(doc_id % 5 AS INTEGER))) AS i) u
        |WHERE doc_id % 3 = 2""".stripMargin,

    // same sample by construction: k smallest md5 priorities per group
    // over distinct values (md5 collisions would be the only tie source)
    "q_kmv_sample" ->
      """WITH d AS (SELECT DISTINCT c_mktsegment, c_name FROM customer),
        |r AS (SELECT c_mktsegment, c_name, md5(c_name) AS priority,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY md5(c_name)) AS rn
        |  FROM d)
        |SELECT c_mktsegment, c_name AS item, priority
        |FROM r WHERE rn <= 5""".stripMargin,

    // 0-merge BPE: one token per non-space character (runs of spaces
    // contribute nothing, same as the split-and-drop-empties encode)
    "q_bpe_chars" ->
      """SELECT doc_id,
        |  CAST(coalesce(strlen(replace(text, ' ', '')), 0) AS INTEGER)
        |    AS n_tokens
        |FROM documents""".stripMargin,

    // regenerate the sawtooth arithmetically and replay the 16-bit
    // quantization: v = floor(x*32767+0.5)/32768 with x = (t%p)/p*2-1,
    // p a power of two so float and double representations coincide.
    "q_audio_features" ->
      """WITH params AS (
        |  SELECT doc_id,
        |    CAST(400 + (doc_id % 5) * 100 AS INTEGER) AS n,
        |    CAST(8 * (1 << CAST(doc_id % 4 AS INTEGER)) AS INTEGER) AS p
        |  FROM documents),
        |samples AS (
        |  SELECT doc_id, n, u.t,
        |    floor((CAST(u.t % p AS DOUBLE) / p * 2 - 1) * 32767 + 0.5)
        |      / 32768 AS v
        |  FROM params,
        |  LATERAL (SELECT unnest(generate_series(0, n - 1)) AS t) u),
        |lagged AS (
        |  SELECT doc_id, n, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        |  FROM samples)
        |SELECT doc_id AS asset_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(max(n) AS INTEGER) AS n_samples,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
        |    THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings,
        |  floor(sqrt(sum(v * v) / max(n)) * 1000000 + 0.5) / 1000000 AS rms
        |FROM lagged GROUP BY doc_id""".stripMargin,

    // every 2nd sample (8000->4000 is exact decimation), then BOTH
    // quantizations: encode, decode, re-encode, decode.
    "q_audio_resample" ->
      """WITH params AS (
        |  SELECT doc_id,
        |    CAST(400 + (doc_id % 5) * 100 AS INTEGER) AS n,
        |    CAST(8 * (1 << CAST(doc_id % 4 AS INTEGER)) AS INTEGER) AS p
        |  FROM documents),
        |samples AS (
        |  SELECT doc_id, n, u.j,
        |    floor(floor((CAST((u.j * 2) % p AS DOUBLE) / p * 2 - 1)
        |        * 32767 + 0.5) / 32768 * 32767 + 0.5) / 32768 AS v
        |  FROM params,
        |  LATERAL (SELECT unnest(generate_series(0, n // 2 - 1)) AS j) u),
        |lagged AS (
        |  SELECT doc_id, n, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv
        |  FROM samples)
        |SELECT doc_id AS asset_id, CAST(4000 AS INTEGER) AS sample_rate,
        |  CAST(max(n) // 2 AS INTEGER) AS n_samples,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
        |    THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings,
        |  floor(sqrt(sum(v * v) / (max(n) // 2)) * 1000000 + 0.5)
        |    / 1000000 AS rms
        |FROM lagged GROUP BY doc_id""".stripMargin,

    // bloom pruning is semantics-preserving (false positives die in the
    // real join), so the oracle is the undecorated join itself
    "q_bloom_pruned_join" ->
      """SELECT p.p_brand, count(*) AS n_items,
        |  round(sum(l.l_quantity), 2) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1 GROUP BY 1""".stripMargin,

    "q_dup_spans" ->
      """WITH grams AS (
        |  SELECT doc_id, substr(text, CAST(pos AS INT), 60) AS gram
        |  FROM documents,
        |  LATERAL (SELECT unnest(generate_series(1, length(text) - 59))
        |           AS pos) t
        |  WHERE length(text) >= 60)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM grams GROUP BY gram HAVING count(*) >= 2""".stripMargin,

    // the winnow selection replayed exactly: per-gram md5-seam hash
    // (first 8 hex digits, unsigned 32-bit), rightmost-minimum per
    // 8-window via ONE frame MIN over the composite key
    // h*2^24 + (2^24-1-pos) (min h; ties -> max pos, matching the
    // kernel's `<=` update), valid window starts only
    // (pos <= max(1, n-7); the frame self-truncates for docs with
    // n <= window), DISTINCT selected positions (argmin positions are
    // non-decreasing, so consecutive-dedup == distinct), then the same
    // dup-gram census as q_dup_spans over the selected grams
    "q_dup_spans_winnow" ->
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
        |FROM sgrams GROUP BY gram HAVING count(*) >= 2""".stripMargin,

    // md5-seam SimHash replayed from scratch: per-word 64-bit hash from
    // the first 16 md5 hex digits (two 8-digit halves; the signed-hi
    // subtraction reconstructs (hi32 << 32) | lo32 without BIGINT
    // overflow), ±1 votes per bit position, sign-of-tally signature
    // (bit 63 added as the Long min literal — DuckDB's << errors at 63),
    // then BRUTE-FORCE all pairs at hamming <= 3 — certifying the
    // pigeonhole banding's completeness, not just its candidates
    "q_dedup_simhash" ->
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
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,

    // the staged literal-basis projection replayed term-for-term: each
    // component j reads its coordinate quadruple (p+1..p+4, 1-based)
    // with the H4 sign pattern; (s*q)/2 equals the kernel's q*(±0.5)
    // exactly (negation and halving are IEEE-exact), the leading
    // CAST(0 AS DOUBLE) mirrors the fold's +0.0 init (so a -0.0 never
    // survives), and round(·,6) is the identity on the 2^-5 lattice
    "q_pca_project" ->
      """WITH q AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 2000 AND embedding IS NOT NULL
        |    AND len(embedding) = 64
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |t AS (
        |  SELECT vec_id, c.j AS component,
        |    ((((CAST(0 AS DOUBLE)
        |      + (c.s1 * (floor(CAST(embedding[c.p + 1] AS DOUBLE) * 16)
        |                 / 16) / 2))
        |      + (c.s2 * (floor(CAST(embedding[c.p + 2] AS DOUBLE) * 16)
        |                 / 16) / 2))
        |      + (c.s3 * (floor(CAST(embedding[c.p + 3] AS DOUBLE) * 16)
        |                 / 16) / 2))
        |      + (c.s4 * (floor(CAST(embedding[c.p + 4] AS DOUBLE) * 16)
        |                 / 16) / 2)) AS v
        |  FROM q, (VALUES (0, 0, 1, 1, 1, 1), (1, 16, 1, -1, 1, -1),
        |                  (2, 32, 1, 1, -1, -1), (3, 48, 1, -1, -1, 1))
        |       AS c(j, p, s1, s2, s3, s4))
        |SELECT vec_id, CAST(component AS INTEGER) AS component,
        |  round(v, 6) AS value
        |FROM t""".stripMargin,

    // exact-below-k KMV regime: with k = 4096 >= NDV the bottom-k sketch
    // holds EVERY distinct 60-bit hash, so k_eff = distinct hash count,
    // kth_hash60 = the max hash, approx_distinct = the exact count —
    // all engine-replayable integers (distinct-by-hash on both sides,
    // so even a 60-bit collision could not diverge op from oracle)
    // replays the bottom-k SKETCH itself (row_number <= k over the hash
    // order), so the oracle is total: exact regime (NDV < k), the
    // NDV == k boundary, and the estimator regime all hash-match —
    // estimator as HUGEINT floor-div, kth == 0 guarded like the op
    "q_sketch_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
        |  FROM h)
        |SELECT event_type, CAST(count(*) AS INTEGER) AS k_eff,
        |  max(h) AS kth_hash60,
        |  CASE WHEN count(*) < 4096 OR max(h) = 0
        |       THEN CAST(count(*) AS BIGINT)
        |       ELSE CAST(CAST(4095 AS HUGEINT)
        |         * CAST(1152921504606846976 AS HUGEINT)
        |         // CAST(max(h) AS HUGEINT) AS BIGINT)
        |  END AS approx_distinct
        |FROM b WHERE r <= 4096
        |GROUP BY event_type""".stripMargin,

    // capacity >= |distinct items per group| at verify scale => MG counts
    // are provably exact, so the oracle is the exact two-stage top-k
    // (string tie-break on the stringified key, mirrored in eval())
    "q_approx_topk" ->
      """SELECT l_returnflag, item, est_count, CAST(rank AS INTEGER) AS rank
        |FROM (
        |  SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS item,
        |    count(*) AS est_count,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, CAST(l_partkey AS VARCHAR)) AS rank
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rank <= 3""".stripMargin,

    "q_dup_span_ranges" ->
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
        |FROM isl GROUP BY doc_id, island""".stripMargin,

    "q_outliers" ->
      """WITH stats AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  round((e.value - s.mu) / s.sd, 4) AS z4
        |FROM events e JOIN stats s USING (event_type)
        |WHERE s.sd > 0 AND abs((e.value - s.mu) / s.sd) > 3""".stripMargin,

    // owner per gram = first (doc_id, pos); non-owner occurrences merge to
    // islands (same construction as q_dup_span_ranges) and the kept text
    // is stitched from the inter-span segments + tail
    "q_cut_spans" ->
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
        |LEFT JOIN nsp USING (doc_id)""".stripMargin,

    // same island-merge + rebuild as q_cut_spans, but cut positions come
    // from the eval-gram join (no owner logic: every train occurrence of
    // an eval gram is cut) and only train docs (doc_id >= 50) are emitted
    "q_cut_contaminated" ->
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
        |WHERE d.doc_id >= 50""".stripMargin,

    // identical double formula on both sides (mn, sc = (mx-mn)/255.0, then
    // round((x-mn)/sc)): IEEE ops in the same order are bit-equal, codes
    // are exact integers, so sum/dim/floor(scale) compare exactly
    "q_quantize_int8" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, e, list_min(e) AS mn,
        |    (list_max(e) - list_min(e)) / 255.0 AS sc FROM v)
        |SELECT vec_id,
        |  CAST(CASE WHEN sc > 0
        |    THEN list_sum(list_transform(e, x -> round((x - mn) / sc)))
        |    ELSE 0 END AS BIGINT) AS q_sum,
        |  CAST(len(e) AS INTEGER) AS dim,
        |  CAST(floor(sc * 1e9) AS BIGINT) AS scale_1e9
        |FROM s""".stripMargin,

    // PQ encode with the data-row codebooks: per (vector, subspace) the
    // argmin-L2 code, ties to the smallest code. list_distance is the
    // sqrt of the Spark side's squared-L2 — argmin-equivalent (monotone);
    // exact ties (identical slices) are exactly equal in both engines.
    "q_pq_encode" ->
      """WITH cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INTEGER) AS code, embedding
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |sub AS (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER)
        |          AS sub),
        |d AS (SELECT e.vec_id, sub.sub, cb.code,
        |    list_distance(
        |      CAST(list_slice(e.embedding, sub.sub*8+1, sub.sub*8+8)
        |        AS DOUBLE[]),
        |      CAST(list_slice(cb.embedding, sub.sub*8+1, sub.sub*8+8)
        |        AS DOUBLE[])) AS dist
        |  FROM embeddings e CROSS JOIN sub CROSS JOIN cb),
        |r AS (SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, code) AS rn
        |  FROM d)
        |SELECT vec_id, sub, code FROM r WHERE rn = 1""".stripMargin,

    "q_scd2" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS valid_from,
        |  lead(CAST(ts AS TIMESTAMP)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL) AS is_current
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "q_snapshot_at" ->
      """SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |FROM (SELECT user_id, event_id, event_type, ts,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "q_confusion_matrix" ->
      """SELECT lang AS label,
        |  CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END
        |    AS pred,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // integer kappa sources; the pe join is inner (a label only one
    // rater used contributes 0), HUGEINT sums cast back to BIGINT
    "q_cohen_kappa" ->
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
        |FROM tot CROSS JOIN pe""".stripMargin,

    "q_merge_into" ->
      """WITH tgt AS (SELECT doc_id, text, source FROM documents
        |             WHERE doc_id % 7 <> 0),
        |src AS (SELECT doc_id, text || ' v2' AS text, source
        |        FROM documents WHERE doc_id % 3 = 0)
        |SELECT * FROM tgt
        |WHERE doc_id NOT IN (SELECT doc_id FROM src)
        |UNION ALL
        |SELECT * FROM src WHERE doc_id % 9 <> 0""".stripMargin,

    // one SELECT per check; Spark rlike and DuckDB regexp_matches are
    // both find-anywhere, identical under the ^$ anchors
    "q_expectations" ->
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
        |FROM documents""".stripMargin,

    // replays the tf-idf weight lattice (6-dp rounded) over TRIGRAM
    // terms, norms over ALL positive-idf terms, candidates+dot over
    // sub-cap terms only — the documented blocking semantics, identical
    // on both engines
    "q_tfidf_cosine_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x <> '') AS w
        |    FROM documents) t,
        |  LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |w AS (SELECT tf.doc_id, tf.term, df.df,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS w
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        |  WHERE round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) > 0),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
        |          FROM w GROUP BY 1),
        |inv AS (SELECT w.doc_id, w.term, w.w, norms.nrm FROM w
        |        JOIN norms USING (doc_id) WHERE w.df <= 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(sum(a.w * b.w) / (any_value(a.nrm) * any_value(b.nrm)), 6)
        |    AS cosine
        |FROM inv a JOIN inv b ON a.term = b.term
        |  AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING round(sum(a.w * b.w)
        |  / (any_value(a.nrm) * any_value(b.nrm)), 6) >= 0.2""".stripMargin,

    // the SAME literal Poisson(1) CDF thresholds the operator embeds
    // (never a computed exp(-1) ladder — 1-ulp drift between engines
    // would flip a multiplicity at a threshold boundary)
    "q_poisson_bootstrap" ->
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
        |FROM k GROUP BY 1""".stripMargin,

    "q_fleiss_kappa" ->
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
        |FROM items CROSS JOIN s2 CROSS JOIN marg""".stripMargin,

    // the q_hash_split 4-hex md5 decode, on the GROUP key (source)
    "q_kfold_assign" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  CAST((
        |    (instr('0123456789abcdef', substr(md5(source),1,1))-1)*4096
        |    + (instr('0123456789abcdef', substr(md5(source),2,1))-1)*256
        |    + (instr('0123456789abcdef', substr(md5(source),3,1))-1)*16
        |    + (instr('0123456789abcdef', substr(md5(source),4,1))-1)
        |  ) % 5 AS INTEGER) AS fold
        |FROM documents""".stripMargin,

    "q_take_n_per_group" ->
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 3""".stripMargin,

    // replays the exact Laplace inverse-CDF draw: u from the md5
    // lattice of (lang|source|seed), x = -(1/eps)*sgn(u-.5)*ln(1-2|u-.5|);
    // coalesce-to-chr(0) mirrors the operator's null-group sentinel (||
    // would NULL-propagate and flake the first null-group corpus)
    "q_dp_counts" ->
      """WITH g AS (SELECT lang, source, count(*) AS n,
        |    (CAST(('0x' || substr(md5(coalesce(lang, chr(0)) || '|' ||
        |      coalesce(source, chr(0)) || '|dp'),
        |      1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, source,
        |  round(n + (-1.0 / 0.5) * sign(u - 0.5)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n
        |FROM g""".stripMargin,

    // med/mad on the 6-dp rounded lattice BEFORE the comparison,
    // exactly as the operator
    "q_mad_outliers" ->
      """WITH med AS (SELECT round(quantile_cont(
        |    CAST(n_chars AS DOUBLE), 0.5), 6) AS med FROM documents),
        |mad AS (SELECT round(quantile_cont(
        |    abs(CAST(d.n_chars AS DOUBLE) - m.med), 0.5), 6) AS mad
        |  FROM documents d CROSS JOIN med m)
        |SELECT d.doc_id, d.n_chars, m.med, x.mad,
        |  abs(CAST(d.n_chars AS DOUBLE) - m.med) > 2.0 * x.mad
        |    AS is_outlier
        |FROM documents d CROSS JOIN med m CROSS JOIN mad x""".stripMargin,

    // strict > against the interpolated cut points, as the operator
    "q_quantile_bins" ->
      """WITH cuts AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
        |    [0.25, 0.5, 0.75]) AS c FROM documents)
        |SELECT d.doc_id, d.n_chars,
        |  CASE WHEN d.n_chars IS NULL THEN NULL ELSE
        |    CAST(len(list_filter(c, x -> CAST(d.n_chars AS DOUBLE) > x))
        |      AS INTEGER) END AS bin
        |FROM documents d CROSS JOIN cuts""".stripMargin,

    // the q_chunk CTE feeding the q_bm25_topk CTE feeding a best-chunk
    // parent aggregation — three certified oracles spliced end-to-end
    "q_rag_retrieve" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |c0 AS (SELECT doc_id, w,
        |    greatest(CAST(ceil(len(w) / 30.0) AS INTEGER), 1) AS nc FROM t),
        |x AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS k
        |      FROM c0),
        |chunks AS (SELECT doc_id * 1000000 + k AS chunk_id,
        |    doc_id AS parent,
        |    array_to_string(w[k*30+1 : k*30+40], ' ') AS ct FROM x),
        |tok AS (SELECT chunk_id,
        |    unnest(string_split_regex(lower(trim(ct)), '\s+')) AS term
        |  FROM chunks),
        |tf AS (SELECT chunk_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT chunk_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |qterm AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest(list_slice(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> ''), 1, 8)) AS term
        |  FROM documents WHERE doc_id < 3),
        |dft AS (
        |  SELECT tf.term, count(*) AS df FROM tf
        |  WHERE tf.term IN (SELECT term FROM qterm) GROUP BY 1),
        |scored AS (
        |  SELECT q.query_id, tf.chunk_id,
        |    round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6)
        |      AS bm25
        |  FROM qterm q
        |  JOIN tf ON tf.term = q.term
        |  JOIN dft d ON d.term = q.term
        |  JOIN dl ON dl.chunk_id = tf.chunk_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |hits AS (SELECT query_id, chunk_id, bm25 FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY bm25 DESC, chunk_id) AS rnk
        |  FROM scored) WHERE rnk <= 20),
        |best AS (SELECT query_id, chunk_id // 1000000 AS parent_id,
        |    max(bm25) AS best_bm25
        |  FROM hits GROUP BY 1, 2)
        |SELECT query_id, parent_id, best_bm25, CAST(rnk AS INTEGER)
        |    AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY best_bm25 DESC, parent_id) AS rnk FROM best) f
        |WHERE rnk <= 3""".stripMargin,

    // keep-each-dup w.p. ~1/n on the 60-bit integer md5 lattice — integer
    // DIVISION on both engines (multiplication would overflow; double
    // division desyncs past 2^53); chr(0) sentinel for null ids
    "q_soft_dedup" ->
      """WITH g AS (SELECT doc_id,
        |    count(*) OVER (PARTITION BY coalesce(md5(text), 'null'))
        |      AS dup_group_size
        |  FROM documents)
        |SELECT doc_id, CAST(dup_group_size AS BIGINT) AS dup_group_size,
        |  CAST(('0x' || substr(md5(
        |      coalesce(CAST(doc_id AS VARCHAR), chr(0))), 1, 15))
        |    AS BIGINT) < 1152921504606846976 // dup_group_size AS kept
        |FROM g""".stripMargin,

    // q_knn_classify's neighbor CTE with the different-label predicate —
    // null labels excluded on BOTH sides, exactly as the operator does
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 10 AND label IS NOT NULL),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e
        |  WHERE q.query_id <> e.vec_id AND e.label IS NOT NULL
        |    AND e.label <> q.ql)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,

    // the same ascending-i sequential product fold as the operator
    // (list_reduce folds left-to-right like Spark's aggregate), so the
    // IEEE doubles are bit-identical before the shared 6-dp round
    "q_pass_at_k" ->
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
        |FROM g""".stripMargin,

    // replace chain == the kernel's leftmost-longest single pass,
    // PROVABLY for this pattern set: the phrases share no border and
    // neither self-overlaps, so occurrences can never overlap in any
    // text ('*' occurs in no pattern, so masking can't cascade either)
    "q_mask_phrases" ->
      """SELECT doc_id,
        |  replace(replace(text, 'hash join', '*'),
        |    'merge join', '*') AS text
        |FROM documents""".stripMargin,

    // IDENTICAL SQL to q_hard_negatives: exhaustive candidates make the
    // staged rerank equal the one-shot form by construction
    "q_hard_negatives_from" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 10 AND label IS NOT NULL),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e
        |  WHERE q.query_id <> e.vec_id AND e.label IS NOT NULL
        |    AND e.label <> q.ql)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,

    // the exact bottom-64 union sketch replayed: 60-bit md5 hashes,
    // full-outer membership merge, k-row head, integer aggregates
    "q_overlap_estimate" ->
      """WITH a AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 3 <> 0),
        |b AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |u AS (SELECT coalesce(a.h, b.h) AS h,
        |    CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS ina,
        |    CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS inb
        |  FROM a FULL OUTER JOIN b ON a.h = b.h),
        |k AS (SELECT * FROM u ORDER BY h LIMIT 64)
        |SELECT CAST(count(*) AS BIGINT) AS k_eff,
        |  CAST(coalesce(sum(ina * inb), 0) AS BIGINT) AS n_both,
        |  CAST(coalesce(sum(ina), 0) AS BIGINT) AS n_a,
        |  CAST(coalesce(sum(inb), 0) AS BIGINT) AS n_b,
        |  CAST(coalesce(max(h), 0) AS BIGINT) AS kth_hash60
        |FROM k""".stripMargin,

    // IDENTICAL SQL to q_blocklist_phrases: the Aho–Corasick plan must
    // reproduce the theta-join's rows bit-for-bit
    "q_blocklist_phrases_ac" ->
      """SELECT doc_id, count(DISTINCT p) AS n_phrases,
        |  min(p) AS first_phrase
        |FROM documents,
        |  (SELECT unnest(['hash join', 'merge join', 'no such phrase'])
        |     AS p)
        |WHERE contains(lower(text), p)
        |GROUP BY doc_id""".stripMargin,

    // exact integer waterfilling replay: sources sorted by cap, first
    // rank whose even-split level undershoots its cap marks the
    // saturated/level boundary; integer division throughout
    "q_unimax" ->
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
        |FROM l""".stripMargin,

    // the q_decontaminate pair CTE grouped to eval-set level; LEFT joins
    // from the set totals so zero-hit sets report 0s
    "q_contamination_report" ->
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
        |LEFT JOIN hits h ON t.eval_set = h.eval_set""".stripMargin,

    // 0-merge byte-level BPE: one token per UTF-8 BYTE of each non-space
    // word (runs of spaces contribute nothing, as in the encode)
    "q_byte_bpe_chars" ->
      """SELECT doc_id,
        |  CAST(coalesce(octet_length(encode(replace(text, ' ', ''))), 0)
        |    AS INTEGER) AS n_tokens
        |FROM documents""".stripMargin,

    // the q_unimax waterfill CTEs + epoch fan-out + the
    // q_source_token_budget exclusive-cumsum remainder prefix
    "q_unimax_apply" ->
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
        |WHERE before < rem""".stripMargin,

    // quantize-first (round(x*1e6) exact in double), then integer sums:
    // the one covariance formulation that is order-independent
    "q_emb_moments" ->
      """WITH base AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings
        |  WHERE vec_id < 2000 AND embedding IS NOT NULL
        |    AND len(embedding) = 64),
        |pairs AS (
        |  SELECT s.i AS i, u.j AS j, q[s.i] AS xi, q[u.j] AS xj
        |  FROM base, generate_series(1, 64) s(i),
        |    generate_series(1, 64) u(j)
        |  WHERE u.j >= s.i)
        |SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
        |  count(*) AS n,
        |  CAST(sum(xi) AS BIGINT) AS s_i,
        |  CAST(sum(xj) AS BIGINT) AS s_j,
        |  CAST(sum(xi * xj) AS BIGINT) AS s_ij
        |FROM pairs GROUP BY 1, 2""".stripMargin,

    // zscore from explicit (n, sum, sum-of-squares) — exact on the
    // integer n_chars lattice in any summation order; minmax exact
    "q_normalize_scores" ->
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
        |FROM documents, s""".stripMargin,

    // quantile_cont == Spark's exact interpolated percentile (the
    // madOutliers precedent); stats rounded 6 dp before the division
    "q_normalize_robust" ->
      """WITH s AS (SELECT
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS med,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6) AS q1,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6) AS q3
        |  FROM documents)
        |SELECT doc_id, CASE WHEN q3 > q1
        |  THEN round((CAST(n_chars AS DOUBLE) - med) / (q3 - q1), 6)
        |  END AS norm
        |FROM documents, s""".stripMargin,

    "q_winsorize" ->
      """WITH c AS (SELECT
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.05), 6) AS wlo,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 6) AS whi
        |  FROM documents)
        |SELECT doc_id, CASE WHEN n_chars IS NULL THEN NULL
        |  ELSE round(least(greatest(CAST(n_chars AS DOUBLE), wlo), whi), 6)
        |  END AS winsorized
        |FROM documents, c""".stripMargin,

    // two independent 4-hex md5 windows -> PSM cut points (the
    // q_hash_split lattice, twice)
    "q_fim_transform" ->
      """WITH h AS (SELECT doc_id, text,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % (len(text) + 1) AS p1,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
        |      AS BIGINT) % (len(text) + 1) AS p2
        |  FROM documents WHERE doc_id < 500 AND text IS NOT NULL)
        |SELECT doc_id, CAST(least(p1, p2) AS INTEGER) AS fim_lo,
        |  CAST(greatest(p1, p2) AS INTEGER) AS fim_hi,
        |  '<PRE>' || substr(text, 1, least(p1, p2))
        |    || '<SUF>' || substr(text, greatest(p1, p2) + 1, len(text))
        |    || '<MID>' || substr(text, least(p1, p2) + 1,
        |         greatest(p1, p2) - least(p1, p2)) AS fim_text
        |FROM h""".stripMargin,

    // 5-turn construction -> the suffix-fit count is monotone, so the
    // cut point is 6 - fits; rendered with renderDialogs' template
    "q_truncate_dialogs" ->
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
        |FROM k""".stripMargin,

    // brute-force position scan (every offset tested) — the oracle for
    // the one-pass Aho-Corasick evidence kernel
    "q_kwic" ->
      """WITH d AS (SELECT doc_id, lower(text) AS text FROM documents
        |  WHERE text IS NOT NULL),
        |ph AS (SELECT unnest(['hash join', 'merge join']) AS phrase),
        |m AS (SELECT doc_id, text, phrase,
        |  list_filter(generate_series(1, len(text) - len(phrase) + 1),
        |    p -> substr(text, p, len(phrase)) = phrase) AS ps
        |  FROM d, ph),
        |hits AS (SELECT doc_id, text, phrase, unnest(ps) - 1 AS start
        |  FROM m)
        |SELECT doc_id, phrase, CAST(start AS INTEGER) AS start,
        |  substr(text, greatest(start + 1 - 24, 1), least(24, start))
        |    AS left_ctx,
        |  substr(text, start + len(phrase) + 1, 24) AS right_ctx
        |FROM hits""".stripMargin,

    // 8-bit ordinals on [0, 65536) (width 256 = power of two: the
    // bucket arithmetic is exact in double on both engines), clamped,
    // bits interleaved user_id -> even positions, event_id -> odd
    "q_zorder_key" ->
      """WITH o AS (SELECT event_id, user_id,
        |  least(greatest(CAST(floor(256 * CAST(user_id AS DOUBLE)
        |    / 256) AS BIGINT), 0), 255) AS ua,
        |  least(greatest(CAST(floor(256 * CAST(event_id AS DOUBLE)
        |    / 65536) AS BIGINT), 0), 255) AS ea
        |  FROM events)
        |SELECT event_id, user_id,
        |  (((ua >> 0) & 1) << 0) + (((ea >> 0) & 1) << 1)
        |  + (((ua >> 1) & 1) << 2) + (((ea >> 1) & 1) << 3)
        |  + (((ua >> 2) & 1) << 4) + (((ea >> 2) & 1) << 5)
        |  + (((ua >> 3) & 1) << 6) + (((ea >> 3) & 1) << 7)
        |  + (((ua >> 4) & 1) << 8) + (((ea >> 4) & 1) << 9)
        |  + (((ua >> 5) & 1) << 10) + (((ea >> 5) & 1) << 11)
        |  + (((ua >> 6) & 1) << 12) + (((ea >> 6) & 1) << 13)
        |  + (((ua >> 7) & 1) << 14) + (((ea >> 7) & 1) << 15) AS z
        |FROM o""".stripMargin,

    // disjoint, non-self-overlapping phrases + a mask with no pattern
    // characters: leftmost-longest AC == chained replace
    "q_mask_dialogs" ->
      """WITH m AS (SELECT doc_id AS dialog_id,
        |    replace(replace(lower(text), 'hash join', '[X]'),
        |      'merge join', '[X]') AS c1
        |  FROM documents WHERE doc_id < 500)
        |SELECT dialog_id,
        |  '<|user|>' || c1 || chr(10) || '<|assistant|>re: ' || c1
        |    AS rendered_text,
        |  CAST(len('<|user|>' || c1 || chr(10) || '<|assistant|>re: '
        |    || c1) AS BIGINT) AS n_render_chars
        |FROM m""".stripMargin,

    // step-for-step replica of the earliest-anchored definition: each
    // CTE narrows to (first event of step i >= t_{i-1}, <= anchor+window)
    "q_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |a2 AS (SELECT e.user_id, a1.t1, min(e.ts) AS t2
        |  FROM e JOIN a1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= a1.t1
        |    AND e.ts <= a1.t1 + INTERVAL 86400 SECOND
        |  GROUP BY 1, 2),
        |a3 AS (SELECT e.user_id, a2.t1, a2.t2, min(e.ts) AS t3
        |  FROM e JOIN a2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= a2.t2
        |    AND e.ts <= a2.t1 + INTERVAL 86400 SECOND
        |  GROUP BY 1, 2, 3)
        |SELECT a1.user_id, a1.t1, a2.t2, a3.t3,
        |  CAST(CASE WHEN a3.t3 IS NOT NULL THEN 3
        |    WHEN a2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS stage
        |FROM a1 LEFT JOIN a2 USING (user_id)
        |  LEFT JOIN a3 USING (user_id)""".stripMargin,

    "q_retention" ->
      """WITH b AS (SELECT user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM b GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w FROM b)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, w) / 7 AS INTEGER)
        |    AS offset_weeks,
        |  count(DISTINCT user_id) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    // lead over the same TOTAL (ts, type, event_id) order
    "q_event_transitions" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_type, event_id) AS next_type
        |  FROM e)
        |SELECT event_type, next_type, count(*) AS n
        |FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_sentence_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
        |    AS n_sentences,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(regexp_split_to_array(trim(text),
        |      '[ \t\n\f\r]+')) AS BIGINT) END AS n_words
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // integer-cents monetary (IEEE product + half-away round identical
    // cross-engine), day recency from the corpus max ts, q_quantile_bins'
    // strictly-below bin rule per dimension
    "q_rfm" ->
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
        |FROM base CROSS JOIN cuts""".stripMargin
  )
}
