package graft

import graft.ops.Pipelines
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Cross-stage invariants of the composed curation pipeline (each stage's
  * own semantics are covered by its operator spec/oracle — this checks
  * the composition).
  */
class PipelinesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("pipelines-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("curateCorpus: monotone stage counts, no surviving dups, bounded packs") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // synthetic eval set guaranteed to overlap: verbatim prefixes of two
    // real docs (3-gram overlap >= 2 requires >= 4 shared words)
    val eval = docs.orderBy("doc_id").limit(2)
      .select(col("doc_id") + 100000, col("text"))
      .toDF("doc_id", "text")

    val r = Pipelines.curateCorpus(docs, eval,
      langs = Seq("en"), minQuality = 0.0, maxRepetition = 0.9,
      nearDupThreshold = 0.5, chunkTokens = 32, chunkStride = 32,
      packBudget = 256)
    val report = r.report.collect().map(x => x.getString(0) -> x.getLong(1))
    val byStage = report.toMap

    // monotone: every doc-level stage can only shrink the row set
    val docStages = Seq("input+annotate", "quality-gate", "exact-dedup",
      "near-dedup", "decontaminate")
    docStages.sliding(2).foreach { case Seq(a, b) =>
      assert(byStage(b) <= byStage(a), s"$b grew vs $a: $report")
    }
    assert(byStage("decontaminate") > 0, s"nothing survived: $report")
    // the two eval-overlapping docs are gone
    assert(byStage("decontaminate") <= byStage("near-dedup") - 2)

    val chunks = r.chunks
    // chunking covers every surviving doc and splits respect doc keying
    assert(chunks.select(countDistinct("doc_id")).head().getLong(0)
      == byStage("decontaminate"))
    assert(chunks.groupBy("doc_id")
      .agg(countDistinct("split").as("n")).filter(col("n") > 1).count() == 0,
      "chunks of one doc must share its split")
    // pack identity is (split, shard, pack_id) — the cumulative sum is
    // split-local, so a pack never mixes train/val/test rows, and every
    // pack stays within budget + one overflowing chunk
    val packTotals = chunks.groupBy("split", "shard", "pack_id")
      .agg(sum("chunk_n_tokens").as("toks"),
        max("chunk_n_tokens").as("maxchunk"))
    assert(packTotals.filter(col("toks") - col("maxchunk") >= 256).count() == 0,
      "a pack exceeded budget before its final chunk")
    // split-local pack ids start at 0 within every (split, shard): the
    // cumulative sum restarted per split (the old bug packed across splits,
    // leaving per-split trees with holes)
    assert(chunks.groupBy("split", "shard").agg(min("pack_id").as("p0"))
      .filter(col("p0") =!= 0).count() == 0,
      "every (split, shard) should open with pack 0")
    // chunk token counts respect the chunk size
    assert(chunks.filter(col("chunk_n_tokens") > 32).count() == 0)
    // report has one row per stage boundary
    assert(report.map(_._1).toSeq ==
      Seq("input+annotate", "quality-gate", "exact-dedup", "near-dedup",
        "decontaminate", "chunk", "split+pack"))

    // publish: split-partitioned sorted shards round-trip completely
    val out = java.nio.file.Files.createTempDirectory("curated").toString
    Pipelines.publishCurated(r, out, shardsPerSplit = 2)
    val published = spark.read.parquet(out)
    assert(published.count() == chunks.count())
    assert(published.select("split").distinct().count()
      == chunks.select("split").distinct().count())

    // the _manifest is invisible to the tree read (underscore convention)
    // and its totals reconcile with the data exactly
    val mf = spark.read.json(s"$out/_manifest")
    assert(mf.agg(sum("n_chunks")).head().getLong(0) == chunks.count())
    assert(mf.agg(sum("n_tokens")).head().getLong(0)
      == chunks.agg(sum("n_tokens")).head().getLong(0))
    val mfKeyed = mf.select("split", "shard", "n_packs").collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    chunks.groupBy("split", "shard")
      .agg((max("pack_id") + 1L).as("np")).collect().foreach { x =>
        assert(mfKeyed((x.getString(0), x.getLong(1))) == x.getLong(2),
          "manifest pack counts must match the data")
      }

    // JSONL publish: same tree, same rows, text payloads intact
    val outJson = java.nio.file.Files.createTempDirectory("curatedj").toString
    Pipelines.publishCurated(r, outJson, shardsPerSplit = 2, format = "json")
    val publishedJson = spark.read.json(outJson)
    assert(publishedJson.count() == chunks.count())
    assert(publishedJson.select("chunk_key").distinct().count()
      == chunks.select("chunk_key").distinct().count())
  }

  test("cutSpanK stage removes residual duplicated substrings from chunks") {
    import spark.implicits._
    // two otherwise-distinct docs share a long boilerplate footer; a third
    // is unrelated; eval is disjoint
    val footer = "this is the standard boilerplate footer that is in every export"
    val docs = Seq(
      (1L, "the alpha document body is about one thing and another thing " + footer),
      (2L, "it is a totally different beta content and it is very long here " + footer),
      (3L, "the gamma text is unrelated and it is without the shared tail")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "there is no overlap of this with anything in that corpus"))
      .toDF("doc_id", "text")
    val r = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      cutSpanK = Some(20), chunkTokens = 64, chunkStride = 64,
      packBudget = 512)
    val texts = r.chunks.select("doc_id", "chunk_text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    // doc 1 (owner) keeps the footer, doc 2 lost it, doc 3 untouched
    assert(texts(1L).contains("boilerplate"))
    assert(!texts(2L).contains("boilerplate"))
    assert(texts(2L).contains("beta content"))
    assert(texts(3L).contains("gamma text"))
    assert(r.report.collect().map(_.getString(0)).contains("cut-spans"))
  }

  test("dedupLinesDelim stage drops repeated lines, owner doc keeps them") {
    import spark.implicits._
    val boiler = "subscribe to the newsletter for more updates and content"
    val docs = Seq(
      (1L, "the alpha document body is all about one particular topic\n" + boiler),
      (2L, boiler + "\nthe beta document is long and covers a different topic"),
      (3L, "the gamma text is its own unrelated and unshared content here")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "there is no overlap of this with anything in that corpus"))
      .toDF("doc_id", "text")
    val r = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      dedupLinesDelim = Some("\n"), chunkTokens = 64, chunkStride = 64,
      packBudget = 512)
    val texts = r.chunks.select("doc_id", "chunk_text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    // doc 1 owns the boilerplate line ((1, pos 1) < (2, pos 0)); doc 2
    // keeps only its own line; doc 3 untouched
    assert(texts(1L).contains("newsletter"))
    assert(!texts(2L).contains("newsletter"))
    assert(texts(2L).contains("beta document"))
    assert(texts(3L).contains("gamma text"))
    assert(r.report.collect().map(_.getString(0)).contains("dedup-lines"))
  }

  test("boilerplateMinDocs stage cuts per-source furniture, other source keeps it") {
    import spark.implicits._
    val nav = "subscribe to the newsletter for more updates and content"
    val docs = Seq(
      (1L, "s1", nav + "\nthe alpha document body is all about one particular topic"),
      (2L, "s1", nav + "\nthe beta document is long and covers a different topic"),
      (3L, "s1", nav + "\nthe gamma text is its own unrelated and unshared content"),
      (4L, "s2", nav + "\nthe delta document from another source keeps the line")
    ).toDF("doc_id", "source", "text")
    val eval = Seq((9L, "there is no overlap of this with anything in that corpus"))
      .toDF("doc_id", "text")
    val r = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      boilerplateMinDocs = Some(3L), chunkTokens = 64, chunkStride = 64,
      packBudget = 512)
    val texts = r.chunks.select("doc_id", "chunk_text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    // the nav line rides 3 distinct s1 docs -> cut from ALL of them (no
    // owner), but s2 saw it only once -> doc 4 keeps it
    assert(!texts(1L).contains("newsletter"))
    assert(!texts(2L).contains("newsletter"))
    assert(!texts(3L).contains("newsletter"))
    assert(texts(4L).contains("newsletter"))
    assert(texts(1L).contains("alpha document"))
    assert(r.report.collect().map(_.getString(0)).contains("strip-boilerplate"))
  }

  test("blocklist gate drops exactly the docs containing a listed word") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the alpha document body is all about one particular topic"),
      (2L, "the beta document mentions the forbidden casino word here"),
      (3L, "the gamma text is its own unrelated and unshared clean content")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "there is no overlap of this with anything in that corpus"))
      .toDF("doc_id", "text")
    val bl = Seq("casino", "lottery").toDF("term")
    val r = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      blocklist = Some(bl), chunkTokens = 64, chunkStride = 64,
      packBudget = 512)
    val kept = r.chunks.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    val report = r.report.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(report("blocklist-gate") == 2L)
  }

  test("maxCompressionRatio gate drops templated text repetition misses") {
    import spark.implicits._
    // doc 2 is serial-number text: every WORD is distinct (n-gram
    // repetition ~0, so the repetition gate passes it) but deflate
    // collapses the shared prefixes — exactly what the gate is for
    val serial = (1 to 120).map(i => f"the item$i%05d").mkString(" ")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then wanders " +
        "off across the wide river delta toward the distant green hills"),
      (2L, serial)
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "there is no overlap of this with anything here"))
      .toDF("doc_id", "text")
    def run(cap: Option[Double]) = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, maxCompressionRatio = cap,
      nearDupThreshold = 0.95, chunkTokens = 64, chunkStride = 64,
      packBudget = 512)
      .chunks.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(run(None) == Set(1L, 2L)) // without the gate both survive
    assert(run(Some(3.0)) == Set(1L)) // the serial doc deflates > 3x
  }

  test("lmKeepFrac gate keeps the exact head-fraction of the gated set") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val r = Pipelines.curateCorpus(docs, eval,
      langs = Seq("en"), minQuality = 0.0, maxRepetition = 0.9,
      nearDupThreshold = 0.5, lmKeepFrac = Some(0.6),
      chunkTokens = 32, chunkStride = 32, packBudget = 256)
    val byStage = r.report.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byStage.contains("lm-gate"), s"report misses lm-gate: $byStage")
    val gated = byStage("quality-gate").toDouble
    // keepHeadByScore keeps ranks < 0.6 * N exactly
    val expect = (0 until gated.toInt).count(_ < 0.6 * gated)
    assert(byStage("lm-gate") == expect,
      s"lm-gate kept ${byStage("lm-gate")}, expected $expect of $gated")
    assert(byStage("exact-dedup") <= byStage("lm-gate"))
    r.chunks.unpersist()
  }

  test("dsirTarget stage keeps exactly dsirKeepN docs, biased toward target") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val target = docs.filter(col("source").isin("src0", "src1"))
    val r = Pipelines.curateCorpus(docs, eval,
      langs = Seq("en"), minQuality = 0.0, maxRepetition = 0.9,
      nearDupThreshold = 0.5, dsirTarget = Some(target), dsirKeepN = 100,
      chunkTokens = 32, chunkStride = 32, packBudget = 256)
    val byStage = r.report.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byStage.contains("dsir-select"), s"report misses dsir-select: $byStage")
    assert(byStage("dsir-select") == 100L,
      s"dsir-select kept ${byStage("dsir-select")}, expected 100")
    assert(byStage("exact-dedup") <= byStage("dsir-select"))
    // the resample leans toward the target domain: target sources make up
    // 2/20 of the pool but should exceed that share in the selection
    val kept = r.chunks.select("doc_id").distinct()
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val share = kept.filter(col("source").isin("src0", "src1")).count()
      .toDouble / kept.count()
    assert(share > 0.1, f"target share $share%.3f not above the 0.10 base rate")
    r.chunks.unpersist()
  }

  test("clfWeights gate keeps only docs the linear model scores through") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    // weights that score every doc 0 -> sigmoid 0.5: threshold 0.6 drops
    // everything, 0.4 keeps everything (sharp, deterministic contrast)
    val zeroW = Seq(("the", 0.0)).toDF("term", "weight")
    def run(minScore: Double) = Pipelines.curateCorpus(docs, eval,
      langs = Seq("en"), minQuality = 0.0, maxRepetition = 0.9,
      nearDupThreshold = 0.5, clfWeights = Some(zeroW),
      clfMinScore = minScore,
      chunkTokens = 32, chunkStride = 32, packBudget = 256)
    val keep = run(0.4).report.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(keep("classifier-gate") == keep("quality-gate"),
      s"score 0.5 >= 0.4 must keep every gated doc: $keep")
    val drop = run(0.6)
    val dropStages = drop.report.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(dropStages("classifier-gate") == 0L,
      s"score 0.5 < 0.6 must drop every doc: $dropStages")
    assert(drop.chunks.isEmpty)
  }

  test("audit=false skips the per-stage counts and returns an empty report") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different second document body with other words"),
      (3L, "the third document is also its own thing with unique content")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    def run(audit: Boolean) = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      chunkTokens = 32, chunkStride = 32, packBudget = 128, audit = audit)
    val audited = run(audit = true)
    val silent = run(audit = false)
    // identical curated output, zero report rows (and zero count actions)
    assert(silent.report.isEmpty)
    assert(silent.report.columns.toSeq == Seq("stage", "rows"))
    val a = audited.chunks.orderBy("chunk_key").collect().toSeq
    val b = silent.chunks.orderBy("chunk_key").collect().toSeq
    assert(a == b, "audit flag must not change the curated chunks")
    audited.chunks.unpersist(); silent.chunks.unpersist()
  }

  test("curateCorpus labels its stages and restores the caller's description") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different second document body with other words")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val r = Pipelines.curateCorpus(docs, eval, minQuality = 0.0,
        maxRepetition = 0.95, nearDupThreshold = 0.95, chunkTokens = 32,
        chunkStride = 32, packBudget = 128)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      r.chunks.unpersist()
    } finally sc.setJobDescription(null)
  }

  test("parMinWords stage cuts heuristic boilerplate paragraphs") {
    import spark.implicits._
    val prose = "the cat sat on the mat and then it sat down again today"
    val nav = "Home | About | Contact | Login | Register | Search | Help | FAQ"
    val docs = Seq(
      (1L, s"$prose\n$nav"),
      (2L, s"this is another long sentence of prose with the usual words in it")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val r = Pipelines.curateCorpus(docs, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      parMinWords = Some(8), parMinStopRatio = 0.15,
      chunkTokens = 64, chunkStride = 64, packBudget = 256)
    assert(r.report.collect().map(_.getString(0))
      .contains("filter-paragraphs"))
    val texts = r.chunks.select("chunk_text").collect().map(_.getString(0))
    assert(texts.nonEmpty && texts.forall(!_.contains("Home")),
      s"nav paragraph must be cut: ${texts.toSeq}")
    assert(texts.exists(_.contains("cat sat")), "prose must survive")
    r.chunks.unpersist()
  }

  test("urlCol stage collapses crawl URL variants before any text work") {
    import spark.implicits._
    val body = "the cat sat on the mat and then it sat down again today"
    val docs = Seq(
      (1L, "https://example.com/a?b=2&a=1", body),
      (2L, "HTTPS://Example.COM:443/a/?a=1&b=2&utm_source=x#f", body + " x"),
      (3L, "https://example.com/other", "this is another long sentence of prose with the usual words here")
    ).toDF("doc_id", "url", "text")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val r = Pipelines.curateCorpus(docs, eval, urlCol = Some("url"),
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
      chunkTokens = 64, chunkStride = 64, packBudget = 256)
    val stages = r.report.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(stages("url-dedup") == 2, s"URL variants must collapse: $stages")
    assert(!r.chunks.select("doc_id").collect().map(_.getLong(0)).contains(2L))
    r.chunks.unpersist()
  }

  test("curateBatch urlCol: cross-day canonical-URL rejection") {
    import spark.implicits._
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val day1 = Seq(
      (1L, "https://example.com/a?b=2&a=1",
        "the cat sat on the mat and then the dog sat down too"))
      .toDF("doc_id", "url", "text")
    def curate(state: Pipelines.CorpusState, batch: org.apache.spark.sql.DataFrame) =
      Pipelines.curateBatch(state, batch, eval,
        minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.95,
        urlCol = Some("url"),
        chunkTokens = 64, chunkStride = 64, packBudget = 256)
    val r1 = curate(
      Pipelines.initCorpusState(day1.limit(0), urlCol = Some("url")), day1)
    assert(r1.admitted.count() == 1)
    val day2 = Seq(
      // same page, URL variant, DIFFERENT text: only the URL state can
      // catch it (text dedup sees fresh content)
      (10L, "HTTPS://Example.COM:443/a/?a=1&b=2&utm_source=x#f",
        "a fresh rewrite of the page with entirely different words in it"),
      // novel page
      (11L, "https://example.com/b",
        "this is another long sentence of prose with the usual words here"),
      // null URL must pass straight through to the text gates
      (12L, null,
        "a third document body that is genuinely new and quite unlike others"))
      .toDF("doc_id", "url", "text")
    val r2 = curate(r1.state, day2)
    val admitted2 = r2.admitted.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(admitted2 == Set(11L, 12L),
      s"day-1 URL variant must be rejected, null URL admitted: $admitted2")
    // the state rolls forward: day-3 replay of day-2's URL is rejected
    val day3 = Seq((20L, "https://example.com/b?utm_source=z",
      "completely new words again for the third day of crawling"))
      .toDF("doc_id", "url", "text")
    val r3 = curate(r2.state, day3)
    assert(r3.admitted.count() == 0)
    r1.chunks.unpersist(); r2.chunks.unpersist(); r3.chunks.unpersist()
  }

  test("curateBatch day-1 with empty state equals curateCorpus") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val eval = docs.orderBy("doc_id").limit(2)
      .select(col("doc_id") + 100000, col("text"))
      .toDF("doc_id", "text")
    val full = Pipelines.curateCorpus(docs, eval,
      langs = Seq("en"), minQuality = 0.0, maxRepetition = 0.9,
      nearDupThreshold = 0.5, chunkTokens = 32, chunkStride = 32,
      packBudget = 256)
    val empty = Pipelines.initCorpusState(docs.limit(0))
    val inc = Pipelines.curateBatch(empty, docs, eval,
      langs = Seq("en"), minQuality = 0.0, maxRepetition = 0.9,
      nearDupThreshold = 0.5, chunkTokens = 32, chunkStride = 32,
      packBudget = 256)
    val a = full.chunks.orderBy("split", "shard", "pack_id", "chunk_key")
      .collect().toSeq
    val b = inc.chunks.orderBy("split", "shard", "pack_id", "chunk_key")
      .collect().toSeq
    assert(a.nonEmpty && a == b,
      "day-1 incremental curation must equal the full-corpus run")
    full.chunks.unpersist(); inc.chunks.unpersist()
  }

  test("curateBatch cross-day: exact/near dups and repeated lines rejected") {
    import spark.implicits._
    val day1 = Seq(
      (1L, "the cat sat on the mat and then the dog sat down too\nthis footer line is shared by many of the documents"),
      (2L, "a completely different second document body with some other words in it\nanother unique closing line for this one"),
      (3L, "the third document is entirely its own thing with unique content")
    ).toDF("doc_id", "text")
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    def curate(state: Pipelines.CorpusState, batch: org.apache.spark.sql.DataFrame) =
      Pipelines.curateBatch(state, batch, eval,
        minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.6,
        dedupLinesDelim = Some("\n"),
        chunkTokens = 64, chunkStride = 64, packBudget = 256)

    val r1 = curate(Pipelines.initCorpusState(day1.limit(0)), day1)
    assert(r1.admitted.count() == 3)

    val day2 = Seq(
      // exact dup of day-1 doc 1 (ws/case-normalized)
      (10L, "THE cat sat  on the mat and then the dog sat down too\nthis footer line is shared by many of the documents"),
      // near dup of day-1 doc 2 (one word changed)
      (11L, "a completely different second document body with some newer words in it\nanother unique closing line for this one"),
      // novel doc that REUSES day-1's footer line: admitted, line cut
      (12L, "fresh content for the second day that is nothing like the earlier ones\nthis footer line is shared by many of the documents"),
      // fully novel
      (13L, "entirely new material on the second day with its own words here")
    ).toDF("doc_id", "text")
    val r2 = curate(r1.state, day2)
    val admitted2 = r2.admitted.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(admitted2 == Set(12L, 13L),
      s"exact (10) and near (11) dups must be rejected, got $admitted2")
    val doc12 = r2.admitted.filter(col("doc_id") === 12L)
      .select("text").head().getString(0)
    assert(!doc12.contains("footer line"),
      s"day-1 line must be cut from day-2 text, got: $doc12")

    // day-3 replay of day-2's novel doc: now an exact dup of admitted state
    val day3 = Seq(
      (20L, "entirely new material on the second day with its own words here"),
      (21L, "a third day document that is genuinely new and quite unlike the others")
    ).toDF("doc_id", "text")
    val r3 = curate(r2.state, day3)
    val admitted3 = r3.admitted.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(admitted3 == Set(21L),
      s"doc admitted on day 2 must block its day-3 twin, got $admitted3")
    r1.chunks.unpersist(); r2.chunks.unpersist(); r3.chunks.unpersist()
  }
}
