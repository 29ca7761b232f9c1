package graft.queries

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Image and audio decode, feature and near-duplicate queries.
  */
object MultimodalQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_image_neardup", (s, d) => {
      // REAL ImageIO decode → dHash → hamming band join over a
      // deterministic PNG corpus bound to documents (groups of 4 planted
      // near-identical images). Codec output isn't SQL-expressible →
      // rows-only; the pairing semantics are oracle-certified by
      // q_hamming_pairs and the hash by ImageHashSpec goldens.
      graft.ops.Multimodal.imageNearDups(
        graft.ops.Multimodal.imagesFromDocuments(par(s, t(s, d, "documents"))),
        maxHamming = 6)
    }, NoOracle("image codec output has no SQL replay; q_hamming_pairs " +
      "certifies the pairing, ImageHashSpec the hash")),

    QueryDef("q_multimodal_features", (s, d) => {
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
    }, Sql(
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |FROM documents""".stripMargin)),

    QueryDef("q_multimodal_resize", (s, d) => {
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
    }, Sql(
      // images are doc_id%3=0 at fixed 64x48; a 32x32 box scales by 0.5 ->
      // 32x24 = 768 kept bytes. ASCII text: byte slice == char slice, so
      // md5(substring(text)) reproduces Spark's md5 over the binary column.
      """SELECT doc_id AS asset_id,
        |  CAST(32 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
        |  CAST(least(strlen(text), 768) AS INTEGER) AS n_bytes,
        |  md5(substring(text, 1, 768)) AS content_md5
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin)),

    QueryDef("q_multimodal_frames", (s, d) => {
      // video frame-sampling fan-out: generator over duration, one row per
      // sampled frame — deterministic, so oracle-checked
      graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.assetsFromDocuments(par(s, t(s, d, "documents"))))
        .select("asset_id", "frame_idx", "frame_ts_ms")
    }, Sql(
      """SELECT doc_id AS asset_id, CAST(u.i AS INTEGER) AS frame_idx,
        |  CAST(u.i * 1000 AS BIGINT) AS frame_ts_ms
        |FROM documents,
        |LATERAL (SELECT unnest(generate_series(
        |  0, CAST(doc_id % 5 AS INTEGER))) AS i) u
        |WHERE doc_id % 3 = 2""".stripMargin)),

    QueryDef("q_audio_features", (s, d) => {
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
    }, Sql(
      // regenerate the sawtooth arithmetically and replay the 16-bit
      // quantization: v = floor(x*32767+0.5)/32768 with x = (t%p)/p*2-1,
      // p a power of two so float and double representations coincide.
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
        |FROM lagged GROUP BY doc_id""".stripMargin)),

    QueryDef("q_audio_resample", (s, d) => {
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
    }, Sql(
      // every 2nd sample (8000->4000 is exact decimation), then BOTH
      // quantizations: encode, decode, re-encode, decode.
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
        |FROM lagged GROUP BY doc_id""".stripMargin))
  )
}
