package graft

import graft.ops.{Dedup, Multimodal}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Image perceptual hashing (dHash) and the generic Hamming-distance
  * near-pair join behind it.
  */
class ImageHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("image-hash-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def decode(bytes: Array[Byte]) =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  test("dHash64 goldens: horizontal gradient = all ones, vertical = zero") {
    // luminance strictly increasing left-to-right: every adjacent cell
    // comparison fires -> all 64 bits set
    val horiz = Multimodal.pngBytes(90, 80, (x, _) => {
      val v = x * 255 / 89; (v << 16) | (v << 8) | v
    })
    assert(Multimodal.dHash64(decode(horiz)) == -1L)
    // luminance varies only vertically: rows are flat left-to-right
    val vert = Multimodal.pngBytes(90, 80, (_, y) => {
      val v = y * 255 / 79; (v << 16) | (v << 8) | v
    })
    assert(Multimodal.dHash64(decode(vert)) == 0L)
  }

  test("dHash64 is scale-invariant for block-constant images") {
    def pattern(cells: (Int, Int) => Int)(scale: Int) =
      Multimodal.dHash64(decode(Multimodal.pngBytes(9 * scale, 8 * scale,
        (x, y) => { val v = cells(x / scale, y / scale); (v << 16) | (v << 8) | v })))
    val cells = (cx: Int, cy: Int) => ((cx * 37 + cy * 91 + 13) * 53) % 256
    val h1 = pattern(cells)(1)
    assert(h1 == pattern(cells)(3) && h1 == pattern(cells)(10))
    assert(h1 != 0L && h1 != -1L)
  }

  test("one perturbed grid cell moves at most 2 dHash bits") {
    val base = (c: Int) => (c * 97 + 31) % 256
    def png(f: Int => Int) = Multimodal.pngBytes(9, 8, (x, y) => {
      val v = f(y * 9 + x); (v << 16) | (v << 8) | v
    })
    val h0 = Multimodal.dHash64(decode(png(base)))
    for (cell <- Seq(0, 8, 35, 71)) {
      val hp = Multimodal.dHash64(decode(png(c =>
        if (c == cell) (base(c) + 128) % 256 else base(c))))
      assert(java.lang.Long.bitCount(h0 ^ hp) <= 2,
        s"cell $cell moved more than 2 bits")
    }
  }

  test("imageHashes: null hash for undecodable payloads, real hash for PNGs") {
    import spark.implicits._
    val png = Multimodal.pngBytes(9, 8, (x, y) => (x * 28 + y) * 0x010101)
    val assets = Seq(
      Multimodal.Asset(1L, "image", png, "image/png", 9, 8, 0L),
      Multimodal.Asset(2L, "image", "not an image".getBytes, "image/png", 0, 0, 0L),
      Multimodal.Asset(3L, "audio", png, "audio/wav", 0, 0, 0L)
    ).toDS()
    val rows = Multimodal.imageHashes(assets).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows.keySet == Set(1L, 2L)) // audio rows excluded
    assert(rows(1L).contains(Multimodal.dHash64(decode(png))))
    assert(rows(2L).isEmpty)
  }

  test("imageNearDups finds planted near-identical groups, not cross-group") {
    import spark.implicits._
    val docs = spark.range(16).toDF("doc_id")
    val assets = Multimodal.imagesFromDocuments(docs)
    val pairs = Multimodal.imageNearDups(assets, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // every intra-group pair (groups of 4 consecutive ids) must be found
    for (g <- 0 until 4; a <- 0 until 4; b <- a + 1 until 4) {
      val key = (g * 4L + a, g * 4L + b)
      assert(pairs.contains(key), s"missing planted pair $key")
      assert(pairs(key) <= 4, s"planted pair $key hamming ${pairs(key)} > 4")
    }
    // pseudo-random cross-group patterns stay far apart
    assert(pairs.keys.forall { case (a, b) => a / 4 == b / 4 },
      "accidental cross-group near pair")
  }

  test("hammingPairs equals brute force on arbitrary hashes (incl. maxHamming=0)") {
    import spark.implicits._
    val hashes = (0L until 64L).map(i =>
      (i, (i / 8) * 0x9E3779B97F4A7C15L ^ (1L << ((i % 8) * 7))))
    val df = hashes.toDF("doc_id", "hash64")
    for (maxH <- Seq(0, 2, 3, 7)) {
      val got = Dedup.hammingPairs(df, maxH, "doc_id", "hash64").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= maxH
      } yield (ia, ib, d)).toSet
      assert(got == want, s"maxHamming=$maxH")
    }
  }

  test("simhashPairs delegates to hammingPairs unchanged") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content about spark catalyst plans")
    ).toDF("doc_id", "text")
    val viaText = Dedup.simhashPairs(docs, maxHamming = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hashed = docs.select(col("doc_id"),
      graft.functions.CorpusFunctions.simhash64(col("text")).as("h"))
    val viaHash = Dedup.hammingPairs(hashed, 10, "doc_id", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaText == viaHash)
  }
}
