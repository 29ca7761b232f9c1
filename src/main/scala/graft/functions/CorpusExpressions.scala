package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions over [[CorpusKernels]] — the dedup / text-analysis
  * primitives as codegen'd scalar functions. Each is a direct static call
  * inside whole-stage codegen; signatures/buckets are deterministic across
  * executors (seeded MurmurHash3), which is what makes the LSH band joins
  * in [[graft.ops.Dedup]] correct on a real cluster.
  */

private[graft] trait StaticCall { self: Expression =>
  /** fully-qualified static target, e.g. "graft.functions.CorpusKernels.simHash" */
  def staticMethod: String
}

case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(CorpusKernels.minHashSignature(
      input.asInstanceOf[UTF8String].toString, k, numHashes))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.minHashSignature($c.toString(), $k, $numHashes))")
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** `md5Seam = true` switches the word hash to the md5-derived
  * certification seam ([[CorpusKernels.simHashMd5]]) — SQL-replayable,
  * used only by contract queries; production defaults to MurmurHash3.
  */
case class SimHash64(child: Expression, md5Seam: Boolean = false)
    extends UnaryExpression {
  private def fn: String = if (md5Seam) "simHashMd5" else "simHash"
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    if (md5Seam)
      CorpusKernels.simHashMd5(input.asInstanceOf[UTF8String].toString)
    else CorpusKernels.simHash(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CorpusKernels.$fn($c.toString())")
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
  override def prettyName: String = "simhash64"
}

case class DocFingerprint(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    CorpusKernels.fingerprint(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CorpusKernels.fingerprint($c.toString())")
  override protected def withNewChildInternal(c: Expression): DocFingerprint =
    copy(child = c)
  override def prettyName: String = "doc_fingerprint"
}

case class Winnow(child: Expression, k: Int, window: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(CorpusKernels.winnow(
      input.asInstanceOf[UTF8String].toString, k, window))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.winnow($c.toString(), $k, $window))")
  override protected def withNewChildInternal(c: Expression): Winnow =
    copy(child = c)
  override def prettyName: String = "winnow"
}

/** Winnowing-selected gram start positions (1-based) — see
  * [[CorpusKernels.winnowPositions]]. `md5Seam = true` switches the gram
  * hash to the md5 certification seam
  * ([[CorpusKernels.winnowPositionsMd5]]).
  */
case class WinnowPositions(child: Expression, k: Int, window: Int,
                           md5Seam: Boolean = false)
    extends UnaryExpression {
  private def fn: String =
    if (md5Seam) "winnowPositionsMd5" else "winnowPositions"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(
      if (md5Seam)
        CorpusKernels.winnowPositionsMd5(
          input.asInstanceOf[UTF8String].toString, k, window)
      else CorpusKernels.winnowPositions(
        input.asInstanceOf[UTF8String].toString, k, window))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.$fn($c.toString(), $k, $window))")
  override protected def withNewChildInternal(c: Expression): WinnowPositions =
    copy(child = c)
  override def prettyName: String = "winnow_positions"
}

case class LangId(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      CorpusKernels.langId(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.CorpusKernels.langId($c.toString()))")
  override protected def withNewChildInternal(c: Expression): LangId =
    copy(child = c)
  override def prettyName: String = "lang_id"
}

/** DEFLATE-compressed byte length of the UTF-8 text — the
  * compression-ratio quality signal's numerator source
  * ([[CorpusKernels.deflateLen]]); ratio = octet_length / deflate_len,
  * with repetitive/templated text compressing far below prose.
  */
case class DeflateLen(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    CorpusKernels.deflateLen(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CorpusKernels.deflateLen($c.toString())")
  override protected def withNewChildInternal(c: Expression): DeflateLen =
    copy(child = c)
  override def prettyName: String = "deflate_len"
}

case class TokenCountBpeIsh(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    CorpusKernels.tokenCountBpeIsh(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CorpusKernels.tokenCountBpeIsh($c.toString())")
  override protected def withNewChildInternal(c: Expression): TokenCountBpeIsh =
    copy(child = c)
  override def prettyName: String = "token_count_bpeish"
}

case class JaccardWordShingles(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.jaccardWordShingles(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.jaccardWordShingles($l.toString(), $r.toString(), $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardWordShingles =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_word_shingles"
}

/** ROUGE-L kernel: LCS length of the two sides' lowercased whitespace
  * token sequences ([[CorpusKernels.lcsTokens]] — capped DP, integer
  * output by the data-card rule).
  */
case class LcsTokens(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.lcsTokens(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.lcsTokens($l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LcsTokens =
    copy(left = l, right = r)
  override def prettyName: String = "lcs_tokens"
}

case class JaccardCharShingles(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.jaccardShingles(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.jaccardShingles($l.toString(), $r.toString(), $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardCharShingles =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_char_shingles"
}

case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(CorpusKernels.wordShingleHashes(
      input.asInstanceOf[UTF8String].toString, n))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.wordShingleHashes($c.toString(), $n))")
  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** [[WordShingles]] with md5-derived gram hashes
  * ([[CorpusKernels.wordShingleHashesMd5]]) — the word-gram
  * certification seam; production keeps the MurmurHash3 [[WordShingles]].
  */
case class WordShinglesMd5(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(CorpusKernels.wordShingleHashesMd5(
      input.asInstanceOf[UTF8String].toString, n))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.wordShingleHashesMd5($c.toString(), $n))")
  override protected def withNewChildInternal(c: Expression): WordShinglesMd5 =
    copy(child = c)
  override def prettyName: String = "word_shingles_md5"
}

/** Sorted distinct char-k-shingle hash array of a string. */
case class SortedShingles(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(CorpusKernels.sortedShingles(
      input.asInstanceOf[UTF8String].toString, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.sortedShingles($c.toString(), $k))")
  override protected def withNewChildInternal(c: Expression): SortedShingles =
    copy(child = c)
  override def prettyName: String = "sorted_shingles"
}

/** [[SortedShingles]] with md5-derived gram hashes
  * ([[CorpusKernels.shingleHashesMd5]], unsigned 32-bit values in Longs)
  * — the minhash family's certification seam: a SQL oracle recomputes
  * the same hash per k-gram from `md5()` and dedups by IT, so op and
  * oracle shingle sets are identical by construction. Production keeps
  * the MurmurHash3 [[SortedShingles]].
  */
case class SortedShinglesMd5(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(CorpusKernels.shingleHashesMd5(
      input.asInstanceOf[UTF8String].toString, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.CorpusKernels.shingleHashesMd5($c.toString(), $k))")
  override protected def withNewChildInternal(c: Expression): SortedShinglesMd5 =
    copy(child = c)
  override def prettyName: String = "sorted_shingles_md5"
}

/** Jaccard of two pre-sorted distinct long arrays (merge intersection) —
  * the md5-seam twin of [[JaccardSortedArrays]].
  */
case class JaccardSortedLongArrays(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.jaccardSortedLongArrays(
      l.asInstanceOf[ArrayData].toLongArray(), r.asInstanceOf[ArrayData].toLongArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.jaccardSortedLongArrays($l.toLongArray(), $r.toLongArray())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedLongArrays =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sorted_long_arrays"
}

/** Jaccard of two pre-sorted distinct int arrays (merge intersection). */
case class JaccardSortedArrays(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.jaccardSortedArrays(
      l.asInstanceOf[ArrayData].toIntArray(), r.asInstanceOf[ArrayData].toIntArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.jaccardSortedArrays($l.toIntArray(), $r.toIntArray())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedArrays =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sorted_arrays"
}

/** MinHash-signature agreement fraction (Jaccard estimator). */
case class SigAgreement(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.sigAgreement(
      l.asInstanceOf[ArrayData].toLongArray(), r.asInstanceOf[ArrayData].toLongArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.sigAgreement($l.toLongArray(), $r.toLongArray())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreement =
    copy(left = l, right = r)
  override def prettyName: String = "sig_agreement"
}

/** Cosine similarity of two float vectors (array<float>). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    CorpusKernels.cosine(
      l.asInstanceOf[ArrayData].toFloatArray(),
      r.asInstanceOf[ArrayData].toFloatArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.CorpusKernels.cosine($l.toFloatArray(), $r.toFloatArray())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Per-document Gopher repetition statistics in one codegen'd pass — see
  * [[CorpusKernels.repetitionStatsRow]]. Replaces an explode + two
  * shuffle-aggregation chains keyed by line/gram TEXT: document-local
  * statistics never need to leave the document's row.
  */
case class RepetitionStats(child: Expression, n: Int, delim: String)
    extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("dup_line_frac_u6", LongType, nullable = false),
    StructField("dup_line_char_frac_u6", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = false),
    StructField("top_gram_char_frac_u6", LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    CorpusKernels.repetitionStatsRow(
      input.asInstanceOf[UTF8String].toString, n, delim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the delimiter may hold control chars (\n) — ship it as a reference
    // object instead of splicing a literal into the generated source
    val delimRef = ctx.addReferenceObj("delim", delim, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CorpusKernels.repetitionStatsRow($c.toString(), $n, $delimRef)")
  }
  override protected def withNewChildInternal(c: Expression): RepetitionStats =
    copy(child = c)
  override def prettyName: String = "repetition_stats"
}

/** Random-hyperplane LSH signature of a float vector: `planes` sign bits
  * packed into a long. Hyperplanes are deterministic (seeded) — identical
  * on every executor, so bucket joins are correct distributed.
  */
case class HyperplaneSig(child: Expression, planes: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 64, "1..64 planes fit a long")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    CorpusKernels.hyperplaneSig(
      input.asInstanceOf[ArrayData].toFloatArray(), planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CorpusKernels.hyperplaneSig($c.toFloatArray(), $planes)")
  override protected def withNewChildInternal(c: Expression): HyperplaneSig =
    copy(child = c)
  override def prettyName: String = "hyperplane_sig"
}

/** Column-level API for the corpus operators. */
object CorpusFunctions {
  def minhash_sig(c: Column, k: Int = 5, numHashes: Int = 128): Column =
    column(MinHashSig(expression(c), k, numHashes))
  def simhash64(c: Column, md5Seam: Boolean = false): Column =
    column(SimHash64(expression(c), md5Seam))
  def doc_fingerprint(c: Column): Column = column(DocFingerprint(expression(c)))
  def winnow(c: Column, k: Int = 8, window: Int = 4): Column =
    column(Winnow(expression(c), k, window))
  def winnow_positions(c: Column, k: Int = 8, window: Int = 4,
                       md5Seam: Boolean = false): Column =
    column(WinnowPositions(expression(c), k, window, md5Seam))
  def lang_id(c: Column): Column = column(LangId(expression(c)))
  def token_count_bpeish(c: Column): Column =
    column(TokenCountBpeIsh(expression(c)))
  def deflate_len(c: Column): Column = column(DeflateLen(expression(c)))
  def lcs_tokens(a: Column, b: Column): Column =
    column(LcsTokens(expression(a), expression(b)))
  def jaccard_word_shingles(a: Column, b: Column, n: Int = 3): Column =
    column(JaccardWordShingles(expression(a), expression(b), n))
  def jaccard_char_shingles(a: Column, b: Column, k: Int = 5): Column =
    column(JaccardCharShingles(expression(a), expression(b), k))
  def word_shingles(c: Column, n: Int = 3,
                    md5Seam: Boolean = false): Column =
    if (md5Seam) column(WordShinglesMd5(expression(c), n))
    else column(WordShingles(expression(c), n))
  def sorted_shingles(c: Column, k: Int = 5,
                      md5Seam: Boolean = false): Column =
    if (md5Seam) column(SortedShinglesMd5(expression(c), k))
    else column(SortedShingles(expression(c), k))
  def jaccard_sorted_arrays(a: Column, b: Column,
                            md5Seam: Boolean = false): Column =
    if (md5Seam) column(JaccardSortedLongArrays(expression(a), expression(b)))
    else column(JaccardSortedArrays(expression(a), expression(b)))
  def sig_agreement(a: Column, b: Column): Column =
    column(SigAgreement(expression(a), expression(b)))
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
  def hyperplane_sig(c: Column, planes: Int = 16): Column =
    column(HyperplaneSig(expression(c), planes))
  def repetition_stats(c: Column, n: Int = 2, delim: String = "\n"): Column =
    column(RepetitionStats(expression(c), n, delim))
  def ac_find_phrases(c: Column, patterns: Seq[String]): Column =
    column(AcFindPhrases(expression(c), patterns))
  def ac_mask_phrases(c: Column, patterns: Seq[String],
                      mask: String = "[MASKED]"): Column =
    column(AcMaskPhrases(expression(c), patterns, mask))
  def ac_hit_positions(c: Column, patterns: Seq[String]): Column =
    column(AcHitPositions(expression(c), patterns))
}
