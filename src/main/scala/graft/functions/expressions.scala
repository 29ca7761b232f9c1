package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the custom scalar functions (SURVEY.md
  * §2.11). These are the two functions with no Spark builtin equivalent
  * (difflib-ratio name similarity; the NFC+unescape tail of clean_html).
  * Implemented as expressions — not Scala UDFs — so the generated code is a
  * direct static call inside whole-stage codegen, with no
  * catalyst<->Scala row conversion and no closure serialization.
  */

private[graft] abstract class StaticStringUnary extends UnaryExpression {
  /** fully-qualified static method, e.g. "graft.functions.TextKernels.cleanHtml" */
  def staticMethod: String
  def kernel(s: String): String

  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(kernel(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString($staticMethod($c.toString()))")
}

/** clean_html (reference utils.py:8-23) as a codegen'd expression. */
case class CleanHtml(child: Expression) extends StaticStringUnary {
  override def staticMethod: String = "graft.functions.TextKernels.cleanHtml"
  override def kernel(s: String): String = TextKernels.cleanHtml(s)
  override protected def withNewChildInternal(c: Expression): CleanHtml = copy(c)
  override def prettyName: String = "clean_html"
}

/** DOI normalization (reference doi.py:97-103). */
case class NormalizeDoi(child: Expression) extends StaticStringUnary {
  override def staticMethod: String = "graft.functions.TextKernels.normalizeDoi"
  override def kernel(s: String): String = TextKernels.normalizeDoi(s)
  override protected def withNewChildInternal(c: Expression): NormalizeDoi = copy(c)
  override def prettyName: String = "normalize_doi"
}

/** Python str.title() (used by the author-name repair, parser.py:24-25). */
case class PythonTitle(child: Expression) extends StaticStringUnary {
  override def staticMethod: String = "graft.functions.TextKernels.pythonTitle"
  override def kernel(s: String): String = TextKernels.pythonTitle(s)
  override protected def withNewChildInternal(c: Expression): PythonTitle = copy(c)
  override def prettyName: String = "python_title"
}

/** score_name_similarity (reference create_graph_from_doi.py:68-101) with the
  * default 0.8 threshold; exact difflib semantics (golden 0.65625).
  */
case class NameSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.scoreNameSimilarity(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.TextKernels.scoreNameSimilarity($l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NameSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "name_similarity"
}

/** difflib quick_ratio over the same cleaned inputs — the O(n) upper bound
  * on [[NameSimilarity]] (see [[TextKernels.nameSimilarityUpper]]); a
  * candidate below threshold here can never score at threshold.
  */
case class NameSimilarityUpper(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.nameSimilarityUpper(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.TextKernels.nameSimilarityUpper($l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NameSimilarityUpper =
    copy(left = l, right = r)
  override def prettyName: String = "name_similarity_upper"
}

/** Column-level API for the custom expressions; `GraftExtensions` injects
  * their SQL names.
  */
object TextFunctions {
  def clean_html(c: Column): Column = column(CleanHtml(expression(c)))
  def normalize_doi(c: Column): Column = column(NormalizeDoi(expression(c)))
  def python_title(c: Column): Column = column(PythonTitle(expression(c)))
  def name_similarity(a: Column, b: Column): Column =
    column(NameSimilarity(expression(a), expression(b)))
  def name_similarity_upper(a: Column, b: Column): Column =
    column(NameSimilarityUpper(expression(a), expression(b)))

  /** Crossref DOI pattern filter (reference doi.py:31,132-149) — plain
    * `rlike`, which is already codegen'd and pushdown-friendly; Java regex
    * handles the (?=.*\d) lookahead. Unanchored like Python re.search.
    */
  def valid_doi(c: Column): Column =
    c.isNotNull && c.rlike("(?i)10\\.\\d{4,9}/(?=.*\\d)[-._;()/:A-Z0-9]+$")
}
