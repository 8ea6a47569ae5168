package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.expr

/** Graft's native Catalyst expressions under their SQL names.
  *
  * [[graft.GraftExtensions]] registers every entry of [[functions]]:
  * at build time in the sessions it builds or that name it in
  * `spark.sql.extensions`, and through `GraftExtensions.install` in a
  * session built elsewhere. Once registered, `expr("float_cosine(a,
  * b)")` and SQL both resolve them.
  */
object GraftFunctions {
  /** `stopword_count`'s word list arrives as a foldable string
    * literal (comma-joined) so the function is SQL-addressable; it is
    * folded into the expression at build time. */
  private def literalWords(e: Expression): Seq[String] =
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        s.toString.split(",").toSeq
      case other => throw new IllegalArgumentException(
        s"stopword_count expects a foldable string word list, got $other")
    }

  private def literalInt(e: Expression): Int =
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"expected a foldable int literal, got $other")
    }

  /** (SQL name, the expression class its `ExpressionInfo` names,
    * builder). */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("float_cosine", classOf[FloatCosine],
      exprs => FloatCosine(exprs(0), exprs(1))),
    ("token_count", classOf[TokenCount], exprs => TokenCount(exprs(0))),
    ("stopword_count", classOf[StopwordCount],
      exprs => StopwordCount(exprs(0), literalWords(exprs(1)))),
    ("ngrams", classOf[NGramGenerator],
      exprs => NGramGenerator(exprs(0), literalInt(exprs(1)))),
    ("ngrams_distinct", classOf[NGramGenerator], exprs =>
      NGramGenerator(exprs(0), literalInt(exprs(1)), distinct = true)),
    ("distinct_ngram_count", classOf[DistinctNgramCount],
      exprs => DistinctNgramCount(exprs(0), literalInt(exprs(1)))),
    ("t_test_p", classOf[TTestPValue],
      exprs => TTestPValue(exprs(0), exprs(1))),
    ("chi2_p", classOf[ChiSquarePValue],
      exprs => ChiSquarePValue(exprs(0), exprs(1))),
    ("jaro_winkler", classOf[JaroWinklerSimilarity],
      exprs => JaroWinklerSimilarity(exprs(0), exprs(1))))

  /** `float_cosine` as a Column over two column names/paths. It
    * resolves in any session that has graft's extensions, which every
    * `SparkEntry` query and every session built by
    * `GraftExtensions.session` has. */
  def floatCosine(a: String, b: String): Column =
    expr(s"float_cosine($a, $b)")
}
