package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{DeflateSize, JaroWinkler, MortonCode, VectorDot, VectorNorm2, WordShingles}

/** Library registration surface: makes graft's custom Catalyst
  * expressions available to SQL users, either at session build time
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions) ...
  *   // or via config, no code change (graft.Session reads it from
  *   // -Dspark.sql.extensions=graft.GraftExtensions):
  *   // spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or on an existing session with [[GraftExtensions.register]].
  * After registration: `SELECT word_shingles(text, 3) FROM docs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    // conf-gated optimizer rule (spark.graft.rangeJoin.bucketWidth;
    // a strict no-op until the width is set)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
  }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) triple for injectFunction. */
  val wordShinglesFunction: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (args: Seq[Expression]) => args match {
      case Seq(text) => WordShingles(text, 3)
      case Seq(text, n) => WordShingles(text, intArg(n, "shingle width"))
      case _ => throw new IllegalArgumentException(
        "word_shingles(text[, n]) takes 1 or 2 arguments")
    })

  /** Codegen'd double dot product: vector_dot(a, b). */
  val vectorDotFunction: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
    (args: Seq[Expression]) => VectorDot(args(0), args(1)))

  /** Codegen'd double sum-of-squares: vector_norm2(a). */
  val vectorNorm2Function: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_norm2"),
    new ExpressionInfo(classOf[VectorNorm2].getName, "vector_norm2"),
    (args: Seq[Expression]) => VectorNorm2(args.head))

  /** Deflate byte count (compression-ratio signal): deflate_size(text). */
  val deflateSizeFunction: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("deflate_size"),
    new ExpressionInfo(classOf[DeflateSize].getName, "deflate_size"),
    (args: Seq[Expression]) => DeflateSize(args.head))

  /** 2-D Z-order interleave: morton_code(bucketA, bucketB). */
  val mortonCodeFunction: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("morton_code"),
    new ExpressionInfo(classOf[MortonCode].getName, "morton_code"),
    (args: Seq[Expression]) => MortonCode(args(0), args(1)))

  /** DuckDB-parity fuzzy-name similarity: jaro_winkler(a, b). */
  val jaroWinklerFunction: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (args: Seq[Expression]) => JaroWinkler(args(0), args(1)))

  val functions = Seq(wordShinglesFunction, vectorDotFunction,
    vectorNorm2Function, deflateSizeFunction, mortonCodeFunction,
    jaroWinklerFunction)

  /** Imperative registration for an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
