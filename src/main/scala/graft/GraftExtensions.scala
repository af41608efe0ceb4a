package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CountInSetExpr, CountNonemptyExpr, CountRlikeExpr, ExciseStatsExpr, ProbeFeaturesExpr, ZipEqCountExpr, Hash64ArrayExpr, Hash64Expr, Hash64SetExpr, HexPopcount, MinHashSigExpr, SimHash48Expr, SortedHashSetExpr, SortedOverlapExpr, SumCharLengthsExpr, VecDotExpr, WinnowMinExpr, WordNgramsExpr, WordShinglesExpr}

/**
 * Session extensions registering graft's native Catalyst expressions, so
 * they resolve by name (`call_function`/SQL) and stay inside whole-stage
 * codegen. Enable with:
 *
 *   SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions")
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, className, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
}

object GraftExtensions {

  /** The ONE builder table — shared by the extension path and
    * [[ensureRegistered]], so there is exactly one implementation of every
    * function regardless of how the session was built. */
  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hex_popcount", classOf[HexPopcount].getName,
      (exprs: Seq[Expression]) => HexPopcount(exprs.head)),
    ("simhash48", classOf[SimHash48Expr].getName,
      (exprs: Seq[Expression]) => SimHash48Expr(exprs.head)),
    ("minhash_sig", classOf[MinHashSigExpr].getName,
      (exprs: Seq[Expression]) => MinHashSigExpr(exprs.head)),
    ("hash64", classOf[Hash64Expr].getName,
      (exprs: Seq[Expression]) => Hash64Expr(exprs.head)),
    ("sorted_overlap", classOf[SortedOverlapExpr].getName,
      (exprs: Seq[Expression]) => SortedOverlapExpr(exprs(0), exprs(1))),
    ("word_shingles", classOf[WordShinglesExpr].getName,
      (exprs: Seq[Expression]) => WordShinglesExpr(exprs(0), exprs(1))),
    ("word_ngrams", classOf[WordNgramsExpr].getName,
      (exprs: Seq[Expression]) => WordNgramsExpr(exprs(0), exprs(1))),
    ("winnow_min", classOf[WinnowMinExpr].getName,
      (exprs: Seq[Expression]) => WinnowMinExpr(exprs(0), exprs(1))),
    ("vec_dot", classOf[VecDotExpr].getName,
      (exprs: Seq[Expression]) => VecDotExpr(exprs(0), exprs(1))),
    ("excise_stats", classOf[ExciseStatsExpr].getName,
      (exprs: Seq[Expression]) => ExciseStatsExpr(exprs(0), exprs(1))),
    ("hash64_array", classOf[Hash64ArrayExpr].getName,
      (exprs: Seq[Expression]) => Hash64ArrayExpr(exprs.head)),
    ("hash64_set", classOf[Hash64SetExpr].getName,
      (exprs: Seq[Expression]) => Hash64SetExpr(exprs.head)),
    ("sorted_hash_set", classOf[SortedHashSetExpr].getName,
      (exprs: Seq[Expression]) => SortedHashSetExpr(exprs.head)),
    ("count_in_set", classOf[CountInSetExpr].getName,
      (exprs: Seq[Expression]) => CountInSetExpr(exprs(0), exprs(1))),
    ("count_rlike", classOf[CountRlikeExpr].getName,
      (exprs: Seq[Expression]) => CountRlikeExpr(exprs(0), exprs(1))),
    ("count_nonempty", classOf[CountNonemptyExpr].getName,
      (exprs: Seq[Expression]) => CountNonemptyExpr(exprs.head)),
    ("sum_char_lengths", classOf[SumCharLengthsExpr].getName,
      (exprs: Seq[Expression]) => SumCharLengthsExpr(exprs.head)),
    ("probe_features", classOf[ProbeFeaturesExpr].getName,
      (exprs: Seq[Expression]) => ProbeFeaturesExpr(exprs(0), exprs(1))),
    ("zip_eq_count", classOf[ZipEqCountExpr].getName,
      (exprs: Seq[Expression]) => ZipEqCountExpr(exprs(0), exprs(1))))

  /** Make graft functions callable on a session that was built WITHOUT the
    * extension (e.g. a driver-provided smoke session) by registering the
    * SAME native expressions into its function registry. This used to fall
    * back to hand-mirrored Scala UDFs — a second implementation whose null
    * semantics had to be kept in sync by review (and whose primitive-seq
    * args silently unboxed null ELEMENTS to 0, the exact garbage class the
    * r14 kernels' null guards close); now the one builder table serves
    * both paths, codegen included. The probe only ANALYZES a query naming
    * two of the functions: resolution is the question, and analysis
    * answers it without launching a job on every call. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registered =
      try {
        spark.sql("SELECT hex_popcount('0x0f'), hash64('x')").queryExecution.assertAnalyzed()
        true
      } catch { case _: Exception => false }
    if (!registered)
      builders.foreach { case (name, className, builder) =>
        org.apache.spark.sql.graftutil.FunctionInjector.register(
          spark, name, className, builder)
      }
  }
}
