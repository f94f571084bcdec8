package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.expressions.TextExpressions._

/** Session extension registering the engine's custom expressions as
  * SQL functions, so `spark.sql` users get the same compiled kernels
  * as the Column API:
  *
  * {{{
  * val spark = GraftSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT graft_cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  *
  * Registration via SparkSessionExtensions (not a runtime
  * FunctionRegistry mutation) means the functions exist in every
  * session derived from the builder — the deployment story for a
  * shared 1000-executor cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[TextExpressionsHolder].getName, name, usage,
      "", "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles", "distinct word n-gram shingles of a token array"),
      (args: Seq[Expression]) =>
        WordShinglesExpr(args.head, args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("graft_char_shingles"),
      info("graft_char_shingles", "distinct char n-gram shingles of a string"),
      (args: Seq[Expression]) =>
        CharShinglesExpr(args.head, args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "MinHash signature of a shingle array"),
      (args: Seq[Expression]) =>
        MinHashSigExpr(args.head, args(1).eval().asInstanceOf[Int], 42L)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "64-bit SimHash of a token array"),
      (args: Seq[Expression]) => SimHash64Expr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "dot product of two numeric arrays (double)"),
      (args: Seq[Expression]) => DotProductExpr(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine_sim"),
      info("graft_cosine_sim", "cosine similarity of two numeric arrays"),
      (args: Seq[Expression]) => CosineSimExpr(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_jaccard"),
      info("graft_jaccard", "Jaccard similarity of two string arrays as sets"),
      (args: Seq[Expression]) => JaccardSimExpr(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "order-sensitive rolling-hash fingerprint of a token array"),
      (args: Seq[Expression]) => RollingFingerprintExpr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_unicode_normalize"),
      info("graft_unicode_normalize", "Unicode normalization (NFC/NFD/NFKC/NFKD) of a string"),
      (args: Seq[Expression]) =>
        UnicodeNormalizeExpr(args.head, args(1).eval().toString)))
    ext.injectFunction((
      FunctionIdentifier("graft_interleave_bits"),
      info("graft_interleave_bits", "Morton (Z-order) interleave of two non-negative longs"),
      (args: Seq[Expression]) =>
        InterleaveBitsExpr(args.head, args(1), args(2).eval().asInstanceOf[Int])))
    // Band-join planning: abs(l - r) <= tol join predicates become
    // bucketed equi joins instead of nested-loop joins.
    ext.injectOptimizerRule(_ => RangeJoinRewriteRule)
    // Whole-operator plan: native backward as-of join (AsOfJoinPlan →
    // streaming-merge AsOfJoinExec).
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** Anchor class for ExpressionInfo's class-name requirement. */
private class TextExpressionsHolder
