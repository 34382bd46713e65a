package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session extension registering the native vector kernel as SQL-callable
  * functions — the Spark analog of the reference's SQL-visible search
  * functions (`deeplake_cosine_similarity`, `deeplake_maxsim`, ... —
  * `cpp/deeplake_pg/index_search.cpp:248-259,736`).
  *
  * Activate with the session conf:
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  * after which `spark.sql("SELECT cosine_similarity(a, b) ...")` plans the
  * codegen'd Catalyst expressions directly (no UDF boundary).
  */
object GraftExtensions {
  /** Register the same functions into an already-running session (the
    * analog of the reference's runtime `register_function`,
    * `cpp/tql/tql.hpp:179-201`) — used when the session was built without
    * `spark.sql.extensions`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graft.Bridge
    val rewrite = graft.plans.IndexRewrite(spark)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.IndexRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rewrite
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.CboHints]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.CboHints(spark)
    Bridge.registerFunction(spark, "cosine_similarity", args => CosineSimilarity(args(0), args(1)))
    Bridge.registerFunction(spark, "dot_product", args => DotProduct(args(0), args(1)))
    Bridge.registerFunction(spark, "l1_distance", args => VectorDistance(args(0), args(1), 1))
    Bridge.registerFunction(spark, "l2_distance", args => VectorDistance(args(0), args(1), 2))
    Bridge.registerFunction(spark, "linf_distance", args => VectorDistance(args(0), args(1), Int.MaxValue))
    Bridge.registerFunction(spark, "hamming_distance", args => HammingDistance(args(0), args(1)))
    Bridge.registerFunction(spark, "maxsim", args => MaxSim(args(0), args(1)))
    // NOTE: the text-pipeline scalar surface (QUALITY_SCORE,
    // EST_TOKEN_COUNT, BAG_FINGERPRINT) is registered in
    // graft.dialect.Tql.GlobalFunctions as Column compositions — those
    // build on higher-order functions with no single Catalyst node, so
    // they cannot go through this expression-builder registry.
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def binary(f: (Expression, Expression) => Expression)
      (args: Seq[Expression]): Expression = {
    require(args.size == 2, s"expected 2 arguments, got ${args.size}")
    f(args(0), args(1))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // filter→index rewrite (SURVEY §4.1): CONTAINS predicates over tables
    // with a registered inverted index become posting-table semi-joins
    ext.injectOptimizerRule(session => graft.plans.IndexRewrite(session))
    // stats-driven broadcast hints (MCV-aware filtered-side estimates)
    ext.injectOptimizerRule(session => graft.plans.CboHints(session))
    ext.injectFunction((FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine similarity of two vectors"),
      binary(CosineSimilarity) _))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two vectors"),
      binary(DotProduct) _))
    ext.injectFunction((FunctionIdentifier("l1_distance"),
      info("l1_distance", "l1_distance(a, b) - Manhattan distance"),
      binary(VectorDistance(_, _, 1)) _))
    ext.injectFunction((FunctionIdentifier("l2_distance"),
      info("l2_distance", "l2_distance(a, b) - Euclidean distance"),
      binary(VectorDistance(_, _, 2)) _))
    ext.injectFunction((FunctionIdentifier("linf_distance"),
      info("linf_distance", "linf_distance(a, b) - Chebyshev distance"),
      binary(VectorDistance(_, _, Int.MaxValue)) _))
    ext.injectFunction((FunctionIdentifier("hamming_distance"),
      info("hamming_distance", "hamming_distance(a, b) - count of differing elements"),
      binary(HammingDistance) _))
    ext.injectFunction((FunctionIdentifier("maxsim"),
      info("maxsim", "maxsim(doc_bag, query_bag) - ColPali late-interaction score"),
      binary(MaxSim) _))
  }
}
