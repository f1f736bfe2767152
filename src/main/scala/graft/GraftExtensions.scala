package graft

import graft.functions.{IsAlpha, IsDecimal, IsDigit, SplitIndex}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension hook: makes the engine's extra SQL functions
  * available in ANY session built with
  * `.withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions` — the Spark-idiomatic
  * analog of the reference's module/function-catalog registration
  * (FlinkSqlOperatorTable, SURVEY.md §2.8).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // threshold-gated broadcast (OptimizerConfigOptions.java:53 analog):
    // strip hints whose estimated build side cannot safely ship.
    e.injectOptimizerRule(_ => graft.plans.GateBroadcastHints)
    // temporal-join planning (LogicalCorrelateToJoinFromTemporalTableRule
    // analog): the parser turns `FOR SYSTEM_TIME AS OF` into the hinted
    // shape; the resolution rule plans it as the union+window as-of join.
    e.injectParser((_, parser) => new graft.sources.GraftSqlParser(parser))
    e.injectResolutionRule(_ => graft.plans.AsOfJoinRule)
    // skewed COUNT/SUM(DISTINCT) bucketed two-level split
    // (SplitAggregateRule.scala:108 analog), conf-gated off by default
    // like the reference's table.optimizer.distinct-agg.split.enabled.
    e.injectOptimizerRule(_ => graft.plans.SplitDistinctAggRule)
    // small final sorts: one partition instead of a sampled range
    // exchange, decided on AQE's runtime sizes
    e.injectRuntimeOptimizerRule(_ => graft.plans.SmallGlobalSort)
    e.injectFunction((
      FunctionIdentifier("keyvalue"),
      new ExpressionInfo(classOf[graft.functions.KeyValue].getName, "keyvalue"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.KeyValue(es(0), es(1), es(2), es(3))))
    e.injectFunction((
      FunctionIdentifier("truncate"),
      new ExpressionInfo(classOf[graft.functions.NumericTruncate].getName, "truncate"),
      graft.functions.GraftFunctions.truncateBuilder))
    e.injectFunction((
      FunctionIdentifier("hash_code"),
      new ExpressionInfo(classOf[graft.functions.HashCode].getName, "hash_code"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HashCode(es.head)))
    e.injectFunction((
      FunctionIdentifier("sha224"),
      new ExpressionInfo("org.apache.spark.sql.catalyst.expressions.Sha2", "sha224"),
      graft.functions.GraftFunctions.shaN(224)))
    e.injectFunction((
      FunctionIdentifier("sha384"),
      new ExpressionInfo("org.apache.spark.sql.catalyst.expressions.Sha2", "sha384"),
      graft.functions.GraftFunctions.shaN(384)))
    e.injectFunction((
      FunctionIdentifier("sha512"),
      new ExpressionInfo("org.apache.spark.sql.catalyst.expressions.Sha2", "sha512"),
      graft.functions.GraftFunctions.shaN(512)))
    e.injectFunction((
      FunctionIdentifier("is_alpha"),
      new ExpressionInfo(classOf[IsAlpha].getName, "is_alpha"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => IsAlpha(es.head)))
    e.injectFunction((
      FunctionIdentifier("is_digit"),
      new ExpressionInfo(classOf[IsDigit].getName, "is_digit"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => IsDigit(es.head)))
    e.injectFunction((
      FunctionIdentifier("is_decimal"),
      new ExpressionInfo(classOf[IsDecimal].getName, "is_decimal"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => IsDecimal(es.head)))
    e.injectFunction((
      FunctionIdentifier("split_index"),
      new ExpressionInfo(classOf[SplitIndex].getName, "split_index"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SplitIndex(es(0), es(1), es(2))))
    e.injectFunction((
      FunctionIdentifier("similar_to"),
      new ExpressionInfo(classOf[graft.functions.SimilarTo].getName, "similar_to"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.GraftFunctions.similarToExpr(es)))
    e.injectFunction((
      FunctionIdentifier("is_json_value"),
      new ExpressionInfo(classOf[graft.functions.IsJsonValue].getName, "is_json_value"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.IsJsonValue(es.head)))
    e.injectFunction((
      FunctionIdentifier("is_json_object"),
      new ExpressionInfo(classOf[graft.functions.IsJsonObject].getName, "is_json_object"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.IsJsonObject(es.head)))
    e.injectFunction((
      FunctionIdentifier("is_json_array"),
      new ExpressionInfo(classOf[graft.functions.IsJsonArray].getName, "is_json_array"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.IsJsonArray(es.head)))
    e.injectFunction((
      FunctionIdentifier("is_json_scalar"),
      new ExpressionInfo(classOf[graft.functions.IsJsonScalar].getName, "is_json_scalar"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.IsJsonScalar(es.head)))
    e.injectFunction((
      FunctionIdentifier("temporal_overlaps"),
      new ExpressionInfo(graft.functions.TemporalOverlapsBuilder.getClass.getName,
        "temporal_overlaps"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TemporalOverlapsBuilder(es)))
    e.injectFunction((
      FunctionIdentifier("element"),
      new ExpressionInfo(graft.functions.ElementBuilder.getClass.getName, "element"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.ElementBuilder(es)))
    // Σ aᵢ·bᵢ over float/double arrays as one codegen'd kernel — the
    // similarity family's hot loop (the HOF zip_with·aggregate form is
    // interpreted per element; see functions/VectorExpressions.scala).
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "dot_product"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.DotProduct(es(0), es(1))))
    // word n-gram shingles in one pass (see VectorExpressions.scala);
    // n must be a plan-time integer literal
    e.injectFunction((
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[graft.functions.WordNGrams].getName, "word_ngrams"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int,
            org.apache.spark.sql.types.IntegerType) =>
          graft.functions.WordNGrams(es(0), n)
        case other => throw new IllegalArgumentException(
          s"word_ngrams: n must be an integer literal, got $other")
      }))
    // r15 interpreted-HOF tail kernels (VERDICT item 6)
    e.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[graft.functions.RollingHash].getName, "rolling_hash"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.RollingHash(es(0))))
    e.injectFunction((
      FunctionIdentifier("token_len_sum"),
      new ExpressionInfo(classOf[graft.functions.TokenLengthSum].getName, "token_len_sum"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TokenLengthSum(es(0))))
    e.injectFunction((
      FunctionIdentifier("gauss_log_sum"),
      new ExpressionInfo(classOf[graft.functions.GaussLogSum].getName,
        "gauss_log_sum"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.GaussLogSum(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("quant_abs_err_sum"),
      new ExpressionInfo(classOf[graft.functions.QuantAbsErrSum].getName,
        "quant_abs_err_sum"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.QuantAbsErrSum(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("rand_integer"),
      new ExpressionInfo(graft.functions.RandIntegerBuilder.getClass.getName,
        "rand_integer"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.RandIntegerBuilder(es)))
  }
}
