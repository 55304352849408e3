package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring for the engine's native expressions.
  * Usable both programmatically (GraftSession applies it) and via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` on a
  * cluster, making `graft_cosine(a, b)` available to plain SQL users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => new graft.plans.ChunkBucketPruning(session))
    ext.injectColumnar(_ => graft.plans.ParameterizeLiterals.columnarRule)
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_cosine expects 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_langid"),
      new ExpressionInfo(classOf[LangIdExpr].getName, "graft_langid"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_langid expects 1 argument, got ${children.length}")
        LangIdExpr(children.head)
      }))
    // Spark's own codegen bloom-probe expression (the one its runtime
    // filters plan), surfaced as a callable function: (serialized filter
    // binary, long value) => boolean. The binary literal and the
    // df.stat.bloomFilter sketch share one serialization format
    // (util.sketch.BloomFilter.writeTo/readFrom), so Dedup.bloomSubtract
    // can probe a driver-built filter from inside WholeStageCodegen
    // instead of through a deserializing Scala UDF.
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_might_contain expects 2 arguments, got ${children.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk_by_score"),
      new ExpressionInfo(classOf[TopKByScoreNative].getName, "graft_topk_by_score"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_topk_by_score expects 3 arguments, got ${children.length}")
        TopKByScoreNative(children(0), children(1), children(2))
          .toAggregateExpression()
      }))
  }
}
