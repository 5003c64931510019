package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Session-extension entry point: registers every graft SQL function
  * (the [[VectorFunctions]] table, `topk_ids` and `bloom_might_contain`)
  * at session build time, so a cluster
  * deployment gets them in plain `spark.sql` with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * The per-session `VectorFunctions.register`/`TopKAggregate.register`
  * calls remain for sessions created without extensions (the driver
  * harness path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** (name, usage, builder) for every injected function: the
    * [[VectorFunctions]] table that `VectorFunctions.register` reads,
    * plus the two functions registered elsewhere. */
  def functions: Seq[(String, String, Seq[Expression] => Expression)] =
    VectorFunctions.builders ++ Seq(
      ("topk_ids", "topk_ids(id, score, k) - top-k ids by score per group",
        (es: Seq[Expression]) =>
          TopKIds(es(0), es(1), es(2)).toAggregateExpression()),
      ("bloom_might_contain",
        "bloom_might_contain(filter, key) - membership test against a " +
          "serialized bloom filter (no false negatives)",
        (es: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(es(0), es(1))),
    )

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}
