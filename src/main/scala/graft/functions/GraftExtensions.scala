package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions=graft.functions.GraftExtensions` registers the
  * engine's native expressions with the SQL function registry, so
  * `spark.sql("SELECT graft_dot(a, b) ...")` and `expr("graft_dot(...)")`
  * resolve. DataFrame callers don't need the registry —
  * [[DotProduct.dot]] builds the Column directly. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom operator planning: GroupedTopKNode → partial/final bounded-heap
    // execs (see graft.plans.GroupedTopK)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    // optimizer rule: the row_number()<=k window-filter idiom becomes a
    // GroupedTopKNode automatically (see graft.plans.RankLimitRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RankLimitRewrite)
    val kernels: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
      ("graft_dot", classOf[DotProduct], 2, c => DotProduct(c(0), c(1))),
      ("graft_cos", classOf[CosineSim], 2, c => CosineSim(c(0), c(1))),
      ("graft_nfc", classOf[NfcNormalize], 1, c => NfcNormalize(c(0))))
    kernels.foreach { case (name, cls, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          if (children.length != arity) {
            val noun = if (arity == 1) "argument" else "arguments"
            throw new IllegalArgumentException(
              s"$name requires exactly $arity $noun, got ${children.length}")
          }
          build(children)
        }))
    }
  }
}
