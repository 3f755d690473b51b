package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: lets a deployment enable the library's
  * native functions cluster-wide via configuration —
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * — instead of the per-query `CosineSim.register(spark)` call (both paths
  * are supported; query code uses the latter so it works on any session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: size-ratio prefilter under jaccard_sim thresholds
    // (graft.plans.JaccardPrefilterRule — a pure optimization, see its
    // header for the implication proof and the idempotence argument)
    ext.injectOptimizerRule(_ => graft.plans.JaccardPrefilterRule)
    for ((name, cls, builder) <- CosineSim.natives)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
  }
}
