package graft.plans

import graft.functions.PandasTitleCase
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst extension surface for the engine's custom expressions.
  *
  * [[CollapseTitleCase]] is a small but real optimizer rule:
  * `PandasTitleCase` is idempotent (title-casing twice is the identity
  * on already-titled text), so nested applications — which arise
  * naturally when cleaning stages compose, e.g. a re-standardization
  * over already-standardized staging — collapse to one. This removes
  * a full per-row string rewrite from the hot path.
  *
  * Registered by [[graft.GraftSession]], which every entry point uses;
  * a session built elsewhere sets
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object CollapseTitleCase extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // collapse the whole chain at once — transformDown does not
      // re-match the node it just produced
      case PandasTitleCase(inner: PandasTitleCase) =>
        var e: org.apache.spark.sql.catalyst.expressions.Expression = inner
        while (e.isInstanceOf[PandasTitleCase])
          e = e.asInstanceOf[PandasTitleCase].child
        PandasTitleCase(e)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollapseTitleCase)
    ext.injectOptimizerRule(_ => RewriteRankLimitToTopK)
    ext.injectOptimizerRule(_ => RewriteRangeJoin)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}
