package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.core.Normalize.AliasKeyExpr

/** Catalyst optimizer rules for the engine's native expressions.
  *
  * [[IdempotentAliasKey]]: alias_key is idempotent (its output alphabet is
  * a fixed point of the normalization), so nested applications collapse —
  * the kind of rewrite that shows up when the linking stage composes with
  * upstream views that already normalized (e.g. a pre-keyed dictionary
  * joined by a generic key expression). Plan-level, so it fires regardless
  * of which API produced the expression. Injected by
  * [[graft.GraftExtensions]] and added by [[graft.core.Normalize.register]].
  */
object IdempotentAliasKey extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case AliasKeyExpr(inner @ AliasKeyExpr(_)) => inner
    }
}
