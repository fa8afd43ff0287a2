package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import graft.expressions.HammingDistance64

/** Catalyst optimizer rule: algebraic identities of graft's native
  * expressions. Catalyst can't know `graft_hamming64(x, x) = 0` — the
  * expression is opaque to it — so self-comparisons survive into the
  * physical plan and burn a kernel call per row. They occur in
  * practice whenever a self-join's two sides collapse to the same
  * attribute (e.g. dedup pipelines joining a table to itself).
  *
  * Only the identity that holds for EVERY input is folded: hamming
  * self-distance (popcount(x^x) = 0 for all x, null in → null out).
  * `cosine(x, x)` is deliberately NOT folded to 1.0 — it is 0.0 for
  * zero-norm and empty vectors, so the fold would change results.
  *
  * This is the graft analogue of the reference's expression-level
  * simplification passes (reference: R/optimizer.R) — except here it
  * plugs into Spark's own optimizer via `SparkSessionExtensions`, so
  * it composes with every built-in rule.
  */
object SimplifyGraftExpressions extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case HammingDistance64(a, b) if a.deterministic && a.semanticEquals(b) =>
        if (a.nullable) If(IsNull(a), Literal(null, IntegerType), Literal(0, IntegerType))
        else Literal(0, IntegerType)
    }
}

/** Session extension entry point: a session builder's
  * `.withExtensions(new GraftExtensions)` (as `GraftSession.local` does)
  * or `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifyGraftExpressions)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

object GraftExtensions {
  /** Idempotently register graft's planner strategies on an
    * externally built session (extensions can't be injected after
    * creation, but `experimental.extraStrategies` can). */
  def ensureStrategies(spark: org.apache.spark.sql.SparkSession): Unit = {
    val exp = org.apache.spark.sql.graftbridge.Bridge.experimental(spark)
    if (!exp.extraStrategies.contains(AsofJoinStrategy))
      exp.extraStrategies ++= Seq(AsofJoinStrategy)
  }

}
