package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, Floor, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

/** OPT-IN optimizer rule (`spark.graft.approxDistinct.enabled`, default
  * FALSE — it changes results) rewriting single-argument
  * `count(DISTINCT x)` into the engine's 256-byte HLL sketch:
  *
  * {{{ count(DISTINCT x)  →  floor(hll60(hash60(cast(x AS string))) + 0.5) }}}
  *
  * Why: exact distinct aggregation plans TWO exchanges (expand on the
  * distinct key, then the group key) and keys every distinct value in
  * memory; the sketch is one exchange, 256 bytes per group, ~6.5% standard
  * error (1.04/√256) — the standard trade for 100 TB interactive aggregations. The
  * rewrite preserves COUNT's null semantics (hash60 of NULL is NULL and
  * the sketch skips it). Multi-argument distincts, FILTER clauses, and
  * anything already approximate are left untouched.
  *
  * Runs from the same `GraftExtensions` injection point as
  * [[TopKRewrite]] (operator-optimization batch — before Spark's own
  * RewriteDistinctAggregates expands the distinct plan).
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.approxDistinct.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "false").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate => agg.transformExpressions {
        case AggregateExpression(Count(Seq(e: Expression)), _, true, None, _) =>
          val est = graft.functions.HllSketch(
            graft.functions.Hash60(Cast(e, StringType)),
            blobIn = false, blobOut = false)
            .toAggregateExpression()
          // estimate is DOUBLE; floor(est + 0.5) is Spark's BIGINT floor
          Floor(Add(est, Literal(0.5d)))
      }
    }
}
