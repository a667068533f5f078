package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper

/** Opt-in sketch rewrite, injected via
  * [[graft.engine.GraftExtensions]] (`injectOptimizerRule`):
  *
  * when `spark.graft.approxDistinct = true`, every exact
  * `COUNT(DISTINCT x)` in a logical Aggregate is rewritten to a
  * HyperLogLog++ sketch (`approx_count_distinct`), with relative error
  * taken from `spark.graft.approxDistinct.rsd` (default 0.05).
  *
  * Why an optimizer rule and not "just write approx_count_distinct": the
  * flag makes the trade a SESSION policy rather than a per-query edit —
  * exploratory/interactive sessions over 100 TB flip one conf and every
  * dashboard query drops from a full distinct-value shuffle (exact
  * distinct shuffles every distinct value to its group) to fixed-kB
  * mergeable sketch state, with no query rewrites. Default off: the
  * CORRECTNESS contract always runs exact.
  *
  * The rewrite preserves the AggregateExpression's resultId, so column
  * names/references above the Aggregate are untouched; Count and HLL++
  * both return LongType.
  */
case class ApproxDistinctRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    setting("spark.graft.approxDistinct", "true or false")(_.toBooleanOption)
      .getOrElse(false)

  private def rsd: Double =
    setting("spark.graft.approxDistinct.rsd",
        "a positive relative error HLL++ accepts (below ~0.39)") { v =>
      v.toDoubleOption.filter(r => r > 0 && !r.isInfinite &&
        scala.util.Try(new HyperLogLogPlusPlusHelper(r)).isSuccess)
    }.getOrElse(0.05)

  /** `key`'s value as `parse` reads it. The rule runs on every plan of the
    * session, so a value `parse` rejects fails the session's queries, and
    * the error names the key.
    */
  private def setting[T](key: String, expected: String)(parse: String => Option[T]): Option[T] =
    spark.conf.getOption(key).map(v => parse(v.trim).getOrElse(
      throw new IllegalArgumentException(s"$key must be $expected, got '$v'")))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case a: Aggregate =>
        a.transformExpressions {
          case ae @ AggregateExpression(Count(children), _, true, None, _)
              if children.size == 1 =>
            ae.copy(
              aggregateFunction = HyperLogLogPlusPlus(children.head, rsd),
              isDistinct = false)
        }
    }
}
