package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graftbridge.Bridge

/** The public-API half `AsOfJoin.asof` and `IntervalJoin.interval`
  * share: install the operator's planner strategy lazily (the
  * `spark.experimental.extraStrategies` route — `GraftExtensions` is the
  * other), reject sides that would make the concatenated output
  * ambiguous, and resolve each column name against its own side eagerly,
  * so the plan reaches the planner fully resolved. */
private[plans] object SideJoin {
  /** `op` prefixes every error (`graft <op> join: ...`); `plan` gets the
    * two analyzed sides and a column resolver for each. */
  def apply(op: String, strategy: SparkStrategy, left: DataFrame,
      right: DataFrame)(plan: (LogicalPlan, LogicalPlan,
        String => Expression, String => Expression) => LogicalPlan)
      : DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(strategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy
    }
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    // the output concatenates both sides verbatim, so shared names (or the
    // same un-aliased DataFrame on both sides → shared attribute ids) would
    // make downstream resolution silently ambiguous — reject eagerly
    val sharedNames = lPlan.output.map(_.name).toSet
      .intersect(rPlan.output.map(_.name).toSet)
    require(sharedNames.isEmpty,
      s"graft $op join: both sides expose column(s) ${sharedNames.mkString(", ")} — " +
        "rename/alias the right side before joining")
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      s"graft $op join: left and right share attribute ids (same DataFrame " +
        "passed twice?) — re-alias one side column-by-column")
    def attr(df: DataFrame)(name: String): Expression =
      Bridge.expression(df.col(name))
    Bridge.ofRows(spark, plan(lPlan, rPlan, attr(left), attr(right)))
  }
}
