package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The `Stage` barrier: a filter above `stage(df)` stays above df's
  * projections (no substitution of their expressions), columns are still
  * pruned below it, and the physical plan is the one `df` alone gets.
  */
class StageSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // md5 stands in for a heavy kernel: distinctive, and never folded
  private def heavy: DataFrame = spark.range(200)
    .select(col("id"), md5(col("id").cast("string")).as("q"))

  private def md5Count(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p =>
      p.expressions.map(_.collect { case m: Md5 => m }.size).sum
    }.sum

  private def normalized(df: DataFrame): String =
    df.queryExecution.executedPlan.treeString
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("a filter over stage(df) stays above the staging projection") {
    val plan = RelationalOps.stage(heavy).filter(col("q") > "8")
      .queryExecution.optimizedPlan
    val filter = plan.collectFirst { case f: Filter => f }.get
    assert(filter.child.isInstanceOf[Stage], plan.treeString)
    assert(filter.condition.collect { case m: Md5 => m }.isEmpty, plan.treeString)
    assert(filter.child.collectFirst { case p: Project => p }.exists(
      _.projectList.exists(_.collect { case m: Md5 => m }.nonEmpty)), plan.treeString)
  }

  test("the staged expression appears exactly once in the executed plan") {
    // control: without the barrier the filter re-derives md5 below the project
    assert(md5Count(heavy.filter(col("q") > "8")) === 2)
    val staged = RelationalOps.stage(heavy).filter(col("q") > "8")
    assert(md5Count(staged) === 1)
    assert(staged.count() === heavy.filter(col("q") > "8").count())
  }

  test("columns unused above the stage are pruned below it") {
    val p = RelationalOps.stage(heavy).select("id")
    assert(md5Count(p) === 0, p.queryExecution.executedPlan.treeString)
  }

  test("stage(df) adds no physical node and keeps the codegen stages") {
    val df = heavy.filter(col("id") % 3 === 0).groupBy(col("q").substr(1, 1)).count()
    assert(normalized(RelationalOps.stage(df)) === normalized(df))
    val joined = heavy.join(RelationalOps.stage(heavy.select(col("id"))), "id")
    assert(normalized(joined) ===
      normalized(heavy.join(heavy.select(col("id")), "id")))
  }
}
