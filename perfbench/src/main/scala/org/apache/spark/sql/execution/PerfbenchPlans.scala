package org.apache.spark.sql.execution

/** The plan tree a SQL execution posts to listeners, built for a plan that
  * has not run, so the two can be compared. */
object PerfbenchPlans {
  def info(plan: SparkPlan): SparkPlanInfo = SparkPlanInfo.fromSparkPlan(plan)
}
