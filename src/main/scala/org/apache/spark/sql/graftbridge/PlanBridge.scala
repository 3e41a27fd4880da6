package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution

/** A DataFrame over a plan the optimizer has already produced. Its query
  * execution returns the plan as both the analyzed and the optimized plan,
  * so running it starts at physical planning. The Dataset constructor and
  * the plan's analyzed flag are `private[sql]`, hence this package. */
object PlanBridge {
  def ofOptimized(spark: SparkSession, optimized: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    // a fresh tree: the Dataset tags its root, and the caller's plan may
    // be shared between threads
    val plan = optimized.clone()
    plan.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    plan.setAnalyzed()
    session.withActive {
      val qe = new QueryExecution(session, plan) {
        override def analyzed: LogicalPlan = plan
        override def optimizedPlan: LogicalPlan = plan
      }
      new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(plan.schema))
    }
  }
}
