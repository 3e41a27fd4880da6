package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, Exchange}

/** DataFrames over plans built outside the Dataset API. The Dataset
  * constructor and the plan's analyzed flag are `private[sql]`, hence this
  * package. */
object PlanBridge {
  /** A DataFrame over an analyzed plan (a rewrite of another DataFrame's). */
  def ofAnalyzed(spark: SparkSession, analyzed: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], analyzed)

  /** A DataFrame over a plan the optimizer has already produced. Its query
    * execution returns the plan as both the analyzed and the optimized
    * plan, so running it starts at physical planning. Unless `adaptive`,
    * a physical plan that needs no exchange runs as planned: adaptive
    * execution would re-plan no stage, and its wrapper describes the plan
    * a second time when the run ends. */
  def ofOptimized(spark: SparkSession, optimized: LogicalPlan,
                  adaptive: Boolean = true): DataFrame = {
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
        override protected def preparations: Seq[Rule[SparkPlan]] =
          if (adaptive) super.preparations
          else super.preparations.map {
            case aqe: InsertAdaptiveSparkPlan => new Rule[SparkPlan] {
              def apply(p: SparkPlan): SparkPlan =
                if (EnsureRequirements().apply(p).exists(_.isInstanceOf[Exchange])) aqe(p) else p
            }
            case rule => rule
          }
      }
      new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(plan.schema))
    }
  }
}
