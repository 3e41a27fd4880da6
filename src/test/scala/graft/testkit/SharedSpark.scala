package graft.testkit

import org.apache.spark.sql.SparkSession

/** The session every suite runs on, built once from [[graft.GraftSession]]:
  * all suites share one forked JVM, so a per-suite builder could only
  * re-tune the session whichever suite ran first had created. */
trait SharedSpark {
  protected lazy val spark: SparkSession = SharedSpark.session

  /** Build the store-backed queries in `f` on the slim (series-dictionary)
    * plan, with the plan threshold at 0 bytes
    * ([[graft.engine.Engine.withPlanThreshold]]): test stores are far
    * below the size at which the engine would choose it. */
  protected def withSlimPlan[A](f: => A): A = graft.engine.Engine.withPlanThreshold(spark, 0L)(f)

  /** Build the store-backed queries in `f` on the partitioned plan, with
    * the single plan's step bound at 0 for this thread
    * ([[graft.engine.Engine.withSingleStepBound]]): test stores are small
    * enough that the engine would run them single-partition. */
  protected def withPartitionedPlan[A](f: => A): A = graft.engine.Engine.withSingleStepBound(0L)(f)

  /** Does a plan read the series-dictionary sidecar (`_dict/`)? Checked on
    * the analyzed plan: the optimizer may prune an empty result's scans. */
  protected def readsDict(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    graft.engine.Engine.fileIndexes(plan).exists(_.inputFiles.exists(_.contains("/_dict/")))
}

object SharedSpark {
  lazy val session: SparkSession = graft.GraftSession.builder().getOrCreate()
}
