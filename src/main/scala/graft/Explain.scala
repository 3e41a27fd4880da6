package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.datasources.{FileIndex, LogicalRelation}

import graft.engine.Engine

/** Plan inspection: prints `.explain("formatted")` for the named queries
  * (or a default headline set) so scan pushdown, broadcast choices, and
  * shuffle counts can be audited per round. A store-backed query first
  * gets a `store plan:` line: the selector plan it took, the bytes of the
  * store's point files it touches, and the plan threshold.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_sel_instant", "q_fn_rate", "q_agg_sum_by", "q_binop_arith",
        "q_fn_histogram_quantile", "q_agg_quantile", "q_sim_topk", "q_sim_ivf",
        "q_dedup_minhash", "q_dedup_simhash_pairs", "q_dedup_exact",
        "q_mm_decode_real")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    // canary gates live in Bench over the reusable bench store: resolve
    // their DataFrames here so the scan-ceiling plans are auditable too
    // (building the store first, as Bench does, on a fresh checkout)
    val store = sys.env.getOrElse("SPARK_GRAFT_BENCH_STORE", "target/bench-store") + "/c10x"
    val canaryDfs = Bench.canaryFrames(spark, store, "canary10x").toMap
    def show(df: DataFrame): Unit = {
      storePlan(df).foreach(println)
      df.explain("formatted")
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => show(fn(spark, sfDir))
        case None if canaryDfs.contains(n) =>
          Bench.ensureStore(spark, store, Bench.N_SERIES * 10)
          show(canaryDfs(n)())
        case None => println(s"unknown query $n")
      }
    }
    spark.stop()
  }

  /** The plan a store-backed query took, read off its own plan (slim when
    * it reads the `_dict` sidecar, single when a scan is coalesced to one
    * partition), beside the rule's choice for the bytes of the store point
    * files it touches at one step. None when the query reads no store. */
  private[graft] def storePlan(df: DataFrame): Option[String] = {
    val indexes = Engine.fileIndexes(df.queryExecution.analyzed)
    def inDir(pred: String => Boolean)(i: FileIndex) =
      i.rootPaths.exists(p => p.getParent != null && pred(p.getParent.getName))
    val points = indexes.filter(inDir(_.startsWith("date="))).distinctBy(_.rootPaths.toSet)
    if (points.isEmpty) None
    else {
      val rule = Engine.PlanChoice(points.map(_.sizeInBytes).sum, Engine.planThreshold(df.sparkSession))
      val slim = indexes.exists(inDir(_ == "_dict"))
      // the optimizer pushes filters and projections below the coalesce
      val single = df.queryExecution.optimizedPlan.exists {
        case Repartition(1, false, c) => c.collectLeaves().exists(_.isInstanceOf[LogicalRelation])
        case _ => false
      }
      val taken = if (slim) "slim" else if (single) "single" else "partitioned"
      Some(s"store plan: $taken; rule at one step: $rule" +
        (if (slim != rule.slim) " (this query pins its plan)" else ""))
    }
  }
}
