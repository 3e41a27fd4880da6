package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class WeightedSampleSpec extends AnyFunSuite with SharedSpark {

  /** n items in one group; ids below `heavyBelow` weigh `heavyW`, the
    * rest 1.0. Spread over 5 partitions to exercise partial-heap merge. */
  private def items(n: Int, heavyBelow: Long = 0L, heavyW: Double = 1.0) =
    spark.range(n).repartition(5)
      .select(lit("g").as("source"), col("id"),
        when(col("id") < heavyBelow, lit(heavyW)).otherwise(lit(1.0)).as("w"))

  test("k >= group size selects everything, with positive draws attached") {
    val out = Curation.weightedSample(items(100),
      col("id"), col("w"), Seq("source"), k = 256)
    assert(out.count() == 100)
    assert(out.select("doc_id").distinct().count() == 100)
    assert(out.where(col("draw") <= 0).count() == 0)
  }

  test("selection is a pure function of the input (partitioning cannot move it)") {
    val a = Curation.weightedSample(items(20000, heavyBelow = 100, heavyW = 3.0),
      col("id"), col("w"), Seq("source"), k = 500)
    val b = Curation.weightedSample(
      items(20000, heavyBelow = 100, heavyW = 3.0).repartition(13).sort(desc("id")),
      col("id"), col("w"), Seq("source"), k = 500)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("inclusion probability tracks the weight (9:1 weights -> heavy-dominated sample)") {
    // ids < 5000 carry weight 9, the rest weight 1; k=1000 of 10000.
    // md5 draws are FIXED — this asserts the deterministic outcome.
    val out = Curation.weightedSample(items(10000, heavyBelow = 5000, heavyW = 9.0),
      col("id"), col("w"), Seq("source"), k = 1000).collect()
    val heavy = out.count(_.getAs[Long]("doc_id") < 5000)
    assert(heavy > 700, s"heavy=$heavy of 1000 — weight 9 should dominate")
    assert(heavy < 1000, s"light items must still appear (heavy=$heavy)")
  }

  test("non-positive weights are never sampled") {
    val df = items(1000)
      .withColumn("w", when(col("id") % 2 === 0, lit(0.0)).otherwise(lit(1.0)))
    val out = Curation.weightedSample(df, col("id"), col("w"), Seq("source"), k = 2000)
    assert(out.count() == 500)
    assert(out.where(col("doc_id") % 2 === 0).count() == 0)
  }

  test("one map-side-combined aggregation, k-bounded partials") {
    val plan = Curation.weightedSample(items(5000),
      col("id"), col("w"), Seq("source"), k = 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("weighted_bottom_k"))
    assert(plan.toLowerCase.contains("partial"), plan.take(1500))
  }
}
