package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class QuantileSketchSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** n items, value = item index (so value rank IS the index), skewed
    * across 7 partitions to exercise partial-heap merging. */
  private def items(n: Int, group: String = "g") =
    spark.range(n).repartition(7)
      .select(lit(group).as("source"), concat(lit(group), lit("#"), col("id")).as("key"),
        col("id").cast("double").as("x"))

  test("sample is bounded by k, carries the exact n, and is partition-order independent") {
    val s1 = Sketches.quantileSample(items(50000), col("key"), col("x"), Seq("source"), k = 256)
    assert(s1.count() == 256)
    assert(s1.select("n").head().getLong(0) == 50000L)
    val s2 = Sketches.quantileSample(items(50000).repartition(3).sort(desc("x")),
      col("key"), col("x"), Seq("source"), k = 256)
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
  }

  test("merging two halves' samples equals the whole corpus's sample") {
    val all = items(20000)
    val a = Sketches.quantileSample(all.where(col("x") < 10000), col("key"), col("x"),
      Seq("source"), k = 128).select("source", "pri", "v")
    val b = Sketches.quantileSample(all.where(col("x") >= 10000), col("key"), col("x"),
      Seq("source"), k = 128).select("source", "pri", "v")
    // merge = union + keep the k lexicographically-smallest (pri, v)
    import org.apache.spark.sql.expressions.Window
    val merged = a.union(b)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("pri", "v")))
      .where(col("rk") <= 128).drop("rk")
    val whole = Sketches.quantileSample(all, col("key"), col("x"),
      Seq("source"), k = 128).select("source", "pri", "v")
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
  }

  test("exact when the group fits in k") {
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val out = Sketches.quantiles(items(100), col("key"), col("x"),
      Seq("source"), qs, k = 256)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Double]("est")).toMap
    // n=100 ≤ k: sample = everything, est = value at index ⌊q·99⌋ exactly
    for (q <- qs) assert(out(q) == math.floor(q * 99), s"q=$q got ${out(q)}")
    }

  test("rank error stays within the O(1/sqrt(k)) band at n >> k") {
    val n = 100000
    val out = Sketches.quantiles(items(n), col("key"), col("x"),
      Seq("source"), Seq(0.1, 0.5, 0.9), k = Sketches.QuantileK)
      .collect()
    assert(out.forall(_.getAs[Long]("m") == Sketches.QuantileK))
    for (r <- out) {
      val q = r.getAs[Double]("q")
      // value == rank by construction, so the rank error reads directly
      val err = math.abs(r.getAs[Double]("est") - q * (n - 1)) / n
      // sigma = sqrt(q(1-q)/k) ≤ 0.011 at k=2048; 4 sigma ≈ 0.045.
      // md5 priorities are FIXED — this asserts the actual deterministic
      // outcome, there is no flake margin to manage
      assert(err < 0.045, s"q=$q est=${r.getAs[Double]("est")} rankErr=$err")
    }
  }

  test("groups are independent and the aggregation map-side combines") {
    val two = items(5000, "a").union(items(300, "b"))
    val out = Sketches.quantiles(two, col("key"), col("x"), Seq("source"),
      Seq(0.5), k = 64)
    val m = out.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("n"), r.getAs[Long]("m"))).toMap
    assert(m("a") == ((5000L, 64L)) && m("b") == ((300L, 64L)))
    // ONE aggregation, partial + final (map-side k-bounded heaps)
    val plan = Sketches.quantileSample(items(5000), col("key"), col("x"),
      Seq("source"), k = 64).queryExecution.executedPlan.toString
    assert(plan.contains("partial_bottom_k_sample") ||
      plan.toLowerCase.contains("partial") && plan.contains("bottom_k_sample"), plan.take(1500))
  }
}
