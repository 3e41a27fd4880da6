package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class SketchesSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def items(n: Int, group: String = "g") =
    (0 until n).map(i => (group, s"tok_$i")).toDF("source", "tok")

  test("hll registers are bounded by m and mergeable by max") {
    val regs = Sketches.hllRegisters(items(50000), col("tok"), Seq("source"))
    val n = regs.count()
    assert(n <= Sketches.HllM)
    // merging two halves' register tables by max equals the whole's
    val a = Sketches.hllRegisters(items(50000).where(length(col("tok")) % 2 === 0),
      col("tok"), Seq("source"))
    val b = Sketches.hllRegisters(items(50000).where(length(col("tok")) % 2 === 1),
      col("tok"), Seq("source"))
    val merged = a.union(b).groupBy("source", "reg").agg(max("maxrho").as("maxrho"))
    assert(merged.except(regs).isEmpty && regs.except(merged).isEmpty)
  }

  test("hll estimate lands within the expected error band") {
    // sigma ~= 1.04/sqrt(1024) ~= 3.25%; 50k >> m so the raw estimator runs
    for (n <- Seq(5000, 50000)) {
      val est = Sketches.hllEstimate(items(n), col("tok"), Seq("source"))
        .head().getAs[Double]("est")
      assert(math.abs(est - n) < 0.15 * n, s"n=$n est=$est")
    }
  }

  test("hll duplicates do not move the estimate") {
    val once = Sketches.hllEstimate(items(2000), col("tok"), Seq("source")).head()
    val tripled = Sketches.hllEstimate(
      items(2000).union(items(2000)).union(items(2000)), col("tok"), Seq("source")).head()
    assert(once == tripled)
  }

  test("hll small sets take the linear-counting branch and are near-exact") {
    val est = Sketches.hllEstimate(items(100), col("tok"), Seq("source"))
      .head().getAs[Double]("est")
    assert(math.abs(est - 100) < 10, s"est=$est")
  }

  test("hll groups are independent") {
    val two = items(1000, "a").union(items(300, "b"))
    val m = Sketches.hllEstimate(two, col("tok"), Seq("source"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap
    val solo = Sketches.hllEstimate(items(300, "b"), col("tok"), Seq("source"))
      .head().getAs[Double]("est")
    assert(m("b") == solo)
    assert(m("a") > m("b"))
  }

  test("bloom has no false negatives and bounded fill") {
    val keys = items(5000)
    val present = (0 until 50).map(i => s"tok_${i * 100}")
    val absent = (0 until 50).map(i => s"absent_$i")
    val res = Sketches.bloomProbe(keys, col("tok"), present ++ absent)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Boolean]("might_contain"), r.getAs[Long]("n_bits_set"))).toMap
    present.foreach(t => assert(res(t)._1, s"false negative on $t"))
    // fill ≤ k·n and ≤ m
    assert(res.values.head._2 <= math.min(Sketches.BloomK * 5000L, Sketches.BloomM.toLong))
    // at 5000 keys over 2^20 bits the fill is ~3.3%, so the false-positive
    // rate is (kn/m)^k-ish ≈ 4e-11 — every absent probe must miss
    val fp = absent.count(t => res(t)._1)
    assert(fp == 0, s"implausible false-positive count $fp at 5000/2^20 fill")
  }

  test("bloom position arithmetic matches the driver-side twin") {
    val one = Sketches.bloomBits(Seq(("g", "hello")).toDF("source", "tok"), col("tok"))
      .as[Long].collect().toSet
    val expected = (0 until Sketches.BloomK).map(i => Sketches.bloomPosOf(i, "hello")).toSet
    assert(one == expected)
  }
}
