package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class CountMinSpec extends AnyFunSuite with SharedSpark {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("sketch is bounded and counts every token once per row") {
    val sk = CountMin.sketch(docs).cache()
    assert(sk.count() <= CountMin.Depth.toLong * CountMin.Width)
    val totalToks = docs.select(explode(split(col("text"), " ")).as("t"))
      .where(length(col("t")) > 0).count()
    // each depth row partitions the token stream over its buckets
    val perRow = sk.groupBy("d").agg(sum("cnt").as("s")).collect()
    assert(perRow.length == CountMin.Depth)
    assert(perRow.forall(_.getLong(1) == totalToks))
  }

  test("estimates upper-bound exact counts; equality for most probes") {
    val probes = Seq("the", "scan", "data", "zzz_never_seen")
    val est = CountMin.estimate(docs, probes).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.foreach { p =>
      assert(est(p) >= exact.getOrElse(p, 0L), s"CM underestimated $p")
    }
    // one-sided error: the absent probe can only be inflated by
    // collisions in ALL four rows — tiny at this fill factor
    assert(est("zzz_never_seen") <= 5)
  }

  test("bucketOf matches the Column formulation") {
    import spark.implicits._
    val toks = Seq("alpha", "beta", "Σigma", "x")
    val viaCol = toks.toDF("tok").select(col("tok"),
        expr(s"pmod(cast(conv(substring(md5(concat('2|', tok)), 1, 5), 16, 10) as long), ${CountMin.Width})"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    toks.foreach(t => assert(CountMin.bucketOf(2, t).toLong == viaCol(t), t))
  }
}
