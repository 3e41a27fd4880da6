package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Guards.{QueryLimits, QueryTimeoutException, TooManySamplesException}
import graft.testkit.SharedSpark

class GuardsSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def pts(n: Int) = graft.model.Points.withSig(spark.createDataFrame(
    spark.sparkContext.parallelize((0 until n).map(i =>
      Row("m", Map("i" -> (i % 3).toString), i * 1000L, i.toDouble)), 2), schema))

  test("over-budget query aborts from the in-scan meter — no second pass") {
    val p = pts(100)
    val tally = Guards.newTally(spark)
    val df = graft.engine.Engine.instantQuery(spark, p, "sum(m)", 99000L,
      lookbackMs = 300000L, sampleTally = Some(tally))
    // the meter rides the query's own plan: tally_samples sits inside the
    // single selector scan — there is no separate pre-count job
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("tally_samples"))
    assert("(?i)scan".r.findAllIn(plan).size >= 1)
    val e = intercept[TooManySamplesException] {
      Guards.run(spark, QueryLimits(maxSamples = 50, timeoutMs = 120000L),
        "sum(m)", Some(tally)) {
        df.collect()
      }
    }
    assert(e.getMessage.contains("too many samples"))
    // all 100 samples were counted by the single evaluation pass
    assert(tally.value == 100)
  }

  test("a selective matcher stays under budget and passes") {
    val p = pts(100)
    val tally = Guards.newTally(spark)
    val df = graft.engine.Engine.instantQuery(spark, p, """sum(m{i="0"})""",
      99000L, lookbackMs = 300000L, sampleTally = Some(tally))
    // generous timeout: this test exercises the budget meter, and a cold
    // first collect under machine load can exceed the reference's 10 s
    val n = Guards.run(spark, QueryLimits(maxSamples = 50, timeoutMs = 120000L),
      "q", Some(tally)) {
      df.collect().length
    }
    assert(n == 1)
    assert(tally.value == 34) // i % 3 == 0 -> 34 of the 100 samples
  }

  test("range windows count once per step served (per-step accounting)") {
    val p = pts(10) // samples at t = 0s..9s
    val tally = Guards.newTally(spark)
    val df = graft.engine.Engine.rangeQuery(spark, p, "count_over_time(m[20s])",
      10000L, 30000L, 10000L, sampleTally = Some(tally))
    df.collect()
    // each sample lands in the [t-20s, t] windows of steps 10s and 20s
    assert(tally.value == 20)
  }

  test("@-pinned selectors meter the pinned window") {
    val p = pts(100) // samples at t = 0s..99s
    // grid far in the future: without the pin nothing would be in window
    val tally = Guards.newTally(spark)
    val df = graft.engine.Engine.instantQuery(spark, p, "m @ 99", 10_000_000L,
      lookbackMs = 300000L, sampleTally = Some(tally))
    intercept[TooManySamplesException] {
      Guards.run(spark, QueryLimits(maxSamples = 50, timeoutMs = 120000L),
        "m @ 99", Some(tally)) {
        df.collect()
      }
    }
    assert(tally.value == 100)
  }

  test("exact confirmation counts the same per-step quantity as the meter") {
    // the confirmation oracle must measure what the meter measures — the
    // exploded (sample × step) rows, i.e. each stored point weighted by the
    // grid steps it serves — or multi-step queries confirm far under the
    // meter and the MaxSamples guard silently stops guarding them
    val p = pts(100)
    val cases = Seq(
      // instant query: one step, plain membership
      ("sum(m)", StepGrid(99000L, 99000L, 1000L)),
      // multi-step range window: each sample serves ~window/step+1 steps
      ("count_over_time(m[20s])", StepGrid(10000L, 30000L, 10000L)),
      // multi-step instant selector with lookback across a wide grid
      ("sum(m)", StepGrid(50000L, 150000L, 10000L)),
      // matcher-filtered
      ("""sum(m{i="0"})""", StepGrid(99000L, 99000L, 1000L)),
      // @-pinned: single-step pinned window regardless of the outer grid
      ("m @ 99", StepGrid(10000000L, 10000000L, 1000L)),
      // offset shifts the selector's grid
      ("rate(m[30s] offset 10s)", StepGrid(30000L, 90000L, 15000L)),
      // subquery: inner selector counts over the aligned inner grid
      ("avg_over_time(m[30s:10s])", StepGrid(50000L, 90000L, 20000L)))
    cases.foreach { case (q, g) =>
      val tally = Guards.newTally(spark)
      graft.engine.Engine.rangeQuery(spark, p, q, g.startMs, g.endMs, g.stepMs,
        sampleTally = Some(tally)).collect()
      val exact = Guards.exactSampleCount(p, q, g)
      assert(exact == tally.value,
        s"query '$q' grid $g: exact=$exact meter=${tally.value}")
    }
  }

  test("a retry-inflated meter confirmed under budget does not abort") {
    val tally = Guards.newTally(spark)
    tally.add(1000) // meter overcount (stage retry / speculation shape)
    val n = Guards.run(spark, QueryLimits(maxSamples = 50), "q",
      Some(tally), confirmExact = Some(() => 10L)) {
      Thread.sleep(200) // let the budget thread poll + confirm mid-flight
      spark.range(5).count()
    }
    assert(n == 5)
  }

  test("a meter confirmed over budget rejects") {
    val tally = Guards.newTally(spark)
    tally.add(1000)
    intercept[TooManySamplesException] {
      Guards.run(spark, QueryLimits(maxSamples = 50), "q",
        Some(tally), confirmExact = Some(() => 1000L)) {
        spark.range(5).count()
      }
    }
  }

  test("a query past its deadline is cancelled with the timeout error") {
    val slow = udf((x: Long) => { Thread.sleep(200); x })
    val df = spark.range(200).select(slow(col("id")).as("v"))
    val e = intercept[QueryTimeoutException] {
      Guards.run(spark, QueryLimits(timeoutMs = 500)) { df.agg(sum("v")).collect() }
    }
    assert(e.getMessage.contains("timed out"))
  }

  test("active-query log survives a crash and names the in-flight query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qlog")
    try {
      // a fresh log has no crash evidence
      assert(Guards.enableQueryLog(dir.toString).isEmpty)
      // DURING a guarded run, the admission entry is durably on disk with
      // the query's description (what a post-crash inspection would read)
      val seen = Guards.run(spark, QueryLimits(timeoutMs = 30000),
        "rate(crash_witness[5m])") {
        Guards.readQueryLog(dir).map(_.description)
      }
      assert(seen == Seq("rate(crash_witness[5m])"))
      // completion clears it: a clean shutdown leaves no evidence
      assert(Guards.readQueryLog(dir).isEmpty)
      // simulate the crash: the process died mid-query, so its admission
      // file was never deleted — plant exactly what logAdmission writes
      java.nio.file.Files.writeString(dir.resolve("graft-query-777.json"),
        """{"group":"graft-query-777","description":"sum(m) by (i)","startedMs":123456}""")
      // "restart": re-enabling the log surfaces the leftover query by name
      // and truncates, like the reference's query_logger on startup
      val crashed = Guards.enableQueryLog(dir.toString)
      assert(crashed.map(q => (q.group, q.description, q.startedMs)) ==
        Seq(("graft-query-777", "sum(m) by (i)", 123456L)))
      assert(Guards.enableQueryLog(dir.toString).isEmpty) // cleared
    } finally Guards.disableQueryLog()
  }

  test("fast queries pass through the guard and release their slot") {
    val out = Guards.run(spark, QueryLimits(timeoutMs = 30000, maxConcurrent = 1)) {
      spark.range(10).count()
    }
    assert(out == 10)
    // the slot was released: a second run under the same 1-slot limit works
    val again = Guards.run(spark, QueryLimits(timeoutMs = 30000, maxConcurrent = 1)) {
      spark.range(5).count()
    }
    assert(again == 5)
  }
}
