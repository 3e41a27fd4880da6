package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.promql.Parser
import graft.testkit.SharedSpark

class EngineSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def pts(rows: Seq[Row]) = graft.model.Points.withSig(
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))

  test("repeated subexpressions evaluate once per query (memoized)") {
    val p = pts(Seq(Row("up", Map("job" -> "a"), 1000L, 1.0)))
    val ctx = EvalContext(spark, p, StepGrid(1000L, 1000L, 1000L))
    val a = Compiler.eval(Parser.parse("up"), ctx)
    val b = Compiler.eval(Parser.parse("up"), ctx)
    assert(a eq b) // same Value instance -> same DataFrame -> ReusedExchange
    // a structurally different selector misses the memo
    val c = Compiler.eval(Parser.parse("""up{job="a"}"""), ctx)
    assert(!(a eq c))
  }

  test("default 5m lookback: sample visible at +5m, gone at +5m1ms") {
    val p = pts(Seq(Row("m", Map.empty[String, String], 0L, 7.0)))
    assert(Engine.instantQuery(spark, p, "m", 300000L).count() == 1)
    assert(Engine.instantQuery(spark, p, "m", 300001L).count() == 0)
  }

  test("ceil/floor preserve NaN, +-Inf, and magnitudes past 2^63 (Go math semantics)") {
    val p = pts(Seq(
      Row("m", Map("i" -> "nan"), 1000L, Double.NaN),
      Row("m", Map("i" -> "pinf"), 1000L, Double.PositiveInfinity),
      Row("m", Map("i" -> "ninf"), 1000L, Double.NegativeInfinity),
      Row("m", Map("i" -> "big"), 1000L, 1.5e300),
      Row("m", Map("i" -> "frac"), 1000L, 2.5)))
    def vals(q: String): Map[String, Double] =
      Engine.instantQuery(spark, p, q, 1000L).collect()
        .map(r => r.getAs[Map[String, String]]("labels")("i") -> r.getAs[Double]("value")).toMap
    val c = vals("ceil(m)")
    assert(c("nan").isNaN && c("pinf").isPosInfinity && c("ninf").isNegInfinity)
    assert(c("big") == 1.5e300 && c("frac") == 3.0)
    val f = vals("floor(m)")
    assert(f("nan").isNaN && f("pinf").isPosInfinity && f("ninf").isNegInfinity)
    assert(f("big") == 1.5e300 && f("frac") == 2.0)
  }

  test("quantile over a window containing NaN sorts NaN first (Go sort order)") {
    // Go sort.Float64s: [NaN, 1, 2, 3]; phi=0 picks NaN, phi=1 picks 3,
    // phi=0.5 interpolates order stats 1 and 2 -> 1.5
    val rows = Seq(Double.NaN, 1.0, 2.0, 3.0).zipWithIndex.map { case (v, i) =>
      Row("m", Map.empty[String, String], i * 1000L, v)
    }
    val p = pts(rows)
    def q(phi: Double): Double =
      Engine.instantQuery(spark, p, s"quantile_over_time($phi, m[1m])", 60000L)
        .collect().head.getAs[Double]("value")
    assert(q(0.0).isNaN)
    assert(q(1.0) == 3.0)
    assert(q(0.5) == 1.5)
  }

  test("one-to-one matching applies on/ignoring relabeling to filtering comparisons") {
    val p = pts(Seq(
      Row("a", Map("job" -> "j1", "x" -> "1"), 1000L, 10.0),
      Row("b", Map("job" -> "j1", "y" -> "2"), 1000L, 3.0)))
    // reference resultMetric: Keep(on) applies even without bool, and Keep
    // removes __name__ (engine.go:2336-2377)
    val out = Engine.instantQuery(spark, p, """a > on(job) b""", 1000L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("name") == null)
    assert(r.getAs[Map[String, String]]("labels") == Map("job" -> "j1"))
    assert(r.getAs[Double]("value") == 10.0) // LHS sample value is kept
    // ignoring: Del(ignoring) keeps the name for a filter comparison
    val ig = Engine.instantQuery(spark, p, """a > ignoring(x, y) b""", 1000L).collect()
    assert(ig.head.getAs[String]("name") == "a")
    assert(ig.head.getAs[Map[String, String]]("labels") == Map("job" -> "j1"))
  }

  test("duplicate LHS matches on one-to-one matching raise the explicit-matching error") {
    val p = pts(Seq(
      Row("a", Map("job" -> "j1", "inst" -> "1"), 1000L, 1.0),
      Row("a", Map("job" -> "j1", "inst" -> "2"), 1000L, 2.0),
      Row("b", Map("job" -> "j1"), 1000L, 1.0)))
    val e = intercept[Exception] {
      Engine.instantQuery(spark, p, """a + on(job) b""", 1000L).collect()
    }
    assert(e.getMessage.contains("many-to-one matching must be explicit") ||
      Option(e.getCause).exists(_.getMessage.contains("many-to-one matching must be explicit")))
  }

  test("filtered-out duplicate LHS matches do not raise (keep test precedes dup check)") {
    val p = pts(Seq(
      Row("a", Map("job" -> "j1", "inst" -> "1"), 1000L, 5.0),
      Row("a", Map("job" -> "j1", "inst" -> "2"), 1000L, 1.0),
      Row("b", Map("job" -> "j1"), 1000L, 3.0)))
    // only inst=1 passes (5 > 3); inst=2 fails -> exactly one match survives
    val out = Engine.instantQuery(spark, p, """a > on(job) b""", 1000L).collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 5.0)
  }

  test("on(__name__) matches by metric name (name participates when listed)") {
    // reference: signatureFunc keys BytesWithLabels(on-names) — a listed
    // __name__ counts. With the name ignored, these two same-labelset
    // series would share one match signature and raise a duplicate-match
    // error; keyed by name, each matches only itself.
    val p = pts(Seq(
      Row("a", Map("job" -> "1"), 1000L, 1.0),
      Row("b", Map("job" -> "1"), 1000L, 2.0)))
    val out = Engine.instantQuery(spark, p,
      """{__name__=~"a|b"} >= on(__name__, job) {__name__=~"a|b"}""", 1000L)
      .collect().map(r => (r.getAs[String]("name"), r.getAs[Double]("value"))).toSet
    assert(out == Set(("a", 1.0), ("b", 2.0)))
  }

  test("an inner collision inside sum(...) raises at its own materialization") {
    // the reference errors at EVERY vector materialization
    // (engine.go:1930-1934): a label_replace that collapses two series
    // must raise even though the enclosing sum would re-unify the pair
    // into one row — a root-only check would silently diverge here
    val p = pts(Seq(
      Row("m", Map("job" -> "a"), 1000L, 1.0),
      Row("m", Map("job" -> "b"), 1000L, 2.0)))
    val e = intercept[Exception] {
      Engine.instantQuery(spark, p,
        """sum(label_replace(m, "job", "x", "job", ".*"))""", 1000L).collect()
    }
    assert(e.getMessage.contains("same labelset") ||
      Option(e.getCause).exists(_.getMessage.contains("same labelset")))
    // same for a name-drop producer feeding an aggregation
    val p2 = pts(Seq(
      Row("a", Map("job" -> "x"), 1000L, 1.0),
      Row("b", Map("job" -> "x"), 1000L, 2.0)))
    val e2 = intercept[Exception] {
      Engine.instantQuery(spark, p2, """sum(-{__name__=~"a|b"})""", 1000L).collect()
    }
    assert(e2.getMessage.contains("same labelset") ||
      Option(e2.getCause).exists(_.getMessage.contains("same labelset")))
    // clean shapes pay ZERO extra Exchange for the guard: the strict plan
    // is exchange-identical to the guard-disabled plan
    def exchanges(strict: Boolean): Int =
      "Exchange".r.findAllIn(
        Engine.instantQuery(spark, p, "sum by (job) (rate(m[5m]))", 1000L,
          strictCollision = strict).queryExecution.executedPlan.toString).length
    assert(exchanges(strict = true) == exchanges(strict = false))
  }

  test("collision guard: label_replace collapsing two series raises; bare selector pays nothing") {
    val p = pts(Seq(
      Row("m", Map("job" -> "a"), 1000L, 1.0),
      Row("m", Map("job" -> "b"), 1000L, 2.0)))
    // rewrite both series onto the same labelset -> reference's error
    val e = intercept[Exception] {
      Engine.instantQuery(spark, p,
        """label_replace(m, "job", "x", "job", ".*")""", 1000L).collect()
    }
    assert(e.getMessage.contains("same labelset") ||
      Option(e.getCause).exists(_.getMessage.contains("same labelset")))
    // name-dropping over a multi-name selector: two metrics with the same
    // labelset collapse onto one labelset after unary minus drops __name__
    val p2 = pts(Seq(
      Row("a", Map("job" -> "x"), 1000L, 1.0),
      Row("b", Map("job" -> "x"), 1000L, 2.0)))
    val e2 = intercept[Exception] {
      Engine.instantQuery(spark, p2, """-{__name__=~"a|b"}""", 1000L).collect()
    }
    assert(e2.getMessage.contains("same labelset") ||
      Option(e2.getCause).exists(_.getMessage.contains("same labelset")))
    // statically collision-free shapes skip the guard: no tally aggregation
    // (count) node appears above the bare selector's own aggregation
    assert(!Engine.mayCollide(Parser.parse("m")))
    assert(!Engine.mayCollide(Parser.parse("sum by (job) (rate(m[5m]))")))
    assert(!Engine.mayCollide(Parser.parse("a / on(job) b")))
    assert(Engine.mayCollide(Parser.parse("""label_replace(m, "j", "x", "job", ".*")""")))
    assert(Engine.mayCollide(Parser.parse("""abs({job="a"})"""))) // no literal name
    assert(Engine.mayCollide(Parser.parse("""-{__name__=~"a|b"}""")))
    // topk/bottomk SELECT rows with their names — a name-dropping wrapper
    // over a multi-name input must keep the guard on
    assert(Engine.mayCollide(Parser.parse("""abs(topk(2, {job="a"}))""")))
    assert(!Engine.mayCollide(Parser.parse("abs(topk(2, m))"))) // literal name: safe
    // and end-to-end: two same-label metrics through topk then abs collide
    val p3 = pts(Seq(
      Row("a", Map("job" -> "x"), 1000L, 1.0),
      Row("b", Map("job" -> "x"), 1000L, 2.0)))
    val e3 = intercept[Exception] {
      Engine.instantQuery(spark, p3, """abs(topk(2, {job="x"}))""", 1000L).collect()
    }
    assert(e3.getMessage.contains("same labelset") ||
      Option(e3.getCause).exists(_.getMessage.contains("same labelset")))
  }

  test("subquery default resolution follows the engine knob") {
    // samples every 30s; sum_over_time over [2m:] at default 1m resolution
    // picks 2 inner steps -> different result than a 30s resolution would
    val rows = (0 to 4).map(i => Row("m", Map.empty[String, String], i * 30000L, 1.0))
    val p = pts(rows)
    val out = Engine.instantQuery(spark, p, "sum_over_time(m[2m:])", 120000L,
      defaultSubqueryStepMs = 60000L)
    assert(out.collect().head.getAs[Double]("value") == 3.0) // steps 0,60s,120s
    val fine = Engine.instantQuery(spark, p, "sum_over_time(m[2m:])", 120000L,
      defaultSubqueryStepMs = 30000L)
    assert(fine.collect().head.getAs[Double]("value") == 5.0)
  }

  private val T = 1704067200000L // a multiple of 60s
  private def tAndT30 = pts(Seq(
    Row("m", Map.empty[String, String], T, 1.0),
    Row("m", Map.empty[String, String], T + 30000L, 2.0)))

  test("a one-step range grid with end past start serves only its start") {
    def byStep(end: Long) = Engine.rangeQuery(spark, tAndT30, "m", T, end, 60000L)
      .collect().map(r => r.getAs[Long]("t") -> r.getAs[Double]("value")).toMap
    // the aligned 2-step grid answers step T with the sample at T
    assert(byStep(T + 60000L)(T) == 1.0)
    // end - start < step: one step at T, which must not see the T+30s sample
    assert(byStep(T + 30000L) == Map(T -> 1.0))
  }

  test("a subquery whose inner grid is one unaligned step serves only its start") {
    // at T+30s the [1m:1m] inner grid is StepGrid(T, T+30s, 1m): one step, at T
    val out = Engine.instantQuery(spark, tAndT30, "max_over_time(m[1m:1m])", T + 30000L)
    assert(out.collect().map(_.getAs[Double]("value")).toSeq == Seq(1.0))
  }

  /** A sample every 10 s from 0 to 10 m. */
  private def every10s = pts((0 to 60).map(i =>
    Row("m", Map.empty[String, String], i * 10000L, i.toDouble)))

  test("a subquery whose aligned inner start passes the query end is empty, not an error") {
    // at 5m40s the [30s:1m] inner grid starts at 5m10s, aligned up to 6m
    val out = Engine.instantQuery(spark, every10s, "max_over_time(m[30s:1m])", 340000L)
    assert(out.collect().isEmpty)
    // one step later the window holds the 6m inner step
    assert(Engine.instantQuery(spark, every10s, "max_over_time(m[30s:1m])", 380000L)
      .collect().map(_.getAs[Double]("value")).toSeq == Seq(36.0))
  }

  test("a range query whose steps all fall in one inner-step gap is empty") {
    // steps 5m20s..5m40s, windows (t-10s, t]: no inner step (5m, 6m) inside
    val out = Engine.rangeQuery(spark, every10s, "max_over_time(m[10s:1m])",
      320000L, 340000L, 10000L)
    assert(out.collect().isEmpty)
  }

  test("plan choice: the slim plan only past the threshold; the dictionary is read only then") {
    // the rule itself, at Spark's default open cost
    val threshold = 4L * 1024 * 1024
    assert(!Engine.PlanChoice(threshold - 1, threshold).slim)
    assert(!Engine.PlanChoice(threshold, threshold).slim)
    assert(Engine.PlanChoice(threshold + 1, threshold).slim)
    assert(Engine.planThreshold(spark) == threshold)
    // in-memory points touch no files
    assert(Engine.touchedBytes(pts(Seq(Row("m", Map("a" -> "1"), 1000L, 1.0)))) == 0L)

    // on a store: the touched bytes are the pruned read's live files, and
    // the by-name dictionary is evaluated exactly when the rule says slim
    val dir = java.nio.file.Files.createTempDirectory("plan_choice").toString
    graft.sources.PointsStore.append(pts(Seq(
      Row("m", Map("a" -> "1"), 1000L, 1.0), Row("m", Map("a" -> "2"), 1000L, 2.0))), dir)
    val stored = graft.sources.PointsStore.read(spark, dir, 0L, 2000L)
    val bytes = Engine.touchedBytes(stored)
    val onDisk = stored.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).length).sum
    assert(bytes > 0 && bytes == onDisk)
    def evaluations(threshold: Long): Int = {
      var n = 0
      val out = Engine.withPlanThreshold(spark, threshold)(
        Engine.instantQuery(spark, stored, "m", 1000L, seriesDict = {
          n += 1; graft.sources.PointsStore.readDict(spark, dir)
        }))
      assert(out.count() == 2)
      assert(readsDict(out.queryExecution.analyzed) == (n > 0))
      n
    }
    assert(evaluations(bytes) == 0)     // not past the threshold: full plan
    assert(evaluations(bytes - 1) == 1) // one byte past it: slim plan
  }

  test("plan choice: the single plan for a small store read over a short grid") {
    val threshold = 4L * 1024 * 1024
    def plan(bytes: Long, steps: Long) = Engine.PlanChoice(bytes, threshold, steps).name
    assert(plan(Engine.SingleMaxBytes, Engine.SingleMaxSteps) == "single")
    // in-memory points, a long grid, more bytes than one task should scan
    assert(plan(0L, 1L) == "partitioned")
    assert(plan(1L, Engine.SingleMaxSteps + 1) == "partitioned")
    assert(plan(Engine.SingleMaxBytes + 1, 1L) == "partitioned")
    assert(plan(threshold + 1, 1L) == "slim")
    // the pin: a step bound of 0 keeps every read partitioned
    assert(Engine.PlanChoice(1L, threshold, 1L, stepBound = 0L).name == "partitioned")
    // the steps are the largest grid evaluated: a subquery's inner one counts
    def steps(q: String, rangeMs: Long, stepMs: Long) = Engine.gridSteps(
      graft.promql.Parser.parse(q), StepGrid(0L, rangeMs, stepMs), 60000L)
    assert(steps("rate(m[5m])", 0L, 1000L) == 1L)
    assert(steps("rate(m[5m])", 3600000L, 60000L) == 61L)
    assert(steps("max_over_time(rate(m[5m])[1d:1m])", 0L, 1000L) == 1441L)
    assert(steps("1 + max_over_time(rate(m[5m])[1h:])", 3600000L, 600000L) == 121L)
  }
}
