package graft.engine

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Points
import graft.sources.PointsStore
import graft.testkit.SharedSpark

/** A query shape compiles its generated code once: query times and the
  * append write stamp are [[LongParam]]s, not literals, so a dashboard
  * sending a fresh `time=` on every refresh hits Spark's code cache. Each
  * shape runs once to warm the cache, then at ten fresh times; a run whose
  * executed plan ran before must not move the process-wide compile count,
  * and every answer must equal the one the in-memory relation gives. */
class CompileOnceSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private val M = 60000L
  private val T0 = 1704067200000L
  private val Minutes = 2 * 24 * 60

  /** 8 counters over 2 days, one sample a minute; series s grows by s+1
    * per minute and belongs to instance i(s % 4). */
  private def rows(minutes: Range, t0: Long): Seq[Row] =
    for (s <- 0 until 8; m <- minutes) yield Row("m",
      Map("instance_id" -> s"i${s % 4}", "series" -> s.toString),
      t0 + m * M, ((s + 1) * m).toDouble)

  private def frame(rs: Seq[Row]): DataFrame =
    Points.withSig(spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema))

  /** (name, PromQL, range in ms: 0 for an instant query, step). */
  private val shapes: Seq[(String, String, Long, Long)] = Seq(
    ("selector", """m{instance_id="i1"}""", 0L, 1000L),
    ("rate_instant", "sum by (instance_id) (rate(m[5m]))", 0L, 1000L),
    ("rate_1h", "sum by (instance_id) (rate(m[5m]))", 3600000L, M),
    ("topk", "topk(3, m)", 0L, 1000L),
    ("offset", "rate(m[5m] offset 1h)", 0L, 1000L),
    ("at_end", "m @ end()", 600000L, M),
    // at an unaligned time the inner grid is one step whose end is past
    // its start
    ("subquery_one_step", "max_over_time(m[1m:1m])", 0L, 1000L))

  /** One query as the server runs it: the store read pruned to the
    * selector windows, the in-scan sample meter, the dictionary by name. */
  private def served(dir: String, promql: String, end: Long, range: Long,
                     step: Long): DataFrame = {
    val grid = StepGrid(end - range, end, step)
    val (lo, hi) = Guards.selectorWindowBounds(promql, grid, 300000L)
      .getOrElse((grid.startMs - 300000L, end))
    Engine.rangeQuery(spark, PointsStore.read(spark, dir, lo, hi), promql,
      end - range, end, step,
      sampleTally = Some(spark.sparkContext.longAccumulator("samples")),
      seriesDict = PointsStore.readDict(spark, dir))
  }

  private def answer(df: DataFrame): Seq[(String, Map[String, String], Long, Double)] =
    df.collect().toSeq.map(r => (Option(r.getAs[String]("name")).getOrElse(""),
      r.getAs[scala.collection.Map[String, String]]("labels").toMap,
      r.getAs[Long]("t"), r.getAs[Double]("value")))
      .sortBy(a => (a._1, a._2.toSeq.sorted.mkString(","), a._3))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The executed plan with every number blanked (times, expression and
    * plan ids, accumulators): two runs of one plan at different times
    * read the same. */
  private def planShape(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("\\d+", "N")

  // the last hour of the store, never on a sample minute
  private val warmAt = T0 + (Minutes - 40) * M + 1234L
  private val times = (1 to 10).map(i => warmAt + i * 61337L)

  /** Runs `run` once to warm, then at the ten fresh times. A run whose
    * plan shape ran before must compile nothing; the answer is the
    * (time → shape, classes compiled) of every fresh run. A run may take a
    * new shape: adaptive execution picks a join's build side from the
    * sizes of its inputs, which vary with the data, and the first run of
    * each side compiles its code. Each query shape is measured on its
    * own: Spark's code cache holds 100 classes, and in local mode each
    * class twice (the key includes the compiling thread's class loader,
    * and the driver and the task threads differ), so all the shapes here
    * together need not fit in it. */
  private def freshRuns(run: Long => String): Seq[(Long, String, Long)] = {
    val seen = scala.collection.mutable.Set(run(warmAt))
    times.map { t =>
      val before = compiles
      val shape = run(t)
      val fresh = (t, shape, compiles - before)
      if (seen(shape))
        assert(fresh._3 == 0, s"${fresh._3} classes compiled at $t for a plan that ran before")
      seen += shape
      fresh
    }
  }

  private lazy val dir = {
    val d = Files.createTempDirectory("compile_once").toString
    PointsStore.append(frame(rows(0 until Minutes, T0)), d)
    PointsStore.compact(spark, d)
    d
  }
  private lazy val mem = frame(rows(0 until Minutes, T0))

  for ((name, q, range, step) <- shapes)
    test(s"a warmed query shape compiles no code at fresh times: $name") {
      val got = scala.collection.mutable.Map.empty[Long,
        Seq[(String, Map[String, String], Long, Double)]]
      val runs = freshRuns { t =>
        val df = served(dir, q, t, range, step)
        got(t) = answer(df)
        planShape(df)
      }
      // the check above is not vacuous: most fresh runs repeat a plan
      assert(runs.map(_._2).distinct.length <= 2, runs.map(_._2).distinct.mkString("\n"))
      // topk's join has its build side pinned: one plan at every time
      if (name == "topk")
        assert(runs.map(_._2).distinct.length == 1, runs.map(_._2).distinct.mkString("\n"))
      // the parameterized plan answers as the in-memory relation does
      for (t <- times) {
        val (rs, want) = (got(t), answer(Engine.rangeQuery(spark, mem, q, t - range, t, step)))
        assert(rs.nonEmpty, s"empty answer at $t")
        assert(rs.length == want.length, s"at $t: ${rs.length} rows, want ${want.length}")
        rs.zip(want).foreach { case (g, w) =>
          assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3 &&
            math.abs(g._4 - w._4) <= 1e-9 * math.max(1.0, math.abs(w._4)),
            s"at $t: got $g, want $w")
        }
      }
    }

  test("topk pins its winners as the broadcast side only while their count is bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, SHUFFLE_HASH}
    def hinted(strategy: Any)(q: String, range: Long, step: Long): Boolean =
      served(dir, q, warmAt, range, step).queryExecution.optimizedPlan.collect {
        case j: Join => j.hint
      }.exists(h => (h.leftHint ++ h.rightHint).exists(_.strategy.contains(strategy)))
    val broadcastHinted = hinted(BROADCAST) _
    withPartitionedPlan {
      assert(broadcastHinted("topk(3, m)", 0L, 1000L))
      assert(broadcastHinted("bottomk(2, m)", 3600000L, M))
      // two days at a 1 s step: 3 × 172,801 winners, left to AQE's sizing
      assert(!broadcastHinted("topk(3, m)", 2 * 24 * 60 * M, 1000L))
      // one winner set per group: the group count is unknown at build
      assert(!broadcastHinted("topk(3, m) by (instance_id)", 0L, 1000L))
    }
    // on the single plan the winners are a shuffled hash join's build side
    assert(!broadcastHinted("topk(3, m)", 0L, 1000L))
    assert(hinted(SHUFFLE_HASH)("topk(3, m)", 0L, 1000L))
  }

  test("the dashboard shapes run single-partition: one job, no exchange, the same scan filters") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.Exchange
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(df: DataFrame): Long = {
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val before = jobs.get
      df.collect()
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      jobs.get - before
    }
    // the store scans' pushed and partition filters, expression ids blanked
    val helper = new AdaptiveSparkPlanHelper {}
    def scanFilters(plan: SparkPlan): Seq[String] =
      helper.collect(plan) { case s: FileSourceScanExec => s }
        .map(s => Seq("PushedFilters", "PartitionFilters").map(s.metadata).mkString(" "))
        .map(_.replaceAll("#\\d+", "#N"))
    def shuffled(plan: SparkPlan): Boolean =
      plan.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[AdaptiveSparkPlanExec])
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((name, q, range, step) <- shapes.take(4)) {
        val single = served(dir, q, warmAt, range, step)
        val part = withPartitionedPlan(served(dir, q, warmAt, range, step))
        val (sp, pp) = (single.queryExecution.executedPlan, part.queryExecution.executedPlan)
        assert(!shuffled(sp), s"$name:\n$sp")
        assert(shuffled(pp), s"$name:\n$pp")
        assert(scanFilters(sp).nonEmpty && scanFilters(sp) == scanFilters(pp), name)
        assert(graft.Explain.storePlan(single).exists(_.startsWith("store plan: single;")), name)
        assert(graft.Explain.storePlan(part).exists(_.startsWith("store plan: partitioned;")), name)
        // warm, then count a fresh time's run (a reused plan)
        jobsOf(single)
        assert(jobsOf(served(dir, q, times.head, range, step)) == 1, name)
      }
      // two appends leave two files a day, which arms the store's LWW
      // guard: its window sits above the coalesced scan, so it needs no
      // exchange either
      val guarded = Files.createTempDirectory("compile_once_guarded").toString
      for (_ <- 1 to 2) PointsStore.append(frame(rows(0 until Minutes, T0)), guarded)
      val g = served(guarded, "sum by (instance_id) (rate(m[5m]))", warmAt, 0L, 1000L)
        .queryExecution.executedPlan
      assert(helper.find(g)(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]).nonEmpty)
      assert(!shuffled(g), g)
      // a day at a 1 m step: past the single plan's step bound, and so is
      // an instant query whose subquery evaluates a day at 1 m
      val long = served(dir, "sum by (instance_id) (rate(m[5m]))", warmAt, 24 * 60 * M, M)
      assert(shuffled(long.queryExecution.executedPlan))
      def instant(q: String) = served(dir, q, warmAt, 0L, 1000L).queryExecution.executedPlan
      assert(shuffled(instant("max_over_time(sum(rate(m[5m]))[1d:1m])")))
      assert(!shuffled(instant("max_over_time(sum(rate(m[5m]))[1h:1m])")))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the server's working set stays compiled: every shape and an append, interleaved") {
    // all the shapes above and an append, round after round at fresh
    // times, as a dashboard refreshes while ingest runs: together they
    // hold more classes than Spark's default cache keeps
    val appendDir = Files.createTempDirectory("compile_once_mixed").toString
    def round(t: Long): Seq[(String, String)] =
      shapes.map { case (name, q, range, step) =>
        val df = served(dir, q, t, range, step)
        df.collect()
        (name, planShape(df))
      } :+ {
        PointsStore.append(frame(rows(0 until 3, t)), appendDir)
        ("append", "")
      }
    val seen = scala.collection.mutable.Set(round(warmAt): _*)
    val counted = times.map { t =>
      val before = compiles
      val ran = round(t)
      val n = compiles - before
      // a round that only repeats plans that ran before compiles nothing
      val repeated = ran.forall(seen)
      if (repeated) assert(n == 0, s"$n classes compiled at $t for plans that ran before")
      seen ++= ran
      repeated
    }
    assert(counted.count(identity) >= times.length / 2, "too few rounds repeated every plan")
  }

  test("an append compiles no code at fresh write stamps") {
    val appendDir = Files.createTempDirectory("compile_once_append").toString
    val runs = freshRuns { t =>
      PointsStore.append(frame(rows(0 until 3, t)), appendDir)
      "append"
    }
    assert(runs.map(_._3).sum == 0)
    // every appended row reads back
    assert(PointsStore.read(spark, appendDir, Long.MinValue, Long.MaxValue).count() ==
      8 * 3 * (times.length + 1))
  }
}
