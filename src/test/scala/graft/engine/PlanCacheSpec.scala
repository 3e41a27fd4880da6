package graft.engine

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Points
import graft.sources.PointsStore
import graft.testkit.SharedSpark

/** A repeated query shape reuses its optimized plan with the times rebound
  * ([[PlanCache]]). Every answer a reused plan gives must equal the one a
  * fresh build gives at the same time on the same store
  * ([[PlanCache.bypass]]); a write, a compaction or a delete must miss, and
  * a plan whose parameters cannot all be rebound must never be reused.
  * The test stores are small, so their queries take the single-partition
  * plan unless pinned to another ([[withPartitionedPlan]], [[withSlimPlan]]). */
class PlanCacheSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private val M = 60000L
  private val T0 = 1704067200000L
  private val Minutes = 2 * 24 * 60

  /** Counters over 2 days, one sample a minute; series s grows by s+1 per
    * minute and belongs to instance i(s % 4). */
  private def rows(minutes: Range, t0: Long, series: Range = 0 until 8): Seq[Row] =
    for (s <- series; m <- minutes) yield Row("m",
      Map("instance_id" -> s"i${s % 4}", "series" -> s.toString),
      t0 + m * M, ((s + 1) * m).toDouble)

  private def frame(rs: Seq[Row]): DataFrame =
    Points.withSig(spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema))

  /** CompileOnceSpec's shapes: (name, PromQL, range in ms, step). */
  private val shapes: Seq[(String, String, Long, Long)] = Seq(
    ("selector", """m{instance_id="i1"}""", 0L, 1000L),
    ("rate_instant", "sum by (instance_id) (rate(m[5m]))", 0L, 1000L),
    ("rate_1h", "sum by (instance_id) (rate(m[5m]))", 3600000L, M),
    ("topk", "topk(3, m)", 0L, 1000L),
    ("offset", "rate(m[5m] offset 1h)", 0L, 1000L),
    ("at_end", "m @ end()", 600000L, M),
    ("subquery_one_step", "max_over_time(m[1m:1m])", 0L, 1000L))

  private def store(): String = {
    val d = Files.createTempDirectory("plan_cache").toString
    PointsStore.append(frame(rows(0 until Minutes, T0)), d)
    PointsStore.compact(spark, d)
    d
  }
  private lazy val dir = store()

  /** One query as the server runs it. */
  private def served(dir: String, promql: String, end: Long, range: Long, step: Long,
                     tally: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val grid = StepGrid(end - range, end, step)
    val (lo, hi) = Guards.selectorWindowBounds(promql, grid, 300000L)
      .getOrElse((grid.startMs - 300000L, end))
    Engine.rangeQuery(spark, PointsStore.read(spark, dir, lo, hi), promql,
      end - range, end, step, sampleTally = tally,
      seriesDict = PointsStore.readDict(spark, dir))
  }

  private type Answer = Seq[(String, Map[String, String], Long, Double)]

  private def answer(df: DataFrame): Answer =
    df.collect().toSeq.map(r => (Option(r.getAs[String]("name")).getOrElse(""),
      r.getAs[scala.collection.Map[String, String]]("labels").toMap,
      r.getAs[Long]("t"), r.getAs[Double]("value")))
      .sortBy(a => (a._1, a._2.toSeq.sorted.mkString(","), a._3))

  /** (answer, cache hits it took, misses it took). */
  private def counted(f: => Answer): (Answer, Long, Long) = {
    val (h, m) = (PlanCache.hits, PlanCache.misses)
    val a = f
    (a, PlanCache.hits - h, PlanCache.misses - m)
  }

  // the last hour of the store, never on a sample minute
  private val warmAt = T0 + (Minutes - 40) * M + 1234L
  private val times = (1 to 10).map(i => warmAt + i * 61337L)

  private def checkShape(name: String, q: String, range: Long, step: Long): Unit = {
    answer(served(dir, q, warmAt, range, step))
    for (t <- times) {
      val (got, hits, misses) = counted(answer(served(dir, q, t, range, step)))
      val want = PlanCache.bypass(answer(served(dir, q, t, range, step)))
      assert(want.nonEmpty, s"$name: empty answer at $t")
      assert(got == want, s"$name at $t")
      // the one-step subquery's inner grid is aligned to its step, so its
      // parameters do not follow the query's times: it is built every time
      if (name == "subquery_one_step") assert((hits, misses) == ((0L, 1L)), s"$name at $t")
      else assert((hits, misses) == ((1L, 0L)), s"$name at $t")
    }
  }

  for ((name, q, range, step) <- shapes)
    test(s"a reused plan answers as a fresh build at fresh times: $name") {
      checkShape(name, q, range, step)
    }

  for ((name, q, range, step) <- shapes)
    test(s"a reused slim plan answers as a fresh build at fresh times: $name") {
      withSlimPlan(checkShape(name, q, range, step))
    }

  // The single plan (a small store read, one partition) against the
  // partitioned plan pinned for the same queries: a fresh build, a reused
  // plan at a shifted time, and a reused plan after an append, whose two
  // files arm the store's LWW guard below the coalesced scan
  for ((name, q, range, step) <- shapes)
    test(s"the single plan answers as the partitioned plan, fresh and reused: $name") {
      val d = store()
      def run(t: Long) = answer(served(d, q, t, range, step))
      def partitioned(t: Long) = withPartitionedPlan(PlanCache.bypass(run(t)))
      val singles = Engine.planCount("single")
      val fresh = PlanCache.bypass(run(warmAt))
      assert(fresh.nonEmpty && fresh == partitioned(warmAt), s"$name: fresh build")
      run(warmAt)
      val (hit, hits, _) = counted(run(times(0)))
      assert(hit == partitioned(times(0)), s"$name: reused at ${times(0)}")
      val before = run(times(2))
      PointsStore.append(frame(rows(0 until Minutes, T0, 8 until 10)), d)
      run(times(1))
      val (appended, appendedHits, _) = counted(run(times(2)))
      assert(appended != before, s"$name: the appended series are missing")
      assert(appended == partitioned(times(2)), s"$name: reused after the append")
      // the one-step subquery is built every time (see above)
      if (name != "subquery_one_step") assert(hits == 1 && appendedHits == 1, name)
      // all six unpinned queries took the single plan
      assert(Engine.planCount("single") - singles >= 6, name)
    }

  test("an append, a compaction and a delete each miss and give the new answer") {
    val d = Files.createTempDirectory("plan_cache_writes").toString
    PointsStore.append(frame(rows(0 until Minutes, T0)), d)
    val q = "sum by (instance_id) (rate(m[5m]))"
    val ts = Iterator.iterate(warmAt)(_ + 61337L)
    def run(): (Answer, Long, Long) = {
      val t = ts.next()
      val got = counted(answer(served(d, q, t, 0L, 1000L)))
      assert(got._1 == PlanCache.bypass(answer(served(d, q, t, 0L, 1000L))), s"at $t")
      got
    }
    run()
    val (before, hits, _) = run()
    assert(hits == 1)
    // two more series of instance i0, then the same shape
    PointsStore.append(frame(rows(0 until Minutes, T0, 8 until 10)), d)
    val (appended, h1, m1) = run()
    assert((h1, m1) == ((0L, 1L)))
    assert(appended != before)
    assert(PointsStore.compact(spark, d).nonEmpty)
    val (_, h2, m2) = run()
    assert((h2, m2) == ((0L, 1L)))
    assert(PointsStore.deleteSeries(spark, d, """m{series="8"}""").nonEmpty)
    val (deleted, h3, m3) = run()
    assert((h3, m3) == ((0L, 1L)))
    val i0 = (a: Answer) => a.filter(_._2("instance_id") == "i0").map(_._4).sum
    assert(i0(deleted) < i0(appended))
  }

  test("8 threads running one shape at 8 times each get their fresh-build answer") {
    val (q, range, step) = ("sum by (instance_id) (rate(m[5m]))", 3600000L, M)
    answer(served(dir, q, warmAt, range, step))
    val at = times.take(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val got = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val (h, m) = (PlanCache.hits, PlanCache.misses)
      val all = Await.result(Future.traverse(at)(t =>
        Future(answer(served(dir, q, t, range, step)))), 5.minutes)
      assert(PlanCache.hits - h == 8 && PlanCache.misses == m)
      all
    } finally pool.shutdown()
    at.zip(got).foreach { case (t, a) =>
      assert(a == PlanCache.bypass(answer(served(dir, q, t, range, step))), s"at $t")
    }
  }

  test("a MaxSamples limit trips on a reused plan exactly as on a fresh build") {
    val q = "sum(m)"
    def guarded(t: Long): (Long, Boolean) = {
      val tally = Guards.newTally(spark)
      val df = served(dir, q, t, 0L, 1000L, Some(tally))
      val tripped = try {
        Guards.run(spark, Guards.QueryLimits(maxSamples = 10, timeoutMs = 120000L),
          q, Some(tally))(df.collect())
        false
      } catch { case _: Guards.TooManySamplesException => true }
      (tally.value, tripped)
    }
    val (warm, warmTripped) = guarded(warmAt)
    assert(warmTripped && warm == 40) // 8 series, 5 samples each in the lookback
    val t = times.head
    val (hit, hits, _) = {
      val (h, m) = (PlanCache.hits, PlanCache.misses)
      val r = guarded(t)
      (r, PlanCache.hits - h, PlanCache.misses - m)
    }
    assert(hits == 1)
    assert(hit == PlanCache.bypass(guarded(t)))
  }

  test("a plan whose parameters the optimizer turned into data is built every time") {
    // a local relation: the optimizer evaluates the time filter over it
    // into a new local relation, so the bounds are no longer parameters
    val local = Points.withSig(spark.createDataFrame(
      java.util.Arrays.asList(rows(0 until 120, T0): _*), schema))
    val q = """m{instance_id="i1"}"""
    val early = T0 + 30 * M + 1234L
    for (t <- Seq(early, early + 30 * M, early + 60 * M)) {
      val (got, hits, misses) = counted(answer(Engine.instantQuery(spark, local, q, t)))
      assert((hits, misses) == ((0L, 1L)), s"at $t")
      assert(got.length == 2 && got.forall(_._3 == t), s"at $t: $got")
      assert(got == PlanCache.bypass(answer(Engine.instantQuery(spark, local, q, t))))
    }
  }
}
