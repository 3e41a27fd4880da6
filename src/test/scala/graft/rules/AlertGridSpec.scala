package graft.rules

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Pins [[Rules.alertingTickGrid]] (one-plan ticks-as-data fold) to the
  * sequential per-tick [[Rules.alertingTick]] fold it replaces on the
  * gate path: same newState and firing rows at the final tick, across
  * gaps (a missing tick resolves), re-arms (a series returning after a
  * gap restarts its `for:` window), and a seeded prior state (a run
  * reaching back to the first tick inherits the seed's `since`; a run
  * that does not, doesn't). */
class AlertGridSpec extends AnyFunSuite with SharedSpark {

  private val Min = 60000L
  private val T1 = 1704067200000L

  private val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def pts(rows: Seq[Row]): DataFrame = graft.model.Points.withSig(
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))

  /** Series `job` emits value `v(k)` at tick offset k when defined. */
  private def mkPoints(ticks: Range,
                       series: Map[String, Int => Option[Double]]): DataFrame =
    pts(for {
      k <- ticks
      (job, f) <- series.toSeq
      v <- f(k).toSeq
    } yield Row("load", Map("job" -> job), T1 + k * Min, v))

  private def foldTicks(points: DataFrame, rule: Rules.AlertingRule,
                        seed: DataFrame, ticks: Range)
      : (DataFrame, DataFrame) = {
    var state = seed
    var firing: DataFrame = null
    ticks.foreach { k =>
      val (st, f) = Rules.alertingTick(spark, points, rule, state,
        T1 + k * Min, lookbackMs = Min / 2)
      state = st.localCheckpoint(true)
      firing = f
    }
    (state, firing)
  }

  private def gridFold(points: DataFrame, rule: Rules.AlertingRule,
                       seed: DataFrame, ticks: Range)
      : (DataFrame, DataFrame) =
    Rules.alertingTickGrid(spark, points, rule, seed,
      T1 + ticks.head * Min, T1 + ticks.last * Min, Min, lookbackMs = Min / 2)

  private def rows(df: DataFrame): Set[(Long, String, Long, Double)] =
    df.select("sig", "labels", "since", "value").collect().toSet.map {
      (r: Row) =>
        (r.getAs[Long]("sig"),
          r.getAs[Map[String, String]]("labels").getOrElse("job", ""),
          r.getAs[Long]("since"), r.getAs[Double]("value"))
    }

  private def assertSame(points: DataFrame, rule: Rules.AlertingRule,
                         seed: DataFrame, ticks: Range): Unit = {
    val (stA, fA) = foldTicks(points, rule, seed, ticks)
    val (stB, fB) = gridFold(points, rule, seed, ticks)
    assert(rows(stA) == rows(stB), "newState at final tick")
    assert(rows(fA) == rows(fB), "firing at final tick")
  }

  private val rule = Rules.AlertingRule("HighLoad", "load > 10", forMs = 2 * Min)

  test("continuous run: grid fold == sequential ticks (fires with seed-free since)") {
    val points = mkPoints(0 to 4, Map(
      "a" -> (_ => Some(50.0)),          // high at every tick -> fires
      "b" -> (k => Some(if (k >= 3) 50.0 else 5.0)))) // high only from tick 3 -> pending
    assertSame(points, rule, Rules.emptyState(spark), 0 to 4)
    // sanity on content, not just equality: a fires since tick 0, b pending
    val (_, f) = gridFold(points, rule, Rules.emptyState(spark), 0 to 4)
    assert(rows(f).map(_._2) == Set("a"))
  }

  test("gap resolves and re-arms: since restarts at the run after the gap") {
    val points = mkPoints(0 to 4, Map(
      // high at 0,1 then ABSENT at 2 (scrape miss), high again 3,4: the
      // per-tick fold drops the series at tick 2, so since restarts at 3
      "a" -> (k => if (k == 2) None else Some(50.0)),
      // below threshold at tick 2 (the comparison filter drops it): same
      // resolve-then-re-arm shape through the expr instead of absence
      "b" -> (k => Some(if (k == 2) 5.0 else 50.0))))
    assertSame(points, rule, Rules.emptyState(spark), 0 to 4)
    val (st, f) = gridFold(points, rule, Rules.emptyState(spark), 0 to 4)
    assert(rows(st).forall(_._3 == T1 + 3 * Min)) // both runs restart at tick 3
    assert(rows(f).isEmpty) // 1 min held < for: 2 min
  }

  test("seeded state: a run reaching the first tick inherits the seed's since") {
    val points = mkPoints(0 to 2, Map(
      "a" -> (_ => Some(50.0)),           // present at tick 0 -> seed applies
      "b" -> (k => if (k == 0) None else Some(50.0)))) // absent at 0 -> seed dropped
    val seedSince = T1 - 5 * Min
    val seed = {
      val sigOf = graft.model.Points.withSig(pts(Seq(
        Row("load", Map("job" -> "a"), T1, 50.0),
        Row("load", Map("job" -> "b"), T1, 50.0))))
        .select("sig", "labels").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(sigOf.map(r =>
          Row(r.getAs[Long]("sig"), r.getAs[Map[String, String]]("labels"),
            seedSince, 42.0)): _*),
        StructType(Seq(
          StructField("sig", LongType),
          StructField("labels", MapType(StringType, StringType)),
          StructField("since", LongType), StructField("value", DoubleType))))
    }
    assertSame(points, rule, seed, 0 to 2)
    val (st, f) = gridFold(points, rule, seed, 0 to 2)
    val bySeries = rows(st).map(r => r._2 -> r._3).toMap
    assert(bySeries("a") == seedSince)      // continuous back to tick 0
    assert(bySeries("b") == T1 + 1 * Min)   // run starts at tick 1, seed ignored
    assert(rows(f).map(_._2) == Set("a"))   // lastTick - seedSince >= 2 min
  }

  test("single-tick grid degenerates to one alertingTick") {
    val points = mkPoints(0 to 0, Map("a" -> (_ => Some(50.0))))
    assertSame(points, rule, Rules.emptyState(spark), 0 to 0)
  }
}
