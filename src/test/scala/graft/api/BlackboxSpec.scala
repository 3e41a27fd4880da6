package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Blackbox probe calculators (reference: src/internal/blackbox/
  * reliability_calculator.go:48-144, performance_calculator.go:55-91) and
  * the /~/reload hook (reload_api.go). */
class BlackboxSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  test("reliability = received/expected over the emission grid") {
    // 1/min emission over 10 minutes, 2 samples dropped -> 8/10
    val rows = (0 until 10).filter(i => i != 3 && i != 7).map(i =>
      Row(Blackbox.MagicMetricName, Map("source_id" -> "bb"), i * 60000L, 1.0))
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema))
    val r = Blackbox.reliability(spark, pts, Blackbox.MagicMetricName, "bb",
      tsMs = 9 * 60000L, windowMs = 10 * 60000L, emissionIntervalMs = 60000L)
    assert(r.expected == 10 && r.received == 8)
    assert(math.abs(r.ratio - 0.8) < 1e-12)
  }

  test("performance probe returns latency and the canary magnitude") {
    val rows = (0 until 100).map(i =>
      Row("canary", Map("source_id" -> "bb"), i * 1000L, 1.0))
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema))
    val p = Blackbox.performance(spark, pts, "canary", "bb",
      tsMs = 99000L, windowMs = 100000L)
    assert(p.magnitude == 100.0)
    assert(p.latencyMs >= 0)
  }

  test("POST /~/reload invokes the reload hook; GET is rejected") {
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("up", Map.empty[String, String], 0L, 1.0)), 1), schema))
    val reloads = new AtomicInteger(0)
    val api = new HttpApi(spark, pts, reloadConfig = () => { reloads.incrementAndGet(); () })
    val port = api.start(0)
    val client = HttpClient.newHttpClient()
    try {
      val post = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/~/reload"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 200 && reloads.get() == 1)
      val get = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/~/reload")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405 && reloads.get() == 1)
    } finally api.stop()
  }

  test("guarded runs appear in the active-query registry for their duration") {
    import graft.engine.Guards
    val seen = Guards.run(spark, Guards.QueryLimits(), "sum(up)") {
      Guards.activeQueries.map(_.description)
    }
    assert(seen.contains("sum(up)"))
    assert(!Guards.activeQueries.exists(_.description == "sum(up)"))
  }
}
