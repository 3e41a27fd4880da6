package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Per-query time-bounded store resolution on the serving path: every
  * /api/v1 query resolves the points relation pruned to the union of its
  * selector windows (Guards.selectorWindowBounds), so a store-backed
  * server day-prunes each request instead of listing the whole store.
  * The spec wires a RECORDING resolver and asserts the exact bounds each
  * route computes. */
class ApiPruningSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def full = graft.model.Points.withSig(spark.createDataFrame(
    spark.sparkContext.parallelize(
      (0 until 60).map(i => Row("m", Map("a" -> "1"), i * 60000L, i.toDouble)), 1),
    schema))

  test("query routes resolve the store bounded to their selector windows") {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val api = new HttpApi(spark, points = full,
      pointsRange = Some((lo, hi) => {
        captured.add((lo, hi))
        full.where(col("t") >= lo && col("t") <= hi)
      }))
    val port = api.start(0)
    def get(path: String): String = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    def lastBounds(): (Long, Long) = { val b = captured.poll(); captured.clear(); b }
    try {
      // instant selector: default 5m lookback behind the eval time
      assert(get("/api/v1/query?query=m&time=3600").contains("success"))
      assert(lastBounds() == ((3600000L - 300000L, 3600000L)))
      // range function: the 30m window dominates the lookback
      assert(get("/api/v1/query?query=sum(rate(m%5B30m%5D))&time=3600").contains("success"))
      assert(lastBounds() == ((3600000L - 1800000L, 3600000L)))
      // range query: window reaches behind the grid start
      assert(get("/api/v1/query_range?query=max_over_time(m%5B10m%5D)&start=600&end=3600&step=60")
        .contains("success"))
      assert(lastBounds() == ((600000L - 600000L, 3600000L)))
      // offset shifts both bounds
      assert(get("/api/v1/query?query=m%20offset%2010m&time=3600").contains("success"))
      assert(lastBounds() == ((3600000L - 600000L - 300000L, 3600000L - 600000L)))
      // label APIs with start/end prune to exactly those bounds
      assert(get("/api/v1/labels?start=10&end=20").contains("success"))
      assert(lastBounds() == ((10000L, 20000L)))
      // results stay correct through the bounded resolve
      assert(get("/api/v1/query?query=m&time=3600").contains("\"value\":[3600,\"59\"]"))
      // format_query: canonical text from the printer; parse errors 422
      assert(get("/api/v1/format_query?query=sum%20by(a)(rate(m%5B5m%5D))")
        .contains("\"data\":\"sum by (a) (rate(m[5m]))\""))
      assert(get("/api/v1/format_query?query=!!bad").contains("error"))
    } finally api.stop()
  }

  test("/api/v1/query_exemplars serves the scrape loop's in-memory exemplar ring") {
    val om =
      """# TYPE events_total counter
        |events_total{kind="page"} 56 1625060222.1 # {trace_id="A"} 0.67 1625060222.100
        |events_total{kind="page"} 57 1625060252.1 # {trace_id="B"} 1.25 1625060252.100
        |events_total{kind="api"} 33 1625060222.1 # {trace_id="C"} 9.0 1625060222.100
        |other_total 5 1625060222.1
        |# EOF""".stripMargin
    val store = new graft.sources.Scrape.ExemplarStore(perSeries = 1)
    store.record(om)
    // per-series ring keeps only the newest exemplar at capacity 1
    assert(store.all.length == 2)
    assert(store.all.find(_.seriesLabels.get("kind").contains("page"))
      .get.labels == Map("trace_id" -> "B"))
    val api = new HttpApi(spark, points = full, exemplars = () => store.all)
    val port = api.start(0)
    def get(path: String): String = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    try {
      val body = get("/api/v1/query_exemplars?query=events_total%7Bkind%3D%22page%22%7D")
      assert(body.contains("\"trace_id\":\"B\""), body)
      assert(!body.contains("\"trace_id\":\"C\""))
      assert(body.contains("\"value\":\"1.25\"") &&
        body.contains("\"timestamp\":1625060252.100"))
      // time bounds filter
      assert(!get("/api/v1/query_exemplars?query=events_total&start=1625060300")
        .contains("trace_id"))
      // selector-regex match + name-only
      assert(get("/api/v1/query_exemplars?query=%7Bkind%3D~%22p.*%22%7D")
        .contains("\"trace_id\":\"B\""))
    } finally api.stop()
  }

  test("/federate serves current values as a timestamped exposition the scraper round-trips") {
    // federation evaluates at WALL now (like Prometheus), so the fixture
    // anchors one fresh sample and one stale series just past lookback
    val tNow = System.currentTimeMillis()
    val data = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("fed_metric", Map("a" -> "1"), tNow - 60000L, 41.5),
        Row("fed_metric", Map("a" -> "2"), tNow - 3600000L, 7.0)), 1),
      schema))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val api = new HttpApi(spark, points = data,
      pointsRange = Some((lo, hi) => {
        captured.add((lo, hi))
        data.where(col("t") >= lo && col("t") <= hi)
      }))
    val port = api.start(0)
    def get(path: String): String = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    try {
      val fed = get("/federate?match%5B%5D=fed_metric")
      val (lo, hi) = captured.poll()
      assert(hi - lo == 300000L) // bounded to [now - lookback, now]
      val parsed = graft.sources.Scrape.parseExposition(fed, 0L)
      // only the in-lookback series federates, with its own timestamp
      assert(parsed.length == 1, fed)
      assert(parsed.head.name == "fed_metric" &&
        parsed.head.labels == Map("a" -> "1") &&
        parsed.head.value == 41.5 && parsed.head.t == tNow - 60000L)
      // no match[] -> 400; non-selector -> 422
      assert(get("/federate").contains("no match[] parameter"))
      assert(get("/federate?match%5B%5D=sum(fed_metric)").contains("error"))
    } finally api.stop()
  }
}
