package graft.rules

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.CopyOnWriteArrayList

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.HttpApi
import graft.testkit.SharedSpark

/** Rules CRUD over a real socket + alertmanager delivery against a local
  * stub server (reference behavior: metric_store_test.go:347 "Rules API",
  * acceptance multi-tenant alerting :1351). */
class RulesApiSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def points = graft.model.Points.withSig(spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("http_total", Map("source_id" -> "app1"), 60000L, 10.0),
      Row("http_total", Map("source_id" -> "app2"), 60000L, 20.0)), 1), schema))

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .DELETE().build(), HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): String =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString()).body()

  private val groupPayload =
    """{"data":{"name":"my-example-group","interval":"1m","rules":[
      |{"record":"job:http_total:sum","expr":"sum(http_total) by (source_id)"}]}}""".stripMargin

  test("rules manager CRUD over a real socket (reference rules_api.go semantics)") {
    val rm = new RuleManagers
    val api = new HttpApi(spark, points, rules = Some(rm))
    val port = api.start(0)
    try {
      // create with provided id -> 201 echoing the id
      val created = post(port, "/rules/manager", """{"data":{"id":"mgr1"}}""")
      assert(created.statusCode() == 201 && created.body().contains(""""id":"mgr1""""))
      // duplicate -> 409
      assert(post(port, "/rules/manager", """{"data":{"id":"mgr1"}}""").statusCode() == 409)
      // empty id -> generated
      val gen = post(port, "/rules/manager", """{"data":{}}""")
      assert(gen.statusCode() == 201 && gen.body().matches(""".*"id":"[0-9a-f-]{36}".*"""))

      // upsert a group -> 201 echoing the group
      val up = post(port, s"/rules/manager/mgr1/group", groupPayload)
      assert(up.statusCode() == 201 && up.body().contains("my-example-group"))
      // missing manager on upsert -> 400 (reference maps it so)
      assert(post(port, "/rules/manager/nope/group", groupPayload).statusCode() == 400)
      // invalid: no rules -> 400
      assert(post(port, "/rules/manager/mgr1/group",
        """{"data":{"name":"g","rules":[]}}""").statusCode() == 400)
      // invalid: 30s interval is too short -> 400
      assert(post(port, "/rules/manager/mgr1/group",
        """{"data":{"name":"g","interval":"30s","rules":[{"record":"r","expr":"up"}]}}""")
        .statusCode() == 400)
      // invalid: unparseable expr -> 400
      assert(post(port, "/rules/manager/mgr1/group",
        """{"data":{"name":"g","rules":[{"record":"r","expr":"sum("}]}}""").statusCode() == 400)

      // /api/v1/rules lists the group in the Prometheus shape
      val listing = get(port, "/api/v1/rules")
      assert(listing.contains(""""status":"success""""))
      assert(listing.contains(""""name":"my-example-group""""))
      assert(listing.contains(""""type":"recording""""))
      assert(listing.contains(""""query":"sum(http_total) by (source_id)""""))

      // delete -> 204; delete again -> 404
      assert(delete(port, "/rules/manager/mgr1").statusCode() == 204)
      assert(delete(port, "/rules/manager/mgr1").statusCode() == 404)
    } finally api.stop()
  }

  test("alerting rules deliver firing alerts to the alertmanager stub") {
    val received = new CopyOnWriteArrayList[String]()
    val stub = HttpServer.create(new InetSocketAddress(0), 0)
    stub.createContext("/api/v2/alerts", (ex: HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes()))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    stub.start()
    val amUrl = s"http://127.0.0.1:${stub.getAddress.getPort}"
    try {
      val rm = new RuleManagers
      rm.createManager("mgr", Seq(amUrl))
      rm.upsertRuleGroup("mgr", RuleManagers.RuleGroup("g", Some(60000L), Seq(
        RuleManagers.Rule(None, Some("HighTraffic"), "http_total > 5", forMs = 60000L,
          labels = Map("severity" -> "warning"),
          annotations = Map("summary" -> "traffic high")))))
      val notifier = new Notifier.Http()
      // tick 1: both series go pending (for: 1m not yet satisfied)
      rm.evaluationTick(spark, points, 60000L, notifier)
      assert(received.isEmpty)
      // tick 2 at +1m: for: satisfied -> firing -> delivered
      rm.evaluationTick(spark, points, 120000L, notifier)
      assert(received.size() == 1)
      val body = received.get(0)
      assert(body.contains(""""alertname":"HighTraffic""""))
      assert(body.contains(""""severity":"warning""""))
      assert(body.contains(""""summary":"traffic high""""))
      assert(body.contains(""""startsAt":"1970-01-01T00:01:00Z""""))
    } finally stub.stop(0)
  }

  test("recording rules from the registry append through evaluationTick") {
    val rm = new RuleManagers
    rm.createManager("mgr", Nil)
    rm.upsertRuleGroup("mgr", RuleManagers.RuleGroup("g", None, Seq(
      RuleManagers.Rule(Some("job:http_total:sum"), None, "sum(http_total)"))))
    val out = rm.evaluationTick(spark, points, 120000L).get.collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("name") == "job:http_total:sum")
    assert(out.head.getAs[Double]("value") == 30.0)
  }

  test("alerts, alertmanagers, status, metadata, targets endpoints") {
    val rm = new RuleManagers
    rm.createManager("mgr1", Seq("http://am.example:9093"))
    rm.upsertRuleGroup("mgr1", RuleManagers.RuleGroup("g1", None, Seq(
      RuleManagers.Rule(None, Some("ManyHits"), "http_total > 5",
        forMs = 120000L, annotations = Map("summary" -> "hot")))))
    val api = new HttpApi(spark, points, rules = Some(rm),
      scrapeTargets = () => Seq(("node", "host1:9100")))
    val port = api.start(0)
    try {
      // before any tick: no active alerts
      assert(get(port, "/api/v1/alerts").contains("\"alerts\":[]"))
      // tick 1 at t=60s: both series over threshold -> pending
      rm.evaluationTick(spark, points, 60000L)
      val pending = get(port, "/api/v1/alerts")
      assert(pending.contains("\"state\":\"pending\""))
      assert(pending.contains("\"alertname\":\"ManyHits\""))
      assert(pending.contains("\"summary\":\"hot\""))
      // tick 2 past the for: window -> firing
      val later = graft.model.Points.withSig(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("http_total", Map("source_id" -> "app1"), 190000L, 11.0),
          Row("http_total", Map("source_id" -> "app2"), 190000L, 21.0)), 1), schema))
      rm.evaluationTick(spark, later, 190000L)
      assert(get(port, "/api/v1/alerts").contains("\"state\":\"firing\""))
      // alertmanagers reflect the manager config
      assert(get(port, "/api/v1/alertmanagers").contains("http://am.example:9093"))
      // status + metadata + targets respond with the v1 shapes
      assert(get(port, "/api/v1/status/buildinfo").contains("\"version\""))
      assert(get(port, "/api/v1/status/runtimeinfo").contains("\"startTime\""))
      assert(get(port, "/api/v1/metadata").contains("\"data\":{}"))
      val targets = get(port, "/api/v1/targets")
      assert(targets.contains("host1:9100") && targets.contains("\"scrapePool\":\"node\""))
    } finally api.stop()
  }
}
