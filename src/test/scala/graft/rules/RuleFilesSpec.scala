package graft.rules

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class RuleFilesSpec extends AnyFunSuite with SharedSpark {

  private val yaml =
    """groups:
      |- name: example
      |  interval: 1m
      |  rules:
      |  - record: job:http_total:sum
      |    expr: sum by (job) (http_total)
      |  - alert: HighErrorRate
      |    expr: rate(http_total{status="5xx"}[5m]) > 0.1
      |    for: 10m
      |    labels: {severity: page}
      |    annotations: {summary: "errors # high"}
      |- name: second
      |  rules:
      |  - alert: Down
      |    expr: up == 0
      |    for: 5m
      |    labels:
      |      severity: critical
      |      team: infra
      |""".stripMargin

  test("parses groups, recording and alerting rules with both label styles") {
    val groups = RuleFiles.parse(yaml)
    assert(groups.map(_.name) == Seq("example", "second"))
    val g1 = groups.head
    assert(g1.intervalMs == 60000L)
    assert(g1.recording == Seq(Rules.RecordingRule("job:http_total:sum", "sum by (job) (http_total)")))
    assert(g1.alerting.head == Rules.AlertingRule(
      "HighErrorRate", """rate(http_total{status="5xx"}[5m]) > 0.1""",
      600000L, Map("severity" -> "page")))
    val g2 = groups(1)
    assert(g2.intervalMs == 60000L) // default
    assert(g2.alerting.head.labels == Map("severity" -> "critical", "team" -> "infra"))
    assert(g2.alerting.head.forMs == 300000L)
  }

  test("parsed rules evaluate through the engine") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("http_total", Map("job" -> "api"), 60000L, 5.0)), 1), schema))
    val g = RuleFiles.parse(yaml).head
    val out = Rules.recordingTick(spark, pts, g.recording.head, 120000L)
    assert(out.collect().head.getAs[String]("name") == "job:http_total:sum")
  }
}
