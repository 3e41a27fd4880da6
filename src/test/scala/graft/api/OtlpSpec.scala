package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import Otlp._

import graft.testkit.SharedSpark

class OtlpSpec extends AnyFunSuite with SharedSpark {

  private val MS = 1000000L // ns per ms

  test("buildName: unit suffixing, per-units, _total, _ratio, digit prefix") {
    assert(buildName("http.requests", "", isGauge = false, isMonotonicSum = true)
      == "http_requests_total")
    // existing total token is not doubled, and moves to the end
    assert(buildName("requests.total", "", isGauge = false, isMonotonicSum = true)
      == "requests_total")
    assert(buildName("rpc.latency", "s", isGauge = false, isMonotonicSum = false)
      == "rpc_latency_seconds")
    assert(buildName("mem.usage", "By", isGauge = true, isMonotonicSum = false)
      == "mem_usage_bytes")
    assert(buildName("disk.io", "By/s", isGauge = true, isMonotonicSum = false)
      == "disk_io_bytes_per_second")
    assert(buildName("cpu.load", "1", isGauge = true, isMonotonicSum = false)
      == "cpu_load_ratio")
    // "1" on a counter gets no ratio suffix (counters can't be ratios)
    assert(buildName("objects", "1", isGauge = false, isMonotonicSum = true)
      == "objects_total")
    // unit already a name token → not appended again
    assert(buildName("request.seconds", "s", isGauge = false, isMonotonicSum = false)
      == "request_seconds")
    // {braced} annotation units are skipped
    assert(buildName("queue.size", "{packets}", isGauge = true, isMonotonicSum = false)
      == "queue_size")
    assert(buildName("3load", "", isGauge = true, isMonotonicSum = false) == "_3load")
  }

  test("sanitizeLabel: non-alnum to underscore, digit-leading key_ prefix") {
    assert(sanitizeLabel("user.id") == "user_id")
    assert(sanitizeLabel("http.status-code") == "http_status_code")
    assert(sanitizeLabel("0warm") == "key_0warm")
  }

  test("goFmtF matches Go FormatFloat(v,'f',-1,64) on label-typical values") {
    assert(goFmtF(0.5) == "0.5")
    assert(goFmtF(1.0) == "1")
    assert(goFmtF(2.5) == "2.5")
    assert(goFmtF(10.0) == "10")
    assert(goFmtF(0.99) == "0.99")
    assert(goFmtF(Double.PositiveInfinity) == "+Inf")
    assert(goFmtF(1e-7) == "0.0000001")
  }

  test("encode/decode round-trip across every metric shape") {
    val req = Seq(ResourceMetrics(
      Seq("service.name" -> "api", "service.namespace" -> "prod",
        "service.instance.id" -> "i-1", "host.name" -> "h1"),
      Seq(
        Metric("sys.cpu", "1", Gauge(Seq(
          NumberPoint(Seq("core" -> "0"), 5 * MS, 0.75),
          NumberPoint(Seq("core" -> "1"), 6 * MS, 0.5, flags = 1)))),
        Metric("http.reqs", "", Sum(Seq(
          NumberPoint(Nil, 7 * MS, 42.0)), TemporalityCumulative, monotonic = true)),
        Metric("rpc.lat", "s", Histogram(Seq(
          HistogramPoint(Seq("m" -> "Get"), 8 * MS, 7L, Some(3.5),
            Seq(2L, 4L, 1L), Seq(0.5, 2.5))), TemporalityCumulative)),
        Metric("rpc.size", "By", Summary(Seq(
          SummaryPoint(Nil, 9 * MS, 4L, 100.0, Seq((0.5, 12.0), (0.99, 30.0)))))),
        Metric("exp.h", "", ExpHistogram(Seq(7000000L))))))
    val decoded = decode(encode(req))
    assert(decoded == req)
  }

  test("gzip body decodes") {
    val req = Seq(ResourceMetrics(Nil,
      Seq(Metric("g", "", Gauge(Seq(NumberPoint(Nil, MS, 1.0)))))))
    val raw = encode(req)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    assert(decode(bos.toByteArray, gzipped = true) == req)
  }

  test("translation: job/instance mapping, histogram buckets, summary, target_info") {
    val req = Seq(ResourceMetrics(
      Seq("service.name" -> "api", "service.namespace" -> "prod",
        "service.instance.id" -> "i-1", "host.name" -> "h1"),
      Seq(
        Metric("rpc.lat", "s", Histogram(Seq(
          HistogramPoint(Seq("m" -> "Get"), 8 * MS, 7L, Some(3.5),
            Seq(2L, 4L, 1L), Seq(0.5, 2.5))))),
        Metric("rpc.size", "By", Summary(Seq(
          SummaryPoint(Nil, 9 * MS, 4L, 100.0, Seq((0.5, 12.0)))))))))
    val tr = toRows(req)
    assert(tr.errors.isEmpty)
    val byName = tr.rows.groupBy(_.name)
    val base = Map("m" -> "Get", "job" -> "prod/api", "instance" -> "i-1")
    assert(byName("rpc_lat_seconds_sum") ==
      Seq(Row("rpc_lat_seconds_sum", base, 8L, 3.5, stale = false)))
    assert(byName("rpc_lat_seconds_count").head.value == 7.0)
    // OTLP bucket counts are per-bucket; Prometheus le buckets cumulate
    val buckets = byName("rpc_lat_seconds_bucket")
      .map(r => r.labels("le") -> r.value).toMap
    assert(buckets == Map("0.5" -> 2.0, "2.5" -> 6.0, "+Inf" -> 7.0))
    val q = byName("rpc_size_bytes").head
    assert(q.labels("quantile") == "0.5" && q.value == 12.0)
    assert(byName("rpc_size_bytes_sum").head.value == 100.0)
    assert(byName("rpc_size_bytes_count").head.value == 4.0)
    // target_info: leftover resource attrs, newest datapoint timestamp
    val ti = byName("target_info").head
    assert(ti.labels == Map("host_name" -> "h1", "job" -> "prod/api", "instance" -> "i-1"))
    assert(ti.t == 9L && ti.value == 1.0)
    // the ingress counter's unit: accepted DATA POINTS (1 histogram point
    // + 1 summary point), not the 9 translated rows they fan out into
    assert(tr.acceptedPoints == 2 && tr.samples == 9)
  }

  test("translation rejections: delta sums/histograms, exp histograms, empty points") {
    val req = Seq(ResourceMetrics(Nil, Seq(
      Metric("d.sum", "", Sum(Seq(NumberPoint(Nil, MS, 1.0)), TemporalityDelta, monotonic = true)),
      Metric("d.hist", "", Histogram(Seq(
        HistogramPoint(Nil, MS, 1L, None, Seq(1L), Nil)), TemporalityDelta)),
      Metric("e.h", "", ExpHistogram(Seq(MS))),
      Metric("empty.g", "", Gauge(Nil)))))
    val tr = toRows(req)
    assert(tr.rows.isEmpty)
    assert(tr.errors.length == 4)
    // rejected_data_points counts POINTS, not metrics: delta sum (1) +
    // delta histogram (1) + exp histogram (1 datapoint); empty gauge 0
    assert(tr.rejectedPoints == 3)
    assert(tr.acceptedPoints == 0)
    assert(tr.errors.exists(_.contains("invalid temporality")))
    assert(tr.errors.exists(_.contains("unsupported metric type")))
    assert(tr.errors.exists(_.contains("empty data points")))
  }

  test("NO_RECORDED_VALUE points become staleness markers") {
    val req = Seq(ResourceMetrics(Nil, Seq(
      Metric("g", "", Gauge(Seq(NumberPoint(Nil, 2 * MS, 5.0, flags = 1)))))))
    val tr = toRows(req)
    assert(tr.rows.length == 1)
    assert(tr.rows.head.stale && tr.rows.head.value.isNaN)
  }

  test("no target_info when the resource carries only job/instance material") {
    val req = Seq(ResourceMetrics(
      Seq("service.name" -> "api", "service.instance.id" -> "i-1"),
      Seq(Metric("g", "", Gauge(Seq(NumberPoint(Nil, MS, 1.0)))))))
    assert(!toRows(req).rows.exists(_.name == "target_info"))
  }

  test("HTTP ingest: OTLP POST lands in the sink and is queryable") {
    var sunk: org.apache.spark.sql.DataFrame = null
    val api = new HttpApi(spark,
      points = spark.emptyDataFrame,
      writeSink = Some(df => sunk = df),
      pointsProvider = Some(() => sunk.drop("stale")))
    val port = api.start(0)
    try {
      val req = Seq(ResourceMetrics(
        Seq("service.name" -> "api", "service.instance.id" -> "i-1"),
        Seq(Metric("http.reqs", "",
          Sum(Seq(NumberPoint(Seq("code" -> "200"), 60000L * MS, 42.0)))))))
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/otlp/v1/metrics"))
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(encode(req))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(resp.body().isEmpty) // full success: empty ExportMetricsServiceResponse
      val ans = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/api/v1/query?query=http_reqs_total&time=60")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(ans.contains(""""__name__":"http_reqs_total""""))
      assert(ans.contains(""""job":"api"""") && ans.contains(""""instance":"i-1""""))
      assert(ans.contains(""""code":"200"""") && ans.contains(""""42""""))

      // partial success: a delta sum is rejected, the response reports it
      val bad = Seq(ResourceMetrics(Nil, Seq(
        Metric("ok.g", "", Gauge(Seq(NumberPoint(Nil, 60000L * MS, 1.0)))),
        Metric("d.sum", "", Sum(Seq(NumberPoint(Nil, MS, 1.0)), TemporalityDelta)))))
      val resp2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/otlp/v1/metrics"))
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(encode(bad))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp2.statusCode() == 200 && resp2.body().nonEmpty)

      // malformed body → 400 with a google.rpc.Status proto
      val resp3 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/otlp/v1/metrics"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Array[Byte](0x7f, 0x03))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp3.statusCode() == 400)
    } finally api.stop()
  }
}
