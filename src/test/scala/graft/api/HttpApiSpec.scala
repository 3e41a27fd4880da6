package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class HttpApiSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def points = graft.model.Points.withSig(spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("http_total", Map("job" -> "api", "instance" -> "0"), 60000L, 10.0),
      Row("http_total", Map("job" -> "api", "instance" -> "1"), 60000L, 20.0),
      Row("up", Map("job" -> "api"), 60000L, 1.0)), 1), schema))

  private def get(port: Int, path: String): String = {
    val client = HttpClient.newHttpClient()
    val encoded = path.replace(" ", "%20").replace("[", "%5B").replace("]", "%5D")
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$encoded")).GET().build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  test("remote read: snappy+protobuf round-trip over HTTP (SAMPLES mode)") {
    import graft.promql.{LabelMatcher, MatchOp}
    val api = new HttpApi(spark, points)
    val port = api.start(0)
    try {
      val req = RemoteRead.encodeRequest(RemoteRead.Query(0L, 100000L, Seq(
        LabelMatcher("__name__", MatchOp.Eq, "http_total"),
        LabelMatcher("job", MatchOp.Eq, "api"))))
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/read"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "snappy")
          .POST(HttpRequest.BodyPublishers.ofByteArray(req)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Encoding").orElse("") == "snappy")
      val results = RemoteRead.decodeResponse(resp.body())
      assert(results.length == 1)
      val series = results.head.toMap
      // two http_total series, raw samples with their stored timestamps;
      // the `up` series is excluded by the name matcher
      assert(series.keySet == Set(
        Map("__name__" -> "http_total", "job" -> "api", "instance" -> "0"),
        Map("__name__" -> "http_total", "job" -> "api", "instance" -> "1")))
      assert(series(Map("__name__" -> "http_total", "job" -> "api", "instance" -> "0"))
        == Seq((10.0, 60000L)))
      assert(series(Map("__name__" -> "http_total", "job" -> "api", "instance" -> "1"))
        == Seq((20.0, 60000L)))

      // regex matcher + multiple queries in one request
      val req2 = org.xerial.snappy.Snappy.uncompress(req) // sanity: body decodes
      assert(RemoteRead.decodeRequest(req2).head.matchers.length == 2)
      val reqRe = RemoteRead.encodeRequest(RemoteRead.Query(0L, 100000L, Seq(
        LabelMatcher("__name__", MatchOp.Re, "up|none"))))
      val respRe = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(reqRe)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val seriesRe = RemoteRead.decodeResponse(respRe.body()).head
      assert(seriesRe.map(_._1) == Seq(Map("__name__" -> "up", "job" -> "api")))
      assert(seriesRe.head._2 == Seq((1.0, 60000L)))

      // GET is rejected
      val bad = get(port, "/api/v1/read")
      assert(bad.contains("error"))
    } finally api.stop()
  }

  test("remote-read client federates: loopback read -> points relation -> PromQL") {
    import graft.promql.{LabelMatcher, MatchOp}
    val api = new HttpApi(spark, points)
    val port = api.start(0)
    try {
      val client = RemoteRead.Client(s"http://127.0.0.1:$port/api/v1/read")
      // the federated relation carries the remote store's samples
      val fed = client.read(spark, 0L, 100000L,
        Seq(LabelMatcher("__name__", MatchOp.Eq, "http_total")))
      val got = fed.collect().map(r => (r.getAs[String]("name"),
        r.getAs[Map[String, String]]("labels"), r.getAs[Long]("t"),
        r.getAs[Double]("value"))).toSet
      assert(got == Set(
        ("http_total", Map("job" -> "api", "instance" -> "0"), 60000L, 10.0),
        ("http_total", Map("job" -> "api", "instance" -> "1"), 60000L, 20.0)))
      // and is directly evaluable: PromQL over the federated relation
      // equals PromQL over the remote's own store
      val overFed = graft.engine.Engine.instantQuery(spark, fed,
        "sum(http_total)", 120000L).collect().map(_.getAs[Double]("value")).toSeq
      val overLocal = graft.engine.Engine.instantQuery(spark, points,
        "sum(http_total)", 120000L).collect().map(_.getAs[Double]("value")).toSeq
      assert(overFed == overLocal && overFed == Seq(30.0))
      // a failing remote surfaces as an IOException with the status
      api.stop()
      intercept[java.io.IOException](client.fetch(
        RemoteRead.Query(0L, 1L, Seq(LabelMatcher("__name__", MatchOp.Eq, "x")))))
    } finally api.stop()
  }

  test("remote write: a pushed WriteRequest lands in the store and queries back") {
    import graft.promql.{LabelMatcher, MatchOp}
    val dir = java.nio.file.Files.createTempDirectory("rw-store").toString
    // serve an EMPTY schema-shaped relation; writes flow into the store via
    // the sink, reads re-resolve the store per query
    val empty = points.limit(0)
    def stored = graft.sources.PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
    val api = new HttpApi(spark, points,
      writeSink = Some(df => graft.sources.PointsStore.append(df, dir)))
    val port = api.start(0)
    try {
      val body = RemoteRead.encodeWriteRequest(Seq(
        (Seq("__name__" -> "pushed_total", "job" -> "pusher", "shard" -> "a"),
          Seq((4.0, 60000L), (6.0, 120000L))),
        (Seq("__name__" -> "pushed_total", "job" -> "pusher", "shard" -> "b"),
          Seq((1.5, 60000L)))))
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "snappy")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 204)
      // the pushed samples are queryable through the engine over the store
      val sum = graft.engine.Engine.instantQuery(spark, stored,
        """sum(pushed_total{job="pusher"})""", 120000L)
        .collect().map(_.getAs[Double]("value")).toSeq
      assert(sum == Seq(7.5)) // 6.0 (shard a latest) + 1.5 (shard b, lookback)
      // decode/encode round-trip agrees with what was sent
      val decoded = RemoteRead.decodeWriteRequest(body)
      assert(decoded.map(_._1("shard")).sorted == Seq("a", "b"))
      assert(decoded.flatMap(_._2).map(_._1).sorted == Seq(1.5, 4.0, 6.0))
      // malformed body → 400, not a crash
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Array[Byte](1, 2, 3))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
      // snappy bomb: a tiny body whose frame header CLAIMS 1 GiB
      // uncompressed is rejected before any allocation → 400 (request
      // defect, sender must not retry)
      val bomb = Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte,
        0x80.toByte, 0x04, 0x00, 0x00, 0x00)
      val bombResp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(bomb)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bombResp.statusCode() == 400)
      assert(bombResp.body().contains("uncompressed"))
      assert(empty.count() == 0) // the served relation itself was untouched
    } finally api.stop()
  }

  test("remote write 2.0: symbol-table requests negotiate, land, and answer written-counts") {
    val dir = java.nio.file.Files.createTempDirectory("rw2-store").toString
    def stored = graft.sources.PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
    val api = new HttpApi(spark, points,
      writeSink = Some(df => graft.sources.PointsStore.append(df, dir)))
    val port = api.start(0)
    try {
      // codec round-trip: v2 encode -> v2 decode is the identity, with
      // the REQUIRED empty symbols[0] on the wire
      val series = Seq(
        (Seq("__name__" -> "v2_total", "job" -> "pusher", "shard" -> "a"),
          Seq((4.0, 60000L), (6.0, 120000L))),
        (Seq("__name__" -> "v2_total", "job" -> "pusher", "shard" -> "b"),
          Seq((1.5, 60000L))))
      val body = RemoteRead.encodeWriteRequestV2(series)
      val decoded = RemoteRead.decodeWriteRequestV2(body)
      assert(decoded.map(_._1) == series.map(_._1.toMap))
      assert(decoded.map(_._2) == series.map(_._2))
      // negotiated POST: the v2 content type selects the v2 decoder and
      // the response carries the 2.0 written-counts headers
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Type", RemoteRead.WriteV2ContentType)
          .header("Content-Encoding", "snappy")
          .header("X-Prometheus-Remote-Write-Version", "2.0.0")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 204)
      assert(resp.headers()
        .firstValue("X-Prometheus-Remote-Write-Samples-Written").orElse("") == "3")
      val sum = graft.engine.Engine.instantQuery(spark, stored,
        """sum(v2_total{job="pusher"})""", 120000L)
        .collect().map(_.getAs[Double]("value")).toSeq
      assert(sum == Seq(7.5))
      // executor-side push with protocol negotiation, same store
      val n = RemoteWrite.push(points, s"http://127.0.0.1:$port/api/v1/write",
        protocol = "2.0")
      assert(n == 3)
      assert(stored.where(col("name") === "http_total").count() == 2)
      // a symbols table missing the required empty head is rejected:
      // hand-built request whose first symbol is "k" —
      // field 4 tag=(4<<3)|2=0x22, len 1, 'k'
      val noEmpty = org.xerial.snappy.Snappy.compress(
        Array[Byte](0x22, 1, 'k'.toByte))
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Type", RemoteRead.WriteV2ContentType)
          .POST(HttpRequest.BodyPublishers.ofByteArray(noEmpty)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
    } finally api.stop()
  }

  test("remote write exemplars are retained and served by query_exemplars (1.0 + 2.0)") {
    val store = new graft.sources.Scrape.ExemplarStore()
    val meta = new graft.sources.Scrape.MetadataStore
    val api = new HttpApi(spark, points,
      writeSink = Some(_ => ()),
      exemplars = () => store.all,
      exemplarSink = Some(store.add),
      metadata = () => meta.snapshot,
      metadataSink = Some(meta.put))
    val port = api.start(0)
    try {
      val client = HttpClient.newHttpClient()
      // RW 1.0 with one exemplar on the first series, plus request-level
      // family metadata (WriteRequest.metadata, field 3)
      val body1 = RemoteRead.encodeWriteRequestWithMetadata(Seq(
        (Seq("__name__" -> "rw_total", "job" -> "pusher"),
          Seq((4.0, 60000L)),
          Seq((Seq("trace_id" -> "t-100"), 0.25, 60000L))),
        (Seq("__name__" -> "rw_total", "job" -> "other"),
          Seq((1.0, 60000L)), Nil)),
        Seq(("rw_total", "counter", "pushed totals", "")))
      val r1 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body1)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r1.statusCode() == 204)
      // RW 2.0: exemplar labels ride the symbol table; written-count
      // header; per-series metadata (help/unit refs in the symbol table)
      val body2 = RemoteRead.encodeWriteRequestV2Full(Seq(
        (Seq("__name__" -> "rw2_bytes", "job" -> "pusher"),
          Seq((6.0, 120000L)),
          Seq((Seq("trace_id" -> "t-200"), 0.5, 120000L),
            (Seq("trace_id" -> "t-201"), 0.75, 121000L)),
          Some(("gauge", "v2 pushed bytes", "bytes")))))
      val r2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Type", RemoteRead.WriteV2ContentType)
          .POST(HttpRequest.BodyPublishers.ofByteArray(body2)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r2.statusCode() == 204)
      assert(r2.headers().firstValue(
        "X-Prometheus-Remote-Write-Exemplars-Written").orElse("") == "2")
      // wire round-trip sanity: the v2 decode recovers the exemplars
      val dec2 = RemoteRead.decodeWriteRequestV2Ex(body2)
      assert(dec2.head._3 == Seq(
        (Seq("trace_id" -> "t-200"), 0.5, 120000L),
        (Seq("trace_id" -> "t-201"), 0.75, 121000L)))
      // the 1.0 exemplar answers for its series; the selector scopes
      val ans = get(port,
        "/api/v1/query_exemplars?query=rw_total%7Bjob%3D%22pusher%22%7D&start=0&end=200")
      assert(ans.contains("t-100") && !ans.contains("t-200"))
      assert(!ans.contains("other"))
      // label-only selector reaches both metrics' exemplars
      val ans2 = get(port,
        "/api/v1/query_exemplars?query=%7Bjob%3D%22pusher%22%7D&start=0&end=200")
      assert(ans2.contains("t-100") && ans2.contains("t-200") && ans2.contains("t-201"))
      // remote-written metadata serves on /api/v1/metadata: v1's
      // request-level entries and v2's per-series symbol-table refs
      val md = get(port, "/api/v1/metadata")
      assert(md.contains(""""rw_total":[{"type":"counter","help":"pushed totals","unit":""}]"""), md)
      assert(md.contains(""""rw2_bytes":[{"type":"gauge","help":"v2 pushed bytes","unit":"bytes"}]"""), md)
      // the vendored params: metric= narrows, limit= caps metric count,
      // limit_per_metric=0 empties the per-metric lists
      val md1 = get(port, "/api/v1/metadata?metric=rw2_bytes")
      assert(md1.contains("rw2_bytes") && !md1.contains("rw_total"))
      assert(get(port, "/api/v1/metadata?limit=1").split("\"type\"").length == 2)
      // the vendored cap applies only when POSITIVE; 0 means unlimited
      assert(get(port, "/api/v1/metadata?limit_per_metric=0")
        .contains(""""rw_total":[{"""))
      assert(get(port, "/api/v1/metadata?limit_per_metric=1")
        .contains(""""rw_total":[{"""))
      // /status/walreplay: the honest no-WAL completed-replay shape
      assert(get(port, "/api/v1/status/walreplay")
        .contains(""""data":{"min":0,"max":0,"current":0}"""))
      // CORS: every response carries the allow-origin header; an OPTIONS
      // preflight answers 204 with methods/headers (vendored api.go:359)
      val client2 = HttpClient.newHttpClient()
      val normal = client2.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/status/flags"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(normal.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
      val preflight = client2.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/query"))
          .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(preflight.statusCode() == 204)
      assert(preflight.headers().firstValue("Access-Control-Allow-Methods")
        .orElse("").contains("POST"))
    } finally api.stop()
  }

  test("remote write: a sink failure is 500 (retryable), not 400 (dropped)") {
    // per the remote-write spec senders DROP a batch on 4xx and retry on
    // 5xx — a transient store failure answered 400 would silently lose
    // data, breaking the receiver's at-least-once contract
    val api = new HttpApi(spark, points.limit(0),
      writeSink = Some(_ => throw new RuntimeException("store temporarily down")))
    val port = api.start(0)
    try {
      val body = RemoteRead.encodeWriteRequest(Seq(
        (Seq("__name__" -> "x_total"), Seq((1.0, 1000L)))))
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 500)
      assert(resp.body().contains("store temporarily down"))
    } finally api.stop()
  }

  test("remote read scans the matching set once (limit count + collect share it)") {
    import graft.promql.{LabelMatcher, MatchOp}
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("rows_scanned")
    // instrument the relation: every row produced by the source bumps the
    // accumulator, so a count()+collect() double-scan would double it
    val instrumented = points
      .select("name", "labels", "t", "value")
      .as[(String, Map[String, String], Long, Double)]
      .map { r => acc.add(1); r }
      .toDF("name", "labels", "t", "value")
    val req = RemoteRead.encodeRequest(RemoteRead.Query(0L, 100000L, Seq(
      LabelMatcher("job", MatchOp.Eq, "api"))))
    val resp = RemoteRead.handle(spark, instrumented, req)
    assert(RemoteRead.decodeResponse(resp).head.flatMap(_._2).length == 3)
    assert(acc.value == points.count(),
      s"matching set must be scanned once, saw ${acc.value} source rows")
  }

  test("remote write push: executor-side forwarding lands every sample") {
    val dir = java.nio.file.Files.createTempDirectory("rwpush-store").toString
    val api = new HttpApi(spark, points.limit(0),
      writeSink = Some(df => graft.sources.PointsStore.append(df, dir)))
    val port = api.start(0)
    try {
      val n = RemoteWrite.push(points, s"http://127.0.0.1:$port/api/v1/write",
        maxSamplesPerRequest = 2) // force multiple chunked requests
      assert(n == 3)
      val stored = graft.sources.PointsStore.read(
        spark, dir, Long.MinValue, Long.MaxValue)
      val got = stored.select("name", "t", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val want = points.select("name", "t", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
      // labels survive the round trip (__name__ folded out of the map)
      val up = stored.where(col("name") === "up").select("labels").head
        .getAs[Map[String, String]](0)
      assert(up == Map("job" -> "api"))
      // a dead endpoint surfaces as a task failure, not silence
      api.stop()
      intercept[Exception](RemoteWrite.push(points,
        s"http://127.0.0.1:$port/api/v1/write", timeoutMs = 1000))
    } finally api.stop()
  }

  test("remote read enforces the sample limit before any driver collect") {
    import graft.promql.{LabelMatcher, MatchOp}
    val req = RemoteRead.encodeRequest(RemoteRead.Query(0L, 100000L, Seq(
      LabelMatcher("job", MatchOp.Eq, "api"))))
    // 3 matching samples against a limit of 2: rejected by the distributed
    // pre-count — the reject path never materializes a sample row on the
    // driver (the count() precedes the collect() in RemoteRead.handle)
    val err = intercept[IllegalStateException] {
      RemoteRead.handle(spark, points, req, sampleLimit = 2L)
    }
    assert(err.getMessage.contains("sample limit"))
    // at exactly the limit the read succeeds and returns every sample
    val ok = RemoteRead.handle(spark, points, req, sampleLimit = 3L)
    val series = RemoteRead.decodeResponse(ok).head
    assert(series.flatMap(_._2).length == 3)
  }

  test("instant query, labels, label values, series over HTTP") {
    val api = new HttpApi(spark, points)
    val port = api.start(0)
    try {
      val v = get(port, "/api/v1/query?query=sum(http_total)&time=120")
      assert(v.contains(""""resultType":"vector""""))
      assert(v.contains(""""value":[120,"30"]"""))

      val s = get(port, "/api/v1/query?query=scalar(sum(http_total))&time=120")
      assert(s.contains(""""resultType":"scalar""""))

      val r = get(port, "/api/v1/query_range?query=sum by (job) (http_total)&start=60&end=180&step=60")
      assert(r.contains(""""resultType":"matrix""""))
      assert(r.contains(""""job":"api""""))

      val l = get(port, "/api/v1/labels")
      assert(l.contains("__name__") && l.contains("instance") && l.contains("job"))

      val lv = get(port, "/api/v1/label/__name__/values")
      assert(lv.contains("http_total") && lv.contains("up"))

      val inst = get(port, "/api/v1/label/instance/values")
      assert(inst.contains("\"0\"") && inst.contains("\"1\""))

      val se = get(port, "/api/v1/series?match[]=http_total&start=0&end=1000")
      assert(se.contains(""""__name__":"http_total"""") && !se.contains("\"up\""))

      val bad = get(port, "/api/v1/query?query=sum(")
      assert(bad.contains(""""status":"error""""))

      // a bare range selector via the instant endpoint is a Matrix
      // (Prometheus resultType "matrix"), not per-sample vector rows
      val m = get(port, "/api/v1/query?query=http_total[5m]&time=120")
      assert(m.contains(""""resultType":"matrix""""))
      assert(m.contains(""""values":[[60,"10"]]"""))

      // POST with a form body (Prometheus clients POST large queries)
      val client = HttpClient.newHttpClient()
      val post = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/query"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          "query=" + java.net.URLEncoder.encode("sum(http_total)", "UTF-8") + "&time=120"))
        .build()
      val pv = client.send(post, HttpResponse.BodyHandlers.ofString()).body()
      assert(pv.contains(""""value":[120,"30"]"""))
    } finally api.stop()
  }

  test("status/tsdb: cardinality statistics over the served store") {
    val api = new HttpApi(spark, points)
    val port = api.start(0)
    try {
      val body = get(port, "/api/v1/status/tsdb")
      // fixture: 3 series (2x http_total + up), t all 60000, label pairs:
      // __name__ x2 values, job=api on all, instance on two
      assert(body.contains("\"numSeries\":3"), body)
      assert(body.contains("\"minTime\":60000") && body.contains("\"maxTime\":60000"))
      // __name__=http_total covers 2 series; job=api covers 3
      assert(body.contains("{\"name\":\"job=api\",\"value\":3}"))
      assert(body.contains("{\"name\":\"__name__=http_total\",\"value\":2}"))
      // label with the most values ranks first in valueCountByLabelName
      assert(body.indexOf("\"labelValueCountByLabelName\"") <
        body.indexOf("\"memoryInBytesByLabelName\""))
      // limit is honored and validated
      val limited = get(port, "/api/v1/status/tsdb?limit=1")
      assert(limited.count(_ == '{') < body.count(_ == '{'))
      assert(get(port, "/api/v1/status/tsdb?limit=0").contains("error"))
    } finally api.stop()
  }

  test("label APIs honor start/end and match[] scoping") {
    val api = new HttpApi(spark, points)
    val port = api.start(0)
    try {
      // match[] restricts to the selector's series (vendored api.go accepts it)
      val scoped = get(port, "/api/v1/labels?match[]=up")
      assert(scoped.contains("\"job\"") && !scoped.contains("\"instance\""))
      // a time window past all samples yields no label values
      val late = get(port, "/api/v1/label/job/values?start=1000&end=2000")
      assert(late.contains(""""data":[]"""))
      // the sample window includes them (samples sit at t=60s)
      val hit = get(port, "/api/v1/label/job/values?start=50&end=70")
      assert(hit.contains("\"api\""))
      // REPEATED match[] selectors union (the vendored API's contract):
      // labels of up ∪ http_total include instance; series lists both
      // metrics, each series once
      val multi = get(port, "/api/v1/labels?match[]=up&match[]=http_total")
      assert(multi.contains("\"instance\"") && multi.contains("\"job\""))
      val ser = get(port, "/api/v1/series?match[]=up&match[]=http_total")
      assert(ser.contains(""""__name__":"up"""") &&
        ser.contains(""""__name__":"http_total""""))
      assert(ser.split("\"up\"").length == 2, "a series must appear once")
      // federation unions repeated selectors the same way
      val fedApi = new HttpApi(spark,
        points.withColumn("t",
          org.apache.spark.sql.functions.lit(System.currentTimeMillis())))
      val fedPort = fedApi.start(0)
      try {
        val fed = get(fedPort, "/federate?match[]=up&match[]=http_total{instance=\"0\"}"
          .replace("{", "%7B").replace("\"", "%22").replace("}", "%7D"))
        assert(fed.contains("up{job=\"api\"}"))
        assert(fed.contains("http_total{instance=\"0\"") &&
          !fed.contains("instance=\"1\""))
      } finally fedApi.stop()
    } finally api.stop()
  }

  test("query guards enforce the MaxSamples envelope over HTTP") {
    val api = new HttpApi(spark, points,
      limits = Some(graft.engine.Guards.QueryLimits(maxSamples = 1)))
    val port = api.start(0)
    try {
      // 2 http_total samples in the window, budget 1 -> reference's error
      val over = get(port, "/api/v1/query?query=sum(http_total)&time=120")
      assert(over.contains("too many samples"))
      // a selective query stays under budget and succeeds
      val ok = get(port, "/api/v1/query?query=sum(up)&time=120")
      assert(ok.contains(""""status":"success""""))
      // per-request timeout= (seconds float or Go duration) parses and
      // caps at the server's deadline; a generous value changes nothing
      val okDur = get(port, "/api/v1/query?query=sum(up)&time=120&timeout=30s")
      assert(okDur.contains(""""status":"success""""))
      val okFloat = get(port, "/api/v1/query?query=sum(up)&time=120&timeout=2.5")
      assert(okFloat.contains(""""status":"success""""))
      // non-positive and unparseable timeouts are request errors
      assert(get(port, "/api/v1/query?query=sum(up)&time=120&timeout=-1")
        .contains("error"))
      assert(get(port, "/api/v1/query?query=sum(up)&time=120&timeout=bogus")
        .contains("error"))
    } finally api.stop()
  }

  test("remote read: STREAMED_XOR_CHUNKS negotiation over HTTP equals SAMPLES") {
    import graft.promql.{LabelMatcher, MatchOp}
    val api = new HttpApi(spark, points)
    val port = api.start(0)
    try {
      val q = RemoteRead.Query(0L, 100000L,
        Seq(LabelMatcher("__name__", MatchOp.Eq, "http_total")))
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/read"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "snappy")
          .POST(HttpRequest.BodyPublishers.ofByteArray(RemoteRead.encodeRequest(
            q, Seq(RemoteRead.ResponseTypeStreamedXorChunks,
              RemoteRead.ResponseTypeSamples)))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .contains("x-streamed-protobuf"))
      val streamed = RemoteRead.decodeChunkedResponse(
        new java.io.ByteArrayInputStream(resp.body())).getOrElse(0L, Nil).toMap

      // same request WITHOUT the accepted type falls back to SAMPLES mode
      val sresp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(
            RemoteRead.encodeRequest(q))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val samples = RemoteRead.decodeResponse(sresp.body()).head.toMap
      assert(streamed == samples && streamed.nonEmpty)

      // the consuming client negotiates and federates identically
      val fed = RemoteRead.Client(s"http://127.0.0.1:$port/api/v1/read")
        .read(spark, 0L, 100000L, q.matchers, streamed = true)
      val got = fed.collect().map(r => (r.getAs[String]("name"),
        r.getAs[Map[String, String]]("labels"), r.getAs[Long]("t"),
        r.getAs[Double]("value"))).toSet
      assert(got == Set(
        ("http_total", Map("job" -> "api", "instance" -> "0"), 60000L, 10.0),
        ("http_total", Map("job" -> "api", "instance" -> "1"), 60000L, 20.0)))
    } finally api.stop()
  }

  test("streamed remote read pages: long series split across chunks and frames") {
    import graft.promql.{LabelMatcher, MatchOp}
    // 500-sample series + a second series: tiny frame/chunk budgets force
    // multi-chunk, multi-frame output the client must reassemble in order
    val rows = (0 until 500).map(i =>
      Row("m", Map("series" -> "a"), 1000L * i, math.sin(i / 7.0) * 100)) ++
      (0 until 40).map(i => Row("m", Map("series" -> "b"), 1000L * i, i.toDouble))
    val big = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema))
    val body = RemoteRead.encodeRequest(RemoteRead.Query(0L, 1000000L,
      Seq(LabelMatcher("__name__", MatchOp.Eq, "m"))))
    val out = new java.io.ByteArrayOutputStream()
    RemoteRead.handleStreamed(spark, big, body, out,
      maxFrameBytes = 256, samplesPerChunk = 60)
    val frames = XorChunk.readFrames(
      new java.io.ByteArrayInputStream(out.toByteArray))
    assert(frames.length > 1, "tiny frame budget must produce multiple frames")
    val decoded = RemoteRead.decodeChunkedResponse(
      new java.io.ByteArrayInputStream(out.toByteArray)).getOrElse(0L, Nil).toMap
    assert(decoded.keySet == Set(
      Map("__name__" -> "m", "series" -> "a"), Map("__name__" -> "m", "series" -> "b")))
    assert(decoded(Map("__name__" -> "m", "series" -> "a")) ==
      (0 until 500).map(i => (math.sin(i / 7.0) * 100, 1000L * i)))
    assert(decoded(Map("__name__" -> "m", "series" -> "b")) ==
      (0 until 40).map(i => (i.toDouble, 1000L * i)))
  }
}
