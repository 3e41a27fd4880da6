package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class ScrapeSpec extends AnyFunSuite with SharedSpark {

  private val body =
    """# HELP http_requests_total Total requests.
      |# TYPE http_requests_total counter
      |http_requests_total{method="post",code="200"} 1027 1395066363000
      |http_requests_total{method="post",code="400"}    3 1395066363000
      |msg_count{text="hello \"quoted\", world\n"} 7
      |metric_without_labels 12.47
      |something_weird{problem="division by zero"} +Inf
      |""".stripMargin

  test("text exposition parsing: labels, escapes, timestamps, specials") {
    val pts = Scrape.parseExposition(body, defaultTsMs = 1000L)
    assert(pts.length == 5)
    val first = pts.head
    assert(first.name == "http_requests_total")
    assert(first.labels == Map("method" -> "post", "code" -> "200"))
    assert(first.value == 1027.0 && first.t == 1395066363000L)
    val msg = pts.find(_.name == "msg_count").get
    assert(msg.labels("text") == "hello \"quoted\", world\n")
    assert(msg.t == 1000L) // default timestamp
    val bare = pts.find(_.name == "metric_without_labels").get
    assert(bare.labels.isEmpty && bare.value == 12.47)
    assert(pts.find(_.name == "something_weird").get.value.isPosInfinity)
  }

  test("OpenMetrics dialect: exemplars stripped, # EOF skipped, seconds timestamps, UNIT metadata") {
    val om =
      """# TYPE acme_http_router_request_seconds summary
        |# UNIT acme_http_router_request_seconds seconds
        |# HELP acme_http_router_request_seconds Latency though all of ACME's HTTP request router.
        |acme_http_router_request_seconds_sum{path="/api/v1"} 9036.32
        |acme_http_router_request_seconds_count{path="/api/v1"} 807283.0
        |# TYPE events_total counter
        |events_total{kind="page"} 56 1625060222.123 # {trace_id="KOO5S4vxi0o"} 0.67
        |events_total{kind="api"} 33 # {trace_id="oHg5SJYRHA0"} 9.8 1625060212.429
        |# EOF""".stripMargin
    // exemplars must not crash the sample parse (a raw ` # ` suffix used
    // to reach the timestamp field), and with openMetrics=true the
    // fractional-seconds timestamp converts to ms
    val pts = Scrape.parseExposition(om, defaultTsMs = 777L, openMetrics = true)
    assert(pts.length == 4)
    val page = pts.find(p => p.labels.get("kind").contains("page")).get
    assert(page.value == 56.0 && page.t == 1625060222123L)
    val api = pts.find(p => p.labels.get("kind").contains("api")).get
    assert(api.value == 33.0 && api.t == 777L) // exemplar dropped, default ts
    // classic-dialect parse also survives the exemplar suffix
    val classic = Scrape.parseExposition(
      "x_total 5 1625060222000 # {trace_id=\"t\"} 1.0", defaultTsMs = 1L)
    assert(classic.head.t == 1625060222000L && classic.head.value == 5.0)
    // UNIT retained through metadata
    val md = Scrape.parseMetadata(om)
    val s = md.find(_.metric == "acme_http_router_request_seconds").get
    assert(s.mtype == "summary" && s.unit == "seconds" &&
      s.help.startsWith("Latency though"))
    val store = new Scrape.MetadataStore
    store.record(om)
    assert(store.snapshot("events_total") == (("counter", "", "")))
    assert(store.snapshot("acme_http_router_request_seconds")._3 == "seconds")
  }

  test("parseExemplars: label value containing ' # ' does not shift the exemplar start") {
    val line = """foo{a="x # y"} 1 # {trace_id="t1"} 0.5"""
    val exs = Scrape.parseExemplars(line, defaultTsMs = 9L)
    assert(exs.length == 1)
    assert(exs.head.seriesLabels("a") == "x # y")
    assert(exs.head.labels("trace_id") == "t1" && exs.head.value == 0.5)
    // an unterminated labelset yields no exemplar (and no crash)
    assert(Scrape.parseExemplars("""bad{a="x # {oops"} 1""", 9L).isEmpty)
  }

  test("scrapeTargets: fetch plug, instance label, non-finite rejection") {
    val df = Scrape.scrapeTargets(spark, Seq("host:9090"), _ => body, tsMs = 5000L)
    val rows = df.collect()
    assert(rows.length == 4) // +Inf sample rejected at ingest
    assert(rows.forall(_.getAs[Map[String, String]]("labels")("instance") == "host:9090"))
  }

  private val config =
    """scrape_configs:
      |  - job_name: node
      |    scrape_interval: 15s
      |    static_configs:
      |      - targets: ['host1:9100', 'host2:9100']
      |    relabel_configs:
      |      - source_labels: [__address__]
      |        regex: '([^:]+):.*'
      |        target_label: host
      |        replacement: '$1'
      |      - action: drop
      |        source_labels: [__address__]
      |        regex: 'host2:.*'
      |  - job_name: app
      |    static_configs:
      |      - targets: [svc:8080]
      |""".stripMargin

  test("scrape_configs subset: jobs, intervals, targets, relabel rules") {
    val jobs = Scrape.parseScrapeConfigs(config)
    assert(jobs.map(_.jobName) == Seq("node", "app"))
    assert(jobs.head.intervalMs == 15000L)
    assert(jobs.head.targets == Seq("host1:9100", "host2:9100"))
    assert(jobs.head.relabel.length == 2)
    assert(jobs.head.relabel.head.targetLabel == "host")
    assert(jobs(1).intervalMs == 60000L) // default
    assert(jobs(1).targets == Seq("svc:8080"))
  }

  test("relabelling: replace extracts captures, drop filters the target") {
    val jobs = Scrape.parseScrapeConfigs(config)
    val df = Scrape.scrapeJob(spark, jobs.head, _ => "up 1\n", tsMs = 1000L)
    val rows = df.collect()
    // host2 dropped by the relabel rule; host1 gains host=host1
    assert(rows.length == 1)
    val labels = rows.head.getAs[Map[String, String]]("labels")
    assert(labels("instance") == "host1:9100")
    assert(labels("host") == "host1")
    assert(labels("job") == "node")
    assert(!labels.contains("__address__")) // meta labels stripped
  }

  test("relabel: replacement referencing an undefined group expands empty") {
    // Prometheus (Go regexp.ExpandString) substitutes "" for missing
    // groups; an exception here would kill the whole scrape batch
    val out = Scrape.relabel(Map("__address__" -> "h:1"), Seq(
      Scrape.RelabelRule(sourceLabels = Seq("__address__"),
        regex = "(.*)", targetLabel = "x", replacement = "$2")))
    assert(out.get.get("x").isEmpty) // empty expansion deletes the label
  }

  test("interval scheduling: a target is scraped only when its interval elapses") {
    val jobs = Scrape.parseScrapeConfigs(config) // node 15s, app 60s
    var fetches = scala.collection.mutable.ArrayBuffer.empty[String]
    def fetch(t: String): String = { fetches += t; "up 1\n" }
    val t0 = 1704067200000L
    // first tick: every never-scraped target is due (host2 is relabel-
    // dropped BEFORE any fetch happens — Prometheus drops at relabel time)
    val (p1, s1) = Scrape.scrapeTick(spark, jobs, fetch, t0)
    p1.count()
    assert(fetches.toSet == Set("host1:9100", "svc:8080"))
    // +20s: only the 15s job re-scrapes
    fetches.clear()
    val (p2, s2) = Scrape.scrapeTick(spark, jobs, fetch, t0 + 20000L, s1)
    p2.count()
    assert(fetches.toSet == Set("host1:9100"))
    // +70s: both jobs due again
    fetches.clear()
    val (p3, _) = Scrape.scrapeTick(spark, jobs, fetch, t0 + 70000L, s2)
    p3.count()
    assert(fetches.toSet == Set("host1:9100", "svc:8080"))
  }

  test("streaming scrape: trigger stream drives interval scheduling into the store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scrape_store").toString
    val jobs = Scrape.parseScrapeConfigs(config) // node 15s (host2 dropped), app 60s
    var n = 0
    def fetch(t: String): String = { n += 1; s"up $n\n" }
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("t").writeStream.outputMode("append")
      .foreachBatch(Scrape.scrapeSink(jobs, fetch, dir)).start()
    val t0 = 1704067200000L
    mem.addData(t0)           // both jobs due
    q.processAllAvailable()
    mem.addData(t0 + 20000L)  // only the 15s job
    q.processAllAvailable()
    q.stop()
    val stored = spark.read.parquet(dir)
    // 2 scrapes of host1 (t0, t0+20s) + 1 of svc (t0) = 3 samples
    assert(stored.count() == 3)
    val insts = stored.select(org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.col("labels"), "instance")).collect().map(_.getString(0))
    assert(insts.count(_ == "host1:9100") == 2)
    assert(insts.count(_ == "svc:8080") == 1)
  }

  test("scheme and scrape_timeout knobs parse per job") {
    val cfg =
      """scrape_configs:
        |  - job_name: secure
        |    scheme: https
        |    scrape_timeout: 5s
        |    static_configs:
        |      - targets: [tls-host:443]
        |  - job_name: plain
        |    static_configs:
        |      - targets: [h:80]
        |""".stripMargin
    val jobs = Scrape.parseScrapeConfigs(cfg)
    assert(jobs.head.scheme == "https" && jobs.head.timeoutMs == 5000L)
    assert(jobs(1).scheme == "http" && jobs(1).timeoutMs == 10000L) // defaults
  }

  test("distributed scrapeJob matches the driver-side job (relabel included)") {
    val jobs = Scrape.parseScrapeConfigs(config)
    val fetch: String => String = _ => "up 1\n" // serializable: captures nothing
    val dist = Scrape.scrapeJob(spark, jobs.head, fetch, tsMs = 1000L, distributed = true)
      .collect().map(_.toString).sorted.toSeq
    val local = Scrape.scrapeJob(spark, jobs.head, fetch, tsMs = 1000L)
      .collect().map(_.toString).sorted.toSeq
    assert(dist == local && dist.nonEmpty)
    // relabel-dropped host2 was never fetched on the executors either
    assert(dist.length == 1)
  }

  test("scrapeSink deployment path: executor-side fetch through the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scrape_dist").toString
    val jobs = Scrape.parseScrapeConfigs(config)
    val fetch: String => String = t => s"""up{src="$t"} 1\n""" // serializable
    val mem = MemoryStream[Long]
    // distributed = true is the default deployment shape
    val q = mem.toDF().toDF("t").writeStream.outputMode("append")
      .foreachBatch(Scrape.scrapeSink(jobs, fetch, dir)).start()
    mem.addData(1704067200000L)
    q.processAllAvailable()
    q.stop()
    val stored = spark.read.parquet(dir)
    assert(stored.count() == 2) // host1 (host2 relabel-dropped) + svc
    val srcs = stored.select(org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.col("labels"), "src")).collect().map(_.getString(0)).toSet
    assert(srcs == Set("host1:9100", "svc:8080"))
  }

  // ---- TLS / auth / file SD --------------------------------------------

  /** Self-signed HTTPS stub: keytool-generated PKCS12 keypair (SAN
    * localhost), com.sun.net.httpserver.HttpsServer serving /metrics,
    * exported PEM cert for the client's ca_file. */
  private def withTlsServer(requireAuth: Option[String => Boolean] = None)
      (f: (Int, String) => Unit): Unit = {
    import scala.sys.process._
    val dir = java.nio.file.Files.createTempDirectory("tls")
    val ks = s"$dir/server.p12"
    val pem = s"$dir/ca.pem"
    assert(Seq("keytool", "-genkeypair", "-alias", "srv", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "1", "-dname", "CN=localhost",
      "-ext", "SAN=dns:localhost,ip:127.0.0.1",
      "-keystore", ks, "-storetype", "PKCS12",
      "-storepass", "changeit", "-keypass", "changeit").! == 0)
    assert(Seq("keytool", "-exportcert", "-alias", "srv", "-rfc",
      "-keystore", ks, "-storepass", "changeit", "-file", pem).! == 0)
    val keyStore = java.security.KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(ks))
    try keyStore.load(in, "changeit".toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(keyStore, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val server = com.sun.net.httpserver.HttpsServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val authOk = requireAuth.forall(check =>
        check(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")))
      val (code, body) = if (authOk) (200, "secure_up 1\n") else (401, "unauthorized\n")
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(server.getAddress.getPort, pem)
    finally server.stop(0)
  }

  test("https scrape: ca_file-verified fetch succeeds, default trust refuses") {
    withTlsServer() { (port, pem) =>
      val tls = Scrape.TlsConfig(caFile = Some(pem))
      val fetch = Scrape.httpFetch("https", 5000L, tls = Some(tls))
      assert(fetch(s"localhost:$port") == "secure_up 1\n")
      // without the CA the self-signed chain must be REJECTED — proves the
      // ca_file path actually alters trust rather than being ignored
      val bare = Scrape.httpFetch("https", 5000L)
      intercept[javax.net.ssl.SSLHandshakeException](bare(s"localhost:$port"))
      // insecure_skip_verify trusts it without any CA
      val skip = Scrape.httpFetch("https", 5000L,
        tls = Some(Scrape.TlsConfig(insecureSkipVerify = true)))
      assert(skip(s"localhost:$port") == "secure_up 1\n")
    }
  }

  test("bearer and basic auth headers reach the target; missing auth is 401") {
    withTlsServer(requireAuth = Some(_ == "Bearer s3cret")) { (port, pem) =>
      val tls = Some(Scrape.TlsConfig(caFile = Some(pem)))
      val ok = Scrape.httpFetch("https", 5000L,
        auth = Some(Scrape.AuthConfig(bearerToken = Some("s3cret"))), tls = tls)
      assert(ok(s"localhost:$port") == "secure_up 1\n")
      val noAuth = Scrape.httpFetch("https", 5000L, tls = tls)
      intercept[java.io.IOException](noAuth(s"localhost:$port"))
    }
    val basicExpected = "Basic " + java.util.Base64.getEncoder
      .encodeToString("prom:pw".getBytes("UTF-8"))
    withTlsServer(requireAuth = Some(_ == basicExpected)) { (port, pem) =>
      val ok = Scrape.httpFetch("https", 5000L,
        auth = Some(Scrape.AuthConfig(basicUsername = Some("prom"),
          basicPassword = Some("pw"))),
        tls = Some(Scrape.TlsConfig(caFile = Some(pem))))
      assert(ok(s"localhost:$port") == "secure_up 1\n")
    }
  }

  test("full https job: config parse -> jobFetch -> scrape with relabel") {
    withTlsServer(requireAuth = Some(_ == "Bearer tok")) { (port, pem) =>
      val cfg =
        s"""scrape_configs:
           |  - job_name: secure
           |    scheme: https
           |    bearer_token: tok
           |    tls_config:
           |      ca_file: $pem
           |    static_configs:
           |      - targets: ['localhost:$port']
           |""".stripMargin
      val jobs = Scrape.parseScrapeConfigs(cfg)
      assert(jobs.head.auth.flatMap(_.bearerToken).contains("tok"))
      assert(jobs.head.tls.flatMap(_.caFile).contains(pem))
      val df = Scrape.scrapeJob(spark, jobs.head, Scrape.jobFetch(jobs.head), 1000L)
      val rows = df.collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("name") == "secure_up")
      assert(rows.head.getAs[Map[String, String]]("labels")("instance") ==
        s"localhost:$port")
    }
  }

  test("file_sd_configs: targets + labels resolve, file edits reload on the next tick") {
    val sd = java.nio.file.Files.createTempFile("file_sd", ".json")
    java.nio.file.Files.write(sd,
      """[{"targets": ["a:1", "b:2"], "labels": {"env": "prod"}}]""".getBytes("UTF-8"))
    val cfg =
      s"""scrape_configs:
         |  - job_name: sd
         |    scrape_interval: 15s
         |    file_sd_configs:
         |      - files: ['$sd']
         |""".stripMargin
    val job = Scrape.parseScrapeConfigs(cfg).head
    assert(job.fileSdFiles == Seq(sd.toString))

    var fetched = scala.collection.mutable.ArrayBuffer.empty[String]
    def fetch(t: String): String = { fetched += t; "up 1\n" }
    val t0 = 1704067200000L
    val (p1, s1) = Scrape.scrapeTick(spark, Seq(job), fetch, t0)
    val rows1 = p1.collect()
    assert(fetched.toSet == Set("a:1", "b:2"))
    // SD group labels land on every sample (joined before relabelling)
    assert(rows1.forall(_.getAs[Map[String, String]]("labels")("env") == "prod"))

    // rewrite the SD file: next due tick sees the NEW target set — no
    // restart, no object rebuild (Prometheus file-SD reload semantics)
    java.nio.file.Files.write(sd,
      """[{"targets": ["c:3"], "labels": {"env": "staging"}}]""".getBytes("UTF-8"))
    fetched.clear()
    val (p2, _) = Scrape.scrapeTick(spark, Seq(job), fetch, t0 + 20000L, s1)
    val rows2 = p2.collect()
    assert(fetched.toSet == Set("c:3")) // a:1/b:2 gone, c:3 discovered
    assert(rows2.forall(_.getAs[Map[String, String]]("labels")("env") == "staging"))

    // interval scheduling applies to SD targets too: nothing due yet
    fetched.clear()
    val (p3, _) = Scrape.scrapeTick(spark, Seq(job), fetch, t0 + 25000L,
      s1 ++ Map("sd/c:3" -> (t0 + 20000L)))
    p3.count()
    assert(fetched.isEmpty)
    // a missing SD file contributes nothing instead of failing the job
    java.nio.file.Files.delete(sd)
    assert(Scrape.resolveTargets(job).isEmpty)
  }

  test("http_sd_configs: targets discovered over HTTP, SD changes apply next tick") {
    // a live SD endpoint serving the standard target-group JSON
    @volatile var sdBody = """[{"targets": ["x:1"], "labels": {"dc": "east"}}]"""
    @volatile var sdStatus = 200
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/sd", (ex: com.sun.net.httpserver.HttpExchange) => {
      val out = sdBody.getBytes("UTF-8")
      ex.sendResponseHeaders(sdStatus, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val cfg =
        s"""scrape_configs:
           |  - job_name: hsd
           |    http_sd_configs:
           |      - url: 'http://127.0.0.1:$port/sd'
           |""".stripMargin
      val job = Scrape.parseScrapeConfigs(cfg).head
      assert(job.httpSdUrls == Seq(s"http://127.0.0.1:$port/sd"))
      assert(Scrape.resolveTargets(job) == Seq(("x:1", Map("dc" -> "east"))))
      // the SD endpoint's answer changes: the NEXT resolve sees it
      sdBody = """[{"targets": ["y:2", "z:3"], "labels": {"dc": "west"}}]"""
      assert(Scrape.resolveTargets(job).map(_._1) == Seq("y:2", "z:3"))
      assert(Scrape.resolveTargets(job).forall(_._2("dc") == "west"))
      // SD outage (500) or garbage: no targets, job not failed
      sdStatus = 500
      assert(Scrape.resolveTargets(job).isEmpty)
      sdStatus = 200
      sdBody = "not json"
      assert(Scrape.resolveTargets(job).isEmpty)
      // static + http SD compose
      sdBody = """[{"targets": ["y:2"], "labels": {}}]"""
      assert(Scrape.resolveTargets(job.copy(targets = Seq("s:0"))).map(_._1) ==
        Seq("s:0", "y:2"))
    } finally server.stop(0)
  }

  test("distributed scrape matches the driver-side variant") {
    // bind the body to a local so the executor-shipped closure captures a
    // String, not the (non-serializable) spec instance
    val b = body
    val fetch: String => String = _ => b
    val dist = Scrape.scrapeTargetsDistributed(spark, Seq("host:9090"), fetch, tsMs = 5000L)
      .collect().map(_.toString).sorted.toSeq
    val local = Scrape.scrapeTargets(spark, Seq("host:9090"), fetch, tsMs = 5000L)
      .collect().map(_.toString).sorted.toSeq
    assert(dist == local && dist.nonEmpty)
  }

  test("staleness markers: dead / vanished targets go stale at the next tick") {
    import org.apache.spark.sql.functions.{col, element_at}
    val cfg =
      """scrape_configs:
        |  - job_name: stale
        |    scrape_interval: 15s
        |    static_configs:
        |      - targets: [a:1, b:1]
        |""".stripMargin
    val jobs = Scrape.parseScrapeConfigs(cfg)
    val dir = java.nio.file.Files.createTempDirectory("stale_store").toString
    val t0 = 1704067200000L
    // tick 1: both targets answer; b exposes an extra series
    def fetch1(t: String): String =
      if (t == "b:1") "up 1\nextra_total 5\n" else "up 1\n"
    val (p1, s1) = Scrape.scrapeTickStale(spark, jobs, fetch1, t0)
    PointsStore.append(p1, dir)
    assert(p1.where(col("stale")).count() == 0)
    // tick 2: b is DEAD (fetch fails) -> both of its series get markers;
    // a failed fetch no longer aborts the tick
    def fetch2(t: String): String =
      if (t == "b:1") throw new java.io.IOException("connection refused") else "up 1\n"
    val (p2, s2) = Scrape.scrapeTickStale(spark, jobs, fetch2, t0 + 15000L, s1)
    PointsStore.append(p2, dir)
    assert(p2.where(col("stale")).count() == 2)
    assert(p2.where(!col("stale")).count() == 1) // a's sample still lands
    // the engine consumes the markers: an instant query one tick after the
    // death sees only the live target — b would otherwise have been served
    // for the full 5-minute lookback window
    val pts = PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
    def instances(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(element_at(col("labels"), "instance")).collect().map(_.getString(0)).toSet
    assert(instances(graft.engine.Engine.instantQuery(spark, pts, "up", t0)) ==
      Set("a:1", "b:1"))
    assert(instances(graft.engine.Engine.instantQuery(spark, pts, "up", t0 + 15000L)) ==
      Set("a:1"))
    // tick 3: b RECOVERS but now exposes only `up` — its sample returns
    // and nothing new goes stale (the failed target's cache was cleared)
    val (p3, s3) = Scrape.scrapeTickStale(spark, jobs, fetch1, t0 + 30000L, s2)
    assert(p3.where(col("stale")).count() == 0)
    // tick 4: b alive but `extra_total` vanishes from its exposition ->
    // exactly that series gets a marker (per-series staleness, not
    // per-target); then b is REMOVED from the config -> `up` goes stale
    def fetch4(t: String): String = "up 1\n"
    val (p4, s4) = Scrape.scrapeTickStale(spark, jobs, fetch4, t0 + 45000L, s3)
    val stale4 = p4.where(col("stale")).select(col("name")).collect().map(_.getString(0))
    assert(stale4.toSeq == Seq("extra_total"))
    val jobsShrunk = Scrape.parseScrapeConfigs(cfg.replace(", b:1", ""))
    val (p5, _) = Scrape.scrapeTickStale(spark, jobsShrunk, fetch4, t0 + 60000L, s4)
    val stale5 = p5.where(col("stale"))
      .select(col("name"), element_at(col("labels"), "instance")).collect()
    assert(stale5.length == 1 && stale5.head.getString(0) == "up" &&
      stale5.head.getString(1) == "b:1")
  }

  test("dns_sd_configs: SRV and A records resolve to targets with meta labels") {
    // injectable resolver: SD semantics tested without a live DNS server
    val lookup: Scrape.DnsLookup = {
      case ("_web._tcp.example.org", "SRV") => Seq(("w1.example.org", 8080), ("w2.example.org", 8081))
      case ("db.example.org", "A") => Seq(("10.0.0.5", 0), ("10.0.0.6", 0))
      case ("boom.example.org", _) => throw new RuntimeException("resolver down")
      case _ => Nil
    }
    val srv = Scrape.readDnsSd(
      Scrape.DnsSdConfig(Seq("_web._tcp.example.org")), lookup)
    assert(srv.flatMap(_.targets) == Seq("w1.example.org:8080", "w2.example.org:8081"))
    assert(srv.head.labels("__meta_dns_name") == "_web._tcp.example.org")
    assert(srv.head.labels("__meta_dns_srv_record_target") == "w1.example.org")
    assert(srv.head.labels("__meta_dns_srv_record_port") == "8080")
    // A records use the configured port; without one they are unusable
    val a = Scrape.readDnsSd(
      Scrape.DnsSdConfig(Seq("db.example.org"), "A", port = 9100), lookup)
    assert(a.flatMap(_.targets) == Seq("10.0.0.5:9100", "10.0.0.6:9100"))
    assert(a.forall(_.labels == Map("__meta_dns_name" -> "db.example.org")))
    assert(Scrape.readDnsSd(
      Scrape.DnsSdConfig(Seq("db.example.org"), "A"), lookup).isEmpty)
    // a failing lookup contributes no targets instead of failing the job
    assert(Scrape.readDnsSd(
      Scrape.DnsSdConfig(Seq("boom.example.org"), "SRV"), lookup).isEmpty)
    // config parse + resolveTargets composition
    val cfg =
      """scrape_configs:
        |  - job_name: dns
        |    dns_sd_configs:
        |      - names: [db.example.org]
        |        type: A
        |        port: 9100
        |""".stripMargin
    val job = Scrape.parseScrapeConfigs(cfg).head
    assert(job.dnsSd == Seq(Scrape.DnsSdConfig(Seq("db.example.org"), "A", 9100)))
    assert(Scrape.resolveTargets(job, lookup).map(_._1) ==
      Seq("10.0.0.5:9100", "10.0.0.6:9100"))
  }

  test("consul_sd_configs: catalog API targets, token header, outage tolerance") {
    @volatile var seenToken: Option[String] = None
    @volatile var status = 200
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/v1/catalog/service/web",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        seenToken = Option(ex.getRequestHeaders.getFirst("X-Consul-Token"))
        val out =
          """[{"Node": "n1", "Address": "10.1.1.1", "Datacenter": "dc1",
            |  "ServiceAddress": "10.1.1.2", "ServicePort": 8500,
            |  "ServiceTags": ["prod", "http"]},
            | {"Node": "n2", "Address": "10.1.1.3", "Datacenter": "dc1",
            |  "ServiceAddress": "", "ServicePort": 8501, "ServiceTags": []}]"""
            .stripMargin.getBytes("UTF-8")
        ex.sendResponseHeaders(status, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      })
    server.start()
    val consul = s"127.0.0.1:${server.getAddress.getPort}"
    try {
      val cfg = Scrape.ConsulSdConfig(consul, Seq("web"), token = Some("s3cr3t"))
      val groups = Scrape.readConsulSd(cfg)
      // ServiceAddress preferred, node Address as fallback
      assert(groups.flatMap(_.targets) == Seq("10.1.1.2:8500", "10.1.1.3:8501"))
      assert(seenToken.contains("s3cr3t"))
      assert(groups.head.labels == Map(
        "__meta_consul_service" -> "web", "__meta_consul_node" -> "n1",
        "__meta_consul_dc" -> "dc1", "__meta_consul_tags" -> ",prod,http,"))
      assert(groups(1).labels.get("__meta_consul_tags").isEmpty)
      // catalog outage: no targets, no exception
      status = 500
      assert(Scrape.readConsulSd(cfg).isEmpty)
      status = 200
      // unknown service: connection refused path exercised via bad port
      assert(Scrape.readConsulSd(
        Scrape.ConsulSdConfig("127.0.0.1:1", Seq("web"))).isEmpty)
      // config parse + resolveTargets composition
      val yaml =
        s"""scrape_configs:
           |  - job_name: consul
           |    consul_sd_configs:
           |      - server: '$consul'
           |        services: [web]
           |        token: s3cr3t
           |        datacenter: dc1
           |""".stripMargin
      val job = Scrape.parseScrapeConfigs(yaml).head
      assert(job.consulSd == Seq(Scrape.ConsulSdConfig(
        consul, Seq("web"), token = Some("s3cr3t"), datacenter = Some("dc1"))))
      assert(Scrape.resolveTargets(job).map(_._1) ==
        Seq("10.1.1.2:8500", "10.1.1.3:8501"))
    } finally server.stop(0)
  }

  test("kubernetes_sd_configs: pod/endpoints/service/node roles, auth, outage") {
    @volatile var seenAuth: Option[String] = None
    @volatile var status = 200
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    def ctx(path: String, body: String): Unit =
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        seenAuth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        val out = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      })
    ctx("/api/v1/pods",
      """{"kind": "PodList", "items": [
        | {"metadata": {"name": "web-0", "namespace": "prod",
        |   "labels": {"app": "web", "tier.kind": "fe"},
        |   "annotations": {"scrape/port": "9100"}},
        |  "spec": {"nodeName": "n1", "containers": [
        |    {"name": "app", "ports": [
        |      {"name": "metrics", "containerPort": 9100, "protocol": "TCP"},
        |      {"containerPort": 8080}]}]},
        |  "status": {"podIP": "10.2.0.1", "phase": "Running",
        |   "conditions": [{"type": "Ready", "status": "True"}]}},
        | {"metadata": {"name": "bare-0", "namespace": "prod"},
        |  "spec": {"containers": [{"name": "noports"}]},
        |  "status": {"podIP": "10.2.0.2", "phase": "Pending", "conditions": []}},
        | {"metadata": {"name": "hostnet", "namespace": "prod"},
        |  "spec": {}, "status": {}}]}""".stripMargin)
    ctx("/api/v1/namespaces/edge/pods",
      """{"items": [{"metadata": {"name": "edge-0", "namespace": "edge"},
        | "spec": {"containers": [{"name": "e", "ports": [{"containerPort": 7000}]}]},
        | "status": {"podIP": "10.3.0.1", "phase": "Running",
        |  "conditions": [{"type": "Ready", "status": "False"}]}}]}""".stripMargin)
    ctx("/api/v1/endpoints",
      """{"items": [{"metadata": {"name": "web", "namespace": "prod"},
        | "subsets": [{
        |   "addresses": [{"ip": "10.2.0.1",
        |     "targetRef": {"kind": "Pod", "name": "web-0"}}],
        |   "notReadyAddresses": [{"ip": "10.2.0.9"}],
        |   "ports": [{"name": "metrics", "port": 9100, "protocol": "TCP"}]}]}]}"""
        .stripMargin)
    ctx("/api/v1/services",
      """{"items": [
        | {"metadata": {"name": "web", "namespace": "prod", "labels": {"app": "web"}},
        |  "spec": {"clusterIP": "10.96.0.10",
        |    "ports": [{"name": "http", "port": 80, "protocol": "TCP"}]}},
        | {"metadata": {"name": "headless", "namespace": "prod"},
        |  "spec": {"clusterIP": "None", "ports": [{"port": 80}]}}]}""".stripMargin)
    ctx("/api/v1/nodes",
      """{"items": [{"metadata": {"name": "n1", "labels": {"zone": "a"}},
        | "status": {"addresses": [
        |    {"type": "Hostname", "address": "n1.local"},
        |    {"type": "InternalIP", "address": "192.168.0.1"}],
        |  "daemonEndpoints": {"kubeletEndpoint": {"Port": 10250}}}}]}""".stripMargin)
    server.start()
    val api = s"127.0.0.1:${server.getAddress.getPort}"
    try {
      val pods = Scrape.readKubernetesSd(Scrape.KubernetesSdConfig(
        api, "pod", scheme = "http", token = Some("tok-1")))
      // declared ports -> one target each; portless pod -> bare IP; no podIP -> skipped
      assert(pods.flatMap(_.targets) == Seq("10.2.0.1:9100", "10.2.0.1:8080", "10.2.0.2"))
      assert(seenAuth.contains("Bearer tok-1"))
      val l = pods.head.labels
      assert(l("__meta_kubernetes_namespace") == "prod")
      assert(l("__meta_kubernetes_pod_name") == "web-0")
      assert(l("__meta_kubernetes_pod_ready") == "true")
      assert(l("__meta_kubernetes_pod_phase") == "Running")
      assert(l("__meta_kubernetes_pod_node_name") == "n1")
      assert(l("__meta_kubernetes_pod_container_name") == "app")
      assert(l("__meta_kubernetes_pod_container_port_name") == "metrics")
      assert(l("__meta_kubernetes_pod_container_port_number") == "9100")
      // label/annotation keys sanitized
      assert(l("__meta_kubernetes_pod_label_app") == "web")
      assert(l("__meta_kubernetes_pod_label_tier_kind") == "fe")
      assert(l("__meta_kubernetes_pod_annotation_scrape_port") == "9100")
      assert(pods(2).labels("__meta_kubernetes_pod_ready") == "false")
      // namespace pin hits the namespaced path only
      val ns = Scrape.readKubernetesSd(Scrape.KubernetesSdConfig(
        api, "pod", namespaces = Seq("edge"), scheme = "http"))
      assert(ns.flatMap(_.targets) == Seq("10.3.0.1:7000"))
      // endpoints role: ready and not-ready addresses, pod backref
      val eps = Scrape.readKubernetesSd(Scrape.KubernetesSdConfig(
        api, "endpoints", scheme = "http"))
      assert(eps.flatMap(_.targets) == Seq("10.2.0.1:9100", "10.2.0.9:9100"))
      assert(eps.head.labels("__meta_kubernetes_endpoint_ready") == "true")
      assert(eps.head.labels("__meta_kubernetes_pod_name") == "web-0")
      assert(eps(1).labels("__meta_kubernetes_endpoint_ready") == "false")
      assert(eps(1).labels.get("__meta_kubernetes_pod_name").isEmpty)
      // service role: cluster IP targets, headless services skipped
      val svcs = Scrape.readKubernetesSd(Scrape.KubernetesSdConfig(
        api, "service", scheme = "http"))
      assert(svcs.flatMap(_.targets) == Seq("10.96.0.10:80"))
      assert(svcs.head.labels("__meta_kubernetes_service_name") == "web")
      assert(svcs.head.labels("__meta_kubernetes_service_port_name") == "http")
      // node role: InternalIP preferred over Hostname, kubelet port
      val nodes = Scrape.readKubernetesSd(Scrape.KubernetesSdConfig(
        api, "node", scheme = "http"))
      assert(nodes.flatMap(_.targets) == Seq("192.168.0.1:10250"))
      assert(nodes.head.labels("__meta_kubernetes_node_label_zone") == "a")
      // API outage: no targets, no exception
      status = 500
      assert(Scrape.readKubernetesSd(Scrape.KubernetesSdConfig(
        api, "pod", scheme = "http")).isEmpty)
      status = 200
      // YAML parse + resolveTargets composition
      val yaml =
        s"""scrape_configs:
           |  - job_name: k8s
           |    kubernetes_sd_configs:
           |      - api_server: '$api'
           |        role: endpoints
           |        scheme: http
           |        bearer_token: tok-2
           |""".stripMargin
      val job = Scrape.parseScrapeConfigs(yaml).head
      assert(job.kubernetesSd == Seq(Scrape.KubernetesSdConfig(
        api, "endpoints", scheme = "http", token = Some("tok-2"))))
      assert(Scrape.resolveTargets(job).map(_._1) ==
        Seq("10.2.0.1:9100", "10.2.0.9:9100"))
      assert(seenAuth.contains("Bearer tok-2"))
    } finally server.stop(0)
  }

  test("yaml: job-level keys after an SD block bind to the job, not the SD entry") {
    // maps are unordered in YAML — scheme/timeout may legally follow the
    // SD block; indentation decides ownership
    val yaml =
      """scrape_configs:
        |  - job_name: k
        |    consul_sd_configs:
        |      - server: 'c:8500'
        |        services: [web]
        |    scheme: https
        |    scrape_timeout: 7s
        |""".stripMargin
    val job = Scrape.parseScrapeConfigs(yaml).head
    assert(job.scheme == "https")
    assert(job.timeoutMs == 7000L)
    // the consul entry keeps ITS default scheme — the trailing job-level
    // line must not be misattributed to it
    assert(job.consulSd == Seq(Scrape.ConsulSdConfig("c:8500", Seq("web"))))
  }
}
