package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PointsStore
import graft.testkit.SharedSpark

/** The runnable server glue: a live store served end-to-end — and the
  * FRESHNESS property that distinguishes a server from a notebook
  * snapshot: appends (direct or via remote-write ingest) are queryable
  * on the very next request, because the points relation and series
  * dictionary re-resolve per request. */
class ServeSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def pts(rows: (String, Map[String, String], Long, Double)*) =
    graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3, r._4)), 1), schema))

  private def get(port: Int, path: String): String = {
    val enc = path.replace(" ", "%20").replace("[", "%5B").replace("]", "%5D")
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$enc")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
  }

  test("serve: live store end-to-end — queries see appends and ingested writes immediately") {
    val dir = java.nio.file.Files.createTempDirectory("serve_store").toString
    PointsStore.append(pts(("up", Map("job" -> "a"), 60000L, 1.0)), dir)
    val handle = Serve.start(spark, Serve.Config(storeDir = dir, port = 0,
      maintenanceMs = 3600000L))
    try {
      // the pre-existing data serves
      assert(get(handle.port, "/api/v1/query?query=up&time=60")
        .contains("\"value\":[60,\"1\"]"))
      // a DIRECT append lands in the next query (provider re-resolves the
      // store; a captured DataFrame would still show the old listing)
      PointsStore.append(pts(("up", Map("job" -> "b"), 60000L, 2.0)), dir)
      assert(get(handle.port, "/api/v1/query?query=sum(up)&time=60")
        .contains("\"value\":[60,\"3\"]"))
      // remote-write ingest through the served receiver, same freshness
      api.RemoteWrite.push(pts(("pushed_total", Map("job" -> "c"), 60000L, 7.0)),
        s"http://127.0.0.1:${handle.port}/api/v1/write")
      assert(get(handle.port, "/api/v1/query?query=pushed_total&time=60")
        .contains("\"value\":[60,\"7\"]"))
      // label surface over the live store
      assert(get(handle.port, "/api/v1/labels").contains("\"job\""))
      // the query guards are wired (an unparsable query 422s, not 500s)
      assert(get(handle.port, "/api/v1/query?query=!!bad&time=60").contains("error"))
    } finally handle.stop()
  }

  test("serve: /health + /metrics self-telemetry, and the engine scrapes ITSELF") {
    val dir = java.nio.file.Files.createTempDirectory("serve_store3").toString
    PointsStore.append(pts(("up", Map("job" -> "a"), 60000L, 1.0)), dir)
    val handle = Serve.start(spark, Serve.Config(storeDir = dir, port = 0,
      maintenanceMs = 3600000L))
    try {
      // /health: the reference's LB/BOSH probe — bare version/sha JSON
      // (metric_store.go:397,597-614)
      val health = get(handle.port, "/health")
      assert(health.contains("\"version\"") && health.contains("\"sha\""))
      // run one query so the admission counters move
      assert(get(handle.port, "/api/v1/query?query=up&time=60").contains("success"))
      // /metrics: Prometheus text exposition of the engine's own counters
      val body = get(handle.port, "/metrics")
      assert(body.contains("# TYPE graft_queries_total counter"))
      assert(body.contains("# TYPE metric_store_written_points_total counter"))
      assert(body.contains("# TYPE graft_query_duration_seconds histogram"))
      assert(body.contains("metric_store_storage_days 1"))
      assert(body.contains("metric_store_series_count 1"))
      assert(body.contains("metric_store_measurements_count 1"))
      def counterOf(name: String, in: String = body): Double =
        in.linesIterator.find(_.startsWith(name + " ")).map(_.split(" ")(1).toDouble).get
      assert(counterOf("graft_queries_total") >= 1.0)
      assert(counterOf("metric_store_written_points_total") >= 1.0)
      // code-cache misses, and the first read of a store window builds its
      // relation
      assert(body.contains("# TYPE graft_codegen_compiles_total counter"))
      assert(counterOf("graft_codegen_compiles_total") >= 1.0)
      assert(counterOf("graft_store_relation_reuse_misses_total") >= 1.0)
      // plan cache: the warmed shape at a fresh time reuses its plan
      def planCache(): (Double, Double) = {
        val m = get(handle.port, "/metrics").linesIterator.toSeq
        def v(name: String) = m.find(_.startsWith(name + " ")).map(_.split(" ")(1).toDouble).get
        (v("graft_plan_cache_hits_total"), v("graft_plan_cache_misses_total"))
      }
      val (hits0, misses0) = planCache()
      assert(get(handle.port, "/api/v1/query?query=up&time=61.5").contains("\"value\":[61.5,\"1\"]"))
      assert(planCache() == ((hits0 + 1, misses0)))
      // relation reuse: the server's startup read is unbounded and the first
      // query's is bounded to its day, two keys; this second query reads
      // the first one's day again and reuses its relation
      assert(counterOf("graft_store_relation_reuse_hits_total", get(handle.port, "/metrics")) >= 1.0)

      // DOGFOOD: the engine's own Scrape source scrapes the engine's own
      // /metrics (httpFetch hits $target/metrics), retains HELP/TYPE in a
      // MetadataStore, and the points land in a second store
      val meta = new graft.sources.Scrape.MetadataStore
      val fetch = meta.recording(graft.sources.Scrape.httpFetch())
      val scraped = graft.sources.Scrape.scrapeTargets(
        spark, Seq(s"127.0.0.1:${handle.port}"), fetch, tsMs = 120000L)
      val selfDir = java.nio.file.Files.createTempDirectory("serve_self").toString
      PointsStore.append(scraped, selfDir)
      val back = PointsStore.read(spark, selfDir, 0L, 300000L)
      assert(back.where(org.apache.spark.sql.functions.col("name") ===
        "graft_queries_total").count() == 1)
      assert(back.where(org.apache.spark.sql.functions.col("name") ===
        "graft_query_duration_seconds_bucket").count() > 5)

      // the retained metadata serves /api/v1/metadata on an API wired
      // with the store — scrape → metadata round-trip
      val metaApi = new graft.api.HttpApi(spark,
        points = PointsStore.read(spark, selfDir, Long.MinValue, Long.MaxValue),
        metadata = () => meta.snapshot)
      val metaPort = metaApi.start(0)
      try {
        val md = get(metaPort, "/api/v1/metadata")
        assert(md.contains("\"graft_queries_total\":[{\"type\":\"counter\""))
        assert(md.contains("\"help\":\"PromQL queries admitted by the API\""))
        assert(md.contains("\"graft_query_duration_seconds\":[{\"type\":\"histogram\""))
      } finally metaApi.stop()
    } finally { handle.stop(); graft.engine.Guards.disableQueryLog() }
  }

  test("serve: /metrics counts the plan each query took") {
    val dir = java.nio.file.Files.createTempDirectory("serve_plans").toString
    PointsStore.append(pts((0 until 120).map(m =>
      ("up", Map("job" -> "a"), 60000L * m, m.toDouble)): _*), dir)
    val handle = Serve.start(spark, Serve.Config(storeDir = dir, port = 0,
      maintenanceMs = 3600000L))
    try {
      def plans(): Map[String, Double] = {
        val m = get(handle.port, "/metrics").linesIterator.toSeq
        Seq("single", "partitioned", "slim").map { p =>
          p -> m.find(_.startsWith(s"graft_plan_${p}_total ")).map(_.split(" ")(1).toDouble).get
        }.toMap
      }
      val before = plans()
      // a last-hour selector over the small store: one partition
      assert(get(handle.port, "/api/v1/query?query=up&time=7000").contains("success"))
      val afterSelector = plans()
      assert(afterSelector("single") == before("single") + 1)
      assert(afterSelector("partitioned") == before("partitioned"))
      // a wide range at 1 s steps: past the single plan's step bound
      assert(get(handle.port, "/api/v1/query_range?query=up&start=0&end=7000&step=1")
        .contains("success"))
      val afterRange = plans()
      assert(afterRange("partitioned") == afterSelector("partitioned") + 1)
      assert(afterRange("single") == afterSelector("single"))
      assert(afterRange("slim") == before("slim"))
    } finally handle.stop()
  }

  test("serve: a failed tick names the exception and its root cause, even without a message") {
    val e = new IllegalStateException(null: String,
      new RuntimeException("wrapped", new java.io.IOException("disk gone")))
    assert(Serve.failureLine(e) ==
      "java.lang.IllegalStateException; root cause: java.io.IOException: disk gone")
    assert(Serve.failureLine(new java.io.IOException("no cause")) ==
      "java.io.IOException: no cause")
  }

  test("serve: in-process scraper feeds the store; ?stats= reports query statistics") {
    // server A: the scrape TARGET (its /metrics is the exposition)
    val dirA = java.nio.file.Files.createTempDirectory("serve_tgt").toString
    PointsStore.append(pts(("up", Map("job" -> "a"), 60000L, 1.0)), dirA)
    val a = Serve.start(spark, Serve.Config(storeDir = dirA, port = 0,
      maintenanceMs = 3600000L))
    try {
      assert(get(a.port, "/api/v1/query?query=up&time=60").contains("success"))
      // server B runs the reference's in-process scraper against A
      // (scraping/scraper.go wires the scrape manager into the store
      // process); B's store and metadata fill from A's exposition
      val dirB = java.nio.file.Files.createTempDirectory("serve_scraper").toString
      PointsStore.append(pts(("boot", Map("job" -> "b"), 1000L, 1.0)), dirB)
      val b = Serve.start(spark, Serve.Config(storeDir = dirB, port = 0,
        maintenanceMs = 3600000L,
        scrapeTargets = Seq(s"127.0.0.1:${a.port}"), scrapeIntervalMs = 250L))
      try {
        val deadline = System.currentTimeMillis() + 60000L
        var ok = false
        while (!ok && System.currentTimeMillis() < deadline) {
          val now = System.currentTimeMillis() / 1000
          ok = get(b.port, s"/api/v1/query?query=graft_queries_total&time=$now")
            .contains("graft_queries_total")
          if (!ok) Thread.sleep(300)
        }
        assert(ok, "scraped self-telemetry never became queryable on B")
        // metadata retained from A's exposition HELP/TYPE lines
        val md = get(b.port, "/api/v1/metadata")
        assert(md.contains("\"graft_queries_total\":[{\"type\":\"counter\""))
        // the scraper shows as an active target
        assert(get(b.port, "/api/v1/targets").contains(s"127.0.0.1:${a.port}"))
        // ?stats= — the vendored api's query statistics param
        val s = get(b.port, "/api/v1/query?query=boot&time=1&stats=all")
        assert(s.contains(""""stats":{"timings""""), s)
        assert(s.contains("totalQueryableSamples"), s)
        val plain = get(b.port, "/api/v1/query?query=boot&time=1")
        assert(!plain.contains("\"stats\""))
        // ---- the honest status surface (the reference serves these
        // routes from empty config / null retrievers) ----
        // /status/config: the server's REAL config as YAML
        val cfgAns = get(b.port, "/api/v1/status/config")
        assert(cfgAns.contains("\"yaml\""))
        assert(cfgAns.contains("job_name: serve"))
        assert(cfgAns.contains(s"127.0.0.1:${a.port}"))
        // /status/flags: the startup flags verbatim
        val flagsAns = get(b.port, "/api/v1/status/flags")
        assert(flagsAns.contains("\"enable-admin\":\"false\""))
        assert(flagsAns.contains("\"scrape-interval-ms\":\"250\""))
        // /scrape_pools: the configured pool names
        assert(get(b.port, "/api/v1/scrape_pools")
          .contains("\"scrapePools\":[\"serve\"]"))
        // /targets/metadata: per-target metric metadata retained by the
        // in-process scrape loop
        val tmd = get(b.port, "/api/v1/targets/metadata")
        assert(tmd.contains("\"metric\":\"graft_queries_total\""), tmd)
        assert(tmd.contains(s""""instance":"127.0.0.1:${a.port}""""), tmd)
        // metric= narrows and omits the metric field per the vendored shape
        val tmd1 = get(b.port,
          "/api/v1/targets/metadata?metric=graft_queries_total")
        assert(tmd1.contains("\"type\":\"counter\"") && !tmd1.contains("\"metric\":"), tmd1)
        // match_target filters on the TARGET labelset
        assert(get(b.port,
          "/api/v1/targets/metadata?match_target=%7Binstance%3D%22nope%22%7D")
          .contains("\"data\":[]"))
        // limit caps the list
        val lim = get(b.port, "/api/v1/targets/metadata?limit=1")
        assert(lim.split("\"metric\":").length == 2, lim)
      } finally b.stop()
    } finally { a.stop(); graft.engine.Guards.disableQueryLog() }
  }

  test("serve: hierarchical federation — a second store ingests a scoped slice through /federate") {
    val now = System.currentTimeMillis()
    val dirA = java.nio.file.Files.createTempDirectory("serve_fed_up").toString
    PointsStore.append(pts(
      ("up", Map("job" -> "a"), now - 60000L, 1.0),
      ("up", Map("job" -> "a"), now - 30000L, 3.0), // newest of the series
      ("up", Map("job" -> "b"), now - 45000L, 2.0),
      ("other", Map("job" -> "a"), now - 30000L, 9.0)), dirA)
    val a = Serve.start(spark, Serve.Config(storeDir = dirA, port = 0,
      maintenanceMs = 3600000L))
    try {
      // the federation loop dogfooded: the engine's own Scrape source
      // pulls a SCOPED slice (match[]=up) of store A through /federate —
      // the reference's cross-cluster story — and lands it in store B
      val port = a.port
      val slice = graft.sources.Scrape.scrapeTargets(spark,
        Seq(s"127.0.0.1:$port"),
        target => {
          val url = s"http://$target/federate?match%5B%5D=up"
          val in = new java.net.URL(url).openStream()
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        }, now)
      val dirB = java.nio.file.Files.createTempDirectory("serve_fed_down").toString
      PointsStore.append(slice, dirB)
      val stored = PointsStore.read(spark, dirB, Long.MinValue, Long.MaxValue)
        .collect()
        .map(r => (r.getAs[String]("name"),
          r.getAs[Map[String, String]]("labels").getOrElse("job", ""),
          r.getAs[Long]("t"), r.getAs[Double]("value")))
        .toSet
      // sample-exact: the newest sample per MATCHING series with its
      // ORIGINAL timestamp; the unmatched metric never crosses
      assert(stored == Set(
        ("up", "a", now - 30000L, 3.0),
        ("up", "b", now - 45000L, 2.0)))
      // the transferred slice is queryable on B with federation labels
      val instLabel = slice.select("labels").head
        .getAs[Map[String, String]](0)("instance")
      assert(instLabel == s"127.0.0.1:$port")
    } finally { a.stop(); graft.engine.Guards.disableQueryLog() }
  }

  test("serve: crash evidence from a previous process is surfaced and cleared") {
    val dir = java.nio.file.Files.createTempDirectory("serve_store2").toString
    PointsStore.append(pts(("up", Map("job" -> "a"), 60000L, 1.0)), dir)
    // plant a leftover admission entry, as a killed process would leave
    val qlog = java.nio.file.Paths.get(dir, "_querylog")
    java.nio.file.Files.createDirectories(qlog)
    java.nio.file.Files.writeString(qlog.resolve("graft-query-9.json"),
      """{"group":"graft-query-9","description":"sum(up)","startedMs":5}""")
    val handle = Serve.start(spark, Serve.Config(storeDir = dir, port = 0,
      maintenanceMs = 3600000L))
    try {
      // cleared on startup (surfaced to stderr), queries run normally
      assert(graft.engine.Guards.readQueryLog(qlog).isEmpty)
      assert(get(handle.port, "/api/v1/query?query=up&time=60").contains("success"))
    } finally { handle.stop(); graft.engine.Guards.disableQueryLog() }
  }

  test("serve: a small store's queries skip the series dictionary and answer as the slim plan does") {
    val dir = java.nio.file.Files.createTempDirectory("serve_plan").toString
    PointsStore.append(pts(
      ("up", Map("job" -> "a", "i" -> "1"), 30000L, 1.0),
      ("up", Map("job" -> "a", "i" -> "2"), 30000L, 2.0),
      ("up", Map("job" -> "b", "i" -> "1"), 45000L, 4.0),
      ("up", Map("job" -> "b", "i" -> "1"), 60000L, 8.0)), dir)
    // did a finished query read the dictionary? from the session's query listener
    val dictReads = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit =
        if (readsDict(qe.analyzed)) dictReads.incrementAndGet()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    val handle = Serve.start(spark, Serve.Config(storeDir = dir, port = 0,
      maintenanceMs = 3600000L))
    spark.listenerManager.register(listener)
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    /** (result elements, sorted; did the request scan a `_dict` file) */
    def served(q: String): (Seq[String], Boolean) = {
      drain(); dictReads.set(0)
      val body = get(handle.port,
        s"/api/v1/query?query=${java.net.URLEncoder.encode(q, "UTF-8")}&time=60")
      drain()
      assert(body.contains("\"status\":\"success\""), body)
      ("""\{"metric":\{[^}]*\},"value":\[[^\]]*\]\}""".r.findAllIn(body).toSeq.sorted,
        dictReads.get > 0)
    }
    try {
      for (q <- Seq("up", "up{job=\"a\"}", "sum by (job) (up)")) {
        val (full, fullReadsDict) = served(q)
        val (slim, slimReadsDict) = withSlimPlan(served(q))
        assert(!fullReadsDict, s"$q: a small store's query read the series dictionary")
        assert(slimReadsDict, s"$q: the pinned slim plan did not read the series dictionary")
        assert(full.nonEmpty && full == slim, s"$q: full $full vs slim $slim")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      handle.stop(); graft.engine.Guards.disableQueryLog()
    }
  }
}
