package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer, HttpsConfigurator, HttpsParameters, HttpsServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine

object HttpApi {
  /** One /api/v1/targets/metadata entry: the target's labelset plus one
    * retained metric's metadata (vendored api.go's metricMetadata). */
  final case class TargetMetadata(target: Map[String, String], metric: String,
                                  mtype: String, help: String, unit: String)

  /** Transport security for the served API (reference: the engine's own
    * listeners are mutual-TLS — metric_store.go:318-411 builds the egress
    * server from a CA + server pair and requires client certs; ingest
    * rides the same mTLS transport). PEM file paths, pure-JDK loading —
    * the same machinery the scrape connector uses client-side
    * ([[graft.sources.Scrape.buildSslContext]]).
    *
    *  - `certFile`/`keyFile`: the listener's identity (PKCS#8 key).
    *  - `clientCaFile`: when set, clients MUST present a certificate
    *    signed by this CA (mutual TLS, the reference's default posture);
    *    when None, the transport is server-authenticated TLS only.
    */
  final case class ServerTls(certFile: String, keyFile: String,
                             clientCaFile: Option[String] = None)
}

/** Prometheus HTTP API v1 surface over the engine (reference:
  * src/internal/api/prom_api.go:74-108 routing the vendored
  * web/api/v1 handler set):
  *
  *   GET /api/v1/query?query=&time=        → instant vector/scalar
  *   GET /api/v1/query_range?query=&start=&end=&step=
  *   GET /api/v1/labels
  *   GET /api/v1/label/<name>/values
  *   GET /api/v1/series?match[]=&start=&end=
  *
  * JSON bodies follow the Prometheus response envelope
  * {"status":"success","data":{...}}. The server is the JDK built-in
  * HttpServer — the API layer is driver-side presentation; all heavy
  * lifting stays in the distributed plan, and only result-sized data is
  * collected for serialization.
  */
final class HttpApi(spark: SparkSession, points: DataFrame,
                    lookbackMs: Long = 300000L,
                    rules: Option[graft.rules.RuleManagers] = None,
                    limits: Option[graft.engine.Guards.QueryLimits] = None,
                    reloadConfig: () => Unit = () => (),
                    /** (job, target) pairs for /api/v1/targets. */
                    scrapeTargets: () => Seq[(String, String)] = () => Nil,
                    /** Series dictionary of a store-backed points relation:
                      * queries whose read is large enough
                      * ([[graft.engine.Engine.planChoice]]) then run the slim
                      * sig-only path, and only those call it. A PROVIDER,
                      * resolved per query (e.g. `() => PointsStore.readDict(
                      * spark, dir)`) — a dictionary snapshot pinned at
                      * construction would go stale as appends land, and the
                      * dict join would silently drop the new series. */
                    seriesDict: () => Option[DataFrame] = () => None,
                    /** Remote-write ingest sink: when set, POST
                      * /api/v1/write accepts Prometheus `remote_write`
                      * (snappy+protobuf WriteRequest) and hands the decoded
                      * points relation to this callback (typically
                      * `df => PointsStore.append(df, dir)`). */
                    writeSink: Option[DataFrame => Unit] = None,
                    /** When set, [[start]] serves HTTPS with this identity
                      * (and requires client certs if a client CA is
                      * given). */
                    tls: Option[HttpApi.ServerTls] = None,
                    /** When set, EVERY route requires
                      * `Authorization: Bearer <token>` — in particular the
                      * push-ingest /api/v1/write endpoint is no longer an
                      * unauthenticated writer. Constant-time compare. */
                    bearerToken: Option[String] = None,
                    /** When set, OVERRIDES `points`: the relation is
                      * re-resolved per request. A fixed DataFrame snapshots
                      * its file listing at construction — a long-running
                      * server over a live store (appends + compactions
                      * landing) must re-plan, exactly like [[seriesDict]].
                      * (e.g. `() => PointsStore.read(spark, dir,
                      * Long.MinValue, Long.MaxValue)`) */
                    pointsProvider: Option[() => DataFrame] = None,
                    /** Per-metric (type, help, unit) for /api/v1/metadata —
                      * typically [[graft.sources.Scrape.MetadataStore]],
                      * fed by the scrape loop's parsed HELP/TYPE comment
                      * lines (real Prometheus populates the route from
                      * exactly those; the reference serves it through the
                      * vendored API). */
                    metadata: () => Map[String, (String, String, String)] = () => Map.empty,
                    /** Store directory behind the served relation. When
                      * set, the Prometheus ADMIN API is enabled on it
                      * (the vendored api.go gates the same routes behind
                      * enableAdmin): POST/PUT
                      * /api/v1/admin/tsdb/delete_series (match[], start,
                      * end → [[graft.sources.PointsStore.deleteSeries]]),
                      * /snapshot ([[graft.sources.PointsStore.snapshot]])
                      * and /clean_tombstones (a no-op 204: deletes here
                      * are atomic-visible rewrites, there are no
                      * tombstones to clean). */
                    adminStore: Option[String] = None,
                    /** TIME-BOUNDED points resolver: when set, every
                      * query resolves the served relation pruned to the
                      * union of its selector windows
                      * (Guards.selectorWindowBounds — the same absolute-
                      * window algebra the alerting sink and the bench's
                      * store-backed queries use), so a store-backed
                      * server day-prunes EVERY request instead of
                      * listing/scanning the whole store (at fleet scale
                      * the unbounded listing is the query). Label APIs
                      * with start/end and remote-read requests (whose
                      * prompb queries carry explicit bounds) prune the
                      * same way. (e.g. `(lo, hi) => PointsStore.read(
                      * spark, dir, lo, hi)`.) */
                    pointsRange: Option[(Long, Long) => DataFrame] = None,
                    /** Exemplar provider for /api/v1/query_exemplars —
                      * typically `() => exemplarStore.all` over the
                      * scrape loop's [[graft.sources.Scrape.ExemplarStore]]
                      * (Prometheus's own exemplar storage is the same
                      * in-memory ring; it never reaches TSDB). */
                    exemplars: () => Seq[graft.sources.Scrape.Exemplar] = () => Nil,
                    /** Sink for exemplars arriving WITH remote-write
                      * payloads (RW 1.0/2.0 TimeSeries.exemplars) —
                      * typically `exemplarStore.add` so query_exemplars
                      * covers remote-written series, not just scraped
                      * ones. */
                    exemplarSink: Option[graft.sources.Scrape.Exemplar => Unit] = None,
                    /** Live server configuration rendered as Prometheus-
                      * style YAML for /api/v1/status/config. The vendored
                      * API serves the reference an EMPTY config
                      * (prom_api.go wires `config.Config{}`); a wired
                      * provider answers with real state. */
                    configYaml: () => String = () => "",
                    /** Startup flags for /api/v1/status/flags (the
                      * vendored api.go serves its flagsMap verbatim). */
                    flags: Map[String, String] = Map.empty,
                    /** Per-target metric metadata for
                      * /api/v1/targets/metadata — what the in-process
                      * scrape loop retained per target from # HELP/TYPE/
                      * UNIT lines. */
                    targetMetadata: () => Seq[HttpApi.TargetMetadata] = () => Nil,
                    /** Sink for metadata arriving WITH remote-write
                      * payloads (v1 WriteRequest.metadata, v2 per-series
                      * Metadata) — typically `metadataStore.put` so
                      * /api/v1/metadata covers remote-written metrics. */
                    metadataSink: Option[(String, String, String, String) => Unit] = None) {

  /** The served relation for one request. */
  private def pts: DataFrame = pointsProvider.map(_()).getOrElse(points)

  /** The served relation for one QUERY: pruned to the query's selector
    * windows when a bounded resolver is wired; the full relation
    * otherwise. Literal-only queries (no selector) fall back to the
    * grid's own window. */
  private def ptsFor(promql: String, grid: graft.engine.StepGrid): DataFrame =
    pointsRange match {
      case Some(f) =>
        val (lo, hi) = graft.engine.Guards
          .selectorWindowBounds(promql, grid, lookbackMs)
          .getOrElse((grid.startMs - lookbackMs, grid.endMs))
        f(lo, hi)
      case None => pts
    }

  /** Bounded resolve for routes that carry explicit [lo, hi] bounds
    * (label APIs with start/end, remote-read prompb queries). */
  private def ptsBounded(lo: Long, hi: Long): DataFrame =
    pointsRange.map(_(lo, hi)).getOrElse(pts)

  private val Version = "0.3.0-graft"
  private val startedMs = System.currentTimeMillis()

  /** Remote-write request-body cap (compressed bytes). */
  private val MaxWriteBodyBytes = 64 * 1024 * 1024

  /** Enforce the reference's query envelope when limits are configured:
    * timeout + concurrency slot around the driver-side action, with the
    * MaxSamples budget metered IN-SCAN by a TallySamples accumulator the
    * evaluation threads through its selectors — no pre-count pass on the
    * happy path (metric_store.go:296,109,295-316). The accumulator can
    * overcount on stage retries/speculation, so a tripped meter is
    * confirmed by one exact pushdown-filtered count before the query is
    * rejected (Guards.exactSampleCount). */
  // self-telemetry: query admission/outcome/latency counters, served at
  // /metrics (reference: the registrar threaded through every component,
  // src/internal/metrics/registrar.go)
  private val queriesTotal = Telemetry.counter(
    "graft_queries_total", "PromQL queries admitted by the API")
  private val queryErrorsTotal = Telemetry.counter(
    "graft_query_errors_total", "PromQL queries that failed (guard rejections included)")
  private val queryDuration = Telemetry.histogram(
    "graft_query_duration_seconds", "End-to-end PromQL query latency")
  private val ingressPointsTotal = Telemetry.counter(
    "metric_store_ingress_points_total", "Samples accepted by the remote-write receiver")
  // a query shape compiles once; a count rising with every query is a
  // code-cache miss storm (a time or value inlined into generated code)
  Telemetry.counterSupplier("graft_codegen_compiles_total",
    "Generated classes compiled by this process (Spark code-cache misses)")(() =>
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  // a query shape is planned once: a repeat rebinds its cached plan's
  // times, and a write, compaction or delete (a new live file set) misses
  Telemetry.counterSupplier("graft_plan_cache_hits_total",
    "PromQL queries that reused an optimized plan with their times rebound")(() =>
    graft.engine.PlanCache.hits.toDouble)
  Telemetry.counterSupplier("graft_plan_cache_misses_total",
    "PromQL queries built and optimized afresh")(() =>
    graft.engine.PlanCache.misses.toDouble)
  // the plan each query took (Engine.PlanChoice): a dashboard over a small
  // store runs single-partition; a long grid or an in-memory relation
  // stays partitioned; a large read goes slim
  for ((plan, help) <- Seq(
      "single" -> "one-partition read: no shuffle, one job",
      "partitioned" -> "label-carrying plan, shuffled per aggregation",
      "slim" -> "series-dictionary plan over a large read"))
    Telemetry.counterSupplier(s"graft_plan_${plan}_total",
      s"PromQL queries on the $plan plan ($help)")(() =>
      graft.engine.Engine.planCount(plan).toDouble)

  /** Per-request `timeout=` (seconds float or Go duration), CAPPED at
    * the server's configured timeout — the vendored API's contract
    * (api.go parseDuration + min with -query.timeout): a client may
    * tighten its own deadline, never widen the server's. */
  private def requestTimeoutMs(p: Map[String, String]): Option[Long] =
    p.get("timeout").filter(_.nonEmpty).map { s =>
      val ms = scala.util.Try(math.round(s.toDouble * 1000.0))
        .getOrElse(graft.promql.Parser.parseDuration(s))
      require(ms > 0, "timeout must be positive")
      ms
    }

  private def guarded[T](q: String, grid: graft.engine.StepGrid,
                         timeoutMs: Option[Long] = None)(
      body: Option[org.apache.spark.util.LongAccumulator] => T): T = {
    queriesTotal.inc()
    val t0 = System.nanoTime()
    try {
      val out = limits match {
        case Some(l0) =>
          val l = timeoutMs.map(t =>
            l0.copy(timeoutMs = math.min(l0.timeoutMs, t))).getOrElse(l0)
          val tally = graft.engine.Guards.newTally(spark)
          val confirm = () => graft.engine.Guards.exactSampleCount(ptsFor(q, grid), q, grid, lookbackMs)
          graft.engine.Guards.run(spark, l, q, Some(tally), Some(confirm))(body(Some(tally)))
        case None => body(None)
      }
      queryDuration.observe((System.nanoTime() - t0) / 1e9)
      out
    } catch { case e: Throwable =>
      queryErrorsTotal.inc()
      queryDuration.observe((System.nanoTime() - t0) / 1e9)
      throw e
    }
  }

  private var server: HttpServer = _

  /** Register a route behind the bearer gate: when a token is configured,
    * every route answers 401 without the exact `Authorization: Bearer`
    * header (constant-time compare — no prefix-timing oracle on the
    * token), with a `WWW-Authenticate` challenge per RFC 6750. */
  private def register(path: String, h: HttpHandler): Unit =
    register(path, h, cors = true)

  /** `cors = false` scopes the wildcard CORS grant OFF a route: the admin
    * API is never a browser-dashboard surface, so least-privilege keeps
    * `Access-Control-Allow-Origin` (and the preflight allow headers) to
    * the read/query routes the vendored httputil.SetCORS exists for —
    * a cross-origin page gets no preflight approval and no response
    * exposure on admin endpoints. */
  private def register(path: String, h: HttpHandler, cors: Boolean): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      // CORS on the non-admin routes (the vendored API's httputil.SetCORS
      // runs on each response; OPTIONS is the registered preflight —
      // api.go:359): browser dashboards (Grafana in-browser datasources)
      // need both
      if (ex.getRequestMethod.equalsIgnoreCase("OPTIONS")) {
        if (cors) {
          val hs = ex.getResponseHeaders
          hs.set("Access-Control-Allow-Origin", "*")
          // the vendored corsHeaders allow exactly GET, POST, OPTIONS
          // (httputil/cors.go:24) — advertising PUT/DELETE would grant
          // cross-origin pages preflight approval for the mutating verbs
          // (agent-mode DELETE /series, rules CRUD)
          hs.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
          hs.set("Access-Control-Allow-Headers",
            "Accept, Authorization, Content-Type, Content-Encoding, Origin")
          hs.set("Access-Control-Max-Age", "86400")
        }
        ex.sendResponseHeaders(204, -1)
        ex.close()
      } else if (authorized(ex)) {
        if (cors) {
          ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
          ex.getResponseHeaders.set("Access-Control-Expose-Headers", "Date")
        }
        h.handle(ex)
      }
      else {
        val msg = """{"status":"error","error":"unauthorized"}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
        ex.sendResponseHeaders(401, msg.length)
        ex.getResponseBody.write(msg)
        ex.close()
      })

  private def authorized(ex: HttpExchange): Boolean = bearerToken match {
    case None => true
    case Some(tok) =>
      Option(ex.getRequestHeaders.getFirst("Authorization")).exists(h =>
        java.security.MessageDigest.isEqual(
          h.getBytes(StandardCharsets.UTF_8),
          s"Bearer $tok".getBytes(StandardCharsets.UTF_8)))
  }

  def start(port: Int): Int = {
    server = tls match {
      case Some(t) =>
        val https = HttpsServer.create(new InetSocketAddress(port), 0)
        // server identity + (optional) client CA from PEM via the scrape
        // connector's pure-JDK loader: caFile there = the trust anchors
        // used to validate the PEER, which server-side means client certs
        val ctx = graft.sources.Scrape.buildSslContext(
          graft.sources.Scrape.TlsConfig(
            caFile = t.clientCaFile,
            certFile = Some(t.certFile), keyFile = Some(t.keyFile)))
        https.setHttpsConfigurator(new HttpsConfigurator(ctx) {
          override def configure(p: HttpsParameters): Unit = {
            val sp = ctx.getDefaultSSLParameters
            if (t.clientCaFile.isDefined) sp.setNeedClientAuth(true)
            p.setSSLParameters(sp)
          }
        })
        https
      case None => HttpServer.create(new InetSocketAddress(port), 0)
    }
    // without an executor the JDK server SERIALIZES requests on its
    // dispatch thread — the reference serves concurrently and bounds
    // query concurrency with its 20-slot tracker, which is exactly what
    // Guards.QueryLimits does here; Spark is thread-safe for concurrent
    // driver-side actions
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      r => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    register("/api/v1/query_range", (ex: HttpExchange) => handle(ex)(queryRange))
    register("/api/v1/query", (ex: HttpExchange) => handle(ex)(instant))
    register("/api/v1/labels", (ex: HttpExchange) => handle(ex)(labels))
    register("/api/v1/label/", (ex: HttpExchange) => handle(ex)(labelValues))
    // DELETE /api/v1/series is the vendored agent-mode route
    // (api.go:377 r.Del("/series", wrapAgent(api.dropSeries))); the
    // reference wires a "not implemented" stub (api.go:866-868) — served
    // for real here when the admin store is configured, with the same
    // match[]-union + start/end semantics as admin delete_series, and
    // the reference's exact errorInternal stub answer otherwise
    register("/api/v1/series", (ex: HttpExchange) =>
      if (ex.getRequestMethod.equalsIgnoreCase("DELETE"))
        handleCode(ex) { e =>
          // the route shares GET's CORS-enabled registration; the
          // mutating verb itself exposes nothing cross-origin (preflight
          // never approves DELETE — Allow-Methods is GET, POST, OPTIONS)
          e.getResponseHeaders.remove("Access-Control-Allow-Origin")
          adminStore match {
            case None =>
              (500, """{"status":"error","errorType":"internal","error":"not implemented"}""")
            case Some(storeDir) =>
              val pairs = paramPairs(e)
              val p = pairs.toMap
              multiParam(pairs, "match[]") match {
                case Seq() =>
                  (400, """{"status":"error","errorType":"bad_data","error":"no match[] parameter provided"}""")
                case sels =>
                  val start = p.get("start").map(ms).getOrElse(Long.MinValue)
                  val end = p.get("end").map(ms).getOrElse(Long.MaxValue)
                  sels.foreach(sel => graft.sources.PointsStore
                    .deleteSeries(spark, storeDir, sel, start, end))
                  (204, "")
              }
          }
        }
      else handle(ex)(series))
    // POST /api/v1/read — Prometheus remote-read (snappy+protobuf): SAMPLES
    // mode by default; clients that negotiate STREAMED_XOR_CHUNKS (prompb
    // accepted_response_types) get the paged chunked response instead —
    // bounded server memory, no sample-limit materialization (reference
    // serves both via vendored web/api/v1/api.go:392)
    register("/api/v1/read", (ex: HttpExchange) => {
      var streaming = false // once frames flow, a failure can only abort the connection
      try {
        if (!ex.getRequestMethod.equalsIgnoreCase("POST"))
          throw new IllegalArgumentException("POST required")
        val body = ex.getRequestBody.readAllBytes()
        // decompress ONCE (claimed-length bounded); both the negotiation
        // check and the handler work from the raw bytes
        val raw = RemoteRead.uncompress(body) // throws on malformed body: 422 below
        // prompb queries carry explicit [start, end] — resolve the served
        // relation pruned to their union (day-partition pruning)
        val readPts = {
          val qs = RemoteRead.decodeRequest(raw)
          if (qs.isEmpty) pts
          else ptsBounded(qs.map(_.startMs).min, qs.map(_.endMs).max)
        }
        if (RemoteRead.wantsStreamedRaw(raw)) {
          // headers commit in onReady — AFTER request decode and query
          // analysis/planning — so a bad matcher still answers 422
          // instead of a cleanly-terminated empty 200 stream
          RemoteRead.handleStreamedRaw(spark, readPts, raw, ex.getResponseBody,
            onReady = () => {
              ex.getResponseHeaders.set("Content-Type",
                "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
              ex.sendResponseHeaders(200, 0) // chunked; frames flushed as produced
              streaming = true
            })
        } else {
          val out = RemoteRead.handleRaw(spark, readPts, raw)
          ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
          ex.getResponseHeaders.set("Content-Encoding", "snappy")
          ex.sendResponseHeaders(200, out.length)
          ex.getResponseBody.write(out)
        }
      } catch {
        case e: Throwable if !streaming =>
          val msg = s"""{"status":"error","error":${Json.str(rootMsg(e))}}"""
            .getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(422, msg.length)
          ex.getResponseBody.write(msg)
        case _: Throwable => () // mid-stream: close() truncates the frame
          // stream; the client's CRC/EOF check surfaces the abort
      } finally ex.close()
    })
    // POST /api/v1/write — Prometheus remote-write receiver: the standard
    // push-ingest wire protocol (the reference ingests over its private
    // gob TCP framing; remote write is the public equivalent). 204 on
    // success, per the remote-write spec.
    writeSink.foreach { sink =>
      register("/api/v1/write", (ex: HttpExchange) => {
        // status split per the remote-write spec: senders treat 4xx as
        // non-retryable (the batch is DROPPED) and 5xx as retryable — so
        // only request defects (method, size, decode) may 400, while any
        // failure AFTER a well-formed request decodes (the sink / store
        // append) must 500, or a transient Spark hiccup would silently
        // lose data the at-least-once contract promises to keep.
        def fail(code: Int, e: Throwable): Unit = {
          val msg = s"""{"status":"error","error":${Json.str(rootMsg(e))}}"""
            .getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(code, msg.length)
          ex.getResponseBody.write(msg)
        }
        try {
          // protocol negotiation per the remote-write 2.0 spec: the v2
          // content type selects the symbol-table Request; anything else
          // decodes as the 1.0 WriteRequest
          val isV2 = Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .exists(_.replace(" ", "").toLowerCase
              .contains("proto=io.prometheus.write.v2.request"))
          val decoded =
            try {
              if (!ex.getRequestMethod.equalsIgnoreCase("POST"))
                throw new IllegalArgumentException("POST required")
              // bound the request like the reference bounds ingress frames
              // (64 KiB there; senders chunk, so a sane cap loses nothing)
              val body = ex.getRequestBody.readNBytes(MaxWriteBodyBytes + 1)
              if (body.length > MaxWriteBodyBytes)
                throw new IllegalArgumentException(
                  s"write body exceeds $MaxWriteBodyBytes bytes")
              Right(
                if (isV2) {
                  val full = RemoteRead.decodeWriteRequestV2Full(body)
                  (full.map(s => (s.labels, s.samples, s.exemplars)),
                    // v2 metadata is per-series; key it by the family name
                    full.flatMap(s => s.metadata.flatMap(md =>
                      s.labels.get("__name__").map(_ -> md))))
                } else RemoteRead.decodeWriteRequestFull(body))
            } catch { case e: Throwable => Left(e) }
          decoded match {
            case Left(e) => fail(400, e)
            case Right((series, seriesMeta)) =>
              try {
                sink(RemoteRead.writeRequestToPoints(
                  spark, series.map { case (l, s, _) => (l, s) }))
                val n = series.map(_._2.length.toLong).sum
                ingressPointsTotal.add(n)
                // retain the payload's metadata so /api/v1/metadata
                // covers remote-written metrics (same store the scrape
                // loop fills)
                metadataSink.foreach { ms =>
                  seriesMeta.foreach { case (metric, (typ, help, unit)) =>
                    ms(metric, typ, help, unit)
                  }
                }
                // retain the payload's exemplars so query_exemplars
                // covers remote-written series (same ring the scrape
                // loop feeds)
                var exemplarsWritten = 0L
                exemplarSink.foreach { es =>
                  series.foreach { case (labels, _, exs) =>
                    val name = labels.getOrElse("__name__", "")
                    val rest = labels - "__name__"
                    exs.foreach { case (exLabels, v, t) =>
                      es(graft.sources.Scrape.Exemplar(
                        name, rest, exLabels.toMap, v, t))
                      exemplarsWritten += 1
                    }
                  }
                }
                if (isV2) {
                  // 2.0 REQUIRES written-counts headers on success
                  ex.getResponseHeaders.set(
                    "X-Prometheus-Remote-Write-Samples-Written", n.toString)
                  ex.getResponseHeaders.set(
                    "X-Prometheus-Remote-Write-Histograms-Written", "0")
                  ex.getResponseHeaders.set(
                    "X-Prometheus-Remote-Write-Exemplars-Written",
                    exemplarsWritten.toString)
                }
                ex.sendResponseHeaders(204, -1)
              } catch { case e: Throwable => fail(500, e) }
          }
        } finally ex.close()
      })
      // POST /api/v1/otlp/v1/metrics — OTLP/HTTP metrics ingest, the
      // OpenTelemetry push path (vendored api.go:394; the reference wires
      // it DISABLED — otlpEnabled=false at api.go:299 — this engine
      // serves it for real, like the admin API). Protobuf
      // ExportMetricsServiceRequest, optional gzip; responses follow the
      // OTLP/HTTP spec: 200 + ExportMetricsServiceResponse (with a
      // partial_success report when metrics were rejected), 400 + a
      // google.rpc.Status proto on request defects, 5xx retryable on
      // sink failures — mirroring the remote-write route's 4xx/5xx split.
      register("/api/v1/otlp/v1/metrics", (ex: HttpExchange) => {
        def proto(code: Int, body: Array[Byte]): Unit = {
          ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
          ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
          if (body.nonEmpty) ex.getResponseBody.write(body)
        }
        try {
          val decoded =
            try {
              if (!ex.getRequestMethod.equalsIgnoreCase("POST"))
                throw new IllegalArgumentException("POST required")
              val gz = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
                .exists(_.trim.equalsIgnoreCase("gzip"))
              val body = ex.getRequestBody.readNBytes(MaxWriteBodyBytes + 1)
              if (body.length > MaxWriteBodyBytes)
                throw new IllegalArgumentException(
                  s"write body exceeds $MaxWriteBodyBytes bytes")
              Right(Otlp.toRows(Otlp.decode(body, gz)))
            } catch { case e: Throwable => Left(e) }
          decoded match {
            case Left(e) => proto(400, Otlp.encodeStatus(3, rootMsg(e))) // 3 = INVALID_ARGUMENT
            case Right(tr) =>
              try {
                if (tr.rows.nonEmpty) sink(Otlp.toPoints(spark, tr))
                // accepted OTLP DATA POINTS — the remote-write route's
                // per-sample unit, not translated rows (one histogram
                // point fans out to many rows + target_info)
                ingressPointsTotal.add(tr.acceptedPoints)
                proto(200, Otlp.encodeResponse(
                  tr.rejectedPoints, tr.errors.mkString("; ")))
              } catch { case e: Throwable =>
                proto(500, Otlp.encodeStatus(13, rootMsg(e))) // 13 = INTERNAL
              }
          }
        } finally ex.close()
      })
    }
    rules.foreach { rm =>
      register("/api/v1/rules",
        (ex: HttpExchange) => handle(ex)(_ => RulesApi.listing(rm)))
      register("/api/v1/alerts",
        (ex: HttpExchange) => handle(ex)(_ => RulesApi.alerts(rm)))
      register("/api/v1/alertmanagers",
        (ex: HttpExchange) => handle(ex)(_ => RulesApi.alertmanagers(rm)))
      register("/rules/manager",
        (ex: HttpExchange) => handleCode(ex)(e => RulesApi.route(rm, e)))
    }
    // status/metadata surface the vendored web/api/v1 registers — the
    // reference returns mostly-empty values too (nil retrievers, empty
    // config); dashboards probe these before issuing queries
    register("/api/v1/status/buildinfo", (ex: HttpExchange) => handle(ex)(_ =>
      s"""{"status":"success","data":{"version":"$Version","revision":"","branch":"",""" +
        s""""buildUser":"","buildDate":"","goVersion":"spark-${spark.version}"}}"""))
    register("/api/v1/status/runtimeinfo", (ex: HttpExchange) => handle(ex)(_ =>
      s"""{"status":"success","data":{"startTime":"${java.time.Instant.ofEpochMilli(startedMs)}",""" +
        s""""CWD":"","reloadConfigSuccess":true,"lastConfigTime":"${java.time.Instant.ofEpochMilli(startedMs)}",""" +
        """"corruptionCount":0,"goroutineCount":0,"GOMAXPROCS":0,"GOGC":"","GODEBUG":"","storageRetention":""}}"""))
    // GET /api/v1/status/config — the live configuration as YAML
    // (vendored api.go:385 serveConfig). The reference answers with an
    // EMPTY config.Config{}; a wired provider answers with the server's
    // real state.
    register("/api/v1/status/config", (ex: HttpExchange) => handle(ex)(_ =>
      s"""{"status":"success","data":{"yaml":${Json.str(configYaml())}}}"""))
    // GET /api/v1/status/walreplay (api.go:390): the parquet store has
    // no WAL — appends and rewrites are atomic-visible via the commit log —
    // so the honest answer is a completed zero-segment replay, the same
    // shape Prometheus reports once its WAL is done.
    register("/api/v1/status/walreplay", (ex: HttpExchange) => handle(ex)(_ =>
      """{"status":"success","data":{"min":0,"max":0,"current":0}}"""))
    // GET /api/v1/status/flags — startup flags verbatim (api.go:388).
    register("/api/v1/status/flags", (ex: HttpExchange) => handle(ex) { _ =>
      val entries = flags.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      s"""{"status":"success","data":${entries.mkString("{", ",", "}")}}"""
    })
    // GET /api/v1/scrape_pools — the configured pool names (api.go:379;
    // the reference's nullTargetRetriever would answer nothing).
    register("/api/v1/scrape_pools", (ex: HttpExchange) => handle(ex) { _ =>
      val pools = scrapeTargets().map(_._1).distinct.sorted
        .map(Json.str).mkString("[", ",", "]")
      s"""{"status":"success","data":{"scrapePools":$pools}}"""
    })
    // GET /api/v1/targets/metadata?metric=&match_target=&limit= — per-
    // target metric metadata from the in-process scrape loop
    // (api.go:381 targetMetadata; metric narrows to one metric and is
    // then omitted from entries, match_target filters on the TARGET's
    // labelset, limit caps the result list).
    register("/api/v1/targets/metadata", (ex: HttpExchange) => handle(ex) { e =>
      val p = params(e)
      val limit = p.get("limit").map(_.toInt).getOrElse(-1)
      val metricQ = p.get("metric").filter(_.nonEmpty)
      val sel = p.get("match_target").filter(_.nonEmpty).map { mt =>
        graft.promql.Parser.parse(mt) match {
          case v: graft.promql.VectorSelector => v
          case _ => throw new IllegalArgumentException(
            "match_target must be a series selector")
        }
      }
      def anchored(v: String, re: String): Boolean =
        java.util.regex.Pattern.matches("(?s)(?:" + re + ")", v)
      def targetOk(labels: Map[String, String]): Boolean = sel.forall { vs =>
        vs.name.forall(n => labels.get("__name__").contains(n)) &&
          vs.matchers.forall { m =>
            val v = labels.getOrElse(m.name, "")
            m.op match {
              case graft.promql.MatchOp.Eq => v == m.value
              case graft.promql.MatchOp.NotEq => v != m.value
              case graft.promql.MatchOp.Re => anchored(v, m.value)
              case graft.promql.MatchOp.NotRe => !anchored(v, m.value)
            }
          }
      }
      var res = targetMetadata()
        .filter(tm => targetOk(tm.target))
        .filter(tm => metricQ.forall(_ == tm.metric))
      if (limit >= 0) res = res.take(limit)
      val items = res.map { tm =>
        val target = tm.target.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}")
        val metricField =
          if (metricQ.isDefined) "" else s""""metric":${Json.str(tm.metric)},"""
        s"""{"target":$target,$metricField"type":${Json.str(tm.mtype)},""" +
          s""""help":${Json.str(tm.help)},"unit":${Json.str(tm.unit)}}"""
      }
      s"""{"status":"success","data":${items.mkString("[", ",", "]")}}"""
    })
    // GET /api/v1/metadata — per-metric type/help, shaped like the
    // vendored API's target-metadata aggregation: one entry list per
    // metric name. Populated from the scrape loop's retained HELP/TYPE
    // lines (empty when the server isn't scraping anything — the
    // reference's nil-retriever behavior).
    // limit= caps the number of metrics, limit_per_metric= the entries
    // per metric, and metric= narrows to one family — the vendored
    // metricMetadata's params (api.go:1221-1243)
    register("/api/v1/metadata", (ex: HttpExchange) => handle(ex) { e =>
      val p = params(e)
      val limit = p.get("limit").map(_.toInt).getOrElse(-1)
      val limitPerMetric = p.get("limit_per_metric").map(_.toInt).getOrElse(-1)
      val metricQ = p.get("metric").filter(_.nonEmpty)
      var ms = metadata().toSeq.sortBy(_._1)
        .filter { case (m, _) => metricQ.forall(_ == m) }
      if (limit >= 0) ms = ms.take(limit)
      // the vendored cap applies only when POSITIVE (api.go:1246 —
      // `limitPerMetric > 0 && …`); 0/negative means unlimited. One
      // entry per metric here, so any positive cap keeps it.
      val entries = ms.map { case (m, (typ, help, unit)) =>
        val one =
          s"""{"type":${Json.str(typ)},"help":${Json.str(help)},"unit":${Json.str(unit)}}"""
        s"${Json.str(m)}:[$one]"
      }
      val _ = limitPerMetric // parsed for validation; see cap note above
      s"""{"status":"success","data":${entries.mkString("{", ",", "}")}}"""
    })
    // GET/POST /api/v1/query_exemplars?query=&start=&end= — the vendored
    // API's exemplar query (web/api/v1/api.go:365): exemplars of series
    // matching the selector within [start, end], from the in-memory
    // exemplar ring the scrape loop fills. Driver-side filtering — the
    // store is capacity-bounded by construction.
    register("/api/v1/query_exemplars", (ex: HttpExchange) => handle(ex) { e =>
      val p = params(e)
      val vs = graft.promql.Parser.parse(p("query")) match {
        case v: graft.promql.VectorSelector => v
        case _ => throw new IllegalArgumentException(
          "query must be a series selector")
      }
      val startMs = p.get("start").map(ms).getOrElse(Long.MinValue)
      val endMs = p.get("end").map(ms).getOrElse(Long.MaxValue)
      def anchored(v: String, re: String): Boolean =
        java.util.regex.Pattern.matches("(?s)(?:" + re + ")", v)
      def matches(name: String, labels: Map[String, String]): Boolean =
        vs.name.forall(_ == name) && vs.matchers.forall { m =>
          val v = if (m.name == "__name__") name else labels.getOrElse(m.name, "")
          m.op match {
            case graft.promql.MatchOp.Eq => v == m.value
            case graft.promql.MatchOp.NotEq => v != m.value
            case graft.promql.MatchOp.Re => anchored(v, m.value)
            case graft.promql.MatchOp.NotRe => !anchored(v, m.value)
          }
        }
      val hits = exemplars()
        .filter(x => x.tMs >= startMs && x.tMs <= endMs &&
          matches(x.name, x.seriesLabels))
      val bySeries = hits.groupBy(x => (x.name, x.seriesLabels)).toSeq
        .sortBy(_._1.toString)
      def ts(ms: Long): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(ms / 1000.0))
      val items = bySeries.map { case ((name, sl), xs) =>
        val series = metricJson(Some(name), sl)
        val exs = xs.sortBy(_.tMs).map { x =>
          val ls = x.labels.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
            .mkString("{", ",", "}")
          s"""{"labels":$ls,"value":${Json.str(Json.num(x.value))},"timestamp":${ts(x.tMs)}}"""
        }
        s"""{"seriesLabels":$series,"exemplars":${exs.mkString("[", ",", "]")}}"""
      }
      s"""{"status":"success","data":${items.mkString("[", ",", "]")}}"""
    })
    // GET/POST /api/v1/format_query?query=<expr> — the vendored API's
    // expression formatter (web/api/v1/api.go:368): parse + print the
    // canonical text (a parser fixpoint, PrinterSpec pins it over the
    // whole golden corpus). Invalid expressions answer 422 with the
    // parse error, like the query routes.
    register("/api/v1/format_query", (ex: HttpExchange) => handle(ex) { e =>
      val formatted = graft.promql.Printer.format(
        graft.promql.Parser.parse(params(e)("query")))
      s"""{"status":"success","data":${Json.str(formatted)}}"""
    })
    // GET /federate?match[]=<selector> — Prometheus's hierarchical-
    // federation endpoint: the CURRENT value of every matching series as
    // a text exposition with explicit timestamps, so an upstream
    // Prometheus (or this engine's own Scrape source) can pull a scoped
    // slice of the store through the standard scrape interface. Instant
    // semantics: newest sample per series within the lookback, exactly
    // the /api/v1/query selector evaluation — and the read is day-pruned
    // to that window via the bounded resolver.
    register("/federate", (ex: HttpExchange) => {
      try {
        val sels = multiParam(paramPairs(ex), "match[]")
        sels match {
          case Seq() =>
            val msg = """{"status":"error","errorType":"bad_data","error":"no match[] parameter provided"}"""
              .getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.sendResponseHeaders(400, msg.length)
            ex.getResponseBody.write(msg)
          case _ =>
            // validate every selector; repeated match[] params UNION
            // (Prometheus federation merges the selector sets; a series
            // matching several appears once — one predicate, one scan)
            sels.foreach { s =>
              graft.promql.Parser.parse(s) match {
                case v: graft.promql.VectorSelector
                  if v.offsetMs == 0 && v.at.isEmpty => ()
                case _ => throw new IllegalArgumentException(
                  "match[] must be a plain series selector")
              }
            }
            val now = System.currentTimeMillis()
            val grid = graft.engine.StepGrid(now, now, 1000L)
            // Selectors.instant directly (not Engine.instantQuery): the
            // federation contract exposes each sample's ORIGINAL
            // timestamp, which the query API's step-stamped output
            // intentionally hides. (Day bounds are grid-driven for an
            // instant eval, so any selector prices the same window.)
            val base0 = ptsFor(sels.head, grid)
            val lc = base0.columns.contains("_lc")
            val filtered = base0.where(
              sels.map(selectorPredicate(_, useLc = lc)).reduce(_ || _))
            val rows = graft.engine.Selectors.instant(filtered, grid,
              lookbackMs,
              seriesDict = Engine.dictFor(filtered, seriesDict()).filter(_ =>
                filtered.columns.contains("sig"))).collect()
            def esc(s: String): String = s.flatMap {
              case '\\' => "\\\\"
              case '"' => "\\\""
              case '\n' => "\\n"
              case c => c.toString
            }
            val lines = rows.toSeq.map { r =>
              val name = Option(r.getAs[String]("name")).getOrElse("")
              val labels = Option(r.getAs[Map[String, String]]("labels"))
                .getOrElse(Map.empty)
              val ls =
                if (labels.isEmpty) ""
                else labels.toSeq.sorted
                  .map { case (k, v) => s"""$k="${esc(v)}"""" }
                  .mkString("{", ",", "}")
              (name + ls,
                s"$name$ls ${Json.num(r.getAs[Double]("value"))} ${r.getAs[Long]("t")}")
            }.sortBy(_._1).map(_._2)
            val body = lines.mkString("", "\n", "\n")
              .getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.set("Content-Type",
              "text/plain; version=0.0.4; charset=utf-8")
            ex.sendResponseHeaders(200, body.length)
            ex.getResponseBody.write(body)
        }
      } catch {
        case e: Throwable =>
          val msg = s"""{"status":"error","error":${Json.str(rootMsg(e))}}"""
            .getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(422, msg.length)
          ex.getResponseBody.write(msg)
      } finally ex.close()
    })
    // GET /health — the reference's load-balancer/BOSH probe endpoint:
    // a bare version/sha JSON, no envelope
    // (src/internal/metric-store/metric_store.go:397,597-614)
    register("/health", (ex: HttpExchange) => handle(ex)(_ =>
      s"""{"version":${Json.str(Version)},"sha":"dev"}"""))
    // GET /metrics — the engine's own operational counters in Prometheus
    // text exposition (the reference runs promhttp on a side server;
    // here the main listener serves it, one port), scrapeable by the
    // engine's own Scrape source — the dogfood loop ServeSpec pins
    register("/metrics", (ex: HttpExchange) => {
      try {
        val bytes = Telemetry.render().getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    // GET /api/v1/status/tsdb — the vendored API's cardinality statistics
    // (web/api/v1/api.go:390,1504-1560): head stats + top-N series counts
    // by metric name / label-name value counts / label-pair series counts
    // / label value bytes. Relational analog over the served store: stats
    // derive from the DISTINCT series (one sig-keyed aggregation), and
    // every list is limit-bounded before collect. chunkCount is 0 — there
    // are no TSM chunks in a parquet store.
    register("/api/v1/status/tsdb", (ex: HttpExchange) => handle(ex)(tsdbStatus))
    register("/api/v1/targets", (ex: HttpExchange) => handle(ex)(_ => {
      val active = scrapeTargets().map { case (job, target) =>
        s"""{"discoveredLabels":{"__address__":${Json.str(target)},"job":${Json.str(job)}},""" +
          s""""labels":{"instance":${Json.str(target)},"job":${Json.str(job)}},""" +
          s""""scrapePool":${Json.str(job)},"scrapeUrl":${Json.str(s"http://$target/metrics")},""" +
          """"health":"unknown"}"""
      }
      s"""{"status":"success","data":{"activeTargets":${active.mkString("[", ",", "]")},"droppedTargets":[]}}"""
    }))
    // Prometheus admin API (vendored web/api/v1/api.go:400-406, behind
    // enableAdmin — here behind adminStore): series deletion, snapshot,
    // tombstone cleaning over the served parquet store
    adminStore.foreach { storeDir =>
      def adminMethod(e: HttpExchange): Boolean =
        e.getRequestMethod.equalsIgnoreCase("POST") ||
          e.getRequestMethod.equalsIgnoreCase("PUT")
      register("/api/v1/admin/tsdb/delete_series", cors = false, h = (ex: HttpExchange) =>
        handleCode(ex) { e =>
          if (!adminMethod(e))
            (405, """{"status":"error","error":"POST or PUT required"}""")
          else {
            val pairs = paramPairs(e)
            val p = pairs.toMap
            multiParam(pairs, "match[]") match {
              case Seq() =>
                (400, """{"status":"error","errorType":"bad_data","error":"no match[] parameter provided"}""")
              case sels =>
                val start = p.get("start").map(ms).getOrElse(Long.MinValue)
                val end = p.get("end").map(ms).getOrElse(Long.MaxValue)
                // repeated selectors delete their UNION; sequential
                // rewrites — the per-day serialization inside
                // deleteSeries keeps each flip atomic
                sels.foreach(sel => graft.sources.PointsStore
                  .deleteSeries(spark, storeDir, sel, start, end))
                (204, "")
            }
          }
        })
      register("/api/v1/admin/tsdb/snapshot", cors = false, h = (ex: HttpExchange) =>
        handleCode(ex) { e =>
          if (!adminMethod(e))
            (405, """{"status":"error","error":"POST or PUT required"}""")
          else {
            val name = graft.sources.PointsStore.snapshot(spark, storeDir)
            (200, s"""{"status":"success","data":{"name":${Json.str(name)}}}""")
          }
        })
      register("/api/v1/admin/tsdb/clean_tombstones", cors = false, h = (ex: HttpExchange) =>
        handleCode(ex) { e =>
          if (!adminMethod(e))
            (405, """{"status":"error","error":"POST or PUT required"}""")
          // deletes are atomic-visible day rewrites — no tombstone state
          // exists; answer like the vendored route does after a clean
          else (204, "")
        })
    }
    // POST /~/reload — the reference's config-reload hook
    // (src/internal/api/reload_api.go): invoke the supplied reload
    // callback (rule files, scrape configs) and answer 200
    register("/~/reload", (ex: HttpExchange) => handleCode(ex) { e =>
      if (e.getRequestMethod.equalsIgnoreCase("POST")) { reloadConfig(); (200, "{}") }
      else (405, s"""{"status":"error","error":"POST required"}""")
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  // ---- handlers --------------------------------------------------------

  private def handle(ex: HttpExchange)(f: HttpExchange => String): Unit =
    handleCode(ex)(e => (200, f(e)))

  private def handleCode(ex: HttpExchange)(f: HttpExchange => (Int, String)): Unit = {
    val (code, body) =
      try f(ex)
      catch {
        case e: Throwable =>
          (422, s"""{"status":"error","errorType":"execution","error":${Json.str(rootMsg(e))}}""")
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (bytes.isEmpty) { ex.sendResponseHeaders(code, -1) }
    else {
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  private def rootMsg(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    Option(c.getMessage).getOrElse(c.toString).split("\n").head
  }

  /** Query-string params, merged with a POST form body when present —
    * Prometheus clients POST application/x-www-form-urlencoded for
    * queries too large for a URL (the vendored web/api/v1 registers every
    * query route for GET and POST); body values win over the URL. */
  /** All (key, value) pairs of the query string + form body, repeats
    * preserved in order — `match[]` is legitimately repeated on the
    * series/label/federate/delete routes (the vendored API unions the
    * selectors). */
  private def paramPairs(ex: HttpExchange): Seq[(String, String)] = {
    def parse(s: String): Seq[(String, String)] =
      s.split("&").toSeq.filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
        }
    val fromUrl = parse(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    val fromBody =
      if (ex.getRequestMethod.equalsIgnoreCase("POST") &&
        Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-www-form-urlencoded")))
        parse(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      else Nil
    fromUrl ++ fromBody
  }

  private def params(ex: HttpExchange): Map[String, String] =
    paramPairs(ex).toMap

  /** Every value of a repeated parameter, in arrival order. NOTE: reads
    * the body — call at most once per request alongside [[params]] only
    * for GET routes, or derive both from one [[paramPairs]] call. */
  private def multiParam(pairs: Seq[(String, String)], key: String): Seq[String] =
    pairs.collect { case (k, v) if k == key => v }

  /** Prometheus times are unix seconds (fractional allowed). */
  private def ms(s: String): Long = (s.toDouble * 1000).toLong

  private def instant(ex: HttpExchange): String = {
    val p = params(ex)
    val ts = ms(p.getOrElse("time", (System.currentTimeMillis() / 1000.0).toString))
    guarded(p("query"), graft.engine.StepGrid(ts, ts, 1000L),
      requestTimeoutMs(p))(instantBody(p, ts, _))
  }

  private def instantBody(p: Map[String, String], ts: Long,
                          tally: Option[org.apache.spark.util.LongAccumulator]): String = {
    val t0 = System.nanoTime()
    val out = Engine.instantQuery(spark,
      ptsFor(p("query"), graft.engine.StepGrid(ts, ts, 1000L)), p("query"), ts,
      lookbackMs, sampleTally = tally, seriesDict = seriesDict())
    val t1 = System.nanoTime()
    def stats(t2: Long) = statsJson(p, (t1 - t0) / 1e9, (t2 - t1) / 1e9, tally)
    if (out.columns.contains("step")) {
      // a bare range selector (`m[5m]`) evaluates to a Matrix even via the
      // instant endpoint — resultType "matrix" with per-series value lists
      // (the reference returns Matrix from engine.exec for these)
      val rows = out.collect()
      envelope("matrix", matrixJson(rows), stats(System.nanoTime()))
    } else if (out.columns.contains("labels")) {
      val collected = out.collect()
      val rows = collected.map { r =>
        val metric = metricJson(Option(r.getAs[String]("name")), r.getAs[Map[String, String]]("labels"))
        s"""{"metric":$metric,"value":${sample(r.getAs[Long]("t"), r.getAs[Double]("value"))}}"""
      }
      envelope("vector", rows.mkString("[", ",", "]"), stats(System.nanoTime()))
    } else {
      val r = out.collect().head
      envelope("scalar", sample(r.getAs[Long]("t"), r.getAs[Double]("value")),
        stats(System.nanoTime()))
    }
  }

  /** Matrix items: one entry per series, values sorted by sample time. */
  private def matrixJson(rows: Array[org.apache.spark.sql.Row]): String = {
    val bySeries = rows.groupBy(r =>
      (Option(r.getAs[String]("name")), r.getAs[Map[String, String]]("labels")))
    bySeries.toSeq.sortBy(_._1.toString).map { case ((name, labels), rs) =>
      val vals = rs.sortBy(_.getAs[Long]("t"))
        .map(r => sample(r.getAs[Long]("t"), r.getAs[Double]("value")))
      s"""{"metric":${metricJson(name, labels)},"values":${vals.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
  }

  private def queryRange(ex: HttpExchange): String = {
    val p = params(ex)
    val (start, end, step) = (ms(p("start")), ms(p("end")), ms(p("step")))
    guarded(p("query"), graft.engine.StepGrid(start, math.max(start, end), step),
      requestTimeoutMs(p))(queryRangeBody(p, start, end, step, _))
  }

  private def queryRangeBody(p: Map[String, String], start: Long, end: Long,
                             step: Long,
                             tally: Option[org.apache.spark.util.LongAccumulator]): String = {
    val t0 = System.nanoTime()
    val out = Engine.rangeQuery(spark,
      ptsFor(p("query"), graft.engine.StepGrid(start, math.max(start, end), step)),
      p("query"), start, end, step, lookbackMs,
      sampleTally = tally, seriesDict = seriesDict())
    val t1 = System.nanoTime()
    val rows = out.collect()
    val stats = statsJson(p, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, tally)
    if (out.columns.contains("labels")) {
      envelope("matrix", matrixJson(rows), stats)
    } else {
      val vals = rows.sortBy(_.getAs[Long]("t"))
        .map(r => sample(r.getAs[Long]("t"), r.getAs[Double]("value")))
      envelope("matrix", s"""[{"metric":{},"values":${vals.mkString("[", ",", "]")}}]""",
        stats)
    }
  }

  /** Optional start/end/match[] restriction for the label APIs (the
    * vendored web/api/v1 accepts all three; absent params mean the full
    * store). */
  /** One `match[]` selector as a row predicate (name equality pushed +
    * the matcher conjunction; `useLc` routes equality matchers through
    * the persisted canonical-string rewrite). */
  private def selectorPredicate(sel: String, useLc: Boolean = false)
      : org.apache.spark.sql.Column = {
    val vs = graft.promql.Parser.parse(sel) match {
      case v: graft.promql.VectorSelector => v
      case _ => throw new IllegalArgumentException("match[] must be a selector")
    }
    vs.name.map(n => col("name") === n).getOrElse(lit(true)) &&
      graft.engine.Compiler.matcherFilter(vs.matchers, useLc = useLc)
  }

  private def labelScope(p: Map[String, String], sels: Seq[String]) = {
    val bounded = (p.get("start"), p.get("end")) match {
      case (None, None) => pts
      case (s, e) =>
        // partition-level pruning via the bounded resolver, then the
        // exact t bounds on top
        ptsBounded(ms(s.getOrElse("0")),
          e.map(ms).getOrElse(Long.MaxValue)).where(
          col("t") >= ms(s.getOrElse("0")) &&
            col("t") <= ms(e.getOrElse((System.currentTimeMillis() / 1000.0).toString)))
    }
    // repeated match[] selectors UNION (vendored labelNames: the series
    // sets of all selectors merge)
    if (sels.isEmpty) bounded
    else {
      val lc = bounded.columns.contains("_lc")
      bounded.where(sels.map(selectorPredicate(_, useLc = lc)).reduce(_ || _))
    }
  }

  /** All label names across the (scoped) store, __name__ included
    * (reference fan-out analog: replicated_querier.go:214-283). */
  private def labels(ex: HttpExchange): String = {
    val pairs = paramPairs(ex)
    val scoped = labelScope(pairs.toMap, multiParam(pairs, "match[]"))
    val names = scoped.select(explode(map_keys(col("labels"))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted
    s"""{"status":"success","data":${Json.arr(("__name__" +: names.toSeq).distinct.sorted)}}"""
  }

  private def labelValues(ex: HttpExchange): String = {
    val path = ex.getRequestURI.getPath // /api/v1/label/<name>/values
    val label = path.stripPrefix("/api/v1/label/").stripSuffix("/values")
    val pairs = paramPairs(ex)
    val scoped = labelScope(pairs.toMap, multiParam(pairs, "match[]"))
    val vals =
      if (label == "__name__")
        scoped.select(col("name")).where(col("name").isNotNull).distinct()
          .collect().map(_.getString(0))
      else
        scoped.select(element_at(col("labels"), label).as("v"))
          .where(col("v").isNotNull).distinct().collect().map(_.getString(0))
    s"""{"status":"success","data":${Json.arr(vals.sorted.toSeq)}}"""
  }

  private def tsdbStatus(ex: HttpExchange): String = {
    val limit = params(ex).get("limit").map(_.toInt).getOrElse(10)
    require(limit >= 1, "limit must be a positive number")
    val p = pts
    // one series-level relation drives every statistic; the label-pair
    // explode includes __name__ (a label in the reference's index)
    val series = p.groupBy(col("sig"))
      .agg(first(col("name")).as("name"), first(col("labels")).as("labels"))
    val pairs = series
      .select(col("sig"), explode(col("labels")).as(Seq("k", "v")))
      .unionByName(series.where(col("name").isNotNull)
        .select(col("sig"), lit("__name__").as("k"), col("name").as("v")))
    val head = p.agg(
      countDistinct(col("sig")).as("n"),
      min(col("t")).as("lo"), max(col("t")).as("hi")).head()
    val nPairs = pairs.select(countDistinct(struct(col("k"), col("v")))).head().getLong(0)
    def stats(df: DataFrame): String = df.limit(limit).collect().map(r =>
      s"""{"name":${Json.str(r.getString(0))},"value":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    val byMetric = stats(series.where(col("name").isNotNull)
      .groupBy(col("name")).agg(countDistinct(col("sig")).as("value"))
      .orderBy(col("value").desc, col("name")))
    val valuesByLabel = stats(pairs.groupBy(col("k"))
      .agg(countDistinct(col("v")).as("value"))
      .orderBy(col("value").desc, col("k")))
    val bytesByLabel = stats(pairs.select(col("k"), col("v")).distinct()
      .groupBy(col("k")).agg(sum(length(col("v"))).cast("long").as("value"))
      .orderBy(col("value").desc, col("k")))
    val byPair = stats(pairs
      .select(concat(col("k"), lit("="), col("v")).as("pair"), col("sig"))
      .groupBy(col("pair")).agg(countDistinct(col("sig")).as("value"))
      .orderBy(col("value").desc, col("pair")))
    val (lo, hi) =
      if (head.isNullAt(1)) (0L, 0L)
      else (head.getLong(1), head.getLong(2))
    s"""{"status":"success","data":{"headStats":{"numSeries":${head.getLong(0)},""" +
      s""""chunkCount":0,"minTime":$lo,"maxTime":$hi,"numLabelPairs":$nPairs},""" +
      s""""seriesCountByMetricName":$byMetric,""" +
      s""""labelValueCountByLabelName":$valuesByLabel,""" +
      s""""memoryInBytesByLabelName":$bytesByLabel,""" +
      s""""seriesCountByLabelValuePair":$byPair}}"""
  }

  private def series(ex: HttpExchange): String = {
    val pairs = paramPairs(ex)
    val p = pairs.toMap
    val sels0 = multiParam(pairs, "match[]") ++ multiParam(pairs, "match%5B%5D")
    val sels = if (sels0.isEmpty) Seq("{}") else sels0
    val (start, end) = (ms(p.getOrElse("start", "0")),
      ms(p.getOrElse("end", (System.currentTimeMillis() / 1000.0).toString)))
    // repeated match[] selectors UNION; a series matching several
    // selectors appears once (the sig dedup below)
    val bounded = pts.where(col("t") >= start && col("t") <= end)
    val lc = bounded.columns.contains("_lc")
    val named = bounded
      .where(sels.map(selectorPredicate(_, useLc = lc)).reduce(_ || _))
    // distinct on a MapType column is unsupported — dedup on the series sig
    val rows = named
      .groupBy(graft.model.Points.sigOf(col("name"), col("labels")).as("_s"))
      .agg(first(col("name")).as("name"), first(col("labels")).as("labels"))
      .collect()
      .map(r => metricJson(Option(r.getAs[String]("name")), r.getAs[Map[String, String]]("labels")))
      .sorted
    s"""{"status":"success","data":${rows.mkString("[", ",", "]")}}"""
  }

  // ---- JSON ------------------------------------------------------------

  private def envelope(resultType: String, result: String,
                       stats: Option[String] = None): String =
    s"""{"status":"success","data":{"resultType":"$resultType","result":$result""" +
      stats.map(s => s""","stats":$s""").getOrElse("") + "}}"

  /** `?stats=` query statistics (the vendored web/api/v1 `stats` param →
    * util/stats.QueryStats): timings decomposed into plan construction
    * vs distributed evaluation+collect, and — when the guards' in-scan
    * TallySamples meter ran — the queryable-sample count it metered.
    * Honest subset: phases Spark doesn't have (sort, queue) report 0. */
  private def statsJson(p: Map[String, String], prepSec: Double, evalSec: Double,
                        tally: Option[org.apache.spark.util.LongAccumulator])
      : Option[String] =
    p.get("stats").filter(_.nonEmpty).map { _ =>
      val samples = tally.map(t =>
        s""","samples":{"totalQueryableSamples":${t.value},"peakSamples":${t.value}}""")
        .getOrElse("")
      s"""{"timings":{"evalTotalTime":${Json.num(prepSec + evalSec)},""" +
        s""""resultSortTime":0,"queryPreparationTime":${Json.num(prepSec)},""" +
        s""""innerEvalTime":${Json.num(evalSec)},"execQueueTime":0,""" +
        s""""execTotalTime":${Json.num(prepSec + evalSec)}}$samples}"""
    }

  /** Prometheus sample: [unixSeconds, "value"]. */
  private def sample(tMs: Long, v: Double): String = {
    val ts = if (tMs % 1000 == 0) (tMs / 1000).toString else (tMs / 1000.0).toString
    s"""[$ts,${Json.str(Json.num(v))}]"""
  }

  private def metricJson(name: Option[String], labels: Map[String, String]): String = {
    val all = name.filter(_.nonEmpty).map(n => Map("__name__" -> n)).getOrElse(Map.empty) ++
      Option(labels).getOrElse(Map.empty)
    all.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
  }
}

private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Go-style shortest float formatting for sample values. */
  def num(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    else if (v == v.toLong.toDouble && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}
