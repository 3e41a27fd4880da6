package graft

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.sources.PointsStore

/** The runnable SERVER entry point — what the reference ships as its
  * `metric-store` binary (src/cmd/metric-store/main.go: build config from
  * env, start the store + API, block): serve the full /api/v1 surface
  * over a live parquet points store, with ingestion (remote-write
  * receiver), background compaction + retention, the reference's query
  * guards, the crash-surviving active-query log, and optional TLS/bearer
  * transport security.
  *
  * Usage:
  *   sbt "runMain graft.Serve --store /data/points --port 8080"
  * Flags (all but --store optional):
  *   --port N                 listen port (default 8080)
  *   --lookback-ms N          instant-selector lookback (default 300000)
  *   --retention-ms N         drop day partitions older than now-N on the
  *                            maintenance tick (default: keep forever)
  *   --maintenance-ms N       compaction/retention tick (default 600000)
  *   --tls-cert F --tls-key F serve HTTPS from PEM files
  *   --client-ca F            require client certificates (mutual TLS)
  *   --bearer-token-file F    require `Authorization: Bearer <token>`
  *   --scrape-targets a,b     host:port expositions to scrape in-process
  *                            into the store (reference: the scrape
  *                            manager runs inside the store process —
  *                            src/internal/scraping/scraper.go)
  *   --scrape-interval-ms N   scrape tick (default 15000)
  *   --enable-admin           serve the admin API (delete_series /
  *                            snapshot / clean_tombstones), like
  *                            Prometheus --web.enable-admin-api
  *
  * The served points relation and series dictionary are PROVIDERS —
  * re-resolved per request — so queries see every append and every
  * compaction flip immediately (a captured DataFrame would snapshot the
  * file listing at startup).
  */
object Serve {

  final case class Config(
      storeDir: String,
      port: Int = 8080,
      lookbackMs: Long = 300000L,
      retentionMs: Option[Long] = None,
      maintenanceMs: Long = 600000L,
      tls: Option[HttpApi.ServerTls] = None,
      bearerToken: Option[String] = None,
      /** `host:port` exposition targets to scrape in-process — the
        * reference runs its scrape manager inside the store process
        * (src/internal/scraping/scraper.go applies the configs to the
        * prometheus scrape manager feeding the store); here each tick
        * scrapes every target's /metrics, appends the points to the
        * served store, and retains HELP/TYPE/UNIT for
        * /api/v1/metadata. */
      scrapeTargets: Seq[String] = Nil,
      scrapeIntervalMs: Long = 15000L,
      /** Enable the Prometheus admin API (delete_series / snapshot /
        * clean_tombstones) on the served store — off by default, like
        * Prometheus's --web.enable-admin-api. */
      enableAdmin: Boolean = false)

  final case class Handle(api: HttpApi, port: Int,
                          maintenance: java.util.concurrent.ScheduledExecutorService) {
    def stop(): Unit = { maintenance.shutdownNow(); api.stop() }
  }

  /** Start the server; returns a handle (the spec's surface — `main`
    * blocks on it). */
  def start(spark: SparkSession, cfg: Config): Handle = {
    // crash forensics: leftover entries name the queries a previous
    // process died executing (reference query_logger semantics)
    val leftovers = graft.engine.Guards.enableQueryLog(
      s"${cfg.storeDir}/_querylog")
    leftovers.foreach(q => System.err.println(
      s"[serve] crashed while executing: ${q.description} (started ${q.startedMs})"))
    val scrapeMeta = new graft.sources.Scrape.MetadataStore
    val scrapeExemplars = new graft.sources.Scrape.ExemplarStore()
    // per-target metadata retention for /api/v1/targets/metadata — the
    // global MetadataStore can't say WHICH target exposed a metric
    val targetMeta = new java.util.concurrent.ConcurrentHashMap[
      String, graft.sources.Scrape.MetadataStore]()
    val api = new HttpApi(spark,
      points = PointsStore.read(spark, cfg.storeDir, Long.MinValue, Long.MaxValue),
      lookbackMs = cfg.lookbackMs,
      limits = Some(graft.engine.Guards.QueryLimits()),
      seriesDict = () => PointsStore.readDict(spark, cfg.storeDir),
      writeSink = Some(df => PointsStore.append(df, cfg.storeDir)),
      tls = cfg.tls,
      bearerToken = cfg.bearerToken,
      scrapeTargets = () => cfg.scrapeTargets.map(t => ("serve", t)),
      metadata = () => scrapeMeta.snapshot,
      adminStore = if (cfg.enableAdmin) Some(cfg.storeDir) else None,
      exemplars = () => scrapeExemplars.all,
      // remote-written exemplars land in the same ring the scraper fills
      exemplarSink = Some(scrapeExemplars.add),
      // remote-written metadata lands in the same store the scraper fills
      metadataSink = Some(scrapeMeta.put),
      pointsProvider = Some(() =>
        PointsStore.read(spark, cfg.storeDir, Long.MinValue, Long.MaxValue)),
      // per-query day pruning: every query's read is bounded to the
      // union of its selector windows, so a year-deep store serves a
      // one-hour dashboard query from the touched day(s) only
      pointsRange = Some((lo, hi) => PointsStore.read(spark, cfg.storeDir, lo, hi)),
      // the honest status surface: the reference answers these routes
      // with empty config / null retrievers (prom_api.go wires
      // config.Config{} and nullTargetRetriever); here they serve the
      // server's REAL state
      configYaml = () => renderConfigYaml(cfg),
      flags = Map(
        "store" -> cfg.storeDir,
        "port" -> cfg.port.toString,
        "lookback-ms" -> cfg.lookbackMs.toString,
        "retention-ms" -> cfg.retentionMs.map(_.toString).getOrElse(""),
        "maintenance-ms" -> cfg.maintenanceMs.toString,
        "scrape-targets" -> cfg.scrapeTargets.mkString(","),
        "scrape-interval-ms" -> cfg.scrapeIntervalMs.toString,
        "enable-admin" -> cfg.enableAdmin.toString,
        "tls" -> cfg.tls.isDefined.toString,
        "bearer-auth" -> cfg.bearerToken.isDefined.toString),
      targetMetadata = () => {
        import scala.jdk.CollectionConverters._
        targetMeta.asScala.toSeq.sortBy(_._1).flatMap { case (target, store) =>
          store.snapshot.toSeq.sortBy(_._1).map { case (metric, (typ, help, unit)) =>
            HttpApi.TargetMetadata(
              Map("instance" -> target, "job" -> "serve"),
              metric, typ, help, unit)
          }
        }
      })
    // self-telemetry gauges over the served store, scraped at /metrics
    // (reference registrar names: metrics.go MetricStoreStorageDays /
    // SeriesCount / MeasurementsCount). storage_days is a directory
    // listing (free); the dictionary counts cost one tiny Spark job over
    // the series-sized sidecar, memoized for a minute so a 15 s scrape
    // interval doesn't re-run it.
    graft.api.Telemetry.gauge("metric_store_storage_days",
      "Day partitions on disk")(() => {
      val root = new org.apache.hadoop.fs.Path(cfg.storeDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) 0.0
      else fs.listStatus(root).count(s =>
        s.isDirectory && s.getPath.getName.startsWith("date=")).toDouble
    })
    graft.api.Telemetry.gauge("metric_store_series_count",
      "Live series in the dictionary sidecar")(
      graft.api.Telemetry.cached(60000L)(() =>
        PointsStore.readDict(spark, cfg.storeDir)
          .map(_.count().toDouble).getOrElse(0.0)))
    graft.api.Telemetry.gauge("metric_store_measurements_count",
      "Distinct metric names in the dictionary sidecar")(
      graft.api.Telemetry.cached(60000L)(() =>
        PointsStore.readDict(spark, cfg.storeDir)
          .map(_.select("name").distinct().count().toDouble).getOrElse(0.0)))
    val boundPort = api.start(cfg.port)
    // maintenance tick: fragmentation-triggered compaction (cheap no-op
    // below threshold) + retention drops — the reference's background
    // compactor/retention enforcer
    val sched = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "graft-serve-maintenance"); t.setDaemon(true); t })
    sched.scheduleWithFixedDelay(() => {
      try {
        PointsStore.maybeCompact(spark, cfg.storeDir)
        cfg.retentionMs.foreach(r =>
          PointsStore.expire(spark, cfg.storeDir, System.currentTimeMillis() - r))
      } catch { case e: Throwable =>
        System.err.println(s"[serve] maintenance tick failed: ${failureLine(e)}")
      }
    }, cfg.maintenanceMs, cfg.maintenanceMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    // in-process scraper (reference: scraping/scraper.go wires the scrape
    // manager into the store process): every interval, pull each target's
    // /metrics, retain metadata, append the samples to the served store.
    // A failing target skips a tick, never kills the loop.
    if (cfg.scrapeTargets.nonEmpty) {
      val fetch0 = scrapeExemplars.recording(
        scrapeMeta.recording(graft.sources.Scrape.httpFetch()))
      val fetch = (target: String) => {
        val body = fetch0(target)
        targetMeta.computeIfAbsent(target,
          _ => new graft.sources.Scrape.MetadataStore).record(body)
        body
      }
      sched.scheduleWithFixedDelay(() => {
        try {
          val pts = graft.sources.Scrape.scrapeTargets(
            spark, cfg.scrapeTargets, fetch, System.currentTimeMillis())
          PointsStore.append(pts, cfg.storeDir)
        } catch { case e: Throwable =>
          System.err.println(s"[serve] scrape tick failed: ${failureLine(e)}")
        }
      }, cfg.scrapeIntervalMs, cfg.scrapeIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    Handle(api, boundPort, sched)
  }

  /** A failed background tick on one line: the exception's class and
    * message, then its root cause's, so an exception without a message
    * still says what failed. */
  private[graft] def failureLine(e: Throwable): String = {
    def one(t: Throwable) =
      Option(t.getMessage).fold(t.getClass.getName)(m => s"${t.getClass.getName}: $m")
    // bounded: a cause chain can loop
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq.last
    if (root eq e) one(e) else s"${one(e)}; root cause: ${one(root)}"
  }

  /** The live config as Prometheus-style YAML for /api/v1/status/config
    * — scrape settings in the standard scrape_configs shape, the
    * engine's own knobs under a clearly-named vendor section (YAML a
    * Prometheus operator reads at a glance, honest about what this
    * server actually runs). */
  private[graft] def renderConfigYaml(cfg: Config): String = {
    def dur(ms: Long): String = if (ms % 1000 == 0) s"${ms / 1000}s" else s"${ms}ms"
    val sb = new StringBuilder
    sb ++= "global:\n"
    sb ++= s"  scrape_interval: ${dur(cfg.scrapeIntervalMs)}\n"
    sb ++= s"  query_lookback_delta: ${dur(cfg.lookbackMs)}\n"
    if (cfg.scrapeTargets.nonEmpty) {
      sb ++= "scrape_configs:\n"
      sb ++= "  - job_name: serve\n"
      sb ++= "    static_configs:\n"
      sb ++= "      - targets:\n"
      cfg.scrapeTargets.foreach(t => sb ++= s"          - ${t}\n")
    } else sb ++= "scrape_configs: []\n"
    sb ++= "storage:\n"
    sb ++= s"  store_dir: ${cfg.storeDir}\n"
    cfg.retentionMs.foreach(r => sb ++= s"  retention: ${dur(r)}\n")
    sb ++= s"  maintenance_interval: ${dur(cfg.maintenanceMs)}\n"
    sb ++= s"web:\n  port: ${cfg.port}\n"
    sb ++= s"  enable_admin_api: ${cfg.enableAdmin}\n"
    sb.result()
  }

  private def parse(args: Array[String]): Config = {
    var cfg = Config(storeDir = null)
    var cert: Option[String] = None
    var key: Option[String] = None
    var ca: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--store" => cfg = cfg.copy(storeDir = args(i + 1)); i += 2
        case "--port" => cfg = cfg.copy(port = args(i + 1).toInt); i += 2
        case "--lookback-ms" => cfg = cfg.copy(lookbackMs = args(i + 1).toLong); i += 2
        case "--retention-ms" => cfg = cfg.copy(retentionMs = Some(args(i + 1).toLong)); i += 2
        case "--maintenance-ms" => cfg = cfg.copy(maintenanceMs = args(i + 1).toLong); i += 2
        case "--scrape-targets" =>
          cfg = cfg.copy(scrapeTargets = args(i + 1).split(",").toSeq.filter(_.nonEmpty))
          i += 2
        case "--scrape-interval-ms" =>
          cfg = cfg.copy(scrapeIntervalMs = args(i + 1).toLong); i += 2
        case "--enable-admin" => cfg = cfg.copy(enableAdmin = true); i += 1
        case "--tls-cert" => cert = Some(args(i + 1)); i += 2
        case "--tls-key" => key = Some(args(i + 1)); i += 2
        case "--client-ca" => ca = Some(args(i + 1)); i += 2
        case "--bearer-token-file" =>
          cfg = cfg.copy(bearerToken = Some(new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(i + 1))),
            java.nio.charset.StandardCharsets.UTF_8).trim))
          i += 2
        case other => throw new IllegalArgumentException(s"unknown flag $other")
      }
    }
    require(cfg.storeDir != null, "--store is required")
    (cert, key) match {
      case (Some(c), Some(k)) => cfg.copy(tls = Some(HttpApi.ServerTls(c, k, ca)))
      case (None, None) => cfg
      case _ => throw new IllegalArgumentException("--tls-cert and --tls-key go together")
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    // SPARK_MASTER points a deployment at a cluster; local otherwise
    val builder = GraftSession.builder()
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val handle = start(spark, cfg)
    println(s"""{"serving":"${if (cfg.tls.isDefined) "https" else "http"}","port":${handle.port},"store":"${cfg.storeDir}"}""")
    // block until killed; the shutdown hook stops cleanly
    sys.addShutdownHook { handle.stop(); spark.stop() }
    Thread.currentThread().join()
  }
}
