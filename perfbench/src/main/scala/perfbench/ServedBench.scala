package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Serve
import graft.sources.PointsStore

/** Served-path benchmark: starts the real server in process with
  * `Serve.start`, drives it over loopback HTTP with closed-loop clients,
  * checks every answer against its closed form, and prints one JSON result
  * line. With `--trace 1` it instead replays the workload's requests one at
  * a time and prints the per-layer split.
  *
  * Usage: ServedBench --workload dashboard|long_range|ingest_mixed|ingest_contended
  *   --seed N --seconds S --trace 0|1 --work DIR [--series N]
  *   [--wrong-expect 0|1] [--commit SHA]
  */
object ServedBench {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", series: Int = 32,
                        wrongExpect: Boolean = false, commit: String = "unknown")

  /** Compaction tick of the served store. Short enough that ingest_mixed
    * sees several compaction cycles per run; the same for every workload,
    * so all workloads time one server configuration. */
  val MaintenanceMs = 2000L
  /** Set-ups per timed run, each on a fresh directory; `setup_s` is their
    * median. The first is the JVM's cold one. */
  val Setups = 2
  val LookbackMs = 300000L
  /** Share of a read workload's measured seconds given to the write probe:
    * single-client remote writes on the idle server, after the reads. */
  val ProbeShare = 0.35

  def parse(argv: Array[String]): Args = argv.toList.sliding(2, 2).foldLeft(Args()) {
    case (a, List("--workload", v)) => a.copy(workload = v)
    case (a, List("--seed", v)) => a.copy(seed = v.toLong)
    case (a, List("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, List("--trace", v)) => a.copy(trace = v == "1")
    case (a, List("--work", v)) => a.copy(work = v)
    case (a, List("--series", v)) => a.copy(series = v.toInt)
    case (a, List("--wrong-expect", v)) => a.copy(wrongExpect = v == "1")
    case (a, List("--commit", v)) => a.copy(commit = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("dashboard", "long_range", "ingest_mixed", "ingest_contended")(a.workload), s"unknown workload ${a.workload}")
    require(a.work.nonEmpty, "--work is required")
    val cpus = Runtime.getRuntime.availableProcessors()
    // the confs of Serve.main, with local[nproc] and nproc shuffle partitions
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try { new Run(spark, a, cpus).apply(); true }
    catch { case e: Throwable => e.printStackTrace(); false }
    finally spark.stop()
    // the HTTP server's dispatcher is not a daemon thread: exit explicitly
    sys.exit(if (ok) 0 else 1)
  }

  /** The week store as a points relation, computed on the executors. */
  def weekPoints(spark: SparkSession, store: WeekStore, parts: Int): DataFrame = {
    val s = (col("id") / store.Minutes).cast("int")
    val m = col("id") % store.Minutes
    graft.model.Points.withSig(spark.range(0L, store.points, 1L, parts).select(
      lit(store.Name).as("name"),
      map(lit("job"), lit("bench"),
        lit("instance_id"), concat(lit("i"), (s % 16).cast("string")),
        lit("series"), concat(lit("s"), s.cast("string"))).as("labels"),
      (lit(store.t0) + m * 60000L).as("t"),
      (m * (s % 5 + 1)).cast("double").as("value")))
  }
}

final class Run(spark: SparkSession, a: ServedBench.Args, cpus: Int) {
  import ServedBench._

  private val Day = 86400000L
  /** 2024-01-01T00:00Z shifted by the seed, so each seed stores other timestamps. */
  private val store = WeekStore(1704067200000L + Math.floorMod(a.seed, 28L) * Day, a.series)
  private val feed = IngestFeed(store.tEnd + 3600000L)
  private val ingestDay = (store.tEnd, store.tEnd + Day - 1)
  private val ledger = new Ledger(feed)
  private val seedRnd = (i: Int) => new java.util.Random(a.seed * 1000003L + i)
  private var dir: String = _
  private var server: Serve.Handle = _
  private var http: Http = _

  /** Builds the store (append, then compact) and starts the server on it. */
  private def setUp(i: Int, maintenanceMs: Long): Double = {
    dir = s"${a.work}/store-$i"
    val t0 = System.nanoTime()
    PointsStore.append(weekPoints(spark, store, cpus), dir)
    PointsStore.compact(spark, dir)
    server = Serve.start(spark, Serve.Config(storeDir = dir, port = 0, maintenanceMs = maintenanceMs))
    val s = (System.nanoTime() - t0) / 1e9
    http = new Http(server.port)
    s
  }

  /** Stops the server and waits for a maintenance pass in flight. */
  private def stopServer(): Unit = {
    server.stop()
    server.maintenance.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def tearDown(): Unit = {
    stopServer()
    deleteTree(java.nio.file.Paths.get(dir))
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    } finally s.close()
  }

  private val ingest = a.workload.startsWith("ingest_")
  /** `ingest_mixed` has one remote-write shard, so writes reach the server
    * one at a time: concurrent appends race on the store's shared
    * `_temporary` directory and fail or lose samples (README, "Defects it
    * surfaces"). `ingest_contended` is the same load with two shards, the
    * hand run that shows the race. */
  private val shards = if (a.workload == "ingest_contended") Seq("s0", "s1") else Seq("s0")
  private val batchNo = scala.collection.mutable.Map.empty[String, Int]
  private def nextBatch(shard: String): Int = synchronized {
    val b = batchNo.getOrElse(shard, 0); batchNo(shard) = b + 1; b
  }

  private def sendWrite(shard: String): Op = {
    val b = nextBatch(shard)
    val body = feed.body(shard, b)
    ledger.sentUpTo(shard, b)
    val op = http.write(body, feed.samplesPerBatch)
    if (!op.failed) ledger.ack(shard, b)
    op
  }

  /** Query `i` of a read workload's shape cycle, from a client's mix. */
  private def readQuery(mix: Mix, i: Int): Query =
    if (a.workload == "dashboard") mix.dashboard(i) else mix.longRange(i)

  private def newMix(stream: Int) = new Mix(store, seedRnd(stream), a.wrongExpect)

  private val alertRnd = seedRnd(77)
  /** An alert query a fresh fraction of a tick past the ingest frontier;
    * before every shard has an acknowledged batch there is nothing to ask. */
  private def alert(i: Int, shardsNow: Seq[String]): Option[Query] =
    ledger.frontier(shardsNow).map { f =>
      val jitter = alertRnd.synchronized(1 + alertRnd.nextInt(feed.tickMs.toInt - 1))
      ledger.alertQuery(i, f + jitter, shardsNow, a.wrongExpect)
    }

  /** Sends alert `i`, or waits a moment when there is nothing to ask yet. */
  private def sendAlert(i: Int, shardsNow: Seq[String]): Option[Op] =
    alert(i, shardsNow).map(http.query).orElse { Thread.sleep(50); None }

  /** One round of every query shape from parallel clients; for the ingest
    * workloads one round of writes, then one of alerts. The timed phase then
    * starts on warm code paths. */
  private def warmUp(): Seq[Op] =
    if (ingest) {
      val w = ClosedLoop.once(shards.map(sh => () => Option(sendWrite(sh)))).flatten
      w ++ ClosedLoop.once((0 until 2).map(i => () => sendAlert(i, shards))).flatten
    } else
      ClosedLoop.once((0 until 4).map { i => val mix = newMix(90 + i); () => Option(http.query(readQuery(mix, i))) }).flatten

  /** Reads the ingested metric back. Every acknowledged sample must be
    * there: batches missing samples were lost after their acknowledgement
    * (the concurrent-append race) and count as failed writes. Any stored
    * value that differs from its closed form is a wrong answer. */
  private def readBack(): (Set[(String, Int)], Seq[String]) = {
    val acked = ledger.ackedBatches
    if (acked.isEmpty) return (Set.empty, Nil)
    val rows = PointsStore.read(spark, dir, ingestDay._1, Long.MaxValue)
      .where(col("name") === feed.Name)
      .select(col("labels"), col("t"), col("value")).collect()
    val got = rows.map(r => (r.getMap[String, String](0).toMap, r.getLong(1)) -> r.getDouble(2)).toMap
    val lost = (for {
      (sh, bs) <- acked.toSeq; b <- bs; (labels, samples) <- feed.batch(sh, b); (t, _) <- samples
      if !got.contains((labels - "__name__", t))
    } yield (sh, b)).toSet
    val bad = got.collect { case ((l, t), v) if !l.get("series").exists(s =>
      Check.close(v, feed.value(s.drop(1).toInt, t))) => s"$l @ $t holds $v" }.toSeq
    lost.toSeq.sorted.take(3).foreach { case (sh, b) =>
      System.err.println(s"[perfbench] failure: acknowledged batch $b of shard $sh did not read back in full") }
    (lost, bad)
  }

  private def liveBytes(): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue).inputFiles ++
      PointsStore.readDict(spark, dir).map(_.inputFiles).getOrElse(Array.empty[String])
    files.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
  }

  private def diskBytes(): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally s.close()
  }

  /** The JVM's peak RSS (VmHWM), in MB. */
  private def rssHwmMb(): Double = {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")), "UTF-8")
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  }

  /** The heap is fixed and pre-touched (run.py), so it is resident from the
    * start; its committed size, in MB. */
  private def heapMb(): Double = Runtime.getRuntime.totalMemory / 1048576.0

  private def compactions(): Double =
    http.get("/metrics").linesIterator.find(_.startsWith("graft_store_compactions_total "))
      .map(_.split(" ")(1).toDouble).getOrElse(0.0)

  private def context(extra: Seq[(String, String)]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    (Seq("workload" -> q(a.workload), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "nproc" -> cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576L).toString,
      "spark_version" -> q(spark.version), "commit" -> q(a.commit),
      "series" -> store.series.toString, "week_points" -> store.points.toString,
      "maintenance_ms" -> MaintenanceMs.toString) ++ extra)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{\"context\":{", ",", "}}")
  }

  private def metric(name: String, value: Double, unit: String): String =
    s""""$name":{"value":$value,"unit":"$unit"}"""

  private def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[String]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metrics.mkString(",")}}}"""

  private def report(ops: Seq[Op], bad: Seq[String]): Unit =
    (ops.filter(_.failed).map(_.detail) ++ bad).distinct.take(5)
      .foreach(f => System.err.println(s"[perfbench] failure: $f"))

  private val born = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $name")

  def apply(): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    if (a.trace) traced() else timed()
  }

  /** Latency percentiles are over the operations that succeeded; failures
    * are counted against the attempts instead (`failed` / `attempted`). With
    * no success at all, every operation missed the 10 s limit. */
  private def latencies(ops: Seq[Op]): Seq[Double] = {
    val ok = ops.filterNot(_.failed).map(_.ms)
    if (ok.isEmpty) Seq(http.TimeoutMs.toDouble) else ok
  }

  private def timed(): Unit = {
    val setups = (0 until Setups).map { i =>
      val s = setUp(i, MaintenanceMs)
      if (i < Setups - 1) tearDown()
      s
    }
    phase("set-up done")
    val setupS = Stats.median(setups)
    val storeBytesPerPoint = liveBytes().toDouble / store.points
    val warm = warmUp()
    phase("warm-up done")
    val compactions0 = compactions()
    val clients: Seq[() => Option[Op]] = a.workload match {
      case "dashboard" | "long_range" =>
        // 4 dashboard panels, or 2 long-range clients (each query already
        // fills the cores); clients start at different shapes
        val n = if (a.workload == "dashboard") 4 else 2
        (0 until n).map { c =>
          val mix = newMix(c)
          var i = c
          () => { i += 1; Option(http.query(readQuery(mix, i))) }
        }
      case _ =>
        shards.map(sh => () => Option(sendWrite(sh))) ++ (0 until 2).map { c =>
          var i = c
          () => { i += 1; sendAlert(i, shards) }
        }
    }
    val readSeconds = if (ingest) a.seconds else a.seconds * (1 - ProbeShare)
    val (ops, elapsed) = ClosedLoop.run(clients, readSeconds)
    phase("timed phase done")
    val compactionsRun = compactions() - compactions0
    val ackedPoints = () => ledger.ackedBatches.values.map(_.length).sum.toLong * feed.samplesPerBatch
    // the read workloads' write numbers: single-client remote write on the
    // otherwise idle server, after the timed reads
    val (writes, writeSeconds, bytesPerPoint) = if (ingest)
      (ops.filter(_.kind == "write"), elapsed, liveBytes().toDouble / (store.points + ackedPoints()))
    else {
      val w0 = sendWrite("p0")
      val (w, s) = ClosedLoop.run(Seq(() => Option(sendWrite("p0"))), a.seconds * ProbeShare)
      (w0 +: w, s, storeBytesPerPoint)
    }
    val queries = ops.filter(_.kind == "query")
    val (lost, bad) = readBack()
    phase("read-back done")
    val all = warm ++ queries ++ writes
    val failed = all.count(_.failed) + lost.size
    println(context(Seq(
      "setup_s_each" -> setups.map(s => f"$s%.3f").mkString("[", ",", "]"),
      "store_points_end" -> (store.points + ackedPoints()).toString,
      "store_disk_bytes_end" -> diskBytes().toString,
      "compactions" -> compactionsRun.toString,
      "queries" -> queries.length.toString, "writes" -> writes.length.toString,
      "failed_ratio" -> (failed.toDouble / all.length).toString,
      "failed_writes" -> writes.count(_.failed).toString,
      "lost_acked_writes" -> lost.size.toString,
      "failed_queries" -> queries.count(_.failed).toString,
      "rss_hwm_mb" -> f"${rssHwmMb()}%.1f", "heap_committed_mb" -> f"${heapMb()}%.1f")))
    report(all, bad)
    val timedWrites = if (ingest) writes else writes.tail
    val qLat = latencies(queries)
    val wLat = latencies(timedWrites)
    println(s"# samples: query_p50_ms/query_p90_ms n=${qLat.length}, write_p50_ms/write_p90_ms n=${wLat.length}")
    (queries ++ timedWrites).filterNot(_.failed).groupBy(_.shape).toSeq.sortBy(_._1).foreach { case (shape, os) =>
      val ms = os.map(_.ms)
      println(f"# $shape%-20s n=${ms.length}%3d p50=${Stats.pct(ms, 50)}%8.1f ms p90=${Stats.pct(ms, 90)}%8.1f ms")
    }
    println(result(!all.exists(_.wrong) && bad.isEmpty, all.length, failed, Seq(
      metric("setup_s", setupS, "s"),
      metric("query_p50_ms", Stats.pct(qLat, 50), "ms"),
      metric("query_p90_ms", Stats.pct(qLat, 90), "ms"),
      metric("queries_per_s", queries.count(!_.failed) / elapsed, "1/s"),
      metric("write_p50_ms", Stats.pct(wLat, 50), "ms"),
      metric("write_p90_ms", Stats.pct(wLat, 90), "ms"),
      metric("ingest_points_per_s", timedWrites.map(_.points).sum / writeSeconds, "1/s"),
      metric("rss_peak_mb", rssHwmMb() - heapMb(), "MB"),
      metric("store_bytes_per_point", bytesPerPoint, "B"))))
    stopServer()
  }

  private def traced(): Unit = {
    // one set-up; the maintenance tick is replaced by an explicit, traced
    // maybeCompact after every replayed write
    setUp(0, 24 * 3600 * 1000L)
    val warm = warmUp()
    val nQueries = if (a.workload == "dashboard") 12 else 8
    val nWrites = if (ingest) 12 else 8
    val tracker = new Tracker
    val spans = new Spans
    val layers = new Layers(spark, dir, LookbackMs, tracker, spans)
    val served = scala.collection.mutable.ArrayBuffer.empty[Op]
    val qL = scala.collection.mutable.ArrayBuffer.empty[QueryLayers]
    val wL = scala.collection.mutable.ArrayBuffer.empty[WriteLayers]
    val untracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]

    // Each request runs three ways back to back, so drift over the run
    // falls on all three alike: served with no listener (untraced), in
    // process with spans and the listener (traced), and served with the
    // listener registered (the trace's own overhead on the served path).
    // Each way gets its own fresh query of the same shape. An untimed query
    // of the shape goes first, so no way pays for switching shapes, and the
    // order of the three ways rotates from request to request.
    val sc = spark.sparkContext
    def threeWays(i: Int, q: () => Query): Unit = {
      served += http.query(q())
      val ways: Seq[() => Unit] = Seq(
        () => { val op = http.query(q()); served += op; untracedMs += op.ms },
        () => listening(qL += layers.query(s"q$i", q())),
        () => listening { val op = http.query(q()); served += op; tracedMs += op.ms })
      (0 until 3).foreach(k => ways((i + k) % 3)())
    }
    def listening[T](body: => T): T = {
      sc.addSparkListener(tracker)
      try body finally sc.removeSparkListener(tracker)
    }
    def tracedWrite(i: Int, shard: String): Unit = {
      val b = nextBatch(shard)
      ledger.sentUpTo(shard, b)
      listening(wL += layers.write(s"w$i", feed.body(shard, b), ingestDay))
      ledger.ack(shard, b)
    }
    if (ingest) {
      val replayShards = Seq("r1", "r2")
      (0 until nWrites).foreach { i =>
        // r1 goes through the server, r2 through the traced layers, whose
        // maintenance pass then compacts what both left
        served += sendWrite("r1")
        tracedWrite(i, "r2")
        // an alert after every step: the alerts meet every point of the
        // compaction cycle and alternate shapes, as the timed clients do
        if (alert(i, replayShards).isDefined) threeWays(i, () => alert(i, replayShards).get)
      }
    } else {
      val mix = newMix(7)
      (0 until nQueries).foreach(i => threeWays(i, () => readQuery(mix, i)))
      // the probe writes come after the reads, as in the timed run
      served += sendWrite("p0")
      (0 until nWrites).foreach(i => tracedWrite(i, "p0"))
    }
    val (lost, bad) = readBack()
    // beside the run's work directory (which run.py removes), in traces/
    val tracePath = java.nio.file.Paths.get(a.work).getParent.resolveSibling("traces")
      .resolve(s"${a.workload}-seed${a.seed}.jsonl")
    spans.write(tracePath)

    def m(f: QueryLayers => Double) = Stats.mean(qL.map(f).toSeq)
    def s(f: GroupCounts => Long) = Stats.mean(qL.map(x => f(x.spark).toDouble).toSeq)
    def w(f: WriteLayers => Double) = Stats.mean(wL.map(f).toSeq)
    val ackedBytes = wL.map(_.bodyBytes.toLong).sum.toDouble
    val perLayer = Seq(
      metric("promql.parse_ms", m(_.parse), "ms"),
      metric("engine.bounds_ms", m(_.bounds), "ms"),
      metric("sources.read_ms", m(_.read), "ms"),
      metric("sources.read_files", m(_.readFiles), "count"),
      metric("engine.compile_ms", m(_.compile), "ms"),
      metric("catalyst.optimize_ms", m(_.optimize), "ms"),
      metric("catalyst.plan_ms", m(_.plan), "ms"),
      metric("spark.exec_ms", m(_.exec), "ms"),
      metric("spark.jobs", s(_.jobsStarted), "count"),
      metric("spark.stages", s(_.stages), "count"),
      metric("spark.tasks", s(_.tasks), "count"),
      metric("spark.task_overhead_ms", s(c => c.taskMs - c.runMs), "ms"),
      metric("spark.executor_run_ms", s(_.runMs), "ms"),
      metric("spark.executor_cpu_ms", s(_.cpuNs) / 1e6, "ms"),
      metric("spark.gc_ms", s(_.gcMs), "ms"),
      metric("scan.records_read", s(_.recordsRead), "count"),
      metric("scan.bytes_read", s(_.bytesRead), "B"),
      metric("scan.records_per_result",
        qL.map(_.spark.recordsRead).sum.toDouble / math.max(1L, qL.map(_.rows).sum), "ratio"),
      metric("shuffle.bytes", s(_.shuffleBytes), "B"),
      metric("api.decode_ms", w(_.decode), "ms"),
      metric("api.to_points_ms", w(_.toPoints), "ms"),
      metric("sources.append_ms", w(_.append), "ms"),
      metric("sources.append_jobs", w(_.appendJobs.toDouble), "count"),
      metric("sources.bytes_written", w(_.bytesWritten.toDouble), "B"),
      metric("sources.files_written", w(_.filesWritten), "count"),
      metric("sources.compact_ms", w(_.compact), "ms"),
      metric("sources.compact_bytes_rewritten", w(_.compactBytes.toDouble), "B"),
      metric("sources.live_files_max", wL.map(_.liveFiles).max.toDouble, "count"),
      metric("sources.write_amplification",
        wL.map(x => x.bytesWritten + x.compactBytes).sum / ackedBytes, "ratio"),
      metric("api.http_overhead_ms", Stats.mean(untracedMs.toSeq) - m(_.total), "ms"),
      metric("trace.overhead_ms", Stats.mean(tracedMs.toSeq) - Stats.mean(untracedMs.toSeq), "ms"))
    val ops = warm ++ served
    println(context(Seq("store_disk_bytes_end" -> diskBytes().toString,
      "traced_queries" -> qL.length.toString, "traced_writes" -> wL.length.toString,
      "spans" -> spans.all.length.toString, "lost_acked_writes" -> lost.size.toString)))
    report(ops, bad)
    println(result(!ops.exists(_.wrong) && bad.isEmpty, ops.length, ops.count(_.failed) + lost.size, perLayer))
    stopServer()
  }
}
