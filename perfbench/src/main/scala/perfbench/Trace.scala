package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one job group: the benchmark tags every traced
  * request with its own group. */
final class GroupCounts {
  var jobsStarted, jobsEnded, stages, tasks = 0L
  var taskMs, runMs, cpuNs, gcMs, recordsRead, bytesRead, shuffleBytes, outputBytes = 0L
}

/** Counts jobs, stages, tasks and task metrics per job group. */
final class Tracker extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCounts]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def counts(g: String): GroupCounts = groups.computeIfAbsent(g, _ => new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(stageGroup.put(_, g))
      val c = counts(g); c.synchronized { c.jobsStarted += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g => val c = counts(g); c.synchronized { c.jobsEnded += 1 } }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g => val c = counts(g); c.synchronized { c.stages += 1 } }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = counts(g)
      c.synchronized {
        c.tasks += 1
        c.taskMs += e.taskInfo.duration
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  /** Blocks until the listener has seen every job of `groups` end. A fence
    * job is submitted after them; listener events arrive in order, so once
    * the fence's end is seen every earlier job has reported its start. */
  def settle(spark: SparkSession, groups: Seq[String], fence: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(fence, "perfbench fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    def done = counts(fence).synchronized(counts(fence).jobsEnded >= 1) &&
      groups.forall { g => val c = counts(g); c.synchronized(c.jobsStarted == c.jobsEnded) }
    while (!done) {
      require(System.nanoTime() < deadline, s"listener never saw the jobs of $groups end")
      Thread.sleep(2)
    }
  }
}

/** A timed interval of one request; `parent` names the enclosing span. */
final case class Span(request: String, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"request":"$request","name":"$name","parent":"$parent","start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans kept in memory for the run and written out when it ends. */
final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  def span[T](request: String, name: String, parent: String = "request")(body: => T): (T, Span) = {
    val t0 = System.nanoTime()
    val out = body
    val s = Span(request, name, parent, t0, System.nanoTime())
    synchronized(buf += s)
    (out, s)
  }
  def all: Seq[Span] = synchronized(buf.toSeq)
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.map(_.json).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Per-layer measurements of one traced query. `total` is the in-process
  * request: bounds + read + rangeQuery (which parses) + optimize + plan +
  * collect. */
final case class QueryLayers(parse: Double, bounds: Double, read: Double, readFiles: Int,
                             compile: Double, optimize: Double, plan: Double, exec: Double,
                             rows: Long, total: Double, spark: GroupCounts)

/** Per-layer measurements of one traced remote write and the maintenance
  * pass after it. */
final case class WriteLayers(decode: Double, toPoints: Double, append: Double,
                             appendJobs: Long, bytesWritten: Long, filesWritten: Int,
                             compact: Double, compactBytes: Long, liveFiles: Int, bodyBytes: Int)

/** Replays requests one at a time, in process, through the same public
  * functions the HTTP handlers call, with a span around each call. The
  * query guard (`Guards.run`: slot, timeout, query log) is left out; its
  * cost lands in `api.http_overhead_ms`. */
final class Layers(spark: SparkSession, dir: String, lookbackMs: Long,
                   tracker: Tracker, spans: Spans) {
  import graft.engine.{Engine, Guards, StepGrid}
  import graft.sources.PointsStore

  def query(id: String, q: Query): QueryLayers = {
    val sc = spark.sparkContext
    val grid = StepGrid(q.startMs, math.max(q.startMs, q.endMs), q.stepMs)
    sc.setJobGroup(id, q.shape)
    val out = try {
      val (_, parse) = spans.span(id, "promql.parse")(graft.promql.Parser.parse(q.promql))
      val ((lo, hi), bounds) = spans.span(id, "engine.bounds")(
        Guards.selectorWindowBounds(q.promql, grid, lookbackMs)
          .getOrElse((grid.startMs - lookbackMs, grid.endMs)))
      val ((pts, dict), read) = spans.span(id, "sources.read")(
        (PointsStore.read(spark, dir, lo, hi), PointsStore.readDict(spark, dir)))
      val files = pts.inputFiles.length
      val (df, compile) = spans.span(id, "engine.rangeQuery")(
        Engine.rangeQuery(spark, pts, q.promql, q.startMs, q.endMs, q.stepMs, lookbackMs,
          sampleTally = Some(Guards.newTally(spark)), seriesDict = dict))
      val (_, opt) = spans.span(id, "catalyst.optimize")(df.queryExecution.optimizedPlan)
      val (_, plan) = spans.span(id, "catalyst.plan")(df.queryExecution.executedPlan)
      val (rows, exec) = spans.span(id, "spark.exec")(df.collect().length.toLong)
      QueryLayers(parse.ms, bounds.ms, read.ms, files, compile.ms - parse.ms, opt.ms, plan.ms,
        exec.ms, rows, bounds.ms + read.ms + compile.ms + opt.ms + plan.ms + exec.ms, null)
    } finally sc.clearJobGroup()
    tracker.settle(spark, Seq(id), s"$id-fence")
    out.copy(spark = tracker.counts(id))
  }

  def write(id: String, body: Array[Byte], ingestDay: (Long, Long)): WriteLayers = {
    import graft.api.RemoteRead
    val sc = spark.sparkContext
    val before = dataFiles()
    val (series, decode) = spans.span(id, "api.decode")(RemoteRead.decodeWriteRequestFull(body)._1)
    val (df, toPoints) = spans.span(id, "api.to_points")(
      RemoteRead.writeRequestToPoints(spark, series.map { case (l, s, _) => (l, s) }))
    sc.setJobGroup(id, "append")
    val (_, append) = try spans.span(id, "sources.append")(PointsStore.append(df, dir))
      finally sc.clearJobGroup()
    val filesWritten = (dataFiles() -- before).size
    // the ingest day's live files peak here, before maintenance folds them
    val live = PointsStore.read(spark, dir, ingestDay._1, ingestDay._2).inputFiles.length
    // the server's maintenance tick, made explicit so it is attributed
    val cid = s"$id-compact"
    sc.setJobGroup(cid, "maintenance")
    val (_, compact) = try spans.span(id, "sources.compact")(PointsStore.maybeCompact(spark, dir))
      finally sc.clearJobGroup()
    tracker.settle(spark, Seq(id, cid), s"$id-fence")
    val a = tracker.counts(id); val c = tracker.counts(cid)
    WriteLayers(decode.ms, toPoints.ms, append.ms, a.jobsStarted, a.outputBytes, filesWritten,
      compact.ms, c.outputBytes, live, body.length)
  }

  private def dataFiles(): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_temporary")).toSet
    } finally s.close()
  }
}
