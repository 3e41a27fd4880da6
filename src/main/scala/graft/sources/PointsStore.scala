package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet storage for the points relation — the Spark
  * mapping of the reference's 24-hour TSM shards (SURVEY §1.3/§1.4):
  *
  *  - one partition directory per UTC day (`date=YYYY-MM-DD`), so Catalyst
  *    partition pruning replaces the reference's shard pruning by time range
  *    (reference: influx_adapter.go:364-389);
  *  - retention = whole-partition deletion, the analog of shard expiry
  *    (reference: persistence/store.go:158-214);
  *  - appends are plain parquet appends into the day partition — the
  *    streaming sink (`foreachBatch`) and the batch writer share this.
  *
  * At 100 TB: day partitions keep any time-bounded query to the touched
  * days only; within a day, files are splittable parquet scanned in
  * parallel by every executor. For heavy per-series workloads, an optional
  * repartition by name spreads series files so a selector for one metric
  * prunes by partition AND row-group stats.
  */
object PointsStore {

  /** Parquet bloom-filter write options for the two row-group-skipping
    * columns of every data file. Within a row group, `name` and `sig` are
    * usually dictionary-encoded (the clustered layout repeats them in
    * runs) and parquet then skips the bloom — the dictionary page itself
    * gives exact row-group filtering. The bloom matters exactly when the
    * dictionary gives out: past ~128k distinct series per row group the
    * 1 MB dictionary page overflows, `sig` falls back to PLAIN, and a
    * selective read (a lone-series selector's pushed `In(sig, …)`) would
    * otherwise have to scan every row group whose [min, max] spans the
    * probe — which for a hash-valued sig is ALL of them. This is the
    * fleet-scale regime: 100 TB day partitions hold millions of series
    * per file. The reference's TSM engine keeps a per-file series-key
    * index for the same lookup (vendor/github.com/influxdata/influxdb/
    * tsdb/engine/tsm1/DESIGN.md); a per-row-group bloom is the parquet
    * analog. NDV 262144 ≈ the series count of a 128 MB row group at
    * ~500 B/series-day; parquet caps the bitset at its 1 MB default when
    * overestimated, and an underestimate only raises the false-positive
    * rate (reads stay correct, just less skipping). */
  private val bloomWriteOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#name" -> "true",
    "parquet.bloom.filter.enabled#sig" -> "true",
    // ADAPTIVE sizing: the writer keeps several candidate bitsets and
    // persists the smallest that meets the FPP for the chunk's OBSERVED
    // ndv — a streaming micro-batch's small file gets a small bloom
    // instead of the fixed ~512 KB a 262144-NDV estimate would pin per
    // chunk (the write-path cost that showed up in the store-writing
    // gates), while a full 128 MB compacted row group still grows the
    // real thing
    "parquet.bloom.filter.adaptive.enabled" -> "true",
    "parquet.bloom.filter.expected.ndv#name" -> "1024",
    "parquet.bloom.filter.expected.ndv#sig" -> "262144")

  /** Monotonic per-JVM write-generation stamp: every append carries it as
    * the `_seq` column (constant per batch — dictionary-encodes to ~0
    * bytes), giving compaction a total write order for last-write-wins
    * (sig, t) dedup. Wall-clock based so stamps ALSO order across writer
    * restarts; the atomic max(+1) keeps two same-millisecond appends from
    * one JVM distinct. */
  private val lastSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextSeq(): Long =
    lastSeq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  // ---- self-telemetry (served at /metrics; reference: the registrar
  // counters of src/internal/metrics/metrics.go) -------------------------
  //
  // The write-path row counts accumulate in Spark ACCUMULATORS — the
  // within-partition dedup pass already touches every row, so counting
  // rides for free on the executors; the registry exposes the live
  // accumulator values at scrape time. Stage retries/speculation can
  // overcount, the standard accumulator caveat — acceptable for
  // operational counters (the reference's registrar makes no stronger
  // promise across its process restarts either).
  private val writeAccs = new java.util.concurrent.atomic.AtomicReference[
    (org.apache.spark.SparkContext,
      org.apache.spark.util.LongAccumulator,
      org.apache.spark.util.LongAccumulator)]()
  private val expiredShardsTotal = graft.api.Telemetry.counter(
    "metric_store_expired_shards_total", "Day partitions dropped by retention")
  private val compactionsTotal = graft.api.Telemetry.counter(
    "graft_store_compactions_total", "Day-partition (and dict) rewrites published")
  locally {
    def accValue(pick: ((org.apache.spark.SparkContext,
      org.apache.spark.util.LongAccumulator,
      org.apache.spark.util.LongAccumulator)) => org.apache.spark.util.LongAccumulator) =
      () => Option(writeAccs.get()).map(t => pick(t).value.toDouble).getOrElse(0.0)
    graft.api.Telemetry.counterSupplier("metric_store_written_points_total",
      "Rows written to day partitions (post within-batch dedup)")(accValue(_._2))
    graft.api.Telemetry.counterSupplier("graft_store_lww_dropped_points_total",
      "Within-batch (sig, t) duplicates dropped at write time (LWW)")(accValue(_._3))
    graft.api.Telemetry.counterSupplier("graft_store_relation_reuse_hits_total",
      "Store reads that reused the relation of an unchanged live file set")(
      () => relationHits.sum.toDouble)
    graft.api.Telemetry.counterSupplier("graft_store_relation_reuse_misses_total",
      "Store reads that built a new relation (first read of a live file set)")(
      () => relationMisses.sum.toDouble)
  }
  private def storeAccs(spark: SparkSession):
      (org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator) = {
    val sc = spark.sparkContext
    val cur = writeAccs.get()
    if (cur != null && (cur._1 eq sc)) (cur._2, cur._3)
    else {
      val w = sc.longAccumulator("graft.store.writtenPoints")
      val d = sc.longAccumulator("graft.store.lwwDroppedPoints")
      writeAccs.set((sc, w, d))
      (w, d)
    }
  }

  /** Write points (sig/name/labels/t/value) partitioned by UTC day.
    *
    * Within each written file, rows are CLUSTERED by (name, sig, t) —
    * the path-based analog of bucketing by metric name: parquet row-group
    * min/max stats on `name` then become selective for every selector's
    * name-equality pushdown (a metric's rows occupy a contiguous run of
    * row groups instead of smearing across all of them), and series
    * arrive time-ordered per sig — the layout the reference's TSM
    * compaction maintains per series key. The sort is per write batch
    * (micro-batch sized), mirroring the reference's compaction cost.
    *
    * The canonical label string `_lc` is persisted alongside the map
    * (computed ONCE here at ingest): selectors then read it as a column —
    * dictionary-encoded to ~8 B/row since it repeats per series within the
    * clustered row groups — instead of decoding + sorting + joining the
    * map on every query's every row. The reference's TSM engine stores
    * the series key once per series for the same reason.
    *
    * LAST-WRITE-WINS: a re-sent (series, t) point is overwritten, matching
    * the reference's TSM per-(series, ts) overwrite semantics
    * (influx_adapter.go:63-86 feeding tsm1). The write itself is a plain
    * append — the winner is selected by (sig, t) keep-newest-`_seq` dedup
    * applied at BOTH read boundaries: [[compact]] (durable, collapses the
    * copies on disk) and [[read]]'s [[lwwGuard]] (covers the window
    * between compactions, so LWW holds from the moment the re-send
    * lands). Exactly-once sinks avoid the duplicate entirely via
    * [[appendOnce]]. */
  def append(points: DataFrame, path: String): Unit = {
    // `stale` is part of the store's canonical schema (OTLP ingest writes
    // staleness markers — Otlp.toPoints), but most producers (nozzle,
    // remote write, rollups) don't carry it. Normalize HERE so every file
    // in the store has the same columns: a store mixing stale-carrying and
    // stale-less files would otherwise read whichever schema parquet
    // inference sampled — either dropping the column (markers surface as
    // NaN samples) or reading stale-less rows as stale=null, which
    // Selectors' `!stale` filter silently drops (NULL is not TRUE).
    // ONE pass over the batch source: the dict write and the data write
    // below both consume the canonicalized batch, and `_lc`/`sig` are the
    // expensive per-row computations (map sort + concat + hash) — without
    // the persist each write re-reads the source and re-derives them. The
    // cache is an intra-append intermediate (unpersisted before return),
    // bounded by the batch (micro-batch sized on the streaming path;
    // MEMORY_AND_DISK spills rather than OOMs on large backfill appends).
    // The dict job runs first and is what materializes the cache.
    //
    // Both writes go to this append's OWN staging dir, and the part files
    // move into the store afterwards, dict files first ([[publishStaged]]),
    // so a crash at any point still leaves the dict a superset of the
    // data — the documented contract. Two appends writing straight into
    // one path would share Hadoop's `_temporary/0`, which the first job
    // commit deletes under the other (a failed write, or an acknowledged
    // one whose files vanished).
    val withLc = graft.model.Points.withCanonical(normalizeStale(points))
      .withColumn("date", to_date(timestamp_millis(col("t"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(points.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(root,
      StagePrefix + java.util.UUID.randomUUID())
    activeStages.add(stage.getName)
    try {
    // series-dictionary sidecar: sig -> (name, _lc, lastDay), one row per
    // series per batch (map-side partial dedup keeps the shuffle
    // series-sized; sig functionally determines name and _lc, so they ride
    // as group keys). Selectors reading this store can then aggregate on
    // the 8-byte sig alone and join the labels back at RESULT size instead
    // of carrying the canonical string through every exchange (the
    // relational analog of the reference's TSM series-key file).
    // `lastDay` (the newest day the series was seen) lets [[expire]] prune
    // dictionary entries with the data. Batches may repeat series;
    // [[readDict]] / [[compact]] dedup keeping max lastDay.
    //
    // Published BEFORE the data so the dictionary is always a SUPERSET of
    // the data's series: a crash between the two leaves dict
    // entries whose data never arrived (harmless) — never data whose
    // series the dict-join would silently drop. Readers must take their
    // data snapshot before (or with) their dict snapshot for the same
    // reason; [[read]] + [[readDict]] callers get this by reading data
    // first.
    withLc.groupBy(col("sig"), col("name"), col("_lc"))
      .agg(max(col("date")).as("lastDay"))
      .write.parquet(s"$stage/$DictDir")
    // `_sub`: per-row monotonic order WITHIN the batch (partition-major,
    // then row order — monotonically_increasing_id), computed BEFORE the
    // cluster sort so the stamp follows the row. When one append itself
    // carries two samples for the same (series, t) — a self-duplicating
    // sender — the batch's LAST row must win, matching the reference's
    // TSM cache keep-last-write within one WritePoints call. Duplicates
    // WITHIN a task partition are dropped right here, shuffle-free
    // ([[dropWithinPartitionDups]] rides the cluster sort the write
    // already pays — the relational analog of the TSM cache overwrite);
    // duplicates ACROSS batch partitions land in different files of the
    // day, where [[readLiveInfo]]'s multi-file signal arms [[lwwGuard]]
    // and (t, _seq desc, _sub desc) picks the later row.
    // the stamp is a parameter, not a literal: it differs on every
    // append, and a literal would make every append compile new code
    val stamped = withLc
      .withColumn("_seq", graft.engine.LongParam.of(nextSeq()))
      .withColumn("_sub", monotonically_increasing_id())
      .sortWithinPartitions(col("date"), col("name"), col("sig"), col("t"),
        col("_sub"))
    dropWithinPartitionDups(stamped)
      .write
      .options(bloomWriteOptions)
      .partitionBy("date")
      .parquet(s"$stage/$StagedData")
    publishStaged(fs, stage, root)
    } finally {
      fs.delete(stage, true)
      activeStages.remove(stage.getName)
      withLc.unpersist(blocking = false)
    }
  }

  /** Per-append staging dirs under the store root: dot-prefixed, so no
    * reader, listing or partition discovery sees them. */
  private val StagePrefix = ".append-"
  private val StagedData = "data"

  /** Staging dirs of appends and rewrites running in this JVM: the sweep
    * ([[sweepStages]]) never removes these, whatever its grace window. */
  private val activeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Move a staged append's part files into the store: the dictionary's
    * first, so the dictionary stays a superset of the data at every
    * instant, then each day's. Part file names carry the write job's id,
    * so they never collide with another append's. Each move is one
    * rename: a reader sees a file whole or not at all. */
  private def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
                            stage: org.apache.hadoop.fs.Path,
                            root: org.apache.hadoop.fs.Path): Unit = {
    def moveParts(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit = {
      val parts = fs.listStatus(from).toSeq.filter(s => s.isFile && !isHidden(s.getPath.getName))
      if (parts.nonEmpty) fs.mkdirs(to)
      parts.foreach { s =>
        val dst = new org.apache.hadoop.fs.Path(to, s.getPath.getName)
        if (!fs.rename(s.getPath, dst))
          throw new java.io.IOException(s"could not move ${s.getPath} to $dst")
      }
    }
    moveParts(new org.apache.hadoop.fs.Path(stage, DictDir), new org.apache.hadoop.fs.Path(root, DictDir))
    fs.listStatus(new org.apache.hadoop.fs.Path(stage, StagedData)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .foreach(d => moveParts(d.getPath, new org.apache.hadoop.fs.Path(root, d.getPath.getName)))
  }

  /** Remove staging dirs an append or a rewrite left behind (its process
    * died before publishing): older than the grace window and not in
    * flight in this JVM. An unpublished stage holds nothing a reader ever
    * saw. */
  private def sweepStages(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path,
                          now: Long, graceMs: Long): Unit =
    fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isDirectory && (n.startsWith(StagePrefix) || n.startsWith(RewriteStagePrefix)) &&
          now - s.getModificationTime >= graceMs && !activeStages.contains(n)
      }
      .foreach(s => MarkerLog.step("sweep", s.getPath)(fs.delete(s.getPath, true)))

  /** Keep the LAST row of each within-partition (date, sig, t) run — the
    * input is already clustered (date, name, sig, t, _sub), so duplicates
    * are adjacent and one forward-looking linear pass suffices: no
    * shuffle, no window, order (hence parquet row-group clustering)
    * preserved. */
  private def dropWithinPartitionDups(df: DataFrame): DataFrame = {
    val schema = df.schema
    val di = schema.fieldIndex("date")
    val si = schema.fieldIndex("sig")
    val ti = schema.fieldIndex("t")
    val (written, dropped) = storeAccs(df.sparkSession)
    df.mapPartitions { it =>
      new Iterator[org.apache.spark.sql.Row] {
        private var pending: org.apache.spark.sql.Row = if (it.hasNext) it.next() else null
        def hasNext: Boolean = pending != null
        def next(): org.apache.spark.sql.Row = {
          var cur = pending
          var nxt: org.apache.spark.sql.Row = if (it.hasNext) it.next() else null
          // skip forward over duplicates of (date, sig, t): later _sub wins
          while (nxt != null && cur.get(di) == nxt.get(di) &&
            cur.getLong(si) == nxt.getLong(si) && cur.getLong(ti) == nxt.getLong(ti)) {
            cur = nxt
            dropped.add(1L)
            nxt = if (it.hasNext) it.next() else null
          }
          pending = nxt
          written.add(1L)
          cur
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Exactly-once [[append]] for at-least-once replay contexts (a
    * streaming `foreachBatch` sink): the write is skipped — returning
    * false — when this (path, batchId) already committed, so a replayed
    * micro-batch cannot double-count in any downstream
    * rate/count_over_time. The marker commits AFTER the append: a crash
    * between append and marker replays the whole append, and the
    * resulting duplicates are removed by [[compact]]'s (sig, t)
    * last-write-wins dedup (replayed batches carry identical values, so
    * any surviving copy is correct). */
  def appendOnce(points: DataFrame, path: String, batchId: Long): Boolean = {
    val markers = new org.apache.hadoop.fs.Path(path, BatchMarkerDir)
    val fs = markers.getFileSystem(points.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(markers, s"batch-$batchId")
    if (fs.exists(marker)) return false
    append(points, path)
    fs.mkdirs(markers)
    fs.create(marker, true).close()
    true
  }

  /** Dictionary dir name: underscore-prefixed, so data readers' file
    * listings (and Spark partition discovery) never see it. */
  private val DictDir = "_dict"

  /** Batch-idempotence marker dir for [[appendOnce]]. */
  private val BatchMarkerDir = "_batches"

  /** Dedup dictionary rows across append batches: one row per sig, keeping
    * the newest lastDay. (sig, name, _lc) are the group keys — sig alone
    * determines the other two — so the aggregation buffer holds only the
    * DateType max and the plan stays a codegen'd HashAggregate. */
  private def dedupDict(df: DataFrame): DataFrame =
    if (df.columns.contains("lastDay"))
      df.groupBy(col("sig"), col("name"), col("_lc"))
        .agg(max(col("lastDay")).as("lastDay"))
    else df.dropDuplicates("sig") // pre-lastDay sidecar layout

  /** The store's series dictionary (sig, name, _lc, lastDay), deduped
    * across append batches; None when the store predates the sidecar.
    * Respects the `_dict` commit log ([[compact]] folds the sidecar into
    * one deduped file with the same MVCC visibility flip the day partitions
    * use) — and when exactly one live file remains (a compacted store with
    * no later appends), it is returned as-is: no dedup shuffle on the
    * query path. */
  def readDict(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$DictDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val live = livePaths(fs, p)
    // driver-direct footer schema ([[sampleFooterSchema]]): a bare
    // spark.read.parquet pays a schema-inference JOB per dict read — one
    // per store-backed query (the dict rides every selector evaluation)
    def dictRead(files: Seq[String]) =
      spark.read.schema(sampleFooterSchema(spark, files.head)(
        spark.read.parquet(files.head).schema)).parquet(files: _*)
    // through the relation cache: its files are under `_dict`, so they
    // never share a key with a day's read
    if (live.isEmpty) None
    else Some(cachedRelation(RelationKey(spark, live, None, None, None, guard = false))(
      if (live.length == 1) dictRead(live) else dedupDict(dictRead(live))))
  }

  /** Read back, pruning day partitions to [startMs-slackMs, endMs]. The
    * slack covers lookback/range windows that reach before the grid start.
    * `Long.MinValue`/`Long.MaxValue` bounds mean "unbounded" on that side
    * (no date predicate — `timestamp_millis` of the sentinels would
    * overflow the timestamp range).
    *
    * Reads go through each day's tip commit ([[DirState.live]]): a
    * compacting writer never renames or deletes a file a planned reader
    * might hold — it adds its outputs under new names and atomically
    * publishes a commit flipping which names are live — so a reader
    * concurrent with compaction sees either the old file set or the new
    * one, both complete, never half of each. The date predicates are still
    * applied on the partition column, so the plan shows the same
    * PartitionFilters a path-based read had (and the driver-side day
    * pruning already restricted the listing). The bounds are whole UTC
    * days, the unit the store partitions by, so reads of an unchanged live
    * file set over the same days return the same DataFrame
    * ([[cachedRelation]]). */
  def read(spark: SparkSession, path: String,
           startMs: Long, endMs: Long, slackMs: Long = 0L,
           lww: Boolean = true): DataFrame = {
    val lo = if (startMs == Long.MinValue) None else Some(dayOf(startMs - slackMs))
    val hi = if (endMs == Long.MaxValue) None else Some(dayOf(endMs))
    readLiveInfo(spark, path, startMs, endMs, slackMs) match {
      case Right((files, mayDuplicate)) =>
        val guard = lww && mayDuplicate
        cachedRelation(RelationKey(spark, files, Some(path), lo, hi, guard)) {
          val bounded = Seq(lo.map(col("date") >= lit(_)), hi.map(col("date") <= lit(_)))
            .flatten.foldLeft(readPointFiles(spark, files, Some(path)))(_.where(_))
          (if (guard) lwwGuard(bounded) else bounded).drop("date")
        }
      case Left(empty) => empty.drop("date")
    }
  }

  /** Read-time last-write-wins guard: keep the newest-`_seq` row per
    * (sig, t) — the SAME window-lag dedup [[compact]] applies, so a plain
    * re-sent `append` (a remote-write retry whose first attempt actually
    * landed — the documented at-least-once case of the /api/v1/write
    * receiver) cannot double-count in rate/count_over_time BETWEEN
    * compactions. The reference's TSM engine overwrites per (series, ts)
    * at write time (influx_adapter.go:63-86); appends here are immutable
    * parquet, so the overwrite is enforced at the two read boundaries
    * instead: compaction (durable) and this guard (until then).
    *
    * Cost: one sig-partitioned shuffle — paid ONLY when the live file
    * layout can actually hold duplicates ([[readLiveInfo]]); a compacted
    * day (one generation, globally deduped) or a single-append-file day
    * skips it entirely, so steady-state compacted stores read guard-free. */
  private def lwwGuard(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("sig")).orderBy(lwwOrder(df.columns): _*)
    df.withColumn("_prevT", lag(col("t"), 1).over(w))
      .where(col("_prevT").isNull || col("_prevT") =!= col("t"))
      .drop("_prevT")
  }

  /** The LWW dedup sort: newest write wins per (sig, t) — batch stamp
    * `_seq` first, then the within-batch row stamp `_sub` (desc puts
    * non-null after-null, so files from a pre-`_sub` layout read alongside
    * new ones still order correctly: cross-batch pairs are decided by
    * `_seq` alone, and within-batch pairs always carry `_sub`). Absent
    * columns (older store layouts) simply drop out of the ordering. */
  private def lwwOrder(columns: Seq[String]): Seq[org.apache.spark.sql.Column] =
    Seq(Some(col("t")),
      if (columns.contains("_seq")) Some(col("_seq").desc) else None,
      if (columns.contains("_sub")) Some(col("_sub").desc) else None).flatten

  /** Make `stale` a total boolean column: add `false` when absent, map
    * null → false when present (a null would make Selectors' `!stale`
    * filter drop the row — NULL is not TRUE). [[append]] applies this at
    * every write so new files are uniform; [[readPointFiles]] applies it
    * at every read so files from pre-`stale` layouts are too. */
  private def normalizeStale(df: DataFrame): DataFrame =
    if (df.columns.contains("stale"))
      df.withColumn("stale", coalesce(col("stale").cast(
        org.apache.spark.sql.types.BooleanType), lit(false)))
    else df.withColumn("stale", lit(false))

  /** Read an explicit point-file set with a NORMALIZED schema. Plain
    * parquet inference samples ONE footer; over a file set mixing
    * stale-carrying (OTLP-era) and stale-less (older-layout) files it
    * would nondeterministically either drop the column — OTLP staleness
    * markers then surface as ordinary NaN samples — or surface it with
    * nulls on the stale-less rows, which downstream `!stale` filters
    * silently drop. Instead: sample one footer (the same I/O inference
    * pays), inject `stale: boolean` when the sample lacks it, read the
    * set under that EXPLICIT schema (files missing a schema column yield
    * null, by-name resolution), and fold null → false. Every reader —
    * queries, compaction rewrites, delete rewrites — then sees the same
    * columns regardless of which ingest paths fed the store. */
  /** Spark schema of one parquet file, read DRIVER-DIRECT from its footer's
    * Spark row-metadata key. `spark.read.parquet(file).schema` launches a
    * full Spark JOB for the same footer bytes (~100-200 ms of scheduler +
    * planning), and [[readPointFiles]] samples a footer on EVERY store read
    * and every compact/delete day-rewrite — pure fixed overhead at any
    * scale (guide §1.2: remove passes; the [[graft.pipeline.QuantizerFiles]]
    * discipline for metadata I/O). Store data files are all Spark-written
    * and carry the metadata key; anything without it (or an unreadable
    * footer) falls back to the inference job with identical results. */
  private def sampleFooterSchema(spark: SparkSession, file: String)(
      fallback: => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val meta = try r.getFooter.getFileMetaData.getKeyValueMetaData
                 finally r.close()
      Option(meta.get("org.apache.spark.sql.parquet.row.metadata")) match {
        case Some(json) =>
          org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        case None => fallback
      }
    } catch { case scala.util.control.NonFatal(_) => fallback }

  private def readPointFiles(spark: SparkSession, files: Seq[String],
                             basePath: Option[String]): DataFrame = {
    def reader = basePath.foldLeft(spark.read)((r, p) => r.option("basePath", p))
    val sampled = sampleFooterSchema(spark, files.head)(
      reader.parquet(files.head).schema)
    // inject every KNOWN optional store column the sampled footer lacks,
    // so a mixed-layout file set cannot silently drop a column another
    // file carries: `stale` (pre-normalization layouts would otherwise
    // lose markers) and the `_seq`/`_sub` write stamps (losing them from
    // the schema would strip lwwOrder's newest-write ordering — files
    // without them read as null, which `desc` sorts last: cross-layout
    // pairs resolve to the stamped, newer write, the correct LWW answer).
    // Hot-label `lbl_*` columns cannot be injected generically; a store
    // using appendFlattened writes them from its first batch.
    val schema = Seq(
      ("stale", org.apache.spark.sql.types.BooleanType: org.apache.spark.sql.types.DataType),
      ("_seq", org.apache.spark.sql.types.LongType),
      ("_sub", org.apache.spark.sql.types.LongType))
      .foldLeft(sampled) { case (s, (n, t)) =>
        if (s.fieldNames.contains(n)) s else s.add(n, t)
      }
    normalizeStale(reader.schema(schema).parquet(files: _*))
  }

  /** Query-path relations: a bounded read ([[read]]) per (session, live
    * file set, basePath, first day, last day, LWW guard), and the series
    * dictionary ([[readDict]]) per (session, live `_dict` files). Building
    * one samples a footer, lists every file (the per-query
    * `sources.read_ms`) and analyzes the bounds, but live files are
    * immutable once a commit lists them, so the same key always reads the
    * same rows: an append, a compaction or a delete changes the set, and
    * with it the key. A repeated read returns the same DataFrame, which
    * the plan cache keys on ([[graft.engine.PlanCache]]). Only the relation
    * is reused, never a result, and nothing finer than a day is keyed. A
    * small fixed LRU: a server reads a handful of day windows. */
  private final case class RelationKey(spark: SparkSession, files: Seq[String],
      basePath: Option[String], lo: Option[java.time.LocalDate],
      hi: Option[java.time.LocalDate], guard: Boolean)
  private val RelationCacheSize = 16
  private val relationCache = new java.util.LinkedHashMap[RelationKey, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[RelationKey, DataFrame]): Boolean =
      size > RelationCacheSize
  }
  private val relationHits = new java.util.concurrent.atomic.LongAdder
  private val relationMisses = new java.util.concurrent.atomic.LongAdder

  /** The relation of `key`, built by `build` when the cache lacks it.
    * Compaction and delete rewrites read their files directly: they read
    * each set once. */
  private def cachedRelation(key: RelationKey)(build: => DataFrame): DataFrame =
    relationCache.synchronized(Option(relationCache.get(key))) match {
      case Some(df) => relationHits.increment(); df
      case None =>
        relationMisses.increment()
        val df = build
        relationCache.synchronized(relationCache.put(key, df))
        df
    }

  // ---- commit-gated file visibility --------------------------------------
  //
  // Every day dir and the `_dict` sidecar is a [[MarkerLog.CommitLog]].
  // Rewrite output files carry the `compacted-` prefix and are visible ONLY
  // when the dir's tip commit +lists them; plain append files (Spark
  // `part-*`) are visible unless -listed. A commit is one exclusive create,
  // so visibility flips as one unit: before it a reader sees the old live
  // set (old files are still on disk), after it the rewritten set. Dead
  // files are vacuumed by a LATER compaction once the commit that killed
  // them is older than the grace window, so in-flight plans keep their
  // files.

  private val CompactedPrefix = "compacted-"
  private val ManifestPrefix = "_manifest."

  /** A rewrite lost the race for its commit: between reading the live set
    * and publishing, some other rewrite committed to the same dir. The
    * staged outputs were discarded; the caller re-reads the (new) live set
    * and retries. */
  final class RewriteLostException(dir: String) extends RuntimeException(
    s"concurrent rewrite published a newer commit for $dir")

  // Rewrites of ONE dir serialize in-process: Serve runs the
  // maintenance-tick compaction concurrently with the admin delete_series
  // route in one JVM, and a striped mutex keeps the loser of that race
  // from even staging its outputs. Cross-process racers both stage, and
  // the numbered commit picks one: the other's create fails and it retries
  // against the winner's live set, so a deleteSeries is never resurrected
  // by a compaction built from the pre-delete set.
  private val rewriteStripes = Array.fill(64)(new Object)
  private def withDirLock[A](dir: org.apache.hadoop.fs.Path)(f: => A): A =
    rewriteStripes(math.floorMod(dir.toString.hashCode, 64)).synchronized(f)

  /** Run `attempt` (a read-live-then-publish rewrite of one dir),
    * retrying when it loses its commit to a concurrent rewrite.
    * Bounded: losing means SOMEONE ELSE made progress, so unbounded
    * livelock would need an unbounded stream of racing rewrites. */
  private def retryRewrite[A](dir: org.apache.hadoop.fs.Path,
                              attempts: Int = 5)(attempt: => A): A = {
    var left = attempts
    while (true) {
      try return withDirLock(dir)(attempt)
      catch {
        case e: RewriteLostException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** One listing of a commit-managed dir: the commit view, the tip's +live
    * and -dead lists, and the dir's data files. */
  private final case class DirState(view: MarkerLog.CommitView,
                                    plus: Set[String], minus: Set[String]) {
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      view.entries.filter(s => s.isFile && !isHidden(s.getPath.getName))

    /** The files a reader may see: +listed `compacted-` outputs, plus
      * append files not -listed. An unlisted `compacted-` file (a rewrite
      * that crashed before its commit, or one mid-publish) is never
      * visible. */
    def live: Seq[org.apache.hadoop.fs.FileStatus] = files.filter { s =>
      val n = s.getPath.getName
      if (n.startsWith(CompactedPrefix)) plus.contains(n) else !minus.contains(n)
    }
  }

  /** The dir's state. A dir holding `_manifest.*` files and no commit was
    * written before the commit log: it throws rather than read every file
    * as live. */
  private def dirState(fs: org.apache.hadoop.fs.FileSystem,
                       dir: org.apache.hadoop.fs.Path): DirState = {
    val log = new MarkerLog.CommitLog(fs, dir)
    val view = log.view()
    if (view.tip.isEmpty)
      view.entries.map(_.getPath.getName).find(_.startsWith(ManifestPrefix)).foreach(m =>
        throw new IllegalStateException(s"$dir holds the manifest $m and no `_commit.<n>`: " +
          "a store written before the commit log, which this version does not read"))
    val lines = view.tip.fold(Seq.empty[String])(c => log.read(c.path))
    DirState(view,
      lines.filter(_.startsWith("+")).map(_.drop(1)).toSet,
      lines.filter(_.startsWith("-")).map(_.drop(1)).toSet)
  }

  private[sources] def livePaths(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Seq[String] =
    dirState(fs, dir).live.map(_.getPath.toString)

  /** The store's `date=` day dirs. */
  private def dayDirs(fs: org.apache.hadoop.fs.FileSystem,
                      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))

  private def dayOf(ms: Long): java.time.LocalDate =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate

  /** The day dirs whose UTC day intersects [loMs, hiMs]; `Long.MinValue` /
    * `Long.MaxValue` leave that side open. */
  private def daysWithin(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path,
                         loMs: Long, hiMs: Long): Seq[org.apache.hadoop.fs.FileStatus] = {
    val lo = if (loMs == Long.MinValue) None else Some(dayOf(loMs))
    val hi = if (hiMs == Long.MaxValue) None else Some(dayOf(hiMs))
    dayDirs(fs, root).filter { s =>
      val d = java.time.LocalDate.parse(s.getPath.getName.stripPrefix("date="))
      lo.forall(l => !d.isBefore(l)) && hi.forall(h => !d.isAfter(h))
    }
  }

  /** Run `rewrite` on every day dir and return the days it rewrote. Days
    * are independent rewrite units (separate dirs, separate commit logs),
    * so they run CONCURRENTLY on a bounded pool: serial per-day rewrites
    * would make wall-clock scale with the store's day count (a year of
    * retention = hundreds of small sequential Spark jobs). One day runs
    * inline — the common maintenance-tick shape, where the caller thread
    * holds the stripe lock itself. Every day is awaited before the outcome
    * is decided, so a failing day never strands another mid-publish, and
    * the caller gets the first failing day's ORIGINAL exception, not the
    * pool's ExecutionException wrapper. */
  private def eachDay(days: Seq[org.apache.hadoop.fs.Path])(
      rewrite: org.apache.hadoop.fs.Path => Option[String]): Seq[String] =
    if (days.length <= 1) days.flatMap(rewrite)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(days.length, 8))
      try {
        val futures = days.map(d => pool.submit(
          new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = rewrite(d)
          }))
        val outcomes = futures.map(f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(Option(e.getCause).getOrElse(e))
          })
        outcomes.collectFirst { case Left(e) => e }.foreach(throw _)
        outcomes.flatMap(_.toOption.flatten)
      } finally pool.shutdown()
    }

  /** The commit-visible files of the days intersecting
    * [startMs-slackMs, endMs] (read them with `basePath` = `path`, which
    * keeps the `date` partition column derivable so callers' date
    * predicates still show as PartitionFilters), or, when none is live, an
    * empty relation with the store's schema; plus the duplicate-possibility signal for the
    * read-time LWW guard: a day's live set can hold (sig, t) duplicates only when it
    * mixes at least one plain append file with any other file — all live
    * `compacted-` files belong to ONE generation (the tip commit +lists
    * only its own rewrite's outputs) and that generation was
    * globally deduped when written, while a lone append file cannot hold
    * duplicates either: one file is one batch task partition, and
    * [[append]] drops within-partition (sig, t) duplicates at write time
    * (a self-duplicating batch's cross-partition copies land in separate
    * files, tripping the multi-file signal). Keeping the lone-file fast
    * path matters at fleet scale: the guard's sig window is a pushdown
    * barrier, and fresh single-batch stores must still push selector
    * equality into the scan. */
  private def readLiveInfo(spark: SparkSession, path: String,
                           startMs: Long, endMs: Long, slackMs: Long)
      : Either[DataFrame, (Seq[String], Boolean)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Left(spark.read.parquet(path)) // preserve error
    val days = daysWithin(fs, root,
      if (startMs == Long.MinValue) startMs else startMs - slackMs, endMs)
    val perDay = days.map(d => livePaths(fs, d.getPath))
    val mayDuplicate = perDay.exists { dayFiles =>
      dayFiles.length > 1 && dayFiles.exists(f =>
        !new org.apache.hadoop.fs.Path(f).getName.startsWith(CompactedPrefix))
    }
    val files = perDay.flatten
    if (files.isEmpty) {
      // derive the empty result's schema from live files of ANY day (the
      // range just missed) rather than scanning the root: the root may
      // hold a non-hidden `snapshots/` dir whose nested `date=` layers
      // would break partition discovery
      val allDays = dayDirs(fs, root)
      val anyLive = allDays.iterator.map(d => livePaths(fs, d.getPath))
        .find(_.nonEmpty).getOrElse(Nil)
      if (anyLive.nonEmpty)
        Left(readPointFiles(spark, anyLive, Some(path)).where(lit(false)))
      else {
        // no live file ANYWHERE (all expired, or only unpublished
        // rewrite outputs): derive the schema from any parquet file
        // under a date= dir — dead files share the live schema. NEVER
        // scan the root: it may hold the standard `snapshots/` tree,
        // whose nested date= layers break partition discovery.
        val anyFile = allDays.iterator
          .flatMap(d => fs.listStatus(d.getPath).toSeq)
          .find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).toSeq
        if (anyFile.nonEmpty)
          Left(readPointFiles(spark, anyFile, Some(path)).where(lit(false)))
        else {
          // a never-written (or day-dirs-deleted) store: fall back to a
          // snapshot day for the schema when one exists, else preserve
          // the plain-read error for a truly empty path
          val snapDay = Option(new org.apache.hadoop.fs.Path(root, "snapshots"))
            .filter(fs.exists(_))
            .toSeq.flatMap(p => fs.listStatus(p).toSeq
              .filter(s => s.isDirectory && !isHidden(s.getPath.getName)))
            .flatMap(sn => fs.listStatus(sn.getPath).toSeq
              .filter(d => d.isDirectory && d.getPath.getName.startsWith("date="))
              .map(d => (sn.getPath.toString, d.getPath.toString)))
            .headOption
          snapDay match {
            case Some((snapRoot, day)) =>
              Left(normalizeStale(spark.read.option("basePath", snapRoot).parquet(day))
                .where(lit(false)))
            case None =>
              Left(normalizeStale(spark.read.parquet(path)).where(lit(false)))
          }
        }
      }
    }
    else Right((files, mayDuplicate))
  }

  /** Hot-label flattening: selected label keys are ALSO stored as physical
    * `lbl_<key>` columns next to the map, so equality/range predicates on
    * them push into parquet (row-group stats + dictionary pruning) — the
    * map column itself cannot prune. The map stays authoritative; the
    * flattened columns are denormalized copies dropped on read. */
  def appendFlattened(points: DataFrame, path: String, hotKeys: Seq[String]): Unit = {
    val flattened = hotKeys.foldLeft(points) { (df, k) =>
      df.withColumn(s"lbl_$k", element_at(col("labels"), k))
    }
    append(flattened, path)
  }

  /** Read with hot-label equality pushdown: `hotFilters` are applied to the
    * flattened columns (reaching the parquet scan), then dropped. */
  def readFlattened(spark: SparkSession, path: String,
                    startMs: Long, endMs: Long,
                    hotFilters: Map[String, String],
                    slackMs: Long = 0L): DataFrame = {
    val (base0, mayDuplicate) = readLiveInfo(spark, path, startMs, endMs, slackMs) match {
      case Right((files, d)) => (readPointFiles(spark, files, Some(path)), d)
      case Left(empty) => (empty, false)
    }
    val base = base0
      .where(col("date") >= to_date(timestamp_millis(lit(startMs - slackMs))) &&
        col("date") <= to_date(timestamp_millis(lit(endMs))))
    val filtered = hotFilters.foldLeft(base) { case (df, (k, v)) =>
      df.where(col(s"lbl_$k") === v)
    }
    // LWW guard AFTER the label filters (fewer rows shuffled): a (sig, t)
    // duplicate pair shares its labels, so both copies pass or fail the
    // same equality filters and the per-pair winner is unchanged.
    val guarded = if (mayDuplicate) lwwGuard(filtered) else filtered
    guarded.drop("date").drop(guarded.columns.filter(_.startsWith("lbl_")): _*)
  }

  /** Compact one or all day partitions: streaming `foreachBatch` appends
    * leave one small file per micro-batch per day — at fleet scale the
    * small-file count, not data volume, becomes the scan bottleneck (every
    * file costs a task + footer read). Compaction rewrites a day's live
    * files into ~`targetBytes` outputs re-clustered by (name, sig, t) — the
    * reference's TSM compaction merges write-order segments into
    * series-ordered files for the same reason (persistence/store.go).
    *
    * CONCURRENT-READER SAFE (MVCC via the day's commit log): the rewrite
    * stages into a dot-prefixed temp dir, moves its outputs INTO the live
    * day dir under `compacted-<gen>-` names (invisible until +listed), and
    * flips visibility with ONE commit — replaced files are -listed, never
    * renamed or deleted in place, so a reader planned against the old set
    * keeps every file it references. Dead files and superseded commits are
    * vacuumed by a LATER compaction once the commit that killed them is
    * older than `graceMs` (any reader that old has finished); a crash
    * before the commit leaves only unlisted `compacted-` orphans, which
    * readers never see and the vacuum removes. Returns the compacted
    * partition paths. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              onlyDay: Option[String] = None,
              graceMs: Long = 15 * 60 * 1000L,
              minFiles: Int = 2): Seq[String] = {
    // derive the FS from the store path, not the default FS — a store on
    // s3a:// with defaultFS=hdfs would otherwise rename on the wrong FS
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    sweepStages(fs, root, System.currentTimeMillis(), graceMs)
    MarkerLog.sweepSnapshots(fs, root, graceMs)
    val days = dayDirs(fs, root)
      .filter(s => onlyDay.forall(d => s.getPath.getName == s"date=$d"))
    val compacted = eachDay(days.map(_.getPath)) { dayPath => retryRewrite(dayPath) {
      vacuum(fs, dayPath, graceMs)
      // ---- rewrite the current live set when it is fragmented
      val st = dirState(fs, dayPath)
      val live = st.live
      if (live.length >= math.max(2, minFiles)) {
        val nOut = math.max(1, (live.map(_.getLen).sum / targetBytes).toInt)
        // reading the explicit live files keeps a racing appender's new
        // files out of this generation (they stay unlisted -> still live);
        // the normalized read makes the rewrite converge a mixed-layout
        // day to the uniform stale-carrying schema
        val raw = readPointFiles(spark, live.map(_.getPath.toString), None)
        // LAST-WRITE-WINS (sig, t) dedup, keeping the newest write stamp:
        // re-sent / replayed points collapse to one sample per (series, t)
        // — the guarantee Selectors.instant documents and the reference's
        // TSM cache/compaction enforce per (series, ts). Window-lag over
        // (sig)-clustered, (t, _seq desc)-ordered rows: the first row of
        // each t run is the newest write; one shuffle, series-parallel.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("sig")).orderBy(lwwOrder(raw.columns): _*)
        val deduped = raw
          .withColumn("_prevT", lag(col("t"), 1).over(w))
          .where(col("_prevT").isNull || col("_prevT") =!= col("t"))
          .drop("_prevT")
        publishRewrite(fs, dayPath, st, tmp =>
          deduped
            .repartition(nOut)
            .sortWithinPartitions(col("name"), col("sig"), col("t"))
            .write.options(bloomWriteOptions)
            .mode(SaveMode.Overwrite).parquet(tmp.toString))
        compactionsTotal.add(1L)
        Some(dayPath.toString)
      } else None
    }}
    // ---- fold the series-dictionary sidecar: rewrite the accumulated
    // per-batch dict files into ONE deduped file (same MVCC commit), so
    // readDict on a compacted store is a single-file read — no per-query
    // dedup shuffle, and the sidecar stops growing with append count (it
    // scales with live series again).
    val dictPath = new org.apache.hadoop.fs.Path(root, DictDir)
    val dictFolded = if (!fs.exists(dictPath)) None else retryRewrite(dictPath) {
      vacuum(fs, dictPath, graceMs)
      val st = dirState(fs, dictPath)
      val live = st.live.map(_.getPath.toString)
      if (live.length >= math.max(2, minFiles)) {
        publishRewrite(fs, dictPath, st, tmp =>
          dedupDict(spark.read.parquet(live: _*))
            .coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString))
        Some(dictPath.toString)
      } else None
    }
    compacted ++ dictFolded
  }

  /** Automatic compaction policy: compact only when fragmentation crosses
    * `maxLiveFiles` live files in some day partition (or the dict
    * sidecar). File COUNT is the trigger — not bytes — because the
    * documented fleet-scale bottleneck of foreachBatch ingest is the
    * per-file task + footer cost of thousands of micro-batch files, and
    * count is readable from one listing and the tip commit per dir.
    * Cheap when below threshold (one listing, no Spark job), so it is safe
    * to call on EVERY micro-batch; [[sink]] does exactly that, which keeps
    * per-day live-file count ≤ maxLiveFiles + batches-per-compaction
    * operationally, with no operator-remembered cron. */
  def maybeCompact(spark: SparkSession, path: String,
                   maxLiveFiles: Int = 16,
                   targetBytes: Long = 128L * 1024 * 1024,
                   graceMs: Long = 15 * 60 * 1000L): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val threshold = math.max(2, maxLiveFiles)
    val fragmented = fs.listStatus(root).toSeq.exists { s =>
      (s.isDirectory && s.getPath.getName.startsWith("date=") ||
        s.isDirectory && s.getPath.getName == DictDir) &&
        dirState(fs, s.getPath).live.length >= threshold
    }
    if (fragmented) compact(spark, path, targetBytes, None, graceMs, threshold)
    else Nil
  }

  /** Ready-made `writeStream.foreachBatch` store sink: exactly-once append
    * ([[appendOnce]]) plus the [[maybeCompact]] policy, so long-running
    * streaming ingest keeps its small-file count bounded — and LWW
    * convergence durable — without any manual compaction schedule. */
  def sink(path: String, maxLiveFiles: Int = 16,
           targetBytes: Long = 128L * 1024 * 1024,
           graceMs: Long = 15 * 60 * 1000L): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      appendOnce(batch, path, batchId)
      maybeCompact(batch.sparkSession, path, maxLiveFiles, targetBytes, graceMs)
      ()
    }

  /** Vacuum one commit-managed dir past the grace window (any reader that
    * planned against what goes has finished): the tip's dead files and
    * unpublished `compacted-` outputs once the tip is that old, superseded
    * commits and staged commit bodies ([[MarkerLog.CommitLog.vacuum]]). */
  private def vacuum(fs: org.apache.hadoop.fs.FileSystem,
                     dir: org.apache.hadoop.fs.Path, graceMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val st = dirState(fs, dir)
    if (st.view.tip.forall(_.mtime <= now - graceMs))
      st.files.foreach { f =>
        val n = f.getPath.getName
        if (st.minus.contains(n) || n.startsWith(CompactedPrefix) && !st.plus.contains(n) &&
            f.getModificationTime <= now - graceMs)
          MarkerLog.step("sweep", f.getPath)(fs.delete(f.getPath, false))
      }
    new MarkerLog.CommitLog(fs, dir).vacuum(st.view, graceMs)
  }

  /** Staging dirs of day rewrites, beside the dir they rewrite; swept with
    * the append stages ([[sweepStages]]). */
  private val RewriteStagePrefix = ".compact-tmp-"

  /** Stage `writeTmp`'s output into `dir` under unique `compacted-<gen>-`
    * names (invisible until +listed) and publish the commit that flips
    * visibility: replaced files are -listed, never renamed or deleted in
    * place, so a reader planned against the old set keeps every file it
    * references.
    *
    * `st` is the state the live set was read under, and the commit takes
    * the number after its tip. When a racing rewrite took that number
    * first, the staged outputs are discarded and [[RewriteLostException]]
    * thrown — the caller retries against the new live set. Without this a
    * compaction that read the pre-delete live set but published after a
    * deleteSeries would silently resurrect the deleted samples. */
  private def publishRewrite(fs: org.apache.hadoop.fs.FileSystem,
                             dir: org.apache.hadoop.fs.Path, st: DirState,
                             writeTmp: org.apache.hadoop.fs.Path => Unit): Unit = {
    val gen = MarkerLog.freshName()
    val tmp = new org.apache.hadoop.fs.Path(dir.getParent, s"$RewriteStagePrefix${dir.getName}-$gen")
    activeStages.add(tmp.getName)
    try {
      MarkerLog.step("write", tmp)(writeTmp(tmp))
      val parts = fs.listStatus(tmp).toSeq
        .filter(s => s.isFile && !isHidden(s.getPath.getName))
        .sortBy(_.getPath.getName)
      val outs = parts.zipWithIndex.map { case (p, i) =>
        val out = new org.apache.hadoop.fs.Path(dir, s"$CompactedPrefix$gen-$i.parquet")
        MarkerLog.step("move", out) {
          if (!fs.rename(p.getPath, out))
            throw new java.io.IOException(s"could not move ${p.getPath} to $out")
        }
        out
      }
      // previously-dead names still on disk must stay dead in the new
      // commit (they are append-named: unlisted would resurrect them)
      val onDisk = st.files.map(_.getPath.getName).toSet
      val body = outs.map("+" + _.getName) ++
        (st.live.map(_.getPath.getName) ++ st.minus.filter(onDisk)).map("-" + _)
      Option(publishTestHook.getAndSet(null)).foreach(_.apply())
      if (!new MarkerLog.CommitLog(fs, dir).publish(st.view, body)) {
        outs.foreach(o => MarkerLog.step("clear", o)(fs.delete(o, false)))
        throw new RewriteLostException(dir.toString)
      }
    } finally {
      activeStages.remove(tmp.getName)
      MarkerLog.step("clear", tmp)(fs.delete(tmp, true))
    }
  }

  /** Test seam: runs ONCE between reading a rewrite's tip and its commit —
    * the cross-process race window — then self-clears. Lets specs inject
    * a full concurrent rewrite exactly where a real racer could land. */
  private[sources] val publishTestHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** Admin deletion — the storage side of the Prometheus admin API's
    * POST /api/v1/admin/tsdb/delete_series (the reference serves the
    * route through the vendored web/api/v1/api.go:400,1608-1640, which
    * forwards the parsed matchers to TSDB Delete): remove every sample
    * matching `selector` (a PromQL series selector) with
    * `startMs <= t <= endMs`, immediately and durably.
    *
    * Parquet is immutable, so deletion is a REWRITE of each intersecting
    * day's live file set with the matching rows filtered out — published
    * through the same MVCC commit compaction uses, so concurrent
    * readers see the old complete set or the new complete set, never a
    * torn mix, and in-flight plans keep their files until the grace
    * window passes (this replaces the TSDB tombstone+compact dance: the
    * tombstone phase is unnecessary when the rewrite itself is
    * atomic-visible). Days with no matching rows are left untouched
    * (one scan decides), so the rewrite cost scales with the data that
    * actually changes — at 100 TB a one-series GDPR delete rewrites the
    * touched days only, each day in parallel like [[compact]].
    *
    * The `_dict` sidecar intentionally keeps the series entry: the dict
    * is documented as a SUPERSET of the data's series (crash rule in
    * [[append]]), and a sample-range delete cannot know whether other
    * days still hold the series. [[expire]]/[[compact]] fold it later.
    *
    * Returns the day-partition paths rewritten. */
  def deleteSeries(spark: SparkSession, path: String, selector: String,
                   startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue,
                   graceMs: Long = 15 * 60 * 1000L): Seq[String] = {
    val vs = graft.promql.Parser.parse(selector) match {
      case v: graft.promql.VectorSelector if v.offsetMs == 0 && v.at.isEmpty => v
      case _ => throw new IllegalArgumentException(
        s"not a plain series selector: $selector")
    }
    val matchers = vs.name.map(n => graft.promql.LabelMatcher(
      "__name__", graft.promql.MatchOp.Eq, n)).toSeq ++ vs.matchers
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    eachDay(daysWithin(fs, root, startMs, endMs).map(_.getPath)) { day => retryRewrite(day) {
      val st = dirState(fs, day)
      val live = st.live.map(_.getPath.toString)
      if (live.isEmpty) None
      else {
        val raw = readPointFiles(spark, live, None)
        val del = graft.engine.Compiler.matcherFilter(matchers,
          useLc = raw.columns.contains("_lc")) &&
          (if (startMs == Long.MinValue) lit(true) else col("t") >= startMs) &&
          (if (endMs == Long.MaxValue) lit(true) else col("t") <= endMs)
        if (raw.where(del).isEmpty) None
        else {
          publishRewrite(fs, day, st, tmp =>
            raw.where(!del)
              .repartition(live.length)
              .sortWithinPartitions(col("name"), col("sig"), col("t"))
              .write.options(bloomWriteOptions)
              .mode(SaveMode.Overwrite).parquet(tmp.toString))
          Some(day.toString)
        }
      }
    }}
  }

  /** Admin snapshot — POST /api/v1/admin/tsdb/snapshot (vendored
    * web/api/v1/api.go:402,1642-1676: TSDB Snapshot into
    * `snapshots/<name>` under the data dir): materialize the CURRENT
    * commit-visible file set as `snapshots/<name>/` — itself a readable
    * store holding one settled generation per dir. Hard-links when the
    * filesystem allows (the TSDB snapshot is hard-links too — O(files),
    * zero bytes copied), byte copy otherwise. Concurrent-writer safe the
    * same way readers are: each dir's live set is a complete published
    * generation. All-or-nothing ([[MarkerLog.snapshot]]): a crashed capture
    * leaves no `snapshots/<name>`. Returns the snapshot name. */
  def snapshot(spark: SparkSession, path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // readers never touch `snapshots/`: every store path lists `date=` dirs
    // explicitly
    val dirs = fs.listStatus(root).toSeq.filter(s => s.isDirectory &&
      (s.getPath.getName.startsWith("date=") || s.getPath.getName == DictDir))
    MarkerLog.snapshot(fs, root) { snap =>
      for (d <- dirs) {
        val out = new org.apache.hadoop.fs.Path(snap, d.getPath.getName)
        MarkerLog.step("mkdirs", out)(fs.mkdirs(out))
        // the tip rides along so the snapshot's `compacted-` files stay
        // visible under the same rules (its -listed dead names simply don't
        // exist there)
        val st = dirState(fs, d.getPath)
        for (f <- st.live.map(_.getPath) ++ st.view.tip.map(_.path))
          MarkerLog.link(fs, f, new org.apache.hadoop.fs.Path(out, f.getName))
      }
    }
  }

  /** Retention: drop whole day partitions older than the cutoff —
    * the reference deletes whole 24 h shards, never individual rows.
    * The series-dictionary sidecar is pruned with the data: entries whose
    * `lastDay` (newest day the series was written) predates the cutoff can
    * only reference expired partitions, so the dict keeps scaling with
    * LIVE series, not all-time series churn. The rewrite is dict-sized and
    * published with the same MVCC commit compaction uses. */
  def expire(spark: SparkSession, path: String, cutoffMs: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val cutoff = java.time.Instant.ofEpochMilli(cutoffMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val dropped = dayDirs(fs, root).map(_.getPath).filter(p =>
      java.time.LocalDate.parse(p.getName.stripPrefix("date=")).isBefore(cutoff))
    dropped.foreach(p => fs.delete(p, true))
    expiredShardsTotal.add(dropped.length.toLong)
    val dictPath = new org.apache.hadoop.fs.Path(root, DictDir)
    if (dropped.nonEmpty && fs.exists(dictPath)) retryRewrite(dictPath) {
      val st = dirState(fs, dictPath)
      val live = st.live.map(_.getPath.toString)
      if (live.nonEmpty) {
        val dict = spark.read.parquet(live: _*)
        if (dict.columns.contains("lastDay")) {
          publishRewrite(fs, dictPath, st, tmp =>
            dedupDict(dict)
              .where(col("lastDay") >= lit(cutoff.toString).cast("date"))
              .coalesce(1)
              .write.mode(SaveMode.Overwrite).parquet(tmp.toString))
        }
      }
    }
    dropped.map(_.toString)
  }
}
