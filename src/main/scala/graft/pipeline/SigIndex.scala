package graft.pipeline

import graft.sources.MarkerLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Persisted signature index for INCREMENTAL deduplication — the state a
  * continuously-fed 100 TB pipeline dedups each arriving batch against:
  * one row per (kept document, LSH bucket), `doc_id LONG, bv LONG`.
  *
  * The index is a [[MarkerLog.BatchLog]] of `batch-<name>/` parquet
  * directories: appends publish atomically, a crashed append is invisible,
  * a racing second writer fails loud ([[graft.sources.ConcurrentWriterException]]),
  * and [[compact]] folds aged batches with publish-before-retire — a
  * concurrent reader sees at worst DUPLICATE signature rows, harmless
  * because every consumer here treats the index as a set.
  *
  * Streaming idempotence: the marker embeds the caller's batch name, so
  * a replayed `foreachBatch` can detect its own prior append (the
  * `_live.<ts>.b<batchId>` file), answer from its own batch directory
  * ([[readBatch]] — the appended sigs ARE the survivors'), and skip the
  * double write — see [[Dedup.incrementalOnce]].
  *
  * Files carry a parquet bloom filter on `bv`: a batch probes the index
  * with an `In(bv)` scan ([[Dedup.incremental]]), and the bloom skips
  * every row group holding none of the probed buckets — the same
  * footer-level pruning the points store uses for lone-series reads.
  */
object SigIndex {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("bv", LongType)))

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pairs(spark: SparkSession, dir: String) =
    new MarkerLog.BatchLog(fs(spark, dir), new Path(dir), "SigIndex", "batch-")

  /** The decision ledger: `decled-<gen>/`, newest `_decled.` marker wins. */
  private def ledger(spark: SparkSession, dir: String) =
    new MarkerLog.VersionPointer(fs(spark, dir), new Path(dir), DecLedgerPrefix, "decled-")

  /** Parquet bloom on the bucket value — sized like the store's adaptive
    * blooms: small micro-batch files get small bitsets, compacted row
    * groups the real thing. */
  private val bloomWriteOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#bv" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true",
    "parquet.bloom.filter.expected.ndv#bv" -> "262144")

  /** Append `sigs` (doc_id, bv) under batch name `name` (any unique
    * token; a streaming caller passes `b<batchId>` for replay
    * detection). Returns false when `name` already landed (live or
    * folded) — nothing is written.
    *
    * WRITER-SEQUENCE GUARD: batches are contractually SEQUENTIAL per
    * index (the foreachBatch shape) — two writers racing the same index
    * would each dedup against a state missing the other's batch and
    * silently keep one copy of a pair duplicated across them. Every
    * append claims sequence slot `seq` (default: the next one), so a
    * second writer fails loud instead of splitting survivors; its batch
    * directory is an unmarked orphan the next [[compact]] sweeps. */
  def append(sigs: DataFrame, dir: String, name: String,
             seq: Option[Long] = None): Boolean =
    pairs(sigs.sparkSession, dir).append(name, seq)(out =>
      sigs.select("doc_id", "bv")
        .write.options(bloomWriteOptions).mode("overwrite").parquet(out.toString))

  /** Freeze the index's CURRENT state under `dir/snapshots/<name>/` — a
    * fully valid index directory ([[MarkerLog.BatchLog.snapshotInto]]):
    * replay detection survives, and a pipeline RESTORED onto the snapshot
    * continues the sequential-writer ledger. `boiler-` decision sidecars
    * and the decision ledger ride along so line-dedup replays stay
    * exactly-once against the snapshot. Readers of the original never see
    * `snapshots/`, and a crashed capture publishes none
    * ([[MarkerLog.snapshot]]). Returns the snapshot name. */
  def snapshot(spark: SparkSession, dir: String): String = {
    val f = fs(spark, dir)
    MarkerLog.snapshot(f, new Path(dir)) { out =>
      val cap = pairs(spark, dir).snapshotInto(out)
      cap.entries.foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(DecisionPrefix))
          MarkerLog.linkTreeTolerant(f, st.getPath, new Path(out, n))
        else if (st.isFile) MarkerLog.stamped(DecFoldPrefix, n).foreach { case (ts, b) =>
          MarkerLog.touchMarker(f, out, DecFoldPrefix, b, ts)
        }
      }
      ledger(spark, dir).snapshotInto(out, cap.entries)
    }
  }

  /** The index rows colliding with a batch's bucket set — the shared
    * scan-prune discipline of every incremental consumer: the batch's
    * distinct bucket values become a pushed `In(bv)` predicate
    * (driver-bounded `take(maxProbe + 1)`) that the per-file blooms skip
    * row-group-wise; past the budget, a bucket-keyed left-semi join.
    * Returns the rows and whether the bounded In-probe path was taken
    * (callers broadcast derived sets only on that path). */
  def probedRows(idx: DataFrame, batchBvs: DataFrame,
                 maxProbe: Int): (DataFrame, Boolean) = {
    val probe = batchBvs.take(maxProbe + 1).map(_.getLong(0))
    if (probe.length <= maxProbe)
      (idx.where(col("bv").isInCollection(probe.toSeq)), true)
    else (idx.join(batchBvs, Seq("bv"), "left_semi"), false)
  }

  /** The sequence slot the NEXT append must claim — read this BEFORE
    * taking the index snapshot a batch dedups against, and pass it to
    * [[append]]: the claim then covers the whole read→dedup→append span,
    * so a second writer whose snapshot raced yours fails loud at its
    * claim even when the two `append` calls themselves never overlap
    * (the claim-time default only detects overlapping appends).
    *
    * PRECISELY what the guard detects: any two writers whose slot-read →
    * claim spans overlap collide on a slot and the later claim throws. A
    * writer whose ENTIRE span lands inside another's claim → marker gap
    * (milliseconds of driver-side filesystem calls, no Spark jobs) reads
    * the higher slot and passes undetected — the guard is a tripwire for
    * uncoordinated writers, not a lock; sequential dispatch (the
    * `foreachBatch` shape) remains the contract. */
  def nextAppendSeq(spark: SparkSession, dir: String): Long =
    pairs(spark, dir).nextSeq()

  /** Live batch names, via the markers. */
  def liveNames(spark: SparkSession, dir: String): Seq[String] =
    pairs(spark, dir).live

  /** Whether batch `name` has already landed: its `_live` marker exists,
    * or a `_seen` record says a compaction folded it. */
  def contains(spark: SparkSession, dir: String, name: String): Boolean =
    pairs(spark, dir).contains(name)

  /** The rows one batch appended — a replayed streaming batch derives
    * its survivor set from exactly these (the appended sigs ARE the
    * survivors'). None when the batch is not individually readable
    * (never landed, or a compaction folded its rows into the combined
    * directory). */
  def readBatch(spark: SparkSession, dir: String,
                name: String): Option[DataFrame] = {
    val log = pairs(spark, dir)
    if (!log.isLive(name)) None
    else Some(spark.read.schema(schema).parquet(log.batchPath(name).toString))
  }

  /** The live index relation — the union of marker-named directories;
    * empty (with schema) when nothing has landed. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val log = pairs(spark, dir)
    val names = log.live
    if (names.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema)
        .parquet(names.map(n => log.batchPath(n).toString): _*)
  }

  // ---- decision sidecars ---------------------------------------------------
  // [[graft.pipeline.Curation.dedupLinesIncremental]]'s frozen per-batch
  // decisions: tiny `boiler-<name>/` parquet dirs written BEFORE the
  // batch's pairs land, read back on replay. They deliberately outlive
  // pair folds (replay needs the decision, not the pairs), but a
  // long-running stream would accumulate one directory per batch forever
  // — so [[compact]] folds sidecars whose batch retired longer than
  // `decisionRetentionMs` ago into ONE ledger directory (`decled-<gen>/`,
  // a [[MarkerLog.VersionPointer]] flip), and replay transparently
  // falls back to the ledger: exactly-once survives the fold, directory
  // count stays bounded (recent sidecars + one ledger generation).

  private val DecisionPrefix = "boiler-"
  private val DecFoldPrefix = "_decfold."
  private val DecLedgerPrefix = "_decled."

  /** The frozen-decision sidecar directory for batch `name`. */
  def decisionPath(dir: String, name: String): String =
    s"$dir/$DecisionPrefix$name"

  /** The current decision-ledger directory. */
  private def currentLedger(spark: SparkSession, dir: String): Option[String] = {
    val led = ledger(spark, dir)
    led.current.map(g => led.versionPath(g).toString)
  }

  /** Batch `name`'s frozen decision values: from its sidecar while the
    * sidecar lives, from the fold ledger after [[compact]] retired it.
    * None when no decision was ever recorded under `name`. Throws when
    * the decision was recorded but DROPPED past the replay horizon
    * ([[compact]]'s `decisionReplayHorizonMs`) — a replay that old must
    * fail loud, never silently recompute a decision the original run
    * shipped differently. */
  def readDecision(spark: SparkSession, dir: String,
                   name: String): Option[Array[Long]] = {
    val f = fs(spark, dir)
    val side = new Path(decisionPath(dir, name))
    if (f.exists(side))
      Some(spark.read.parquet(side.toString).collect().map(_.getLong(0)))
    else currentLedger(spark, dir).flatMap { led =>
      // every folded sidecar contributed a NULL-bv sentinel row, so a
      // batch with an EMPTY decision set is still distinguishable from a
      // batch that never recorded one; a horizon-expired batch keeps ONE
      // tombstone row (exp = true) so this read can fail loud
      val raw = spark.read.parquet(led)
      val withExp = // ledgers written before the horizon existed lack exp
        if (raw.columns.contains("exp")) raw
        else raw.withColumn("exp", lit(false))
      val rows = withExp.where(col("name") === name)
        .select(col("bv"), col("exp")).collect()
      if (rows.isEmpty) None
      else if (rows.exists(_.getBoolean(1))) throw new IllegalStateException(
        s"decision for batch '$name' was dropped past the replay horizon " +
          "(compact decisionReplayHorizonMs) — a replay this old means the " +
          "stream rolled back past the retention contract; rerun against a " +
          "fresh index or raise the horizon")
      else Some(rows.filterNot(_.isNullAt(0)).map(_.getLong(0)))
    }
  }

  /** Fold decision sidecars of batches retired (`_seen`) longer than
    * `retentionMs` ago into the single ledger directory; grace-delay the
    * sidecar deletion so a replay that resolved the sidecar mid-fold
    * keeps its files, and vacuum superseded ledger generations on the
    * same grace.
    *
    * `horizonMs` BOUNDS THE LEDGER: a folded decision's DATA rows are
    * carried from ledger generation to ledger generation only while the
    * batch retired less than `horizonMs` ago; past that, the name
    * collapses to ONE tombstone row (`exp = true`) and a replay fails
    * loud through [[readDecision]] — mirroring the pair-side `_seen`
    * fail-loud — instead of the ledger growing by every batch's full
    * decision set forever. */
  private def foldDecisionSidecars(spark: SparkSession, dir: String,
                                   graceMs: Long, retentionMs: Long,
                                   horizonMs: Long): Unit = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    val now = System.currentTimeMillis()
    val seenTs = pairs(spark, dir).seenTimes
    val decFolded = MarkerLog.firstStamps(f, root, DecFoldPrefix)
    val sidecars = f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(DecisionPrefix)).map(_.drop(DecisionPrefix.length))
    val eligible = sidecars.filter(n => !decFolded.contains(n) &&
      seenTs.get(n).exists(_ <= now - retentionMs))
    // ledger names past the replay horizon collapse to tombstones (the
    // seenTs clock, same as retention); a rewrite is due when a new fold
    // lands OR a carried name newly crossed the horizon
    import spark.implicits._
    val horizonCut = now - horizonMs
    val expired: Seq[String] =
      seenTs.filter(_._2 <= horizonCut).keys.toSeq.sorted
    val priorLedger = currentLedger(spark, dir).map { p =>
      val raw = spark.read.parquet(p)
      val d = if (raw.columns.contains("exp")) raw // pre-horizon ledgers
        else raw.withColumn("exp", lit(false))
      d.select(col("name"), col("bv"), col("exp"))
    }
    lazy val priorNeedsExpiry: Boolean = priorLedger.exists(
      _.where(!col("exp"))
        .join(expired.toDF("name"), Seq("name"), "left_semi")
        .limit(1).count() > 0)
    if (eligible.nonEmpty || (expired.nonEmpty && priorNeedsExpiry)) {
      val sentinel = eligible.toDF("name")
        .select(col("name"), lit(null).cast("long").as("bv"),
          lit(false).as("exp"))
      val data = eligible.map(n =>
          spark.read.parquet(decisionPath(dir, n))
            .select(lit(n).as("name"), col("bv").cast("long"),
              lit(false).as("exp")))
        .foldLeft(sentinel)(_ unionByName _)
      val all0 = (priorLedger.toSeq :+ data).reduce(_ unionByName _)
      // horizon expiry: names past the horizon collapse to ONE tombstone
      // row — but ONLY names that actually have ledger rows (a name that
      // never recorded a decision must keep reading as None, not throw)
      val expiredDf = expired.toDF("name")
      val all1 =
        if (expired.isEmpty) all0
        else all0.join(expiredDf, Seq("name"), "left_anti").unionByName(
          all0.join(expiredDf, Seq("name"), "left_semi")
            .select(col("name")).distinct()
            .select(col("name"), lit(null).cast("long").as("bv"),
              lit(true).as("exp")))
      // idempotent under a fold replay (crash between the ledger marker
      // and the per-sidecar _decfold markers re-folds the same sidecars):
      // the decision SET shape survives the replay
      val all = all1.dropDuplicates("name", "bv", "exp")
      ledger(spark, dir).flip(MarkerLog.freshName())(out =>
        all.repartition(1).write.mode("overwrite").parquet(out.toString))
      eligible.foreach(MarkerLog.touchMarker(f, root, DecFoldPrefix, _))
    }
    // grace-delayed sidecar deletion: a replay that resolved the sidecar
    // before the fold keeps its files for the reader window. Re-read the
    // markers so those THIS pass's fold created age from a fresh clock (at
    // grace 0 the fold and the sweep land in one maintenance tick).
    val now2 = System.currentTimeMillis()
    MarkerLog.firstStamps(f, root, DecFoldPrefix)
      .filter(_._2 <= now2 - graceMs).foreach { case (n, _) =>
        f.delete(new Path(decisionPath(dir, n)), true)
        MarkerLog.dropMarkers(f, root, DecFoldPrefix, n)
      }
    ledger(spark, dir).vacuum(graceMs)
  }

  /** Fold AGED live directories into one and retire the originals
    * ([[MarkerLog.BatchLog.compact]]: publish-before-retire, slot-ledger
    * trim, grace vacuum of retired and orphaned directories), and sweep
    * the partial snapshots crashed captures left.
    *
    * `graceMs` guards the streaming replay contract: only batches whose
    * marker is older than the grace window fold, so a replayed
    * `foreachBatch` (which recomputes its survivors from its OWN batch
    * directory — [[readBatch]]) always still finds it; a replay arriving
    * after the grace window means the stream rolled back past a
    * long-committed checkpoint, and the folded batch is recorded in a
    * `_seen.<ts>.<name>` marker so the caller can fail loud instead of
    * double-appending.
    *
    * `decisionRetentionMs` bounds the DECISION-SIDECAR lifecycle
    * ([[decisionPath]]): sidecars of batches retired longer than the
    * retention fold into the single `decled-` ledger (replay falls back
    * to it transparently — [[readDecision]]), keeping the directory
    * count bounded for a long-running stream.
    *
    * `decisionReplayHorizonMs` bounds the LEDGER itself: a folded
    * decision's data rows live in the ledger only while the batch retired
    * less than the horizon ago; past it the name collapses to one
    * tombstone row and a replay FAILS LOUD ([[readDecision]]) instead of
    * the ledger carrying every batch's full decision set forever. */
  def compact(spark: SparkSession, dir: String,
              graceMs: Long = 15 * 60 * 1000L,
              decisionRetentionMs: Long = 24 * 3600 * 1000L,
              decisionReplayHorizonMs: Long = 7 * 24 * 3600 * 1000L): Unit = {
    if (!fs(spark, dir).exists(new Path(dir))) return
    val log = pairs(spark, dir)
    log.compact(graceMs) { (aged, foldName) =>
      spark.read.schema(schema)
        .parquet(aged.map(n => log.batchPath(n).toString): _*).distinct()
        .write.options(bloomWriteOptions).mode("overwrite")
        .parquet(log.batchPath(foldName).toString)
      true
    }
    // AFTER the pair fold: the `_seen` records it just wrote start the
    // decision-retention clock for the folded batches' sidecars
    foldDecisionSidecars(spark, dir, graceMs, decisionRetentionMs,
      decisionReplayHorizonMs)
    MarkerLog.sweepSnapshots(log.fs, log.root, graceMs)
  }
}
