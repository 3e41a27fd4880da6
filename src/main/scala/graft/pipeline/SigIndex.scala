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
  * The index is `batch-<name>/` parquet directories under a
  * [[MarkerLog.IndexLog]]: every commit names the live batches, the folded
  * names, the decision ledger and the folded decision sidecars. Appends
  * publish atomically, a crashed append is invisible, a racing second
  * writer fails loud ([[graft.sources.ConcurrentWriterException]]), and
  * [[compact]] swaps aged batches for their fold in one commit.
  *
  * Streaming idempotence: the commit names the caller's batch, so a
  * replayed `foreachBatch` can detect its own prior append (batch
  * `b<batchId>`), answer from its own batch directory ([[readBatch]] — the
  * appended sigs ARE the survivors'), and skip the double write — see
  * [[Dedup.incrementalOnce]].
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

  private val BatchPrefix = "batch-"

  /** The index's commit log: a state names its live batch directories
    * and its decision ledger directory. */
  private[pipeline] def log(spark: SparkSession, dir: String) =
    new MarkerLog.IndexLog(fs(spark, dir), new Path(dir), "SigIndex",
      s => s.live.map(BatchPrefix + _) ++ s.only(MarkerLog.Ledger).map(_._1),
      Seq(s"$BatchPrefix*", s"$LedgerPrefix*"))

  private def batchPath(dir: String, name: String): String = s"$dir/$BatchPrefix$name"

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
    * append publishes at commit number `seq` (default: the next one), so
    * a second writer fails loud instead of splitting survivors; its batch
    * directory is an unnamed orphan the next [[compact]] sweeps. */
  def append(sigs: DataFrame, dir: String, name: String,
             seq: Option[Long] = None): Boolean =
    appendAll(sigs.sparkSession, dir, Seq(name), seq)((_, out) =>
      sigs.select("doc_id", "bv")
        .write.options(bloomWriteOptions).mode("overwrite").parquet(out.toString))

  /** [[append]] of several batches in ONE commit: `write` fills each
    * batch's directory. False, writing nothing, when any name already
    * landed. */
  private[graft] def appendAll(spark: SparkSession, dir: String, names: Seq[String],
                               seq: Option[Long] = None)(write: (String, Path) => Unit): Boolean = {
    val lg = log(spark, dir)
    val (v, st) = lg.read()
    if (names.exists(st.landed)) return false
    val at = seq.getOrElse(v.next)
    names.foreach { n =>
      val out = new Path(batchPath(dir, n))
      MarkerLog.step("write", out)(write(n, out))
    }
    lg.append(names, at)()
    true
  }

  /** Freeze the index's CURRENT state under `dir/snapshots/<name>/` — a
    * fully valid index directory ([[MarkerLog.IndexLog.snapshot]]): replay
    * detection survives, and a pipeline RESTORED onto the snapshot
    * continues the sequential-writer guard. `boiler-` decision sidecars
    * and the decision ledger ride along so line-dedup replays stay
    * exactly-once against the snapshot. Readers of the original never see
    * `snapshots/`, and a crashed capture publishes none. Returns the
    * snapshot name. */
  def snapshot(spark: SparkSession, dir: String): String = {
    val f = fs(spark, dir)
    def linked(rel: String, out: Path): Boolean =
      MarkerLog.linkTreeTolerant(f, new Path(dir, rel), new Path(out, rel))
    log(spark, dir).snapshot() { (st, out) =>
      f.listStatus(new Path(dir)).foreach { e =>
        if (e.isDirectory && e.getPath.getName.startsWith(DecisionPrefix))
          linked(e.getPath.getName, out)
      }
      val gone = st.live.filterNot(n => linked(BatchPrefix + n, out))
      val kept = st.drop(MarkerLog.Live, gone)
      st.only(MarkerLog.Ledger).fold(kept) { case (led, _) =>
        if (linked(led, out)) kept else kept.drop(MarkerLog.Ledger, Seq(led))
      }
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

  /** The commit number the NEXT append publishes at — read this BEFORE
    * taking the index snapshot a batch dedups against, and pass it to
    * [[append]]: the number then covers the whole read→dedup→append span,
    * so a second writer whose snapshot raced yours fails loud at its
    * publish even when the two `append` calls themselves never overlap.
    *
    * PRECISELY what the guard detects: of writers that read one number,
    * one publishes at it and every other finds a batch landed at or after
    * it and throws. Commits that land no batch (folds, flips) do not count as a
    * race. The guard is a tripwire for uncoordinated writers, not a lock;
    * sequential dispatch (the `foreachBatch` shape) remains the contract. */
  def nextAppendSeq(spark: SparkSession, dir: String): Long =
    log(spark, dir).read()._1.next

  /** Live batch names, oldest first. */
  def liveNames(spark: SparkSession, dir: String): Seq[String] =
    log(spark, dir).state.live

  /** Whether batch `name` has already landed: live, or folded by a
    * compaction. */
  def contains(spark: SparkSession, dir: String, name: String): Boolean =
    log(spark, dir).state.landed(name)

  /** The rows one batch appended — a replayed streaming batch derives
    * its survivor set from exactly these (the appended sigs ARE the
    * survivors'). None when the batch is not individually readable
    * (never landed, or a compaction folded its rows into the combined
    * directory). */
  def readBatch(spark: SparkSession, dir: String,
                name: String): Option[DataFrame] = {
    if (!log(spark, dir).state(MarkerLog.Live).contains(name)) None
    else Some(spark.read.schema(schema).parquet(batchPath(dir, name)))
  }

  /** The live index relation — the union of the directories the tip
    * commit names; empty (with schema) when nothing has landed. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val names = liveNames(spark, dir)
    if (names.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(names.map(batchPath(dir, _)): _*)
  }

  // ---- decision sidecars ---------------------------------------------------
  // [[graft.pipeline.Curation.dedupLinesIncremental]]'s frozen per-batch
  // decisions: tiny `boiler-<name>/` parquet dirs written BEFORE the
  // batch's pairs land, read back on replay. They deliberately outlive
  // pair folds (replay needs the decision, not the pairs), but a
  // long-running stream would accumulate one directory per batch forever
  // — so [[compact]] folds sidecars whose batch retired longer than
  // `decisionRetentionMs` ago into ONE ledger directory (`decled-<gen>/`,
  // named by the commit that also records the sidecars as folded), and
  // replay transparently falls back to the ledger: exactly-once survives
  // the fold, directory count stays bounded (recent sidecars + one ledger
  // generation).

  private val DecisionPrefix = "boiler-"
  private val LedgerPrefix = "decled-"

  /** The frozen-decision sidecar directory for batch `name`. */
  def decisionPath(dir: String, name: String): String =
    s"$dir/$DecisionPrefix$name"

  /** The current decision-ledger directory. */
  private def currentLedger(spark: SparkSession, dir: String): Option[String] =
    log(spark, dir).state.only(MarkerLog.Ledger).map(l => s"$dir/${l._1}")

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

  /** Fold decision sidecars of batches retired (folded) longer than
    * `retentionMs` ago into the single ledger directory, and grace-delay
    * the sidecar deletion so a replay that resolved the sidecar mid-fold
    * keeps its files.
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
    val lg = log(spark, dir)
    val st = lg.state
    val seenTs = st(MarkerLog.Seen)
    val decFolded = st(MarkerLog.DecFold)
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
    val prior = st.only(MarkerLog.Ledger)
    val priorLedger = prior.map { case (p, _) =>
      val raw = spark.read.parquet(s"$dir/$p")
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
      // idempotent under a fold replay (a sidecar that outlived its fold
      // folds again): the decision SET shape survives the replay
      val all = all1.dropDuplicates("name", "bv", "exp")
      val led = s"$LedgerPrefix${MarkerLog.freshName()}"
      MarkerLog.step("write", new Path(root, led))(
        all.repartition(1).write.mode("overwrite").parquet(s"$dir/$led"))
      // one commit names the new ledger AND records its sidecars as
      // folded; a racing fold that moved the ledger first wins, and this
      // ledger directory is an orphan the vacuum sweeps
      val at = System.currentTimeMillis()
      lg.commit { (_, s) =>
        if (s.only(MarkerLog.Ledger) != prior) None
        else Some(eligible.foldLeft(s.set(MarkerLog.Ledger, led, at))(
          _.put(MarkerLog.DecFold, _, at)))
      }
    }
    // grace-delayed sidecar deletion: a replay that resolved the sidecar
    // before the fold keeps its files for the reader window. Re-read the
    // state so the sidecars THIS pass folded age from a fresh clock (at
    // grace 0 the fold and the sweep land in one maintenance tick).
    val now2 = System.currentTimeMillis()
    val done = lg.state(MarkerLog.DecFold).filter(_._2 <= now2 - graceMs).keys.toSeq
    if (done.nonEmpty) {
      done.foreach { n =>
        val side = new Path(decisionPath(dir, n))
        MarkerLog.step("sweep", side)(f.delete(side, true))
      }
      lg.commit((_, s) => Some(s.drop(MarkerLog.DecFold, done)))
    }
  }

  /** Fold AGED live directories into one, swapping them for the fold in
    * one commit ([[MarkerLog.IndexLog.fold]]), then vacuum retired commits,
    * the directories no remaining commit names and the partial snapshots
    * crashed captures left ([[MarkerLog.IndexLog.vacuum]]).
    *
    * `graceMs` guards the streaming replay contract: only batches
    * published longer than the grace window ago fold, so a replayed
    * `foreachBatch` (which recomputes its survivors from its OWN batch
    * directory — [[readBatch]]) always still finds it; a replay arriving
    * after the grace window means the stream rolled back past a
    * long-committed checkpoint, and the folded batch stays named as
    * folded so the caller can fail loud instead of double-appending.
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
    val lg = log(spark, dir)
    lg.fold(graceMs) { (aged, foldName) =>
      val out = new Path(batchPath(dir, foldName))
      MarkerLog.step("write", out)(
        spark.read.schema(schema).parquet(aged.map(batchPath(dir, _)): _*).distinct()
          .write.options(bloomWriteOptions).mode("overwrite").parquet(out.toString))
      true
    }
    // AFTER the pair fold: the folded times it just recorded start the
    // decision-retention clock for the folded batches' sidecars
    foldDecisionSidecars(spark, dir, graceMs, decisionRetentionMs,
      decisionReplayHorizonMs)
    lg.vacuum(graceMs)
    MarkerLog.sweepSnapshots(lg.fs, lg.root, graceMs)
  }
}
