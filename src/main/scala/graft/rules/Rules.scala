package graft.rules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Engine, LongParam}
import graft.model.Points

/** Recording and alerting rules on top of the engine (reference:
  * src/internal/rules/prom_manager.go:34-143 + vendored rules manager).
  *
  * The reference ticks every evaluation interval (1 min default,
  * metric_store.go:43), runs an instant query, and appends the result as
  * new series (`record:`) or tracks per-alert `for:` state. Here each tick
  * is one engine evaluation; the scheduler is the caller's (a Structured
  * Streaming trigger or a cron loop calling [[recordingTick]] /
  * [[alertingTick]] and appending to [[graft.sources.PointsStore]]).
  */
object Rules {

  final case class RecordingRule(record: String, expr: String,
                                 labels: Map[String, String] = Map.empty)
  final case class AlertingRule(alert: String, expr: String, forMs: Long,
                                labels: Map[String, String] = Map.empty)

  /** One recording-rule tick: evaluate at `tsMs`, rename to the rule name,
    * merge rule labels; result is appendable points. */
  def recordingTick(spark: SparkSession, points: DataFrame,
                    rule: RecordingRule, tsMs: Long,
                    lookbackMs: Long = 300000L): DataFrame = {
    val res = Engine.instantQuery(spark, points, rule.expr, tsMs, lookbackMs)
    val withLabels = rule.labels.foldLeft(
      res.withColumn("name", lit(rule.record))) { case (df, (k, v)) =>
      df.withColumn("labels", graft.engine.Labels.set(col("labels"), k, lit(v)))
    }
    Points.withSig(withLabels.select(col("name"), col("labels"), col("t"), col("value")))
  }

  /** Backfill a recording rule over a HISTORICAL range — promtool's
    * `tsdb create-blocks-from rules`, Spark-first: the whole
    * [startMs, endMs] grid evaluates as ONE range query (a single
    * declarative plan; a driver loop of per-step [[recordingTick]]s at a
    * year of 1-minute steps would schedule ~500k jobs), then renames and
    * labels exactly like the live tick. Each recorded point's timestamp
    * is its evaluation step. Result is appendable points — feed to
    * `PointsStore.append` to materialize the rule's history. */
  def backfill(spark: SparkSession, points: DataFrame, rule: RecordingRule,
               startMs: Long, endMs: Long, stepMs: Long,
               lookbackMs: Long = 300000L): DataFrame = {
    val res = Engine.rangeQuery(spark, points, rule.expr, startMs, endMs,
      stepMs, lookbackMs)
    val ts = if (res.columns.contains("step")) col("step") else col("t")
    val withLabels = rule.labels.foldLeft(
      res.withColumn("name", lit(rule.record))) { case (df, (k, v)) =>
      df.withColumn("labels", graft.engine.Labels.set(col("labels"), k, lit(v)))
    }
    Points.withSig(withLabels.select(col("name"), col("labels"),
      ts.as("t"), col("value")))
  }

  /** Fold a WHOLE grid of alerting ticks in ONE plan — the alerting
    * analog of [[backfill]] (ticks-as-data): instead of a driver loop of
    * per-tick [[alertingTick]]s (each a full Catalyst analysis + a state
    * checkpoint action), the rule's expr evaluates as a single range
    * query over [startMs, endMs] by stepMs, and the sequential
    * pending→firing `for:` fold becomes a gaps-and-islands window over
    * the per-step results: a series' `since` at the final tick is the
    * first step of the maximal run of CONSECUTIVE steps ending at the
    * final tick (a missing step resolves the alert, exactly like the
    * per-tick fold dropping an absent series), inheriting the seeded
    * `state`'s `since` when the run reaches back to the first tick.
    *
    * Returns (newState at the final tick, firing at the final tick) —
    * row-for-row what folding [[alertingTick]] over every grid tick
    * leaves (AlertGridSpec pins the equivalence, gaps and seeds
    * included). One window shuffle of the per-step results replaces
    * nSteps sequential plan analyses; use this for catch-up / replay /
    * gate evaluation, and [[alertingTick]] for live single ticks. */
  def alertingTickGrid(spark: SparkSession, points: DataFrame,
                       rule: AlertingRule, state: DataFrame,
                       startMs: Long, endMs: Long, stepMs: Long,
                       lookbackMs: Long = 300000L): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val grid = graft.engine.StepGrid(startMs, endMs, stepMs)
    val lastTick = startMs + (grid.nSteps - 1) * stepMs
    val res = Engine.rangeQuery(spark, points, rule.expr, startMs, endMs,
      stepMs, lookbackMs)
      .select(Points.sigOf(col("name"), col("labels")).as("sig"),
        col("labels"), col("t").as("_step"), col("value"))
    // gaps-and-islands with ONE window spec (partition sig, order step):
    // a run starts where the previous step is absent or non-adjacent; the
    // running max of run-start steps is the current run's first step
    val w = Window.partitionBy(col("sig")).orderBy(col("_step"))
    val runs = res
      .withColumn("_prevStep", lag(col("_step"), 1).over(w))
      .withColumn("_runStart", max(when(
        col("_prevStep").isNull || col("_prevStep") =!= col("_step") - stepMs,
        col("_step")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // a run reaching back to the FIRST tick continues the seeded state's
    // `since` (the per-tick fold's coalesce(prev.since, tick) chain)
    val seed = state.select(col("sig"), col("since").as("_seedSince"))
    val newState = runs
      .where(col("_step") === LongParam.of(lastTick))
      .join(seed, Seq("sig"), "left")
      .select(col("sig"), col("labels"),
        when(col("_runStart") === LongParam.of(startMs) && col("_seedSince").isNotNull,
          col("_seedSince")).otherwise(col("_runStart")).as("since"),
        col("value"))
    val firing = newState
      .where(LongParam.of(lastTick) - col("since") >= rule.forMs)
      .withColumn("alertname", lit(rule.alert))
    (newState, firing)
  }

  /** Alert state: one row per active (pending or firing) series.
    * Schema: sig LONG, labels MAP, since LONG (first tick the condition
    * held), value DOUBLE (latest). */
  def emptyState(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("sig", LongType), StructField("labels", MapType(StringType, StringType)),
        StructField("since", LongType), StructField("value", DoubleType))))
  }

  /** Alert transition event emitted by the streaming path. */
  final case class AlertEvent(sig: Long, alertname: String, status: String,
                              tMs: Long, value: Double)

  /** Per-series `for:` tracking state (public: Catalyst's encoder codegen
    * needs constructor access). */
  final case class AlertState(sinceMs: Long, firing: Boolean)

  /** Streaming per-series threshold alerting directly on a points stream:
    * `value > threshold for: forMs` tracked with
    * `flatMapGroupsWithState` — the stateful-streaming deployment of the
    * reference's pending→firing `for:` machinery for simple threshold
    * rules (complex PromQL rules go through the batch [[alertingTick]]
    * inside foreachBatch instead). Emits pending/firing/resolved
    * transition events in Append mode. */
  def streamingThresholdAlerts(
      spark: SparkSession,
      points: DataFrame, // streaming: sig, name, labels, t, value
      alertname: String,
      metric: String,
      threshold: Double,
      forMs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = points.where(col("name") === metric)
      .select(col("sig"), col("t"), col("value")).as[(Long, Long, Double)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (sig: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[AlertState]) => {
          val out = Seq.newBuilder[AlertEvent]
          var st = state.getOption
          rows.toSeq.sortBy(_._2).foreach { case (_, t, v) =>
            if (v > threshold) {
              st match {
                case None =>
                  st = Some(AlertState(t, firing = false))
                  out += AlertEvent(sig, alertname, "pending", t, v)
                case Some(s) if !s.firing && t - s.sinceMs >= forMs =>
                  st = Some(s.copy(firing = true))
                  out += AlertEvent(sig, alertname, "firing", t, v)
                case _ => ()
              }
            } else if (st.isDefined) {
              out += AlertEvent(sig, alertname, "resolved", t, v)
              st = None
            }
          }
          st match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          out.result().iterator
        })
      .toDF()
  }

  // ---- checkpointed deployment of full-PromQL alerting -----------------

  /** Directory under the state root holding the BATCHED all-rules state
    * table (one row per (alert, sig)); alert names are sanitized metric
    * names, which cannot collide with the dunder. */
  private val BatchedStateDir = "__all__"

  /** Newest `v=<ts>` version under `base` older than `beforeTs`, gated on
    * the _SUCCESS marker so a crash mid-write is invisible (the previous
    * version stays newest); `beforeTs` keeps a REPLAYED tick from reading
    * the version it is about to overwrite. */
  private def newestVersion(spark: SparkSession,
                            base: org.apache.hadoop.fs.Path,
                            beforeTs: Long): Option[Long] = {
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return None
    val versions = fs.listStatus(base).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(2).toLong)
      .filter(_ < beforeTs)
    if (versions.isEmpty) None else Some(versions.max)
  }

  /** Newest persisted `for:` state for `alert` under `stateDir` older than
    * `beforeTs` (its rows of the batched all-rules table), or the empty
    * state. */
  def loadAlertState(spark: SparkSession, stateDir: String, alert: String,
                     beforeTs: Long = Long.MaxValue): DataFrame =
    loadBatchedState(spark, stateDir, beforeTs)
      .where(col("alert") === alert)
      .select(col("sig"), col("labels"), col("since"), col("value"))

  /** Newest batched state (alert, sig, labels, since, value) older than
    * `beforeTs`, or the empty state. */
  private def loadBatchedState(spark: SparkSession, stateDir: String,
                               beforeTs: Long): DataFrame = {
    val batched = new org.apache.hadoop.fs.Path(s"$stateDir/$BatchedStateDir")
    newestVersion(spark, batched, beforeTs) match {
      case Some(v) => spark.read.parquet(s"$batched/v=$v")
      case None => emptyState(spark).select(lit("").as("alert"), col("*"))
    }
  }

  /** `writeStream.foreachBatch` sink running arbitrary-PromQL alerting on a
    * points stream: each micro-batch appends to the store, then ALL rules
    * tick at the batch's max sample time in ONE batched evaluation
    * ([[batchedPersistedTick]]): one unioned job, one state-version write,
    * one result collect — at hundreds of rules the per-rule variant was
    * hundreds of tiny jobs per tick. The store read is partition-pruned to
    * the exact union of absolute windows the rules' selectors can touch
    * ([[graft.engine.Guards.selectorWindowBounds]]): offsets and range
    * windows reach relatively, and an `@` pin resolves to its absolute
    * instant — so one pinned rule costs its pinned day(s), never a
    * full-retention scan. `onFiring` receives each rule's firing rows
    * (alertmanager notifier hook). */
  def alertingSink(storeDir: String, stateDir: String, rules: Seq[AlertingRule],
                   lookbackMs: Long = 300000L,
                   onFiring: (AlertingRule, Array[org.apache.spark.sql.Row]) => Unit =
                     (_, _) => ())
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    // exactly-once per micro-batch: a replayed batch (foreachBatch is
    // at-least-once) skips the append instead of double-counting every
    // downstream rate/count_over_time — the rules still tick, so a replay
    // after a crash-before-state-write recomputes the alert state
    graft.sources.PointsStore.appendOnce(batch, storeDir, batchId)
    val spark = batch.sparkSession
    val maxT = batch.agg(max(col("t"))).head.getAs[Any](0)
    if (maxT != null && rules.nonEmpty) {
      val tsMs = maxT.asInstanceOf[Long]
      val grid = graft.engine.StepGrid(tsMs, tsMs, 1000L)
      val bounds = rules.flatMap(r =>
        graft.engine.Guards.selectorWindowBounds(r.expr, grid, lookbackMs))
      val stored =
        if (bounds.isEmpty)
          graft.sources.PointsStore.read(spark, storeDir, tsMs - lookbackMs, tsMs)
        else prunedUnionRead(spark, storeDir, bounds)
      val firing = batchedPersistedTick(spark, stored, rules, stateDir, tsMs, lookbackMs,
        seriesDict = graft.sources.PointsStore.readDict(spark, storeDir))
      val rows = firing.collect()
      firing.unpersist()
      if (rows.nonEmpty) {
        val byAlert = rows.groupBy(_.getAs[String]("alertname"))
        rules.foreach { r =>
          byAlert.get(r.alert).foreach(rs => onFiring(r, rs))
        }
      }
    }
  }

  /** Merge selector windows into disjoint day-granularity intervals: two
    * windows merge when their [start, end] ranges touch the same or
    * adjacent UTC days (the store prunes at day granularity, so a finer
    * split buys nothing). An `@ 40d ago`-pinned rule alongside rules at
    * `now` thus costs its pinned day(s) plus the current day(s) — NOT the
    * 40-day hull between them. */
  private[graft] def mergeWindows(bounds: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val DayMs = 86400000L
    bounds.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, (s, e)) if s <= hi + DayMs =>
        (lo, math.max(hi, e)) :: rest
      case (acc, b) => b :: acc
    }.reverse
  }

  /** Read the store pruned to each merged window, unioned: the scan
    * touches only the days some rule's selector can reach. Selectors
    * re-filter by `t` inside the evaluation, so overlap between a rule's
    * window and another rule's days is filtered, never double-read. */
  private[graft] def prunedUnionRead(spark: SparkSession, storeDir: String,
                                     bounds: Seq[(Long, Long)]): DataFrame =
    mergeWindows(bounds)
      .map { case (lo, hi) => graft.sources.PointsStore.read(spark, storeDir, lo, hi) }
      .reduce(_.unionByName(_))

  /** One batched alerting tick over ALL rules: each rule's instant query is
    * compiled into one unioned plan tagged by alert name, joined against
    * the single (alert, sig)-keyed state table — per tick this is one
    * evaluation job and one state row set, however many rules there are.
    * Returns (newState, firing) like [[alertingTick]], with an `alert`
    * column on the state and an `alertname` column on the firing rows. */
  def batchedAlertingTick(spark: SparkSession, points: DataFrame,
                          rules: Seq[AlertingRule], state: DataFrame, tsMs: Long,
                          lookbackMs: Long = 300000L,
                          seriesDict: => Option[DataFrame] = None): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "batched tick needs at least one rule")
    // one plan choice (and at most one dictionary read) for all the rules
    val dict = Engine.dictFor(points, seriesDict)
    val evals = rules.map { r =>
      Engine.instantQuery(spark, points, r.expr, tsMs, lookbackMs, seriesDict = dict)
        .select(lit(r.alert).as("alert"),
          Points.sigOf(col("name"), col("labels")).as("sig"),
          col("labels"), col("value"))
    }.reduce(_.unionByName(_))
    val prev = state.select(col("alert"), col("sig"), col("since"))
    val newState = evals
      .join(prev, Seq("alert", "sig"), "left")
      .select(col("alert"), col("sig"), col("labels"),
        coalesce(col("since"), LongParam.of(tsMs)).as("since"), col("value"))
    // per-rule `for:` thresholds ride a broadcast of the rule list itself
    import spark.implicits._
    val thresholds = broadcast(
      rules.map(r => (r.alert, r.forMs)).toDF("alert", "forMs"))
    val firing = newState
      .join(thresholds, Seq("alert"))
      .where(LongParam.of(tsMs) - col("since") >= col("forMs"))
      .drop("forMs")
      .withColumn("alertname", col("alert"))
    (newState, firing)
  }

  /** Persisted deployment of [[batchedAlertingTick]]: load the newest
    * batched state, tick, write the successor as `stateDir/__all__/v=<tsMs>`
    * (idempotent on replay — the reference's rule manager re-reads its
    * persisted alert state on restart, prom_manager.go:34-143), prune all
    * but the two newest versions, and return the (cached) firing rows —
    * caller unpersists. */
  def batchedPersistedTick(spark: SparkSession, points: DataFrame,
                           rules: Seq[AlertingRule], stateDir: String, tsMs: Long,
                           lookbackMs: Long = 300000L,
                           seriesDict: => Option[DataFrame] = None): DataFrame = {
    val st = loadBatchedState(spark, stateDir, beforeTs = tsMs)
    val (newState, firing) = batchedAlertingTick(spark, points, rules, st, tsMs,
      lookbackMs, seriesDict)
    val out = firing.cache()
    out.count() // one materialization serves both the write and the caller
    val base = new org.apache.hadoop.fs.Path(s"$stateDir/$BatchedStateDir")
    newState.write.mode("overwrite").parquet(s"$base/v=$tsMs")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(base).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .map(s => (s.getPath.getName.drop(2).toLong, s.getPath))
      .sortBy(-_._1)
    versions.drop(2).foreach { case (_, p) => fs.delete(p, true) }
    out
  }

  /** One alerting tick. Returns (newState, firing):
    *  - a series in this tick's result keeps (or gains) `since`;
    *  - a series absent from the result is dropped (alert resolves);
    *  - firing = active series with tsMs - since >= forMs
    * (the reference's pending→firing `for:` transition). The caller
    * persists `newState` between ticks (Delta MERGE / parquet overwrite /
    * flatMapGroupsWithState in a streaming deployment). */
  def alertingTick(spark: SparkSession, points: DataFrame, rule: AlertingRule,
                   state: DataFrame, tsMs: Long,
                   lookbackMs: Long = 300000L): (DataFrame, DataFrame) = {
    val res = Engine.instantQuery(spark, points, rule.expr, tsMs, lookbackMs)
      .select(Points.sigOf(col("name"), col("labels")).as("sig"),
        col("labels"), col("value"))
    val prev = state.select(col("sig"), col("since"))
    val newState = res
      .join(prev, Seq("sig"), "left")
      .select(col("sig"), col("labels"),
        coalesce(col("since"), LongParam.of(tsMs)).as("since"), col("value"))
    val firing = newState
      .where(LongParam.of(tsMs) - col("since") >= rule.forMs)
      .withColumn("alertname", lit(rule.alert))
    (newState, firing)
  }
}
