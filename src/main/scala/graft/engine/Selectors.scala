package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Points

/** Evaluation step grid for a range query: timestamps
  * `start, start+step, ..., <= end` (epoch ms). An instant query is the
  * degenerate grid `start == end` (reference: instant = 1-step range eval,
  * vendor/.../promql/engine.go:686-742).
  */
final case class StepGrid(startMs: Long, endMs: Long, stepMs: Long,
                          times: LongParam.Rebind = LongParam.Never) {
  require(stepMs > 0, "step must be positive")
  require(endMs >= startMs, "end must be >= start")
  val nSteps: Long = (endMs - startMs) / stepMs + 1

  /** A value derived from this grid's times, as a parameter that follows
    * them when a cached plan is rebound ([[PlanCache]]). */
  def param(value: Long): Column = LongParam.of(value, times)

  /** This grid moved back by `offsetMs` (an `offset` modifier). */
  def shifted(offsetMs: Long): StepGrid = copy(startMs - offsetMs, endMs - offsetMs)

  /** The one-step grid of an `@` pin at `ts`: it follows the query's times
    * for `@ start()`/`@ end()` and is fixed for an absolute timestamp. */
  def pinned(ts: Long, absolute: Boolean): StepGrid =
    StepGrid(ts, ts, 1, if (absolute) LongParam.Fixed else times)

  /** One-row-per-step DataFrame: (step: Long). The start is a
    * [[LongParam]]: the generated code is the same at every time. */
  def df(spark: SparkSession): DataFrame =
    spark.range(nSteps).select((param(startMs) + col("id") * stepMs).as("step"))
}

/** PromQL selectors over the canonical points relation.
  *
  * Both selectors assign each sample to the grid steps it can serve with a
  * pure per-row `explode(sequence(kLo, kHi))` — integer arithmetic on the
  * step index, no range join and no shuffle before the per-(series, step)
  * aggregation. The explode factor is bounded by `window/step + 1`, and
  * Catalyst keeps the label matchers pushed down to parquet; the `t` bounds
  * are [[LongParam]]s, filtered after the scan. At 100 TB this is a single
  * scan + one hash aggregation whose output is result-sized.
  *
  * Reference semantics:
  *  - instant selector: newest sample in `(step - lookback, step]`, skipping
  *    staleness markers (vendor/.../promql/engine.go:1678-1727,1882-1946).
  *  - range selector: all samples in `(step - range, step]`
  *    (vendor/.../promql/engine.go:1948-1996).
  */
object Selectors {

  /** Explode points to (all original columns, step) for a trailing CLOSED
    * window `[step - w, step]` (this reference vintage includes both window
    * edges — vendor/.../promql/engine.go vectorSelectorSingle /
    * matrixIterSlice use `t >= mint`): a sample at `t` serves step indices
    * k in [ceil((t-start)/step), floor((t+w-start)/step)] ∩ [0, nSteps).
    * The pre-filter keeps the floor arithmetic in non-negative territory. */
  def explodeToSteps(points: DataFrame, grid: StepGrid, windowMs: Long,
                     tally: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // a one-step grid serves only its start: an end past it (a range with
    // end - start < step, an unaligned subquery inner grid) must not admit
    // later samples; an instant grid (end == start) keeps the same bound
    // every time-derived value is a [[LongParam]], so one query shape
    // compiles once whatever its times; only the step and the window (the
    // query's shape) stay literals
    val tMax = if (grid.nSteps == 1) grid.startMs else grid.endMs
    val start = grid.param(grid.startMs)
    val bounded = points.where(col("t") >= grid.param(grid.startMs - windowMs) &&
      col("t") <= grid.param(tMax))
    // the MaxSamples meter wraps the step column: it is evaluated exactly
    // once per (sample, window) row — the reference's per-step sample
    // accounting — inside the same codegen'd pipeline (no second scan),
    // and step feeds every downstream aggregation so it is never pruned
    def counted(stepCol: Column): Column = tally match {
      case Some(acc) => org.apache.spark.sql.graftbridge.ColumnBridge.column(
        TallySamples(org.apache.spark.sql.graftbridge.ColumnBridge.expression(stepCol), acc))
      case None => stepCol
    }
    if (grid.nSteps == 1) {
      // DEGENERATE (instant-query) grid: every bounded sample serves step 0
      // and only step 0 — kLo = max(0, ceil((t-start)/step)) = 0 for t <=
      // start, kHi = min(0, floor((t+w-start)/step)) = 0 for t >= start-w,
      // both implied by the bound above — so the per-row floor arithmetic
      // and the explode(sequence(...)) Generate (a Long-array allocation
      // per sample) are pure overhead on the engine's biggest relation.
      // Same rows, same step values, one WholeStageCodegen span.
      bounded.withColumn("step", counted(start))
    } else {
      val withK = bounded
        .withColumn("_kLo", greatest(lit(0L),
          floor((col("t") - start + grid.stepMs - 1) / grid.stepMs).cast("long")))
        .withColumn("_kHi", least(LongParam.of(grid.nSteps - 1, LongParam.Fixed),
          floor((col("t") + windowMs - start) / grid.stepMs).cast("long")))
        .where(col("_kLo") <= col("_kHi"))
      withK
        .withColumn("step", explode(sequence(col("_kLo"), col("_kHi"))))
        .withColumn("step", counted(start + col("step") * grid.stepMs))
        .drop("_kLo", "_kHi")
    }
  }

  /** Instant vector selector: per (series, step), the newest sample within
    * the lookback horizon — INCLUDING staleness markers, which then knock
    * the series out for that step (a stale marker "ends" the series until a
    * newer real sample; reference: vendor/.../promql/engine.go:1910-1916).
    *
    * Single-pass codegen'd HashAggregate shape: the labels MAP never enters
    * the aggregation — a map-typed buffer would force a SortAggregate
    * fallback (maps are not UnsafeRow-mutable) — but GROUP KEYS have no
    * mutability restriction, so the series identity rides as the canonical
    * label STRING (computed once per input row, BEFORE the explode). The
    * aggregates are declarative max/max_by over primitives, and the labels
    * map is reconstructed from the canonical key on the result-sized
    * output. One scan, one shuffle of result-sized partials, no join.
    *
    * Assumes at most one sample per (series, t) — guaranteed by the
    * store's last-write-wins semantics (the reference's TSM storage
    * dedupes per (series, ts) the same way).
    *
    * Output: sig, name, labels, step, t, value. */
  def instant(points: DataFrame, grid: StepGrid,
              lookbackMs: Long = Points.DefaultLookbackMs,
              tally: Option[org.apache.spark.util.LongAccumulator] = None,
              seriesDict: Option[DataFrame] = None): DataFrame = seriesDict match {
    case Some(dict) if points.columns.contains("sig") =>
      instantSlim(points, grid, lookbackMs, tally)
        .join(dict.select(col("sig"), col("name"), col("_lc")), Seq("sig"))
        .select(col("sig"), col("name"),
          Labels.fromCanonical(col("_lc")).as("labels"), col("step"),
          col("t"), col("value"))
    case _ =>
      val slim = withStaleFlag(points).select(
        col("name"), lcOf(points).as("_lc"),
        col("t"), col("value"), col("stale"))
      explodeToSteps(slim, grid, lookbackMs, tally)
        .groupBy(col("name"), col("_lc"), col("step"))
        .agg(
          max(col("t")).as("t"),
          max_by(col("value"), col("t")).as("value"),
          max_by(col("stale"), col("t")).as("stale"))
        .where(!col("stale"))
        .select(xxhash64(col("name"), col("_lc")).as("sig"), col("name"),
          Labels.fromCanonical(col("_lc")).as("labels"), col("step"),
          col("t"), col("value"))
  }

  /** DICTIONARY-PATH instant selector core (store-backed relations with a
    * persisted sig): group by the 8-byte sig alone — the exchange carries
    * only primitives — leaving (name, labels) to be joined back from the
    * persisted sidecar at RESULT size (broadcast when small, shuffled
    * series-sized otherwise). At fleet scale this removes the ~100-byte
    * canonical string from every partial row of the selector's shuffle.
    * Callers either restore immediately ([[instant]]) or carry the slim
    * rows further as a slim [[VectorVal]] so binop joins stay string-free.
    *
    * Output: sig, step, t, value. */
  def instantSlim(points: DataFrame, grid: StepGrid,
                  lookbackMs: Long = Points.DefaultLookbackMs,
                  tally: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val slim = withStaleFlag(points).select(
      col("sig"), col("t"), col("value"), col("stale"))
    explodeToSteps(slim, grid, lookbackMs, tally)
      .groupBy(col("sig"), col("step"))
      .agg(
        max(col("t")).as("t"),
        max_by(col("value"), col("t")).as("value"),
        max_by(col("stale"), col("t")).as("stale"))
      .where(!col("stale"))
      .drop("stale")
  }

  /** Range (matrix) selector: all samples per (series, step) in
    * `(step - range, step]`; stale markers are simply absent samples here.
    * One output row per sample — feed to a range kernel (groupBy sig, step).
    *
    * Like [[instant]], the labels map is replaced by its canonical string
    * `_lc` (computed once per input row, before the explode) so downstream
    * range aggregations never carry maps; consumers rebuild the map on
    * their result-sized output via [[Labels.fromCanonical]].
    *
    * Output: sig, name, _lc, step, t, value. */
  /** The dict path's pre-explode input: slim (sig, t, value) samples. */
  def slimSamples(points: DataFrame): DataFrame =
    dropStale(points).select(col("sig"), col("t"), col("value"))

  def range(points: DataFrame, grid: StepGrid, rangeMs: Long,
            tally: Option[org.apache.spark.util.LongAccumulator] = None,
            seriesDict: Option[DataFrame] = None): DataFrame = seriesDict match {
    case Some(_) if points.columns.contains("sig") =>
      // DICTIONARY PATH: the exploded window rows — the largest relation
      // in the engine (samples × window/step) — carry only primitives;
      // the range kernels aggregate by (sig, step) and join (name, _lc)
      // back from the sidecar on their result-sized output.
      explodeToSteps(slimSamples(points), grid, rangeMs, tally)
        .select(col("sig"), col("step"), col("t"), col("value"))
    case _ =>
      explodeToSteps(
        dropStale(points).select(col("sig"), col("name"),
          lcOf(points).as("_lc"), col("t"), col("value")),
        grid, rangeMs, tally)
        .select(col("sig"), col("name"), col("_lc"), col("step"), col("t"), col("value"))
  }

  /** Canonical label string source: the STORED `_lc` column when the
    * relation carries one (PointsStore persists it at ingest — canonical
    * computed once per sample at write, not once per sample per query),
    * falling back to computing it from the map. `coalesce` covers mixed
    * directories where older files predate the column. */
  private def lcOf(points: DataFrame): Column =
    if (points.columns.contains("_lc"))
      coalesce(col("_lc"), Points.canonical(col("labels")))
    else Points.canonical(col("labels"))

  /** Remove staleness-marker rows if the relation carries a `stale` flag
    * column (reference: special NaN excluded from selection,
    * vendor/.../promql/engine.go:1910-1916). */
  def dropStale(points: DataFrame): DataFrame =
    if (points.columns.contains("stale")) points.where(!col("stale")).drop("stale")
    else points

  private def withStaleFlag(points: DataFrame): DataFrame =
    if (points.columns.contains("stale")) points
    else points.withColumn("stale", lit(false))
}
