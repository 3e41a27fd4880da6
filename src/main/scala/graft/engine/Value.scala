package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runtime value kinds of the PromQL evaluator, set-oriented: every kind is a
  * DataFrame spanning ALL grid steps at once (the reference evaluates
  * step-by-step in a loop, vendor/.../promql/engine.go:1112; we evaluate the
  * whole grid as one relational plan).
  *
  *  - [[VectorVal]]: instant vector — one row per (series, step).
  *    Columns: sig LONG, name STRING, labels MAP, step LONG, t LONG, value DOUBLE.
  *  - [[MatrixVal]]: range vector — all window samples per (series, step),
  *    plus the window length that produced it (rate/increase extrapolation
  *    needs it). Columns: sig LONG, name STRING, _lc STRING (canonical
  *    label string — consumers rebuild the map on their result-sized
  *    output via Labels.fromCanonical), step, t, value.
  *  - [[ScalarVal]]: per-step scalar — columns: step LONG, value DOUBLE.
  *  - [[StringVal]]: a string literal (driver-side).
  */
sealed trait Value

/** Instant vector. Two physical representations share the type:
  *
  *  - FULL (`dict == None`): `raw` carries sig, name, labels MAP, step,
  *    t, value — `df` is `raw` itself.
  *  - SLIM (`dict == Some`): `raw` carries ONLY (sig, step, t, value) —
  *    store-backed selector output on the series-dictionary path. `df`
  *    lazily joins (name, labels) back from the dictionary at RESULT
  *    size, so consumers that need the label map pay for it exactly
  *    where the old eager join sat, while slim-aware consumers
  *    ([[BinOps]]) keep every per-(series, step) exchange string-free
  *    and do the restore after their own result-sized join.
  */
final case class VectorVal(raw: DataFrame, dict: Option[DataFrame] = None)
    extends Value {
  /** Full rows (sig, name, labels, step, t, value). */
  lazy val df: DataFrame = dict match {
    case Some(d) =>
      import org.apache.spark.sql.functions.col
      raw.join(d.select(col("sig"), col("name"), col("_lc")), Seq("sig"))
        .select(col("sig"), col("name"),
          Labels.fromCanonical(col("_lc")).as("labels"),
          col("step"), col("t"), col("value"))
    case None => raw
  }
}

/** `windowEndMsOffset`: the range window actually ends at
  * `step - windowEndMsOffset` in sample time (non-zero for `offset`
  * selectors, where the output step is shifted back to query time but the
  * samples — and the extrapolation window — live at selector time). `@`
  * pins make the offset step-invariant via `pinned`, the one-step grid
  * the pinned window ends on. */
final case class MatrixVal(
    df: DataFrame,
    rangeMs: Long,
    windowEndMsOffset: Long = 0L,
    pinned: Option[StepGrid] = None,
    /** When set (store-backed reads with a series dictionary), `df`
      * carries ONLY (sig, step, t, value) — no name/_lc strings — and
      * consumers join (name, _lc) back from this dictionary on their
      * result-sized aggregated output. */
    dict: Option[DataFrame] = None,
    /** Dict path only: the slim PRE-EXPLODE samples with the explode
      * parameters. Fold kernels (sample-retaining
      * TypedImperativeAggregates) re-derive their input from this as
      * repartition(sig) → explode, which moves the one shuffle BEFORE the
      * window multiplication: the wire carries one (sig, t, value) row
      * per SAMPLE instead of per-(series, step) buffers each serializing
      * ~window/step copies of its samples (measured ~25% off the whole
      * rate-canary pipeline). Builtin-agg kernels (count/sum/…_over_time)
      * keep `df`: their partials CONDENSE, so aggregate-then-shuffle is
      * the cheaper order for them. */
    slim: Option[SlimRange] = None) extends Value {
  /** Column expression for the true window end (sample-time ms). */
  def windowEnd: org.apache.spark.sql.Column = pinned match {
    case Some(g) => g.param(g.startMs)
    case None => org.apache.spark.sql.functions.col("step") - windowEndMsOffset
  }
}
/** Ingredients to re-run a range selector's explode on re-partitioned
  * input: the slim pre-explode samples (sig, t, value), the (possibly
  * offset-shifted) grid, the window, the post-explode step shift (offset
  * selectors), and the MaxSamples tally the original explode carried —
  * threading it keeps the in-scan meter exact when the re-derived plan is
  * the one that executes. */
final case class SlimRange(
    pre: DataFrame, grid: StepGrid, windowMs: Long, stepShiftMs: Long,
    tally: Option[org.apache.spark.util.LongAccumulator])

final case class ScalarVal(df: DataFrame, const: Option[Double] = None) extends Value
final case class StringVal(s: String) extends Value

/** Everything an evaluation needs: the points relation, the step grid, and
  * engine knobs (lookback horizon = reference 5m default,
  * src/internal/metric-store/metric_store.go:301; default subquery
  * resolution = reference 1m, metric_store.go:234-244).
  *
  * `memo` caches evaluated subtrees within ONE evaluation (same grid):
  * repeated selectors/subexpressions — ubiquitous in real PromQL — compile
  * to the identical DataFrame instance, so Catalyst's ReusedExchange
  * dedupes the physical work (the reference's one-Select-per-selector
  * reuse, engine.go:893). Subquery evaluation swaps in a fresh memo
  * because the inner grid differs. */
final case class EvalContext(
    spark: SparkSession,
    points: DataFrame,
    grid: StepGrid,
    lookbackMs: Long = 300000L,
    defaultSubqueryStepMs: Long = 60000L,
    memo: scala.collection.mutable.Map[graft.promql.Expr, Value] =
      scala.collection.mutable.Map.empty,
    /** In-scan MaxSamples meter ([[TallySamples]]): when set, every selector
      * counts its per-step samples into this accumulator as the query runs —
      * no separate budget pre-scan. */
    sampleTally: Option[org.apache.spark.util.LongAccumulator] = None,
    /** Default-on duplicate-labelset detection at every provably-collidable
      * vector materialization ([[Collision]]). */
    strictCollision: Boolean = true,
    /** Series dictionary sig -> (name, _lc) of the points relation
      * ([[graft.sources.PointsStore.readDict]]): when present, instant
      * selectors aggregate on the 8-byte sig alone and join the labels
      * back at result size — no label string rides the selector's
      * exchange. */
    seriesDict: Option[DataFrame] = None,
    /** The points relation is one partition ([[Engine.PlanChoice]]'s
      * single plan): a join pinned to a side must not broadcast it, which
      * would add a job, where a shuffle-free join needs none. */
    singlePartition: Boolean = false)
