package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Points
import graft.promql._

/** PromQL aggregation operators (`sum`, `avg`, ... `by`/`without`) as a
  * single hash aggregation per step — Catalyst gives partial+final (map-side
  * combine) for free, so the shuffle carries only per-(group, step) partials
  * at scale (reference implementation: single-threaded streamed hash agg,
  * vendor/.../promql/engine.go:2528-2875).
  */
object Aggregations {

  def eval(ae: AggregateExpr, ctx: EvalContext): VectorVal = {
    val v = Compiler.evalVector(ae.expr, ctx)
    ae.op match {
      case "topk" | "bottomk" => topBottomK(ae, v, ctx)
      case "count_values" => countValues(ae, v, ctx)
      case "quantile" => quantileAgg(ae, v, ctx)
      case "sum" => simple(ae, v, sum(col("value")))
      case "avg" =>
        // single-pass overflow-safe incremental mean ([[AvgAgg]], reference
        // engine.go:2694-2715) — no window pre-count, no second input pass
        simple(ae, v, AvgAgg.column(col("value")))
      case "count" => simple(ae, v, count(lit(1)).cast("double"))
      case "group" => simple(ae, v, first(lit(1.0)))
      // NaN is "largest" in Spark orderings: exclude from min/max unless the
      // whole group is NaN (engine.go:2719-2728 NaN-aware min/max)
      case "min" =>
        simple(ae, v, coalesce(min(when(isnan(col("value")), lit(null)).otherwise(col("value"))),
          lit(Double.NaN)))
      case "max" =>
        simple(ae, v, coalesce(max(when(isnan(col("value")), lit(null)).otherwise(col("value"))),
          lit(Double.NaN)))
      case "stddev" => simple(ae, v, stddev_pop(col("value")))
      case "stdvar" => simple(ae, v, var_pop(col("value")))
      case other => throw new IllegalArgumentException(s"unknown aggregator $other")
    }
  }

  /** Canonical string of the grouping-label subset — the aggregation's
    * group key. The by/without filter is fused into the native canonical
    * expression (`without` also drops __name__ — name is a separate column
    * here, dropped for every aggregation). */
  private def groupedCanonical(ae: AggregateExpr): Column =
    if (ae.without) CanonicalLabels.dropColumn(col("labels"), ae.grouping)
    else CanonicalLabels.keepColumn(col("labels"), ae.grouping)

  /** Rewrite labels to the grouping subset (count_values needs the map to
    * splice in its value label before grouping). */
  private def regroup(df: DataFrame, ae: AggregateExpr): DataFrame =
    df.withColumn("labels",
      if (ae.without) Labels.drop(col("labels"), ae.grouping)
      else Labels.keep(col("labels"), ae.grouping))

  private def finish(aggregated: DataFrame): VectorVal =
    VectorVal(aggregated.select(
      col("sig"), lit(null).cast("string").as("name"), col("labels"),
      col("step"), col("step").as("t"), col("value")))

  /** One hash aggregation keyed (canonical grouped-label STRING, step).
    * A map-typed `first(labels)` AGGREGATE BUFFER would force a
    * SortAggregate fallback (maps are not UnsafeRow-mutable), but GROUP
    * KEYS have no such restriction — so the canonical string is the key,
    * and the grouped labels map is reconstructed from it afterwards with
    * str_to_map (exact inverse of [[Points.canonical]]; the \u0001/\u0002
    * separators cannot appear in sanitized label text). Keeps the whole
    * operator a single codegen'd HashAggregate pass: no second evaluation
    * of the input vector, no join. */
  private def grouped(re: DataFrame, glc: Column, aggCols: Seq[Column]): DataFrame =
    re.withColumn("_glc", glc)
      .groupBy(col("_glc"), col("step"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("labels", Labels.fromCanonical(col("_glc")))
      .withColumn("sig", xxhash64(col("_glc")))
      .drop("_glc")

  /** The grouping-subset canonical computed on a series-DICTIONARY row —
    * a single-pass byte filter of the stored `_lc` ([[CanonicalSubset]]),
    * bit-identical to parsing the map and re-canonicalizing the subset
    * but without the per-dictionary-row map round trip. */
  private def groupedCanonicalOnDict(ae: AggregateExpr): Column =
    if (ae.without) CanonicalLabels.dropOnCanonical(col("_lc"), ae.grouping)
    else CanonicalLabels.keepOnCanonical(col("_lc"), ae.grouping)

  /** DICTIONARY-PATH aggregation: the group key is a pure function of the
    * series, so it is computed once per SERIES on the dictionary and
    * joined onto the slim rows as an 8-byte hash — the aggregation
    * exchange carries only primitives (the sample-row path hashes and
    * carries the grouped canonical STRING as its group key). The output
    * STAYS slim: rows are (sig = group hash, step, t, value) and the
    * derived dictionary maps group hash → (null name, grouped canonical),
    * group-count-sized — so chains like `sum by(x)(a) / sum by(x)(b)`
    * never materialize a label until the root. */
  private def slimGrouped(v: VectorVal, ae: AggregateExpr,
                          pre: DataFrame => DataFrame,
                          aggCols: Seq[Column]): VectorVal = {
    val d = v.dict.get
    if (ae.grouping.isEmpty && !ae.without) {
      // `sum(x)` with no by/without: ONE group — the grouped canonical of
      // EVERY series is the empty string ([[CanonicalLabels.build]] with
      // an empty keep set), so the group key is a constant. The
      // per-series dict passes (parse + re-canonicalize + hash + dedup
      // per dictionary row — two SortAggregate/Exchange rounds at
      // fleet-scale series counts) and the sig→group join are pure
      // overhead: aggregate by step alone and attach the constant sig
      // (xxhash64 of a literal — constant-folded) on the result-sized
      // output. Bit-identical sigs/labels to the general path.
      val out = pre(v.raw)
        .groupBy(col("step"))
        .agg(aggCols.head, aggCols.tail: _*)
        .select(xxhash64(lit("")).as("sig"), col("step"),
          col("step").as("t"), col("value"))
      val dAgg = d.sparkSession.range(1).select(xxhash64(lit("")).as("sig"),
        lit(null).cast("string").as("name"), lit("").as("_lc"))
      return VectorVal(out, Some(dAgg))
    }
    val glc = groupedCanonicalOnDict(ae)
    val gkey = d.select(col("sig"), xxhash64(glc).as("_gsig"))
    val out = pre(v.raw).join(gkey, Seq("sig"))
      .groupBy(col("_gsig"), col("step"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("_gsig").as("sig"), col("step"), col("step").as("t"), col("value"))
    val dAgg = d.select(xxhash64(glc).as("sig"),
      lit(null).cast("string").as("name"), glc.as("_lc"))
      .dropDuplicates("sig")
    VectorVal(out, Some(dAgg))
  }

  private def simple(ae: AggregateExpr, v: VectorVal, aggCol: Column): VectorVal =
    v.dict match {
      case Some(_) => slimGrouped(v, ae, identity, Seq(aggCol.as("value")))
      case None => finish(grouped(v.df, groupedCanonical(ae), Seq(aggCol.as("value"))))
    }

  /** Attach a per-step scalar parameter column `_p` (constant-folded when
    * the parameter is a literal expression). */
  private def withParam(df: DataFrame, param: Value): DataFrame = param match {
    case ScalarVal(_, Some(c)) => df.withColumn("_p", lit(c))
    case ScalarVal(sdf, None) =>
      df.join(broadcast(sdf.withColumnRenamed("value", "_p")), "step")
    case other => throw new IllegalArgumentException(
      s"aggregator parameter must be a scalar, got ${other.getClass.getSimpleName}")
  }

  private def quantileAgg(ae: AggregateExpr, v: VectorVal, ctx: EvalContext): VectorVal = {
    val p = Compiler.eval(ae.param.get, ctx)
    val aggCols = Seq(QuantileAgg.column(col("value"), col("_p")).as("value"))
    v.dict match {
      case Some(_) => slimGrouped(v, ae, withParam(_, p), aggCols)
      case None => finish(grouped(withParam(v.df, p), groupedCanonical(ae), aggCols))
    }
  }

  /** topk/bottomk keep the ORIGINAL series labels; NaN sorts away from both
    * the top and the bottom (engine.go:2740-2777). Two-phase: a bounded-
    * heap aggregate ([[TopKAgg]]) selects the k winning sigs per (group,
    * step) — map-side partials carry at most k entries, so the shuffle is
    * output-sized — then the winners join back to the vector for their
    * full rows. Output ordered by rank per group (the API layer surfaces
    * this ordering). Tie-break on (name, canonical labels): deterministic
    * AND reproducible by an external oracle (a hash tiebreak would not be). */
  /** The most winner rows (k × steps, one group) broadcast by topk/bottomk:
    * about 3 MB, under Spark's default broadcast threshold. */
  private[engine] val MaxBroadcastWinners = 100000L

  private def topBottomK(ae: AggregateExpr, v: VectorVal, ctx: EvalContext): VectorVal = {
    val p = Compiler.eval(ae.param.get, ctx)
    val gsig = if (ae.without) xxhash64(CanonicalLabels.dropColumn(col("labels"), ae.grouping))
               else xxhash64(CanonicalLabels.keepColumn(col("labels"), ae.grouping))
    val tie = concat_ws("\u0000",
      coalesce(col("name"), lit("")), Points.canonical(col("labels")))
    // topk SELECTS rows (original series labels survive), so a slim
    // operand stays slim end-to-end: the group hash and the tie-break
    // string are per-series functions — on the dictionary path computed
    // once per SERIES on the dict and joined in before the bounded-heap
    // aggregate (the tie string rides only map-side; partials carry at
    // most k entries per group, so the exchange stays output-sized) —
    // and the winners join back to the SLIM rows.
    val (src, vRows) = v.dict match {
      case Some(d) =>
        val gl = groupedCanonicalOnDict(ae) // string-level subset, no map round trip
        val aug = d.select(col("sig"), xxhash64(gl).as("_gsig"),
          concat_ws("\u0000", coalesce(col("name"), lit("")), col("_lc")).as("_tie"))
        (withParam(v.raw, p).join(aug, Seq("sig")), v.raw)
      case None =>
        (withParam(v.df, p).withColumn("_gsig", gsig).withColumn("_tie", tie), v.df)
    }
    val winners = src
      .groupBy(col("_gsig"), col("step"))
      .agg(TopKAgg.column(ae.op == "topk", col("value"), col("_tie"), col("sig"),
        col("_p").cast("double")).as("_sigs"))
      .select(col("_gsig"), col("step").as("_wstep"),
        posexplode(col("_sigs")).as(Seq("_rank", "_wsig")))
    // the winners hold k rows per group and step. When that is bounded at
    // build (a literal k, one group, few steps) they are pinned as the
    // broadcast side, so the join's plan no longer follows the runtime
    // sizes of its inputs, which flipped the side between two evaluation
    // times; otherwise (groups or steps unbounded) AQE sizes the join. On
    // the single plan both sides are one partition already: the winners
    // are pinned as a shuffled hash join's build side, which needs no
    // exchange, where a broadcast would cost a job
    val bounded = !ae.without && ae.grouping.isEmpty && (p match {
      case ScalarVal(_, Some(k)) => k * ctx.grid.nSteps <= MaxBroadcastWinners
      case _ => false
    })
    val pinned =
      if (ctx.singlePartition) winners.hint("shuffle_hash")
      else if (bounded) broadcast(winners)
      else winners
    val out = vRows
      .join(pinned,
        col("sig") === col("_wsig") && col("step") === col("_wstep"))
      .orderBy(col("step"), col("_gsig"), col("_rank"))
      .drop("_gsig", "_rank", "_wsig", "_wstep")
    VectorVal(out, v.dict)
  }

  /** count_values("lbl", v): count of series per distinct sample value; the
    * value is stringified into a new label (engine.go:2605-2630). Integral
    * values format without a decimal point, matching Go's shortest-form
    * float formatting. */
  private def countValues(ae: AggregateExpr, v: VectorVal, ctx: EvalContext): VectorVal = {
    val lbl = Compiler.constString(Compiler.eval(ae.param.get, ctx), "count_values label")
    val valueStr = when(
      col("value") === col("value").cast("long").cast("double"),
      col("value").cast("long").cast("string")
    ).otherwise(col("value").cast("string"))
    finish(grouped(
      regroup(v.df, ae)
        .withColumn("labels", Labels.set(col("labels"), lbl, valueStr)),
      Points.canonical(col("labels")),
      Seq(count(lit(1)).cast("double").as("value"))))
  }
}
