package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Points
import graft.promql._

/** AST → DataFrame evaluator. The whole expression is compiled into ONE
  * declarative Spark plan covering every grid step (set-oriented, unlike the
  * reference's per-step interpreter loop, vendor/.../promql/engine.go:1112);
  * Catalyst then supplies pushdown, pruning, partial aggregation and the
  * distributed physical plan.
  */
object Compiler {

  def eval(expr: Expr, ctx: EvalContext): Value =
    ctx.memo.getOrElseUpdate(expr, evalUncached(expr, ctx))

  /** Evaluate one node, guarding its materialization against duplicate
    * labelsets when this node is a collision PRODUCER
    * ([[Engine.producesCollision]]) — the reference errors at every vector
    * materialization (engine.go:1930-1934); producer-side guarding
    * reproduces that at the same expression depth (an inner collision
    * raises even when a later aggregation would re-unify it) while leaving
    * provably-clean shapes untouched. */
  private def evalUncached(expr: Expr, ctx: EvalContext): Value = {
    val v = evalRaw(expr, ctx)
    v match {
      case vv: VectorVal if ctx.strictCollision && Engine.producesCollision(expr) =>
        VectorVal(Collision.guard(vv.df))
      case other => other
    }
  }

  private def evalRaw(expr: Expr, ctx: EvalContext): Value = expr match {
    case NumberLiteral(v) =>
      ScalarVal(ctx.grid.df(ctx.spark).withColumn("value", lit(v)), const = Some(v))
    case StringLiteral(s) => StringVal(s)
    case ParenExpr(e) => eval(e, ctx)
    case vs: VectorSelector => evalVectorSelector(vs, ctx)
    case ms: MatrixSelector => evalMatrixSelector(ms, ctx)
    case sq: SubqueryExpr => evalSubquery(sq, ctx)
    case ae: AggregateExpr => Aggregations.eval(ae, ctx)
    case be: BinaryExpr => BinOps.eval(be, ctx)
    case UnaryExpr("+", e) => eval(e, ctx)
    case UnaryExpr(_, e) =>
      eval(e, ctx) match {
        case ScalarVal(df, c) => ScalarVal(df.withColumn("value", -col("value")), c.map(-_))
        case vv: VectorVal => VectorVal(Labels.dropName(
          vv.df.withColumn("value", -col("value")).withColumn("t", col("step"))))
        case other => throw new IllegalArgumentException(s"unary minus on $other")
      }
    case Call(fn, args) => Functions.eval(fn, args, ctx)
  }

  /** Evaluate to an instant vector (errors otherwise). */
  def evalVector(expr: Expr, ctx: EvalContext): VectorVal = eval(expr, ctx) match {
    case v: VectorVal => v
    case other => throw new IllegalArgumentException(
      s"expected instant vector, got ${other.getClass.getSimpleName}")
  }

  // ---- selectors --------------------------------------------------------

  /** Label matchers → one pushdown-friendly filter Column
    * (reference: matcher conjunction, filter_translator.go:48-70).
    * PromQL regexes are fully anchored; missing labels match "".
    *
    * `useLc = true` (store relations with a persisted, fully-populated
    * `_lc` column — the series-dictionary layout guarantees it) rewrites
    * EQUALITY matchers as substring predicates on the canonical string:
    * `labels[k] = v` ⟺ the padded canonical contains the escaped entry
    * `kv`. The rewrite is EXACT, not a pre-filter:
    * CanonicalLabels' shifted escape keeps raw separator bytes out of
    * escaped content, so the pattern can only match at a true entry
    * boundary — no false positive even for adversarial label text
    * containing separator bytes. The scan never materializes the labels
    * MAP at all for eq/neq-only selectors — one dictionary-encoded string
    * compare per row instead of per-row map assembly, which dominated the
    * pruned-day instant canary. Regex matchers keep the map path. */
  def matcherFilter(matchers: Seq[LabelMatcher], useLc: Boolean = false): Column = {
    val sep1 = "\u0001"
    val sep2 = "\u0002"
    lazy val padded = concat(lit(sep1), col("_lc"), lit(sep1))
    def lcHasEntry(k: String, v: String): Column =
      padded.contains(lit(sep1 + CanonicalLabels.escapeString(k) + sep2 +
        CanonicalLabels.escapeString(v) + sep1))
    def lcHasKey(k: String): Column =
      padded.contains(lit(sep1 + CanonicalLabels.escapeString(k) + sep2))
    // missing label ≡ empty value: k="" matches absent k OR an
    // empty-valued entry
    def lcEq(k: String, v: String): Column =
      if (v.nonEmpty) lcHasEntry(k, v)
      else !lcHasKey(k) || lcHasEntry(k, "")
    val cs = matchers.map { m =>
      def target =
        if (m.name == "__name__") coalesce(col("name"), lit(""))
        else Labels.get(col("labels"), m.name)
      m.op match {
        case MatchOp.Eq if useLc && m.name != "__name__" => lcEq(m.name, m.value)
        case MatchOp.NotEq if useLc && m.name != "__name__" => !lcEq(m.name, m.value)
        case MatchOp.Eq => target === m.value
        case MatchOp.NotEq => target =!= m.value
        case MatchOp.Re => target.rlike("\\A(?:" + m.value + ")\\z")
        case MatchOp.NotRe => !target.rlike("\\A(?:" + m.value + ")\\z")
      }
    }
    cs.foldLeft(lit(true))(_ && _)
  }

  /** Max matching-series count for the lone-series In(sig, …) pushdown in
    * [[selectorPoints]]; above it the matcher keeps the semi-join shape.
    * Small on purpose: the In list is duplicated into every scan task's
    * row-group filter evaluation, and 64 longs is the regime where
    * per-row-group bloom probes beat a join exchange outright. */
  private val MaxSigPushdown = 64

  /** Memoized lone-series probes, keyed by (dictionary file set,
    * selector): the `take(65)` probe is a small driver-side Spark job at
    * PLAN time, and a dashboard re-issuing the same selector every few
    * seconds would otherwise pay it on every query. The dictionary's
    * resolved file listing IS its generation — an append or compaction
    * flips the live set and naturally invalidates the entry — so a
    * repeated query plans with zero extra jobs while a changed store
    * re-probes. Overflow results (weakly-selective matchers) are cached
    * too, so they stop paying the probe as well. Entries are ≤ 65 longs;
    * the map is cleared wholesale at a generous cap rather than LRU-
    * tracked. */
  private val probeCache = new java.util.concurrent.ConcurrentHashMap[
    (Seq[String], Option[String], Seq[LabelMatcher]), Array[Long]]()
  private val ProbeCacheMax = 4096

  private def selectorPoints(vs: VectorSelector, ctx: EvalContext): DataFrame = {
    val base = vs.name match {
      case Some(n) => ctx.points.where(col("name") === n)
      case None => ctx.points
    }
    val dict = ctx.seriesDict.filter(_ => base.columns.contains("sig"))
    val labelMatchers = vs.matchers.filterNot(_.name == "__name__")
    dict match {
      case Some(d) if labelMatchers.nonEmpty =>
        // DICTIONARY-EVALUATED MATCHERS: a matcher is a pure function of
        // the series, so evaluate the whole conjunction once per SERIES
        // on the dictionary (equality via the exact `_lc` substring
        // rewrite, regex via the rebuilt map) and semi-join the matching
        // sigs onto the scan. The scan then reads NO string column at
        // all — (sig, t, value) plus the pushed name equality — and the
        // per-row predicate is an 8-byte hash probe instead of a string
        // contains over every sample. Matcher cost scales with series
        // count, not sample count. `__name__` matchers stay on the scan:
        // the name equality prunes row groups there ((name,sig,t)
        // clustering), and the dictionary side applies them too so the
        // broadcast set is as small as both filters make it.
        val named = vs.name match {
          case Some(n) => d.where(col("name") === n)
          case None => d
        }
        val matching = named
          .withColumn("labels", Labels.fromCanonical(col("_lc")))
          .where(matcherFilter(vs.matchers, useLc = true))
          .select(col("sig"))
        val nameFiltered = vs.matchers.filter(_.name == "__name__")
          .foldLeft(base)((df, m) => df.where(matcherFilter(Seq(m))))
        // LONE-SERIES PUSHDOWN: when the matcher conjunction selects only
        // a handful of series (the dashboard "one instance" query), ship
        // the sigs as an In() predicate instead of a semi-join — Spark
        // pushes In(sig, …) into the parquet scan, where the per-row-group
        // dictionary and bloom filters written by PointsStore skip every
        // row group not holding those series, so the scan cost tracks the
        // SERIES' row groups, not the metric's. The probe is bounded:
        // take(N+1) short-circuits on the dict (compacted = one small
        // file), and a weakly-selective matcher (user=~".+" over millions
        // of series) overflows the probe and keeps the semi-join below.
        // memoize only FILE-BACKED dictionaries: the file listing is the
        // generation key, and an in-memory dict (inputFiles empty) would
        // collide with every other such dict on the same selector
        val dictFiles = d.inputFiles.toSeq.sorted
        val probe =
          if (dictFiles.isEmpty) matching.take(MaxSigPushdown + 1).map(_.getLong(0))
          else {
            val cacheKey = (dictFiles, vs.name, vs.matchers)
            Option(probeCache.get(cacheKey)).getOrElse {
              val fresh = matching.take(MaxSigPushdown + 1).map(_.getLong(0))
              if (probeCache.size > ProbeCacheMax) probeCache.clear()
              probeCache.put(cacheKey, fresh)
              fresh
            }
          }
        if (probe.length <= MaxSigPushdown)
          nameFiltered.where(col("sig").isInCollection(probe.toSeq))
        else
          // no broadcast() hint: a compacted dict is file-sized-estimable
          // and auto-broadcasts when small, while the weakly-selective case
          // must NOT be forced driver-side — the planner (or AQE, from the
          // matching set's runtime size) falls back to a shuffled
          // left_semi, sig-partitioned and primitive-only, which is the
          // safe shape at that scale
          nameFiltered.join(matching, Seq("sig"), "left_semi")
      case Some(_) =>
        // name-only selector: equality already pushed; nothing to join
        base.where(matcherFilter(vs.matchers, useLc = base.columns.contains("_lc")))
      case None =>
        base.where(matcherFilter(vs.matchers))
    }
  }

  /** Resolve the effective eval-time pin of a selector: `@` is an absolute
    * timestamp, start()/end() the query bounds (engine.go:2922-2961). */
  private def pinnedTs(at: AtModifier, grid: StepGrid): Long = at match {
    case AtModifier.Start => grid.startMs
    case AtModifier.End => grid.endMs
    case AtModifier.At(ts) => ts
  }

  /** The one-step grid a selector pinned by `at` (then moved back by
    * `offsetMs`) evaluates on. */
  private def pinnedGrid(at: AtModifier, offsetMs: Long, grid: StepGrid): StepGrid =
    grid.pinned(pinnedTs(at, grid) - offsetMs, at.isInstanceOf[AtModifier.At])

  def evalVectorSelector(vs: VectorSelector, ctx: EvalContext): VectorVal = {
    val pts = selectorPoints(vs, ctx)
    val grid = ctx.grid
    // dictionary path: the selector stays SLIM — (sig, step, t, value) with
    // the dict attached to the VectorVal — so a consuming binop's join
    // exchanges carry no strings; every other consumer restores lazily via
    // VectorVal.df at exactly the point the old eager join sat
    val dict = ctx.seriesDict.filter(_ => pts.columns.contains("sig"))
    def sel(g: StepGrid): DataFrame = dict match {
      case Some(_) => Selectors.instantSlim(pts, g, ctx.lookbackMs, ctx.sampleTally)
      case None => Selectors.instant(pts, g, ctx.lookbackMs, ctx.sampleTally)
    }
    vs.at match {
      case None =>
        if (vs.offsetMs == 0L) {
          VectorVal(sel(grid), dict)
        } else {
          VectorVal(sel(grid.shifted(vs.offsetMs)).withColumn("step", col("step") + vs.offsetMs), dict)
        }
      case Some(at) =>
        // step-invariant: evaluate once at the pinned ts, replicate across grid
        val once = sel(pinnedGrid(at, vs.offsetMs, grid)).drop("step")
        VectorVal(once.crossJoin(broadcast(grid.df(ctx.spark))), dict)
    }
  }

  def evalMatrixSelector(ms: MatrixSelector, ctx: EvalContext): MatrixVal = {
    val vs = ms.vs
    val pts = selectorPoints(vs, ctx)
    val grid = ctx.grid
    val dict = ctx.seriesDict.filter(_ => pts.columns.contains("sig"))
    vs.at match {
      case None =>
        // fold kernels can re-derive the explode from the slim pre-explode
        // samples with the shuffle moved before the window multiplication
        def slimOf(g: StepGrid, shiftMs: Long): Option[SlimRange] =
          dict.map(_ => SlimRange(Selectors.slimSamples(pts), g, ms.rangeMs,
            shiftMs, ctx.sampleTally))
        if (vs.offsetMs == 0L) {
          MatrixVal(Selectors.range(pts, grid, ms.rangeMs, ctx.sampleTally, dict),
            ms.rangeMs, dict = dict, slim = slimOf(grid, 0L))
        } else {
          val shifted = grid.shifted(vs.offsetMs)
          MatrixVal(Selectors.range(pts, shifted, ms.rangeMs, ctx.sampleTally, dict)
            .withColumn("step", col("step") + vs.offsetMs),
            ms.rangeMs, windowEndMsOffset = vs.offsetMs, dict = dict,
            slim = slimOf(shifted, vs.offsetMs))
        }
      case Some(at) =>
        val pin = pinnedGrid(at, vs.offsetMs, grid)
        val once = Selectors.range(pts, pin, ms.rangeMs, ctx.sampleTally, dict).drop("step")
        MatrixVal(once.crossJoin(broadcast(grid.df(ctx.spark))), ms.rangeMs,
          pinned = Some(pin), dict = dict)
    }
  }

  /** The grid a subquery's inner expression evaluates on, when the
    * subquery itself is evaluated on `grid`, and whether no inner step
    * falls in its range. The inner steps sit at absolute multiples of the
    * inner step (reference engine.go:1327-1331), so the inner grid does not
    * move with the query's times: its parameters are never rebound. The
    * aligned start can pass the outer end: the subquery is then empty (the
    * reference's step loop runs zero times), and the inner expression is
    * built on its one step. */
  def subqueryGrid(sq: SubqueryExpr, grid: StepGrid,
                   defaultSubqueryStepMs: Long): (StepGrid, Boolean) = {
    val innerStep = sq.stepMs.getOrElse(defaultSubqueryStepMs)
    val (outerStart, outerEnd) = sq.at match {
      case Some(at) =>
        val ts = pinnedTs(at, grid) - sq.offsetMs
        (ts, ts)
      case None => (grid.startMs - sq.offsetMs, grid.endMs - sq.offsetMs)
    }
    var innerStart = outerStart - sq.rangeMs
    if (innerStart % innerStep != 0) {
      innerStart = innerStart - Math.floorMod(innerStart, innerStep) + innerStep
    }
    (StepGrid(innerStart, math.max(innerStart, outerEnd), innerStep), innerStart > outerEnd)
  }

  /** Subquery `expr[range:step]`: evaluate the inner expr on its own finer
    * grid (absolute-aligned, reference engine.go:1313-1344), then treat the
    * inner result as a points relation feeding the outer range window. */
  def evalSubquery(sq: SubqueryExpr, ctx: EvalContext): MatrixVal = {
    val grid = ctx.grid
    val (innerGrid, noSteps) = subqueryGrid(sq, grid, ctx.defaultSubqueryStepMs)
    val inner = evalVector(sq.expr,
      ctx.copy(grid = innerGrid, memo = scala.collection.mutable.Map.empty))
    // inner vector -> points: the sample time is the inner step
    val innerPoints = inner.df.select(
      col("sig"), col("name"), col("labels"),
      col("step").as("t"), col("value"))
    val asPoints = if (noSteps) innerPoints.limit(0) else innerPoints
    sq.at match {
      case Some(at) =>
        val pin = pinnedGrid(at, sq.offsetMs, grid)
        val once = Selectors.range(asPoints, pin, sq.rangeMs).drop("step")
        MatrixVal(once.crossJoin(broadcast(grid.df(ctx.spark))), sq.rangeMs,
          pinned = Some(pin))
      case None =>
        if (sq.offsetMs == 0L) {
          MatrixVal(Selectors.range(asPoints, grid, sq.rangeMs), sq.rangeMs)
        } else {
          MatrixVal(Selectors.range(asPoints, grid.shifted(sq.offsetMs), sq.rangeMs)
            .withColumn("step", col("step") + sq.offsetMs),
            sq.rangeMs, windowEndMsOffset = sq.offsetMs)
        }
    }
  }

  /** A scalar argument that must be a compile-time constant (quantile φ,
    * topk k, clamp bounds...). The reference evaluates these per step; in
    * practice they are literals, and constant folding covers arithmetic on
    * literals. */
  def constScalar(v: Value, what: String): Double = v match {
    case ScalarVal(_, Some(c)) => c
    case _ => throw new IllegalArgumentException(
      s"$what must be a constant scalar expression in this engine")
  }

  def constString(v: Value, what: String): String = v match {
    case StringVal(s) => s
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }
}
