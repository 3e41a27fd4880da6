package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.promql.{AggregateExpr, BinaryExpr, Call, Expr, ParenExpr, Parser, SubqueryExpr, UnaryExpr}

/** Public query API: PromQL text + points relation + time bounds →
  * DataFrame. Mirrors the reference's two query entry points
  * (GET /api/v1/query and /api/v1/query_range, SURVEY §3.1-3.2) minus the
  * HTTP layer: an instant query is a single-step range query.
  *
  * Output schema: name STRING, labels MAP<STRING,STRING>, t LONG (epoch ms
  * of the evaluation step), value DOUBLE. Scalar results return (t, value).
  *
  * A series dictionary (`seriesDict`, [[graft.sources.PointsStore.readDict]])
  * selects the slim plan, and only when [[planChoice]] says the read is
  * large enough to repay it; the argument is by-name, so a query that will
  * not use the dictionary never pays for reading it.
  */
object Engine {

  /** The Spark conf whose value is the plan threshold: Spark's own byte
    * price for the fixed cost of opening one more file. */
  private val PlanThresholdConf = "spark.sql.files.openCostInBytes"

  /** Which plan a query over `points` gets, and the numbers behind it.
    * There are three:
    *  - slim (series dictionary): the selectors shuffle 8-byte sigs and
    *    join the labels back at result size, but the dictionary's scans,
    *    shuffles and broadcasts cost jobs on every query, so it is taken
    *    only once the read is large: when the touched bytes exceed the
    *    threshold.
    *  - single: a store read of at most [[SingleMaxBytes]], whose largest
    *    grid ([[gridSteps]]: a subquery's inner grid counts) has at most
    *    `stepBound` steps, is one task's worth of data. Its file scan
    *    is coalesced to one partition ([[singlePartition]]), which
    *    satisfies every distribution an aggregation, window, join or sort
    *    asks for, so the plan holds no shuffle, adaptive execution adds no
    *    stages, and a dashboard query runs as one job.
    *  - partitioned (labels): everything else, the label-carrying plan
    *    with a shuffle before each aggregation. In-memory relations touch
    *    no files (0 bytes) and keep it, and so does a small read over a
    *    long grid, whose kernel work grows with the steps although the
    *    bytes do not (a day at 1 m steps touches the same day file as the
    *    last hour, and explodes ~24× the rows).
    */
  final case class PlanChoice(touchedBytes: Long, thresholdBytes: Long,
                              steps: Long = 1L, stepBound: Long = SingleMaxSteps) {
    def slim: Boolean = touchedBytes > thresholdBytes
    def single: Boolean =
      !slim && touchedBytes > 0 && touchedBytes <= SingleMaxBytes && steps <= stepBound
    def name: String = if (slim) "slim" else if (single) "single" else "partitioned"
    override def toString: String =
      s"$name plan: $touchedBytes bytes touched, threshold $thresholdBytes bytes " +
        s"($PlanThresholdConf), single-plan bound $SingleMaxBytes bytes; " +
        s"$steps steps, single-plan bound $stepBound"
  }

  /** The single plan's bounds: the most bytes one task scans, and the most
    * grid steps it evaluates. A file is one scan task in the partitioned
    * plan, so over several files that plan scans in parallel, and the
    * single plan's one task loses once the scan or the explode outweighs
    * the jobs it saves. Measured in process on a compacted 32-series store
    * at 1 m samples (one ~0.4 MB file a day), 4 cores, median of 9 runs,
    * partitioned → single: the last-hour dashboard shapes 138→99,
    * 157→104, 180→108 and 313→164 ms; `rate` at 1 m over 12 h (one file,
    * 721 steps) 300→236 ms but over 24 h (two files, 1441 steps)
    * 362→423 ms; an instant `count_over_time` over a week (seven files)
    * 148→392 ms. */
  val SingleMaxBytes: Long = 1L << 20
  val SingleMaxSteps: Long = 720L

  private val stepBound = ThreadLocal.withInitial[Long](() => SingleMaxSteps)

  /** The plan choice for a query over `points` on grids of up to `steps` steps,
    * from the live files of the (already pruned) read. */
  def planChoice(points: DataFrame, steps: Long = 1L): PlanChoice =
    PlanChoice(touchedBytes(points), planThreshold(points.sparkSession), steps, stepBound.get)

  /** The threshold in bytes, from the session's conf. */
  def planThreshold(spark: SparkSession): Long =
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get(PlanThresholdConf))

  /** Bytes of the files behind `points`' file-source relations, from each
    * relation's file index: the files were listed when the read was
    * planned, so this runs no job and lists nothing. In-memory relations
    * touch no files and count 0. */
  def touchedBytes(points: DataFrame): Long =
    fileIndexes(points.queryExecution.analyzed).map(_.sizeInBytes).sum

  /** The file indexes of a plan's file-source relations. */
  def fileIndexes(plan: LogicalPlan): Seq[FileIndex] =
    plan.collectLeaves().collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }

  /** The dictionary a query over `points` runs with: `seriesDict` when the
    * slim plan is chosen (and only then evaluated), else none. */
  def dictFor(points: DataFrame, seriesDict: => Option[DataFrame]): Option[DataFrame] =
    if (planChoice(points).slim) seriesDict else None

  /** Evaluate `f` with the plan threshold at `bytes`: below a read's
    * touched bytes, it pins that read's queries to the slim plan, for
    * checks of the slim plan on stores smaller than the threshold. The
    * choice is made when a query is built, so `f` must build the queries;
    * running them may come later. The conf is session-wide while `f`
    * runs, and it also sizes Spark's file splits for scans planned then. */
  def withPlanThreshold[A](spark: SparkSession, bytes: Long)(f: => A): A = {
    val prev = spark.conf.get(PlanThresholdConf)
    spark.conf.set(PlanThresholdConf, bytes.toString)
    try f finally spark.conf.set(PlanThresholdConf, prev)
  }

  /** Evaluate `f` with the single plan's step bound at `steps` for the
    * queries this thread builds: 0 pins small store reads to the
    * partitioned plan, for checks of that plan on test-sized stores. */
  private[graft] def withSingleStepBound[A](steps: Long)(f: => A): A = {
    val prev = stepBound.get
    stepBound.set(steps)
    try f finally stepBound.set(prev)
  }

  /** `points` with every file scan coalesced to one partition, directly
    * above the scan: below the store's LWW guard window and the day
    * filters, which the optimizer still pushes into the scan. Built only
    * when a plan is: the plan cache keys the original `points`. */
  private def singlePartition(points: DataFrame): DataFrame =
    PlanBridge.ofAnalyzed(points.sparkSession, points.queryExecution.analyzed.transformUp {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        Repartition(1, shuffle = false, r)
    })

  /** The most steps a grid of `ast` evaluated on `grid` has: the query's
    * own, or a subquery's inner grid, which an instant query's single step
    * can hide (`max_over_time(rate(m[5m])[1d:1m])` evaluates 1441). */
  private[engine] def gridSteps(ast: Expr, grid: StepGrid, defaultSubqueryStepMs: Long): Long = {
    def steps(e: Expr, g: StepGrid): Long = e match {
      case sq: SubqueryExpr =>
        math.max(g.nSteps, steps(sq.expr, Compiler.subqueryGrid(sq, g, defaultSubqueryStepMs)._1))
      case ParenExpr(x) => steps(x, g)
      case UnaryExpr(_, x) => steps(x, g)
      case AggregateExpr(_, x, p, _, _) => (x +: p.toSeq).map(steps(_, g)).max
      case BinaryExpr(_, l, r, _, _) => math.max(steps(l, g), steps(r, g))
      case Call(_, args) => (g.nSteps +: args.map(steps(_, g))).max
      case _ => g.nSteps
    }
    steps(ast, grid)
  }

  private val planCounts = Seq("single", "partitioned", "slim")
    .map(_ -> new java.util.concurrent.atomic.LongAdder).toMap

  /** Queries run per plan taken ("single", "partitioned", "slim"). */
  def planCount(name: String): Long = planCounts(name).sum

  def rangeQuery(
      spark: SparkSession,
      points: DataFrame,
      promql: String,
      startMs: Long,
      endMs: Long,
      stepMs: Long,
      lookbackMs: Long = 300000L,
      defaultSubqueryStepMs: Long = 60000L,
      strictCollision: Boolean = true,
      sampleTally: Option[org.apache.spark.util.LongAccumulator] = None,
      seriesDict: => Option[DataFrame] = None): DataFrame = {
    val grid = StepGrid(startMs, endMs, stepMs, LongParam.Shifts)
    val ast = Parser.parse(promql)
    val choice = planChoice(points, gridSteps(ast, grid, defaultSubqueryStepMs))
    val dict = if (choice.slim) seriesDict else None
    // a slim choice without a dictionary runs the partitioned plan
    planCounts(if (dict.nonEmpty) "slim" else if (choice.single) "single" else "partitioned")
      .increment()
    val key = PlanCache.Key(spark, spark.conf.getAll, promql, stepMs, endMs - startMs,
      lookbackMs, defaultSubqueryStepMs, strictCollision, sampleTally.isDefined,
      choice.single, dict, points)
    PlanCache.query(key, startMs, sampleTally) {
      val ctx = EvalContext(spark, if (choice.single) singlePartition(points) else points,
        grid, lookbackMs, defaultSubqueryStepMs, sampleTally = sampleTally,
        strictCollision = strictCollision, seriesDict = dict, singlePartition = choice.single)
      Compiler.eval(ast, ctx) match {
        case vv: VectorVal =>
          // collision checks run at each producing materialization inside the
          // compile ([[Collision]]); the root result is already proven clean
          val df1 = vv.df
          val df = presentationOrder(ast) match {
            case Some(ord) => df1.orderBy(ord: _*)
            case None => df1
          }
          df.select(col("name"), col("labels"), col("step").as("t"), col("value"))
        case ScalarVal(df, _) => df.select(col("step").as("t"), col("value"))
        case m: MatrixVal =>
          // a bare range selector (e.g. `m[5m]` as the whole query): all
          // window samples, tagged with both step and sample time; the labels
          // map is rebuilt from the canonical string the matrix carries (or
          // joined back from the series dictionary on the slim path)
          val df = m.dict match {
            case Some(d) => m.df.join(d.select(col("sig"), col("name"), col("_lc")), Seq("sig"))
            case None => m.df
          }
          df.select(col("name"), Labels.fromCanonical(col("_lc")).as("labels"),
            col("step"), col("t"), col("value"))
        case StringVal(s) =>
          spark.range(1).select(grid.param(grid.startMs).as("t"), lit(s).as("value"))
      }
    }
  }

  def instantQuery(
      spark: SparkSession,
      points: DataFrame,
      promql: String,
      tsMs: Long,
      lookbackMs: Long = 300000L,
      defaultSubqueryStepMs: Long = 60000L,
      strictCollision: Boolean = true,
      sampleTally: Option[org.apache.spark.util.LongAccumulator] = None,
      seriesDict: => Option[DataFrame] = None): DataFrame =
    rangeQuery(spark, points, promql, tsMs, tsMs, 1000L, lookbackMs,
      defaultSubqueryStepMs, strictCollision, sampleTally, seriesDict)

  /** Row ordering the API surfaces for order-sensitive root operators
    * (sort/sort_desc by value; topk descending / bottomk ascending per
    * step, NaN sorted away from the extremes in all cases). */
  private def presentationOrder(ast: graft.promql.Expr)
      : Option[Seq[org.apache.spark.sql.Column]] = {
    import graft.promql._
    ast match {
      case ParenExpr(e) => presentationOrder(e)
      case Call("sort", _) =>
        Some(Seq(col("step"), isnan(col("value")).asc, col("value").asc))
      case Call("sort_desc", _) =>
        Some(Seq(col("step"), isnan(col("value")).asc, col("value").desc))
      case AggregateExpr("topk", _, _, _, _) =>
        Some(Seq(col("step"), isnan(col("value")).asc, col("value").desc))
      case AggregateExpr("bottomk", _, _, _, _) =>
        Some(Seq(col("step"), isnan(col("value")).asc, col("value").asc))
      case _ => None
    }
  }

  /** Does evaluating `e` pay a collision guard ANYWHERE in its tree —
    * i.e. is some node a collision producer (guarded at its own
    * materialization, [[producesCollision]]) or a label-rewriting call
    * (whose guard is fused into the function's re-key)? Structurally
    * collision-free shapes — a selector keyed by (name, labels), an
    * aggregation keyed by its grouping, a one-to-one binop behind its
    * duplicate-match guards — answer false and carry zero extra Exchange:
    * the Spark answer to the reference's unconditional per-materialization
    * runtime check (engine.go:1930-1934) is to prove it away at plan time
    * and pay the shuffle only where it buys correctness. */
  private[engine] def mayCollide(e: graft.promql.Expr): Boolean = {
    import graft.promql._
    e match {
      case Call("label_replace" | "label_join", _) => true // fused guard
      case c @ Call(_, args) => producesCollision(c) || args.exists(mayCollide)
      case u @ UnaryExpr(_, x) => producesCollision(u) || mayCollide(x)
      case b @ BinaryExpr(_, l, r, _, _) =>
        producesCollision(b) || mayCollide(l) || mayCollide(r)
      case AggregateExpr(_, x, p, _, _) => mayCollide(x) || p.exists(mayCollide)
      case SubqueryExpr(x, _, _, _, _) => mayCollide(x)
      case MatrixSelector(_, _) => false
      case ParenExpr(x) => mayCollide(x)
      case _ => false
    }
  }

  /** Can THIS node's own operation turn a collision-free input into a
    * vector holding two samples with one labelset? Only two shapes can:
    * a name-dropping transform over an input that may carry multiple
    * metric names for one labelset (a selector without a literal name
    * flowing through value math, a rate/over_time kernel, a unary, or a
    * vector⋈scalar arithmetic), and a label rewrite
    * (label_replace/label_join — guarded inside the function itself, so
    * excluded here). The compiler wraps exactly these nodes' outputs with
    * [[Collision.guard]] — the reference's per-materialization error
    * surfaces at the same expression depth. */
  private[engine] def producesCollision(e: graft.promql.Expr): Boolean = {
    import graft.promql._
    e match {
      // fused into the function's own re-key (Functions.labelReplace/join)
      case Call("label_replace" | "label_join", _) => false
      // name-preserving, constructed-label, grouped-without-name, or
      // statically-empty outputs cannot produce a collision
      case Call("sort" | "sort_desc" | "last_over_time" | "absent" |
                "absent_over_time" | "vector" | "time" | "pi" | "scalar" |
                "histogram_quantile" | "histogram_count" | "histogram_sum" |
                "histogram_fraction" | "histogram_stddev" | "histogram_stdvar" |
                "histogram_avg", _) => false
      case Call(_, args) => args.exists(multiName)
      case UnaryExpr(_, x) => multiName(x)
      case BinaryExpr(op, l, r, _, _) if !Set("and", "or", "unless").contains(op) =>
        multiName(l) || multiName(r)
      case _ => false
    }
  }

  /** Can `e`'s result hold two rows per step whose labelsets differ only by
    * metric name (the raw material for a post-name-drop collision)? */
  private def multiName(e: graft.promql.Expr): Boolean = {
    import graft.promql._
    e match {
      case vs: VectorSelector => vs.name.isEmpty
      case MatrixSelector(vs, _) => vs.name.isEmpty
      case SubqueryExpr(x, _, _, _, _) => multiName(x)
      case ParenExpr(x) => multiName(x)
      // topk/bottomk SELECT rows (original labels incl. name) rather than
      // aggregate them — multi-name inputs pass straight through
      case AggregateExpr("topk" | "bottomk", x, _, _, _) => multiName(x)
      case AggregateExpr(_, _, _, _, _) => false // keyed by grouping, no name
      case Call("label_replace" | "label_join", _) => true // rewritten labels
      case Call(_, args) => args.exists(multiName)
      case UnaryExpr(_, x) => multiName(x)
      case BinaryExpr(_, l, r, _, _) => multiName(l) || multiName(r)
      case _ => false
    }
  }

}
