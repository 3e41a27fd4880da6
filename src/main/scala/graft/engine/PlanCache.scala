package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.util.LongAccumulator

/** Optimized plans of the query shapes [[Engine]] has built, reused at
  * other query times. Building a query costs the DataFrame build, the
  * analyzer and the optimizer, about as much driver time as running it
  * over a small store; a dashboard sends the same few shapes again and
  * again, each time at a fresh `time=`.
  *
  * Every time-derived value in a built plan is a [[LongParam]], tagged
  * with how it follows the query's times. With the query's span and step
  * in the key, a rebuild at a start moved by Δ differs from the cached
  * plan only in its `Shifts` parameters, each moved by Δ, and in its
  * MaxSamples meter. A hit rebinds those and runs the plan through a query
  * execution that starts at physical planning.
  *
  * A build is not kept when a parameter follows the times some other way
  * (`Never`: a subquery's aligned inner grid), when the optimizer took a
  * parameter out of the plan (it may have turned it into data), or when
  * optimizing it threw. Only plans are kept, never results, and the points
  * relation is part of the key: a store read of a changed live file set is
  * a new relation, so a write, a compaction or a delete is a miss. A small
  * fixed LRU, like the store's relation cache.
  */
private[graft] object PlanCache {

  /** Everything a build depends on apart from the query's times. The
    * session's set confs are in it because the optimizer reads them. The
    * points and the slim plan's dictionary compare by reference: the store
    * returns one DataFrame per live file set (`PointsStore.read`,
    * `readDict`), so a repeat keys the same and a write does not. `single`
    * is the single-partition plan ([[Engine.PlanChoice]]): it is built over
    * a coalesced copy of `points`, and its plans run without adaptive
    * execution's wrapper when they hold no exchange. */
  final case class Key(
      spark: SparkSession,
      conf: Map[String, String],
      promql: String,
      stepMs: Long,
      spanMs: Long,
      lookbackMs: Long,
      subqueryStepMs: Long,
      strictCollision: Boolean,
      tallied: Boolean,
      single: Boolean,
      dict: Option[DataFrame],
      points: DataFrame)

  /** An optimized plan built for a query starting at `startMs`, metered by
    * `tally`. */
  private final case class Entry(plan: LogicalPlan, startMs: Long,
                                 tally: Option[LongAccumulator])

  private val Size = 64
  private val cache = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size > Size
  }
  private val hitCount = new java.util.concurrent.atomic.LongAdder
  private val missCount = new java.util.concurrent.atomic.LongAdder

  /** Queries that reused a cached plan, and queries that were built. */
  def hits: Long = hitCount.sum
  def misses: Long = missCount.sum

  private val bypassed = ThreadLocal.withInitial[Boolean](() => false)

  /** Evaluate `f` with every query it builds built afresh, neither looked
    * up nor kept: the answers a cached plan's are checked against. */
  private[graft] def bypass[A](f: => A): A = {
    val prev = bypassed.get
    bypassed.set(true)
    try f finally bypassed.set(prev)
  }

  /** The query of `key` starting at `startMs` and metered by `tally`:
    * the cached plan rebound, or else `build`, kept when it can be. */
  def query(key: Key, startMs: Long, tally: Option[LongAccumulator])(
      build: => DataFrame): DataFrame =
    if (bypassed.get) run(key, build)
    else cache.synchronized(Option(cache.get(key))) match {
      case Some(e) =>
        hitCount.increment()
        PlanBridge.ofOptimized(key.spark, rebind(e, startMs, tally), adaptive = !key.single)
      case None =>
        missCount.increment()
        val df = build
        reusable(df).foreach(p =>
          cache.synchronized(cache.put(key, Entry(p, startMs, tally))))
        run(key, df)
    }

  /** A fresh build as it runs: a single-partition plan from its optimized
    * plan, like a hit, so both run the same way (a plan that fails to
    * optimize is left to fail when it runs, as any other). */
  private def run(key: Key, df: DataFrame): DataFrame =
    if (!key.single) df
    else scala.util.Try(df.queryExecution.optimizedPlan).toOption
      .fold(df)(PlanBridge.ofOptimized(key.spark, _, adaptive = false))

  /** The cached plan moved to a query starting at `startMs`: every
    * parameter that follows the times shifts by the same amount, and the
    * sample meter counts into this query's accumulator. */
  private def rebind(e: Entry, startMs: Long, tally: Option[LongAccumulator]): LogicalPlan = {
    val delta = startMs - e.startMs
    e.plan.transformAllExpressionsWithSubqueries {
      case p: LongParam if p.rebind == LongParam.Shifts => p.copy(value = p.value + delta)
      // the key holds whether a tally is attached, so this query has one
      case t: TallySamples if e.tally.exists(_ eq t.acc) => t.copy(acc = tally.get)
    }
  }

  /** The optimized plan of a fresh build when every parameter in it can be
    * rebound and all of them are still in the optimized plan. */
  private def reusable(df: DataFrame): Option[LogicalPlan] = {
    val built = params(df.queryExecution.analyzed)
    if (built.exists(_.rebind == LongParam.Never)) None
    else scala.util.Try(df.queryExecution.optimizedPlan).toOption
      .filter(p => built.map(_.id).subsetOf(params(p).map(_.id)))
  }

  private def params(plan: LogicalPlan): Set[LongParam] = {
    val found = Set.newBuilder[LongParam]
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case p: LongParam => found += p
      case _ =>
    }))
    found.result()
  }
}
