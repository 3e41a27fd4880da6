package graft.engine

import java.util.concurrent.Semaphore

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.promql._

/** Query resource guards, mirroring the reference's engine envelope
  * (src/internal/metric-store/metric_store.go:296,109,295-316):
  *
  *  - MaxSamples 20e6: the samples a query's selectors load are counted
  *    IN-SCAN by a [[TallySamples]] accumulator riding the selector's own
  *    codegen'd pipeline — zero extra passes over the data (a pre-count
  *    scan would double every guarded query's I/O at fleet scale). The
  *    watchdog polls the accumulator as task updates stream in and cancels
  *    the job group mid-flight once the budget is exceeded; a query that
  *    finishes under the poll interval is still rejected post-hoc.
  *    Accumulator caveat (documented contract): updates happen in a
  *    TRANSFORMATION stage, so a stage retry after a fetch failure, a
  *    speculative duplicate task, or a plan that executes the selector
  *    subtree twice without exchange reuse can OVERcount — the guard then
  *    errs toward rejecting, never toward letting an over-budget query
  *    through (memoized selectors compile to one subtree, so reuse
  *    normally dedups the common double-consume shapes).
  *  - Query timeout (reference code default 10 s): the evaluation runs in
  *    a job group that is cancelled at the deadline — including any
  *    confirmation scan in flight (the confirm runs under its own group so
  *    it is independently cancellable, and the deadline thread keeps
  *    watching while a confirm runs).
  *  - Max concurrent queries (reference ActiveQueryTracker, 20): a
  *    semaphore slot held for the duration of execution.
  */
object Guards {

  /** Reference defaults: metric_store.go:296 (MaxSamples), :109 (timeout),
    * :122 (maxConcurrentQueries). */
  final case class QueryLimits(
      maxSamples: Long = 20000000L,
      timeoutMs: Long = 10000L,
      maxConcurrent: Int = 20)

  final class TooManySamplesException extends RuntimeException(
    "query processing would load too many samples into memory in query execution")
  final class QueryTimeoutException extends RuntimeException(
    "query timed out in query execution")

  /** Fresh MaxSamples meter for one guarded query: pass it to
    * `Engine.rangeQuery(sampleTally = Some(acc))` (it rides the selector's
    * scan via [[TallySamples]]) and hand the same instance to [[run]]. */
  def newTally(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft.samples")

  // ---- exact confirmation count -----------------------------------------

  /** EXACT sample count for every selector in `promql`: one
    * pushdown-filtered scan summing PER-STEP window membership. The
    * in-scan [[TallySamples]] accumulator can OVERcount (stage retries,
    * speculative duplicates, a plan consuming the selector subtree twice),
    * so [[run]] uses this as the confirmation oracle before rejecting —
    * the extra scan is paid only in the rare tripped-meter case, never on
    * the happy path.
    *
    * The count MUST measure the same quantity the meter measures: the
    * meter rides the exploded (sample × step) rows — the reference's
    * ev.currentSamples per-step accounting — so each stored point is
    * weighted by the NUMBER OF GRID STEPS it serves (the same
    * kLo/kHi integer arithmetic as [[Selectors.explodeToSteps]]), not
    * counted once. A 5m-lookback / 15s-step range query counts each point
    * ~21×, exactly as the meter does; a when(cond,1) count would sit far
    * below the meter and wave genuinely over-budget queries through.
    * Selector grids are resolved the way the compiler resolves them:
    * offsets shift the grid, an `@` pin collapses it to a single step, and
    * subquery selectors count over the subquery's own aligned inner grid.
    * Identical selectors are deduped (the compiler memoizes them into one
    * subtree, so the meter sees each distinct selector once). */
  def exactSampleCount(points: DataFrame, promql: String, grid: StepGrid,
                       lookbackMs: Long = 300000L,
                       defaultSubqueryStepMs: Long = 60000L): Long = {
    val weights = selectorWeights(Parser.parse(promql), grid, lookbackMs,
      defaultSubqueryStepMs)
    if (weights.isEmpty) return 0L
    val perPoint = weights.reduce(_ + _)
    points.agg(sum(perPoint).as("n")).collect().head.getAs[Any]("n") match {
      case null => 0L
      case n: Long => n
      case n: Number => n.longValue()
    }
  }

  /** One weight column per DISTINCT selector: the number of (sample, step)
    * rows this stored point contributes to that selector's explode —
    * label matchers AND the per-step multiplicity over the selector's
    * resolved grid. */
  private def selectorWeights(ast: Expr, grid: StepGrid, lookbackMs: Long,
                              defaultSubqueryStepMs: Long): Seq[Column] = {
    // (name, matchers, windowMs, resolved grid) identifies a selector's
    // scan shape; dedup mirrors the compiler's memoization.
    type Key = (Option[String], Seq[LabelMatcher], Long, Long, Long, Long)
    val seen = scala.collection.mutable.LinkedHashMap.empty[Key, Column]

    def weight(vs: VectorSelector, windowMs: Long, g: StepGrid): Unit = {
      val (effGrid, pinned) = vs.at match {
        case Some(at) =>
          val ts = (at match {
            case AtModifier.Start => g.startMs
            case AtModifier.End => g.endMs
            case AtModifier.At(t) => t
          }) - vs.offsetMs
          (StepGrid(ts, ts, 1), true)
        case None =>
          (StepGrid(g.startMs - vs.offsetMs, g.endMs - vs.offsetMs, g.stepMs), false)
      }
      val key: Key = (vs.name, vs.matchers, windowMs,
        effGrid.startMs, effGrid.endMs, effGrid.stepMs)
      if (!seen.contains(key)) {
        val nameCond = vs.name.map(n => col("name") === n).getOrElse(lit(true))
        val inWindow = col("t") >= effGrid.startMs - windowMs && col("t") <= effGrid.endMs
        val matches = nameCond && Compiler.matcherFilter(vs.matchers) && inWindow
        val steps: Column =
          if (pinned) lit(1L) // single-step grid: one exploded row per point
          else {
            // identical arithmetic to Selectors.explodeToSteps: a point at t
            // serves step indices [ceil((t-s)/step), floor((t+w-s)/step)]
            // clamped to [0, nSteps)
            val kLo = greatest(lit(0L),
              floor((col("t") - effGrid.startMs + effGrid.stepMs - 1) / effGrid.stepMs)
                .cast("long"))
            val kHi = least(lit(effGrid.nSteps - 1),
              floor((col("t") + windowMs - effGrid.startMs) / effGrid.stepMs).cast("long"))
            greatest(lit(0L), kHi - kLo + 1L)
          }
        seen.put(key, when(matches, steps).otherwise(lit(0L)))
      }
    }

    def walk(e: Expr, g: StepGrid): Unit = e match {
      case vs: VectorSelector => weight(vs, lookbackMs, g)
      case MatrixSelector(vs, rangeMs) => weight(vs, rangeMs, g)
      case sq: SubqueryExpr =>
        // the inner expr evaluates over its own absolute-aligned finer
        // grid; only the inner selectors carry the meter (the outer
        // re-window over the inner RESULT does not)
        walk(sq.expr, Compiler.subqueryGrid(sq, g, defaultSubqueryStepMs)._1)
      case ParenExpr(inner) => walk(inner, g)
      case UnaryExpr(_, inner) => walk(inner, g)
      case AggregateExpr(_, inner, param, _, _) =>
        walk(inner, g); param.foreach(walk(_, g))
      case BinaryExpr(_, l, r, _, _) => walk(l, g); walk(r, g)
      case Call(_, args) => args.foreach(walk(_, g))
      case _ => ()
    }
    walk(ast, grid)
    seen.values.toSeq
  }

  /** Union of ABSOLUTE time windows every selector in `promql` can touch
    * when evaluated on `grid` — including `@`-pinned selectors, whose pin
    * resolves to an absolute instant (start()/end() against the grid, or
    * the literal unix timestamp). Returns (loMs, hiMs) suitable for a
    * partition-pruned store read; None when the expression has no
    * selectors. Unlike a relative-reach bound, this is exact for `@`:
    * the alerting sink uses it so one pinned rule no longer forces a
    * full-retention scan. */
  def selectorWindowBounds(promql: String, grid: StepGrid,
                           lookbackMs: Long = 300000L,
                           defaultSubqueryStepMs: Long = 60000L): Option[(Long, Long)] = {
    var lo = Long.MaxValue
    var hi = Long.MinValue
    def add(vs: VectorSelector, windowMs: Long, g: StepGrid): Unit = {
      val (s, e) = vs.at match {
        case Some(at) =>
          val ts = (at match {
            case AtModifier.Start => g.startMs
            case AtModifier.End => g.endMs
            case AtModifier.At(t) => t
          }) - vs.offsetMs
          (ts - windowMs, ts)
        case None =>
          (g.startMs - vs.offsetMs - windowMs, g.endMs - vs.offsetMs)
      }
      lo = math.min(lo, s); hi = math.max(hi, e)
    }
    def walk(e: Expr, g: StepGrid): Unit = e match {
      case vs: VectorSelector => add(vs, lookbackMs, g)
      case MatrixSelector(vs, rangeMs) => add(vs, rangeMs, g)
      case sq: SubqueryExpr =>
        walk(sq.expr, Compiler.subqueryGrid(sq, g, defaultSubqueryStepMs)._1)
      case ParenExpr(x) => walk(x, g)
      case UnaryExpr(_, x) => walk(x, g)
      case AggregateExpr(_, x, p, _, _) => walk(x, g); p.foreach(walk(_, g))
      case BinaryExpr(_, l, r, _, _) => walk(l, g); walk(r, g)
      case Call(_, args) => args.foreach(walk(_, g))
      case _ => ()
    }
    walk(Parser.parse(promql), grid)
    if (lo == Long.MaxValue) None else Some((lo, hi))
  }

  // ---- timeout + concurrency gate --------------------------------------

  private val slots = new java.util.concurrent.ConcurrentHashMap[Int, Semaphore]()

  /** Crash-forensics analog of the reference's mmap'd active-query log
    * (vendored promql/query_logger.go wired at metric_store.go:295-316):
    * every guarded run registers here for its duration, so a wedged
    * process can be inspected for the queries it was executing. */
  final case class ActiveQuery(group: String, startedMs: Long, description: String)
  private val active = new java.util.concurrent.ConcurrentHashMap[String, ActiveQuery]()
  def activeQueries: Seq[ActiveQuery] =
    active.values().toArray(Array.empty[ActiveQuery]).toSeq.sortBy(_.startedMs)

  // ---- crash-surviving active-query log ---------------------------------

  @volatile private var queryLogDir: Option[java.nio.file.Path] = None

  /** Persist the active-query registry across crashes — the reference
    * mmaps an active-query log precisely so a post-mortem can name the
    * queries a wedged/killed process was executing (vendored
    * promql/query_logger.go, wired metric_store.go:295-316). Spark-side
    * the persistence unit is one tiny `<dir>/<group>.json` file per
    * admitted query, written on admission and deleted on completion: the
    * files present after a crash are EXACTLY the queries in flight (no
    * compaction, no partial-line torn writes — the mmap ring's job done
    * by the filesystem's atomic create/delete).
    *
    * Returns the leftover entries of a previous process (the crash
    * evidence), clearing them so the next crash reads unambiguously —
    * the reference logs and truncates on restart the same way. */
  def enableQueryLog(dir: String): Seq[ActiveQuery] = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    val leftovers = readQueryLog(p)
    leftovers.foreach(q =>
      java.nio.file.Files.deleteIfExists(p.resolve(s"${q.group}.json")))
    queryLogDir = Some(p)
    leftovers
  }

  def disableQueryLog(): Unit = queryLogDir = None

  /** Decode the entries currently in a query-log dir (without clearing). */
  def readQueryLog(dir: java.nio.file.Path): Seq[ActiveQuery] = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".json"))
    files.toSeq.flatMap { f =>
      try {
        val m = graft.api.MiniJson.parse(java.nio.file.Files.readString(f.toPath))
          .asInstanceOf[Map[String, Any]]
        Some(ActiveQuery(m("group").toString,
          m("startedMs") match { case d: Double => d.toLong; case n: Number => n.longValue(); case s => s.toString.toDouble.toLong },
          m("description").toString))
      } catch { case _: Throwable => None } // torn/foreign file: skip
    }.sortBy(_.startedMs)
  }

  private def logAdmission(q: ActiveQuery): Unit = queryLogDir.foreach { dir =>
    try java.nio.file.Files.writeString(dir.resolve(s"${q.group}.json"),
      graft.api.MiniJson.objOf(Seq(
        "group" -> graft.api.MiniJson.str(q.group),
        "description" -> graft.api.MiniJson.str(q.description),
        "startedMs" -> q.startedMs.toString)))
    catch { case _: java.io.IOException => () } // forensics must not fail queries
  }

  private def logCompletion(group: String): Unit = queryLogDir.foreach { dir =>
    try java.nio.file.Files.deleteIfExists(dir.resolve(s"$group.json"))
    catch { case _: java.io.IOException => () }
  }

  /** Outcome of one exact-confirmation attempt. */
  private sealed trait Confirm
  private case object ConfirmedOver extends Confirm
  private case object ConfirmedUnder extends Confirm
  private case object ConfirmAborted extends Confirm // cancelled/interrupted: no verdict

  /** Run `body` (the driver-side action of a query) under the limits:
    * a concurrency slot is acquired first (blocking, like the reference's
    * ActiveQueryTracker), and the Spark jobs it spawns are tagged with a
    * job group. A deadline thread cancels BOTH the query's group and the
    * confirmation's group when the timeout passes — the deadline stays
    * enforced even while a confirmation scan is in flight. A budget thread
    * polls `tally` (the in-scan [[TallySamples]] meter) and, on a tripped
    * meter, exact-confirms under the dedicated confirm group BEFORE
    * cancelling the query.
    *
    * Because the accumulator is updated in a TRANSFORMATION (not
    * exactly-once: stage retries, speculative duplicates, double-consumed
    * subtrees overcount), a tripped meter is CONFIRMED against
    * `confirmExact` (an exact count of the selectors' per-step samples —
    * [[exactSampleCount]]) before the query is cancelled or rejected. A
    * confirmed-under verdict is sticky: the exact count is a property of
    * the query's full selector windows, so it cannot flip as more tasks
    * report. A confirmation that is itself cancelled (deadline fired,
    * shutdown interrupt) yields NO verdict — it never converts into a
    * spurious over-budget rejection. Failures of `body` are mapped to the
    * guard exceptions ONLY when they are cancellations this watchdog
    * caused (matched by the unique job-group id in the failure's cause
    * chain, not a generic substring); unrelated query failures rethrow. */
  def run[T](spark: SparkSession, limits: QueryLimits,
             description: String = "",
             tally: Option[org.apache.spark.util.LongAccumulator] = None,
             confirmExact: Option[() => Long] = None)(body: => T): T = {
    val sem = slots.computeIfAbsent(limits.maxConcurrent, n => new Semaphore(n, true))
    sem.acquire()
    val group = s"graft-query-${System.nanoTime()}"
    val confirmGroup = s"$group-confirm"
    val aq = ActiveQuery(group, System.currentTimeMillis(), description)
    active.put(group, aq)
    logAdmission(aq)
    val sc = spark.sparkContext
    try {
      @volatile var timedOut = false
      @volatile var overBudget = false
      @volatile var confirmedUnder = false
      def budgetExceeded: Boolean = tally.exists(_.value > limits.maxSamples)
      // Exact confirmation, run with THIS thread's jobs tagged into the
      // dedicated confirm group (job groups are thread-local) so the
      // deadline thread can cancel a runaway confirmation scan without
      // touching the query, and the query-group cancel cannot kill a
      // confirm. Interruption/cancellation yields ConfirmAborted — never a
      // verdict; any other failure of the exact count falls back to
      // trusting the meter (the guard never silently waves an over-budget
      // query through).
      def confirmOver(): Confirm = confirmExact match {
        case Some(f) =>
          if (timedOut) return ConfirmAborted // deadline thread is done; an
          // uncancellable late confirm must not start
          val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
          sc.setJobGroup(confirmGroup, "graft guard confirmation", interruptOnCancel = true)
          try {
            if (f() > limits.maxSamples) ConfirmedOver
            else { confirmedUnder = true; ConfirmedUnder }
          } catch {
            case _: InterruptedException => ConfirmAborted
            case e: Throwable if isCancellation(e, confirmGroup) => ConfirmAborted
            case _: Throwable => ConfirmedOver
          } finally {
            // restore the caller's group (main thread: the query group;
            // budget thread: none)
            if (prevGroup == group)
              sc.setJobGroup(group, "graft guarded query", interruptOnCancel = true)
            else sc.clearJobGroup()
          }
        case None => ConfirmedOver
      }
      val deadline = System.nanoTime() + limits.timeoutMs * 1000000L
      val deadlineThread = new Thread(() => {
        try {
          val waitMs = math.max(0L, (deadline - System.nanoTime()) / 1000000L)
          Thread.sleep(waitMs)
          timedOut = true
          sc.cancelJobGroup(group)
          sc.cancelJobGroup(confirmGroup)
        } catch { case _: InterruptedException => () }
      }, s"$group-deadline")
      val budgetThread = new Thread(() => {
        try {
          var done = false
          while (!done && !timedOut) {
            if (budgetExceeded && !confirmedUnder) {
              // confirm BEFORE killing the query — a retry-inflated meter
              // must not abort a valid one. The deadline thread keeps
              // watching and can cancel this confirm's group.
              confirmOver() match {
                case ConfirmedOver =>
                  overBudget = true
                  sc.cancelJobGroup(group)
                  done = true
                case ConfirmedUnder => done = true // sticky: stop polling
                case ConfirmAborted => done = true // deadline/shutdown owns it
              }
            } else Thread.sleep(50)
          }
        } catch { case _: InterruptedException => () }
        finally sc.clearJobGroup()
      }, s"$group-budget")
      deadlineThread.setDaemon(true)
      budgetThread.setDaemon(true)
      sc.setJobGroup(group, "graft guarded query", interruptOnCancel = true)
      deadlineThread.start()
      budgetThread.start()
      try {
        val result = body
        // overBudget is already exact-confirmed by the budget thread; a
        // meter that tripped between polls confirms here before rejecting.
        // The confirm runs under its own group, so a deadline firing
        // mid-confirm cancels the CONFIRM (→ timeout), not a false verdict.
        if (!overBudget && !confirmedUnder && budgetExceeded) {
          confirmOver() match {
            case ConfirmedOver => throw new TooManySamplesException
            case ConfirmedUnder => ()
            case ConfirmAborted =>
              // no verdict, per the contract above: a deadline-cancelled
              // confirm is a timeout; any OTHER interruption (shutdown)
              // surfaces as the interruption it is — an aborted confirm
              // never converts into a spurious over-budget rejection
              if (timedOut) throw new QueryTimeoutException
              else {
                Thread.currentThread().interrupt()
                throw new InterruptedException("query guard confirmation interrupted")
              }
          }
        }
        if (overBudget) throw new TooManySamplesException
        result
      } catch {
        case e: TooManySamplesException => throw e
        case e: QueryTimeoutException => throw e
        case e: Throwable if overBudget && isCancellation(e, group) =>
          throw new TooManySamplesException
        case e: Throwable if timedOut && isCancellation(e, group) =>
          throw new QueryTimeoutException
      } finally {
        deadlineThread.interrupt()
        budgetThread.interrupt()
        sc.clearJobGroup()
      }
    } finally {
      active.remove(group)
      logCompletion(group)
      sem.release()
    }
  }

  /** Did this failure come from the watchdog's cancel of job group
    * `group` (vs an unrelated query error that must rethrow as itself)?
    * Spark embeds the cancelled group's id in the SparkException message
    * ("... cancelled part of cancelled job group <id>"), and our group ids
    * are unique per query — matching the id is precise where a generic
    * "cancel" substring would misclassify unrelated failures. Driver-side
    * interruption of the action thread surfaces as InterruptedException. */
  private def isCancellation(e: Throwable, group: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(t => t != null)
      .take(10)
      .exists { t =>
        t.isInstanceOf[InterruptedException] ||
          Option(t.getMessage).exists(_.contains(group))
      }
}
