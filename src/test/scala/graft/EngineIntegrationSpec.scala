package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model.Points
import graft.sources.PointsStore
import graft.testkit.SharedSpark

/** Full-path integration: events → points → day-partitioned store →
  * pruned read → PromQL evaluation, checked against evaluating the same
  * query on the un-persisted relation. Exercises the production storage
  * path (partition pruning + pushed filters) end-to-end. */
class EngineIntegrationSpec extends AnyFunSuite with SharedSpark {

  test("store round-trip preserves query results and prunes partitions") {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("store").toString
    PointsStore.append(pts, dir)

    val t0 = 1704067200000L
    val day = 86400000L
    val (start, end, step) = (t0 + 5 * day, t0 + 10 * day, day)
    val q = "sum by (user) (rate(click[2d]))"

    val direct = Engine.rangeQuery(spark, pts, q, start, end, step, day)
      .select(col("labels")("user").as("user"), col("t"), round(col("value"), 9).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    // pruned read: only the days covering [start - range, end]
    val stored = PointsStore.read(spark, dir, start, end, slackMs = 2 * day)
    val viaStore = Engine.rangeQuery(spark, stored, q, start, end, step, day)
      .select(col("labels")("user").as("user"), col("t"), round(col("value"), 9).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    assert(direct.nonEmpty)
    assert(viaStore == direct)

    // the pruned scan must touch fewer day partitions than exist
    val allDays = spark.read.parquet(dir).select("date").distinct().count()
    val readDays = PointsStore.read(spark, dir, start, start, slackMs = 0)
      .select(expr("t div 86400000")).distinct().count()
    assert(allDays >= 29)
    assert(readDays <= 2)
  }

  test("instant selector aggregates via codegen'd HashAggregate (no SortAggregate fallback)") {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val t0 = 1704067200000L
    val sel = graft.engine.Selectors.instant(pts,
      graft.engine.StepGrid(t0 + 86400000L, t0 + 86400000L, 1000L), lookbackMs = 86400000L)
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(!plan.contains("SortAggregate"))
  }

  test("clustered writes: name-selector scans push equality and skip row groups") {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("store").toString
    PointsStore.append(pts, dir)
    val t0 = 1704067200000L
    val read = PointsStore.read(spark, dir, t0, t0 + 30 * 86400000L)
      .where(col("name") === "click")
    // the metric-name equality must reach the parquet scan; with rows
    // clustered by (name, sig, t) inside each file its row-group stats
    // are selective (a metric occupies a contiguous run of row groups)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(name,click)"))
    // files are physically name-then-time clustered: within every file,
    // rows for one metric are contiguous
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(input_file_name()).orderBy(monotonically_increasing_id())
    val breaks = spark.read.parquet(dir)
      .select(col("name"), input_file_name().as("f"), monotonically_increasing_id().as("i"))
      .withColumn("prev", lag(col("name"), 1).over(
        Window.partitionBy(col("f")).orderBy(col("i"))))
      .where(col("prev").isNotNull && col("prev") =!= col("name"))
      .count()
    val metrics = pts.select("name").distinct().count()
    val files = spark.read.parquet(dir).select(input_file_name()).distinct().count()
    assert(breaks <= metrics * files) // at most (#metrics - 1) transitions per file
  }

  test("flattened hot labels push equality filters into the parquet scan") {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("store").toString
    PointsStore.appendFlattened(pts, dir, hotKeys = Seq("user"))
    val t0 = 1704067200000L
    val read = PointsStore.readFlattened(spark, dir, t0, t0 + 30 * 86400000L,
      hotFilters = Map("user" -> "7"))
    // the flattened column filter must reach the scan as a pushed filter
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("lbl_user"))
    // and results equal filtering on the map after the fact
    val viaMap = PointsStore.read(spark, dir, t0, t0 + 30 * 86400000L)
      .where(org.apache.spark.sql.functions.element_at(col("labels"), "user") === "7")
      .drop("lbl_user")
    assert(read.count() == viaMap.count() && read.count() > 0)
  }

  test("slowest gate queries keep their intended physical shapes") {
    val dir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    // the bench's five heaviest queries must never regress into a
    // cartesian product, a nested-loop join, a SortAggregate fallback, or
    // an Expand — the shapes that stop scaling first at 100 TB
    Seq("q_dedup_minhash", "q_dedup_simhash_pairs", "q_alert_for_state",
      "q_sim_lsh_ann", "q_fn_histogram_quantile",
      "q_dedup_ngram_jaccard",
      // round-7 additions: span dedup (gram join), event analytics
      // (single user shuffle / step joins), image hamming banding, BPE
      // training aggregation
      "q_dedup_spans", "q_evt_sessionize", "q_evt_funnel", "q_evt_retention",
      "q_img_ahash_pairs", "q_text_bpe_pairs",
      // round-8 additions: line-frequency dedup (count + anti-join +
      // reassembly), rule backfill (whole-grid range query)
      "q_pipe_dedup_lines", "q_rule_backfill",
      // round-11 addition: incremental dedup (3-batch index history —
      // In(bv) probes + window keep-one + anti-joins, never a product)
      "q_dedup_incremental",
      // round-12 additions: the incremental IVF index (partition-pruned
      // multi-batch probe) and incremental SemDeDup (cell-equi joins
      // against the pruned kept set — never corpus-wide cosine).
      // q_pipe_dedup_lines_incremental is deliberately NOT here: its
      // probe/count stages execute eagerly during construction (the
      // returned frame is only the broadcast rewrite), so a plan check
      // on the result would be vacuous
      "q_sim_ivf_incremental", "q_sim_semdedup_incremental",
      // round-13 additions: the appendable IVF-PQ history (ADC over the
      // partition-pruned code scan with the broadcast LUT side) and the
      // two-stage rerank (broadcast shortlist semi-join, equi-joins only)
      "q_sim_ivfpq_incremental", "q_sim_ivfpq_rerank").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      assert(!p.contains("SortAggregate"), s"$q falls back to SortAggregate")
      assert(!p.contains("Expand"), s"$q plans an Expand")
    }
    // minhash: vocabulary dictionary broadcast as the build side, bucket
    // membership gathered by the capped hash-based collect (one pass)
    val mh = plan("q_dedup_minhash")
    assert(mh.contains("BroadcastHashJoin") && mh.contains("bounded_collect"))
    // the brute-force cosine baseline is the ONE intended nested-loop:
    // its broadcast side is the bounded query set, by design
    assert(plan("q_sim_topk").contains("BroadcastNestedLoopJoin"))
    // the composed curation pipeline's advertised shape: the entire
    // signal+filter chain is ONE projection stage over the scan — the
    // only exchange in the whole plan is the dedup window's content-hash
    // shuffle (a join-based signal stage would add doc_id exchanges)
    // AQE wraps exchanges in query stages, hiding them from collect —
    // inspect the non-adaptive physical plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cur = try SparkEntry.queries("q_pipe_curate")(spark, dir)
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val exchanges = cur.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1,
      s"q_pipe_curate should shuffle exactly once (dedup window), got ${exchanges.size}")
    assert(!cur.toString.contains("SortMergeJoin") &&
      !cur.toString.contains("BroadcastHashJoin"),
      "q_pipe_curate's signal stage must not join signal frames")
  }

  test("store-backed canary bench plans prune partitions and push filters") {
    // the SAME path the timed bench runs (Bench.storeBackedQuery over a
    // PointsStore): the instant query's plan must show day-partition
    // pruning AND the metric-name equality pushed into the parquet scan —
    // this is the plan shape the 100 TB story rests on, asserted in CI so
    // the timed numbers can never silently regress to a full scan
    val dir = Files.createTempDirectory("bench_store").toString
    val t0 = 1704067200000L
    val week = 10080L
    val pts = Points.withSig(spark.range(week * 2).select(
      lit("canary").as("name"),
      map(lit("instance_id"), pmod((col("id") / week).cast("long"), lit(16)).cast("string"),
        lit("series"), (col("id") / week).cast("long").cast("string")).as("labels"),
      (lit(t0) + (col("id") % week) * 60000L).as("t"),
      lit(10.0).as("value")))
    PointsStore.append(pts, dir)
    PointsStore.compact(spark, dir)
    val end = t0 + (week - 1) * 60000L
    val instant = graft.Bench.storeBackedQuery(spark, dir,
      """canary{instance_id="0"}""", end, end, 1000L)
    val plan = instant.queryExecution.executedPlan.toString
    // partition pruning reached the scan
    assert(plan.contains("PartitionFilters") && plan.contains("date"),
      "no partition filters in the store-backed canary plan")
    // metric-name equality pushed to parquet (row-group stats selective
    // because files are (name,sig,t)-clustered)
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(name,canary)"),
      "name equality not pushed to the parquet scan")
    // functional check: the instant query's pruned read touches only the
    // final day of the 7-day store, and the result is correct
    val grid = graft.engine.StepGrid(end, end, 1000L)
    val (lo, hi) = graft.engine.Guards.selectorWindowBounds(
      """canary{instance_id="0"}""", grid).get
    val readDays = PointsStore.read(spark, dir, lo, hi)
      .select(expr("t div 86400000")).distinct().count()
    assert(readDays == 1, s"instant canary read $readDays days, expected 1")
    assert(instant.count() == 1) // series 0 carries instance_id=0
    // the whole-week scan query still sees every sample
    val cot = graft.Bench.storeBackedQuery(spark, dir,
      "sum(count_over_time(canary[1w]))", end, end, 1000L)
    assert(cot.head.getAs[Double]("value") == (week * 2).toDouble)
  }

  test("series-dictionary path: sig-only selector shuffle, labels joined back")(withSlimPlan {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("dict_store").toString
    PointsStore.append(pts, dir)
    val t0 = 1704067200000L
    val tick = t0 + 10 * 86400000L
    val day = 86400000L
    val stored = PointsStore.read(spark, dir, tick - day, tick)
    val dict = PointsStore.readDict(spark, dir)
    assert(dict.isDefined, "append did not write the series dictionary")

    def results(d: Option[org.apache.spark.sql.DataFrame]) =
      Engine.instantQuery(spark, stored, "click", tick, lookbackMs = day,
        seriesDict = d)
        .select(col("labels")("user").as("u"), col("t"), col("value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    val withDict = results(dict)
    assert(withDict == results(None) && withDict.nonEmpty)

    // the dictionary plan's selector aggregation shuffles ONLY primitives:
    // every exchange partitioned by sig carries no string attribute (the
    // canonical label string is joined back at result size instead). AQE
    // wraps exchanges in query stages, hiding them from collect — inspect
    // the non-adaptive physical plan.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sigShuffles = try {
      // the SELECTOR aggregation partitions by (sig, step); the dict's own
      // series-sized dedup shuffle partitions by sig alone and may carry
      // its (name, _lc) payload — that one is the result-sized join side.
      // Pinned on a 2-STEP grid: a 1-step (instant) grid's step key is a
      // constant the optimizer folds, so the step attribute would not
      // appear in the partitioning string (the r15 degenerate-grid fast
      // path); the slimness contract is the same either way.
      Engine.rangeQuery(spark, stored, "click", tick - day, tick, day,
        lookbackMs = day, seriesDict = dict).queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("sig") &&
             e.outputPartitioning.toString.contains("step") => e
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(sigShuffles.nonEmpty, "expected a (sig, step)-partitioned selector exchange")
    sigShuffles.foreach { e =>
      assert(!e.output.exists(_.dataType ==
        org.apache.spark.sql.types.StringType),
        s"label string crosses the selector exchange: ${e.output.mkString(",")}")
    }

    // label matchers are evaluated per SERIES on the dictionary and
    // semi-joined onto the scan as sigs: results identical, and the
    // POINTS scan reads neither the labels map nor the canonical string
    // — only (sig, t, value) — while the matcher strings are read once,
    // from the series-sized dictionary scan
    val someUser = Engine.instantQuery(spark, stored, "click", tick,
      lookbackMs = day).select(col("labels")("user")).head.getString(0)
    def matcherResults(d: Option[org.apache.spark.sql.DataFrame]) =
      Engine.instantQuery(spark, stored, s"""click{user="$someUser"}""", tick,
        lookbackMs = day, seriesDict = d)
        .select(col("labels")("user"), col("value"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val mWith = matcherResults(dict)
    assert(mWith == matcherResults(None) && mWith.nonEmpty)
    val mPlan = Engine.instantQuery(spark, stored, s"""click{user="$someUser"}""", tick,
      lookbackMs = day, seriesDict = dict).queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(mPlan).toSeq
      .filterNot(_.contains("name:string,_lc:string")) // the dict's own scan
    assert(readSchemas.nonEmpty, mPlan)
    assert(!readSchemas.exists(s => s.contains("_lc") || s.contains("labels")),
      s"label strings read from the points scan on the dict matcher path: $readSchemas")
    // regex matchers ride the dictionary semi-join too
    def reResults(d: Option[org.apache.spark.sql.DataFrame]) =
      Engine.instantQuery(spark, stored, s"""click{user=~"$someUser|999"}""", tick,
        lookbackMs = day, seriesDict = d).count()
    assert(reResults(dict) == reResults(None) && reResults(dict) > 0)
    // negative and empty-value (absent-label) matchers survive the rewrite
    def negResults(d: Option[org.apache.spark.sql.DataFrame]) =
      Engine.instantQuery(spark, stored, """click{user!="0",missing=""}""", tick,
        lookbackMs = day, seriesDict = d).count()
    assert(negResults(dict) == negResults(None) && negResults(dict) > 0)

    // range kernels ride the same slim path: the exploded window rows —
    // the engine's largest relation — shuffle only primitives too
    def rateResults(d: Option[org.apache.spark.sql.DataFrame]) =
      Engine.rangeQuery(spark, stored, "sum by (user) (rate(click[2d]))",
        tick, tick, 1000L, lookbackMs = day, seriesDict = d)
        .select(col("labels")("user"), col("t"), round(col("value"), 9))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val rateWith = rateResults(dict)
    assert(rateWith == rateResults(None) && rateWith.nonEmpty)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val ratePlan = try {
      Engine.rangeQuery(spark, stored, "rate(click[2d])", tick, tick, 1000L,
        lookbackMs = day, seriesDict = dict).queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val rateShuffles = ratePlan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("sig") => e
    }
    // the kernel's shuffle happens BEFORE the window explode: the wire
    // carries one slim (sig, t, value) row per sample — never the
    // per-(series, step) fold buffers (each serializing ~window/step
    // copies), and never a label string. (Other sig exchanges — the
    // result-sized dictionary restore's first() buffers — may carry the
    // canonical string by design.)
    assert(!rateShuffles.exists(_.outputPartitioning.toString.contains("step")),
      "fold-kernel exchange must be pre-explode (sig only, not (sig, step))")
    val kernelShuffles = rateShuffles.filter(_.output.forall(a =>
      a.dataType == org.apache.spark.sql.types.LongType ||
        a.dataType == org.apache.spark.sql.types.DoubleType))
    assert(kernelShuffles.nonEmpty,
      s"expected the slim (sig, t, value) pre-explode kernel exchange; saw: " +
        rateShuffles.map(_.output.mkString("[", ",", "]")).mkString(" "))
  })

  test("series-dictionary path: binop and set-op exchanges carry no strings")(withSlimPlan {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("dict_binop").toString
    PointsStore.append(pts, dir)
    val t0 = 1704067200000L
    val tick = t0 + 10 * 86400000L
    val day = 86400000L
    val stored = PointsStore.read(spark, dir, tick - day, tick)
    val dict = PointsStore.readDict(spark, dir)
    assert(dict.isDefined)

    // correctness first: every binop family must agree with the
    // label-carrying path, element for element
    val queries = Seq(
      "click / on(user) group_left click",
      "click + on(user, item) click",
      """click > 3""",
      "click and on(user) click",
      "click or on(user) click",
      "click unless on(user, item) click{user=\"0\"}",
      "sum by (user) (click / ignoring(item) group_left click)")
    for (q <- queries) {
      def res(d: Option[org.apache.spark.sql.DataFrame]) =
        Engine.instantQuery(spark, stored, q, tick, lookbackMs = day, seriesDict = d)
          // map entry order differs between the paths; compare sorted
          .select(to_json(array_sort(map_entries(col("labels")))),
            col("t"), round(col("value"), 9))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val withDict = res(dict)
      assert(withDict == res(None), s"dict path diverges for: $q")
      assert(withDict.nonEmpty, s"empty result for: $q")
    }

    // plan shape: with broadcast off, the (_msig, step) binop join
    // exchanges — and the selector exchanges feeding them — must carry
    // only primitives; the label strings ride only the result-sized
    // dictionary-restore join
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("click / on(user) group_left click", "click and on(user) click")) {
        val plan = Engine.instantQuery(spark, stored, q, tick,
          lookbackMs = day, seriesDict = dict).queryExecution.executedPlan
        val msigShuffles = plan.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("_msig") => e
        }
        assert(msigShuffles.nonEmpty, s"expected a (_msig, step) binop exchange for: $q")
        msigShuffles.foreach { e =>
          assert(!e.output.exists(_.dataType ==
            org.apache.spark.sql.types.StringType),
            s"label string crosses the binop exchange for $q: ${e.output.mkString(",")}")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  })

  test("series-dictionary path: aggregations and kernel chains stay slim end-to-end")(withSlimPlan {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("dict_agg").toString
    PointsStore.append(pts, dir)
    val t0 = 1704067200000L
    val tick = t0 + 10 * 86400000L
    val day = 86400000L
    val stored = PointsStore.read(spark, dir, tick - 2 * day, tick)
    val dict = PointsStore.readDict(spark, dir)
    assert(dict.isDefined)

    // every aggregation family, kernels, and chained shapes must agree
    // with the label-carrying path element for element
    val queries = Seq(
      "sum by (user) (click)",
      "sum(click)",
      "avg without (par) (click)",
      "count(click)",
      "stddev by (par) (click)",
      "quantile by (par) (0.5, click)",
      "topk(2, click)",
      "bottomk by (par) (1, click)",
      """count_values("v", click)""",
      "min_over_time(click[2d])",
      "last_over_time(click[2d])",
      "sum by (user) (rate(click[2d]))",
      // kernel -> agg -> binop: the whole chain slim on the dict path
      "sum by (par) (rate(click[2d])) / sum by (par) (count_over_time(click[2d]))",
      "topk(1, sum by (user) (increase(click[2d])))")
    for (q <- queries) {
      def res(d: Option[org.apache.spark.sql.DataFrame]) =
        Engine.instantQuery(spark, stored, q, tick, lookbackMs = day, seriesDict = d)
          .select(coalesce(col("name"), lit("")).as("n"),
            to_json(array_sort(map_entries(col("labels")))).as("l"),
            col("t"), round(col("value"), 9).as("v"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
          .toSet
      val withDict = res(dict)
      assert(withDict == res(None), s"dict path diverges for: $q")
      assert(withDict.nonEmpty, s"empty result for: $q")
    }

    // plan shape: on the dict path, every DATA-PLANE exchange — anything
    // partitioned per (series|group|match, step) — carries only
    // primitives; label strings may ride only the series/group-sized
    // dictionary side tables (partitioned by sig/_gsig alone)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("sum by (par) (rate(click[2d]))",
        "sum by (par) (rate(click[2d])) / sum by (par) (count_over_time(click[2d]))")) {
        // 2-step grid: a 1-step grid's constant step key constant-folds
        // out of the partitioning string (r15 degenerate-grid fast path)
        val plan = Engine.rangeQuery(spark, stored, q, tick - day, tick, day,
          lookbackMs = day, seriesDict = dict).queryExecution.executedPlan
        val stepShuffles = plan.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("step") => e
        }
        assert(stepShuffles.nonEmpty, s"expected step-partitioned exchanges for: $q")
        stepShuffles.foreach { e =>
          assert(!e.output.exists(_.dataType ==
            org.apache.spark.sql.types.StringType),
            s"label string crosses a data-plane exchange for $q: ${e.output.mkString(",")}")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  })

  test("recording rule output persists and is queryable as a new series") {
    val pts = Points.eventsPoints(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("store").toString
    val tick = 1704067200000L + 10 * 86400000L
    val rec = graft.rules.Rules.recordingTick(spark, pts,
      graft.rules.Rules.RecordingRule("user:click:sum", "sum by (user) (click)"),
      tick, lookbackMs = 86400000L)
    PointsStore.append(rec, dir)
    val back = PointsStore.read(spark, dir, tick, tick)
    val res = Engine.instantQuery(spark, back, "user:click:sum", tick)
    assert(res.count() == rec.count() && res.count() > 0)
  }
}
