package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Points
import graft.engine.{Selectors, StepGrid}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator from SURVEY.md §2 over the
  * driver testdata; [[oracleSql]] carries the DuckDB-equivalent SQL (same
  * column names, same rounding) for the correctness gate.
  */
object SparkEntry {

  // ---- shared constants over the events table (spans Jan 2024) ----
  private[graft] val T0  = 1704067200000L // 2024-01-01T00:00:00Z epoch ms
  private[graft] val DAY = 86400000L
  private[graft] val T_END = T0 + 30 * DAY // 2024-01-31T00:00:00Z

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flatten the engine's canonical vector shape for the oracle compare:
    * the labels map becomes its single `user` key; sig is dropped. */
  private def flat(df: DataFrame): DataFrame =
    df.select(col("name"), col("labels").getItem("user").as("user"),
      col("step"), col("t"), col("value"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // §2.1 storage scan + §2.3-analog relational aggregation (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
    }),

    // §2.2 instant vector selector: newest sample per series in lookback
    "q_sel_instant" -> ((s, dir) => {
      val pts = Points.eventsPoints(s, dir).where(col("name") === "click")
      flat(Selectors.instant(pts, StepGrid(T_END, T_END, DAY), lookbackMs = DAY))
    }),

    // §2.1+§2.2 full store round-trip on the series-dictionary layout:
    // append (persists _lc + the _dict sidecar) -> pruned read -> slim
    // instant evaluation (sig-only shuffle, canonical-string matcher,
    // labels joined back from the dictionary at result size); pinned to
    // the slim plan, which a read this small would not choose, one byte
    // below the read rather than at 0: a zero open cost would also shrink
    // Spark's file splits and add a job to the dictionary probe
    "q_sel_dict_instant" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_dict_store").toString
      graft.sources.PointsStore.append(Points.eventsPoints(s, dir), tmp)
      val stored = graft.sources.PointsStore.read(s, tmp, T_END - DAY, T_END)
      graft.engine.Engine.withPlanThreshold(s, graft.engine.Engine.touchedBytes(stored) - 1)(
        graft.engine.Engine.instantQuery(s, stored, """click{par="1"}""", T_END,
          lookbackMs = DAY, seriesDict = graft.sources.PointsStore.readDict(s, tmp)))
        .select(col("name"), col("labels").getItem("user").as("user"),
          col("t"), col("value"))
    }),

    // §2.1 storage last-write-wins: an at-least-once resend with CHANGED
    // values (the worst replay case) collapses at compaction to one
    // sample per (series, t), newest write stamp winning — the guarantee
    // Selectors.instant assumes and the reference's TSM engine enforces
    // per (series, ts)
    "q_store_lww" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lww_store").toString
      val pts = Points.eventsPoints(s, dir)
        .where(col("name") === "click" && col("t") < T0 + 7 * DAY)
      graft.sources.PointsStore.append(pts, tmp)
      // replayed subset with overriding values — the newer append must win
      graft.sources.PointsStore.append(
        pts.where(col("labels").getItem("par") === "1")
          .withColumn("value", col("value") * 2 + 7), tmp)
      graft.sources.PointsStore.compact(s, tmp)
      graft.sources.PointsStore.read(s, tmp, Long.MinValue, Long.MaxValue)
        .select(col("name"), col("labels").getItem("user").as("user"),
          col("t"), col("value"))
    }),

    // §2.1 storage last-write-wins WITHOUT compaction: the same changed-
    // value resend, but the store is read back before any compact runs —
    // the read-time keep-newest-_seq guard alone must collapse the
    // duplicates (the reference overwrites at write time, so a remote-write
    // retry between compactions must not double-count there either)
    "q_store_lww_nocompact" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lww2_store").toString
      val pts = Points.eventsPoints(s, dir)
        .where(col("name") === "click" && col("t") < T0 + 7 * DAY)
      graft.sources.PointsStore.append(pts, tmp)
      graft.sources.PointsStore.append(
        pts.where(col("labels").getItem("par") === "1")
          .withColumn("value", col("value") * 2 + 7), tmp)
      graft.sources.PointsStore.read(s, tmp, Long.MinValue, Long.MaxValue)
        .select(col("name"), col("labels").getItem("user").as("user"),
          col("t"), col("value"))
    }),

    // §2.1 storage last-write-wins WITHIN one append batch: the batch
    // itself carries a changed duplicate for every (series, t) it re-sends
    // (a self-duplicating sender — the reference's TSM cache keeps the
    // batch's LAST write per (series, ts)); read back with no compaction,
    // the per-row `_sub` stamp must pick the later row of the SAME batch
    "q_store_lww_batchdup" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lww3_store").toString
      val pts = Points.eventsPoints(s, dir)
        .where(col("name") === "click" && col("t") < T0 + 7 * DAY)
      // union puts the changed copies in LATER partitions of the one batch
      // (higher monotonically_increasing_id ⇒ higher _sub ⇒ they win)
      val batch = pts.unionByName(
        pts.where(col("labels").getItem("par") === "1")
          .withColumn("value", col("value") * 2 + 7))
      graft.sources.PointsStore.append(batch, tmp)
      graft.sources.PointsStore.read(s, tmp, Long.MinValue, Long.MaxValue)
        .select(col("name"), col("labels").getItem("user").as("user"),
          col("t"), col("value"))
    }),

    // §2.1 storage retention: expire drops whole UTC-day partitions older
    // than the cutoff day (reference: retention enforcer deleting aged
    // shards); with a midnight cutoff this is exactly t >= cutoff
    "q_store_expire" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_exp_store").toString
      graft.sources.PointsStore.append(
        Points.eventsPoints(s, dir).where(col("name") === "click"), tmp)
      graft.sources.PointsStore.expire(s, tmp, T0 + 10 * DAY)
      graft.sources.PointsStore.read(s, tmp, Long.MinValue, Long.MaxValue)
        .select(col("name"), col("labels").getItem("user").as("user"),
          col("t"), col("value"))
    }),

    // §2.1/§3 admin deletion (POST /api/v1/admin/tsdb/delete_series →
    // PointsStore.deleteSeries): one series' samples removed within
    // [T0+3d, T0+6d] via the MVCC day rewrite; every other sample —
    // other series, and the same series outside the range — intact
    "q_store_delete_series" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_del_store").toString
      graft.sources.PointsStore.append(
        Points.eventsPoints(s, dir).where(col("name") === "click"), tmp)
      graft.sources.PointsStore.deleteSeries(s, tmp, """click{par="1"}""",
        T0 + 3 * DAY, T0 + 6 * DAY)
      graft.sources.PointsStore.read(s, tmp, Long.MinValue, Long.MaxValue)
        .select(col("name"), col("labels").getItem("user").as("user"),
          col("t"), col("value"))
    }),

    // §2.2 range (matrix) selector: all samples in [step-2d, step] per step
    // (the matrix carries the canonical label string; rebuild the map)
    "q_sel_range" -> ((s, dir) => {
      val pts = Points.eventsPoints(s, dir).where(col("name") === "purchase")
      flat(Selectors.range(pts, StepGrid(T0 + 2 * DAY, T_END, DAY), rangeMs = 2 * DAY)
        .withColumn("labels", graft.engine.Labels.fromCanonical(col("_lc"))))
    })
  ) ++ graft.queries.PromqlQueries.queries ++ graft.queries.PipelineQueries.queries ++
    graft.queries.RollupQueries.queries ++ graft.queries.IngestQueries.queries ++
    graft.queries.EventQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_sel_instant" ->
      s"""WITH p AS (
         |  SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |         epoch_us(ts) // 1000 AS t, value
         |  FROM events WHERE event_type = 'click'
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY name, "user" ORDER BY t DESC) AS rn
         |  FROM p WHERE t >= $T_END - $DAY AND t <= $T_END
         |)
         |SELECT name, "user", CAST($T_END AS BIGINT) AS step, t, value
         |FROM r WHERE rn = 1""".stripMargin,

    "q_sel_dict_instant" ->
      s"""WITH p AS (
         |  SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |         epoch_us(ts) // 1000 AS t, value
         |  FROM events WHERE event_type = 'click' AND user_id % 3 = 1
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY name, "user" ORDER BY t DESC) AS rn
         |  FROM p WHERE t >= $T_END - $DAY AND t <= $T_END
         |)
         |SELECT name, "user", CAST($T_END AS BIGINT) AS t, value
         |FROM r WHERE rn = 1""".stripMargin,

    "q_store_lww" ->
      s"""WITH p AS (
        |  SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
        |         user_id % 3 AS par, epoch_us(ts) // 1000 AS t, value
        |  FROM events WHERE event_type = 'click')
        |SELECT name, "user", t,
        |       CASE WHEN par = 1 THEN value * 2 + 7 ELSE value END AS value
        |FROM p WHERE t < ${T0 + 7 * DAY}""".stripMargin,

    "q_store_lww_nocompact" ->
      s"""WITH p AS (
        |  SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
        |         user_id % 3 AS par, epoch_us(ts) // 1000 AS t, value
        |  FROM events WHERE event_type = 'click')
        |SELECT name, "user", t,
        |       CASE WHEN par = 1 THEN value * 2 + 7 ELSE value END AS value
        |FROM p WHERE t < ${T0 + 7 * DAY}""".stripMargin,

    "q_store_lww_batchdup" ->
      s"""WITH p AS (
        |  SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
        |         user_id % 3 AS par, epoch_us(ts) // 1000 AS t, value
        |  FROM events WHERE event_type = 'click')
        |SELECT name, "user", t,
        |       CASE WHEN par = 1 THEN value * 2 + 7 ELSE value END AS value
        |FROM p WHERE t < ${T0 + 7 * DAY}""".stripMargin,

    "q_store_expire" ->
      s"""SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |       epoch_us(ts) // 1000 AS t, value
         |FROM events
         |WHERE event_type = 'click' AND epoch_us(ts) // 1000 >= ${T0 + 10 * DAY}""".stripMargin,

    "q_store_delete_series" ->
      s"""SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |       epoch_us(ts) // 1000 AS t, value
         |FROM events
         |WHERE event_type = 'click'
         |  AND NOT (user_id % 3 = 1
         |           AND epoch_us(ts) // 1000 BETWEEN ${T0 + 3 * DAY} AND ${T0 + 6 * DAY})""".stripMargin,

    "q_sel_range" ->
      s"""WITH steps AS (
         |  SELECT unnest(generate_series(${T0 + 2 * DAY}, $T_END, $DAY)) AS step
         |), p AS (
         |  SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |         epoch_us(ts) // 1000 AS t, value
         |  FROM events WHERE event_type = 'purchase'
         |)
         |SELECT p.name, p."user", steps.step, p.t, p.value
         |FROM steps JOIN p ON p.t >= steps.step - ${2 * DAY} AND p.t <= steps.step""".stripMargin
  ) ++ graft.queries.PromqlQueries.oracle ++ graft.queries.PipelineQueries.oracle ++
    graft.queries.RollupQueries.oracle ++ graft.queries.IngestQueries.oracle ++
    graft.queries.EventQueries.oracle
}
