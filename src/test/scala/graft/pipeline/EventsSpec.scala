package graft.pipeline

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class EventsSpec extends AnyFunSuite with SharedSpark {

  private lazy val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  test("sessionize: sessions partition the events, gaps respected") {
    val s = Events.sessionize(events).cache()
    // every event lands in exactly one session
    assert(s.agg(sum("n_events")).head.getLong(0) == events.count())
    // within a user, sessions are disjoint and ordered: session k+1 starts
    // strictly after session k ends, and by more than the gap
    import spark.implicits._
    val bad = s.as("a").join(s.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.session_idx" + 1 === $"b.session_idx")
      .where($"b.start_ms" - $"a.end_ms" <= Events.DefaultGapMs)
    assert(bad.count() == 0)
    // single-event sessions have zero duration
    assert(s.where($"n_events" === 1 && $"duration_ms" =!= 0).count() == 0)
  }

  test("sessionize agrees with Spark's built-in session_window") {
    // the built-in merges events whose windows (t, t+gap) overlap — the
    // same equivalence classes as the lag/cumsum formulation, so per-user
    // session COUNTS (and each session's event count multiset) must agree
    val tMs = graft.model.Points.eventTsMillis(events)
    val builtin = events
      .select(col("user_id"), timestamp_millis(tMs).as("ts2"))
      .groupBy(col("user_id"),
        session_window(col("ts2"), s"${Events.DefaultGapMs / 1000} seconds"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_ev"))
    val ours = Events.sessionize(events)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_ev"))
    assert(builtin.exceptAll(ours).isEmpty && ours.exceptAll(builtin).isEmpty)
  }

  test("sessionize works on a live stream via session_window") {
    // streaming path: the same gap semantics through Structured Streaming
    // (session_window + watermark), fed from a MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, t_ms)
    val q = in.toDF().toDF("user_id", "t")
      .withColumn("ts2", timestamp_millis(col("t")))
      .withWatermark("ts2", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts2"), "10 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    try {
      in.addData((1L, 1000L), (1L, 2000L), (1L, 50000L), (2L, 1000L))
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select("user_id", "n_events").collect().map(r => (r.getLong(0), r.getLong(1)))
      // user 1: {2 events} and {1 event}; user 2: {1 event}
      assert(rows.sorted.toSeq == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("sessionizeStream: custom state emits each session once, on close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, t_ms)
    val q = Events.sessionizeStream(in.toDF().toDF("user_id", "t"), gapMs = 10000L)
      .writeStream.format("memory").queryName("sessions_fmgws")
      .outputMode("append").start()
    def rows() = spark.table("sessions_fmgws")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    try {
      // open a session for user 1 (two events, out of order within batch)
      in.addData((1L, 2000L), (1L, 1000L))
      q.processAllAvailable()
      assert(rows().isEmpty) // still open — nothing emitted yet
      // an event far past the gap closes it EAGERLY (append mode), and
      // opens a new one
      in.addData((1L, 100000L))
      q.processAllAvailable()
      assert(rows() == Set((1L, 1000L, 2000L, 2L)))
      // watermark moves past the second session's gap via another user
      in.addData((2L, 300000L))
      q.processAllAvailable()
      assert(rows() == Set((1L, 1000L, 2000L, 2L), (1L, 100000L, 100000L, 1L)))
    } finally q.stop()
  }

  test("sessionizeStream: a late event beyond the gap BEFORE the open session splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    // generous lateness so the cross-batch late row is admitted
    val q = Events.sessionizeStream(in.toDF().toDF("user_id", "t"),
      gapMs = 10000L, latenessMs = 500000L)
      .writeStream.format("memory").queryName("sessions_late_split")
      .outputMode("append").start()
    def rows() = spark.table("sessions_late_split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    try {
      in.addData((1L, 200000L))
      q.processAllAvailable()
      // late event 100s BEFORE the open session's start — far beyond the
      // 10s gap: it must become its own (immediately closed) session, NOT
      // stretch the open session's start back to 100000
      in.addData((1L, 100000L))
      q.processAllAvailable()
      assert(rows() == Set((1L, 100000L, 100000L, 1L)))
      // and the open session still closes with its ORIGINAL start
      in.addData((2L, 900000L)) // watermark mover
      q.processAllAvailable()
      assert(rows() == Set((1L, 100000L, 100000L, 1L), (1L, 200000L, 200000L, 1L)))
      // within-gap late rows still extend backwards (unchanged semantics):
      in.addData((3L, 500000L), (3L, 495000L))
      q.processAllAvailable()
      in.addData((2L, 2000000L)) // watermark mover closes user 3
      q.processAllAvailable()
      assert(rows().contains((3L, 495000L, 500000L, 2L)))
    } finally q.stop()
  }

  test("funnel: reached is monotone and step times are ordered") {
    val f = Events.funnel(events, Seq("view", "click", "purchase")).cache()
    import spark.implicits._
    // t1 always real; t2/t3 real iff reached covers them; strict order
    assert(f.where($"t1" < 0).count() == 0)
    assert(f.where($"reached" >= 2 && ($"t2" < 0 || $"t2" <= $"t1")).count() == 0)
    assert(f.where($"reached" === 3 && ($"t3" < 0 || $"t3" <= $"t2")).count() == 0)
    assert(f.where($"reached" < 3 && $"t3" >= 0).count() == 0)
    // root population: exactly the users with a 'view' event
    assert(f.count() ==
      events.where(col("event_type") === "view").select("user_id").distinct().count())
  }

  test("retention: day-0 row counts every cohort member") {
    val r = Events.retention(events).cache()
    import spark.implicits._
    val day0 = r.where($"offset_days" === 0).agg(sum("n_users")).head.getLong(0)
    assert(day0 == events.select("user_id").distinct().count())
    assert(r.where($"offset_days" < 0).count() == 0)
  }

  test("transitions: per-user chains sum to n_events - 1") {
    val t = Events.transitions(events)
    import spark.implicits._
    val total = t.agg(sum("n")).head.getLong(0)
    val expected = events.groupBy("user_id").count()
      .agg(sum(col("count") - 1)).head.getLong(0)
    assert(total == expected)
    assert(t.where($"n" <= 0).count() == 0)
  }
}
