package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Points
import graft.testkit.SharedSpark

/** Admin surface over the store: delete_series as an MVCC day rewrite,
  * snapshot as a hard-linked consistent generation. Reference: the
  * vendored web/api/v1/api.go:400-406 admin routes over TSDB
  * Delete/Snapshot. */
class StoreAdminSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private val DAY = 86400000L
  private val T0 = 1704067200000L

  /** Two metrics × three users × 10 days, one sample per day. */
  private def seed(): String = {
    val dir = Files.createTempDirectory("admin_store").toString
    val rows = for {
      m <- Seq("cpu", "mem"); u <- 0 to 2; d <- 0 until 10
    } yield Row(m, Map("user" -> u.toString), T0 + d * DAY, (u * 10 + d).toDouble)
    PointsStore.append(Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)), dir)
    dir
  }

  private def readAll(dir: String) =
    PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)

  test("deleteSeries removes exactly the matching samples in the range") {
    val dir = seed()
    val rewritten = PointsStore.deleteSeries(spark, dir, """cpu{user="1"}""",
      T0 + 2 * DAY, T0 + 5 * DAY)
    assert(rewritten.length == 4) // only the 4 intersecting days rewrote
    val left = readAll(dir)
      .select(col("name"), col("labels")("user").as("u"), col("t")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val expect = (for {
      m <- Seq("cpu", "mem"); u <- 0 to 2; d <- 0 until 10
      if !(m == "cpu" && u == 1 && d >= 2 && d <= 5)
    } yield (m, u.toString, T0 + d * DAY)).toSet
    assert(left == expect)
  }

  test("deleteSeries with a name-less regex selector and open time range") {
    val dir = seed()
    PointsStore.deleteSeries(spark, dir, """{user=~"0|2"}""")
    val users = readAll(dir).select(col("labels")("user")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(users == Set("1"))
    assert(readAll(dir).count() == 2 * 10) // both metrics keep user 1
  }

  test("deleteSeries leaves untouched days' files alone and is reader-safe") {
    val dir = seed()
    // plan a reader against the pre-delete generation
    val before = readAll(dir)
    val beforeCount = before.count()
    val rewritten = PointsStore.deleteSeries(spark, dir, """mem{user="0"}""",
      T0, T0) // one day only
    assert(rewritten.length == 1)
    // the pre-delete plan still collects completely: replaced files are
    // -listed, never deleted, until a grace window passes
    assert(before.count() == beforeCount)
    assert(readAll(dir).count() == beforeCount - 1)
    // a selector with no matches rewrites nothing
    assert(PointsStore.deleteSeries(spark, dir, """nope{user="9"}""").isEmpty)
  }

  test("snapshot is a consistent, readable, frozen store") {
    val dir = seed()
    PointsStore.append(Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("cpu", Map("user" -> "9"), T0, 1.0)), 1), schema)), dir)
    PointsStore.compact(spark, dir, graceMs = 0L) // snapshot must carry manifest-gated files
    val n = readAll(dir).count()
    val name = PointsStore.snapshot(spark, dir)
    // standard Prometheus layout: <data-dir>/snapshots/<name>
    val snapDir = s"$dir/snapshots/$name"
    assert(PointsStore.read(spark, snapDir, Long.MinValue, Long.MaxValue).count() == n)
    // later writes do not leak into the snapshot
    PointsStore.append(Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("cpu", Map("user" -> "8"), T0 + DAY, 2.0)), 1), schema)), dir)
    assert(readAll(dir).count() == n + 1)
    assert(PointsStore.read(spark, snapDir, Long.MinValue, Long.MaxValue).count() == n)
    // the snapshot's dict reads too
    assert(PointsStore.readDict(spark, snapDir).get.count() ==
      readAll(snapDir).select("sig").distinct().count())
  }

  test("a store holding ONLY snapshots still reads as an empty frame with schema") {
    val dir = seed()
    PointsStore.append(Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("cpu", Map("user" -> "9"), T0, 1.0)), 1), schema)), dir)
    PointsStore.snapshot(spark, dir)
    // retention expires every day partition; only snapshots/ remains
    PointsStore.expire(spark, dir, T0 + 365L * DAY)
    val out = PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue)
    assert(out.count() == 0)
    // schema survives (derived from the snapshot, never a root scan that
    // would trip over the nested snapshots/<name>/date= layout)
    assert(Seq("name", "labels", "t", "value").forall(out.columns.contains))
  }

  test("admin HTTP routes: delete_series, snapshot, clean_tombstones, method/param guards") {
    val dir = seed()
    val api = new graft.api.HttpApi(spark,
      points = readAll(dir),
      pointsProvider = Some(() => readAll(dir)),
      adminStore = Some(dir))
    val port = api.start(0)
    def send(method: String, path: String): (Int, String) = {
      val c = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod(method)
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else {
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      c.disconnect()
      (code, body)
    }
    try {
      val (code, _) = send("POST",
        "/api/v1/admin/tsdb/delete_series?match%5B%5D=cpu%7Buser%3D%220%22%7D")
      assert(code == 204)
      assert(readAll(dir).where(col("name") === "cpu" &&
        col("labels")("user") === "0").count() == 0)
      assert(readAll(dir).where(col("name") === "mem").count() == 30)
      val (c2, body) = send("PUT", "/api/v1/admin/tsdb/snapshot")
      assert(c2 == 200 && body.contains("\"name\""))
      val (c3, _) = send("POST", "/api/v1/admin/tsdb/clean_tombstones")
      assert(c3 == 204)
      val (c4, _) = send("GET", "/api/v1/admin/tsdb/delete_series?match%5B%5D=cpu")
      assert(c4 == 405)
      val (c5, b5) = send("POST", "/api/v1/admin/tsdb/delete_series")
      assert(c5 == 400 && b5.contains("no match[] parameter"))
      // DELETE /api/v1/series — the vendored agent-mode route
      // (api.go:377), served for real: match[]-union delete; GET on the
      // same path still answers the read API
      val (c6, _) = send("DELETE",
        "/api/v1/series?match%5B%5D=cpu%7Buser%3D%221%22%7D")
      assert(c6 == 204)
      assert(readAll(dir).where(col("name") === "cpu" &&
        col("labels")("user") === "1").count() == 0)
      assert(readAll(dir).where(col("name") === "mem").count() == 30)
      val (c7, b7) = send("DELETE", "/api/v1/series")
      assert(c7 == 400 && b7.contains("no match[] parameter"))
      val (c8, b8) = send("GET",
        "/api/v1/series?match%5B%5D=mem&start=0&end=9999999999")
      assert(c8 == 200 && b8.contains("\"mem\""))
      // CORS is scoped to the read routes: the admin preflight gets no
      // wildcard grant, the read preflight keeps it
      def preflight(path: String): Option[String] = {
        val c = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("OPTIONS")
        assert(c.getResponseCode == 204)
        val allow = Option(c.getHeaderField("Access-Control-Allow-Origin"))
        c.disconnect()
        allow
      }
      assert(preflight("/api/v1/admin/tsdb/delete_series").isEmpty)
      assert(preflight("/api/v1/admin/tsdb/snapshot").isEmpty)
      assert(preflight("/api/v1/query").contains("*"))
    } finally api.stop()
  }

  test("DELETE /api/v1/series without an admin store answers the reference's stub") {
    val dir = seed()
    val api = new graft.api.HttpApi(spark, points = readAll(dir))
    val port = api.start(0)
    try {
      val c = new java.net.URL(
        s"http://127.0.0.1:$port/api/v1/series?match%5B%5D=cpu")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("DELETE")
      assert(c.getResponseCode == 500)
      val body = scala.io.Source.fromInputStream(c.getErrorStream, "UTF-8").mkString
      assert(body.contains("not implemented")) // vendored api.go:866-868
      c.disconnect()
    } finally api.stop()
  }

  test("deleteSeries racing a concurrent compact never resurrects deleted samples") {
    // The Serve deployment runs the maintenance-tick compaction in one
    // thread and the admin delete_series route in another. Without
    // per-day rewrite serialization + the numbered commit, a
    // compaction that read the pre-delete live set but published after
    // the delete would win the visibility flip and bring the samples back.
    // Stress both orders: fragment a day, then fire compact and delete
    // concurrently and assert the deletion survives, every iteration.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 0 until 6) {
        val dir = Files.createTempDirectory(s"race_store_$i").toString
        // several append batches -> a fragmented day compaction wants
        for (b <- 0 until 4) {
          val rows = for { u <- 0 to 2 } yield
            Row("cpu", Map("user" -> u.toString), T0 + b * 1000L, (u + b).toDouble)
          PointsStore.append(Points.withSig(spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema)), dir)
        }
        val compactF = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { PointsStore.compact(spark, dir, graceMs = 0L); () }
        })
        val deleteF = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { PointsStore.deleteSeries(spark, dir, """cpu{user="1"}"""); () }
        })
        compactF.get(); deleteF.get()
        // another settle pass in either order must not resurrect either
        PointsStore.compact(spark, dir, graceMs = 0L)
        assert(readAll(dir).where(col("labels")("user") === "1").count() == 0,
          s"iteration $i resurrected deleted samples")
        assert(readAll(dir).where(col("labels")("user") =!= "1").count() == 8)
      }
    } finally pool.shutdown()
  }

  /** The CROSS-PROCESS publish race: another publisher commits between a
    * rewrite's reading of the tip and its own commit. The stripe lock
    * can't cover this (separate JVMs); the numbered commit must — both
    * rewrites want the same commit number, the second create fails, and
    * the loser retries. The publishTestHook injects a full deleteSeries
    * exactly inside compaction's tip→commit window (stripe locks are
    * reentrant, so the same-thread injection models an uncoordinated
    * separate process). Without the exclusive commit the compaction —
    * built from the pre-delete live set — would publish last and silently
    * resurrect the deletion. */
  test("publish race past the pre-rename check: fork is detected, deletion never resurrected") {
    // single-day store in 3 append files (single-day rewrites run inline
    // on the caller thread, so the hook's injected delete re-enters the
    // stripe lock like an uncoordinated separate process would bypass it)
    val dir = Files.createTempDirectory("race_store").toString
    for (b <- 0 until 3) {
      val rows = (0 to 2).map(u =>
        Row("cpu", Map("user" -> u.toString), T0 + b * 1000L + u, (u * 10 + b).toDouble))
      PointsStore.append(Points.withSig(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)), dir)
    }
    var deleted = false
    PointsStore.publishTestHook.set { () =>
      PointsStore.deleteSeries(spark, dir, """cpu{user="1"}""", graceMs = 0L)
      deleted = true
      Thread.sleep(10) // order the racing renames' mtimes deterministically
    }
    try PointsStore.compact(spark, dir, graceMs = 0L)
    finally PointsStore.publishTestHook.set(null)
    assert(deleted, "hook did not run — no rewrite happened")
    val left = readAll(dir)
    assert(left.where(col("labels")("user") === "1").count() == 0,
      "racing compaction resurrected the deleted series")
    assert(left.count() == 6) // users 0 and 2 x 3 batches survive intact
    // and the store remains fully operable: another settle pass
    PointsStore.compact(spark, dir, graceMs = 0L)
    assert(readAll(dir).count() == 6)
  }

  test("non-selector input is rejected") {
    val dir = seed()
    intercept[IllegalArgumentException] {
      PointsStore.deleteSeries(spark, dir, "sum(cpu)")
    }
    intercept[IllegalArgumentException] {
      PointsStore.deleteSeries(spark, dir, "cpu offset 5m")
    }
  }

  /** A store mixing stale-carrying files (OTLP ingest writes staleness
    * markers) with stale-less files (pre-normalization layouts) must read
    * with ONE uniform schema: stale-less rows as stale=false — never
    * stale=null, which `!stale` filters would silently drop — and markers
    * as stale=true regardless of which file parquet inference sampled. */
  test("mixed stale-carrying / stale-less files read uniformly; compact converges the layout") {
    val dir = Files.createTempDirectory("mixed_stale_store").toString
    // simulate a pre-`stale` layout file: bypass append (which normalizes)
    // and write a plain part-* file without the column
    val legacyRows = (0 until 4).map(i =>
      Row("cpu", Map("user" -> i.toString), T0 + i * 1000L, i.toDouble))
    Points.withCanonical(Points.withSig(spark.createDataFrame(
        spark.sparkContext.parallelize(legacyRows, 1), schema)))
      .withColumn("date", to_date(timestamp_millis(col("t"))))
      .write.partitionBy("date").mode("append").parquet(dir)
    // OTLP-era batch on the same day: one real sample + one staleness marker
    val otlpSchema = schema.add(StructField("stale", BooleanType))
    val otlpRows = Seq(
      Row("cpu", Map("user" -> "9"), T0 + 10000L, 9.0, false),
      Row("cpu", Map("user" -> "9"), T0 + 11000L, Double.NaN, true))
    PointsStore.append(Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(otlpRows, 1), otlpSchema)), dir)

    def check(ctx: String): Unit = {
      val all = readAll(dir)
      assert(all.columns.contains("stale"), s"$ctx: stale column missing")
      assert(all.count() == 6, s"$ctx: row lost")
      assert(all.where(col("stale").isNull).count() == 0, s"$ctx: null stale")
      assert(all.where(col("stale")).count() == 1, s"$ctx: marker lost")
      // the engine's marker filter keeps every real sample, drops the marker
      val kept = graft.engine.Selectors.dropStale(all)
      assert(kept.count() == 5, s"$ctx: dropStale wrong")
      assert(kept.where(isnan(col("value"))).count() == 0, s"$ctx: marker leaked as NaN")
    }
    check("mixed live")
    // compaction rewrites through the normalized read -> uniform layout
    assert(PointsStore.compact(spark, dir, graceMs = 0L).nonEmpty)
    check("compacted")
  }

  test("concurrent appends of disjoint batches all land and read back in full") {
    val dir = Files.createTempDirectory("append_race").toString
    val writers = 8
    val perWriter = 50
    def batch(w: Int) = Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until perWriter).map(i =>
        Row("race", Map("writer" -> w.toString, "i" -> (i % 5).toString),
          T0 + i * 60000L, w.toDouble)), 2), schema))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes = try {
      val futures = (0 until writers).map(w => pool.submit(
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { start.await(); PointsStore.append(batch(w), dir) }
        }))
      start.countDown()
      futures.map(f => scala.util.Try(f.get()))
    } finally pool.shutdown()
    assert(outcomes.forall(_.isSuccess), outcomes.collect {
      case scala.util.Failure(e) => e.getMessage }.mkString("; "))
    val back = readAll(dir)
    assert(back.count() == writers * perWriter)
    assert(back.groupBy(col("labels")("writer")).count().count() == writers)
    // the dictionary holds every series, and no staging dir is left
    assert(PointsStore.readDict(spark, dir).get.count() == writers * 5)
    assert(new java.io.File(dir).list().forall(n => !n.startsWith(".append-")))
  }

  test("compaction sweeps staging dirs an append left behind, after the grace window") {
    val dir = seed()
    val stale = new java.io.File(dir, ".append-crashed")
    val fresh = new java.io.File(dir, ".append-recent")
    Seq(stale, fresh).foreach(d => assert(new java.io.File(d, "_dict").mkdirs()))
    val hourMs = 3600000L
    assert(stale.setLastModified(System.currentTimeMillis() - 2 * hourMs))
    PointsStore.compact(spark, dir, graceMs = hourMs)
    assert(!stale.exists() && fresh.exists())
    assert(readAll(dir).count() == 60)
  }

  test("reads of one commit share one relation; an append, compact or delete gives a new one") {
    val dir = seed()
    def relation(df: org.apache.spark.sql.DataFrame) =
      graft.engine.Engine.fileIndexes(df.queryExecution.analyzed).head
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("name"), col("labels")("user"), col("t"), col("value")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val first = readAll(dir)
    assert(relation(readAll(dir)) eq relation(first))
    val seeded = rowsOf(first)

    PointsStore.append(Points.withSig(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("cpu", Map("user" -> "9"), T0 + 3 * DAY, 99.0)), 1), schema)), dir)
    val appended = readAll(dir)
    assert(!(relation(appended) eq relation(first)))
    assert(rowsOf(appended) == seeded + (("cpu", "9", T0 + 3 * DAY, 99.0)))

    PointsStore.compact(spark, dir)
    val compacted = readAll(dir)
    assert(!(relation(compacted) eq relation(appended)))
    assert(rowsOf(compacted) == rowsOf(appended))

    PointsStore.deleteSeries(spark, dir, """mem{user="0"}""")
    val deleted = readAll(dir)
    assert(!(relation(deleted) eq relation(compacted)))
    assert(rowsOf(deleted) == rowsOf(compacted).filterNot(r => r._1 == "mem" && r._2 == "0"))
    assert(relation(readAll(dir)) eq relation(deleted))
  }
}
