package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Incremental dedup against the persisted signature index: the
  * continuous-ingest production shape — every arriving batch dedups
  * against everything already kept, survivors extend the index. */
class IncrementalDedupSpec extends AnyFunSuite with SharedSpark {

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The survivor rule, simulated independently in plain Scala over the
    * engine's own signatures: survive iff no bucket is in the index and
    * the doc is the min id of every one of its batch buckets; survivors'
    * buckets extend the index. */
  private def simulate(batches: Seq[Seq[(Long, String)]]): Seq[Set[Long]] = {
    var index = Set.empty[Long]
    batches.map { rows =>
      val sigs = Dedup.indexSignatures(df(rows)).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val minPerBv = sigs.groupBy(_._2).map { case (bv, xs) => bv -> xs.map(_._1).min }
      val survivors = rows.map(_._1).filter { id =>
        val mine = sigs.filter(_._1 == id).map(_._2)
        mine.forall(bv => !index.contains(bv) && minPerBv(bv) == id)
      }.toSet
      index ++= sigs.filter(x => survivors(x._1)).map(_._2)
      survivors
    }
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while seventeen " +
      "researchers carefully measure every possible outcome of the grand experiment"

  test("crafted batches: exact and near duplicates drop against the index; within-batch keep-one") {
    val dir = Files.createTempDirectory("sigidx").toString
    val b0 = Seq(
      1L -> base,
      2L -> base, // exact dup of 1 within the batch -> dropped (keep-one)
      3L -> "an entirely different document about astrophysics where jam sessions of binary pulsars ring through the observatory halls every autumn night")
    val b1 = Seq(
      10L -> base, // exact dup of kept doc 1 -> index hit via band -1
      11L -> base.replace("seventeen", "eighteen"), // near dup of 1
      12L -> "completely unrelated text about volcanic basalt columns and the slow erosion of coastal cliffs under winter storms")
    val expect = simulate(Seq(b0, b1))
    val s0 = Dedup.incremental(df(b0), dir, name = "n0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s0 == expect(0))
    assert(s0.contains(1L) && !s0.contains(2L) && s0.contains(3L))
    val s1 = Dedup.incremental(df(b1), dir, name = "n1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == expect(1))
    assert(!s1.contains(10L), "exact dup of an indexed doc must drop")
    assert(!s1.contains(11L), "near dup of an indexed doc must drop (shares >=1 band)")
    assert(s1.contains(12L))
  }

  test("corpus batches: engine matches the independently simulated rule, any batch split") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batches = docs.grouped(40).toSeq
    val expect = simulate(batches)
    val dir = Files.createTempDirectory("sigidx_corpus").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      val got = Dedup.incremental(df(b), dir, name = s"c$i")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect(i), s"batch $i diverged from the simulated rule")
    }
  }

  test("streaming foreachBatch soak equals batch-sequential over the same splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).limit(150)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val splits = docs.grouped(30).toSeq // 5 micro-batches
    // batch-sequential ground truth on its own index
    val dirBatch = Files.createTempDirectory("sigidx_b").toString
    val wantPerBatch = splits.zipWithIndex.map { case (b, i) =>
      Dedup.incremental(df(b), dirBatch, name = s"s$i")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // streaming run through foreachBatch on a fresh index
    val dirStream = Files.createTempDirectory("sigidx_s").toString
    val survived = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch(Dedup.incrementalSink(dirStream, out =>
        survived.synchronized {
          survived ++= out.select("doc_id").collect().map(_.getLong(0))
        }))
      .start()
    try {
      splits.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(survived.toSet == wantPerBatch.reduce(_ ++ _))
    // the two indexes hold the same signature set
    val ib = SigIndex.read(spark, dirBatch).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val is = SigIndex.read(spark, dirStream).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ib == is)
  }

  test("replayed batch id recomputes the same survivors and does not double-append") {
    val dir = Files.createTempDirectory("sigidx_replay").toString
    val b0 = Seq(1L -> base, 2L -> (base + " with a divergent coda"))
    val first = Dedup.incrementalOnce(df(b0), dir, batchId = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val live0 = SigIndex.liveNames(spark, dir).toSet
    // at-least-once replay of the SAME batch: same survivors, no new files
    val replay = Dedup.incrementalOnce(df(b0), dir, batchId = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == first)
    assert(SigIndex.liveNames(spark, dir).toSet == live0)
    // without replay awareness the rerun would find its own sigs in the
    // index and drop EVERYTHING — prove the guard is load-bearing
    val naive = Dedup.incremental(df(b0), dir, name = "different")
      .select("doc_id").collect()
    assert(naive.isEmpty)
  }

  test("simhash flavor: engine matches the independently simulated rule") {
    def simulateSh(batches: Seq[Seq[(Long, String)]]): Seq[Set[Long]] = {
      var index = Set.empty[Long]
      batches.map { rows =>
        val sigs = Dedup.simhashIndexSignatures(df(rows)).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val minPerBv = sigs.groupBy(_._2).map { case (bv, xs) => bv -> xs.map(_._1).min }
        val survivors = rows.map(_._1).filter { id =>
          val mine = sigs.filter(_._1 == id).map(_._2)
          mine.forall(bv => !index.contains(bv) && minPerBv(bv) == id)
        }.toSet
        index ++= sigs.filter(x => survivors(x._1)).map(_._2)
        survivors
      }
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).limit(90)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batches = docs.grouped(30).toSeq
    val expect = simulateSh(batches)
    val dir = Files.createTempDirectory("shidx").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      val got = Dedup.incrementalSimHash(df(b), dir, name = s"s$i")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect(i), s"batch $i diverged from the simulated simhash rule")
    }
    // an exact duplicate of a KEPT doc always drops in a later batch
    val keptId = expect.head.head
    val keptText = docs.find(_._1 == keptId).get._2
    assert(Dedup.incrementalSimHash(df(Seq(9999L -> keptText)), dir, name = "dup")
      .collect().isEmpty)
  }

  test("past maxProbe the semi-join fallback decides identically to the In-probe") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).limit(80)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batches = docs.grouped(40).toSeq
    val dirIn = Files.createTempDirectory("sigidx_in").toString
    val dirJoin = Files.createTempDirectory("sigidx_join").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      val viaIn = Dedup.incremental(df(b), dirIn, name = s"f$i")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // maxProbe = 0 forces the bucket-keyed semi-join path on a
      // fresh twin index — the decision must be identical
      val viaJoin = Dedup.incremental(df(b), dirJoin, name = s"f$i", maxProbe = 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(viaIn == viaJoin, s"batch $i: probe and join paths diverged")
    }
  }

  test("the index probe is a pushed In(bv) scan over bloom-carrying files") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("sigidx_plan").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
    Dedup.incremental(docs.where(col("doc_id") < 60), dir, name = "p0")
    // the probe plan: index scan filtered by the batch's bucket set —
    // Spark must push the In/InSet predicate into the parquet scan
    val probe = Seq(1L, 2L, 3L)
    val plan = SigIndex.read(spark, dir)
      .where(col("bv").isInCollection(probe))
      .queryExecution.executedPlan.toString
    assert(plan.replaceAll("\\s", "").matches("(?s).*PushedFilters:\\[[^\\]]*[Ii]n\\(bv.*"),
      s"In(bv) not pushed:\n${plan.take(1200)}")
    // index files carry the bv bloom the probe prunes with
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    val pq = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/batch-p0"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(pq, conf))
    try {
      val blooms = rdr.getFooter.getBlocks.asScala.count { b =>
        val c = b.getColumns.asScala.find(_.getPath.toDotString == "bv").get
        rdr.getBloomFilterDataReader(b).readBloomFilter(c) != null
      }
      assert(blooms > 0, "no row group carries a bv bloom filter")
    } finally rdr.close()
  }

  test("SigIndex: unpublished directories are invisible; compact folds the live set") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sigidx_mvcc").toString
    assert(SigIndex.read(spark, dir).count() == 0) // empty view with schema
    SigIndex.append(Seq((1L, 100L), (2L, 200L)).toDF("doc_id", "bv"), dir, "a")
    // a crashed append: directory written, marker never published
    Seq((9L, 900L)).toDF("doc_id", "bv")
      .write.mode("overwrite").parquet(s"$dir/batch-orphan")
    assert(SigIndex.read(spark, dir).count() == 2)
    SigIndex.append(Seq((3L, 300L)).toDF("doc_id", "bv"), dir, "b")
    assert(SigIndex.read(spark, dir).count() == 3)
    // duplicate name is a no-op
    assert(!SigIndex.append(Seq((4L, 4L)).toDF("doc_id", "bv"), dir, "b"))
    // within the grace window nothing folds (the replay contract)
    SigIndex.compact(spark, dir)
    assert(SigIndex.liveNames(spark, dir).toSet == Set("a", "b"))
    SigIndex.compact(spark, dir, graceMs = 0L)
    assert(SigIndex.liveNames(spark, dir).length == 1)
    val rows = SigIndex.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 100L), (2L, 200L), (3L, 300L)))
    // the orphan and retired directories are swept
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet - "_log"
    assert(dirs.size == 1 && dirs.head.startsWith("batch-compact-"))
    // replay detection OUTLIVES the fold (_seen records) — a duplicate
    // append of a folded name stays a no-op
    assert(SigIndex.contains(spark, dir, "a"))
    assert(!SigIndex.append(Seq((5L, 5L)).toDF("doc_id", "bv"), dir, "a"))
    // but its rows are no longer individually readable
    assert(SigIndex.readBatch(spark, dir, "a").isEmpty)
  }

  test("a racing second writer fails loud on the sequence slot; survivors never split") {
    val dir = Files.createTempDirectory("sigidx_race").toString
    // batch 1 lands normally (claims slot 0)
    Dedup.incremental(df(Seq(1L -> base)), dir, name = "w0")
    // writer A starts batch "wA"; between its number read and its publish
    // a second writer lands a full append (the uncoordinated-two-writers
    // case the sequential contract forbids). A must fail LOUD — without
    // the guard both appends would land and each could keep one copy of
    // a cross-batch duplicate pair.
    var racerRan = false
    val e = intercept[graft.sources.ConcurrentWriterException] {
      graft.testkit.Faults.onceAt("commit", dir) {
        Dedup.incremental(df(Seq(
          20L -> "a racer document about glacial moraines and the stones they carry")),
          dir, name = "racer")
        racerRan = true
      }(Dedup.incremental(df(Seq(
        21L -> "writer A's document about river deltas and silt deposition")),
        dir, name = "wA").collect())
    }
    assert(racerRan && e.getMessage.contains("concurrent writer"))
    // the loser's batch is an unmarked orphan: not visible, not 'landed'
    assert(!SigIndex.contains(spark, dir, "wA"))
    assert(SigIndex.contains(spark, dir, "racer"))
    // sequential life resumes: the next append claims the successor slot
    assert(Dedup.incremental(df(Seq(
      30L -> "a later batch about mangrove roots that knit the shoreline together")),
      dir, name = "w1").count() == 1)
  }

  test("8 writers appending at one commit number: exactly one lands every round") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sigidx_race8").toString
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try for (round <- 0 until 3) {
      val seq = SigIndex.nextAppendSeq(spark, dir)
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val landed = (0 until threads).map(t => pool.submit(
        new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            val sigs = Seq((round * threads + t.toLong, t.toLong)).toDF("doc_id", "bv")
            barrier.await()
            try SigIndex.append(sigs, dir, s"r$round-t$t", seq = Some(seq))
            catch { case _: graft.sources.ConcurrentWriterException => false }
          }
        })).count(_.get())
      assert(landed == 1, s"round $round: $landed writers landed at commit $seq")
      assert(SigIndex.liveNames(spark, dir).length == round + 1)
    } finally pool.shutdown()
    assert(SigIndex.read(spark, dir).count() == 3)
  }

  test("SigIndex snapshot RESTORE continuation: replay detection, slot ledger, dedup answers") {
    val dir = Files.createTempDirectory("sigidx_restore").toString
    Dedup.incremental(df(Seq(1L -> base)), dir, name = "n0")
    val t1 = "a second batch about limestone caves and the rivers that carve them"
    Dedup.incremental(df(Seq(2L -> t1)), dir, name = "n1")
    // restore = copy the snapshot OUT of the original tree onto a fresh
    // path (the real restore shape), then CONTINUE the history on it
    val snapName = SigIndex.snapshot(spark, dir)
    // the original moves on past the snapshot, and a writer reads the
    // number its next append would take there
    Dedup.incremental(df(Seq(5L -> "an original-only batch on tidal marsh grasses")), dir, name = "o2")
    Dedup.incremental(df(Seq(6L -> "an original-only batch on glacier ice cores")), dir, name = "o3")
    val stale = SigIndex.nextAppendSeq(spark, dir)
    val restored = Files.createTempDirectory("sigidx_restored").toString + "/idx"
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$dir/snapshots/$snapName"),
      f, new org.apache.hadoop.fs.Path(restored), false,
      spark.sparkContext.hadoopConfiguration)
    // replay detection carried: the restored history refuses re-appends
    assert(!SigIndex.append(df(Seq(9L -> base))
      .select(col("doc_id"), lit(0L).as("bv")), restored, "n0"))
    // the continued history dedups against the frozen kept-state: a dup
    // of batch-1's doc drops, fresh content survives and extends
    assert(Dedup.incremental(df(Seq(10L -> t1)), restored, name = "n2").count() == 0)
    val t3 = "a third batch describing orchard beekeeping through the almond bloom"
    assert(Dedup.incremental(df(Seq(11L -> t3)), restored, name = "n3").count() == 1)
    assert(Dedup.incremental(df(Seq(12L -> t3)), restored, name = "n4").count() == 0)
    // the numbering carried: a writer holding a number read before the
    // restore fails loud instead of splitting survivors — one from the
    // snapshotted history, and one from the original after it moved on,
    // past the restored index's own appends
    assert(SigIndex.nextAppendSeq(spark, restored) > stale)
    Seq(0L, stale).foreach { seq =>
      intercept[graft.sources.ConcurrentWriterException] {
        SigIndex.append(df(Seq(13L -> t3))
          .select(col("doc_id"), lit(1L).as("bv")), restored, "stale", seq = Some(seq))
      }
    }
    // and a compact on the restored index keeps all of it answering
    SigIndex.compact(spark, restored, graceMs = 0L)
    assert(Dedup.incremental(df(Seq(14L -> base)), restored, name = "n5").count() == 0)
  }

  test("SigIndex.snapshot freezes the kept-state; the original moves on independently") {
    val dir = Files.createTempDirectory("sigidx_snap").toString
    Dedup.incremental(df(Seq(1L -> base)), dir, name = "n0")
    Dedup.incremental(df(Seq(
      2L -> "a second batch about limestone caves and the rivers that carve them")),
      dir, name = "n1")
    val snap = s"$dir/snapshots/${SigIndex.snapshot(spark, dir)}"
    // the original takes a third batch and folds; the snapshot does not
    val t2 = "a third batch describing orchard beekeeping through the almond bloom"
    Dedup.incremental(df(Seq(3L -> t2)), dir, name = "n2")
    SigIndex.compact(spark, dir, graceMs = 0L)
    assert(SigIndex.contains(spark, snap, "n0") && SigIndex.contains(spark, snap, "n1"))
    assert(!SigIndex.contains(spark, snap, "n2"))
    // a duplicate of the ORIGINAL-only batch-2 doc survives against the
    // frozen state but drops against the live one
    val dup = df(Seq(9L -> t2))
    assert(Dedup.incremental(dup, snap, name = "probe").count() == 1)
    assert(Dedup.incremental(dup, dir, name = "probe").count() == 0)
    // and the sequence ledger carried: the probe append above claimed the
    // snapshot's next slot without tripping the writer guard
    assert(SigIndex.contains(spark, snap, "probe"))
  }

  test("replay after a grace-window compact fails loud instead of re-appending") {
    val dir = Files.createTempDirectory("sigidx_fold").toString
    val b0 = Seq(1L -> base, 2L -> "another text about tidal pools and the patient crabs that map them at dusk every single day")
    val first = Dedup.incrementalOnce(df(b0), dir, batchId = 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a second batch so compact has >1 aged dir to fold
    Dedup.incrementalOnce(df(Seq(9L -> (base + " with one extra clause appended"))), dir, batchId = 4L)
    // replay BEFORE any fold answers from the batch directory
    assert(Dedup.incrementalOnce(df(b0), dir, batchId = 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet == first)
    SigIndex.compact(spark, dir, graceMs = 0L)
    // replay AFTER the fold cannot reconstruct its survivors — loud error
    val e = intercept[IllegalStateException] {
      Dedup.incrementalOnce(df(b0), dir, batchId = 3L).collect()
    }
    assert(e.getMessage.contains("folded"))
  }
}
