package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** The incremental/appendable IVF index: cell-partitioned appends under
  * SigIndex's marker-manifest visibility, partition-pruned multi-batch
  * search, grace-windowed folds, and the centroid-drift retrain with its
  * atomic generation flip. */
class IvfIndexSpec extends AnyFunSuite with SharedSpark {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private val cents = Similarity.fixedCentroids(8, 64)

  private def freshIndex(): String = {
    val dir = Files.createTempDirectory("ivf_inc").toString + "/idx"
    IvfIndex.init(spark, dir, cents)
    dir
  }

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("N-batch appends answer exactly like the one-shot probe; any batch split") {
    val q = emb.where(col("vec_id") < 10)
    val expect = resultSet(Similarity.ivfProbe(emb, q, 3, cents, nProbe = 3))
    for (splits <- Seq(Seq(0), Seq(0, 1), Seq(0, 1, 2))) {
      val dir = freshIndex()
      splits.foreach(b => assert(IvfIndex.append(
        emb.where(col("vec_id") % splits.length === b), dir, s"b$b")))
      assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) == expect,
        s"split into ${splits.length} batches diverged")
    }
  }

  test("search partition-prunes every live batch directory to the probed cells") {
    val dir = freshIndex()
    (0 until 3).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 3 === b), dir, s"b$b"))
    val res = IvfIndex.search(spark, dir, emb.where(col("vec_id") < 10), 3, nProbe = 3)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.replaceAll("\\s", "")
      .matches("(?s).*PartitionFilters:\\[[^\\]]*cell.*"),
      s"cell probe not a partition filter:\n${plan.take(1500)}")
    // the on-disk layout: every batch directory is partitioned by cell
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until 3).foreach { b =>
      val cellDirs = f.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/gen-0/batch=b$b"))
        .filter(_.isDirectory).map(_.getPath.getName).count(_.startsWith("cell="))
      assert(cellDirs >= 1 && cellDirs <= 8, s"batch b$b layout")
    }
  }

  test("replayed batch name is detected and skipped; its rows are readable") {
    val dir = freshIndex()
    assert(IvfIndex.append(emb.where(col("vec_id") < 100), dir, "b0"))
    val before = IvfIndex.read(spark, dir).count()
    assert(!IvfIndex.append(emb.where(col("vec_id") < 100), dir, "b0"))
    assert(IvfIndex.read(spark, dir).count() == before)
    assert(IvfIndex.readBatch(spark, dir, "b0").get.count() == before)
    assert(IvfIndex.readBatch(spark, dir, "never").isEmpty)
  }

  test("a batch directory without a marker is invisible (crashed append)") {
    val dir = freshIndex()
    IvfIndex.append(emb.where(col("vec_id") < 50), dir, "b0")
    // simulate a crash: directory written, marker never published
    emb.where(col("vec_id") >= 50 && col("vec_id") < 80)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("ce"))
      .withColumn("cell", lit(0))
      .write.partitionBy("cell").parquet(s"$dir/gen-0/batch=ghost")
    assert(IvfIndex.read(spark, dir).count() == 50)
    assert(!IvfIndex.contains(spark, dir, "ghost"))
  }

  test("compact folds aged batches: same answers, fewer dirs, replay detection survives") {
    val dir = freshIndex()
    (0 until 4).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 4 === b), dir, s"b$b"))
    val q = emb.where(col("vec_id") < 10)
    val before = resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3))
    IvfIndex.compact(spark, dir, graceMs = 0L)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) == before)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/gen-0"))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(batchDirs.length == 1, s"fold left ${batchDirs.mkString(",")}")
    // folded names still count as landed — a late replay is not re-appended
    (0 until 4).foreach(b => assert(IvfIndex.contains(spark, dir, s"b$b")))
    (0 until 4).foreach(b => assert(!IvfIndex.append(
      emb.where(col("vec_id") % 4 === b), dir, s"b$b")))
  }

  test("compact's keyed fold collapses cross-batch duplicate vectors exactly") {
    // overlapping appends simulate the fold crash window (a vector live in
    // two batch dirs); the fold must keep ONE copy per cid — the same set
    // the old full-row distinct() produced — via the narrow-key dedup
    val q = emb.where(col("vec_id") < 10)
    def build(): String = {
      val dir = freshIndex()
      IvfIndex.append(emb.where(col("vec_id") < 50), dir, "b0")
      IvfIndex.append(
        emb.where(col("vec_id") >= 25 && col("vec_id") < 75), dir, "b1")
      dir
    }
    val dir = build()
    val before = resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3))
    IvfIndex.compact(spark, dir, graceMs = 0L)
    assert(IvfIndex.read(spark, dir).count() == 75) // one copy per cid
    assert(IvfIndex.read(spark, dir).select("cid").distinct().count() == 75)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) == before)
    // the distinct() fallback (loser set past the driver budget) produces
    // the same fold
    val dir2 = build()
    IvfIndex.maxFoldDupProbeOverride.set(0)
    try IvfIndex.compact(spark, dir2, graceMs = 0L)
    finally IvfIndex.maxFoldDupProbeOverride.set(null)
    assert(IvfIndex.read(spark, dir2).count() == 75)
    assert(resultSet(IvfIndex.search(spark, dir2, q, 3, nProbe = 3)) == before)
  }

  test("compact's keyed fold collapses duplicate vectors inside one batch dir") {
    // a batch whose input repeats vec_ids lands the copies in ONE batch
    // dir; the fold must still keep one row per cid
    val dir = freshIndex()
    IvfIndex.append(emb.where(col("vec_id") < 30)
      .union(emb.where(col("vec_id") < 10)), dir, "b0")
    IvfIndex.append(emb.where(col("vec_id") >= 30 && col("vec_id") < 40), dir, "b1")
    assert(IvfIndex.read(spark, dir).count() == 50)
    IvfIndex.compact(spark, dir, graceMs = 0L)
    assert(IvfIndex.read(spark, dir).count() == 40)
    assert(IvfIndex.read(spark, dir).select("cid").distinct().count() == 40)
  }

  test("skew measures quantizer drift; maybeRetrain fires only past the threshold") {
    val dir = freshIndex()
    IvfIndex.append(emb, dir, "b0")
    val s = IvfIndex.skew(spark, dir)
    assert(s >= 1.0 && s < 8.0, s"skew $s out of range for 8 cells")
    assert(IvfIndex.maybeRetrain(spark, dir, maxSkew = 1000.0).isEmpty)
    assert(IvfIndex.currentGen(spark, dir).contains(0L))
  }

  test("retrain: atomic generation flip, answers match the new quantizer, names carry") {
    val dir = freshIndex()
    (0 until 3).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 3 === b), dir, s"b$b"))
    val gen = IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    assert(gen == 1L && IvfIndex.currentGen(spark, dir).contains(1L))
    // the new generation answers exactly like an in-memory probe over the
    // SAME retrained quantizer — assignment + search moved coherently
    val newCents = IvfIndex.centroids(spark, dir)
    val q = emb.where(col("vec_id") < 10)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfProbe(emb, q, 3, newCents, nProbe = 3)))
    // replay detection survives the flip: old names are carried forward
    (0 until 3).foreach(b => assert(IvfIndex.contains(spark, dir, s"b$b")))
    (0 until 3).foreach(b => assert(!IvfIndex.append(
      emb.where(col("vec_id") % 3 === b), dir, s"b$b")))
    // the retired generation vacuums after the grace window
    IvfIndex.compact(spark, dir, graceMs = 0L)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/gen-0")))
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfProbe(emb, q, 3, newCents, nProbe = 3)))
  }

  test("an EMPTY batch lands as marker-only and every path tolerates it") {
    val dir = freshIndex()
    assert(IvfIndex.append(emb.where(col("vec_id") < 0), dir, "empty"))
    assert(IvfIndex.contains(spark, dir, "empty"))
    assert(!IvfIndex.append(emb.where(col("vec_id") < 0), dir, "empty")) // replay
    assert(IvfIndex.readBatch(spark, dir, "empty").get.count() == 0)
    assert(IvfIndex.read(spark, dir).count() == 0) // empty-only index reads
    IvfIndex.append(emb.where(col("vec_id") < 50), dir, "b0")
    assert(IvfIndex.read(spark, dir).count() == 50) // mixed with real batches
    assert(IvfIndex.search(spark, dir,
      emb.where(col("vec_id") < 5), 3, nProbe = 3).count() > 0)
    IvfIndex.compact(spark, dir, graceMs = 0L) // folds tolerate marker-only
    assert(IvfIndex.contains(spark, dir, "empty"))
    assert(IvfIndex.read(spark, dir).count() == 50)
  }

  test("search collapses a vector visible in two live directories (fold window)") {
    val dir = freshIndex()
    val sub = emb.where(col("vec_id") < 60)
    IvfIndex.append(sub, dir, "b0")
    // the publish-before-retire window: the same vectors live twice
    IvfIndex.append(sub, dir, "b1")
    val q = emb.where(col("vec_id") < 5)
    val res = IvfIndex.search(spark, dir, q, 3, nProbe = 3).collect()
    val pairs = res.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, "duplicate (qid,cid) in top-k")
    assert(res.groupBy(_.getLong(0)).values.forall(_.length == 3),
      "a duplicated twin consumed a rank slot")
    // and the answers equal the duplicate-free index's
    val clean = freshIndex()
    IvfIndex.append(sub, clean, "b0")
    assert(res.map(_.toSeq).toSet ==
      IvfIndex.search(spark, clean, q, 3, nProbe = 3).collect().map(_.toSeq).toSet)
  }

  // ---- incremental SemDeDup on the shared index state ---------------------

  /** Unit vectors in the (e1, e2) plane at a given angle — cosine between
    * two of them is exactly cos(delta angle). */
  private def planeVec(deg: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    (Seq(math.cos(r), math.sin(r)) ++ Seq.fill(62)(0.0)).map(_.toFloat)
  }

  private def vecDf(rows: (Long, Seq[Float])*) = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v) }, 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  /** One centroid = one cell: every vector shares the SemDeDup cluster,
    * isolating the cosine rules from the quantizer geometry. */
  private def oneCellIndex(): String = {
    val dir = Files.createTempDirectory("semdd_inc").toString + "/idx"
    IvfIndex.init(spark, dir, Array(Array.fill(64)(0.0)))
    dir
  }

  test("semDeDupIncremental: kept-set hits and the monotone within-batch rule") {
    val dir = oneCellIndex()
    // batch 0: a at 0°, d at 60° — far apart, both kept
    val b0 = Similarity.semDeDupIncremental(
      vecDf(1L -> planeVec(0), 2L -> planeVec(60)), dir, "s0", 0.99)
    assert(b0.select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // batch 1: a' at 5° (cos 0.996 vs kept a -> drops), chain b=30°,
    // c=35°, e=41°: nothing within 0.99 of the KEPT set; within the
    // batch cos(b,c)=cos5°>=0.99 drops c, and cos(c,e)=cos6°... < 0.99?
    // cos6°=0.9945 >= 0.99 — e drops BY C even though c itself dropped:
    // the monotone smaller-id rule ignores the peer's own fate
    val b1 = Similarity.semDeDupIncremental(
      vecDf(10L -> planeVec(5), 11L -> planeVec(30), 12L -> planeVec(35),
        13L -> planeVec(41)), dir, "s1", 0.99)
    assert(b1.select("vec_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "expected only the 30-degree vector to survive batch 1")
    // the index state grew by exactly the survivors
    assert(IvfIndex.read(spark, dir).count() == 3)
  }

  test("semDeDupIncremental: replayed name answers from its own batch, no re-append") {
    val dir = oneCellIndex()
    Similarity.semDeDupIncremental(vecDf(1L -> planeVec(0)), dir, "s0", 0.99)
    val first = Similarity.semDeDupIncremental(
      vecDf(5L -> planeVec(3), 6L -> planeVec(50)), dir, "s1", 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(first == Set(6L)) // 3° is a near-dup of the kept 0° vector
    val indexed = IvfIndex.read(spark, dir).count()
    val replay = Similarity.semDeDupIncremental(
      vecDf(5L -> planeVec(3), 6L -> planeVec(50)), dir, "s1", 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(replay == first)
    assert(IvfIndex.read(spark, dir).count() == indexed, "replay re-appended")
  }

  test("semDeDupIncremental: replay after a fold retired the batch fails loud") {
    val dir = oneCellIndex()
    Similarity.semDeDupIncremental(vecDf(1L -> planeVec(0)), dir, "s0", 0.99)
    Similarity.semDeDupIncremental(vecDf(2L -> planeVec(60)), dir, "s1", 0.99)
    IvfIndex.compact(spark, dir, graceMs = 0L) // folds both, past grace
    val e = intercept[IllegalStateException] {
      Similarity.semDeDupIncremental(vecDf(1L -> planeVec(0)), dir, "s0", 0.99)
    }
    assert(e.getMessage.contains("fold") || e.getMessage.contains("retired"))
  }

  test("semDeDupIncremental: batch-split equivalence on real embeddings") {
    // the 3-batch gate history must equal a 1-batch history followed by
    // the other two — i.e. the kept set depends only on arrival order of
    // ids, which the %3 split fixes identically in both runs
    val sub = emb.where(col("vec_id") < 120)
    def history(dir: String, splits: Int): Set[(Int, Long)] =
      (0 until splits).flatMap { b =>
        Similarity.semDeDupIncremental(
            sub.where(pmod(col("vec_id"), lit(splits)) === b), dir, s"s$b", 0.3)
          .select("vec_id").collect().map(r => (b, r.getLong(0)))
      }.toSet
    val d3 = oneCellIndex(); val got3 = history(d3, 3)
    // one-shot single batch: every id arrives at once, smaller-id rule only
    val d1 = oneCellIndex(); val got1 = history(d1, 1)
    // the KEPT ID SET can differ between histories (arrival order matters
    // for which representative survives) but both must be maximal
    // independent-ish: no kept pair within threshold in the same cell
    def noKeptPair(dir: String): Unit = {
      val kept = IvfIndex.read(spark, dir)
      val a = kept.select(col("cell"), col("cid").as("ca"), col("ce").as("ea"))
      val b = kept.select(col("cell").as("_cl"), col("cid").as("cb"), col("ce").as("eb"))
      val bad = a.join(b, col("cell") === col("_cl") && col("ca") < col("cb"))
        .where(Similarity.cosine(col("ea"), col("eb")) >= 0.3)
      assert(bad.count() == 0, "two kept vectors are near-duplicates")
    }
    noKeptPair(d3); noKeptPair(d1)
    assert(got3.map(_._2).nonEmpty && got1.map(_._2).nonEmpty)
  }

  test("snapshot freezes the current generation; the original moves on independently") {
    val dir = freshIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"b$b"))
    val q = emb.where(col("vec_id") < 10)
    val before = resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3))
    val snap = s"$dir/snapshots/${IvfIndex.snapshot(spark, dir)}"
    // the original retrains to a new quantizer; the snapshot keeps the old
    IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    IvfIndex.compact(spark, dir, graceMs = 0L) // old gen vacuumed
    assert(IvfIndex.centroids(spark, snap).map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq)
    assert(resultSet(IvfIndex.search(spark, snap, q, 3, nProbe = 3)) == before)
    // replay detection and the append path survive in the snapshot
    (0 until 2).foreach(b => assert(IvfIndex.contains(spark, snap, s"b$b")))
    assert(IvfIndex.append(emb.where(col("vec_id") < 0), snap, "postsnap"))
  }

  test("appends after a retrain land in the new generation and keep answering") {
    val dir = freshIndex()
    IvfIndex.append(emb.where(col("vec_id") % 2 === 0), dir, "b0")
    IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    assert(IvfIndex.append(emb.where(col("vec_id") % 2 === 1), dir, "b1"))
    val newCents = IvfIndex.centroids(spark, dir)
    val q = emb.where(col("vec_id") < 10)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfProbe(emb, q, 3, newCents, nProbe = 3)))
  }

  test("a racing second semDeDup writer fails loud on the sequence slot") {
    val dir = oneCellIndex()
    Similarity.semDeDupIncremental(vecDf(1L -> planeVec(0)), dir, "w0", 0.99)
    // writer A starts batch "wA"; between its number read and its publish
    // a second writer lands a FULL semDeDup batch (the uncoordinated-two-
    // writers case the sequential contract forbids). A must fail LOUD —
    // without the guard both appends would land, each deduped against a
    // kept-set missing the other's survivors (the cross-batch split).
    var racerRan = false
    val e = intercept[graft.sources.ConcurrentWriterException] {
      graft.testkit.Faults.onceAt("commit", dir) {
        Similarity.semDeDupIncremental(vecDf(20L -> planeVec(120)), dir, "racer", 0.99)
        racerRan = true
      }(Similarity.semDeDupIncremental(vecDf(21L -> planeVec(60)), dir, "wA", 0.99))
    }
    assert(racerRan && e.getMessage.contains("concurrent writer"))
    // the loser's batch is an unmarked orphan: not visible, not 'landed'
    assert(!IvfIndex.contains(spark, dir, "wA"))
    assert(IvfIndex.contains(spark, dir, "racer"))
    // sequential life resumes: the next batch claims the successor slot
    assert(Similarity.semDeDupIncremental(
      vecDf(30L -> planeVec(60)), dir, "w1", 0.99).count() == 1)
    // exactly the survivors of the marked batches are in the kept set
    assert(IvfIndex.read(spark, dir).select("cid").collect()
      .map(_.getLong(0)).toSet == Set(1L, 20L, 30L))
  }

  test("appendAssigned rejects assignments from a retired generation") {
    val dir = freshIndex()
    IvfIndex.append(emb.where(col("vec_id") < 50), dir, "b0")
    val seq = IvfIndex.nextAppendSeq(spark, dir)
    val (gen, assign) = IvfIndex.cellAssignerGen(spark, dir)
    val batch = emb.where(col("vec_id") >= 50 && col("vec_id") < 90)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("cell", assign(col("e")))
      .localCheckpoint()
    // a retrain flips the generation BETWEEN the assignment and the
    // append — the semDeDupIncremental read→dedup→append span. Cell ids
    // are generation-specific: without the gid pin the append's own
    // requireGen would resolve the NEW generation and silently write
    // stale-gen cells into its layout (searches probing new-quantizer
    // cells would never find them).
    IvfIndex.retrain(spark, dir, k = 8, iters = 1, trainLimit = 200)
    val e = intercept[IllegalStateException] {
      IvfIndex.appendAssigned(batch, dir, "b1", seq = Some(seq),
        assignedGen = gen)
    }
    assert(e.getMessage.contains("assigned against generation"))
    assert(!IvfIndex.contains(spark, dir, "b1"))
    // re-assigning against the CURRENT generation lands and is searchable
    val seq2 = IvfIndex.nextAppendSeq(spark, dir)
    val (gen2, assign2) = IvfIndex.cellAssignerGen(spark, dir)
    assert(IvfIndex.appendAssigned(
      batch.drop("cell").withColumn("cell", assign2(col("e"))),
      dir, "b1", seq = Some(seq2), assignedGen = gen2))
    assert(IvfIndex.read(spark, dir).count() == 90)
  }

  test("a retrain flipping inside the append marker window is detected loud") {
    val dir = freshIndex()
    IvfIndex.append(emb.where(col("vec_id") < 50), dir, "b0")
    // flip the generation AFTER the batch is written, BEFORE its commit:
    // the retrain takes the append's commit number, and an append that
    // published onto the new tip anyway would land in the retired
    // generation — success reported, new-generation readers never see
    // the batch (a silent drop)
    val e = intercept[IllegalStateException] {
      graft.testkit.Faults.onceAt("commit", dir)(
        IvfIndex.retrain(spark, dir, k = 8, iters = 1, trainLimit = 200))(
        IvfIndex.append(emb.where(col("vec_id") >= 50 && col("vec_id") < 90), dir, "b1"))
    }
    assert(e.getMessage.contains("raced a retrain"))
    assert(IvfIndex.currentGen(spark, dir).contains(1L))
    // nothing was published: the batch is NOT landed in any generation,
    // and no commit ever named it
    assert(!IvfIndex.contains(spark, dir, "b1"))
    val log = IvfIndex.log(spark, dir)
    val v = log.read()._1
    assert(v.commits.forall(c => !graft.sources.MarkerLog.IndexState
      .parse(new graft.sources.MarkerLog.CommitLog(log.fs, log.root).read(c.path)).landed("b1")))
    // a re-run against the new quantizer lands and is searchable
    assert(IvfIndex.append(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 90), dir, "b1"))
    assert(IvfIndex.read(spark, dir).count() == 90)
  }

  test("search broadcasts the bounded query side (no shuffle on the <=k-value cell key)") {
    val dir = freshIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"b$b"))
    val res = IvfIndex.search(spark, dir, emb.where(col("vec_id") < 10), 3, nProbe = 3)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n${plan.take(1500)}")
    assert(plan.replaceAll("\\s", "").matches("(?s).*PartitionFilters:\\[[^\\]]*cell.*"),
      "broadcasting lost the partition pruning")
  }

  test("snapshot RESTORE continuation: append, replay detection, slots and search") {
    val dir = freshIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"b$b"))
    // restore = copy the snapshot OUT of the original tree (a real
    // restore lands on a fresh path, not inside the source's snapshots/)
    val snapName = IvfIndex.snapshot(spark, dir)
    val snapRows = IvfIndex.read(spark, dir).count()
    // the original moves on past the snapshot, and a writer reads the
    // number its next append would take there
    (2 until 4).foreach(b => IvfIndex.append(emb.where(col("vec_id") < 0), dir, s"o$b"))
    val stale = IvfIndex.nextAppendSeq(spark, dir)
    val restored = Files.createTempDirectory("ivf_restore").toString + "/idx"
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$dir/snapshots/$snapName"),
      f, new org.apache.hadoop.fs.Path(restored), false,
      spark.sparkContext.hadoopConfiguration)
    // the restored index continues the history: replay detection holds,
    // the next append lands, and search covers old AND new batches
    assert(!IvfIndex.append(emb.where(col("vec_id") % 2 === 0), restored, "b0"))
    assert(IvfIndex.append(emb.where(col("vec_id") < 0), restored, "b2")) // empty
    val more = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id") + 100000, col("embedding"))
      .toDF("vec_id", "embedding")
    assert(IvfIndex.append(more, restored, "b3"))
    assert(IvfIndex.read(spark, restored).count() == snapRows + 10)
    assert(IvfIndex.append(emb.where(col("vec_id") < 0), restored, "b4"))
    // the numbering carried: a writer holding a number read before the
    // restore fails loud instead of splitting survivors — one from the
    // snapshotted history, and one from the original after it moved on,
    // past the restored index's own appends
    assert(IvfIndex.nextAppendSeq(spark, restored) > stale)
    Seq(0L, stale).foreach { seq =>
      intercept[graft.sources.ConcurrentWriterException] {
        IvfIndex.append(more, restored, "stale", seq = Some(seq))
      }
    }
    // and the continued index answers exactly like a one-shot probe over
    // the union of the pre-snapshot corpus and the post-restore batch
    val q = emb.where(col("vec_id") < 10)
    val union = emb.select(col("vec_id"), col("embedding")).unionByName(more)
    assert(resultSet(IvfIndex.search(spark, restored, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfProbe(union, q, 3, cents, nProbe = 3)))
  }

  // ---- product-quantized mode (appendable IVFADC) --------------------------

  private val cbs = Similarity.fixedCodebooks(4, 8, 16)

  private def freshPqIndex(): String = {
    val dir = Files.createTempDirectory("ivfpq_inc").toString + "/idx"
    IvfIndex.init(spark, dir, cents, Some(cbs))
    dir
  }

  test("PQ appends + mid-history fold answer exactly like the immutable one-shot build") {
    val q = emb.where(col("vec_id") < 10)
    val oneShot = Files.createTempDirectory("ivfpq_ctl").toString
    Similarity.ivfPqBuild(emb, oneShot, cents, cbs)
    val expect = resultSet(Similarity.ivfPqSearch(spark, oneShot, q, 3, nProbe = 3))
    val dir = freshPqIndex()
    (0 until 3).foreach { b =>
      assert(IvfIndex.append(emb.where(col("vec_id") % 3 === b), dir, s"p$b"))
      if (b == 1) IvfIndex.compact(spark, dir, graceMs = 0L)
    }
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3)) == expect)
    // the flat search still works on the same index (raw vectors retained)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfProbe(emb, q, 3, cents, nProbe = 3)))
  }

  test("searchPq scans the code column only, partition-pruned, query side broadcast") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    val res = IvfIndex.searchPq(spark, dir, emb.where(col("vec_id") < 10), 3, nProbe = 3)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    val flat = plan.replaceAll("\\s", "")
    // partition pruning to the probed cells across every live batch dir
    assert(flat.matches("(?s).*PartitionFilters:\\[[^\\]]*cell.*"),
      s"cell probe not a partition filter:\n${plan.take(1500)}")
    // the code-width I/O claim, pinned on the plan: the index-side scan
    // reads codes (M ints), NEVER the raw embedding column beside it
    val readSchemas = "ReadSchema:[^\\n]*".r.findAllIn(plan).toSeq
    val indexScan = readSchemas.filter(_.contains("codes"))
    assert(indexScan.nonEmpty, s"no code-column scan in plan:\n${plan.take(1500)}")
    assert(indexScan.forall(!_.contains("ce")),
      s"ADC scan reads raw embeddings:\n${indexScan.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"), "query/LUT side not broadcast")
  }

  test("PQ retrain: codebooks re-train and the fold re-encodes; both searches answer") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    val newCents = IvfIndex.centroids(spark, dir)
    val newCbs = IvfIndex.codebooks(spark, dir).get
    assert(newCbs.length == 4 && newCbs(0).length == 8 && newCbs(0)(0).length == 16,
      "retrain changed the codebook shape")
    assert(newCbs.flatten.flatten.toSeq != cbs.flatten.flatten.toSeq,
      "codebooks did not actually re-train")
    // the retrained index answers exactly like an immutable build over the
    // SAME retrained quantizer + codebooks — re-encode moved coherently
    val ctl = Files.createTempDirectory("ivfpq_ctl2").toString
    Similarity.ivfPqBuild(emb, ctl, newCents, newCbs)
    val q = emb.where(col("vec_id") < 10)
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfPqSearch(spark, ctl, q, 3, nProbe = 3)))
    // appends after the flip encode against the NEW codebooks
    val more = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    assert(IvfIndex.append(more, dir, "p2"))
    assert(IvfIndex.readCodes(spark, dir).count() == emb.count() + 10)
    assert(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3).count() == 30)
  }

  test("searchPqRerank: exact cosines, recall between ADC and flat, full shortlist = flat") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 3)
    def meanRecall(df: org.apache.spark.sql.DataFrame) = {
      val rows = Similarity.recallAtK(df, exact).collect()
      rows.map(_.getAs[Double]("recall")).sum / rows.length
    }
    val adc = meanRecall(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3))
    val rr = meanRecall(IvfIndex.searchPqRerank(spark, dir, q, 3,
      shortlist = 12, nProbe = 3))
    val flat = meanRecall(IvfIndex.search(spark, dir, q, 3, nProbe = 3))
    assert(rr >= adc, s"re-ranking lost recall: adc=$adc rerank=$rr")
    assert(flat >= rr - 1e-9, s"rerank beat exact-within-probe: rr=$rr flat=$flat")
    // a shortlist covering every probed candidate IS the flat search:
    // identical rows, exact cosines included
    val all = IvfIndex.searchPqRerank(spark, dir, q, 3,
      shortlist = emb.count().toInt, nProbe = 3)
    assert(resultSet(all) == resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)))
    // the stage-2 scan is SHORTLIST-sized, pinned on the plan: the
    // shortlist cids reach the ce scan as a pushed In predicate (and the
    // cell probe stays a partition filter)
    val rrPlan = IvfIndex.searchPqRerank(spark, dir, q, 3, shortlist = 12, nProbe = 3)
    rrPlan.collect()
    val plan = rrPlan.queryExecution.executedPlan.toString
    assert(plan.replaceAll("\\s", "")
      .matches("(?s).*PushedFilters:\\[[^\\]]*In\\(cid.*"),
      s"shortlist cids not pushed into the stage-2 scan:\n${plan.take(2000)}")
  }

  // ---- round-14 maintenance-path scale hardening ---------------------------

  test("retrain plans straight parquet scans of the frozen listing — no corpus materialization") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    var seen: Option[org.apache.spark.sql.DataFrame] = None
    IvfIndex.retrainReadTestHook.set(df => seen = Some(df))
    try IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    finally IvfIndex.retrainReadTestHook.set(null)
    // the frozen re-assign relation (the O(corpus) read) is a straight
    // parquet scan over the explicit live batch paths: nothing pins the
    // corpus to executor storage — no localCheckpoint (ExistingRDD), no
    // driver-side LocalTableScan
    val plan = seen.get.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"re-assign read is not a parquet scan:\n${plan.take(1200)}")
    assert(!plan.contains("ExistingRDD") && !plan.contains("LocalTableScan") &&
      !plan.toLowerCase.contains("checkpoint"),
      s"retrain materialized the corpus:\n${plan.take(1200)}")
    // and the flip still answers coherently against the retrained state
    val q = emb.where(col("vec_id") < 10)
    val ctl = Files.createTempDirectory("ivfpq_frz").toString
    Similarity.ivfPqBuild(emb, ctl, IvfIndex.centroids(spark, dir),
      IvfIndex.codebooks(spark, dir).get)
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfPqSearch(spark, ctl, q, 3, nProbe = 3)))
  }

  test("skew and cellCounts read histogram sidecars, never batch data") {
    val dir = freshIndex()
    (0 until 3).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 3 === b), dir, s"b$b"))
    IvfIndex.compact(spark, dir, graceMs = 0L) // the fold records its own sidecar
    val counts = IvfIndex.cellCounts(spark, dir)
    val skewBefore = IvfIndex.skew(spark, dir)
    assert(counts.values.sum == emb.count())
    // the filesystem-level proof: TRUNCATE every batch parquet data file —
    // any read of batch data would now fail loudly, so an unchanged answer
    // means the probe touched sidecar metadata only
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def truncateAll(p: org.apache.hadoop.fs.Path): Unit =
      f.listStatus(p).foreach { st =>
        if (st.isDirectory) truncateAll(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          f.create(st.getPath, true).close()
      }
    f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/gen-0"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .foreach(st => truncateAll(st.getPath))
    assert(IvfIndex.cellCounts(spark, dir) == counts)
    assert(IvfIndex.skew(spark, dir) == skewBefore)
  }

  test("cellCounts repair fallback: a batch missing its sidecar is scanned, others are not") {
    val dir = freshIndex()
    IvfIndex.append(emb.where(col("vec_id") % 2 === 0), dir, "b0")
    IvfIndex.append(emb.where(col("vec_id") % 2 === 1), dir, "b1")
    val counts = IvfIndex.cellCounts(spark, dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // externally restored state: b0's sidecar is gone — the fallback scans
    // exactly that batch and the summed answer is unchanged
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$dir/gen-0/_hist.b0"), false))
    assert(IvfIndex.cellCounts(spark, dir) == counts)
  }

  test("retrain keeps recent batches per-batch across the flip; aged batches fold to _seen") {
    val dir = oneCellIndex()
    Similarity.semDeDupIncremental(vecDf(1L -> planeVec(0)), dir, "s0", 0.99)
    // age s0: republish it with an ancient publish time
    val log = IvfIndex.log(spark, dir)
    log.commit((_, s) => Some(s.put(graft.sources.MarkerLog.Live, "s0", 1000L)))
    Similarity.semDeDupIncremental(vecDf(2L -> planeVec(60)), dir, "s1", 0.99)
    val s1Ts = log.state(graft.sources.MarkerLog.Live)("s1")
    assert(IvfIndex.retrain(spark, dir, k = 1, iters = 1, trainLimit = 100) == 1L)
    // the RECENT batch keeps per-batch identity in the new generation...
    assert(IvfIndex.readBatch(spark, dir, "s1").get
      .select("cid").collect().map(_.getLong(0)).toSet == Set(2L))
    // ...and CARRIES ITS ORIGINAL publish timestamp — a retrain that
    // re-stamped it would reset the fold-grace clock on every flip, and
    // under recurring retrains no batch would ever age into a fold
    val s1TsAfter = log.state(graft.sources.MarkerLog.Live)("s1")
    assert(s1TsAfter == s1Ts, "retrain re-stamped a carried batch's publish time")
    // ...the AGED one folded: replay-detected, not individually readable
    assert(IvfIndex.contains(spark, dir, "s0"))
    assert(IvfIndex.readBatch(spark, dir, "s0").isEmpty)
    // a streaming replay that crosses the retrain answers from its batch
    val before = IvfIndex.read(spark, dir).count()
    assert(Similarity.semDeDupIncremental(vecDf(2L -> planeVec(60)), dir, "s1", 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(2L))
    assert(IvfIndex.read(spark, dir).count() == before, "replay re-appended")
    // a replay OLDER than the grace window fails loud (the fold contract)
    val e = intercept[IllegalStateException] {
      Similarity.semDeDupIncremental(vecDf(1L -> planeVec(0)), dir, "s0", 0.99)
    }
    assert(e.getMessage.contains("fold") || e.getMessage.contains("retired"))
    // and the folded + per-batch layout answers like the data demands
    assert(IvfIndex.read(spark, dir).select("cid").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("searchPqRerank over-budget fallback: identical answers, still cell-pruned, no cid probe") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    val q = emb.where(col("vec_id") < 10)
    val want = resultSet(IvfIndex.searchPqRerank(spark, dir, q, 3,
      shortlist = 12, nProbe = 3))
    IvfIndex.maxRerankCidProbeOverride.set(0) // force the fallback path
    try {
      val res = IvfIndex.searchPqRerank(spark, dir, q, 3, shortlist = 12, nProbe = 3)
      res.collect()
      assert(resultSet(res) == want, "fallback diverged from the In-probe path")
      val plan = res.queryExecution.executedPlan.toString
      val flat = plan.replaceAll("\\s", "")
      // the stage-2 read is still nProbe/k of the corpus: probed cells
      // partition-prune; the broadcast semi-join alone filters to the
      // shortlist (no literal cid In pushed past the budget)
      assert(flat.matches("(?s).*PartitionFilters:\\[[^\\]]*cell.*"),
        s"fallback lost the cell partition pruning:\n${plan.take(1500)}")
      assert(!flat.matches("(?s).*PushedFilters:\\[[^\\]]*In\\(cid.*"),
        "over-budget fallback still pushed a literal cid probe")
      assert(plan.contains("BroadcastHashJoin"), "shortlist side not broadcast")
    } finally IvfIndex.maxRerankCidProbeOverride.set(null)
  }

  test("searchPqBatched: deterministic slice union equals the one-shot bounded search") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    val q = emb.where(col("vec_id") < 10)
    val want = resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3))
    for (b <- Seq(1L, 3L, 4L, 100L))
      assert(resultSet(IvfIndex.searchPqBatched(spark, dir, q, 3,
        nProbe = 3, batchRows = b)) == want, s"batchRows=$b diverged")
    // an empty query frame stays empty, not an error
    assert(IvfIndex.searchPqBatched(spark, dir,
      emb.where(col("vec_id") < 0), 3, nProbe = 3, batchRows = 2L).count() == 0)
    // the FLAT twin: same slicing, exact-cosine search per slice
    val flatWant = resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3))
    for (b <- Seq(3L, 100L))
      assert(resultSet(IvfIndex.searchBatched(spark, dir, q, 3,
        nProbe = 3, batchRows = b)) == flatWant, s"flat batchRows=$b diverged")
  }

  test("IMI-quantized index: appends+fold equal the pair-ranked probe; retrain in kind; semDeDup rides") {
    val halves = Similarity.fixedCodebooks(2, 4, 32)
    val dir = Files.createTempDirectory("ivf_imi").toString + "/idx"
    IvfIndex.initImi(spark, dir, halves)
    (0 until 3).foreach { b =>
      assert(IvfIndex.append(emb.where(col("vec_id") % 3 === b), dir, s"i$b"))
      if (b == 1) IvfIndex.compact(spark, dir, graceMs = 0L)
    }
    val q = emb.where(col("vec_id") < 10)
    val res = IvfIndex.search(spark, dir, q, 3, nProbe = 3)
    res.collect()
    assert(resultSet(res) ==
      resultSet(Similarity.imiProbe(emb, q, 3, halves, nProbe = 3)))
    // the two-level probe set still partition-prunes every live batch
    // directory and still broadcasts the bounded query side
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.replaceAll("\\s", "")
      .matches("(?s).*PartitionFilters:\\[[^\\]]*cell.*"),
      s"IMI cell probe not a partition filter:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"))
    // skew denominates by k_eff (16), from the histogram sidecars
    val s = IvfIndex.skew(spark, dir)
    assert(s >= 1.0 && s <= 16.0, s"skew $s out of k_eff range")
    // snapshots carry imicb/: the frozen index keeps answering with the
    // ORIGINAL halves after the source retrains and vacuums
    val snap = s"$dir/snapshots/${IvfIndex.snapshot(spark, dir)}"
    val before = resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3))
    // retrain re-trains the two HALVES in kind; the flip answers like the
    // in-memory probe over the retrained halves
    IvfIndex.retrain(spark, dir, iters = 2, trainLimit = 500)
    val nh = IvfIndex.imiHalves(spark, dir).get
    assert(nh.length == 2 && nh(0).length == 4 && nh(0)(0).length == 32)
    assert(nh.flatten.flatten.toSeq != halves.flatten.flatten.toSeq,
      "IMI halves did not re-train")
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.imiProbe(emb, q, 3, nh, nProbe = 3)))
    IvfIndex.compact(spark, dir, graceMs = 0L) // old gen vacuumed
    assert(IvfIndex.imiHalves(spark, snap).get.flatten.flatten.toSeq ==
      halves.flatten.flatten.toSeq)
    assert(resultSet(IvfIndex.search(spark, snap, q, 3, nProbe = 3)) == before)
    // incremental SemDeDup assigns with the index's OWN quantizer —
    // flat or two-level alike
    val sd = Files.createTempDirectory("ivf_imi_sdd").toString + "/idx"
    IvfIndex.initImi(spark, sd, halves)
    val k0 = Similarity.semDeDupIncremental(
      emb.where(col("vec_id") % 2 === 0), sd, "s0", 0.3).count()
    val k1 = Similarity.semDeDupIncremental(
      emb.where(col("vec_id") % 2 === 1), sd, "s1", 0.3).count()
    assert(k0 + k1 == IvfIndex.read(spark, sd).count() && k0 > 0)
  }

  test("IMI retrain preserves ASYMMETRIC half shapes (unequal K, uneven split)") {
    // 4 entries × 24 dims and 8 entries × 40 dims — k_eff = 32; each half
    // must re-train at ITS OWN K and ITS OWN width
    val halves = Array(
      Similarity.fixedCodebooks(1, 4, 24)(0),
      Similarity.fixedCodebooks(1, 8, 40)(0))
    val dir = Files.createTempDirectory("ivf_imi_asym").toString + "/idx"
    IvfIndex.initImi(spark, dir, halves)
    IvfIndex.append(emb.where(col("vec_id") < 200), dir, "a0")
    IvfIndex.retrain(spark, dir, iters = 1, trainLimit = 200)
    val nh = IvfIndex.imiHalves(spark, dir).get
    assert(nh(0).length == 4 && nh(0)(0).length == 24 &&
      nh(1).length == 8 && nh(1)(0).length == 40,
      "retrain changed the asymmetric IMI shape")
    val q = emb.where(col("vec_id") < 5)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.imiProbe(emb.where(col("vec_id") < 200), q, 3,
        nh, nProbe = 3)))
  }

  test("IMI + PQ composed index: all-cell ADC probe equals the flat pqTopK exactly") {
    val halves = Similarity.fixedCodebooks(2, 4, 32)
    val dir = Files.createTempDirectory("ivf_imipq").toString + "/idx"
    IvfIndex.initImi(spark, dir, halves, Some(cbs))
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    val q = emb.where(col("vec_id") < 10)
    // probing all 16 (u, v) pairs scores every candidate: the composed
    // index's ADC search IS pqTopK (same codes, same LUTs, same tail)
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 16)) ==
      resultSet(Similarity.pqTopK(emb, q, 3, cbs)))
    // and the rerank's exact stage is quantizer-agnostic
    assert(IvfIndex.searchPqRerank(spark, dir, q, 3, shortlist = 12,
      nProbe = 3).count() == 30)
  }

  test("PQ snapshot restores with codebooks; searchPq answers from the snapshot") {
    val dir = freshPqIndex()
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"p$b"))
    val q = emb.where(col("vec_id") < 10)
    val before = resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3))
    val snap = s"$dir/snapshots/${IvfIndex.snapshot(spark, dir)}"
    IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    IvfIndex.compact(spark, dir, graceMs = 0L) // old gen vacuumed
    assert(IvfIndex.codebooks(spark, snap).get.flatten.flatten.toSeq ==
      cbs.flatten.flatten.toSeq)
    assert(resultSet(IvfIndex.searchPq(spark, snap, q, 3, nProbe = 3)) == before)
  }
}
