package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MarkerLog
import graft.testkit.SharedSpark

/** Crash leftovers of the persisted indexes are swept: what a crashed
  * append, fold, retrain, ledger fold or sampler merge leaves behind never
  * outlives the grace window, never blocks a retry, and a retry lands
  * exactly once. Every index keeps one commit log in its `_log/`, and an
  * index root in an earlier layout (commits beside the data, or the
  * stamped markers of the protocol before the commit log) fails loud. */
class IndexRecoverySpec extends AnyFunSuite with SharedSpark {

  /** 400 deterministic 64-dim vectors. */
  private lazy val emb = spark.range(400).select(col("id").as("vec_id"),
    array((1 to 64).map(d => sin(col("id") * d) + cos(col("id") * (d % 7))): _*)
      .as("embedding"))

  private def sigs(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "bv")
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/idx"

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Plant a directory whose modification time is `ageMs` in the past. */
  private def plantOld(path: String, ageMs: Long): File = {
    val d = new File(path)
    d.mkdirs()
    Files.write(new File(d, "part").toPath, Array[Byte](1))
    d.setLastModified(System.currentTimeMillis() - ageMs)
    d
  }

  private def names(dir: String): Seq[String] = new File(dir).list().toSeq.sorted

  private final class Crash extends RuntimeException("injected crash")

  /** Run `op` on a fresh copy of `template` once per file-system step it
    * makes, that step failing (a crash just before it); `check` then sees
    * the copy. Returns the steps. */
  private def crashEachStep(template: String)(op: String => Any)(check: String => Unit)
      : Seq[String] = {
    def copy(): String = {
      val d = tmp("crash")
      FileUtil.copy(fs, new Path(template), fs, new Path(d), false, spark.sparkContext.hadoopConfiguration)
      d
    }
    val probe = copy()
    val steps = Seq.newBuilder[String]
    MarkerLog.faultHook.set(s => if (s.path.toUri.getPath.startsWith(probe)) steps += s.op)
    try op(probe) finally MarkerLog.faultHook.set(null)
    val ops = steps.result()
    for (k <- ops.indices) {
      val d = copy()
      var n = 0
      MarkerLog.faultHook.set { s =>
        if (s.path.toUri.getPath.startsWith(d)) {
          if (n == k) throw new Crash
          n += 1
        }
      }
      try intercept[Crash](op(d)) finally MarkerLog.faultHook.set(null)
      withClue(s"crash before step $k (${ops(k)}) of ${ops.mkString(",")}: ")(check(d))
    }
    ops
  }

  test("SigIndex.compact sweeps a crashed append's orphan while one batch is live") {
    val dir = tmp("sig_orphan")
    assert(SigIndex.append(sigs(1L -> 10L), dir, "a"))
    val orphan = plantOld(s"$dir/batch-orphan", ageMs = 10 * 60 * 1000L)
    SigIndex.compact(spark, dir, graceMs = 60 * 1000L)
    assert(!orphan.exists(), "the orphan outlived the grace window")
    assert(SigIndex.read(spark, dir).count() == 1 && SigIndex.contains(spark, dir, "a"))
  }

  test("SigIndex.compact sweeps the directories an earlier fold retired") {
    val dir = tmp("sig_retired")
    SigIndex.append(sigs(1L -> 10L), dir, "a")
    SigIndex.append(sigs(2L -> 20L), dir, "b")
    val grace = 300L
    Thread.sleep(grace + 100)
    SigIndex.compact(spark, dir, graceMs = grace) // folds a and b
    assert(SigIndex.liveNames(spark, dir).forall(_.startsWith("compact-")))
    Thread.sleep(grace + 100)
    SigIndex.compact(spark, dir, graceMs = grace) // the stream is idle: nothing folds
    assert(!new File(s"$dir/batch-a").exists() && !new File(s"$dir/batch-b").exists(),
      "retired directories outlived the grace window")
    assert(SigIndex.read(spark, dir).count() == 2)
    assert(SigIndex.contains(spark, dir, "a") && SigIndex.contains(spark, dir, "b"))
  }

  private val cents = Similarity.fixedCentroids(8, 64)

  private def builtIvf(): String = {
    val dir = tmp("ivf_remnant")
    IvfIndex.init(spark, dir, cents)
    (0 until 2).foreach(b => IvfIndex.append(emb.where(col("vec_id") % 2 === b), dir, s"b$b"))
    dir
  }

  private def resultSet(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def genDirs(dir: String): Seq[String] = names(dir).filter(_.startsWith("gen-"))

  test("a retrain that crashed before its commit can be retried") {
    val clean = builtIvf()
    IvfIndex.retrain(spark, clean, k = 8, iters = 2, trainLimit = 500)
    val dir = builtIvf()
    // every step of the retrain fails in turn: the index stays at one
    // generation or the other, and a retry of a crashed one lands
    val template = builtIvf()
    crashEachStep(template)(IvfIndex.retrain(spark, _, k = 8, iters = 2, trainLimit = 500)) {
      d =>
        val g = IvfIndex.currentGen(spark, d)
        assert(g == Some(0L) || g == Some(1L))
        assert(IvfIndex.read(spark, d).count() == 400)
        if (g == Some(0L)) assert(IvfIndex.retrain(spark, d, k = 8, iters = 2, trainLimit = 500) == 1L)
        assert(IvfIndex.currentGen(spark, d) == Some(1L) && IvfIndex.read(spark, d).count() == 400)
        IvfIndex.compact(spark, d, graceMs = 0L)
        assert(genDirs(d).length == 1, genDirs(d))
    }
    // a crashed attempt leaves a directory no commit names; the retry
    // writes a fresh one, and answers as a retrain that never crashed
    MarkerLog.faultHook.set(s => if (s.op == "commit") throw new Crash)
    try intercept[Crash](IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500))
    finally MarkerLog.faultHook.set(null)
    assert(IvfIndex.currentGen(spark, dir) == Some(0L) && genDirs(dir).length == 2)
    assert(IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500) == 1L)
    assert(IvfIndex.centroids(spark, dir).map(_.toSeq).toSeq ==
      IvfIndex.centroids(spark, clean).map(_.toSeq).toSeq)
    val q = emb.where(col("vec_id") < 10)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(IvfIndex.search(spark, clean, q, 3, nProbe = 3)))
    assert(IvfIndex.contains(spark, dir, "b0") && IvfIndex.contains(spark, dir, "b1"))
    IvfIndex.compact(spark, dir, graceMs = 0L)
    assert(genDirs(dir).length == 1)
  }

  test("unmarked generation and state directories of crashed flips are swept past the grace") {
    val dir = builtIvf()
    val staleGen = plantOld(s"$dir/gen-7", ageMs = 60 * 60 * 1000L)
    val freshGen = plantOld(s"$dir/gen-8", ageMs = 0L) // maybe in flight
    IvfIndex.compact(spark, dir)
    assert(!staleGen.exists() && freshGen.exists())
    assert(IvfIndex.currentGen(spark, dir) == Some(0L) && IvfIndex.read(spark, dir).count() > 0)

    val st = tmp("div_remnant")
    val staleState = plantOld(s"$st/state-crashed", ageMs = 60 * 60 * 1000L)
    val kept = Similarity.diversitySampleIncremental(emb, st, cents, 4).count()
    assert(!staleState.exists())
    assert(Similarity.diversitySampleIncremental(emb, st, cents, 4).count() == kept)
  }

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def decisions(dir: String): Map[String, Set[Long]] =
    Seq("L0", "L1", "L2").map(n =>
      n -> SigIndex.readDecision(spark, dir, n).map(_.toSet).getOrElse(Set(-1L))).toMap

  test("ledger fold: a crash at any step keeps every frozen decision; a retry folds once") {
    val template = tmp("ledger_crash")
    Curation.dedupLinesIncremental(docs(1L -> "A\nX1", 2L -> "A\nX2"), template, "L0")
    Curation.dedupLinesIncremental(docs(3L -> "X1\nB"), template, "L1")
    Curation.dedupLinesIncremental(docs(4L -> "C"), template, "L2")
    SigIndex.compact(spark, template, graceMs = 0L) // retires the batches
    val want = decisions(template)
    val rows = SigIndex.read(spark, template).count()
    val steps = crashEachStep(template)(SigIndex.compact(spark, _, graceMs = 0L,
      decisionRetentionMs = 0L)) { d =>
      assert(decisions(d) == want && SigIndex.read(spark, d).count() == rows)
      SigIndex.compact(spark, d, graceMs = 0L, decisionRetentionMs = 0L)
      assert(decisions(d) == want && SigIndex.read(spark, d).count() == rows)
      val ns = names(d)
      assert(!ns.exists(_.startsWith("boiler-")) && ns.count(_.startsWith("decled-")) == 1, ns)
    }
    assert(steps.count(_ == "commit") == 2, steps) // the ledger flip, the sidecar drop
  }

  test("sampler merge: a crash at any step leaves the old or the new sample; a retry converges") {
    val b0 = emb.where(col("vec_id") % 2 === 0)
    val b1 = emb.where(col("vec_id") % 2 === 1)
    def sample(d: String): Set[Seq[Any]] = {
      val log = new MarkerLog.IndexLog(fs, new Path(d), "sample", _ => Nil, Nil)
      log.state.only(MarkerLog.StateDir).fold(Set.empty[Seq[Any]])(s =>
        spark.read.parquet(s"$d/${s._1}").select("vec_id", "cell").collect().map(_.toSeq).toSet)
    }
    val template = tmp("div_crash")
    Similarity.diversitySampleIncremental(b0, template, cents, 4)
    val old = sample(template)
    val oneShot = Similarity.diversitySample(emb, cents, 4).select("vec_id", "cell")
      .collect().map(_.toSeq).toSet
    crashEachStep(template)(Similarity.diversitySampleIncremental(b1, _, cents, 4, graceMs = 0L)) {
      d =>
        val s = sample(d)
        assert(s == old || s == oneShot)
        Similarity.diversitySampleIncremental(b1, d, cents, 4, graceMs = 0L)
        assert(sample(d) == oneShot)
        assert(names(d).count(_.startsWith("state-")) == 1, names(d))
    }
  }

  /** The root holds the commit log and data directories only, and the
    * log one commit. */
  private def onlyCommitsAndData(dir: String, dataPrefixes: String*): Unit = {
    val ns = names(dir)
    ns.foreach { n =>
      assert(new File(dir, n).isDirectory &&
        (n == MarkerLog.LogDir || n == "snapshots" || dataPrefixes.exists(n.startsWith)),
        s"unexpected $n in ${ns.mkString(",")}")
    }
    val log = names(s"$dir/${MarkerLog.LogDir}")
    assert(log.length == 1 && log.head.startsWith("_commit."), log)
  }

  test("index lifecycle: append, fold, retrain or ledger fold, snapshot, vacuum leave commits and data only") {
    val sig = tmp("life_sig")
    Curation.dedupLinesIncremental(docs(1L -> "A\nX1", 2L -> "A\nX2"), sig, "L0")
    Curation.dedupLinesIncremental(docs(3L -> "X1\nB"), sig, "L1")
    SigIndex.compact(spark, sig, graceMs = 0L)
    SigIndex.compact(spark, sig, graceMs = 0L, decisionRetentionMs = 0L)
    val sigSnap = SigIndex.snapshot(spark, sig)
    SigIndex.compact(spark, sig, graceMs = 0L)
    onlyCommitsAndData(sig, "batch-", "decled-")
    onlyCommitsAndData(s"$sig/snapshots/$sigSnap", "batch-", "decled-")
    assert(SigIndex.contains(spark, s"$sig/snapshots/$sigSnap", "L1"))

    val ivf = builtIvf()
    IvfIndex.compact(spark, ivf, graceMs = 0L)
    IvfIndex.retrain(spark, ivf, k = 8, iters = 1, trainLimit = 200)
    val ivfSnap = IvfIndex.snapshot(spark, ivf)
    IvfIndex.compact(spark, ivf, graceMs = 0L)
    onlyCommitsAndData(ivf, "gen-")
    onlyCommitsAndData(s"$ivf/snapshots/$ivfSnap", "gen-")
    assert(genDirs(ivf).length == 1)
    val gen = new File(ivf, genDirs(ivf).head)
    assert(gen.list().forall(n => n.startsWith("batch=") || n.startsWith("_hist.") ||
      n == "centroids" || n.startsWith(".")), gen.list().mkString(","))
    assert(IvfIndex.read(spark, ivf).count() == 400)
    assert(IvfIndex.read(spark, s"$ivf/snapshots/$ivfSnap").count() == 400)

    val div = tmp("life_div")
    (0 until 2).foreach(b => Similarity.diversitySampleIncremental(
      emb.where(col("vec_id") % 2 === b), div, cents, 4, graceMs = 0L))
    onlyCommitsAndData(div, "state-")
  }

  /** Move an index's commits out of `_log/` to its root: the layout before
    * `_log/`. */
  private def commitsToRoot(dir: String): Unit = {
    val log = new File(dir, MarkerLog.LogDir)
    log.list().foreach(n => assert(new File(log, n).renameTo(new File(dir, n))))
    assert(log.delete())
  }

  /** Replace an index's commit log with stamped `markers`: the protocol
    * before the commit log. */
  private def logToMarkers(dir: String, markers: String*): Unit = {
    FileUtil.fullyDelete(new File(dir, MarkerLog.LogDir))
    markers.foreach(m => Files.createFile(new File(dir, m).toPath))
  }

  test("an index root in an earlier layout fails loud, naming the layout") {
    def fails(read: => Any): Unit = {
      val m = intercept[IllegalStateException](read).getMessage
      assert(m.contains("the layout before") && m.contains("rebuild the index"), m)
    }
    def sig(): String = {
      val dir = tmp("old_sig")
      assert(SigIndex.append(sigs(1L -> 10L), dir, "a"))
      dir
    }
    def div(): String = {
      val dir = tmp("old_div")
      Similarity.diversitySampleIncremental(emb.where(col("vec_id") < 40), dir, cents, 4)
      dir
    }
    val s1 = sig(); commitsToRoot(s1); fails(SigIndex.contains(spark, s1, "a"))
    val s2 = sig(); logToMarkers(s2, "_live.1000.a", "_slot.0"); fails(SigIndex.read(spark, s2))
    val i1 = builtIvf(); commitsToRoot(i1); fails(IvfIndex.currentGen(spark, i1))
    val i2 = builtIvf(); logToMarkers(i2, "_gen.1000.0"); fails(IvfIndex.read(spark, i2))
    val d1 = div(); commitsToRoot(d1)
    fails(Similarity.diversitySampleIncremental(emb, d1, cents, 4))
    val d2 = div(); logToMarkers(d2, "_state.1000.old")
    fails(Similarity.diversitySampleIncremental(emb, d2, cents, 4))
    // nothing was published over the old layout
    Seq(s1, s2, i1, i2, d1, d2).foreach(d => assert(!new File(d, MarkerLog.LogDir).exists(), d))
  }
}
