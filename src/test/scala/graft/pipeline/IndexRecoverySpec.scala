package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Crash leftovers of the persisted indexes are swept or cleared: what a
  * crashed append, fold or flip leaves behind never outlives the grace
  * window, and never blocks a retry. */
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

  /** Plant a directory whose modification time is `ageMs` in the past. */
  private def plantOld(path: String, ageMs: Long): File = {
    val d = new File(path)
    d.mkdirs()
    Files.write(new File(d, "part").toPath, Array[Byte](1))
    d.setLastModified(System.currentTimeMillis() - ageMs)
    d
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

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("a retrain that crashed after its first marker create can be retried") {
    val clean = builtIvf()
    IvfIndex.retrain(spark, clean, k = 8, iters = 2, trainLimit = 500)
    val dir = builtIvf()
    // the crashed retrain re-created a recent batch's marker, with its
    // original timestamp, in the next generation and then died
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = f.listStatus(new Path(s"$dir/gen-0")).map(_.getPath.getName)
      .filter(_.startsWith("_live.")).min
    f.mkdirs(new Path(s"$dir/gen-1"))
    f.create(new Path(s"$dir/gen-1/$marker"), false).close()
    assert(IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500) == 1L)
    assert(IvfIndex.centroids(spark, dir).map(_.toSeq).toSeq ==
      IvfIndex.centroids(spark, clean).map(_.toSeq).toSeq)
    val q = emb.where(col("vec_id") < 10)
    assert(resultSet(IvfIndex.search(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(IvfIndex.search(spark, clean, q, 3, nProbe = 3)))
    assert(IvfIndex.contains(spark, dir, "b0") && IvfIndex.contains(spark, dir, "b1"))
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
}
