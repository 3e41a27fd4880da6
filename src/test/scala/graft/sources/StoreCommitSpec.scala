package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Points
import graft.testkit.SharedSpark

/** Fault injection for the store's commit log: every file-system step of
  * `compact` (a day rewrite, then the `_dict` fold) and of `deleteSeries`
  * is failed in turn through [[MarkerLog.faultHook]] — and every step
  * after it too, as in a process that died there. After each crash
  *
  *  - `read` and `readDict` return the old state or the new one, and every
  *    commit-managed dir shows its old live set or a wholly new one;
  *  - a retry of the operation converges on the new state;
  *  - a grace-0 `compact` leaves no rewrite staging dir, no unlisted
  *    `compacted-` file and no staged commit body. */
class StoreCommitSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private val T0 = 1704067200000L

  private final class Crash extends RuntimeException("injected crash")

  /** One day in three append files (and a dict in three or more): both
    * dirs are due a rewrite. Copied per case. */
  private lazy val template: File = {
    val dir = Files.createTempDirectory("commit_seed").toString
    for (b <- 0 until 3) {
      val rows = (0 to 2).map(u =>
        Row("cpu", Map("user" -> u.toString), T0 + b * 1000L + u, (u * 10 + b).toDouble))
      PointsStore.append(Points.withSig(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)), dir)
    }
    new File(dir)
  }

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("commit_store").toFile
    org.apache.commons.io.FileUtils.copyDirectory(template, dir)
    dir.toString
  }

  private def fs = new Path(template.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every row readers see, duplicates included (no read-time LWW). */
  private def rows(dir: String): Seq[String] =
    PointsStore.read(spark, dir, Long.MinValue, Long.MaxValue, lww = false)
      .select("sig", "t", "value").collect().map(_.toString).sorted.toSeq

  private def dict(dir: String): Seq[String] =
    PointsStore.readDict(spark, dir).get.select("sig", "name", "_lc")
      .collect().map(_.toString).sorted.toSeq

  private def state(dir: String) = (rows(dir), dict(dir))

  /** The commit-managed dirs and the names each shows readers. */
  private def liveSets(dir: String): Map[String, Set[String]] =
    new File(dir).listFiles().toSeq
      .filter(d => d.isDirectory && (d.getName.startsWith("date=") || d.getName == "_dict"))
      .map(d => d.getName ->
        PointsStore.livePaths(fs, new Path(d.toString)).map(new Path(_).getName).toSet)
      .toMap

  private def under(root: String, s: MarkerLog.Step): Boolean =
    s.path.toUri.getPath.startsWith(new File(root).getCanonicalPath)

  private def stepsOf(root: String)(op: => Any): Seq[MarkerLog.Step] = {
    val seen = Seq.newBuilder[MarkerLog.Step]
    MarkerLog.faultHook.set(s => if (under(root, s)) seen += s)
    try op finally MarkerLog.faultHook.set(null)
    seen.result()
  }

  /** Run `op` dying at its `k`-th mutation under `root`: that step and
    * every later one fail. */
  private def crashAt(root: String, k: Int)(op: => Any): Unit = {
    var n = 0
    MarkerLog.faultHook.set { s =>
      if (under(root, s)) {
        if (n >= k) throw new Crash
        n += 1
      }
    }
    try intercept[Crash](op) finally MarkerLog.faultHook.set(null)
  }

  /** The names the tip commit of `d` lists, live (+) or dead (-). */
  private def listed(d: File): Set[String] =
    d.list().filter(_.startsWith("_commit.")).maxByOption(_.drop(8).toLong).toSeq
      .flatMap(c => Files.readAllLines(new File(d, c).toPath).toArray.map(_.toString.drop(1)))
      .toSet

  /** What a grace-0 compact must leave: no staging dir, no `compacted-`
    * file the tip commit does not list, no staged commit body. */
  private def assertSwept(dir: String, ctx: String): Unit = {
    val root = new File(dir)
    assert(!root.list().exists(_.startsWith(".compact-tmp-")), s"$ctx: rewrite stage left")
    liveSets(dir).keys.foreach { d =>
      val names = new File(root, d).list().toSeq
      val unlisted = names.filter(n => n.startsWith("compacted-") && !listed(new File(root, d))(n))
      assert(unlisted.isEmpty, s"$ctx: $d holds unlisted outputs $unlisted")
      assert(!names.exists(_.contains(".stage-")), s"$ctx: $d holds a staged commit body")
    }
  }

  private def crashEachStep(expectOps: Set[String])(op: String => Any): Unit = {
    val old = state(template.toString)
    val oldLive = liveSets(template.toString)
    val (steps, fresh) = { val d = freshStore(); (stepsOf(d)(op(d)), state(d)) }
    assert(expectOps.subsetOf(steps.map(_.op).toSet), steps.map(_.op))
    for (k <- steps.indices) {
      val ctx = s"crash before ${steps(k)}"
      val dir = freshStore()
      crashAt(dir, k)(op(dir))
      val seen = state(dir)
      assert(seen == old || seen == fresh, s"$ctx: torn state $seen")
      liveSets(dir).foreach { case (d, live) =>
        assert(live == oldLive(d) || (live & oldLive(d)).isEmpty,
          s"$ctx: $d mixes generations: $live")
      }
      op(dir)
      assert(state(dir) == fresh, s"$ctx: the retry did not converge")
      PointsStore.compact(spark, dir, graceMs = 0L)
      assertSwept(dir, ctx)
      assert(state(dir) == fresh, ctx)
    }
  }

  test("compact (a day rewrite, then the dict fold): a crash at any step leaves old or new") {
    crashEachStep(Set("write", "move", "stage", "commit", "unstage", "clear")) { dir =>
      PointsStore.compact(spark, dir)
    }
  }

  test("deleteSeries: a crash at any step leaves old or new; a retry lands the delete") {
    crashEachStep(Set("write", "move", "commit")) { dir =>
      PointsStore.deleteSeries(spark, dir, """cpu{user="1"}""")
    }
  }

  test("two writers of one commit number: exactly one publishes") {
    val dir = freshStore()
    val day = new Path(new File(dir, "date=2024-01-01").toString)
    val log = new MarkerLog.CommitLog(fs, day)
    val stale = log.view()
    assert(log.publish(stale, Seq("-nothing")))
    assert(!log.publish(stale, Seq("-other")), "two writers published one commit number")
    assert(log.view().tip.map(_.n) == Some(1L) && log.read(log.view().tip.get.path) == Seq("-nothing"))
  }

  test("a dir holding manifests and no commit fails loud, naming the format") {
    def plant(dir: String, d: String): Unit =
      Files.write(new File(new File(dir, d), "_manifest.1000-a").toPath, Array.emptyByteArray)
    def fails(op: => Any): Unit = {
      val m = intercept[IllegalStateException](op).getMessage
      assert(m.contains("_manifest.1000-a") && m.contains("before the commit log"), m)
    }
    val day = freshStore()
    plant(day, "date=2024-01-01")
    fails(rows(day))
    fails(PointsStore.compact(spark, day))
    val dictOnly = freshStore()
    plant(dictOnly, "_dict")
    fails(dict(dictOnly))
    fails(PointsStore.compact(spark, dictOnly))
  }
}
