package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import MarkerLog.{IndexLog, Live, Retired, StateDir}
import graft.testkit.Faults

/** Fault injection for [[MarkerLog.IndexLog]]: every file-system step of
  * append, fold, flip and snapshot is failed in turn through the module's
  * one test seam ([[MarkerLog.faultHook]]), and after each crash
  *
  *  - readers see exactly the old or the new live set,
  *  - `landed` agrees with what readers see,
  *  - a compact past the grace window leaves no orphan directory,
  *  - a retry either no-ops or lands.
  *
  * Batches here are directories holding one `rows` file of integers, so
  * the spec needs no Spark session. */
class MarkerLogSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private final class Crash extends RuntimeException("injected crash")

  /** The mutations `op` makes under `root`. */
  private def stepsOf(root: Path)(op: => Any): Seq[MarkerLog.Step] = {
    val seen = Seq.newBuilder[MarkerLog.Step]
    MarkerLog.faultHook.set(s => if (under(root, s)) seen += s)
    try op finally MarkerLog.faultHook.set(null)
    seen.result()
  }

  /** Run `op` with its `k`-th mutation under `root` failing (a crash just
    * before that step); asserts the crash fired. */
  private def crashAt(root: Path, k: Int)(op: => Any): Unit = {
    var n = 0
    MarkerLog.faultHook.set { s =>
      if (under(root, s)) {
        if (n == k) throw new Crash
        n += 1
      }
    }
    try intercept[Crash](op) finally MarkerLog.faultHook.set(null)
  }

  private def under(root: Path, s: MarkerLog.Step): Boolean =
    s.path.toUri.getPath.startsWith(root.toUri.getPath)

  /** The commit log's own steps (stage, commit, unstage, retire) all
    * touch a `_log/` directory, never the data directories beside it. */
  private def assertLogSteps(steps: Seq[MarkerLog.Step]): Unit = {
    val logSteps = steps.filter(s => Set("stage", "commit", "unstage", "retire")(s.op))
    assert(logSteps.nonEmpty && logSteps.forall(_.path.getParent.getName == MarkerLog.LogDir),
      logSteps)
  }

  private def writeRows(p: Path, rows: Seq[Int]): Unit = {
    fs.mkdirs(p)
    val o = fs.create(new Path(p, "rows"), true)
    try o.write(rows.mkString("\n").getBytes(UTF_8)) finally o.close()
  }

  private def readRows(p: Path): Set[Int] = {
    val f = new Path(p, "rows")
    if (!fs.exists(f)) Set.empty
    else {
      val in = fs.open(f)
      try new String(in.readAllBytes(), UTF_8).split("\n").filter(_.nonEmpty).map(_.toInt).toSet
      finally in.close()
    }
  }

  private def freshRoot(): Path =
    new Path(Files.createTempDirectory("markerlog").toString, "idx")

  private def logAt(root: Path) = new IndexLog(fs, root, "MarkerLogSpec",
    s => s.live.map("batch-" + _) ++ s.only(StateDir).map(_._1), Seq("batch-*", "state-*"))

  private def batchPath(log: IndexLog, name: String) = new Path(log.root, s"batch-$name")

  /** What a reader sees: the rows of every live batch. */
  private def view(log: IndexLog): Set[Int] =
    log.state.live.flatMap(n => readRows(batchPath(log, n))).toSet

  private def landed(log: IndexLog, name: String): Boolean = log.state.landed(name)

  /** An index append: write the batch directory, publish it at commit
    * `seq` (default: the number read first). False when already landed. */
  private def append(log: IndexLog, name: String, rows: Seq[Int],
                     seq: Option[Long] = None): Boolean = {
    val (v, st) = log.read()
    if (st.landed(name)) return false
    MarkerLog.step("write", batchPath(log, name))(writeRows(batchPath(log, name), rows))
    log.append(Seq(name), seq.getOrElse(v.next))()
    true
  }

  /** Fold every live batch (they are all past a 0 ms grace window). */
  private def fold(log: IndexLog): Unit =
    log.fold(0L) { (aged, out) =>
      MarkerLog.step("write", batchPath(log, out))(
        writeRows(batchPath(log, out), aged.flatMap(n => readRows(batchPath(log, n)))))
      true
    }

  private def compact(log: IndexLog): Unit = { fold(log); log.vacuum(0L) }

  /** Batch directories no live name owns. */
  private def orphans(log: IndexLog): Seq[String] = {
    val live = log.state.live.toSet
    fs.listStatus(log.root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("batch-") && !live.contains(n.drop("batch-".length)))
  }

  private def seeded(): IndexLog = {
    val log = logAt(freshRoot())
    assert(append(log, "a", Seq(1, 2)))
    assert(append(log, "b", Seq(2, 3)))
    log
  }

  test("append: a crash at any step leaves the old or the new live set; a retry lands once") {
    val steps = { val log = seeded(); stepsOf(log.root)(append(log, "c", Seq(3, 4))) }
    assert(steps.map(_.op) == Seq("write", "stage", "commit", "unstage"))
    assertLogSteps(steps)
    for (k <- steps.indices) {
      val log = seeded()
      val before = view(log)
      val after = before ++ Set(3, 4)
      crashAt(log.root, k)(append(log, "c", Seq(3, 4)))
      val v = view(log)
      assert(v == before || v == after, s"crash before ${steps(k)}: torn view $v")
      assert(landed(log, "c") == (v == after), s"crash before ${steps(k)}")
      compact(log)
      assert(orphans(log).isEmpty, s"crash before ${steps(k)}")
      assert(view(log) == v)
      // a replay of a landed (even folded) batch is a no-op; else it lands
      assert(append(log, "c", Seq(3, 4)) == (v == before), s"crash before ${steps(k)}")
      assert(view(log) == after && landed(log, "c"))
      compact(log)
      assert(orphans(log).isEmpty && view(log) == after)
    }
  }

  test("append: a second writer on a claimed slot fails loud, and its batch stays invisible") {
    val log = seeded()
    val seq = log.read()._1.next
    assert(append(log, "racer", Seq(7)))
    intercept[ConcurrentWriterException](append(log, "late", Seq(8), Some(seq)))
    assert(!landed(log, "late") && !view(log).contains(8))
    compact(log)
    assert(orphans(log).isEmpty)
  }

  test("claim: of 8 threads racing one slot, exactly one wins every round") {
    val log = logAt(freshRoot())
    val threads = 8
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      for (round <- 0 until 30) {
        val seq = log.read()._1.next
        val appends = (0 until threads).map(t => pool.submit(
          new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              barrier.await()
              try append(log, s"r$round-t$t", Seq(round * threads + t), Some(seq))
              catch { case _: ConcurrentWriterException => false }
            }
          }))
        val winners = appends.count(_.get())
        assert(winners == 1, s"round $round: $winners writers landed at commit $seq")
        assert(log.state.live.length == round + 1)
      }
    } finally pool.shutdown()
  }

  test("append: a fold that publishes between its read and its publish does not fail it") {
    val log = seeded()
    val seq = log.read()._1.next
    // the fold takes commit `seq` first; the append re-reads, finds no
    // batch landed since, and publishes at the next number
    assert(Faults.onceAt("commit", log.root.toString)(fold(log))(
      append(log, "c", Seq(5), Some(seq))))
    assert(log.state.live.length == 2 && landed(log, "a") && landed(log, "c"))
    assert(view(log) == Set(1, 2, 3, 5))
  }

  test("fold: a crash at any step keeps every row visible and every name landed") {
    def grown(): IndexLog = { val log = seeded(); append(log, "c", Seq(4)); log }
    val steps = { val log = grown(); stepsOf(log.root)(compact(log)) }
    assert(steps.map(_.op).take(4) == Seq("write", "stage", "commit", "unstage") &&
      steps.count(_.op == "retire") == 3 && steps.count(_.op == "sweep") == 3, steps.map(_.op))
    assertLogSteps(steps)
    for (k <- steps.indices) {
      val log = grown()
      val before = view(log)
      crashAt(log.root, k)(compact(log))
      // one commit swaps the batches for their fold: never a gap or twins
      assert(view(log) == before, s"crash before ${steps(k)}")
      assert(Seq("a", "b", "c").forall(landed(log, _)), s"crash before ${steps(k)}")
      compact(log)
      assert(orphans(log).isEmpty, s"crash before ${steps(k)}")
      assert(view(log) == before && log.state.live.size == 1)
      assert(!append(log, "a", Seq(9)) && !view(log).contains(9))
    }
  }

  test("vacuum: a retired directory stays while the commit that retired it is young") {
    val log = seeded()
    fold(log)
    val retired = Seq("a", "b").map(n => s"batch-$n")
    assert(log.state(Retired).keySet == retired.toSet)
    // the directories are old, but the commit that retired them is not
    val old = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
    retired.foreach(d => fs.setTimes(new Path(log.root, d), old, -1))
    log.vacuum(60 * 60 * 1000L)
    assert(retired.forall(d => fs.exists(new Path(log.root, d))), "swept inside the grace window")
    log.vacuum(0L)
    assert(orphans(log).isEmpty && view(log) == Set(1, 2, 3))
    // once the vacuum removed the commit that retired them, the next
    // commit forgets them: the state does not grow with the history
    assert(append(log, "c", Seq(4)))
    log.vacuum(0L)
    assert(append(log, "d", Seq(5)))
    assert(log.state(Retired).isEmpty)
  }

  test("fold: retired and orphaned directories are swept even when nothing folds") {
    val log = logAt(freshRoot())
    append(log, "a", Seq(1))
    writeRows(batchPath(log, "orphan"), Seq(9)) // a crashed append
    compact(log) // one live batch: nothing to fold, but the vacuum runs
    assert(orphans(log).isEmpty && view(log) == Set(1))
  }

  test("read: an index read lists only `_log/`, however many batches the root holds") {
    def readAfter(batches: Int): Seq[String] = {
      val log = logAt(freshRoot())
      (0 until batches).foreach(i => assert(append(log, s"b$i", Seq(i))))
      log.vacuum(0L) // retires the superseded commits; every batch stays live
      val es = log.read()._1.entries
      val logDir = new Path(log.root, MarkerLog.LogDir).toUri.getPath
      assert(es.forall(_.getPath.getParent.toUri.getPath == logDir), es.map(_.getPath))
      assert(log.state.live.length == batches && view(log) == (0 until batches).toSet)
      es.map(_.getPath.getName)
    }
    assert(readAfter(1) == Seq("_commit.1"))
    assert(readAfter(60) == Seq("_commit.60"))
  }

  /** Flip the state to a fresh version directory holding `rows`. */
  private def flip(log: IndexLog, rows: Seq[Int]): Unit = {
    val dir = s"state-${MarkerLog.freshName()}"
    MarkerLog.step("write", new Path(log.root, dir))(writeRows(new Path(log.root, dir), rows))
    val at = System.currentTimeMillis()
    log.commit((_, s) => Some(s.set(StateDir, dir, at)))
  }

  private def value(log: IndexLog): Option[Set[Int]] =
    log.state.only(StateDir).map(v => readRows(new Path(log.root, v._1)))

  private def versions(log: IndexLog): Seq[String] =
    fs.listStatus(log.root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("state-"))

  test("flip: a crash at any step leaves the old or the new version; a retry lands once") {
    def seededFlip(): IndexLog = { val log = logAt(freshRoot()); flip(log, Seq(1)); log }
    val steps = { val log = seededFlip(); stepsOf(log.root)(flip(log, Seq(2))) }
    assert(steps.map(_.op) == Seq("write", "stage", "commit", "unstage"))
    assertLogSteps(steps)
    for (k <- steps.indices) {
      val log = seededFlip()
      crashAt(log.root, k)(flip(log, Seq(2)))
      val v = value(log)
      assert(v == Some(Set(1)) || v == Some(Set(2)), s"crash before ${steps(k)}: $v")
      if (v == Some(Set(1))) flip(log, Seq(2))
      assert(value(log) == Some(Set(2)))
      log.vacuum(0L)
      assert(versions(log).length == 1, s"crash before ${steps(k)}: ${versions(log)}")
      assert(value(log) == Some(Set(2)))
    }
  }

  test("flip: a crashed flip's directory is never reused, and the vacuum sweeps unnamed versions") {
    val log = logAt(freshRoot())
    flip(log, Seq(1))
    // crashed flips left unnamed versions behind; no later flip writes
    // into them, so nothing is cleared before reuse
    writeRows(new Path(log.root, "state-crashed"), Seq(99))
    val planted = fs.getFileStatus(new Path(log.root, "state-crashed/rows")).getModificationTime
    flip(log, Seq(2))
    assert(fs.getFileStatus(new Path(log.root, "state-crashed/rows")).getModificationTime == planted)
    assert(value(log) == Some(Set(2)))
    log.vacuum(0L)
    assert(versions(log) == Seq(log.state.only(StateDir).get._1))
    assert(value(log) == Some(Set(2)))
  }

  /** Snapshot `log` as `name`, linking its live batches. */
  private def snapshot(log: IndexLog, name: String): Unit =
    log.snapshot(name) { (st, out) =>
      val gone = st.live.filterNot(n => MarkerLog.linkTreeTolerant(fs,
        batchPath(log, n), new Path(out, s"batch-$n")))
      st.drop(Live, gone)
    }

  test("snapshot: a crash at any step leaves the original untouched; a retry captures it whole") {
    def grown(): IndexLog = {
      val log = seeded()
      compact(log) // a, b folded
      append(log, "c", Seq(4))
      log
    }
    val steps = { val log = grown(); stepsOf(log.root)(snapshot(log, "s0")) }
    assert(steps.count(_.op == "link") == 2 && steps.count(_.op == "commit") == 1 &&
      steps.last.op == "publish", steps.map(_.op))
    // the snapshot's one commit goes into its own `_log/`
    assertLogSteps(steps)
    assert(steps.find(_.op == "commit").exists(_.path.getParent.getParent.getName == ".s0"))
    for (k <- steps.indices) {
      val log = grown()
      val before = view(log)
      crashAt(log.root, k)(snapshot(log, "s1"))
      assert(view(log) == before && Seq("a", "b", "c").forall(landed(log, _)))
      assert(!fs.exists(new Path(log.root, "snapshots/s1")),
        s"crash before ${steps(k)}: a partial snapshot is visible")
      val next = log.read()._1.next
      snapshot(log, "s2")
      val snap = logAt(new Path(log.root, "snapshots/s2"))
      assert(snap.state.live.toSet == log.state.live.toSet)
      assert(view(snap) == before && Seq("a", "b", "c").forall(landed(snap, _)))
      assert(snap.read()._1.next == next, "the writer ledger carries into the snapshot")
      compact(log)
      MarkerLog.sweepSnapshots(fs, log.root, 0L)
      assert(orphans(log).isEmpty && view(log) == before)
      assert(fs.listStatus(new Path(log.root, "snapshots")).map(_.getPath.getName).toSeq ==
        Seq("s2"), s"crash before ${steps(k)}: the partial capture was not swept")
    }
  }

  test("restore: a writer holding a number read before the restore fails loud") {
    val log = seeded() // commits 1, 2
    snapshot(log, "s")
    // the original moves on, and a writer reads its next number there
    assert(append(log, "c", Seq(3)) && append(log, "d", Seq(4)))
    val stale = log.read()._1.next
    // restore: the snapshot copied out onto a fresh path
    val restored = logAt(freshRoot())
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(log.root, "snapshots/s"),
      fs, restored.root, false, fs.getConf)
    assert(restored.read()._1.next == 3 && view(restored) == Set(1, 2, 3))
    // a number the restored log never offered
    assert(append(restored, "e", Seq(5)))
    intercept[ConcurrentWriterException](append(restored, "stale", Seq(9), Some(stale)))
    // a number the restored log since gave to its own batches
    assert(append(restored, "f", Seq(6)) && append(restored, "g", Seq(7)))
    assert(restored.read()._1.next > stale)
    intercept[ConcurrentWriterException](append(restored, "stale", Seq(9), Some(stale)))
    assert(!landed(restored, "stale") && view(restored) == Set(1, 2, 3, 5, 6, 7))
    compact(restored)
    assert(orphans(restored).isEmpty && view(restored) == Set(1, 2, 3, 5, 6, 7))
  }
}
