package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import MarkerLog.{BatchLog, VersionPointer}

/** Fault injection for [[MarkerLog]]: every file-system step of append,
  * fold, flip and snapshot is failed in turn through the module's one test
  * seam ([[MarkerLog.faultHook]]), and after each crash
  *
  *  - readers see exactly the old or the new live set,
  *  - `contains` agrees with what readers see,
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

  private def logAt(root: Path) = new BatchLog(fs, root, "MarkerLogSpec", "batch-")

  /** What a reader sees: the rows of every marker-named batch. */
  private def view(log: BatchLog): Set[Int] =
    log.live.flatMap(n => readRows(log.batchPath(n))).toSet

  private def append(log: BatchLog, name: String, rows: Seq[Int]): Boolean =
    log.append(name)(writeRows(_, rows))

  private def compact(log: BatchLog): Seq[String] =
    log.compact(graceMs = 0L) { (aged, foldName) =>
      writeRows(log.batchPath(foldName), aged.flatMap(n => readRows(log.batchPath(n))))
      true
    }

  /** Batch directories no marker names. */
  private def orphans(log: BatchLog): Seq[String] = {
    val live = log.live.toSet
    fs.listStatus(log.root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("batch-") && !live.contains(n.drop("batch-".length)))
  }

  private def seeded(): BatchLog = {
    val log = logAt(freshRoot())
    assert(append(log, "a", Seq(1, 2)))
    assert(append(log, "b", Seq(2, 3)))
    log
  }

  test("append: a crash at any step leaves the old or the new live set; a retry lands once") {
    val steps = { val log = seeded(); stepsOf(log.root)(append(log, "c", Seq(3, 4))) }
    assert(steps.map(_.op) == Seq("write", "claim", "mark"))
    for (k <- steps.indices) {
      val log = seeded()
      val before = view(log)
      val after = before ++ Set(3, 4)
      crashAt(log.root, k)(append(log, "c", Seq(3, 4)))
      val v = view(log)
      assert(v == before || v == after, s"crash before ${steps(k)}: torn view $v")
      assert(log.contains("c") == (v == after), s"crash before ${steps(k)}")
      compact(log)
      assert(orphans(log).isEmpty, s"crash before ${steps(k)}")
      assert(view(log) == v)
      // a replay of a landed (even folded) batch is a no-op; else it lands
      assert(append(log, "c", Seq(3, 4)) == (v == before), s"crash before ${steps(k)}")
      assert(view(log) == after && log.contains("c"))
      compact(log)
      assert(orphans(log).isEmpty && view(log) == after)
    }
  }

  test("append: a second writer on a claimed slot fails loud, and its batch stays invisible") {
    val log = seeded()
    val seq = log.nextSeq()
    assert(append(log, "racer", Seq(7)))
    intercept[ConcurrentWriterException](log.append("late", Some(seq))(writeRows(_, Seq(8))))
    assert(!log.contains("late") && !view(log).contains(8))
    compact(log)
    assert(orphans(log).isEmpty)
  }

  test("claim: of 8 threads racing one slot, exactly one wins every round") {
    val log = logAt(freshRoot())
    val threads = 8
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      for (seq <- 0L until 60L) {
        val claims = (0 until threads).map(_ => pool.submit(
          new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              barrier.await()
              try { log.claim(seq); true }
              catch { case _: ConcurrentWriterException => false }
            }
          }))
        val winners = claims.count(_.get())
        assert(winners == 1, s"slot $seq: $winners writers claimed it")
      }
    } finally pool.shutdown()
  }

  test("fold: a crash at any step keeps every row visible and every name landed") {
    def grown(): BatchLog = { val log = seeded(); append(log, "c", Seq(4)); log }
    val steps = { val log = grown(); stepsOf(log.root)(compact(log)) }
    assert(steps.map(_.op).take(2) == Seq("write", "mark") &&
      steps.count(_.op == "seen") == 3 && steps.count(_.op == "retire") == 3 &&
      steps.count(_.op == "sweep") == 3, steps.map(_.op))
    for (k <- steps.indices) {
      val log = grown()
      val before = view(log)
      crashAt(log.root, k)(compact(log))
      // a fold publishes before it retires: never a gap, at worst twins
      assert(view(log) == before, s"crash before ${steps(k)}")
      assert(Seq("a", "b", "c").forall(log.contains), s"crash before ${steps(k)}")
      compact(log)
      assert(orphans(log).isEmpty, s"crash before ${steps(k)}")
      assert(view(log) == before && log.live.size == 1)
      assert(!append(log, "a", Seq(9)) && !view(log).contains(9))
    }
  }

  test("fold: retired and orphaned directories are swept even when nothing folds") {
    val log = logAt(freshRoot())
    append(log, "a", Seq(1))
    writeRows(log.batchPath("orphan"), Seq(9)) // a crashed append
    compact(log) // one aged batch: nothing to fold, but the vacuum runs
    assert(orphans(log).isEmpty && view(log) == Set(1))
  }

  private def pointer(root: Path) = new VersionPointer(fs, root, "_v.", "v-")

  private def value(p: VersionPointer): Option[Set[Int]] =
    p.current.map(g => readRows(p.versionPath(g)))

  test("flip: a crash at any step leaves the old or the new version; a retry lands once") {
    def seededPointer(): VersionPointer = {
      val p = pointer(freshRoot())
      assert(p.flip("1")(writeRows(_, Seq(1))))
      p
    }
    val steps = { val p = seededPointer(); stepsOf(p.root)(p.flip("2")(writeRows(_, Seq(2)))) }
    assert(steps.map(_.op) == Seq("write", "mark"))
    for (k <- steps.indices) {
      val p = seededPointer()
      crashAt(p.root, k)(p.flip("2")(writeRows(_, Seq(2))))
      val v = value(p)
      assert(v == Some(Set(1)) || v == Some(Set(2)), s"crash before ${steps(k)}: $v")
      assert((p.current == Some("2")) == (v == Some(Set(2))))
      // the crashed flip's target is an orphan: cleared before reuse
      assert(p.flip("2")(writeRows(_, Seq(2))) == (v == Some(Set(1))))
      assert(value(p) == Some(Set(2)))
      p.vacuum(0L)
      val dirs = fs.listStatus(p.root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      assert(dirs == Seq("v-2"), s"crash before ${steps(k)}: $dirs")
      assert(value(p) == Some(Set(2)))
    }
  }

  test("flip: a remnant target is cleared before reuse, and the vacuum sweeps unmarked versions") {
    val p = pointer(freshRoot())
    p.flip("1")(writeRows(_, Seq(1)))
    // a crashed flip left a stale file inside the next target
    writeRows(p.versionPath("2"), Seq(99))
    fs.create(new Path(p.versionPath("2"), "_live.1.stale"), false).close()
    writeRows(p.versionPath("3"), Seq(98)) // a remnant no retry reuses
    assert(p.flip("2")(t => { assert(!fs.exists(t)); writeRows(t, Seq(2)) }))
    assert(!fs.exists(new Path(p.versionPath("2"), "_live.1.stale")))
    p.vacuum(0L)
    assert(!fs.exists(p.versionPath("3")) && !fs.exists(p.versionPath("1")))
    assert(value(p) == Some(Set(2)))
  }

  test("the newest marker wins; a millisecond tie breaks on the name, numerically") {
    val p = pointer(freshRoot())
    Seq("9", "10").foreach { g =>
      writeRows(p.versionPath(g), Seq(g.toInt))
      fs.create(new Path(p.root, s"_v.100.$g"), false).close()
    }
    assert(p.current == Some("10"))
  }

  test("snapshot: a crash at any step leaves the original untouched; a retry captures it whole") {
    def grown(): BatchLog = {
      val log = seeded()
      compact(log) // a, b folded: `_seen` records and a fold batch
      append(log, "c", Seq(4))
      log
    }
    def snapshot(log: BatchLog, name: String): MarkerLog.Capture = {
      var cap: MarkerLog.Capture = null
      MarkerLog.snapshot(fs, log.root, name)(out => cap = log.snapshotInto(out))
      cap
    }
    val steps = { val log = grown(); stepsOf(log.root)(snapshot(log, "s0")) }
    assert(steps.count(_.op == "link") == 2 && steps.count(_.op == "touch") >= 5 &&
      steps.last.op == "publish", steps.map(_.op))
    for (k <- steps.indices) {
      val log = grown()
      val before = view(log)
      val seq = log.nextSeq()
      crashAt(log.root, k)(snapshot(log, "s1"))
      assert(view(log) == before && Seq("a", "b", "c").forall(log.contains))
      assert(!fs.exists(new Path(log.root, "snapshots/s1")),
        s"crash before ${steps(k)}: a partial snapshot is visible")
      val cap = snapshot(log, "s2")
      val snap = logAt(new Path(log.root, "snapshots/s2"))
      assert(cap.batches == log.live.toSet)
      assert(view(snap) == before && Seq("a", "b", "c").forall(snap.contains))
      assert(snap.nextSeq() == seq, "the writer ledger carries into the snapshot")
      compact(log)
      MarkerLog.sweepSnapshots(fs, log.root, 0L)
      assert(orphans(log).isEmpty && view(log) == before)
      assert(fs.listStatus(new Path(log.root, "snapshots")).map(_.getPath.getName).toSeq ==
        Seq("s2"), s"crash before ${steps(k)}: the partial capture was not swept")
    }
  }
}
