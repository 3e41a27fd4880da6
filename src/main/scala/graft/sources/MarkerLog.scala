package graft.sources

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** A second writer raced a [[MarkerLog.BatchLog]]: the sequence slot this
  * append computed was claimed by someone else first. */
final class ConcurrentWriterException(owner: String, dir: String, seq: Long)
  extends IllegalStateException(
    s"$owner at $dir: batch sequence slot $seq was claimed by a " +
      "concurrent writer — appends must be sequential per index; this " +
      "batch was NOT appended (its directory is an unmarked orphan)")

/** The commit protocol of the pipeline's persisted indexes
  * ([[graft.pipeline.SigIndex]], [[graft.pipeline.IvfIndex]], the
  * incremental diversity sampler): data lives in immutable directories,
  * and zero-byte MARKER files named `<prefix><ts>.<name>` say which of them
  * readers see. A marker is one create-if-absent, so a publish is atomic
  * and a directory no marker names is invisible — a crashed write — until
  * a vacuum sweeps it. This is the batch-id-keyed idempotent sink of
  * Structured Streaming (SIGMOD 2018): a batch name that already has a
  * marker never lands twice.
  *
  * Three shapes share the grace window and the seam:
  *
  *  - [[BatchLog]]: an append-only set of batch directories. `_live.<ts>.<n>`
  *    publishes batch `n`; `_slot.<seq>` claims make a racing second writer
  *    fail loud ([[ConcurrentWriterException]]); [[BatchLog.compact]] folds
  *    aged batches into one, publishing the fold BEFORE it retires the
  *    originals (a reader sees at worst duplicate rows, never a gap) and
  *    recording them as `_seen.<ts>.<n>` so replay detection outlives the
  *    fold; [[BatchLog.snapshotInto]] captures from ONE listing.
  *  - [[VersionPointer]]: whole-state versions. The newest marker wins, a
  *    flip is one create, and a flip target no marker names is an orphan
  *    that is cleared before reuse.
  *  - [[CommitLog]]: numbered commits `_commit.<n>` over one directory, the
  *    offset log of Structured Streaming read the way Delta Lake reads its
  *    table log: the highest number in one listing is the state, and commit
  *    `n+1` is one [[createExclusive]], so of two writers that read tip `n`
  *    exactly one publishes — the other learns it lost and re-reads.
  *
  * GRACE WINDOW: a reader plans against the live set lazily, so nothing it
  * may still scan is deleted early. A retired batch directory goes once its
  * `_seen` record is older than the grace window, a superseded version or
  * commit once a NEWER one is (the newer one's age bounds the supersession
  * age from below), and an unmarked directory once the directory itself is
  * (an in-flight write is younger).
  *
  * Every file-system mutation passes [[step]] first — the one test seam. */
private[graft] object MarkerLog {

  private val LivePrefix = "_live."
  private val SeenPrefix = "_seen."
  private val SlotPrefix = "_slot."

  /** Parse a `<prefix><ts>.<name>` marker file name. */
  def stamped(prefix: String, n: String): Option[(Long, String)] =
    if (!n.startsWith(prefix)) None
    else {
      val rest = n.drop(prefix.length)
      val dot = rest.indexOf('.')
      if (dot < 0) None
      else rest.take(dot).toLongOption.map(ts => (ts, rest.substring(dot + 1)))
    }

  private def listing(fs: FileSystem, root: Path): Seq[FileStatus] =
    if (fs.exists(root)) fs.listStatus(root).toSeq else Nil

  private def stampsIn(entries: Seq[FileStatus], prefix: String): Seq[(Long, String)] =
    entries.map(_.getPath.getName).flatMap(stamped(prefix, _))

  /** Oldest marker time per name, for markers under `prefix` in `root`. */
  def firstStamps(fs: FileSystem, root: Path, prefix: String): Map[String, Long] =
    firstOf(stampsIn(listing(fs, root), prefix))

  private def firstOf(stamps: Seq[(Long, String)]): Map[String, Long] =
    stamps.groupBy(_._2).map { case (n, xs) => n -> xs.map(_._1).min }

  /** Publish marker `<prefix><ts>.<name>` in `root` (create-if-absent: a
    * marker that already exists under the same name IS this marker). */
  def touchMarker(fs: FileSystem, root: Path, prefix: String, name: String,
                  ts: Long = System.currentTimeMillis()): Unit =
    touch(fs, new Path(root, s"$prefix$ts.$name"))

  /** Delete every `<prefix><ts>.<name>` marker of `name` in `root`. */
  def dropMarkers(fs: FileSystem, root: Path, prefix: String, name: String): Unit =
    listing(fs, root).map(_.getPath)
      .filter(p => stamped(prefix, p.getName).exists(_._2 == name))
      .foreach(p => step("retire", p)(fs.delete(p, false)))

  /** Unique name for a snapshot or a version: wall-clock millis plus a
    * nanoTime uniquifier, so two mints within one millisecond differ. */
  def freshName(): String =
    s"${System.currentTimeMillis()}-${java.lang.Long.toUnsignedString(System.nanoTime(), 36)}"

  // ---- the test seam ----------------------------------------------------

  /** One file-system mutation the log is about to make: `op` is one of
    * write, claim, mark, withdraw, seen, retire, trim, sweep, clear, link,
    * touch, mkdirs, stage, commit, unstage, move, publish. */
  final case class Step(op: String, path: Path)

  /** Test seam: sees every mutation BEFORE it runs; throwing from it is a
    * crash at that step. Production never sets it. */
  private[graft] val faultHook = new AtomicReference[Step => Unit](null)

  /** Test seam: runs ONCE at the next slot claim — between an append's
    * slot read and its claim, the concurrent-writer window — then
    * self-clears. */
  private[graft] val appendTestHook = new AtomicReference[() => Unit](null)

  /** Test seam: runs ONCE at the next batch marker create — between an
    * append's slot claim and its publish — then self-clears. */
  private[graft] val preMarkerTestHook = new AtomicReference[() => Unit](null)

  private[graft] def step[A](op: String, path: Path)(body: => A): A = {
    Option(faultHook.get).foreach(_(Step(op, path)))
    val oneShot = op match {
      case "claim" => appendTestHook
      case "mark" => preMarkerTestHook
      case _ => null
    }
    if (oneShot != null) Option(oneShot.getAndSet(null)).foreach(_.apply())
    body
  }

  private def touch(fs: FileSystem, p: Path, op: String = "touch"): Unit = step(op, p) {
    try fs.create(p, false).close()
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
  }

  // ---- exclusive create -----------------------------------------------------

  private def isLocal(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  private def nio(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)

  /** Marks a staged body: `.<target name>.stage-<uuid>`, hidden from every
    * reader; [[CommitLog.vacuum]] sweeps the ones crashes leave. */
  private val StageTag = ".stage-"

  private def isStaged(name: String): Boolean = name.startsWith(".") && name.contains(StageTag)

  /** Create `target` holding `body` unless it exists; true when this call
    * created it. Exactly one of any number of racing callers wins — which
    * Hadoop's `create(p, overwrite = false)` does NOT give on the local
    * file system (its exists-check and open are two calls). Locally an
    * empty body is one `O_EXCL` create, and a body is staged whole and then
    * hard-linked to `target` (the link fails when `target` exists), so no
    * reader ever opens a half-written target. Elsewhere the staged body is
    * renamed onto `target`, a rename that refuses an existing destination
    * (HDFS semantics). `op` names the publishing step. */
  def createExclusive(fs: FileSystem, target: Path, body: Array[Byte], op: String): Boolean = {
    def taken[A](f: => A): Boolean =
      try { f; true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    val local = isLocal(fs)
    if (local && body.isEmpty) step(op, target) {
      fs.mkdirs(target.getParent)
      taken(java.nio.file.Files.createFile(nio(fs, target)))
    } else {
      val staged = new Path(target.getParent,
        s".${target.getName}$StageTag${java.util.UUID.randomUUID()}")
      step("stage", staged) {
        fs.mkdirs(target.getParent)
        if (local) java.nio.file.Files.write(nio(fs, staged), body)
        else {
          val o = fs.create(staged, false)
          try o.write(body) finally o.close()
        }
      }
      val won = step(op, target) {
        if (local) taken(java.nio.file.Files.createLink(nio(fs, target), nio(fs, staged)))
        else fs.rename(staged, target) || {
          if (fs.exists(target)) false
          else throw new java.io.IOException(s"could not publish $staged as $target")
        }
      }
      if (local || !won) step("unstage", staged)(fs.delete(staged, false))
      won
    }
  }

  // ---- snapshot plumbing --------------------------------------------------

  /** Hard-link a file, with a byte-copy fallback (object stores and
    * cross-device paths cannot link). */
  def link(fs: FileSystem, src: Path, dst: Path): Unit = step("link", dst) {
    val linked =
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: Throwable => false }
    if (!linked) org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, fs.getConf)
  }

  /** [[link]] a directory tree. */
  def linkTree(fs: FileSystem, src: Path, dst: Path): Unit = {
    step("mkdirs", dst)(fs.mkdirs(dst))
    fs.listStatus(src).toSeq.foreach { st =>
      val d = new Path(dst, st.getPath.getName)
      if (st.isDirectory) linkTree(fs, st.getPath, d) else link(fs, st.getPath, d)
    }
  }

  /** [[linkTree]], TOLERATING a source a racing compact retired after the
    * capture listing: the partial copy is removed and false returned. */
  def linkTreeTolerant(fs: FileSystem, src: Path, dst: Path): Boolean =
    try { linkTree(fs, src, dst); true }
    catch {
      case _: java.io.FileNotFoundException =>
        fs.delete(dst, true)
        false
    }

  /** Link the directories `<dirPrefix><name>` of `names` listed in `es`
    * into `out`; returns the names whose source vanished meanwhile. */
  private def linkNamed(fs: FileSystem, es: Seq[FileStatus], dirPrefix: String,
                        names: Set[String], out: Path): Set[String] =
    es.filter(st => st.isDirectory && st.getPath.getName.startsWith(dirPrefix) &&
        names.contains(st.getPath.getName.drop(dirPrefix.length)))
      .filterNot(st => linkTreeTolerant(fs, st.getPath, new Path(out, st.getPath.getName)))
      .map(_.getPath.getName.drop(dirPrefix.length)).toSet

  /** One snapshot capture: the listing both the markers and the
    * directories came from, and the batch names whose data made it in. */
  final case class Capture(entries: Seq[FileStatus], batches: Set[String])

  private val SnapshotsDir = "snapshots"

  /** Take snapshot `name` of the store or index at `root` all-or-nothing:
    * `capture` fills the hidden `snapshots/.<name>`, and one rename
    * publishes it as `snapshots/<name>`. A crash leaves only the hidden
    * directory, which no reader lists and [[sweepSnapshots]] removes.
    * Returns the name. */
  def snapshot(fs: FileSystem, root: Path, name: String = freshName())(
      capture: Path => Unit): String = {
    val staged = new Path(root, s"$SnapshotsDir/.$name")
    val out = new Path(root, s"$SnapshotsDir/$name")
    step("mkdirs", staged)(fs.mkdirs(staged))
    capture(staged)
    step("publish", out) {
      if (!fs.rename(staged, out)) throw new java.io.IOException(s"could not publish $out")
    }
    name
  }

  /** Remove the hidden partial snapshots under `root` that crashed
    * captures left, once older than `graceMs`. */
  def sweepSnapshots(fs: FileSystem, root: Path, graceMs: Long): Unit = {
    val now = System.currentTimeMillis()
    listing(fs, new Path(root, SnapshotsDir)).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".") &&
          st.getModificationTime <= now - graceMs)
        step("sweep", st.getPath)(fs.delete(st.getPath, true))
    }
  }

  // ---- batch log ----------------------------------------------------------

  /** An append-only log of batch directories `<dirPrefix><name>` in `root`,
    * published by `_live.` markers. `owner` names the index in errors. */
  final class BatchLog(val fs: FileSystem, val root: Path, owner: String,
                       dirPrefix: String) {

    def batchPath(name: String): Path = new Path(root, s"$dirPrefix$name")

    private def entries(): Seq[FileStatus] = listing(fs, root)

    /** (publish ts, name) of every `_live` marker. */
    def liveStamped: Seq[(Long, String)] = stampsIn(entries(), LivePrefix)

    /** Live batch names. */
    def live: Seq[String] = liveStamped.map(_._2).distinct

    def isLive(name: String): Boolean = liveStamped.exists(_._2 == name)

    /** Oldest `_seen` record time per folded name. */
    def seenTimes: Map[String, Long] = firstOf(stampsIn(entries(), SeenPrefix))

    /** Whether batch `name` has landed: live, or folded (`_seen`). */
    def contains(name: String): Boolean = {
      val es = entries()
      (stampsIn(es, LivePrefix) ++ stampsIn(es, SeenPrefix)).exists(_._2 == name)
    }

    /** The sequence slot the NEXT append must claim. */
    def nextSeq(): Long =
      entries().map(_.getPath.getName).filter(_.startsWith(SlotPrefix))
        .flatMap(_.drop(SlotPrefix.length).toLongOption)
        .foldLeft(-1L)(math.max) + 1

    /** Write batch `name`'s directory (the caller's data layout). */
    def write[A](name: String)(body: Path => A): A =
      step("write", batchPath(name))(body(batchPath(name)))

    /** Claim slot `seq` with one [[createExclusive]]: a slot someone else
      * took is a second writer ([[ConcurrentWriterException]]); a
      * transient I/O failure surfaces as what it is. */
    def claim(seq: Long): Unit =
      if (!createExclusive(fs, new Path(root, s"$SlotPrefix$seq"), Array.emptyByteArray, "claim"))
        throw new ConcurrentWriterException(owner, root.toString, seq)

    /** Publish batch `name`; `ts` is its publish time (a batch carried
      * across a generation flip keeps its original one). */
    def mark(name: String, ts: Long = System.currentTimeMillis()): Path = {
      val m = new Path(root, s"$LivePrefix$ts.$name")
      step("mark", m)(fs.create(m, false).close())
      m
    }

    def withdraw(marker: Path): Unit = step("withdraw", marker)(fs.delete(marker, false))

    /** Record `names` as folded: replay detection outlives their markers. */
    def recordSeen(names: Seq[String]): Unit = names.foreach(n =>
      touch(fs, new Path(root, s"$SeenPrefix${System.currentTimeMillis()}.$n"), "seen"))

    /** Land batch `name`: write its directory, claim slot `seq` (default:
      * the next one), publish. False, writing nothing, when `name` has
      * already landed. A crash before the publish leaves an unmarked
      * orphan that [[compact]] sweeps; a crash after it leaves a landed
      * batch, so a retry is a no-op either way or lands. */
    def append(name: String, seq: Option[Long] = None)(body: Path => Unit): Boolean = {
      if (contains(name)) return false
      val next = seq.getOrElse(nextSeq())
      write(name)(body)
      claim(next)
      mark(name)
      true
    }

    /** Fold aged batches (marker at least `graceMs` old) into one, trim the
      * slot ledger to its max, and vacuum past the grace window. `fold`
      * writes the folded batch `(aged names, fold name)` and says whether
      * it wrote a directory (marker-only empty batches fold to their
      * `_seen` record alone); it runs only when two or more batches aged.
      * `onSweep` hears every batch directory the vacuum deletes. Returns
      * the retired names. */
    def compact(graceMs: Long, onSweep: String => Unit = _ => ())(
        fold: (Seq[String], String) => Boolean): Seq[String] = {
      val cutoff = System.currentTimeMillis() - graceMs
      val aged = liveStamped.filter(_._1 <= cutoff).map(_._2).distinct
      if (aged.length > 1) {
        val foldName = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
        if (write(foldName)(_ => fold(aged, foldName))) mark(foldName)
        recordSeen(aged)
        entries().map(_.getPath).foreach { p =>
          if (stamped(LivePrefix, p.getName).exists(m => aged.contains(m._2)))
            step("retire", p)(fs.delete(p, false))
        }
      }
      trimSlots()
      vacuum(graceMs, onSweep)
      if (aged.length > 1) aged else Nil
    }

    /** Only the max slot matters (the next append's predecessor). */
    private def trimSlots(): Unit = {
      val slots = entries().map(_.getPath.getName).filter(_.startsWith(SlotPrefix))
        .flatMap(n => n.drop(SlotPrefix.length).toLongOption.map((_, n)))
      if (slots.length > 1) {
        val keep = slots.maxBy(_._1)._2
        slots.filter(_._2 != keep).foreach { case (_, n) =>
          val p = new Path(root, n)
          step("trim", p)(fs.delete(p, false))
        }
      }
    }

    /** Delete batch directories no marker names: retired ones once their
      * `_seen` record, unmarked orphans once the directory itself, is
      * older than `graceMs`. */
    private def vacuum(graceMs: Long, onSweep: String => Unit): Unit = {
      val now = System.currentTimeMillis()
      val es = entries()
      val seenTs = firstOf(stampsIn(es, SeenPrefix))
      val live = stampsIn(es, LivePrefix).map(_._2).toSet
      es.foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(dirPrefix)) {
          val nm = n.drop(dirPrefix.length)
          if (!live.contains(nm)) {
            val retiredPastGrace = seenTs.get(nm).exists(_ <= now - graceMs)
            val orphanPastGrace =
              !seenTs.contains(nm) && st.getModificationTime <= now - graceMs
            if (retiredPastGrace || orphanPastGrace) {
              step("sweep", st.getPath)(fs.delete(st.getPath, true))
              onSweep(nm)
            }
          }
        }
      }
    }

    /** Copy the log's CURRENT state into `out` from ONE listing, so an
      * append racing the snapshot is fully in or fully out. Live batch
      * directories link first; one a racing compact retired in between is
      * skipped and its marker suppressed, so the snapshot never claims a
      * batch whose data it could not capture. Markers, `_seen` and `_slot`
      * files are zero-byte names and are RE-CREATED from the listing (a
      * racing compact deletes aged markers at once, so the source may be
      * gone): replay detection and the writer ledger survive a restore.
      * Returns the capture for the caller's own sidecars. */
    def snapshotInto(out: Path): Capture = {
      step("mkdirs", out)(fs.mkdirs(out))
      val es = entries()
      val live = stampsIn(es, LivePrefix).map(_._2).toSet
      val batches = live -- linkNamed(fs, es, dirPrefix, live, out)
      es.foreach { st =>
        val n = st.getPath.getName
        val wanted = stamped(LivePrefix, n).exists(m => batches.contains(m._2)) ||
          n.startsWith(SeenPrefix) || n.startsWith(SlotPrefix)
        if (st.isFile && wanted) touch(fs, new Path(out, n))
      }
      Capture(es, batches)
    }
  }

  // ---- version pointer ------------------------------------------------------

  /** Whole-state versions `<dirPrefix><name>` in `root`, the newest
    * `<markerPrefix><ts>.<name>` marker naming the current one. Ties in the
    * millisecond break on the name, numerically when it is a number. */
  final class VersionPointer(val fs: FileSystem, val root: Path,
                             markerPrefix: String, dirPrefix: String) {

    def versionPath(name: String): Path = new Path(root, s"$dirPrefix$name")

    private def marks(es: Seq[FileStatus]): Seq[(Long, String)] =
      stampsIn(es, markerPrefix).sortBy { case (ts, n) => (ts, n.toLongOption, n) }

    /** The current version's name. */
    def current: Option[String] = marks(listing(fs, root)).lastOption.map(_._2)

    /** Make version `name` current: `write` fills its directory, then one
      * marker create flips it. A target directory no marker names is a
      * crashed flip's remnant and is cleared first. False, writing
      * nothing, when `name` is already marked. */
    def flip(name: String)(write: Path => Unit): Boolean = {
      if (marks(listing(fs, root)).exists(_._2 == name)) return false
      val target = versionPath(name)
      if (fs.exists(target)) step("clear", target)(fs.delete(target, true))
      step("write", target)(write(target))
      val m = new Path(root, s"$markerPrefix${System.currentTimeMillis()}.$name")
      step("mark", m)(fs.create(m, false).close())
      true
    }

    /** Delete versions superseded for `graceMs` (some NEWER marker is at
      * least that old) — marker first, so no marker ever names a missing
      * directory — and unmarked version directories older than `graceMs`. */
    def vacuum(graceMs: Long): Unit = {
      val now = System.currentTimeMillis()
      val ms = marks(listing(fs, root))
      ms.zipWithIndex.foreach { case ((_, g), i) =>
        val supersededLongEnough = ms.drop(i + 1).exists { case (ts, n) =>
          n != g && now - ts >= graceMs
        }
        if (supersededLongEnough) {
          dropMarkers(fs, root, markerPrefix, g)
          val p = versionPath(g)
          step("sweep", p)(fs.delete(p, true))
        }
      }
      listing(fs, root).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(dirPrefix) &&
            !ms.exists(_._2 == n.drop(dirPrefix.length)) &&
            st.getModificationTime <= now - graceMs)
          step("sweep", st.getPath)(fs.delete(st.getPath, true))
      }
    }

    /** Re-create the markers of the captured versions in `out` after
      * linking their directories (a vanished one — superseded and swept
      * by a racing compact — is skipped with its markers). */
    def snapshotInto(out: Path, es: Seq[FileStatus]): Unit = {
      val marked = marks(es).map(_._2).toSet
      val captured = marked -- linkNamed(fs, es, dirPrefix, marked, out)
      es.foreach { st =>
        if (st.isFile && stamped(markerPrefix, st.getPath.getName)
            .exists(m => captured.contains(m._2)))
          touch(fs, new Path(out, st.getPath.getName))
      }
    }

    /** Publish `name` as current in `out` (a snapshot's own pointer). */
    def markInto(out: Path, name: String): Unit =
      touchMarker(fs, out, markerPrefix, name)
  }

  // ---- commit log -----------------------------------------------------------

  private val CommitPrefix = "_commit."

  /** Commit `n` of a [[CommitLog]], published at `mtime`. */
  final case class Commit(n: Long, path: Path, mtime: Long)

  /** One listing of a [[CommitLog]]'s directory: its commits and every
    * entry beside them. */
  final case class CommitView(commits: Seq[Commit], entries: Seq[FileStatus]) {
    /** The state: the highest-numbered commit. */
    def tip: Option[Commit] = if (commits.isEmpty) None else Some(commits.maxBy(_.n))

    /** The number the next commit takes. */
    def next: Long = tip.fold(1L)(_.n + 1)
  }

  /** Numbered commits `_commit.<n>` in `dir`, each holding lines of text.
    * A writer reads a [[CommitView]], does its work, and [[publish]]es the
    * successor of the tip it read; when a racing writer took that number
    * first, the publish fails and nothing forks. */
  final class CommitLog(val fs: FileSystem, val dir: Path) {

    def view(): CommitView = {
      val es = try fs.listStatus(dir).toSeq
               catch { case _: java.io.FileNotFoundException => Nil }
      CommitView(es.flatMap { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith(CommitPrefix))
          n.drop(CommitPrefix.length).toLongOption.map(Commit(_, st.getPath, st.getModificationTime))
        else None
      }, es)
    }

    /** The lines of commit file `p`. */
    def read(p: Path): Seq[String] = {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
                 finally in.close()
      text.split("\n").toSeq.filter(_.nonEmpty)
    }

    /** Publish `lines` as the successor of `v`'s tip. False, publishing
      * nothing, when another writer took that number first: `v` is stale. */
    def publish(v: CommitView, lines: Seq[String]): Boolean =
      createExclusive(fs, new Path(dir, s"$CommitPrefix${v.next}"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        "commit")

    /** Delete commits superseded for `graceMs` (a newer commit is at least
      * that old) and the staged bodies crashed publishes left. The tip
      * never goes. A rewrite must finish within the grace window, as it
      * must for its input files: the same clock retires them. */
    def vacuum(v: CommitView, graceMs: Long): Unit = {
      val now = System.currentTimeMillis()
      v.commits.foreach { c =>
        if (v.commits.exists(d => d.n > c.n && d.mtime <= now - graceMs))
          step("retire", c.path)(fs.delete(c.path, false))
      }
      v.entries.foreach { st =>
        if (st.isFile && isStaged(st.getPath.getName) && st.getModificationTime <= now - graceMs)
          step("sweep", st.getPath)(fs.delete(st.getPath, false))
      }
    }
  }
}
