package graft.sources

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** A second writer raced an [[MarkerLog.IndexLog]] append: a batch of
  * another writer landed at or after the commit number this append read,
  * or the log never offered that number (the index was restored from a
  * snapshot taken before the read). */
final class ConcurrentWriterException(owner: String, dir: String, seq: Long)
  extends IllegalStateException(
    s"$owner at $dir: commit $seq is stale — a concurrent writer's batch " +
      "landed at or after it, or the index was restored to an earlier state; " +
      "appends must be sequential per index; this batch was NOT appended " +
      "(its directory is an unnamed orphan)")

/** The commit protocol of everything persisted: data lives in immutable
  * directories and files, and numbered commits `_commit.<n>` say which of
  * them readers see. This is the offset log of Structured Streaming (SIGMOD
  * 2018) read the way Delta Lake reads its table log (VLDB 2020): the
  * highest number in one listing is the state, and commit `n+1` is one
  * [[createExclusive]], so of two writers that read tip `n` exactly one
  * publishes — the other learns it lost and re-reads. One exclusive create
  * gives atomic publish, idempotent replay by batch name (a name the state
  * holds never lands twice) and exactly one winner among racing writers.
  *
  *  - [[CommitLog]]: the numbered commits of one directory, bodies as
  *    lines; every PointsStore day dir and `_dict` is one.
  *  - [[IndexLog]]: a [[CommitLog]] in the index's own `_log/` directory
  *    whose every body is the WHOLE state of a pipeline index
  *    ([[IndexState]]: live batches, folded names, the current generation,
  *    ledger or state directory) — SigIndex, IvfIndex and the incremental
  *    diversity sampler.
  *
  * One layout per structure, no migration: an index root holding commits
  * beside its data, or the stamped markers of the protocol before the
  * commit log, fails loud ([[IndexLog.read]]), as does a store dir holding
  * only manifests (`PointsStore`).
  *
  * GRACE WINDOW: a reader plans against a state lazily, so nothing it may
  * still scan is deleted early. A commit goes once a NEWER one is older than
  * the grace window (the newer one's age bounds the supersession age from
  * below), and a data directory once no remaining commit names it and it is
  * itself that old (an in-flight write is younger) — one rule for retired
  * directories and crash orphans alike. An index state records which
  * commit stopped naming each directory, so the vacuum reads the tip alone.
  *
  * Every file-system mutation passes [[step]] first — the one test seam. */
private[graft] object MarkerLog {

  /** Unique name for a snapshot or a version: wall-clock millis plus a
    * nanoTime uniquifier, so two mints within one millisecond differ. */
  def freshName(): String =
    s"${System.currentTimeMillis()}-${java.lang.Long.toUnsignedString(System.nanoTime(), 36)}"

  // ---- the test seam ----------------------------------------------------

  /** One file-system mutation the log is about to make: `op` is one of
    * write, stage, commit, unstage, retire, sweep, link, mkdirs, publish,
    * hist, clear, move. */
  final case class Step(op: String, path: Path)

  /** Test seam: sees every mutation BEFORE it runs; throwing from it is a
    * crash at that step, running a writer from it is a race at that step.
    * Production never sets it. */
  private[graft] val faultHook = new AtomicReference[Step => Unit](null)

  private[graft] def step[A](op: String, path: Path)(body: => A): A = {
    Option(faultHook.get).foreach(_(Step(op, path)))
    body
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

  /** Hard-link a file, with a byte-copy fallback where no link can be made
    * (object stores, file systems without links, cross-device paths). A
    * missing source is a [[java.io.FileNotFoundException]]. */
  def link(fs: FileSystem, src: Path, dst: Path): Unit = step("link", dst) {
    val linked = isLocal(fs) && {
      try { java.nio.file.Files.createLink(nio(fs, dst), nio(fs, src)); true }
      catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(e.getMessage)
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException => false
      }
    }
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

  /** [[linkTree]], TOLERATING a source a racing vacuum swept after the
    * capture read: the partial copy is removed and false returned. */
  def linkTreeTolerant(fs: FileSystem, src: Path, dst: Path): Boolean =
    try { linkTree(fs, src, dst); true }
    catch {
      case _: java.io.FileNotFoundException =>
        fs.delete(dst, true)
        false
    }

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
    val snaps = new Path(root, SnapshotsDir)
    if (fs.exists(snaps)) fs.listStatus(snaps).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".") &&
          st.getModificationTime <= now - graceMs)
        step("sweep", st.getPath)(fs.delete(st.getPath, true))
    }
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
    def publish(v: CommitView, lines: Seq[String]): Boolean = publishAt(v.next, lines)

    /** Publish `lines` as commit `n`; false when it exists. */
    private[MarkerLog] def publishAt(n: Long, lines: Seq[String]): Boolean =
      createExclusive(fs, new Path(dir, s"$CommitPrefix$n"),
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

  // ---- index log ------------------------------------------------------------

  /** Fact kinds: a live batch (its first publish time); a folded batch
    * name (its fold time), kept so a replay of a folded batch is detected;
    * IvfIndex's generation directory (its number); SigIndex's decision
    * ledger directory and folded decision sidecars; the diversity
    * sampler's state directory; and a directory an earlier state named
    * (the number of the commit that stopped naming it), which
    * [[IndexLog.commit]] alone writes. */
  val Live = "live"
  val Seen = "seen"
  val Gen = "gen"
  val Ledger = "ledger"
  val DecFold = "decfold"
  val StateDir = "state"
  val Retired = "retired"

  /** The whole state of a pipeline index, as one commit body names it:
    * facts `<kind> <n> <name>`, at most one per (kind, name), where `n` is
    * the fact's time — or, for IvfIndex's generation, its number, and for
    * a retired directory, the number of the commit that retired it — plus
    * `appended`, the commit number of the newest batch append (-1: none). */
  final case class IndexState(facts: Map[String, Map[String, Long]], appended: Long) {

    def apply(kind: String): Map[String, Long] = facts.getOrElse(kind, Map.empty)

    /** The one fact of a singleton kind: the generation, ledger or state. */
    def only(kind: String): Option[(String, Long)] = apply(kind).headOption

    def put(kind: String, name: String, n: Long): IndexState =
      copy(facts = facts.updated(kind, apply(kind).updated(name, n)))

    /** Replace every fact of `kind` with the one (name, n). */
    def set(kind: String, name: String, n: Long): IndexState =
      copy(facts = facts.updated(kind, Map(name -> n)))

    def drop(kind: String, names: Iterable[String]): IndexState =
      copy(facts = facts.updated(kind, apply(kind) -- names))

    /** Live batch names, oldest first. */
    def live: Seq[String] = apply(Live).toSeq.sortBy(_.swap).map(_._1)

    /** Whether batch `name` has landed: live, or folded. */
    def landed(name: String): Boolean = apply(Live).contains(name) || apply(Seen).contains(name)

    def lines: Seq[String] = s"appended $appended" +:
      facts.toSeq.sortBy(_._1).flatMap { case (kind, fs) =>
        fs.toSeq.sortBy(_._1).map { case (name, n) => s"$kind $n $name" }
      }
  }

  object IndexState {
    val empty: IndexState = IndexState(Map.empty, -1L)

    def parse(lines: Seq[String]): IndexState = lines.foldLeft(empty) { (s, l) =>
      l.split(" ", 3) match {
        case Array("appended", n) => s.copy(appended = n.toLong)
        case Array(kind, n, name) => s.put(kind, name, n.toLong)
        case _ => throw new IllegalStateException(s"malformed index commit line: $l")
      }
    }
  }

  /** The directory under an index root that holds its commits. */
  val LogDir = "_log"

  /** Names at an index root that only the protocol before the commit log
    * wrote: stamped batch, slot and version markers. */
  private val PreCommitMarkers =
    Seq("_live.", "_seen.", "_slot.", "_gen.", "_state.", "_decled.", "_decfold.")

  /** The commit log of a pipeline index at `root`, kept in `root/_log/`: a
    * read lists commits and staged bodies only, never the data directories,
    * so its cost does not grow with the live batches. Every commit body is
    * the index's whole [[IndexState]]. `owner` names the index in errors;
    * `dirs` lists the directories (relative to `root`) a state names, and
    * `sweep` the glob patterns (relative to `root`) of the data directories
    * [[vacuum]] may delete once no remaining commit names them. */
  final class IndexLog(val fs: FileSystem, val root: Path, owner: String,
                       dirs: IndexState => Seq[String], sweep: Seq[String]) {

    private val log = new CommitLog(fs, new Path(root, LogDir))

    /** One listing of `_log/` and the state its tip names; empty before the
      * first commit, unless the root holds an earlier layout
      * ([[requireLogLayout]]). */
    def read(): (CommitView, IndexState) = {
      val v = log.view()
      v.tip match {
        case None => requireLogLayout(); (v, IndexState.empty)
        case Some(c) =>
          // at grace 0 a racing vacuum may retire a tip that a newer commit
          // just superseded: list again
          try (v, IndexState.parse(log.read(c.path)))
          catch { case _: java.io.FileNotFoundException => read() }
      }
    }

    def state: IndexState = read()._2

    /** Throw when the root holds commits beside the data (the layout before
      * `_log/`) or stamped markers (the protocol before the commit log):
      * such an index would otherwise read as empty. */
    private def requireLogLayout(): Unit = {
      val names = try fs.listStatus(root).toSeq.map(_.getPath.getName)
                  catch { case _: java.io.FileNotFoundException => Nil }
      names.collectFirst {
        case n if n.startsWith(CommitPrefix) =>
          s"a commit at its root ($n), the layout before `$LogDir/`"
        case n if PreCommitMarkers.exists(n.startsWith) =>
          s"a stamped marker ($n), the layout before the commit log"
      }.foreach(format => throw new IllegalStateException(
        s"$owner at $root holds $format; only commits under `$LogDir/` are read: rebuild the index"))
    }

    /** Publish `update(view, tip state)` as the next commit; on a lost
      * number re-read and apply `update` to the new tip. `update` returns
      * None to give up, publishing nothing. Returns the published state. */
    @annotation.tailrec
    def commit(update: (CommitView, IndexState) => Option[IndexState]): Option[IndexState] = {
      val (v, s) = read()
      update(v, s).map(retire(v, s, _)) match {
        case Some(n) if !log.publish(v, n.lines) => commit(update)
        case published => published
      }
    }

    /** `n`, about to replace `s` as commit `v.next`, recording the
      * directories `s` named and `n` does not as retired by that commit,
      * and forgetting those retired by commits the vacuum removed (which
      * were past the grace window). */
    private def retire(v: CommitView, s: IndexState, n: IndexState): IndexState = {
      val oldest = v.commits.map(_.n).minOption.getOrElse(v.next)
      val retired = (s(Retired) -- dirs(n)).filter(_._2 >= oldest) ++
        (dirs(s).toSet -- dirs(n)).map(_ -> v.next)
      n.copy(facts = n.facts.updated(Retired, retired))
    }

    /** Land batches `names`, whose directories are written, in one commit
      * at number `seq` (read from the view the batch was computed against).
      * When that number is lost and a commit since landed any batch, a
      * concurrent writer raced this one ([[ConcurrentWriterException]]);
      * commits that landed no batch (folds, flips) are benign, and the
      * append publishes at the new tip. A number past the next one was
      * never offered by this log (it was read before a restore) and throws
      * too. `guard` vets every tip it would publish onto (IvfIndex: the
      * generation is unchanged). */
    def append(names: Seq[String], seq: Long, ts: Long = System.currentTimeMillis())(
        guard: IndexState => Unit = _ => ()): Unit =
      commit { (v, s) =>
        if (seq > v.next || v.next != seq && s.appended >= seq || names.exists(s.landed))
          throw new ConcurrentWriterException(owner, root.toString, seq)
        guard(s)
        Some(names.foldLeft(s)(_.put(Live, _, ts)).copy(appended = v.next))
      }

    /** Fold the live batches published at least `graceMs` ago, when two or
      * more are: `write(aged, name)` writes the fold output `name` and says
      * whether it wrote a directory, and one commit swaps the aged batches
      * for it and records them as folded, so no reader sees both or
      * neither. The commit is given up when an aged batch is no longer live
      * or `still` rejects the tip. */
    def fold(graceMs: Long, still: IndexState => Boolean = _ => true)(
        write: (Seq[String], String) => Boolean): Unit = {
      val aged = state(Live).filter(_._2 <= System.currentTimeMillis() - graceMs)
        .keys.toSeq.sorted
      if (aged.length > 1) {
        val out = Some(s"compact-${java.util.UUID.randomUUID().toString.take(8)}")
          .filter(write(aged, _))
        val now = System.currentTimeMillis()
        commit { (_, s) =>
          if (!aged.forall(s(Live).contains) || !still(s)) None
          else Some(out.foldLeft(aged.foldLeft(s.drop(Live, aged))(_.put(Seen, _, now)))(
            _.put(Live, _, now)))
        }
      }
    }

    /** Retire commits superseded for `graceMs`, then delete every data
      * directory matching `sweep` that no remaining commit names once it is
      * itself that old (`onSweep` hears each). The remaining commits name
      * what the tip names plus the directories retired by a commit younger
      * than `graceMs` (an older one has superseded every commit naming them
      * for the window). */
    def vacuum(graceMs: Long, onSweep: Path => Unit = _ => ()): Unit = {
      val now = System.currentTimeMillis()
      log.vacuum(log.view(), graceMs)
      val (v, s) = read()
      val young = v.commits.filter(_.mtime > now - graceMs).map(_.n).toSet
      val retired = s(Retired).collect { case (d, r) if young(r) => d }
      val named = (dirs(s) ++ retired).flatMap { d =>
        d.split("/").toSeq.inits.filter(_.nonEmpty).map(_.mkString("/"))
      }.toSet
      val rootPath = fs.makeQualified(root).toUri.getPath
      sweep.flatMap(g => Option(fs.globStatus(new Path(root, g))).toSeq.flatten).foreach { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
        if (st.isDirectory && !named(rel) && st.getModificationTime <= now - graceMs &&
            fs.exists(st.getPath)) {
          step("sweep", st.getPath)(fs.delete(st.getPath, true))
          onSweep(st.getPath)
        }
      }
    }

    /** Snapshot the index: `capture` links what the tip state names into the
      * staged snapshot directory and returns the state it captured (leaving
      * out any directory that vanished); that state is the snapshot's one
      * commit, numbered as the captured tip, so a restored index continues
      * the original's numbering and a writer holding a number read before
      * the restore fails loud ([[append]]). Returns the name. */
    def snapshot(name: String = freshName())(capture: (IndexState, Path) => IndexState): String =
      MarkerLog.snapshot(fs, root, name) { out =>
        val (v, s) = read()
        val kept = capture(s, out)
        new CommitLog(fs, new Path(out, LogDir)).publishAt(v.tip.fold(1L)(_.n),
          kept.copy(facts = kept.facts - Retired).lines)
      }
  }
}
