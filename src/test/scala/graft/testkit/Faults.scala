package graft.testkit

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path

import graft.sources.MarkerLog

/** One-shot races through [[MarkerLog.faultHook]]: `action` runs ONCE,
  * just before the first file-system step `op` under `under` — a writer it
  * starts there races the writer that was about to take that step. */
object Faults {
  def onceAt[A](op: String, under: String)(action: => Unit)(body: => A): A = {
    val root = new Path(under).toUri.getPath
    val fired = new AtomicBoolean(false)
    MarkerLog.faultHook.set { s =>
      if (s.op == op && s.path.toUri.getPath.startsWith(root) && fired.compareAndSet(false, true)) {
        MarkerLog.faultHook.set(null) // the racer's own steps pass untouched
        action
      }
    }
    try body finally MarkerLog.faultHook.set(null)
  }
}
