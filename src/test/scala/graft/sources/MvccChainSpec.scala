package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PointsStore.MEnt

/** Direct property tests of the legacy manifest reader: stores written
  * before the numbered commit log hold `_manifest.` files, and a dir with
  * no commit resolves its tip through [[PointsStore.resolveTip]], which
  * must pick ONE deterministic tip for every namespace shape the old
  * protocol could leave: pure-legacy dirs, chains grown on legacy tips,
  * two-party forks in either mtime order, vacuumed ancestors leaving
  * chain fragments, and fork leftovers coexisting with fragments. */
class MvccChainSpec extends AnyFunSuite {

  private def leg(ts: Long, gen: String, mtime: Long): MEnt =
    MEnt(ts, gen, None, s"_manifest.$gen", mtime)
  private def ch(ts: Long, gen: String, parent: String, mtime: Long): MEnt =
    MEnt(ts, gen, Some(parent), s"_manifest.${gen}_p_$parent", mtime)

  private def tip(ents: MEnt*): Option[String] =
    PointsStore.resolveTip(ents).map(_.gen)

  test("empty and pure-legacy dirs: newest stamp wins") {
    assert(tip() == None)
    assert(tip(leg(100, "100-a", 100)) == Some("100-a"))
    assert(tip(leg(100, "100-a", 100), leg(200, "200-b", 200)) == Some("200-b"))
    // stamp tie in a legacy dir breaks by name, deterministically
    assert(tip(leg(100, "100-a", 100), leg(100, "100-b", 100)) == Some("100-b"))
  }

  test("a linear chain resolves to its leaf regardless of stamps or mtimes") {
    val a = ch(100, "100-a", "root", 100)
    val b = ch(50, "50-b", "100-a", 200) // stamp OLDER than parent (long rewrite)
    val c = ch(300, "300-c", "50-b", 300)
    assert(tip(a, b, c) == Some("300-c"))
    assert(tip(c, a, b) == Some("300-c")) // listing order irrelevant
  }

  test("chains grow from the legacy tip; older legacy manifests don't distract") {
    val l1 = leg(10, "10-x", 10)
    val l2 = leg(20, "20-y", 20)
    val a = ch(30, "30-a", "20-y", 30)
    val b = ch(40, "40-b", "30-a", 40)
    assert(tip(l1, l2, a, b) == Some("40-b"))
    // chained-on-older-legacy is off-chain once the newer legacy has heirs:
    // resolution starts at the legacy TIP
    val stray = ch(35, "35-s", "10-x", 35)
    assert(tip(l1, l2, a, b, stray) == Some("40-b"))
  }

  test("two-party fork: EARLIEST RENAME (mtime) wins, in both stamp orders") {
    val p = ch(100, "100-p", "root", 100)
    // fork: w renamed first (mtime 200), l second (mtime 300) — w wins
    // even though l's STAMP is older (l started earlier, wrote longer)
    val w = ch(250, "250-w", "100-p", 200)
    val l = ch(150, "150-l", "100-p", 300)
    assert(tip(p, w, l) == Some("250-w"))
    // and the mirror: earliest mtime still wins when it has the older stamp
    val w2 = ch(150, "150-w", "100-p", 200)
    val l2 = ch(250, "250-l", "100-p", 300)
    assert(tip(p, w2, l2) == Some("150-w"))
    // mtime tie breaks by name — deterministic, either racer detectable
    val t1 = ch(150, "150-t", "100-p", 200)
    val t2 = ch(250, "250-t", "100-p", 200)
    assert(tip(p, t1, t2) == Some("150-t"))
  }

  test("the winner's descendants stay on-chain; the loser's branch is dead") {
    val p = ch(100, "100-p", "root", 100)
    val w = ch(200, "200-w", "100-p", 200)
    val l = ch(300, "300-l", "100-p", 300)
    val wc = ch(400, "400-wc", "200-w", 400)
    val lc = ch(500, "500-lc", "300-l", 500) // child of the dead branch
    assert(tip(p, w, l, wc, lc) == Some("400-wc"))
  }

  test("vacuumed ancestors leave a fragment whose root resolves (fork-free invariant)") {
    // vacuum only removes ancestors when the namespace is fork-free, so a
    // fragment is a pure path: its parent-absent root starts the walk
    val b = ch(200, "200-b", "100-gone", 200)
    val c = ch(300, "300-c", "200-b", 300)
    assert(tip(b, c) == Some("300-c"))
    // a fragment PLUS a still-present legacy manifest: the fragment (the
    // newer era) wins — chains only ever grow forward from legacy
    val l = leg(10, "10-x", 10)
    assert(tip(l, b, c) == Some("300-c"))
  }

  test("fork losers never win root selection against the true chain") {
    // fork at p resolved for w (earlier mtime); later p is vacuumed while
    // l lingers: l and w are both parent-absent, but w's mtime is older
    // so the walk starts at w and finds its descendants
    val w = ch(200, "200-w", "100-gone", 200)
    val l = ch(300, "300-l", "100-gone", 300)
    val wc = ch(400, "400-wc", "200-w", 400)
    assert(tip(w, l, wc) == Some("400-wc"))
  }
}
