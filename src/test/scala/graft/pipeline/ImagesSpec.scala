package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class ImagesSpec extends AnyFunSuite with SharedSpark {

  test("bilinear: identity geometry returns the source bytes") {
    val px = Array.tabulate(5 * 4 * 3)(i => ((i * 37 + 11) % 256).toByte)
    assert(Images.bilinearResize(px, 5, 4, 3, 5, 4).toSeq == px.toSeq)
  }

  test("bilinear: constant image stays constant at any geometry") {
    val px = Array.fill(31 * 23 * 3)(123.toByte)
    val out = Images.bilinearResize(px, 31, 23, 3, 8, 8)
    assert(out.forall(_ == 123.toByte))
  }

  test("bilinear: 2x upsample of a 2x1 gradient interpolates midpoints") {
    // source pixels 0 and 100; half-pixel centers at x=0..3 map to
    // sx = -0.25, 0.25, 0.75, 1.25 -> clamped blend 0, 25, 75, 100
    val out = Images.bilinearResize(Array[Byte](0, 100), 2, 1, 1, 4, 1)
    assert(out.map(_ & 0xff).toSeq == Seq(0, 25, 75, 100))
  }

  test("aHash: constant image hashes to zero, checker has exactly half bits") {
    val flat = Array.fill(8 * 8)(77.toByte)
    assert(Images.aHashOf(flat, 8, 8, 1) == 0L)
    val checker = Array.tabulate(8 * 8)(i =>
      (if ((i % 8 + i / 8) % 2 == 0) 200 else 10).toByte)
    assert(java.lang.Long.bitCount(Images.aHashOf(checker, 8, 8, 1)) == 32)
  }

  test("aHash pairs: identical fixture images collide at hamming 0") {
    import spark.implicits._
    // two disjoint id ranges with the same id%31/%23/%3 geometry & fill
    // would differ (fill depends on id); instead hash the same image twice
    val px = Array.tabulate(16 * 16)(i => ((i * 7) % 256).toByte)
    val h1 = Images.aHashOf(px, 16, 16, 1)
    val sigs = Seq((1L, h1), (2L, h1), (3L, ~h1)).toDF("doc_id", "ahash")
    val pairs = Dedup.hammingPairs(sigs, "ahash", maxHamming = 2).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 0L)))
  }

  test("flipH/rotate90 invert correctly and preserve multisets") {
    val px = Array.tabulate(5 * 3 * 2)(i => ((i * 31 + 7) % 256).toByte)
    // double flip = identity; four rotations = identity
    assert(Images.flipH(Images.flipH(px, 5, 3, 2), 5, 3, 2).toSeq == px.toSeq)
    val r1 = Images.rotate90cw(px, 5, 3, 2)      // 3x5 out
    val r2 = Images.rotate90cw(r1, 3, 5, 2)      // 5x3
    val r3 = Images.rotate90cw(r2, 5, 3, 2)
    val r4 = Images.rotate90cw(r3, 3, 5, 2)
    assert(r4.toSeq == px.toSeq)
    assert(r1.sorted.toSeq == px.sorted.toSeq)
    // top-left pixel of src lands at top-right of the rotated image
    val w = 5; val h = 3; val ch = 2
    assert(r1((0 * h + (h - 1)) * ch) == px(0))
  }

  test("char_grams kernel: packed keys, counts, code points, short docs") {
    import spark.implicits._
    val docs = Seq((1L, "abab"), (2L, "ab"), (3L, "a😀b"))
      .toDF("doc_id", "text")
    def grams(id: Long, n: Int): Map[Long, Long] =
      docs.where(col("doc_id") === id)
        .select(explode(CharGrams.column(col("text"), n)).as("g"))
        .select("g.k", "g.cnt").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def key(cps: Int*): Long = cps.foldLeft(0L)((k, c) => (k << 21) | c)
    // "abab": trigrams aba, bab — once each; bigram ab twice, ba once
    assert(grams(1L, 3) == Map(key('a', 'b', 'a') -> 1L, key('b', 'a', 'b') -> 1L))
    assert(grams(1L, 2) == Map(key('a', 'b') -> 2L, key('b', 'a') -> 1L))
    // doc shorter than n -> empty, not a phantom gram
    assert(grams(2L, 3).isEmpty)
    // astral code point (U+1F600) packs as ONE code point, not two
    // UTF-16 surrogates — same semantics as SQL substr
    assert(grams(3L, 3) == Map(key('a', 0x1F600, 'b') -> 1L))
    assert(grams(3L, 1).keySet == Set(key('a'), key(0x1F600), key('b')))
  }

  test("charlm: repetitive text scores higher than alien text") {
    import spark.implicits._
    val docs = (Seq.fill(8)("the cat sat on the mat") :+ "zq xv jj qq wk")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val s = CharLm.score(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the repeated sentence's trigrams dominate the corpus counts
    assert(s(0L) > s(8L))
    assert(CharLm.score(docs).where(col("n_trigrams") === 0).count() == 0)
  }
}
