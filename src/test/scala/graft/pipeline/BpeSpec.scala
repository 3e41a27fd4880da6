package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

class BpeSpec extends AnyFunSuite with SharedSpark {

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("train: hand-computable corpus learns the expected merges in order") {
    // words: ab x3, abc x1 -> pairs (a,b)=4, (b,c)=1; minCount 2 stops
    // after the single (a,b) merge
    val m1 = Bpe.train(docsOf("ab ab ab", "abc"), nMerges = 5)
    assert(m1 == Seq(Bpe.Merge(0, "a", "b")))
    // low x2, lowest x1: (l,o)=3 wins round 1 (ties (o,w)=3 broken
    // lexicographically), then (lo,w)=3, then (low,e)/(e,s)/(s,t)=1 < 2
    val m2 = Bpe.train(docsOf("low low lowest"), nMerges = 5)
    assert(m2 == Seq(Bpe.Merge(0, "l", "o"), Bpe.Merge(1, "lo", "w")))
  }

  test("train: local and distributed paths produce identical merge sequences") {
    val corpora = Seq(
      docsOf("low low lowest newer newest wide wider widest"),
      docsOf("ab ab ab", "abc abd abe", "ba ba"),
      docsOf("the cat sat on the mat", "the bat and the rat", "a cab a cab"),
      // tie on counts where UTF-8 (code-point) order disagrees with Java's
      // UTF-16 order: U+FFFF sorts BELOW U+1F600 in code points but above
      // it in UTF-16 code units — the local tie-break must match Spark's
      docsOf("😀a 😀a ￿a ￿a"))
    corpora.foreach { docs =>
      val dist = Bpe.trainDistributed(docs, nMerges = 20)
      assert(Bpe.train(docs, nMerges = 20) == dist) // local path (word table fits)
      assert(Bpe.train(docs, nMerges = 20, maxLocalWords = 0) == dist) // forced overflow
    }
  }

  test("train parity holds on seeded-random corpora (12 trials)") {
    // breadth beyond the fixed corpora: small alphabets force heavy merge
    // chains, self-pairs, and count ties — the lazy heap's staleness
    // repair and UTF-8 tie-break must agree with the distributed argmax
    // on every round
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 12).foreach { trial =>
      val alphabet = "abcde".take(2 + rnd.nextInt(3))
      val docs = (0 until 1 + rnd.nextInt(4)).map { d =>
        val words = (0 until 3 + rnd.nextInt(10)).map(_ =>
          (0 until 1 + rnd.nextInt(8)).map(_ =>
            alphabet(rnd.nextInt(alphabet.length))).mkString)
        (d.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      val nm = 1 + rnd.nextInt(25)
      assert(Bpe.train(docs, nMerges = nm) == Bpe.trainDistributed(docs, nMerges = nm),
        s"trial $trial nMerges=$nm")
    }
  }

  test("trainLocal handles repeated-pair words and heap staleness") {
    // 'aaaa' x3: (a,a)=9 -> merge 1 (a,a); then 'aa','aa' pairs (aa,aa)=3
    // -> merge 2 (aa,aa); staleness: (a,a) entries must not resurface
    val m = Bpe.trainLocal(Array(("aaaa", 3L)), nMerges = 5, minCount = 2)
    assert(m == Seq(Bpe.Merge(0, "a", "a"), Bpe.Merge(1, "aa", "aa")))
  }

  test("mergeOnce is greedy left-to-right (aaa with (a,a) -> aa,a)") {
    assert(Bpe.mergeOnce(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.mergeOnce(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(Bpe.mergeOnce(Seq("x", "a", "b", "y"), "a", "b") == Seq("x", "ab", "y"))
  }

  test("encodeWord: rank order beats position, unranked pairs stay split") {
    val ranks = Map(("t", "h") -> 0, ("th", "e") -> 1, ("e", "r") -> 2)
    assert(Bpe.encodeWord("the", ranks) == Seq("the"))
    // (e,r) present but (t,h) has lower rank and its merge enables (th,e)
    assert(Bpe.encodeWord("ther", ranks) == Seq("the", "r"))
    assert(Bpe.encodeWord("xyz", ranks) == Seq("x", "y", "z"))
    assert(Bpe.encodeWord("a", ranks) == Seq("a"))
  }

  test("encode: trained merges round-trip and compress the training corpus") {
    val docs = docsOf("low low low lowest lowest newer newer newer")
    val merges = Bpe.train(docs, nMerges = 10)
    val enc = Bpe.encode(docs, merges).collect().head
    val toks = enc.getAs[scala.collection.Seq[String]]("tokens")
    // lossless: concatenation restores the text modulo spaces
    assert(toks.mkString("") == "lowlowlowlowestlowestnewernewernewer")
    // compression: fewer tokens than characters
    assert(enc.getAs[Long]("n_tokens") < docs.head.getString(1).count(_ != ' '))
  }

  test("encode with demo merges matches the sequential rewrite semantics") {
    // apply demoMerges by repeated mergeOnce in rank order — the oracle's
    // formulation — and compare against the rank-loop encoder
    def rewrite(word: String): Seq[String] = {
      var syms: Seq[String] = word.map(_.toString)
      Bpe.demoMerges.foreach { m =>
        var prev: Seq[String] = null
        while (prev != syms) { prev = syms; syms = Bpe.mergeOnce(syms, m.a, m.b) }
      }
      syms
    }
    val ranks = Bpe.demoMerges.map(m => (m.a, m.b) -> m.rank).toMap
    val words = Seq("the", "then", "there", "and", "demand", "north",
      "more", "often", "str", "rest", "in", "on", "ttthhheee", "zzz")
    words.foreach { w =>
      assert(Bpe.encodeWord(w, ranks) == rewrite(w), s"word $w")
    }
  }
}
