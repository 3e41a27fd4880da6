package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Parity guards for the native kernels: (1) the interpreted `eval` path
  * must agree with generated code — Spark silently falls back to
  * interpretation when a stage fails to compile, so a divergence would
  * surface as wrong RESULTS, not an error; (2) the QualityScore kernel
  * must agree bit-for-bit with the column-expression formula it
  * replaced (the claim its scaladoc makes). */
class KernelParitySpec extends AnyFunSuite with SharedSpark {

  // adversarial text mix: prose, punctuation soup, unicode (incl. an
  // astral code point), repeated grams, empties, single tokens
  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it runs"),
      (2L, "buy now buy now buy now buy now"),
      (3L, "!!! ### $$$ %%%"),
      (4L, "café naïve 😀 emoji mix the end"),
      (5L, "single"),
      (6L, ""),
      (7L, "a b a b a b c")).toDF("doc_id", "text")
  }

  private def withCodegen[A](mode: String)(f: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def kernelFrame: DataFrame = {
    val t = split(col("text"), " ")
    val norm = TextAnalysis.langNorm(col("text"))
    docs.select(col("doc_id"),
      QualityScore.column(col("text")).as("q"),
      LangPred.column(norm).as("lp"),
      LangEvidence.column(norm).as("le"),
      GramStats.column(t, 2).as("gs"),
      GramFrac.column(t, 2, dup = false).as("gf"),
      GramFrac.column(t, 3, dup = true).as("gfd"),
      CharGrams.column(col("text"), 3).as("cg"),
      ShingleMin.column(t, 3).as("sm"),
      GramHashes.column(t, 2).as("gh"),
      NibbleSpread.column(md5(col("text"))).as("nb"))
  }

  test("every kernel: interpreted eval equals generated code") {
    val gen = withCodegen("CODEGEN_ONLY")(kernelFrame.collect())
    val interp = withCodegen("NO_CODEGEN")(kernelFrame.collect())
    assert(gen.map(_.toString).toSeq == interp.map(_.toString).toSeq)
  }

  test("GramHashes: an empty token array emits NO grams") {
    // reachable via the SQL-registered gram_hashes(array(), n) — two
    // empty docs must not read as sharing a constant duplicated gram
    val row = spark.range(1)
      .select(GramHashes.column(array(), 8).as("gh"),
        GramHashes.column(array(lit("x")), 8).as("one"))
      .head()
    assert(row.getSeq[Any](0).isEmpty)
    assert(row.getSeq[Any](1).length == 1) // short doc: whole-doc window
  }

  test("QualityScore kernel is bit-identical to the expression formula") {
    val t = split(col("text"), " ")
    val nTok = size(t).cast("double")
    val stopRatio = size(filter(t, x =>
      x.isInCollection(TextAnalysis.stopwords("en")))).cast("double") / nTok
    val punctRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))).cast("double") /
      length(col("text"))
    val avgTokLen = (length(col("text")) - (nTok - 1)) / nTok
    val z = lit(-1.0) + lit(4.0) * stopRatio - lit(8.0) * punctRatio +
      lit(0.35) * log(nTok) - lit(0.15) * avgTokLen
    val rows = docs.select(col("doc_id"),
      QualityScore.column(col("text")).as("kernel"),
      (lit(1.0) / (lit(1.0) + exp(-z))).as("expr")).collect()
    rows.foreach { r =>
      val (k, e) = (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      assert(k == e, s"doc ${r.getLong(0)}: kernel=$k expr=$e")
    }
    // empty text is NULL (like the expression's 0-length division), so
    // it cannot sail through >= filters as NaN would
    assert(rows.find(_.getLong(0) == 6L).get.isNullAt(1))
  }
}
