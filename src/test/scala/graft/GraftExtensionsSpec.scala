package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  // built THROUGH the extension. `withExtensions` exercises the same
  // injection path as `spark.sql.extensions=graft.GraftExtensions`
  // (Builder.applyExtensions), but also works when an earlier suite
  // already started the SparkContext — spark.sql.extensions is a STATIC
  // conf, silently ignored on a reused context, so the config form
  // cannot be suite-order-robust in one JVM. The shared session is put
  // back as default and active, so no later suite runs on this one.
  private lazy val spark: SparkSession = {
    val shared = graft.testkit.SharedSpark.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try GraftSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("kernels are callable from plain SQL and match the Scala API") {
    val cos = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.6d, 0.8d)) AS c")
      .head.getDouble(0)
    assert(math.abs(cos - 0.6) < 1e-12)

    val gs = spark.sql(
      "SELECT gram_stats(array('a', 'b', 'a', 'b'), 2) AS s").head
      .getSeq[Long](0)
    // 3 bigram positions; top bigram ('a b') occurs twice; dup positions
    assert(gs(0) == 3L && gs(1) == 2L)

    val sc = spark.sql(
      "SELECT span_cover(array('x', 'y', 'z'), array(1L), 2).clean AS c")
      .head.getString(0)
    assert(sc == "z") // 1-based: tokens 1..2 covered by the dup 2-gram at 1

    val nb = spark.sql(
      "SELECT size(nibble_spread('00000000000000ff')) AS n").head.getInt(0)
    assert(nb == 16)

    val le = spark.sql(
      "SELECT size(lang_evidence('the cat and the dog')) AS n").head.getInt(0)
    assert(le > 0)
  }

  test("gram width must be a literal; arity is enforced") {
    val e1 = intercept[Exception](
      spark.sql("SELECT gram_stats(array('a'), 1 + col) FROM (SELECT 1 AS col)")
        .collect())
    assert(e1.getMessage.contains("integer literal"))
    val e2 = intercept[Exception](
      spark.sql("SELECT cosine_sim(array(1.0d))").collect())
    assert(e2.getMessage.contains("2 arguments"))
  }

  test("late-round kernels are registered and behave") {
    val lp = spark.sql("SELECT lang_pred(' the cat and the dog ') AS l")
      .head.getString(0)
    assert(lp == "en")
    val qs = spark.sql("SELECT quality_score('the cat sat on the mat') AS q")
      .head.getDouble(0)
    assert(qs > 0.0 && qs < 1.0)
    val gf = spark.sql(
      "SELECT round(gram_frac(array('a','b','a','b'), 2, false), 6) AS f")
      .head.getDouble(0)
    assert(gf == math.round(2.0 / 3.0 * 1e6) / 1e6)
    assert(spark.sql("SELECT gram_frac(array('x'), 2, true) AS f")
      .head.isNullAt(0))
  }

  test("the spark.sql.extensions config path can construct the class reflectively") {
    // the config deployment ('--conf spark.sql.extensions=...') requires
    // Spark to reflectively instantiate a public no-arg class and apply
    // it as SparkSessionExtensions => Unit — pin both properties so a
    // refactor can't silently break config-based deployments that this
    // suite (which uses withExtensions for suite-order robustness)
    // would not exercise
    val inst = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
    assert(inst.isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("register() adds the functions to an existing plain session") {
    val plain = spark.newSession()
    GraftExtensions.register(plain)
    assert(plain.sql("SELECT cosine_sim(array(1.0d), array(1.0d)) AS c")
      .head.getDouble(0) == 1.0)
  }
}
