package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Pins [[CanonicalSubset]] (string-level keep/drop of a canonical label
  * string — the dictionary-path group-key/matching-sig filter) to the
  * parse-then-rebuild formulation it replaces: byte-identical output for
  * every build-produced canonical, including separator/escape bytes in
  * label text, empty maps, empty values, and all-dropped subsets. */
class CanonicalSubsetSpec extends AnyFunSuite with SharedSpark {

  private val maps: Seq[Map[String, String]] = Seq(
    Map.empty[String, String],
    Map("a" -> "1"),
    Map("b" -> "", "a" -> "x"),
    Map("job" -> "router", "instance" -> "i-9", "zone" -> "zz"),
    Map("key" -> "val", "esc" -> ""),
    Map("same" -> "same", "samf" -> "x", "sam" -> "y"))

  private def checkParity(keep: Option[Seq[String]], drop: Seq[String]): Unit = {
    import spark.implicits._
    val df = maps.map(m => Tuple1(m)).toDF("labels")
      .withColumn("_lc", graft.model.Points.canonical(col("labels")))
    val viaMap = keep match {
      case Some(ks) => CanonicalLabels.keepColumn(
        Labels.fromCanonical(col("_lc")), ks)
      case None => CanonicalLabels.dropColumn(
        Labels.fromCanonical(col("_lc")), drop)
    }
    val viaString = keep match {
      case Some(ks) => CanonicalLabels.keepOnCanonical(col("_lc"), ks)
      case None => CanonicalLabels.dropOnCanonical(col("_lc"), drop)
    }
    val rows = df.select(col("_lc"), viaMap.as("m"), viaString.as("s")).collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"subset mismatch for _lc=${r.getString(0).replace('', '|')}")
    }
  }

  test("keep subsets match the map round trip byte-for-byte") {
    checkParity(Some(Nil), Nil) // empty keep: every entry dropped
    checkParity(Some(Seq("a")), Nil)
    checkParity(Some(Seq("job", "zone")), Nil)
    checkParity(Some(Seq("key", "esc")), Nil) // escaped keys
    checkParity(Some(Seq("same", "sam")), Nil) // prefix-colliding keys
    checkParity(Some(Seq("absent")), Nil)
  }

  test("drop subsets match the map round trip byte-for-byte") {
    checkParity(None, Nil) // drop nothing: identity on the canonical
    checkParity(None, Seq("a"))
    checkParity(None, Seq("instance", "zone"))
    checkParity(None, Seq("key"))
    checkParity(None, Seq("same", "samf", "sam", "absent"))
  }

  test("canonical of the fromCanonical round trip is the identity (the droppedNameSig premise)") {
    import spark.implicits._
    val df = maps.map(m => Tuple1(m)).toDF("labels")
      .withColumn("_lc", graft.model.Points.canonical(col("labels")))
      .withColumn("_rt", graft.model.Points.canonical(
        Labels.fromCanonical(col("_lc"))))
    df.collect().foreach(r => assert(r.getString(1) == r.getString(2)))
  }
}
