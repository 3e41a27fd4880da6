package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** Optimized Product Quantization (Ge et al., CVPR 2013): the learned
  * orthogonal rotation before the PQ subspace split — plumbing
  * equivalences, the distortion/recall lift on anisotropic data (the
  * case OPQ exists for), and the IvfIndex OPQ generation lifecycle. */
class OpqSpec extends AnyFunSuite with SharedSpark {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("rotate_vec generated code COMPILES (no silent interpreter fallback)") {
    // regression pin for the r14 codegen defect: the kernel was named
    // `apply`, TreeNode.apply(Int) suppressed the companion's static
    // forwarder, Janino failed to resolve the generated call and every
    // rotation projection fell back to interpreter mode. Generating the
    // projection DIRECTLY (no fallback wrapper) throws if that ever
    // regresses, and the generated result must equal the interpreted
    // kernel's bit-for-bit.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val dims = 8
    val flat = Similarity.fixedRotation(dims).flatten
    val expr = RotateVec(
      BoundReference(0, ArrayType(DoubleType, containsNull = false),
        nullable = false), flat, dims)
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(Seq(expr))
    val in = ArrayData.toArrayData(Array.tabulate(dims)(_ + 0.5))
    val generated = proj(InternalRow(in)).getArray(0)
    val interpreted = RotateVec.rotate(flat, dims,
      ArrayData.toArrayData(Array.tabulate(dims)(_ + 0.5)))
    (0 until dims).foreach(i =>
      assert(generated.getDouble(i) == interpreted.getDouble(i)))
  }

  test("fixedRotation is a signed permutation: orthogonal and exactly representable") {
    val r = Similarity.fixedRotation(64)
    // each row holds exactly one ±1 (exactly representable; the SQL
    // oracle prints it verbatim), and distinct rows hit distinct columns
    val moves = r.map { row =>
      assert(row.count(_ != 0.0) == 1)
      val e = row.indexWhere(_ != 0.0)
      assert(row(e) == 1.0 || row(e) == -1.0)
      e
    }
    assert(moves.distinct.length == 64, "not a permutation")
    // R·Rᵀ = I exactly (±1 entries, no rounding anywhere)
    for (a <- 0 until 64; b <- 0 until 64) {
      val dot = (0 until 64).map(j => r(a)(j) * r(b)(j)).sum
      assert(dot == (if (a == b) 1.0 else 0.0), s"RRᵀ[$a][$b] = $dot")
    }
  }

  test("opqTopK is exactly pqTopK over pre-rotated inputs") {
    val rot = Similarity.fixedRotation(64)
    val cbs = Similarity.fixedCodebooks(4, 8, 16)
    val q = emb.where(col("vec_id") < 10)
    def rotated(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      RotateVec.column(col("embedding").cast("array<double>"), rot).as("embedding"))
    assert(Similarity.opqTopK(emb, q, 3, rot, cbs).collect().map(_.toSeq).toSet ==
      Similarity.pqTopK(rotated(emb), rotated(q), 3, cbs).collect().map(_.toSeq).toSet)
  }

  /** Deterministic anisotropic corpus: the energy lives in the FIRST
    * subspace's dims (the worst case for a fixed split — three of the
    * four subquantizers see near-zero variance), built from md5 bytes so
    * the fixture has no RNG state. */
  private def anisotropic(n: Int, dims: Int, hot: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def u(i: Int, d: Int): Double = {
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"an:$i:$d").substring(0, 4)
      (Integer.parseInt(hex, 16) - 32768) / 32768.0
    }
    (0 until n).map { i =>
      (i.toLong, (0 until dims).map(d =>
        if (d < hot) u(i, d) else 0.01 * u(i, d)).toArray.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("learned rotation lowers PQ distortion and lifts ADC recall on anisotropic data") {
    val df = anisotropic(300, 16, 4) // all the energy in subspace 0 of 4
    val m = 4; val ks = 4
    val identity = Array.tabulate(16, 16)((a, b) => if (a == b) 1.0 else 0.0)
    val plainCbs = Similarity.trainCodebooks(df, m, ks, iters = 5, trainLimit = 300)
    val (rot, opqCbs) = Opq.train(df, m, ks, iters = 10, trainLimit = 300)
    // the rotation is orthogonal (RRᵀ ≈ I) — an isometry, so the exact
    // geometry it is judged against is untouched
    for (a <- 0 until 16; b <- 0 until 16) {
      val dot = (0 until 16).map(j => rot(a)(j) * rot(b)(j)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9, s"RRᵀ[$a][$b]=$dot")
    }
    // OPQ's objective: strictly lower quantization error than the fixed
    // split — the learned rotation spreads the one hot subspace's energy
    // across all four subquantizers
    val d0 = Opq.distortion(df, identity, plainCbs, trainLimit = 300)
    val d1 = Opq.distortion(df, rot, opqCbs, trainLimit = 300)
    assert(d1 < d0 * 0.9,
      s"learned rotation did not materially lower distortion: $d0 -> $d1")
    // and the payoff metric: ADC recall@5 against exact cosine
    val q = df.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(df, q, 5)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double = {
      val rows = Similarity.recallAtK(approx, exact).collect()
      rows.map(_.getAs[Double]("recall")).sum / rows.length
    }
    val plain = meanRecall(Similarity.pqTopK(df, q, 5, plainCbs))
    val opq = meanRecall(Similarity.opqTopK(df, q, 5, rot, opqCbs))
    assert(opq >= plain,
      s"learned rotation lost recall: plain=$plain opq=$opq")
    assert(opq > 0.0 && opq <= 1.0)
  }

  test("IvfIndex OPQ generation: appends equal the immutable OPQ build; retrain re-learns the rotation") {
    val cents = Similarity.fixedCentroids(8, 64)
    val cbs = Similarity.fixedCodebooks(4, 8, 16)
    val rot = Similarity.fixedRotation(64)
    val dir = Files.createTempDirectory("ivf_opq").toString + "/idx"
    IvfIndex.init(spark, dir, cents, Some(cbs), Some(rot))
    (0 until 2).foreach(b => IvfIndex.append(
      emb.where(col("vec_id") % 2 === b), dir, s"o$b"))
    val q = emb.where(col("vec_id") < 10)
    // the appendable OPQ index answers exactly like the immutable
    // ivfPqBuild with the same rotation (codes + LUTs both rotated)
    val ctl = Files.createTempDirectory("ivf_opq_ctl").toString
    Similarity.ivfPqBuild(emb, ctl, cents, cbs, Some(rot))
    def resultSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfPqSearch(spark, ctl, q, 3, nProbe = 3)))
    // ...and differs from the UNROTATED coding (the rotation is real)
    val ctl2 = Files.createTempDirectory("ivf_opq_ctl2").toString
    Similarity.ivfPqBuild(emb, ctl2, cents, cbs)
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3)) !=
      resultSet(Similarity.ivfPqSearch(spark, ctl2, q, 3, nProbe = 3)))
    // retrain RE-LEARNS rotation and codebooks together (Opq.train on the
    // bounded sample) and the new generation stays build-equivalent
    IvfIndex.retrain(spark, dir, k = 8, iters = 2, trainLimit = 500)
    val newRot = IvfIndex.rotation(spark, dir).get
    val newCbs = IvfIndex.codebooks(spark, dir).get
    assert(newRot.flatten.toSeq != rot.flatten.toSeq, "rotation did not re-learn")
    val ctl3 = Files.createTempDirectory("ivf_opq_ctl3").toString
    Similarity.ivfPqBuild(emb, ctl3, IvfIndex.centroids(spark, dir),
      newCbs, Some(newRot))
    assert(resultSet(IvfIndex.searchPq(spark, dir, q, 3, nProbe = 3)) ==
      resultSet(Similarity.ivfPqSearch(spark, ctl3, q, 3, nProbe = 3)))
    // the exact re-rank is rotation-agnostic (cosine over raw vectors)
    assert(IvfIndex.searchPqRerank(spark, dir, q, 3, shortlist = 12,
      nProbe = 3).count() == 30)
  }
}
