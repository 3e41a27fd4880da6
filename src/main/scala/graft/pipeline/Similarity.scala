package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[cosine]] / [[bruteForceTopK]]: the exact baseline. The fold is a pure
  *   codegen'd higher-order function (zip_with + aggregate in doubles, left
  *   fold — bit-stable and oracle-reproducible); the query side is expected
  *   to be a bounded set that Spark broadcasts, so the scan of the corpus
  *   stays single-pass and shuffle-free until the per-query top-k.
  * - [[lshBuckets]] / [[annTopK]]: the scale path — random-hyperplane LSH.
  *   Planes are derived deterministically from md5, so the bucketing is
  *   reproducible across engines and runs (no RNG state on executors).
  *   Probing joins only same-bucket rows: candidate count ≈ corpus / 2^bits
  *   per query, independent of total corpus size per bucket on average.
  */
object Similarity {

  /** Cosine similarity with fixed association dot / (norm(a) * norm(b)).
    * Evaluated by the native [[CosineSim]] codegen expression — same IEEE
    * operation order as the HOF formulation `dot(a, b) / (norm(a) *
    * norm(b))`, one static call per row instead of three interpreted
    * folds (the all-pairs verify shapes are cosine-bound). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(CosineSim(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Default cap on the QUERY side of the top-k operators. These APIs are
    * built around a bounded query set — brute force joins it against every
    * corpus row, ANN multiplies it by `probes`, PQ broadcasts it WITH its
    * M×Ks LUT columns — so a caller passing a corpus-sized frame as
    * `queries` would not get a slow plan, it would get a broadcast OOM (or
    * an accidental all-pairs scan). 100k × (64-dim double + LUT) ≈ low
    * hundreds of MB broadcast: the safe ceiling for default executor
    * memory. Raise it deliberately via the `maxQueryRows` parameter.
    *
    * Query-frame CONTRACT (whole family): one row per `vec_id`. A frame
    * carrying duplicate ids with DIFFERENT embeddings mixes both vectors'
    * scores under one qid in every top-k operator (the per-query window
    * ranks all of a qid's candidate rows together); identical-embedding
    * duplicates merely duplicate join work. Dedup upstream. */
  val DefaultMaxQueryRows: Long = 100000L

  /** Fail FAST (one bounded `limit(max+1)` count — never a full count of
    * an unboundedly large frame) when the query side exceeds the cap. */
  private def requireBounded(queries: DataFrame, maxRows: Long, op: String): DataFrame = {
    val probe = math.min(maxRows, Int.MaxValue - 8L).toInt
    val n = queries.limit(probe + 1).count()
    require(n <= maxRows, boundMsg(op, maxRows))
    queries
  }

  private def boundMsg(op: String, maxRows: Long): String =
    s"Similarity.$op: query set exceeds maxQueryRows=$maxRows (the query " +
      "side is broadcast / candidate-multiplied by construction; a " +
      "corpus-sized query frame would OOM, not just run slow). Swap the " +
      "sides, batch the queries (IvfIndex.searchBatched/searchPqBatched " +
      "iterate bounded slices), or raise maxQueryRows deliberately — the " +
      "bounded query frame is materialized on the DRIVER (it feeds the " +
      "broadcast build and the probe-set literals), so budget a raised " +
      "cap at a FEW MULTIPLES of rows × nProbe × (dims + LUT entries) × " +
      "8 B in driver memory (local relation + broadcast build coexist)."

  /** [[requireBounded]] that also MATERIALIZES the bounded frame's rows on
    * the driver: one incremental `take(max + 1)` both enforces the cap
    * (fail-fast, bounded fetch — take scales partitions up gradually, it
    * never collects an unbounded frame) and lands the rows where the
    * search paths need them anyway — the query side of every top-k
    * operator is BROADCAST, and a broadcast build collects to the driver
    * regardless. Callers derive the bound check, the probe-cell set AND
    * the broadcast join side from this ONE materialization (r14 removed
    * the {bounded count, localCheckpoint, distinct().collect()} trio; r15
    * moves the probe-cell expansion itself onto the driver —
    * [[probedLocalFlat]]/[[probedLocalLut]] — so the plan-side explode +
    * second collect job per search are gone too). */
  private[pipeline] def takeBounded(queries: DataFrame, maxRows: Long,
                                    op: String): Array[org.apache.spark.sql.Row] = {
    val probe = math.min(maxRows, Int.MaxValue - 8L).toInt
    val rows = queries.take(probe + 1)
    require(rows.length <= maxRows, boundMsg(op, maxRows))
    rows
  }

  /** Local relation over driver rows (broadcast-ready, plans as a
    * LocalTableScan — a job-free broadcast build). */
  private[pipeline] def localRelation(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // ---- driver-side probe expansion ---------------------------------------
  //
  // The persisted-search paths need, per bounded query row, its nProbe
  // probe cells — to build the literal partition-pruning predicate AND the
  // exploded broadcast join side. r14 computed the explode in a PLAN over
  // the localized frame and collect()ed the exploded (rows × nProbe)
  // result: one extra Spark job per search, with qe (and LUT riders)
  // duplicated nProbe× through the job-result transfer. The expansion is a
  // pure function of the collected rows, so it now runs ON THE DRIVER,
  // calling the SAME static kernels the plan-side assignment codegen calls
  // ([[NearestCells.nearest]], [[SubDists.dists]], [[RotateVec.rotate]]) —
  // bit-identical doubles and tie-breaks by construction, zero jobs.

  /** qe → nProbe nearest cell ids, nearest first — the driver-side twin of
    * `explode(NearestCells.column(qe, centroids, nProbe))`. */
  private[pipeline] def cellProbeLocal(centroids: Array[Array[Double]],
      nProbe: Int): Array[Double] => Array[Int] = {
    val dims = if (centroids.isEmpty) 0 else centroids(0).length
    val flat = flatOf(centroids, dims)
    qe => NearestCells.nearest(flat, dims,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(qe), nProbe, 0)
      .toIntArray()
  }

  /** qe → nProbe nearest IMI cell PAIRS by half-distance sum (du + dv,
    * ties by cell id) — the driver-side twin of [[imiProbedCells]]'s
    * (pd asc, cell asc) row_number window: same [[SubDists]] doubles, and
    * `java.lang.Double.compare` orders NaN greatest exactly like the
    * window sort (distances are sums of squares, so -0.0 cannot occur). */
  private[pipeline] def imiProbeLocal(codebooks: Array[Array[Array[Double]]],
      nProbe: Int): Array[Double] => Array[Int] = {
    require(codebooks.length == 2,
      s"IMI quantizes exactly two half-spaces, got ${codebooks.length}")
    val ks = codebooks(1).length
    val sub0 = codebooks(0)(0).length
    val sub1 = codebooks(1)(0).length
    val flat0 = flatOf(codebooks(0), sub0)
    val flat1 = flatOf(codebooks(1), sub1)
    qe => {
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(qe)
      val du = SubDists.dists(flat0, sub0, 0, ad).toDoubleArray()
      val dv = SubDists.dists(flat1, sub1, sub0, ad).toDoubleArray()
      val cells = new Array[Int](du.length * dv.length)
      val pds = new Array[Double](cells.length)
      var i = 0
      var u = 0
      while (u < du.length) {
        var v = 0
        while (v < dv.length) {
          cells(i) = u * ks + v
          pds(i) = du(u) + dv(v)
          v += 1; i += 1
        }
        u += 1
      }
      val order = Array.range(0, cells.length).sortWith { (a, b) =>
        val c = java.lang.Double.compare(pds(a), pds(b))
        if (c != 0) c < 0 else cells(a) < cells(b)
      }
      order.take(math.min(nProbe, cells.length)).map(cells)
    }
  }

  /** qe → M per-subspace ADC LUT arrays over the (optionally rotated)
    * query — the driver-side twin of [[adcLutColumns]] ∘ [[rotatedCol]]. */
  private[pipeline] def adcLutLocal(codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]])
      : Array[Double] => Array[Array[Double]] = {
    val subDims = codebooks(0)(0).length
    val flats = codebooks.map(flatOf(_, subDims))
    val rotFlat = rotation.map { m =>
      val dims = m.length
      val f = new Array[Double](dims * dims)
      var i = 0
      while (i < dims) { System.arraycopy(m(i), 0, f, i * dims, dims); i += 1 }
      (f, dims)
    }
    qe => {
      val base = new org.apache.spark.sql.catalyst.util.GenericArrayData(qe)
      val src = rotFlat match {
        case Some((f, dims)) => RotateVec.rotate(f, dims, base)
        case None => base
      }
      flats.zipWithIndex.map { case (f, mm) =>
        SubDists.dists(f, subDims, mm * subDims, src).toDoubleArray()
      }
    }
  }

  private def flatOf(m: Array[Array[Double]], width: Int): Array[Double] = {
    val out = new Array[Double](m.length * width)
    var i = 0
    while (i < m.length) { System.arraycopy(m(i), 0, out, i * width, width); i += 1 }
    out
  }

  /** Exploded-query local relation for the FLAT-payload searches: per
    * bounded (qid, qe) row, one (qid, qe, cell) row per probe cell —
    * built entirely on the driver — plus the distinct probed-cell set for
    * the literal pushdown predicate. Null embeddings expand to no cells,
    * exactly like the plan-side `explode` of a null assignment array. */
  private[pipeline] def probedLocalFlat(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      probe: Array[Double] => Array[Int]): (DataFrame, Seq[Int]) = {
    val qeIdx = schema.fieldIndex("qe")
    val out = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val exploded = rows.flatMap { r =>
      if (r.isNullAt(qeIdx)) Array.empty[org.apache.spark.sql.Row]
      else probe(r.getSeq[Double](qeIdx).toArray).map(c =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c))
    }
    (localRelation(spark, exploded, out),
      exploded.map(_.getInt(out.fieldIndex("cell"))).distinct.toSeq)
  }

  /** Exploded-query local relation for the ADC searches: per bounded
    * (qid, qe) row, one (qid, d_0..d_{M-1}, cell) row per probe cell —
    * the LUTs computed ONCE per query on the driver, qe dropped (the ADC
    * scorer probes tables, never the raw vector). */
  private[pipeline] def probedLocalLut(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      probe: Array[Double] => Array[Int],
      lut: Array[Double] => Array[Array[Double]],
      nLut: Int): (DataFrame, Seq[Int]) = {
    val qidIdx = schema.fieldIndex("qid")
    val qeIdx = schema.fieldIndex("qe")
    val out = org.apache.spark.sql.types.StructType(
      schema.fields(qidIdx) +:
        (0 until nLut).map(mm => org.apache.spark.sql.types.StructField(s"d_$mm",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false))) :+
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    val probedAll = Seq.newBuilder[Int]
    val exploded = rows.flatMap { r =>
      if (r.isNullAt(qeIdx)) Array.empty[org.apache.spark.sql.Row]
      else {
        val qe = r.getSeq[Double](qeIdx).toArray
        val tables = lut(qe).map(_.toSeq)
        probe(qe).map { c =>
          probedAll += c
          org.apache.spark.sql.Row.fromSeq(r.get(qidIdx) +: tables :+ c)
        }
      }
    }
    (localRelation(spark, exploded, out), probedAll.result().distinct)
  }

  /** Evaluate a bounded (by construction) frame ONCE and return it as a
    * broadcast-ready local relation plus its rows — the collect-once
    * discipline for probe-set frames whose values feed both a literal
    * pushdown predicate and the broadcast join side. */
  private[pipeline] def localized(df: DataFrame)
      : (DataFrame, Array[org.apache.spark.sql.Row]) = {
    val rows = df.collect()
    (df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema), rows)
  }

  /** The one per-query ranking tail every top-k operator shares: rank
    * by (`scoreCol` desc-or-asc, cid asc) within qid, keep k, round the
    * score to 6 — WindowGroupLimit bounds per-partition state to k rows
    * before the qid exchange. Kept in ONE place so the deterministic
    * tie-break and rounding can never diverge between operators (or
    * from the gate oracles that reproduce them). */
  private[pipeline] def rankTopK(scored: DataFrame, scoreCol: String,
                                 ascending: Boolean, k: Int): DataFrame = {
    val ord = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(ord, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"),
        round(col(scoreCol), 6).as(scoreCol), col("rank"))
  }

  /** Exact top-k neighbours for each query vector (queries: (vec_id,
    * embedding)). Output: (qid, cid, cos, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val q = requireBounded(queries, maxQueryRows, "bruteForceTopK")
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
    val c = corpus.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("ce"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    rankTopK(scored, "cos", ascending = false, k)
  }

  /** Deterministic pseudo-random ±1 hyperplane component for (plane, dim):
    * the top bit of the first md5 nibble of "p:d". Driver-computable, so
    * an external oracle can bake the same signs into SQL. */
  private[graft] def planeSign(p: Int, d: Int): Double =
    if ((Integer.parseInt(org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$p:$d").substring(0, 1), 16) & 0x8) != 0) 1.0
    else -1.0

  /** Signed projection of `embedding` onto deterministic plane `p`. */
  private def planeProj(embedding: Column, p: Int, dims: Int): Column =
    (0 until dims).map(d =>
      element_at(embedding, d + 1) * lit(planeSign(p, d))).reduce(_ + _)

  /** Bucket id = `bits`-bit signature of sign(plane·v). */
  def lshBucket(embedding: Column, bits: Int, dims: Int): Column =
    (0 until bits).map { p =>
      when(planeProj(embedding, p, dims) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBuckets(corpus: DataFrame, bits: Int = 8, dims: Int = 64): DataFrame =
    corpus.select(col("vec_id"),
      lshBucket(asDouble(col("embedding")), bits, dims).as("bucket"),
      asDouble(col("embedding")).as("e"))

  /** Approximate top-k: exact cosine, but only within the query's probed
    * LSH buckets. `probes` = 1 searches the query's own bucket; larger
    * values ADD the buckets reached by flipping the `probes - 1` bits
    * whose hyperplane margin |plane·q| is smallest — the classic
    * multi-probe refinement: a near-zero margin means the true neighbours
    * straddle that plane, so its flip-bucket is the likeliest to hold the
    * missed ones. Probing multiplies only the QUERY side (corpus rows
    * stay in exactly one bucket, so candidates never duplicate), and
    * recall rises without re-hashing or densifying the corpus. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 8, dims: Int = 64, probes: Int = 1,
              maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val c = lshBuckets(corpus, bits, dims)
      .select(col("bucket"), col("vec_id").as("cid"), col("e").as("ce"))
    val qb = requireBounded(queries, maxQueryRows, "annTopK")
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
      .withColumn("bucket", lshBucket(col("qe"), bits, dims))
    val own = qb.select(col("bucket"), col("qid"), col("qe"))
    val q =
      if (probes <= 1) own
      else {
        val margins = array((0 until bits).map(p =>
          abs(planeProj(col("qe"), p, dims))): _*)
        val flips = qb
          .select(col("qid"), col("qe"), col("bucket"),
            posexplode(margins).as(Seq("p", "m")))
          .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
              .orderBy(col("m").asc, col("p").asc)))
          .where(col("rk") <= probes - 1)
          .select(col("bucket").bitwiseXOR(
            org.apache.spark.sql.functions.expr("shiftleft(CAST(1 AS BIGINT), p)")).as("bucket"),
            col("qid"), col("qe"))
        own.unionByName(flips)
      }
    val scored = q.join(c, Seq("bucket")).where(col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    rankTopK(scored, "cos", ascending = false, k)
  }

  /** IVF (inverted-file) ANN: a deterministic k-means coarse quantizer
    * assigns every vector to its nearest centroid; queries probe the
    * `nProbe` nearest centroid cells and run exact cosine inside them.
    * Centroids are trained with a few Lloyd iterations seeded by the
    * first `k` vectors in vec_id order (deterministic — no RNG state).
    *
    * Scale shape: training touches a bounded `trainLimit` sample (Lloyd
    * refinement does not need the full corpus — a fixed-size sample gives
    * the same cell geometry at a fraction of the passes), assignment is
    * one broadcast-join pass, probing joins only the selected cells —
    * candidate volume ≈ corpus × nProbe / k per query, independent of
    * corpus growth when k scales with sqrt(N). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
              k: Int = 16, nProbe: Int = 4, iters: Int = 5,
              trainLimit: Int = 100000,
              maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    requireBounded(queries, maxQueryRows, "ivfTopK") // before paying training
    ivfProbe(corpus, queries, topK,
      trainCentroids(corpus, k, iters, trainLimit), nProbe, maxQueryRows)
  }

  /** The cell count a corpus of `corpusSize` vectors should quantize
    * into — k ≈ √n, the standard IVF sizing (Jégou et al. TPAMI 2011
    * §V use k ∈ {√n .. 4√n}); it is ALSO the knob that keeps SemDeDup's
    * per-cell quadratic work in check: the cosine pass inside
    * [[semDeDup]] / [[semDeDupIncremental]] costs Σ(cell size²) ≈ n²/k
    * pairs, so k = √n bounds it at n^1.5 — a billion vectors at the
    * default k=16 would be 6×10¹⁶ pairs, at k=√n ≈ 31623 it is 3×10¹³
    * spread across every executor. Use this when building the quantizer
    * for a real corpus ([[trainCentroids]]'s and [[IvfIndex.init]]'s
    * small defaults are gate/spec scale):
    * `trainCentroids(corpus, k = autoCellCount(n))`. */
  def autoCellCount(corpusSize: Long, minK: Int = 16,
                    maxK: Int = 1 << 18): Int =
    math.max(minK, math.min(maxK.toLong,
      math.round(math.sqrt(corpusSize.toDouble.max(0.0))))).toInt

  /** Lloyd's k-means coarse quantizer over a bounded training sample —
    * the driver holds k × dims doubles only; each iteration is one
    * broadcast assignment pass + one k-row aggregation. The k=16 default
    * is GATE SCALE: size a production quantizer with [[autoCellCount]]
    * (k ≈ √n), which also bounds SemDeDup's per-cell quadratic work. */
  def trainCentroids(corpus: DataFrame, k: Int = 16, iters: Int = 5,
                     trainLimit: Int = 100000): Array[Array[Double]] = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    // materialize the bounded sample ONCE: without this every Lloyd
    // iteration (and the seed read) re-ran the orderBy+limit over the
    // FULL corpus — iters+1 corpus passes to refine on a fixed
    // trainLimit-row sample (guide §1.2: don't compute things you throw
    // away). One corpus pass now feeds every iteration.
    val sample = c.orderBy(col("vec_id")).limit(trainLimit).localCheckpoint()
    val seedSrc = if (k <= trainLimit) sample else c // degenerate k: old path
    var centroids: Array[Array[Double]] = seedSrc.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 0 until iters) {
      val assigned = sample.withColumn("cell", NearestCells.cell(col("e"), centroids))
      val next = assigned.groupBy(col("cell"))
        .agg(array((0 until centroids(0).length).map(d =>
          avg(element_at(col("e"), d + 1))): _*).as("mean"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap
      centroids = centroids.indices
        .map(i => next.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  // ---- persisted IVF index ------------------------------------------------

  /** Build a PERSISTED IVF index at `dir`: the coarse quantizer lands as
    * a k-row parquet (`centroids/`) and every corpus vector is assigned
    * once and written PARTITIONED BY CELL (`cells/cell=<i>/…`). That
    * physical layout is the ANN scale story: a search probing `nProbe`
    * of k cells lists and scans ONLY those cells' directories (Catalyst
    * partition pruning — asserted on the plan in CI), so query cost
    * tracks nProbe/k of the corpus instead of all of it, and the
    * one-time assignment cost amortizes over every query batch — the
    * persisted counterpart of [[ivfTopK]], which re-trains and re-assigns
    * per call. Rebuilds are atomic-enough at directory grain: build into
    * a fresh dir and flip the caller's pointer (the index is immutable
    * once built). */
  def ivfBuild(corpus: DataFrame, dir: String,
               centroids: Array[Array[Double]]): Unit = {
    val spark = corpus.sparkSession
    // quantizer metadata: direct driver parquet write, no job
    QuantizerFiles.writeIntVec(spark, s"$dir/centroids", "cell", "c",
      centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("cell", NearestCells.cell(col("e"), centroids))
      .select(col("cell"), col("vec_id").as("cid"), col("e").as("ce"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** [[ivfBuild]] with a freshly trained quantizer. */
  def ivfBuildTrained(corpus: DataFrame, dir: String, k: Int = 16,
                      iters: Int = 5, trainLimit: Int = 100000): Unit =
    ivfBuild(corpus, dir, trainCentroids(corpus, k, iters, trainLimit))

  /** Search a persisted IVF index: queries (bounded) assign to their
    * `nProbe` nearest cells against the stored quantizer, the cells
    * relation is read WITH a literal cell-set predicate (partition
    * pruning — only probed directories are listed/scanned), and exact
    * cosine top-k runs inside the joined cells. Output is identical to
    * [[ivfProbe]] over the same centroids. */
  def ivfSearch(spark: org.apache.spark.sql.SparkSession, dir: String,
                queries: DataFrame, topK: Int, nProbe: Int = 4,
                maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    // k×dims quantizer metadata — direct driver read ([[QuantizerFiles]])
    val centroids = QuantizerFiles.readIntVec(spark, s"$dir/centroids")
    // ONE driver materialization of the bounded query side (the bytes a
    // broadcast build would land on the driver anyway): bound check,
    // probe-cell assignment (driver-side, same kernel), probe set and
    // join side all derive from it — zero further jobs
    val qFrame = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
    val rows = takeBounded(qFrame, maxQueryRows, "ivfSearch")
    val (q, probed) = probedLocalFlat(spark, rows, qFrame.schema,
      cellProbeLocal(centroids, nProbe))
    val cells = spark.read.parquet(s"$dir/cells")
      .where(col("cell").isInCollection(probed)) // literal → partition pruning
    val scored = q.join(cells, Seq("cell")).where(col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    rankTopK(scored, "cos", ascending = false, topK)
  }

  /** Assignment + probe against a GIVEN coarse quantizer: one broadcast
    * pass assigns cells, queries explode to their `nProbe` nearest cells,
    * and exact cosine runs inside the joined cells only. */
  def ivfProbe(corpus: DataFrame, queries: DataFrame, topK: Int,
               centroids: Array[Array[Double]], nProbe: Int,
               maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val cells = c.withColumn("cell", NearestCells.cell(col("e"), centroids))
      .select(col("cell"), col("vec_id").as("cid"), col("e").as("ce"))
    val q = requireBounded(queries, maxQueryRows, "ivfProbe")
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
      .withColumn("cell", explode(NearestCells.column(col("qe"), centroids, nProbe)))
    val scored = q.join(cells, Seq("cell")).where(col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    rankTopK(scored, "cos", ascending = false, topK)
  }

  /** Deterministic fixed centroid grid for the oracle-gated probe test:
    * component (i, d) = (md5Byte("c:i:d") - 128) / 128 — exactly
    * representable (denominator 2^7), so its decimal rendering re-parses
    * to the identical double in any SQL engine and the argmin distance
    * fold matches bit-for-bit. */
  def fixedCentroids(k: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(k, dims) { (i, d) =>
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"c:$i:$d").substring(0, 2)
      (Integer.parseInt(hex, 16) - 128) / 128.0
    }

  // ---- inverted multi-index (Babenko & Lempitsky, CVPR 2012) --------------

  /** Two-level coarse-quantizer cell — the INVERTED MULTI-INDEX (Babenko
    * & Lempitsky, "The inverted multi-index", CVPR 2012): the embedding
    * splits into two halves, each half takes its own K-entry codebook
    * argmin (the [[trainCodebooks]]/[[fixedCodebooks]] M=2 product shape,
    * so fixed oracle grids and Lloyd training come for free), and the
    * cell id is the PAIR (u, v) → u·K + v. K² effective cells cost 2K
    * distance evaluations per vector where a flat quantizer pays K² —
    * the quadratic→linear assignment saving that makes √n-sized cell
    * counts affordable on the CORPUS side at billion-vector scale
    * (k_eff = 2¹⁸ is two 512-entry [[NearestCells]] argmins per vector
    * instead of a 262144-centroid scan). */
  def imiCell(e: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    require(codebooks.length == 2,
      s"imiCell: IMI quantizes exactly two half-spaces, got ${codebooks.length}")
    val ks = codebooks(1).length
    val sub0 = codebooks(0)(0).length
    // offset reads instead of slice(): no per-row half-array copies on
    // the corpus-side assignment (identical doubles — the kernel reads
    // the same elements at an offset)
    NearestCells.cellAt(e, codebooks(0), 0) * lit(ks) +
      NearestCells.cellAt(e, codebooks(1), sub0)
  }

  /** IMI probe — [[ivfProbe]]'s contract (and output) over the two-level
    * quantizer: corpus rows assign by [[imiCell]] (2K evaluations), and
    * queries rank CELL PAIRS by du(u) + dv(v) — the sum of the two
    * half-space distances, the multi-index candidate ordering — probing
    * the `nProbe` nearest pairs; exact cosine runs inside the joined
    * cells. The pair ranking materializes K² (cell, distance) rows per
    * query ON THE BOUNDED QUERY SIDE only, with WindowGroupLimit capping
    * per-partition state at nProbe before the exchange (the paper's
    * multi-sequence algorithm enumerates the same order lazily — the
    * known refinement if K² per bounded query ever dominates; the corpus
    * side, the one that scales with data, never sees the pairs). */
  def imiProbe(corpus: DataFrame, queries: DataFrame, topK: Int,
               codebooks: Array[Array[Array[Double]]], nProbe: Int,
               maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val cells = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("cell", imiCell(col("e"), codebooks))
      .select(col("cell"), col("vec_id").as("cid"), col("e").as("ce"))
    val qb = requireBounded(queries, maxQueryRows, "imiProbe")
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
    val q = imiProbedCells(qb, codebooks, nProbe)
    val scored = q.join(cells, Seq("cell")).where(col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    rankTopK(scored, "cos", ascending = false, topK)
  }

  /** The IMI probe-set expansion — adds `cell` rows for the `nProbe`
    * cell PAIRS nearest by half-distance sum (du + dv, ties by cell id)
    * to a bounded query frame carrying a `qe` column, PRESERVING every
    * other column (the PQ search rides its LUT columns through). The
    * two-level counterpart of `explode(NearestCells.column(...))` —
    * shared by [[imiProbe]] and [[IvfIndex]]'s IMI-quantized search
    * paths so the pair arithmetic exists once. */
  private[pipeline] def imiProbedCells(q: DataFrame,
      codebooks: Array[Array[Array[Double]]], nProbe: Int): DataFrame = {
    require(codebooks.length == 2,
      s"IMI quantizes exactly two half-spaces, got ${codebooks.length}")
    val ks = codebooks(1).length
    val sub0 = codebooks(0)(0).length
    // per-half squared distances of the query to each codebook entry —
    // the native [[SubDists]] kernel, whose loop IS the [[NearestCells]]
    // left-fold term order (bit-identical to the column-tree formulation
    // it replaces, which planned/codegen'd a ~14 KB literal tree per half)
    def halfDists(mm: Int, off: Int): Column =
      SubDists.column(col("qe"), codebooks(mm), off)
    // the K²-per-query pair explosion ranks a NARROW (qid, pd, cell)
    // projection only — rider columns (the PQ path's M×Ks LUT doubles)
    // would otherwise stream through every pair row; they join back onto
    // the ≤ nProbe survivors per query instead
    val pairs = q.select(col("qid"), col("qe"))
      .select(col("qid"), halfDists(1, sub0).as("_imi_dvs"),
        posexplode(halfDists(0, 0)).as(Seq("_imi_u", "_imi_du")))
      .select(col("qid"), col("_imi_u"), col("_imi_du"),
        posexplode(col("_imi_dvs")).as(Seq("_imi_v", "_imi_dv")))
      .withColumn("cell", col("_imi_u") * lit(ks) + col("_imi_v"))
      .withColumn("_imi_pd", col("_imi_du") + col("_imi_dv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("_imi_pd").asc, col("cell").asc)
    val probes = pairs.withColumn("_imi_cr", row_number().over(w))
      .where(col("_imi_cr") <= nProbe)
      .select(col("qid"), col("cell"))
    q.join(probes, Seq("qid")) // one row per qid in q — nProbe rows out
  }

  /** Cluster-stratified DIVERSITY sample — the k-means quota sampling of
    * training-data curation pipelines (cluster, then keep a fixed quota
    * per cluster): every vector assigns to its nearest centroid cell and
    * the `perCell` smallest md5-ranked ids survive per cell. The md5
    * rank is a deterministic within-cluster shuffle, so the kept set
    * spreads across the embedding space instead of mirroring the dense
    * clusters a uniform sample would oversample — and an external SQL
    * engine reproduces the exact selection.
    *
    * Scale shape: one narrow projection (the centroid assigner is a
    * codegen'd expression, centroids ride the stage binary) and ONE
    * cell-keyed window, with WindowGroupLimit bounding per-partition
    * state to perCell rows before the exchange. */
  def diversitySample(emb: DataFrame, centroids: Array[Array[Double]],
                      perCell: Int): DataFrame = {
    val assigned = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("cell", NearestCells.cell(col("e"), centroids))
      .withColumn("rk", md5(col("vec_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("rk"), col("vec_id"))
    assigned.withColumn("rn", row_number().over(w))
      .where(col("rn") <= perCell)
      .select(col("vec_id"), col("cell"), col("rn"))
  }

  /** INCREMENTAL [[diversitySample]]: maintain the cluster-stratified
    * quota sample as batches arrive. Per-cell keep-smallest-`perCell` by
    * (md5 rank, vec_id) is a SEMILATTICE — min-k of a union equals min-k
    * of incremental min-k's — so the persisted state after any batch
    * history equals the one-shot [[diversitySample]] over the union of
    * the data, regardless of batch boundaries (the gate shares the
    * one-shot oracle), and replayed batches converge naturally: merging
    * an already-folded batch is a set-union no-op, no markers needed.
    *
    * State is tiny (≤ k × perCell rows) and flips atomically: each merge
    * writes a fresh `state-<gen>/` directory and publishes it with one
    * commit ([[graft.sources.MarkerLog.IndexLog]]); a merge that finds the
    * state moved by a racing merge throws, publishing nothing (re-running
    * it converges). Superseded and unnamed state directories vacuum after
    * `graceMs`. Scale shape: the heavy side is
    * the BATCH (one codegen'd assignment projection + one cell-keyed
    * window with WindowGroupLimit); the state side is quota-bounded.
    * Returns the updated kept set (vec_id, cell, rn). */
  def diversitySampleIncremental(emb: DataFrame, dir: String,
                                 centroids: Array[Array[Double]],
                                 perCell: Int,
                                 graceMs: Long = 15 * 60 * 1000L): DataFrame = {
    import graft.sources.MarkerLog
    val spark = emb.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val log = new MarkerLog.IndexLog(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      "diversity sample", _.only(MarkerLog.StateDir).map(_._1).toSeq, Seq("state-*"))
    val current = log.state.only(MarkerLog.StateDir)
    val prev = current.map { case (g, _) =>
      spark.read.parquet(s"$dir/$g").select(col("vec_id"), col("cell"), col("rk"))
    }
    val batch = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("cell", NearestCells.cell(col("e"), centroids))
      .withColumn("rk", md5(col("vec_id").cast("string")))
      .select(col("vec_id"), col("cell"), col("rk"))
    val merged = prev.fold(batch)(_ unionByName batch).dropDuplicates("vec_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("rk"), col("vec_id"))
    val kept = merged.withColumn("rn", row_number().over(w))
      .where(col("rn") <= perCell)
      .localCheckpoint() // one merge pass feeds the write AND the return
    val next = s"state-${MarkerLog.freshName()}"
    MarkerLog.step("write", new org.apache.hadoop.fs.Path(root, next))(
      kept.write.mode("overwrite").parquet(s"$dir/$next"))
    val published = log.commit { (_, s) =>
      if (s.only(MarkerLog.StateDir) != current) None
      else Some(s.set(MarkerLog.StateDir, next, System.currentTimeMillis()))
    }
    if (published.isEmpty) throw new IllegalStateException(s"diversity sample at " +
      s"$dir: a concurrent merge moved the state — this batch published nothing; re-run it")
    log.vacuum(graceMs)
    kept.select(col("vec_id"), col("cell"), col("rn"))
  }

  // ---- product quantization (Jegou/Douze/Schmid, TPAMI 2011) -----------

  /** Train PQ codebooks on a bounded sample: [[trainCentroids]]' Lloyd
    * refinement run independently per `subDims`-wide subspace slice (the
    * paper's construction — the product structure is exactly that each
    * subquantizer trains on its own coordinates). Driver state is
    * m × ks × subDims doubles; each iteration is a broadcast assignment
    * pass over the bounded sample. */
  def trainCodebooks(corpus: DataFrame, m: Int, ks: Int, iters: Int = 5,
                     trainLimit: Int = 100000): Array[Array[Array[Double]]] = {
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    // ONE bounded materialization feeds every subspace's Lloyd passes:
    // each of the m inner trainCentroids calls used to re-scan the FULL
    // corpus per iteration — m × (iters + 1) corpus passes for a fixed
    // trainLimit-row sample. Now the corpus is read once.
    val sample = e.orderBy(col("vec_id")).limit(trainLimit).localCheckpoint()
    val dims = sample.select(size(col("e"))).head().getInt(0)
    require(dims % m == 0,
      s"trainCodebooks: $dims dims not divisible into $m subspaces")
    val subDims = dims / m
    (0 until m).map { mm =>
      trainCentroids(sample.select(col("vec_id"),
          slice(col("e"), mm * subDims + 1, subDims).as("embedding")),
        ks, iters, trainLimit)
    }.toArray
  }

  /** Deterministic fixed PQ codebooks for the oracle gate, the
    * [[fixedCentroids]] construction per subspace: subspace `mm`,
    * centroid `j`, component `d` = (md5Byte("pq:mm:j:d") - 128) / 128 —
    * exactly representable doubles whose decimal rendering re-parses
    * identically in any SQL engine. */
  def fixedCodebooks(m: Int, ks: Int, subDims: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, ks, subDims) { (mm, j, d) =>
      val hex = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"pq:$mm:$j:$d").substring(0, 2)
      (Integer.parseInt(hex, 16) - 128) / 128.0
    }

  /** The PQ code column for an `array<double>` embedding column: one
    * [[NearestCells]] argmin per `subDims`-wide subspace slice, the
    * codebooks riding the stage binary — THE one encode kernel every PQ
    * consumer shares ([[pqEncode]], [[ivfPqBuild]], [[IvfIndex]]). */
  private[pipeline] def pqCodesCol(e: Column,
      codebooks: Array[Array[Array[Double]]]): Column = {
    val subDims = codebooks(0)(0).length
    // offset reads instead of slice(): no M per-row subspace array
    // copies at encode time (identical doubles)
    array(codebooks.indices.map { mm =>
      NearestCells.cellAt(e, codebooks(mm), mm * subDims)
    }: _*)
  }

  /** Decode a persisted `(m, j, c)` codebooks parquet back into the
    * `[m][ks][subDims]` array — the one reader [[ivfPqSearch]] and
    * [[IvfIndex.codebooks]] share. Read DIRECTLY on the driver
    * ([[QuantizerFiles]]): the codebooks are bounded M×Ks×subDims
    * metadata the driver consumes (they ride into codegen'd expressions
    * as literals), so a distributed-job round trip per read was pure
    * scheduling overhead — several times per append/search. */
  private[pipeline] def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] =
    QuantizerFiles.readIntIntVec(spark, path)

  /** The per-query ADC lookup-table columns — one `array<double>` column
    * `d_mm` of the Ks exact subspace distances per subspace, over `src`
    * (default the `qe` column; the OPQ path passes the ROTATED query) —
    * computed by the native [[SubDists]] kernel with the same fixed
    * left-fold term order the old M×Ks scalar-column formulation
    * evaluated (bit-identical doubles; the external oracles reproduce
    * them unchanged). Shared by every ADC scorer ([[pqTopK]],
    * [[ivfPqSearch]], [[IvfIndex.searchPq]]): the gate-pinned table
    * arithmetic exists ONCE. The collapse from M×Ks scalar columns
    * (each a subDims-term literal tree — 4096 columns at production
    * M=16/Ks=256) to M kernel calls is what keeps LUT planning and
    * codegen O(M), not O(M·Ks·subDims) (guide §4). */
  private[pipeline] def adcLutColumns(
      codebooks: Array[Array[Array[Double]]],
      src: Column = col("qe")): Seq[Column] = {
    val subDims = codebooks(0)(0).length
    codebooks.indices.map(mm =>
      SubDists.column(src, codebooks(mm), mm * subDims).as(s"d_$mm"))
  }

  /** The ADC score: M table probes on `codes` against the broadcast
    * `d_mm` LUT arrays, summed in fixed order. `element_at(d_mm,
    * code+1)` reads the SAME double the old Ks-deep CASE chain selected
    * (codes are [[NearestCells]] argmins — always in [0, Ks)), in O(1)
    * per candidate instead of O(Ks) branch evaluations per candidate
    * row — the scan-side win at production Ks=256. */
  private[pipeline] def adcScoreCol(
      codebooks: Array[Array[Array[Double]]]): Column =
    codebooks.indices.map(mm =>
      element_at(col(s"d_$mm"), element_at(col("codes"), mm + 1) + 1))
      .reduceLeft(_ + _)

  /** Product-quantize the corpus: each vector becomes M small codes (one
    * argmin per `subDims`-wide subspace against that subspace's
    * codebook). Narrow and fully codegen'd — the [[NearestCells]] kernel
    * runs per subspace slice, the codebooks ride the stage binary. At
    * fleet scale this is the memory story for ANN: a 64-dim float vector
    * (256 B) compresses to M bytes of codes (64x at M=4), so a billion
    * vectors' codes fit where raw embeddings cannot. */
  def pqEncode(corpus: DataFrame,
               codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col("vec_id"),
      pqCodesCol(asDouble(col("embedding")), codebooks).as("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds its
    * M x Ks lookup table of exact subspace distances ONCE, then every
    * candidate is scored by M table probes on its codes — the scan reads
    * 4-byte codes, never raw embeddings, and the query side (LUT
    * included) broadcasts. Output (qid, cid, adist, rank), nearest
    * first; distances are approximate by construction (that is PQ), so
    * the gate pins the exact table arithmetic rather than recall. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             codebooks: Array[Array[Array[Double]]],
             maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val coded = pqEncode(corpus, codebooks)
      .select(col("vec_id").as("cid"), col("codes"))
    val q = requireBounded(queries, maxQueryRows, "pqTopK")
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
      .select(col("qid") +: adcLutColumns(codebooks): _*)
    val scored = broadcast(q).join(coded, col("qid") =!= col("cid"))
      .withColumn("adist", adcScoreCol(codebooks))
    rankTopK(scored, "adist", ascending = true, k)
  }

  // ---- optimized product quantization (Ge et al., CVPR 2013) ------------

  /** Deterministic fixed ORTHOGONAL rotation for the oracle gate: a
    * signed permutation — component d of the rotated vector is
    * `sign(d) · v[perm(d)]` with the permutation Fisher–Yates-derived
    * from md5("rotp:i") and the sign from md5("rots:d")'s top bit.
    * Exactly representable (±1 entries), trivially orthogonal, and an
    * external SQL engine reproduces the rotated components verbatim —
    * the [[fixedCentroids]] discipline for the rotation slot. The
    * LEARNED counterpart is [[Opq.train]]. */
  def fixedRotation(dims: Int): Array[Array[Double]] = {
    val perm = (0 until dims).toArray
    for (i <- dims - 1 to 1 by -1) {
      val hex = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"rotp:$i").substring(0, 8)
      val j = (java.lang.Long.parseLong(hex, 16) % (i + 1)).toInt
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    Array.tabulate(dims, dims) { (d, e) =>
      if (e != perm(d)) 0.0
      else if ((Integer.parseInt(org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"rots:$d").substring(0, 1), 16) & 0x8) != 0) 1.0
      else -1.0
    }
  }

  /** The signed-permutation view of [[fixedRotation]] — (source index,
    * sign) per output component, for oracle-SQL generation. */
  private[graft] def fixedRotationMoves(dims: Int): Array[(Int, Double)] =
    fixedRotation(dims).map { row =>
      val e = row.indexWhere(_ != 0.0)
      (e, row(e))
    }

  /** OPQ/ADC top-k: [[pqTopK]] after rotating BOTH sides with the given
    * orthogonal matrix ([[RotateVec]] — one codegen'd matrix–vector
    * product per row). Rotation is an isometry, so this approximates the
    * same euclidean geometry; the codebooks must have been trained in
    * the rotated space ([[Opq.train]] returns the consistent pair, and
    * [[fixedRotation]] + [[fixedCodebooks]] give the oracle-exact
    * fixture). Output (qid, cid, adist, rank), nearest first. */
  def opqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              rotation: Array[Array[Double]],
              codebooks: Array[Array[Array[Double]]],
              maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    def rotated(df: DataFrame): DataFrame = df.select(col("vec_id"),
      RotateVec.column(asDouble(col("embedding")), rotation).as("embedding"))
    pqTopK(rotated(corpus), rotated(queries), k, codebooks, maxQueryRows)
  }

  // ---- persisted IVF-PQ index (Jegou/Douze/Schmid §IV: IVFADC) ----------

  /** Build a persisted IVF-PQ index at `dir`: the [[ivfBuild]] layout —
    * coarse cells partitioned by directory, quantizer persisted — but
    * the cell rows store PQ CODES (`cid, codes`) instead of raw vectors.
    * This is the paper's IVFADC structure and the full ANN scale story
    * in one index: partition pruning bounds WHICH rows a query reads
    * (nProbe/k of the corpus) and product quantization bounds their
    * WIDTH (M small codes ≈ M bytes against dims×8 raw — 64-dim doubles
    * compress 128× at M=4), so a billion-vector index probes in a few
    * MB of I/O. Codebooks persist alongside, making search
    * self-contained. Immutable once built (rebuild = fresh dir + pointer
    * flip); the incremental counterpart is [[IvfIndex]], which trades
    * code compression for commit-log appendability. */
  /** Optional OPQ rotation (`rotation`): codes are computed over the
    * ROTATED vector (rotation before the subspace split — Ge et al.,
    * CVPR 2013; the codebooks must live in the rotated space, e.g. from
    * [[Opq.train]]); the COARSE quantizer stays in the raw space — the
    * rotation is an isometry, so cell geometry is unchanged and only the
    * PQ error distribution improves. The rotation persists beside the
    * codebooks, making search self-contained. */
  def ivfPqBuild(corpus: DataFrame, dir: String,
                 centroids: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]],
                 rotation: Option[Array[Array[Double]]] = None): Unit = {
    val spark = corpus.sparkSession
    // quantizer metadata: direct driver parquet writes, no jobs
    QuantizerFiles.writeIntVec(spark, s"$dir/centroids", "cell", "c",
      centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
    QuantizerFiles.writeIntIntVec(spark, s"$dir/codebooks",
      for ((cb, mm) <- codebooks.zipWithIndex.toSeq; (v, j) <- cb.zipWithIndex)
        yield (mm, j, v))
    rotation.foreach(writeRotation(spark, dir, _))
    val e = asDouble(col("embedding"))
    corpus.select(col("vec_id").as("cid"), e.as("e"))
      .withColumn("cell", NearestCells.cell(col("e"), centroids))
      .withColumn("codes", pqCodesCol(rotatedCol(col("e"), rotation), codebooks))
      .select("cell", "cid", "codes")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  private[pipeline] def rotatedCol(e: Column,
      rotation: Option[Array[Array[Double]]]): Column =
    rotation.fold(e)(RotateVec.column(e, _))

  private[pipeline] def writeRotation(spark: org.apache.spark.sql.SparkSession,
      dir: String, r: Array[Array[Double]]): Unit =
    // dims×dims metadata: direct driver parquet write, no job
    QuantizerFiles.writeIntVec(spark, s"$dir/rotation", "d", "r",
      r.zipWithIndex.map { case (row, d) => (d, row) }.toSeq)

  private[pipeline] def readRotation(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Array[Array[Double]]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    // dims×dims metadata the driver consumes — direct driver read, no job
    else Some(QuantizerFiles.readIntVec(spark, p.toString))
  }

  /** Search a persisted IVF-PQ index: queries rank their `nProbe` nearest
    * cells against the stored quantizer and build their M×Ks ADC lookup
    * tables ONCE (both on the bounded, broadcast query side); the cells
    * relation is read under a literal cell-set predicate (partition
    * pruning) and every candidate is scored by M table probes on its
    * codes — the scan touches code columns only, never embeddings.
    * Output (qid, cid, adist, rank), nearest first; distances are
    * approximate by construction (that is PQ) and the gate pins the
    * exact table arithmetic, like [[pqTopK]]. */
  def ivfPqSearch(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queries: DataFrame, topK: Int, nProbe: Int = 4,
                  maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    // quantizer state is bounded metadata — direct driver reads, no jobs
    val centroids = QuantizerFiles.readIntVec(spark, s"$dir/centroids")
    val codebooks = readCodebooks(spark, s"$dir/codebooks")
    // an OPQ index persisted a rotation: LUTs build over the ROTATED
    // query (matching the stored codes' space); the cell probe stays raw
    val rot = readRotation(spark, dir)
    // ONE driver materialization: bound check, LUT build (driver-side,
    // same kernels), probe set and broadcast side from a single take
    val qFrame = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
    val rows = takeBounded(qFrame, maxQueryRows, "ivfPqSearch")
    val (q, probed) = probedLocalLut(spark, rows, qFrame.schema,
      cellProbeLocal(centroids, nProbe), adcLutLocal(codebooks, rot),
      codebooks.length)
    val cells = spark.read.parquet(s"$dir/cells")
      .where(col("cell").isInCollection(probed)) // literal → partition pruning
    val scored = broadcast(q).join(cells, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("adist", adcScoreCol(codebooks))
    rankTopK(scored, "adist", ascending = true, topK)
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * QUALITY metric for every ANN knob in this file (LSH bits/probes,
    * IVF nProbe, PQ M/Ks): per query, the fraction of the exact top-k
    * neighbour ids the approximate search returned. Both inputs are the
    * `(qid, cid, …, rank)` shape the top-k operators emit; `k` is taken
    * from the EXACT side per query (an approximate search that returns
    * fewer rows — probed cells too sparse — loses recall, as it should).
    *
    * Tuning loop at scale: recall is measured on a BOUNDED query sample
    * (both sides are top-k outputs, so this is result-sized relational
    * work — one semi-join + two tiny aggregations), then the chosen knob
    * applies to the full corpus. Output: (qid, hits, k, recall). */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    // defensive dedup on both sides: a unioned approx frame (or any
    // non-top-k input) with duplicated (qid, cid) pairs would otherwise
    // inflate hits past k (left-semi preserves left multiplicity) and
    // report recall > 1 with no error
    val ex = exact.select(col("qid"), col("cid")).dropDuplicates("qid", "cid")
    val k = ex.groupBy(col("qid")).agg(count(lit(1)).as("k"))
    val hits = approx.select(col("qid"), col("cid")).dropDuplicates("qid", "cid")
      .join(ex, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    k.join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
      .withColumn("recall", col("hits").cast("double") / col("k"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, bounded to a
    * vec_id prefix for the exact gate query (the scale path feeds LSH
    * buckets instead of the full cross join). */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   filter: Column = lit(true)): DataFrame = {
    val e = corpus.where(filter)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val a = e.select(col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("e").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** INCREMENTAL [[semDeDup]] — semantic near-dup removal per arriving
    * batch against the persisted kept-vector state, on the [[IvfIndex]]
    * machinery (the index IS the kept set; its cells are the SemDeDup
    * clusters). A batch vector `v` drops when
    *
    *  - some KEPT vector in v's cell has cosine ≥ `threshold` with it
    *    (first-arrival-wins across batches), or
    *  - some batch peer with a SMALLER vec_id in the same cell has
    *    cosine ≥ `threshold` (the within-batch keep-lowest rule,
    *    applied regardless of the peer's own fate — the same monotone
    *    rule as [[Dedup.incremental]], which is what lets an external
    *    SQL oracle replay the whole history).
    *
    * Survivors are appended to the index under `name` (the batch's
    * STABLE identity — retries must reuse it; a replayed name answers
    * from its own batch directory, exactly-once under at-least-once
    * `foreachBatch`).
    *
    * Scale shape: ONE codegen'd assignment pass over the batch
    * (localCheckpoint'd — it feeds the probe set, the index join and the
    * peer join), a driver-bounded probe set (≤ k cell ints), and the
    * kept-vector read PARTITION-PRUNES to the batch's cells across every
    * live batch directory — a micro-batch against a billion-vector index
    * reads only its own cells. The quadratic cosine work is per-cell
    * (batch × kept-in-cell + batch-peer pairs), never corpus-wide — and
    * the CELL COUNT is the knob that keeps it sub-quadratic: size the
    * index's quantizer with [[autoCellCount]] (k ≈ √n ⇒ ~n^1.5 total
    * pairs over the corpus life); an undersized k concentrates the
    * kept-set into few cells and the per-batch join degrades toward
    * batch × corpus (the SCALE.md k-sweep anchors measure exactly
    * this). */
  def semDeDupIncremental(vectors: DataFrame, indexDir: String, name: String,
                          threshold: Double): DataFrame = {
    val spark = vectors.sparkSession
    if (IvfIndex.contains(spark, indexDir, name))
      return IvfIndex.readBatch(spark, indexDir, name) match {
        case Some(batch) =>
          vectors.join(batch.select(col("cid").as("vec_id")).distinct(),
            Seq("vec_id"), "left_semi")
        case None => throw new IllegalStateException(
          s"semDeDup batch '$name' replayed after a fold or retrain " +
            "retired its directory (grace window exceeded); rerun against " +
            "a fresh index or raise IvfIndex.compact graceMs")
      }
    // the commit number before the kept-set snapshot (the sequential-writer
    // guard): a second writer whose snapshot races this one fails loud
    // at its append instead of silently splitting survivors
    val seq = IvfIndex.nextAppendSeq(spark, indexDir)
    // the index's OWN quantizer assigns the batch — flat or two-level
    // (IMI) alike, so SemDeDup state can live behind either construction;
    // the resolved generation pins the append below (stale-gen cells must
    // never land in a retrained layout)
    val (assignedGen, assign) = IvfIndex.cellAssignerGen(spark, indexDir)
    val batch = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("cell", assign(col("e")))
      .localCheckpoint() // one assignment: probe set + index join + peer join
    val probed = batch.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // driver-bounded: ≤ k ints
    val kept = IvfIndex.read(spark, indexDir)
      .where(col("cell").isInCollection(probed)) // literal → partition pruning
    val hitIndex = batch.join(kept, Seq("cell"))
      .where(cosine(col("e"), col("ce")) >= threshold)
      .select("vec_id")
    val peers = batch.select(col("cell").as("_cl"),
      col("vec_id").as("va"), col("e").as("ea"))
    val hitPeer = batch
      .join(peers, col("cell") === col("_cl") && col("va") < col("vec_id"))
      .where(cosine(col("ea"), col("e")) >= threshold)
      .select("vec_id")
    val dropped = hitIndex.unionByName(hitPeer).distinct().localCheckpoint()
    // the append writes survivors FROM THE CHECKPOINTED ASSIGNED BATCH
    // (anti-join of two materialized frames): no re-read of the batch
    // source and no second run of the assignment kernel — the checkpointed
    // `cell` column is the same single assignment that fed the dedup joins
    IvfIndex.appendAssigned(
      batch.join(dropped, Seq("vec_id"), "left_anti"),
      indexDir, name, seq = Some(seq), assignedGen = assignedGen)
    vectors.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** [[semDeDupIncremental]] keyed by a streaming batch id — the
    * `foreachBatch` form; a replayed id recomputes the same survivor set
    * and does not re-append. */
  def semDeDupIncrementalOnce(vectors: DataFrame, indexDir: String,
                              batchId: Long, threshold: Double): DataFrame =
    semDeDupIncremental(vectors, indexDir, s"b$batchId", threshold)

  /** Streaming sink: semantically dedup every micro-batch against the
    * index and hand the survivors on (`ds.writeStream.foreachBatch(
    * Similarity.semDeDupSink(dir, thr, out))`) — [[Dedup.incrementalSink]]'s
    * shape for the embedding space.
    *
    * `maintainEvery` > 0 runs the index MAINTENANCE TICK every that many
    * micro-batches, after the batch's own append committed: fold aged
    * batch directories + vacuum ([[IvfIndex.compact]]), then retrain the
    * quantizer when the histogram sidecars say it drifted
    * ([[IvfIndex.maybeRetrain]] — a sidecar-metadata probe, so an idle
    * tick costs no index scan). A long-running deployment MUST tick:
    * without it the batch-directory count grows per micro-batch and
    * drift degrades the SemDeDup cells toward one hot cell. Exactly-once
    * across a kill ANYWHERE around the tick: the replayed batch answers
    * from its own directory — kept per-batch through folds AND retrains
    * by `maintenanceGraceMs` (size it above the checkpoint-replay lag) —
    * and the re-run tick converges (compact folds only aged batches;
    * maybeRetrain's skew gate sees the post-retrain histogram). */
  def semDeDupSink(indexDir: String, threshold: Double,
                   out: DataFrame => Unit,
                   maintainEvery: Int = 0,
                   maintenanceGraceMs: Long = 15 * 60 * 1000L,
                   maxSkew: Double = 4.0,
                   retrainK: Int = 16): (DataFrame, Long) => Unit =
    (df, batchId) => {
      out(semDeDupIncrementalOnce(df, indexDir, batchId, threshold))
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
        val spark = df.sparkSession
        IvfIndex.compact(spark, indexDir, maintenanceGraceMs)
        IvfIndex.maybeRetrain(spark, indexDir, maxSkew, k = retrainK,
          graceMs = maintenanceGraceMs)
      }
    }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): within each cluster of
    * the embedding space, drop every vector that has a semantic
    * near-duplicate (cosine ≥ `threshold`) with a smaller id — the
    * deterministic keep-lowest representative rule. The `label` column
    * is the cluster assignment (in production the k-means step;
    * [[NearestCells]] / [[fixedCentroids]] provide it when the corpus
    * arrives unclustered).
    *
    * Shape — the reason SemDeDup scales where all-pairs cosine cannot:
    * the self-join is an EQUI-join on the cluster id, so each shuffle
    * partition holds one cluster's members and the quadratic cosine work
    * is per-cluster (k clusters of n/k vectors ⇒ n²/k comparisons, with
    * k in the tens of thousands at corpus scale), never corpus-wide.
    * The drop set is vector-count-bounded and anti-joined back — no
    * driver materialization anywhere. */
  def semDeDup(corpus: DataFrame, threshold: Double): DataFrame = {
    val e = corpus.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("e"))
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = e.select(col("label").as("_lb"), col("vec_id").as("vec_b"),
      col("e").as("eb"))
    val dropped = a
      .join(b, col("label") === col("_lb") && col("vec_a") < col("vec_b"))
      .where(cosine(col("ea"), col("eb")) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    e.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }
}
