package graft.pipeline

import graft.sources.MarkerLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Persisted, APPENDABLE IVF index — the ANN state a continuously-fed
  * corpus searches and grows batch by batch, in [[Similarity.ivfBuild]]'s
  * cell-partitioned layout (which is rebuild-only):
  *
  * {{{
  * dir/_log/_commit.<n>               the index's commits (highest wins)
  * dir/gen-<gid>[-<uniq>]/centroids/  the generation's coarse quantizer
  * dir/gen-.../codebooks/             PQ codebooks (product-quantized mode)
  * dir/gen-.../batch=<name>/cell=<i>/ one append, partitioned by cell
  * dir/gen-.../_hist.<name>           the batch's per-cell row counts
  * }}}
  *
  * The commit protocol is ONE [[MarkerLog.IndexLog]] per index: every
  * commit names the generation (its id and directory), the live batches
  * with their first publish times and the folded names — atomic publish,
  * idempotent replay of a batch name, the sequential-writer guard
  * ([[graft.sources.ConcurrentWriterException]]), folds that swap batches
  * in one commit, and grace vacuum. What is this index's own:
  *
  *  - APPEND assigns the batch against the CURRENT generation's fixed
  *    centroids (one codegen'd projection — the quantizer rides the
  *    stage binary), writes it partitioned by cell, and publishes it only
  *    onto a tip naming the same generation: an append and a retrain race
  *    on one commit number, and an append that loses it to a retrain
  *    throws, having published nothing.
  *  - SEARCH probes `nProbe` cells via a literal cell-set predicate over
  *    the UNION of live batch directories: every batch root carries the
  *    same `cell=<i>` partition layout, so Catalyst partition pruning
  *    lists and scans only probed × live-batch directories — query cost
  *    tracks nProbe/k of the corpus REGARDLESS of how many appends built
  *    it. A vector appended under two batch names is visible twice,
  *    which SEARCH collapses with a (qid, cid) dedup before ranking.
  *  - RETRAIN is the drift story: when appends skew the cell histogram
  *    ([[skew]] measures max/mean occupancy), [[retrain]] trains fresh
  *    centroids on a bounded sample of the live index, re-assigns every
  *    live vector into a NEW generation directory no earlier attempt used,
  *    carries the old generation's batch names forward so replay detection
  *    survives, and flips visibility with ONE commit.
  *
  * Reference for the IVF structure: Jégou/Douze/Schmid, "Product
  * quantization for nearest neighbor search" (TPAMI 2011) §IV-A.
  */
object IvfIndex {

  /** Stored cell rows: corpus id + embedding (cell is the partition col). */
  val cellSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("cid", LongType),
    StructField("ce", ArrayType(DoubleType))))

  private val HistPrefix = "_hist."
  private val HistTmpPrefix = "_histtmp."

  /** The commit number the NEXT append publishes at — read this BEFORE
    * taking the kept-set snapshot a batch dedups against
    * ([[Similarity.semDeDupIncremental]]) and pass it to [[append]]: the
    * number then covers the whole read→dedup→append span, so a second
    * writer whose snapshot raced yours fails loud at its publish even
    * when the two `append` calls themselves never overlap.
    *
    * PRECISELY what the guard detects: of writers that read one number,
    * one publishes at it and every other finds a batch landed at or after
    * it and throws; commits that land no batch (folds, flips) do not count as a
    * race. The guard is a tripwire for uncoordinated writers, not a lock;
    * sequential dispatch (the `foreachBatch` shape) remains the contract. */
  def nextAppendSeq(spark: SparkSession, dir: String): Long =
    requireGen(spark, dir).next

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The index's commit log: a state names the generation directory and
    * the live batch directories inside it. */
  private[pipeline] def log(spark: SparkSession, dir: String) =
    new MarkerLog.IndexLog(fs(spark, dir), new Path(dir), "IvfIndex",
      s => s.only(MarkerLog.Gen).toSeq.flatMap { case (g, _) =>
        g +: s.live.map(n => s"$g/batch=$n")
      },
      Seq("gen-*", "gen-*/batch=*"))

  /** One read of the log: the current generation's id and directory, the
    * state naming them, and the number the next commit takes. Multi-stage
    * calls resolve this ONCE and thread it through, so a retrain flipping
    * mid-call cannot mix two quantizers' layouts. */
  private final case class Gen(gid: Long, gp: String,
                               state: MarkerLog.IndexState, next: Long)

  private def genOf(dir: String, v: MarkerLog.CommitView,
                    st: MarkerLog.IndexState): Option[Gen] =
    st.only(MarkerLog.Gen).map { case (g, gid) => Gen(gid, s"$dir/$g", st, v.next) }

  /** The current generation id. */
  def currentGen(spark: SparkSession, dir: String): Option[Long] =
    log(spark, dir).state.only(MarkerLog.Gen).map(_._2)

  private def requireGen(spark: SparkSession, dir: String): Gen = {
    val (v, st) = log(spark, dir).read()
    genOf(dir, v, st).getOrElse(throw new IllegalStateException(
      s"IvfIndex at $dir has no generation — call init() first"))
  }

  /** Create the index with an initial quantizer (generation 0). Pass
    * `codebooks` to make the index PRODUCT-QUANTIZED (the paper's IVFADC
    * — [[Similarity.ivfPqBuild]]'s structure, appendable): every append
    * then also encodes its vectors into M-code arrays against the
    * generation's persisted codebooks, [[searchPq]] scores candidates by
    * ADC table probes reading ONLY the code column (parquet column
    * pruning — the scan I/O per candidate is M small ints, never the
    * dims×8-byte embedding), and [[retrain]] re-trains the codebooks
    * alongside the coarse quantizer and re-encodes into the new
    * generation. Raw vectors are RETAINED beside the codes — that is the
    * appendable trade: re-encoding on retrain is impossible from lossy
    * codes alone, and the incremental SemDeDup consumers need exact
    * cosines; the scan-I/O story is untouched because the columnar
    * layout prices reads by the columns touched, not the row width. */
  def init(spark: SparkSession, dir: String,
           centroids: Array[Array[Double]],
           codebooks: Option[Array[Array[Array[Double]]]] = None,
           rotation: Option[Array[Array[Double]]] = None): Unit =
    initCoarse(spark, dir, FlatCoarse(centroids), codebooks, rotation)

  /** [[init]] with the TWO-LEVEL (inverted multi-index) coarse
    * quantizer: `halves` are the two half-space codebooks (the
    * [[Similarity.trainCodebooks]]/[[Similarity.fixedCodebooks]] M=2
    * product shape); the cell id is first-half argmin · K + second-half
    * argmin, giving K² effective cells for 2K distance evaluations per
    * appended vector — the assignment-cost story that makes √n cell
    * counts affordable at billion-vector scale. Every other IvfIndex
    * behavior (appends, folds, retrain, PQ codes, snapshots, SemDeDup)
    * is unchanged: cells are cells. */
  def initImi(spark: SparkSession, dir: String,
              halves: Array[Array[Array[Double]]],
              codebooks: Option[Array[Array[Array[Double]]]] = None,
              rotation: Option[Array[Array[Double]]] = None): Unit = {
    require(halves.length == 2,
      s"IvfIndex at $dir: IMI quantizes exactly two half-spaces, got ${halves.length}")
    initCoarse(spark, dir, ImiCoarse(halves), codebooks, rotation)
  }

  private def initCoarse(spark: SparkSession, dir: String, coarse: Coarse,
                         codebooks: Option[Array[Array[Array[Double]]]],
                         rotation: Option[Array[Array[Double]]]): Unit = {
    require(currentGen(spark, dir).isEmpty, s"IvfIndex at $dir already exists")
    require(rotation.isEmpty || codebooks.isDefined,
      s"IvfIndex at $dir: an OPQ rotation without codebooks has nothing to rotate for")
    val g = writeGen(spark, dir, 0L, coarse, codebooks, rotation, Nil)
    log(spark, dir).commit { (_, s) =>
      require(s.only(MarkerLog.Gen).isEmpty, s"IvfIndex at $dir already exists")
      Some(s.set(MarkerLog.Gen, g, 0L))
    }
  }

  /** The current generation's FLAT quantizer, cell-ordered (fails on an
    * IMI-quantized index — use [[cellAssigner]]/[[imiHalves]] there). */
  def centroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    centroidsIn(spark, requireGen(spark, dir).gp)

  private def centroidsIn(spark: SparkSession, gp: String): Array[Array[Double]] =
    // k×dims quantizer metadata the driver consumes (the centroids ride
    // into codegen'd expressions as literals) — direct driver read
    // ([[QuantizerFiles]]), not a distributed job per append/search
    QuantizerFiles.readIntVec(spark, s"$gp/centroids")

  /** The current generation's IMI half codebooks (None on a flat index). */
  def imiHalves(spark: SparkSession,
                dir: String): Option[Array[Array[Array[Double]]]] = {
    coarseIn(spark, requireGen(spark, dir).gp) match {
      case ImiCoarse(h) => Some(h)
      case _ => None
    }
  }

  // ---- the pluggable coarse quantizer ------------------------------------
  // A generation's cells come from either a FLAT k-centroid quantizer
  // (`centroids/`) or the TWO-LEVEL inverted multi-index construction
  // (`imicb/` — Babenko & Lempitsky CVPR 2012: cell = first-half argmin
  // · K + second-half argmin, K² effective cells for 2K evaluations per
  // vector). Everything downstream — the cell=<i> directory layout,
  // partition pruning, folds, retrains, snapshots, PQ codes — is
  // quantizer-agnostic: a cell id is a cell id.

  private[pipeline] sealed trait Coarse { def kEff: Int }
  private[pipeline] final case class FlatCoarse(centroids: Array[Array[Double]])
    extends Coarse { def kEff: Int = centroids.length }
  private[pipeline] final case class ImiCoarse(halves: Array[Array[Array[Double]]])
    extends Coarse { def kEff: Int = halves(0).length * halves(1).length }

  private def coarseIn(spark: SparkSession, gp: String): Coarse = {
    val p = new Path(s"$gp/imicb")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      ImiCoarse(Similarity.readCodebooks(spark, p.toString))
    else FlatCoarse(centroidsIn(spark, gp))
  }

  /** Single-cell assignment column for corpus-side rows. */
  private def assignCol(c: Coarse, e: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = c match {
    case FlatCoarse(cents) => NearestCells.cell(e, cents)
    case ImiCoarse(h) => Similarity.imiCell(e, h)
  }

  /** Expand a bounded query frame (carrying `qid`, `qe` and any rider
    * columns) to its `nProbe` probed cells: flat kernel explode, or the
    * IMI pair ranking — the rider columns (PQ LUTs) survive both. */
  private def probeExploded(c: Coarse, q: DataFrame, nProbe: Int): DataFrame =
    c match {
      case FlatCoarse(cents) =>
        q.withColumn("cell", explode(NearestCells.column(col("qe"), cents, nProbe)))
      case ImiCoarse(h) => Similarity.imiProbedCells(q, h, nProbe)
    }

  /** Driver-side twin of [[probeExploded]]'s per-row cell expansion —
    * the same kernels for both coarse shapes, invoked on collected rows
    * ([[Similarity.cellProbeLocal]]/[[Similarity.imiProbeLocal]]). */
  private def probeLocal(c: Coarse, nProbe: Int): Array[Double] => Array[Int] =
    c match {
      case FlatCoarse(cents) => Similarity.cellProbeLocal(cents, nProbe)
      case ImiCoarse(h) => Similarity.imiProbeLocal(h, nProbe)
    }

  /** The CURRENT generation's cell-assignment function — incremental
    * consumers ([[Similarity.semDeDupIncremental]]) assign batches with
    * it, so they work over flat AND IMI-quantized indexes. */
  def cellAssigner(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    cellAssignerGen(spark, dir)._2

  /** [[cellAssigner]] plus the generation id it resolved. A caller that
    * later hands the assigned batch to [[appendAssigned]] passes the gid
    * along: cell ids are meaningful only within the generation whose
    * quantizer produced them, so the append fails loud if a retrain
    * flipped generations between the assignment and the append (the
    * append's own requireGen would otherwise happily write stale-gen
    * cells into the new generation's layout). */
  private[pipeline] def cellAssignerGen(spark: SparkSession, dir: String)
      : (Long, org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val g = requireGen(spark, dir)
    val c = coarseIn(spark, g.gp)
    (g.gid, e => assignCol(c, e))
  }

  /** The current generation's PQ codebooks (None on a flat index) —
    * [[Similarity.readCodebooks]] over the generation's parquet. */
  def codebooks(spark: SparkSession,
                dir: String): Option[Array[Array[Array[Double]]]] =
    codebooksIn(spark, requireGen(spark, dir).gp)

  private def codebooksIn(spark: SparkSession,
                          gp: String): Option[Array[Array[Array[Double]]]] = {
    val p = new Path(s"$gp/codebooks")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(Similarity.readCodebooks(spark, p.toString))
  }

  /** The current generation's OPQ rotation (None on a plain index). */
  def rotation(spark: SparkSession,
               dir: String): Option[Array[Array[Double]]] =
    Similarity.readRotation(spark, requireGen(spark, dir).gp)

  /** Whether batch `name` already landed in the CURRENT generation —
    * live, folded, or carried forward across a retrain. */
  def contains(spark: SparkSession, dir: String, name: String): Boolean =
    requireGen(spark, dir).state.landed(name)

  /** Append `vectors` (vec_id, embedding) under batch `name`: assign each
    * vector to its nearest current-generation centroid and write the
    * batch partitioned by cell. Returns false when `name` already landed
    * (idempotent replay). Throws
    * [[graft.sources.ConcurrentWriterException]] when a second writer's
    * batch landed at or after this append's commit number (pass `seq`
    * from [[nextAppendSeq]] to cover a kept-set read that preceded this
    * call), and [[IllegalStateException]] if a retrain flipped
    * generations while the batch was writing — in both cases nothing was
    * published, the batch directory is an unnamed orphan the next
    * [[compact]] sweeps, and the batch must be re-run. */
  def append(vectors: DataFrame, dir: String, name: String,
             seq: Option[Long] = None): Boolean =
    appendCore(vectors.sparkSession, dir, name, seq, gp =>
      // quantizer from the SAME generation resolution as the layout (gp):
      // a retrain flipping in this window cannot pair the new quantizer's
      // assignment with the old generation's directories — the discipline
      // every search path follows (coarseIn/readColsIn)
      vectors.select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("ce"))
        .withColumn("cell", assignCol(coarseIn(vectors.sparkSession, gp), col("ce"))))

  /** [[append]] for a batch whose cell assignment ALREADY happened
    * against generation `assignedGen`'s quantizer (`assigned`: (cell,
    * vec_id, e)) — [[Similarity.semDeDupIncremental]] assigns its batch
    * once (the checkpointed frame that feeds the probe set and both
    * dedup joins) and appends the survivors from that same frame, so the
    * write does not re-read the batch source or re-run the assignment
    * kernel per survivor. Caller contract: the assignment comes from
    * [[cellAssignerGen]], whose gid is passed here — cell ids are
    * generation-specific, so a retrain flipping between the assignment
    * and this append throws (the publish-time check only covers flips
    * INSIDE the append; without the gid pin a pre-append flip would
    * silently write stale-generation cells into the new layout). */
  private[pipeline] def appendAssigned(assigned: DataFrame, dir: String,
                                       name: String, seq: Option[Long],
                                       assignedGen: Long): Boolean =
    appendCore(assigned.sparkSession, dir, name, seq, _ =>
      assigned.select(col("cell"), col("vec_id").as("cid"),
        col("e").cast("array<double>").as("ce")),
      expectGen = Some(assignedGen))

  private def appendCore(spark: SparkSession, dir: String, name: String,
                         seq: Option[Long],
                         mkAssigned: String => DataFrame,
                         expectGen: Option[Long] = None): Boolean = {
    val g = requireGen(spark, dir)
    val (gid, gp) = (g.gid, g.gp)
    // idempotency FIRST: a retry of an already-landed batch stays a no-op
    // even when it carries a stale assignedGen (a retrain that landed
    // after the first attempt committed must not turn the replay into a
    // spurious failure — the name carried across the flip, nothing is
    // written). The generation pin below guards NOT-landed batches only.
    if (g.state.landed(name)) return false
    expectGen.filter(_ != gid).foreach(eg =>
      throw new IllegalStateException(
        s"IvfIndex append '$name' raced a retrain at $dir: the batch was " +
          s"assigned against generation $eg but the index is at $gid — " +
          "cell assignments are generation-specific; re-run the batch " +
          "against the new quantizer"))
    val f = fs(spark, dir)
    // the commit number comes from the same read as the generation: the
    // start of this append's view of the index
    val next = seq.getOrElse(g.next)
    val cbs = codebooksIn(spark, gp)
    val rot = Similarity.readRotation(spark, gp)
    val assigned = mkAssigned(gp)
    val outDir = new Path(s"$gp/batch=$name")
    MarkerLog.step("write", outDir) {
      // a PQ generation also encodes AT APPEND TIME against its persisted
      // codebooks (one more codegen'd projection in the same pass) — the
      // code column is what [[searchPq]] scans; an OPQ generation rotates
      // before the subspace split (codes live in the rotated space)
      cbs.fold(assigned.select("cell", "cid", "ce"))(b =>
          assigned.withColumn("codes",
              Similarity.pqCodesCol(Similarity.rotatedCol(col("ce"), rot), b))
            .select("cell", "cid", "ce", "codes"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(outDir.toString)
      // an EMPTY batch (routine: every survivor of a semDeDup batch was a
      // near-dup) publishes its name WITHOUT a directory — a zero-row
      // partitionBy write emits no parquet footer, which later reads could
      // not parse; [[readBatch]]/[[read]] treat the missing directory as
      // the empty relation. Emptiness is read OFF THE WRITTEN DIRECTORY
      // (no cell= children) instead of a separate isEmpty pre-action,
      // which cost one full extra pass over the batch's dedup lineage per
      // append; a crash between the write and this delete leaves an
      // unnamed orphan dir, exactly like a crash mid-write — [[compact]]
      // sweeps it.
      val wroteRows = f.exists(outDir) && f.listStatus(outDir).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("cell="))
      if (wroteRows)
        // the per-cell occupancy histogram rides along as a tiny sidecar
        // (footer row counts of the just-written directory — no data pages
        // decode): [[skew]] then prices quantizer drift from sidecar sums
        // instead of scanning the index
        writeHist(spark, f, gp, name)
      else f.delete(outDir, true)
    }
    // published only onto a tip naming THIS generation: a retrain that
    // took the number first would strand the batch in a retired generation
    log(spark, dir).append(Seq(name), next)(s =>
      if (!s.only(MarkerLog.Gen).exists(_._2 == gid))
        throw new IllegalStateException(
          s"IvfIndex append '$name' raced a retrain at $dir (generation " +
            s"moved past $gid) — nothing was published; re-run the batch " +
            "against the new quantizer"))
    true
  }

  /** The rows one batch appended (None when not individually readable —
    * never landed, or folded/retired past the grace window). A live
    * name without a directory is a landed EMPTY batch. */
  def readBatch(spark: SparkSession, dir: String,
                name: String): Option[DataFrame] = {
    val g = requireGen(spark, dir)
    val gp = g.gp
    if (!g.state(MarkerLog.Live).contains(name)) None
    else if (!fs(spark, dir).exists(new Path(s"$gp/batch=$name")))
      Some(emptyCells(spark))
    else
      Some(spark.read.option("basePath", gp)
        .schema(layoutSchema(withCodes = false)) // no inference job
        .parquet(s"$gp/batch=$name")
        .select(col("cell"), col("cid"), col("ce")))
  }

  private def emptyCells(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cellSchema)

  /** The live index relation (cell, cid, ce) — the union of the current
    * generation's live batch directories. Every batch root shares
    * the `cell=<i>` layout, so a literal cell predicate on this relation
    * partition-prunes EVERY batch. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readCols(spark, dir, Seq("cell", "cid", "ce"), cellSchema)

  /** Stored code rows of a product-quantized generation. */
  val codedSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("cid", LongType),
    StructField("codes", ArrayType(IntegerType))))

  /** The live CODE relation (cell, cid, codes) of a product-quantized
    * index — the same multi-batch layout as [[read]], projecting the
    * code column instead of the embedding: parquet is columnar, so this
    * scan reads M small ints per candidate (the ADC I/O bound), never
    * the dims×8-byte raw vector stored beside them. */
  def readCodes(spark: SparkSession, dir: String): DataFrame = {
    require(codebooks(spark, dir).isDefined,
      s"IvfIndex at $dir is not product-quantized — init() with codebooks")
    readCols(spark, dir, Seq("cell", "cid", "codes"), codedSchema)
  }

  private def readCols(spark: SparkSession, dir: String, cols: Seq[String],
                       emptySchema: StructType): DataFrame =
    readColsIn(spark, requireGen(spark, dir), cols, emptySchema)

  /** The user-specified schema of a batch-directory read — data columns
    * plus the `batch`/`cell` partition path columns. Handing it to the
    * reader SKIPS parquet schema inference: without it every read of the
    * layout paid one footer-sampling Spark job before any real work
    * (guide §1.2 — remove passes). The layout is written by this object,
    * so the schema is known by construction; `withCodes = false` on a
    * product-quantized generation simply never touches the code column
    * (parquet is columnar — undeclared columns are not read). */
  private def layoutSchema(withCodes: Boolean): StructType =
    StructType(Seq(
      StructField("cid", LongType),
      StructField("ce", ArrayType(DoubleType))) ++
      (if (withCodes) Seq(StructField("codes", ArrayType(IntegerType))) else Nil) ++
      Seq(StructField("batch", org.apache.spark.sql.types.StringType),
        StructField("cell", IntegerType)))

  /** [[readCols]] against an ALREADY-RESOLVED generation. */
  private def readColsIn(spark: SparkSession, g: Gen, cols: Seq[String],
                         emptySchema: StructType): DataFrame = {
    val gp = g.gp
    val f = fs(spark, gp)
    // empty batches land by name only (no directory) — skip them
    val live = g.state.live.filter(n => f.exists(new Path(s"$gp/batch=$n")))
    if (live.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else
      // ONE FileIndex over the explicit live batch directories with the
      // generation root as basePath: `batch` and `cell` are BOTH
      // partition dimensions, so a literal cell predicate prunes every
      // batch's directory listing in a single scan node
      spark.read.option("basePath", gp)
        .schema(layoutSchema(withCodes = cols.contains("codes")))
        .parquet(live.map(n => s"$gp/batch=$n"): _*)
        .select(cols.map(col): _*)
  }

  /** Search the live index: identical contract (and output) to
    * [[Similarity.ivfSearch]], over the multi-batch layout — queries
    * assign to their `nProbe` nearest cells against the current
    * quantizer, and the literal probed-cell set prunes every live batch
    * directory to its probed `cell=` children. Query cost is
    * nProbe/k of the LIVE DATA, independent of the append count.
    *
    * The query side broadcasts UNCONDITIONALLY (the ≤k-distinct-value
    * `cell` key would make a stats-driven shuffle join maximally
    * skewed), so its post-explode size — maxQueryRows × nProbe rows ×
    * the embedding width — must fit the driver and executors:
    * [[Similarity.DefaultMaxQueryRows]]'s sizing note assumes 64-dim
    * doubles (~50 MB); at production dims lower `maxQueryRows`
    * proportionally (1024-dim doubles ⇒ ~6k rows per 50 MB). */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             topK: Int, nProbe: Int = 4,
             maxQueryRows: Long = Similarity.DefaultMaxQueryRows): DataFrame = {
    // ONE generation resolution for the whole query: quantizer and layout
    // always agree even when a retrain flips mid-call
    val g = requireGen(spark, dir)
    searchIn(spark, g, coarseIn(spark, g.gp), queries, topK, nProbe, maxQueryRows)
  }

  private def searchIn(spark: SparkSession, g: Gen, coarse: Coarse,
                       queries: DataFrame,
                       topK: Int, nProbe: Int, maxQueryRows: Long): DataFrame = {
    // the bounded query side lands on the driver ONCE
    // ([[Similarity.takeBounded]] — same bytes the broadcast below holds
    // anyway): bound check, probe-cell assignment (driver-side, same
    // kernels — [[probeLocal]]), probe set and join side all come from
    // that single materialization, with no further jobs per search
    val qFrame = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    val rows = Similarity.takeBounded(qFrame, maxQueryRows, "IvfIndex.search")
    val (q, probed) = Similarity.probedLocalFlat(spark, rows, qFrame.schema,
      probeLocal(coarse, nProbe))
    val cells = readColsIn(spark, g, Seq("cell", "cid", "ce"), cellSchema)
      .where(col("cell").isInCollection(probed)) // literal → partition pruning
    // the query side is bounded by contract — broadcast it explicitly
    // (like [[Similarity.ivfPqSearch]]): the join key `cell` has ≤ k
    // distinct values, so letting stats push this to a shuffle join
    // would shuffle the whole probed corpus onto ≤ k keys, maximally
    // skewed; the broadcast join never shuffles the corpus side
    val scored = broadcast(q).join(cells, Seq("cell")).where(col("qid") =!= col("cid"))
      .withColumn("cos", Similarity.cosine(col("qe"), col("ce")))
      // a vector appended under two batch names is visible twice:
      // collapse the copies
      // BEFORE ranking (row_number would give the twin two ranks and
      // push the true k-th neighbour out). Scored FIRST and deduped on
      // scalars only — carrying the embedding arrays through the
      // aggregate would fall back to SortAggregate
      .select("qid", "cid", "cos")
      .dropDuplicates("qid", "cid")
    Similarity.rankTopK(scored, "cos", ascending = false, topK)
  }

  /** ADC search over a product-quantized index — [[Similarity.ivfPqSearch]]'s
    * contract (and output) over the APPENDABLE multi-batch layout:
    * queries rank their `nProbe` nearest cells against the current
    * quantizer and build their M×Ks lookup tables ONCE (both on the
    * bounded, broadcast query side); the code relation is read under a
    * literal cell-set predicate (partition pruning across every live
    * batch directory) and every candidate is scored by M table probes on
    * its codes — the scan touches the code column only (column pruning),
    * so probe I/O is nProbe/k of the corpus × M bytes per row no matter
    * how many appends built the index. A vector appended under two batch
    * names is visible twice; the twins carry identical
    * codes (deterministic encode), so the (qid, cid) dedup before
    * ranking collapses them exactly as [[search]] does.
    *
    * The broadcast query side carries M×Ks LUT columns per row — size
    * `maxQueryRows` for dims AND (M, Ks): the default assumes the
    * gate-scale M=4/Ks=8; at M=16/Ks=256 each query row is ~32 KB of
    * LUT, so cap queries in the low thousands per call. */
  def searchPq(spark: SparkSession, dir: String, queries: DataFrame,
               topK: Int, nProbe: Int = 4,
               maxQueryRows: Long = Similarity.DefaultMaxQueryRows): DataFrame = {
    val g = requireGen(spark, dir) // one resolution per query
    val scored = adcScoredIn(spark, pqGenIn(spark, g.gp, dir), queries, nProbe,
      maxQueryRows, "IvfIndex.searchPq", g)._1
    Similarity.rankTopK(scored, "adist", ascending = true, topK)
  }

  /** A product-quantized generation's resolved state — quantizer,
    * codebooks and optional OPQ rotation from ONE generation resolution,
    * read once per query (or once per BATCHED call and reused across
    * slices — the quantizer data is immutable within a generation). */
  private final case class PqGen(coarse: Coarse,
                                 cbs: Array[Array[Array[Double]]],
                                 rot: Option[Array[Array[Double]]])

  private def pqGenIn(spark: SparkSession, gp: String, dir: String): PqGen =
    PqGen(coarseIn(spark, gp),
      codebooksIn(spark, gp).getOrElse(throw new IllegalStateException(
        s"IvfIndex at $dir is not product-quantized — init() with codebooks")),
      Similarity.readRotation(spark, gp))

  /** The deduped ADC-scored relation (qid, cid, adist) of one resolved
    * generation, plus the LOCAL raw query frame (one (qid, qe) row per
    * query — [[searchPqRerank]]'s stage 2 joins it directly, no
    * array-carrying dedup that would fall back to SortAggregate) and the
    * probed cell set — [[searchPq]]'s stage shared with
    * [[searchPqRerank]], which needs the SAME generation, query snapshot
    * and probe set for both its stages. The query side materializes on
    * the driver ONCE ([[Similarity.takeBounded]] — the same bytes the
    * broadcast holds anyway); bound check, LUT build, probe set and join
    * side all derive from it, driver-side ([[Similarity.probedLocalLut]]). */
  private def adcScoredIn(spark: SparkSession, g: PqGen,
                          queries: DataFrame, nProbe: Int, maxQueryRows: Long,
                          op: String, gen: Gen)
      : (DataFrame, DataFrame, Seq[Int]) = {
    val qFrame = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    val rows = Similarity.takeBounded(qFrame, maxQueryRows, op)
    val qBase = Similarity.localRelation(spark, rows, qFrame.schema)
    // the LUT builder and ADC scorer call the ONE shared kernel set
    // ([[SubDists]]/[[RotateVec]] — [[Similarity.adcLutLocal]] is the
    // driver-side composition of [[Similarity.adcLutColumns]] over
    // [[Similarity.rotatedCol]]) the immutable ivfPqSearch and pqTopK
    // also compile — the gate-pinned table arithmetic cannot diverge
    // between the search paths. On an OPQ generation the LUTs build over
    // the ROTATED query (the stored codes' space); the cell probe stays
    // in the raw space.
    val (q, probed) = Similarity.probedLocalLut(spark, rows, qFrame.schema,
      probeLocal(g.coarse, nProbe), Similarity.adcLutLocal(g.cbs, g.rot),
      g.cbs.length)
    val cells = readColsIn(spark, gen, Seq("cell", "cid", "codes"), codedSchema)
      .where(col("cell").isInCollection(probed)) // literal → partition pruning
    val scored = broadcast(q).join(cells, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("adist", Similarity.adcScoreCol(g.cbs))
      // twins carry identical deterministic codes → identical
      // adist; dedup on scalars only, before ranking (like [[search]])
      .select("qid", "cid", "adist")
      .dropDuplicates("qid", "cid")
    (scored, qBase, probed)
  }

  /** Two-stage ADC search with EXACT re-ranking (Jégou et al. TPAMI 2011
    * §IV-C's verification step): stage 1 takes an ADC shortlist of
    * `shortlist` candidates per query ([[searchPq]] — code-column scan,
    * approximate by construction); stage 2 re-scores ONLY those
    * candidates with exact cosine over the raw vectors the appendable
    * layout retains beside the codes, and returns the exact top-k of the
    * shortlist. This is the payoff of storing both columns: recall
    * approaches the flat [[search]]'s at I/O close to [[searchPq]]'s —
    * the shortlist's distinct cids push into the stage-2 scan as a
    * LITERAL In predicate (row-group stats skip groups holding none of
    * them), so the ce read is shortlist-sized; past the driver probe
    * budget it falls back to the broadcast semi-join over the probed
    * cells (nProbe/k of the corpus — the flat search's read, never the
    * whole corpus). Output matches [[search]] ((qid, cid, cos, rank),
    * exact cosines). `shortlist` defaults to 4 × topK; raising it trades
    * stage-2 reads for recall. */
  def searchPqRerank(spark: SparkSession, dir: String, queries: DataFrame,
                     topK: Int, shortlist: Int = 0, nProbe: Int = 4,
                     maxQueryRows: Long = Similarity.DefaultMaxQueryRows): DataFrame = {
    require(shortlist >= 0, s"negative shortlist $shortlist (0 = default)")
    val l = if (shortlist > 0) shortlist else 4 * topK
    require(l >= topK, s"shortlist $l must cover topK $topK")
    // ONE generation resolution, query snapshot and probe set feed BOTH
    // stages: a retrain flipping mid-call cannot pair stage-1 geometry
    // with stage-2 layout (probed cells computed against one quantizer
    // filtering another generation's re-assigned directories)
    val g = requireGen(spark, dir)
    val (adc, q, probed) = adcScoredIn(spark, pqGenIn(spark, g.gp, dir), queries,
      nProbe, maxQueryRows, "IvfIndex.searchPqRerank", g)
    // the ONE shared ranking tail cuts the shortlist too — its tie-break
    // can never diverge from searchPq's. The shortlist is bounded by
    // contract (queries × l rows): collect it ONCE — the cid probe and
    // the broadcast join side both come from that single materialization
    // (stage 1 executes exactly once, as the old localCheckpoint
    // guaranteed, minus the checkpoint and distinct-take round trips)
    val (short, shortRows) = Similarity.localized(
      Similarity.rankTopK(adc, "adist", ascending = true, l)
        .select(col("qid"), col("cid")))
    // stage 2: raw vectors for the shortlist only. The shortlist's
    // distinct cids become a LITERAL In predicate pushed into the scan —
    // row groups holding none of the shortlist never decompress their ce
    // column, keeping the stage-2 read shortlist-sized, not
    // probed-cells-sized; past the driver budget the broadcast semi-join
    // alone filters (the scan then reads the probed cells' ce — still
    // nProbe/k, never the corpus)
    val cidProbe = shortRows.map(_.getLong(1)).distinct
    val vecsAll = readColsIn(spark, g, Seq("cell", "cid", "ce"), cellSchema)
      .where(col("cell").isInCollection(probed))
    val vecs =
      if (cidProbe.length <= MaxRerankCidProbe)
        vecsAll.where(col("cid").isInCollection(cidProbe.toSeq))
      else vecsAll
    val cand = vecs.join(broadcast(short), Seq("cid"))
    // q IS the local raw (qid, qe) frame — one row per query by the
    // family-wide unique-vec_id contract (an array-carrying first()
    // dedup buffer here would downgrade the aggregation to SortAggregate)
    val scored = broadcast(q).join(cand, Seq("qid"))
      .withColumn("cos", Similarity.cosine(col("qe"), col("ce")))
      // twins collapse on scalars, like [[search]]
      .select("qid", "cid", "cos")
      .dropDuplicates("qid", "cid")
    Similarity.rankTopK(scored, "cos", ascending = false, topK)
  }

  /** Driver budget for the stage-2 literal cid probe of
    * [[searchPqRerank]] — [[SigIndex.probedRows]]' discipline. */
  private def MaxRerankCidProbe: Int =
    Option(maxRerankCidProbeOverride.get).map(_.intValue).getOrElse(100000)

  /** Test seam: lowers the stage-2 cid probe budget so CI can drive (and
    * plan-pin) [[searchPqRerank]]'s broadcast-semi-join fallback at spec
    * scale. Production never sets it. */
  private[pipeline] val maxRerankCidProbeOverride =
    new java.util.concurrent.atomic.AtomicReference[Integer](null)

  /** [[searchPq]] over an UNBOUNDED query frame: deterministic vec_id
    * ranges of at most `batchRows` queries run one bounded [[searchPq]]
    * each against ONE generation resolution, and the per-query top-k
    * results union (queries are independent across slices — each qid's
    * answer comes from exactly one bounded call). This is how the
    * `maxQueryRows` contract composes at fleet scale: driver memory is
    * bounded by the SLICE (boundary ids are one long per `batchRows`
    * queries — a 10M-query frame holds ~100 boundaries), never the query
    * count, and the per-slice broadcast stays inside the sizing notes on
    * [[search]]/[[searchPq]]. */
  def searchPqBatched(spark: SparkSession, dir: String, queries: DataFrame,
                      topK: Int, nProbe: Int = 4,
                      batchRows: Long = Similarity.DefaultMaxQueryRows): DataFrame = {
    // ONE generation resolution for every slice: a retrain flipping
    // mid-iteration cannot answer different slices from different
    // quantizers
    val g = requireGen(spark, dir)
    val pq = pqGenIn(spark, g.gp, dir) // quantizer state read ONCE, all slices
    batchedOver(spark, queries, batchRows, q => {
      val scored = adcScoredIn(spark, pq, q, nProbe, batchRows,
        "IvfIndex.searchPqBatched", g)._1
      Similarity.rankTopK(scored, "adist", ascending = true, topK)
    })
  }

  /** [[search]] (exact cosine in the probed cells) over an UNBOUNDED
    * query frame — [[searchPqBatched]]'s slicing for the flat search
    * path, same bounded-driver/eager-slice discipline. */
  def searchBatched(spark: SparkSession, dir: String, queries: DataFrame,
                    topK: Int, nProbe: Int = 4,
                    batchRows: Long = Similarity.DefaultMaxQueryRows): DataFrame = {
    val g = requireGen(spark, dir)
    val coarse = coarseIn(spark, g.gp) // quantizer read ONCE, all slices
    batchedOver(spark, queries, batchRows,
      searchIn(spark, g, coarse, _, topK, nProbe, batchRows))
  }

  /** The shared unbounded-query slicing: deterministic vec_id ranges of
    * at most `batchRows` queries, each answered by one bounded call
    * against ONE already-resolved generation. Slice boundaries come from
    * a distributed sort + one pass keeping every batchRows-th id — the
    * driver holds one long per batchRows queries (a 10M-query frame ≈
    * 100 boundaries), never the query count. Slices execute EAGERLY one
    * at a time (localCheckpoint materializes each slice's bounded topK
    * result and cuts the plan lineage), so only ONE slice's broadcast
    * query frame is live at any moment — a lazy union of every slice's
    * broadcast join would pin all broadcasts simultaneously at action
    * time, re-creating exactly the driver-memory blowup maxQueryRows
    * exists to prevent. What accumulates is the result itself:
    * slice_rows × topK rows per slice, stored executor-distributed. */
  private def batchedOver(spark: SparkSession, queries: DataFrame,
                          batchRows: Long,
                          perSlice: DataFrame => DataFrame): DataFrame = {
    require(batchRows > 0, s"batchRows $batchRows must be positive")
    val bounds = queries.select(col("vec_id").cast("long"))
      .orderBy(col("vec_id")).rdd.zipWithIndex()
      .filter(_._2 % batchRows == 0).map(_._1.getLong(0)).collect().sorted
    if (bounds.isEmpty) return perSlice(queries) // empty frame: trivially bounded
    bounds.zipWithIndex.map { case (lo, i) =>
      val hi = if (i + 1 < bounds.length) Some(bounds(i + 1)) else None
      val slice = queries.where(hi.fold(col("vec_id") >= lo)(h =>
        col("vec_id") >= lo && col("vec_id") < h))
      perSlice(slice).localCheckpoint()
    }.reduce(_ unionByName _)
  }

  /** Write batch `name`'s per-cell row counts as a tiny `_hist.<name>`
    * text sidecar ("cell count" lines), computed by reading the
    * just-written directory's partition column only (parquet footer row
    * counts — no data pages decode). Every batch-producing write path
    * ([[append]], [[compact]]'s fold, [[retrain]]'s re-assigns) records
    * one, so the maintenance tick's [[skew]] probe is a metadata read. */
  private def writeHist(spark: SparkSession, f: org.apache.hadoop.fs.FileSystem,
                        gp: String, name: String): Unit = {
    val counts = scanCellCounts(spark, gp, name)
    // write-then-rename: a concurrent reader either sees the complete
    // sidecar or none at all (missing → the benign per-batch scan
    // fallback), never a torn prefix that would parse to wrong counts.
    // The tmp name uses its own prefix so no lister ever matches it;
    // [[compact]] sweeps any crash-orphaned tmp.
    val tmp = new Path(gp, s"$HistTmpPrefix$name")
    val dst = new Path(gp, s"$HistPrefix$name")
    MarkerLog.step("hist", tmp) {
      val o = f.create(tmp, true)
      try o.write(counts.toSeq.sorted.map { case (c, n) => s"$c $n" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally o.close()
    }
    MarkerLog.step("move", dst) {
      f.delete(dst, false)
      f.rename(tmp, dst)
    }
  }

  private def readHist(f: org.apache.hadoop.fs.FileSystem, gp: String,
                       name: String): Option[Map[Int, Long]] = {
    val p = new Path(gp, s"$HistPrefix$name")
    if (!f.exists(p)) None
    else try {
      val in = f.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(s.split("\n").filter(_.nonEmpty).map { l =>
        val sp = l.indexOf(' ')
        l.take(sp).toInt -> l.drop(sp + 1).toLong
      }.toMap)
    } catch { case _: java.io.IOException | _: NumberFormatException => None }
  }

  /** Per-cell row counts of ONE batch directory, from the parquet FOOTERS
    * directly on the driver — row-group record counts per `cell=` child,
    * no Spark job, no data pages (an append's sidecar write and the
    * repair fallback are both metadata-only and job-free; at gate scale
    * the alternative one-job read-back added ~0.3 s of fixed scheduling
    * overhead to EVERY append). */
  private def scanCellCounts(spark: SparkSession, gp: String,
                             name: String): Map[Int, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, gp)
    val base = new Path(s"$gp/batch=$name")
    f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map { cd =>
        val cell = cd.getPath.getName.drop("cell=".length).toInt
        val n = f.listStatus(cd.getPath).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map { st =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
            try rd.getRecordCount finally rd.close()
          }.sum
        cell -> n
      }.toMap
  }

  /** Per-cell live vector counts (missing cells = 0 occupancy) — summed
    * from the per-batch `_hist` sidecars every write path records, so the
    * maintenance tick reads a few KB of metadata instead of scanning the
    * index; a batch missing its sidecar (externally restored state) falls
    * back to a partition-column scan of THAT batch only. */
  def cellCounts(spark: SparkSession, dir: String): Map[Int, Long] =
    cellCountsIn(spark, requireGen(spark, dir))

  private def cellCountsIn(spark: SparkSession, g: Gen): Map[Int, Long] = {
    val gp = g.gp
    val f = fs(spark, gp)
    val live = g.state.live.filter(n => f.exists(new Path(s"$gp/batch=$n")))
    live.map(n => readHist(f, gp, n).getOrElse(scanCellCounts(spark, gp, n)))
      .foldLeft(Map.empty[Int, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (c, n)) => a.updated(c, a.getOrElse(c, 0L) + n) }
      }
  }

  /** Quantizer drift measure: max/mean cell occupancy over the k cells
    * (1.0 = perfectly balanced; k = everything in one cell). A metadata
    * read — [[cellCounts]] sums the `_hist` sidecars, never batch data. */
  def skew(spark: SparkSession, dir: String): Double = {
    val g = requireGen(spark, dir)
    val k = coarseIn(spark, g.gp).kEff
    val counts = cellCountsIn(spark, g)
    val total = counts.values.sum
    if (total == 0L) 1.0
    else counts.values.max.toDouble / (total.toDouble / k)
  }

  /** Test seam: observes the frozen re-assign relation [[retrain]] feeds
    * the new generation from — CI pins that its plan is a straight
    * parquet scan of the frozen batch listing (no Checkpoint / ExistingRDD
    * materialization of the corpus), then self-clears. */
  private[pipeline] val retrainReadTestHook =
    new java.util.concurrent.atomic.AtomicReference[DataFrame => Unit](null)

  /** Retrain the quantizer on a bounded sample of the live index and
    * rebuild into a NEW generation: fresh centroids, live vectors
    * re-assigned, replay detection carried, visibility flipped by ONE
    * commit. The retrain and every other writer race on that commit's
    * number: when any commit landed since the retrain's read, it throws,
    * having published nothing. On a product-quantized index the
    * CODEBOOKS retrain too (same M and Ks, per-subspace Lloyd on the same
    * bounded sample) and the rebuild re-encodes every live vector against
    * them — possible precisely because the appendable layout retains raw
    * vectors beside the codes.
    *
    * SCALE SHAPE: the generation and its live batch LISTING are frozen
    * once, and every pass below is a straight parquet scan of those
    * immutable directories — the only thing retrain pins to memory is
    * the bounded train sample (≤ `trainLimit` rows, feeding the coarse
    * Lloyd passes AND each PQ subspace's), never the corpus.
    *
    * REPLAY ACROSS THE FLIP (compact's grace discipline): batches
    * published less than `graceMs` ago keep PER-BATCH identity in the new
    * generation — re-assigned into their own `batch=<name>` directory,
    * live at their original publish time — so a streaming `foreachBatch`
    * replay that crosses the retrain still answers from its own batch
    * ([[readBatch]] — the survivor ID SET is assignment-invariant). Aged
    * batches fold into one directory and carry forward as folded names
    * only (a replay that old fails loud, as it does across a fold).
    *
    * The old generation's directories stay on disk for in-flight readers
    * until [[compact]]'s grace-window vacuum retires them. Returns the
    * new generation id. */
  def retrain(spark: SparkSession, dir: String, k: Int = 16, iters: Int = 5,
              trainLimit: Int = 100000,
              graceMs: Long = 15 * 60 * 1000L): Long = {
    val g = requireGen(spark, dir)
    val (gid, gp) = (g.gid, g.gp)
    val f = fs(spark, dir)
    val published = g.state(MarkerLog.Live)
    val now = System.currentTimeMillis()
    val recent = published.filter(_._2 > now - graceMs).keys.toSeq.sorted
    val aged = published.keys.toSeq.diff(recent).sorted
    // the frozen corpus view: an explicit-path parquet relation over the
    // live batch directories (immutable once published) — both the sample
    // pass and the re-assign passes read these same bytes
    val vecs = readColsIn(spark, g, Seq("cell", "cid", "ce"), cellSchema)
      .select(col("cid").as("vec_id"), col("ce").as("embedding"))
    Option(retrainReadTestHook.getAndSet(null)).foreach(_.apply(vecs))
    val sample = vecs.orderBy(col("vec_id")).limit(trainLimit)
      .localCheckpoint() // BOUNDED: ≤ trainLimit rows feed every Lloyd pass
    // nothing to learn from an empty index: the flip still happens (the
    // caller asked for a generation) but the quantizer carries unchanged
    val empty = sample.isEmpty
    val oldCoarse = coarseIn(spark, gp)
    // the quantizer retrains IN KIND: a flat generation trains k fresh
    // centroids; an IMI generation re-trains its two half codebooks at
    // their existing per-half K (k_eff = K² is the two-level shape's
    // invariant — resize by re-initializing, not by drift maintenance)
    val coarse: Coarse =
      if (empty) oldCoarse
      else oldCoarse match {
        case FlatCoarse(_) =>
          FlatCoarse(Similarity.trainCentroids(sample, k, iters, trainLimit))
        case ImiCoarse(h) =>
          // each half re-trains INDEPENDENTLY at its own K and its own
          // sub-width — IMI halves may be asymmetric (unequal entry
          // counts or an uneven dimension split), and the retrained
          // quantizer must keep the exact shape the index was built with
          val sub0 = h(0)(0).length
          val sub1 = h(1)(0).length
          def half(off: Int, len: Int): DataFrame = sample.select(
            col("vec_id"), slice(col("embedding"), off + 1, len).as("embedding"))
          ImiCoarse(Array(
            Similarity.trainCentroids(half(0, sub0), h(0).length, iters, trainLimit),
            Similarity.trainCentroids(half(sub0, sub1), h(1).length, iters, trainLimit)))
      }
    val oldCbs = codebooksIn(spark, gp)
    val oldRot = Similarity.readRotation(spark, gp)
    // an OPQ generation re-learns rotation AND codebooks together (the
    // alternation couples them); a plain-PQ one re-trains codebooks only
    val (newRot, newCbs) = (oldRot, oldCbs) match {
      case (_, _) if empty => (oldRot, oldCbs)
      case (Some(_), Some(old)) =>
        val (r2, c2) = Opq.train(sample, old.length, old(0).length,
          iters, trainLimit)
        (Some(r2), Some(c2))
      case (_, Some(old)) =>
        (None, Some(Similarity.trainCodebooks(sample, old.length, old(0).length,
          iters, trainLimit)))
      case _ => (None, None)
    }
    def rows(paths: Seq[String]): DataFrame =
      spark.read.option("basePath", gp)
        .schema(layoutSchema(withCodes = false)) // no inference job
        .parquet(paths: _*)
        .select(col("cid").as("vec_id"), col("ce").as("embedding"))
    val agedDirs = aged.filter(n =>
      f.exists(new Path(s"$gp/batch=$n")))
    val fold: Seq[(String, Option[DataFrame], Long)] =
      if (agedDirs.isEmpty) Nil
      else Seq((s"fold${gid + 1}",
        Some(rows(agedDirs.map(n => s"$gp/batch=$n"))), now))
    // recent batches CARRY their ORIGINAL publish timestamp: the replay
    // grace clock runs from the stream's append, not from this retrain —
    // re-stamping would reset their age on every retrain and, under
    // recurring retrains, no batch would ever age into a fold (unbounded
    // per-batch directory growth on a long stream)
    val recentBatches: Seq[(String, Option[DataFrame], Long)] = recent.map { n =>
      (n,
        if (f.exists(new Path(s"$gp/batch=$n")))
          Some(rows(Seq(s"$gp/batch=$n")))
        else None, // a name-only empty batch stays name-only
        published(n))
    }
    val batchesOut = fold ++ recentBatches
    val newGen = writeGen(spark, dir, gid + 1, coarse, newCbs, newRot, batchesOut)
    // ONE commit flips the generation, names the re-assigned batches at
    // their publish times and carries every other landed name as folded
    val flipped = log(spark, dir).commit { (v, s) =>
      if (v.next != g.next) None
      else Some(MarkerLog.IndexState(Map(
        MarkerLog.Gen -> Map(newGen -> (gid + 1)),
        MarkerLog.Live -> batchesOut.map { case (n, _, ts) => n -> ts }.toMap,
        MarkerLog.Seen -> (s(MarkerLog.Seen) ++ aged.map(_ -> now))), s.appended))
    }
    if (flipped.isEmpty) throw new IllegalStateException(
      s"IvfIndex at $dir: a concurrent commit landed while generation ${gid + 1} " +
        "was training — the retrain published nothing; re-run it")
    gid + 1
  }

  /** [[retrain]] when [[skew]] exceeds `maxSkew` — the maintenance-tick
    * form ([[Similarity.semDeDupSink]]'s `maintainEvery` calls it after
    * each compaction). The skew probe is a sidecar-metadata read, so an
    * idle tick costs no index scan. Returns the new generation id when a
    * retrain ran. */
  def maybeRetrain(spark: SparkSession, dir: String, maxSkew: Double = 4.0,
                   k: Int = 16, iters: Int = 5,
                   trainLimit: Int = 100000,
                   graceMs: Long = 15 * 60 * 1000L): Option[Long] =
    if (skew(spark, dir) > maxSkew)
      Some(retrain(spark, dir, k, iters, trainLimit, graceMs))
    else None

  /** Write generation `gid` — its quantizer files and the re-assigned
    * `batchesIn` — into a directory no earlier attempt used, and return
    * its name for the commit that publishes it. The first generation is
    * `gen-0`; every later one, and an init retried over a crashed one,
    * takes a fresh suffix, so nothing is cleared before reuse: an attempt
    * that crashed before its commit leaves an unnamed directory the
    * vacuum sweeps. */
  private def writeGen(spark: SparkSession, dir: String, gid: Long,
                       coarse: Coarse,
                       cbs: Option[Array[Array[Array[Double]]]],
                       rot: Option[Array[Array[Double]]],
                       batchesIn: Seq[(String, Option[DataFrame], Long)]): String = {
    val f = fs(spark, dir)
    val name =
      if (gid == 0L && !f.exists(new Path(dir, "gen-0"))) "gen-0"
      else s"gen-$gid-${MarkerLog.freshName()}"
    val gp = s"$dir/$name"
    MarkerLog.step("write", new Path(gp)) {
      // quantizer state is a driver array — direct driver parquet writes
      // ([[QuantizerFiles]]), no Spark job per file
      def writeCbs(b: Array[Array[Array[Double]]], path: String): Unit =
        QuantizerFiles.writeIntIntVec(spark, path,
          for ((cb, mm) <- b.zipWithIndex.toSeq; (v, j) <- cb.zipWithIndex)
            yield (mm, j, v))
      coarse match {
        case FlatCoarse(centroids) =>
          QuantizerFiles.writeIntVec(spark, s"$gp/centroids", "cell", "c",
            centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
        case ImiCoarse(halves) => writeCbs(halves, s"$gp/imicb")
      }
      cbs.foreach(writeCbs(_, s"$gp/codebooks"))
      rot.foreach(Similarity.writeRotation(spark, gp, _))
      batchesIn.foreach { case (batch, vectors, _) =>
        vectors.foreach { vecs =>
          val assigned = vecs.select(col("vec_id").as("cid"),
              col("embedding").cast("array<double>").as("ce"))
            .withColumn("cell", assignCol(coarse, col("ce")))
          cbs.fold(assigned.select("cell", "cid", "ce"))(b =>
              assigned.withColumn("codes",
                  Similarity.pqCodesCol(Similarity.rotatedCol(col("ce"), rot), b))
                .select("cell", "cid", "ce", "codes"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$gp/batch=$batch")
          writeHist(spark, f, gp, batch)
        }
      }
    }
    name
  }

  /** Freeze the CURRENT generation under `dir/snapshots/<name>/` — a
    * fully valid IvfIndex directory (the generation's quantizer files, its
    * live batches and their histogram sidecars, and its own commit,
    * numbered as the captured tip — [[MarkerLog.IndexLog.snapshot]]):
    * search, append and retrain all work
    * against a restored snapshot. Readers of the original never list
    * `snapshots/`, and a crashed capture publishes none. */
  def snapshot(spark: SparkSession, dir: String): String = {
    val f = fs(spark, dir)
    log(spark, dir).snapshot() { (st, out) =>
      val g = st.only(MarkerLog.Gen).getOrElse(throw new IllegalStateException(
        s"IvfIndex at $dir has no generation — call init() first"))._1
      val (gp, ogp) = (new Path(dir, g), new Path(out, g))
      MarkerLog.step("mkdirs", ogp)(f.mkdirs(ogp))
      Seq("centroids", "codebooks", "rotation", "imicb").map(new Path(gp, _))
        .filter(f.exists).foreach(q => MarkerLog.linkTree(f, q, new Path(ogp, q.getName)))
      // a batch a racing vacuum swept is left out; a live name without a
      // directory is an empty batch
      val gone = st.live.filter { n =>
        val b = new Path(gp, s"batch=$n")
        f.exists(b) && !MarkerLog.linkTreeTolerant(f, b, new Path(ogp, b.getName))
      }
      st.live.filterNot(gone.contains).foreach { n =>
        // a missing sidecar only costs the restored index the per-batch
        // repair scan, so a vanished one is skipped, not fatal
        try MarkerLog.link(f, new Path(gp, s"$HistPrefix$n"), new Path(ogp, s"$HistPrefix$n"))
        catch { case _: java.io.FileNotFoundException => () }
      }
      st.drop(MarkerLog.Live, gone)
    }
  }

  /** Driver budget for [[compact]]'s duplicate-cid probe ([[SigIndex]]'s
    * probedRows discipline) and the fold's output file-size goal. */
  private def MaxFoldDupProbe: Int =
    Option(maxFoldDupProbeOverride.get).map(_.intValue).getOrElse(100000)
  private val FoldTargetBytes = 128L * 1024 * 1024

  /** Test seam: lowers the fold's duplicate-probe budget so CI can drive
    * the full-row distinct fallback at spec scale. Production never sets
    * it ([[maxRerankCidProbeOverride]] pattern). */
  private[pipeline] val maxFoldDupProbeOverride =
    new java.util.concurrent.atomic.AtomicReference[Integer](null)

  /** Fold aged live batches of the CURRENT generation into one directory,
    * swapping them for it in one commit ([[MarkerLog.IndexLog.fold]]), then
    * vacuum ([[MarkerLog.IndexLog.vacuum]]): retired commits, the
    * generations and batches no remaining commit names (retired ones and
    * crash remnants alike, each batch with its histogram sidecar), and
    * partial snapshots of crashed captures. */
  def compact(spark: SparkSession, dir: String,
              graceMs: Long = 15 * 60 * 1000L): Unit = {
    val g = requireGen(spark, dir)
    val gp = g.gp
    val lg = log(spark, dir)
    val f = lg.fs
    def batchPath(n: String) = new Path(s"$gp/batch=$n")
    // the fold publishes only onto a tip naming the generation it read
    lg.fold(graceMs, _.only(MarkerLog.Gen).exists(_._2 == g.gid)) { (aged, foldName) =>
      // name-only EMPTY batches have no directory — they fold to their
      // folded name alone
      val agedDirs = aged.filter(n => f.exists(batchPath(n)))
      if (agedDirs.nonEmpty) MarkerLog.step("write", batchPath(foldName)) {
        // a PQ generation's rows carry the code column — fold it verbatim
        // (codes are deterministic per (vector, generation codebooks), so
        // the keyed dedup below collapses duplicate vectors exactly)
        // existence check only (and against THIS call's generation
        // resolution, not a fresh one) — the codebook VALUES are not
        // needed to know the fold's column set
        val pq = f.exists(new Path(s"$gp/codebooks"))
        val cols =
          if (pq) Seq("cell", "cid", "ce", "codes")
          else Seq("cell", "cid", "ce")
        def readAged() = spark.read.option("basePath", gp)
          .schema(layoutSchema(withCodes = pq)) // no inference job
          .parquet(agedDirs.map(batchPath(_).toString): _*)
        // SET-SEMANTICS dedup (a vector appended under two batch names
        // sits in two batch dirs; an append whose input repeats a vec_id
        // lands the copies in one) on the KEYS, not the rows: within one generation
        // `cid` determines (cell, ce, codes) — same quantizer, same
        // deterministic encode — so the old full-row distinct() shuffled
        // the embedding/code arrays only to compare keys (guide §2.3
        // "shuffle keys and metadata instead of payloads"). Pass 1 scans
        // cid alone (column-pruned — no array pages decode) and finds cids
        // with more than one row; in the common duplicate-free case the
        // payload then moves source→fold with NO exchange at all, and
        // otherwise only the bounded duplicated cids' rows go through a
        // distinct (joined against a broadcast of the cid set). A
        // duplicate set past the driver budget (mass duplication —
        // repeatedly crashed folds) falls back to the full-row distinct.
        val copies = readAged()
          .groupBy(col("cid")).count()
          .where(col("count") > 1)
          .take(MaxFoldDupProbe + 1)
        val folded =
          if (copies.length > MaxFoldDupProbe)
            readAged().select(cols.map(col): _*).distinct()
          else if (copies.isEmpty)
            readAged().select(cols.map(col): _*)
          else {
            import spark.implicits._
            val dups = broadcast(copies.map(_.getLong(0)).toSeq.toDF("cid"))
            val aged = readAged().select(cols.map(col): _*)
            aged.join(dups, Seq("cid"), "left_anti")
              .unionByName(aged.join(dups, Seq("cid")).select(cols.map(col): _*).distinct())
          }
        // scale-adaptive output sizing replaces the removed exchange's
        // AQE coalescing: merge scan partitions locally (no shuffle) to
        // ~targetBytes outputs so the fold actually shrinks file counts
        val agedBytes = agedDirs.map(n => f.getContentSummary(batchPath(n)).getLength).sum
        val nOut = math.max(1, (agedBytes / FoldTargetBytes).toInt)
        folded.coalesce(nOut)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(batchPath(foldName).toString)
        writeHist(spark, f, gp, foldName)
      }
      agedDirs.nonEmpty
    }
    // crash-orphaned histogram tmp files (a writeHist that died between
    // create and rename) sweep once past the grace window
    val now = System.currentTimeMillis()
    f.listStatus(new Path(gp)).toSeq.foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(HistTmpPrefix) &&
          st.getModificationTime <= now - graceMs)
        MarkerLog.step("sweep", st.getPath)(f.delete(st.getPath, false))
    }
    // a swept batch's histogram sidecar goes with it
    lg.vacuum(graceMs, onSweep = p => if (p.getName.startsWith("batch=")) {
      val h = new Path(p.getParent, HistPrefix + p.getName.drop("batch=".length))
      MarkerLog.step("sweep", h)(f.delete(h, false))
    })
    MarkerLog.sweepSnapshots(f, new Path(dir), graceMs)
  }
}
