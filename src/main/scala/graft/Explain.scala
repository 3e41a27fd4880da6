package graft

/** Plan inspection: prints `.explain("formatted")` for the named queries
  * (or a default headline set) so scan pushdown, broadcast choices, and
  * shuffle counts can be audited per round.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_sel_instant", "q_fn_rate", "q_agg_sum_by", "q_binop_arith",
        "q_fn_histogram_quantile", "q_agg_quantile", "q_sim_topk", "q_sim_ivf",
        "q_dedup_minhash", "q_dedup_simhash_pairs", "q_dedup_exact",
        "q_mm_decode_real")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    // canary gates live in Bench over the reusable bench store: resolve
    // their DataFrames here so the scan-ceiling plans are auditable too
    // (building the store first, as Bench does, on a fresh checkout)
    val store = sys.env.getOrElse("SPARK_GRAFT_BENCH_STORE", "target/bench-store") + "/c10x"
    val canaryDfs = Bench.canaryFrames(spark, store, "canary10x").toMap
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None if canaryDfs.contains(n) =>
          Bench.ensureStore(spark, store, Bench.N_SERIES * 10)
          canaryDfs(n)().explain("formatted")
        case None => println(s"unknown query $n")
      }
    }
    spark.stop()
  }
}
