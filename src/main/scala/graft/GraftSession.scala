package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's SparkSession confs live. Every main and the
  * shared test fixture build from [[builder]], so the oracle dump, the
  * bench, the server and the plan printer all run the same physical plans.
  *
  * `SPARK_GRAFT_CPUS` sets the local core count (and the shuffle
  * partitions); it defaults to the JVM's available processors. */
object GraftSession {

  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // PromQL needs IEEE ÷0 → ±Inf/NaN; Spark 4 turns ANSI on by default
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    // the range kernels and bottom-k heaps are TypedImperativeAggregates →
    // ObjectHashAggregate, which silently falls back to SORT-based
    // aggregation past 128 keys per partition (Spark's default); at fleet
    // scale that sorts the exploded window rows on every rate-family
    // query, while the kernel buffers hold only a window's samples
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
    // Spark's generated-code cache holds 100 classes by default, and in
    // local mode a class takes two entries (the key includes the compiling
    // thread's class loader, and the query thread's and the task threads'
    // differ): a server's dashboard shapes and its appends evicted one
    // another and compiled again on every refresh. Static: read when the
    // cache is built
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    .config("spark.ui.enabled", "false")

  /** A session from [[builder]] with the log level the mains run at. */
  def create(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
