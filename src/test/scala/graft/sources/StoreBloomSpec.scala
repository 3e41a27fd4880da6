package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Points
import graft.testkit.SharedSpark

/** Parquet bloom filters on (name, sig): the per-row-group series index
  * that keeps a lone-series selector from scanning a whole 100 TB day.
  * Row groups with few distinct sigs are fully dictionary-encoded and
  * parquet (correctly) skips the bloom there — the dictionary page itself
  * row-group-filters exactly — so this spec builds a store PAST the
  * dictionary fallback point (>128k distinct series per row group) and
  * asserts the bloom takes over: present in the footer, and an
  * absent-but-in-range sig probe skips every row group that plain
  * min/max stats keep.
  *
  * Reference analog: TSM's per-file series-key index
  * (vendor/github.com/influxdata/influxdb/tsdb/engine/tsm1/DESIGN.md).
  */
class StoreBloomSpec extends AnyFunSuite with SharedSpark {

  private val t0 = 1704067200000L

  /** 150k series × 3 samples on one UTC day, written with a shrunken
    * row-group size AND dictionary page budget so each row group holds
    * far more distinct sigs than its dictionary page can index — the
    * miniature of the fleet-scale regime (millions of series per 128 MB
    * row group overflowing the default 1 MB dictionary page): `sig`
    * falls back to PLAIN mid-chunk, which is exactly when parquet starts
    * writing the bloom filter (a fully dictionary-encoded chunk skips it
    * — the dictionary page already row-group-filters exactly). */
  private def buildStore(): String = {
    val dir = Files.createTempDirectory("bloom-store").toString
    withSmallPages {
      val pts = Points.withSig(spark.range(450000L).select(
        lit("fleet_metric").as("name"),
        map(lit("instance"), (col("id") % 150000L).cast("string")).as("labels"),
        (lit(t0) + expr("id div 150000") * 60000L).as("t"),
        lit(1.0).as("value")))
      PointsStore.append(pts.repartition(1), dir)
    }
    dir
  }

  private def withSmallPages[A](body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = Seq("parquet.block.size", "parquet.dictionary.page.size")
      .map(k => k -> hc.get(k))
    // the store row is wide (labels map + canonical string), so a 1 MB
    // row group holds ~10k rows ≈ 3k distinct sigs; the dictionary page
    // must sit well below that (16 KB = 2048 sig entries) for the
    // overflow→PLAIN→bloom regime to engage at test scale
    hc.setInt("parquet.block.size", 1 << 20)
    hc.setInt("parquet.dictionary.page.size", 1 << 14)
    try body
    finally prev.foreach {
      case (k, null) => hc.unset(k)
      case (k, v) => hc.set(k, v)
    }
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("date="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).toSeq

  test("appended files carry sig bloom filters once dictionary encoding gives out") {
    val dir = buildStore()
    val conf = spark.sparkContext.hadoopConfiguration
    val file = dataFiles(dir).head
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      assert(blocks.length >= 3, s"want multiple row groups, got ${blocks.length}")
      val sigBlooms = blocks.count { b =>
        val c = b.getColumns.asScala.find(_.getPath.toDotString == "sig").get
        rdr.getBloomFilterDataReader(b).readBloomFilter(c) != null
      }
      assert(sigBlooms > 0, "no row group carries a sig bloom filter")

      // a sig probe INSIDE every row group's [min, max] but absent from
      // the data: min/max stats alone cannot skip a single group (hash
      // sigs span the whole range), the bloom must skip them all
      val present = spark.read.parquet(dir).select("sig").distinct()
        .collect().map(_.getLong(0)).toSet
      var absent = 1234567890123456L
      while (present(absent)) absent += 1
      def liveRowGroups(useBloom: Boolean): Int = {
        val pred = org.apache.parquet.filter2.predicate.FilterApi.eq(
          org.apache.parquet.filter2.predicate.FilterApi.longColumn("sig"),
          java.lang.Long.valueOf(absent))
        val opts = org.apache.parquet.HadoopReadOptions
          .builder(conf, new org.apache.hadoop.fs.Path(file.toString))
          .withRecordFilter(org.apache.parquet.filter2.compat.FilterCompat.get(pred))
          .useStatsFilter(true).useDictionaryFilter(true).useBloomFilter(useBloom)
          .build()
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(file.toString), conf), opts)
        try r.getRowGroups.size finally r.close()
      }
      val withBloom = liveRowGroups(useBloom = true)
      val statsOnly = liveRowGroups(useBloom = false)
      assert(withBloom < statsOnly,
        s"bloom skipped nothing: $withBloom row groups with bloom, $statsOnly without")
      assert(withBloom == 0,
        s"absent-sig probe should skip every row group, $withBloom remain")
    } finally rdr.close()
  }

  test("lone-series selector pushes In(sig) to the scan and matches the semi-join result")(withSlimPlan {
    val dir = buildStore()
    val read = PointsStore.read(spark, dir, t0, t0 + 3600000L)
    val dict = PointsStore.readDict(spark, dir)
    assert(dict.isDefined)
    val out = graft.engine.Engine.instantQuery(spark, read,
      """fleet_metric{instance="42"}""", t0 + 180000L, seriesDict = dict)
    // the matcher resolves to ONE series on the dict; the selector must
    // ship it as a pushed In/EqualTo predicate on sig, not a semi-join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").matches("(?s).*PushedFilters:[^\\]]*sig.*"),
      s"sig not pushed to scan:\n${plan.take(2000)}")
    val rows = out.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Map[String, String]]("labels") == Map("instance" -> "42"))
    assert(rows.head.getAs[Double]("value") == 1.0)
  })

  test("repeated lone-series selector plans without re-running the dict probe") {
    val dir = buildStore()
    val read = PointsStore.read(spark, dir, t0, t0 + 3600000L)
    // slim plan pinned one byte below this read rather than at 0: a zero
    // open cost also splits the small dictionary into a partition per core,
    // and the probe's take() would run a core-count-dependent number of jobs
    graft.engine.Engine.withPlanThreshold(spark,
        graft.engine.Engine.touchedBytes(read) - 1) {
      def query() = graft.engine.Engine.instantQuery(spark, read,
        """fleet_metric{instance="41"}""", t0 + 180000L,
        seriesDict = PointsStore.readDict(spark, dir))
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      def jobsDuring(f: => Unit): Int = {
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        counter.set(0)
        f
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        counter.get
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val cold = jobsDuring { query() } // pays the take(65) probe job
        val warm = jobsDuring { query() } // memoized: same dict files, same selector
        assert(warm == cold - 1,
          s"expected the repeat to skip exactly the probe job (cold=$cold warm=$warm)")
        // the memoized plan still ships the pushed In(sig) predicate
        val plan = query().queryExecution.executedPlan.toString
        assert(plan.replaceAll("\\s", "").matches("(?s).*PushedFilters:[^\\]]*sig.*"))
        // a store mutation flips the dict file set and re-arms the probe
        val extra = Points.withSig(spark.range(1L).select(
          lit("fleet_metric").as("name"),
          map(lit("instance"), lit("fresh")).as("labels"),
          lit(t0).as("t"), lit(3.0).as("value")))
        PointsStore.append(extra, dir)
        val afterAppend = jobsDuring { query() }
        // >= cold: the probe re-runs (take() may escalate through an extra
        // job on the now-fragmented multi-file dict)
        assert(afterAppend >= cold,
          s"append must invalidate the probe cache (cold=$cold after=$afterAppend)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("compacted rewrites keep the bloom filters") {
    val dir = buildStore()
    // second append fragments the day so compact actually rewrites
    val extra = Points.withSig(spark.range(1L).select(
      lit("fleet_metric").as("name"),
      map(lit("instance"), lit("x")).as("labels"),
      lit(t0).as("t"), lit(2.0).as("value")))
    PointsStore.append(extra, dir)
    withSmallPages {
      PointsStore.compact(spark, dir, targetBytes = 4L << 20, graceMs = 0L)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val compacted = dataFiles(dir).filter(_.getName.startsWith("compacted-"))
    assert(compacted.nonEmpty)
    val anyBloom = compacted.exists { f =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try rdr.getFooter.getBlocks.asScala.exists { b =>
        val c = b.getColumns.asScala.find(_.getPath.toDotString == "sig").get
        rdr.getBloomFilterDataReader(b).readBloomFilter(c) != null
      } finally rdr.close()
    }
    assert(anyBloom, "no compacted row group carries a sig bloom filter")
  }
}
