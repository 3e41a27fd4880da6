package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Kernels
import graft.promql.Parser
import graft.testkit.SharedSpark

/** Property tests (SURVEY §5 test plan: ScalaCheck for sanitizers/
  * matchers): ingest sanitization always yields legal names, duration
  * round-trips, quantile bounds/monotonicity. Deterministic seeds so runs
  * are reproducible. */
class PropertySpec extends AnyFunSuite with SharedSpark {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("sanitized metric names always match [A-Za-z_:][A-Za-z0-9_:]*") {
    val gen = samples(Gen.asciiPrintableStr.suchThat(_.nonEmpty), 60)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(gen.map(Row(_)), 2),
      StructType(Seq(StructField("raw", StringType))))
    val out = df.select(graft.streaming.Nozzle.sanitizeName(col("raw")).as("n"))
      .collect().map(_.getString(0))
    assert(out.forall(_.matches("[A-Za-z_:][A-Za-z0-9_:]*")), out.mkString(","))
  }

  test("CanonicalLabels matches the builtin-HOF formulation and round-trips") {
    // random label maps (sanitized charset, as ingest guarantees)
    val keyGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
    val valGen = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString.take(12))
    val mapGen = Gen.mapOf(Gen.zip(keyGen, valGen)).map(_.take(6))
    val maps = samples(mapGen, 80)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(maps.map(Row(_)), 2),
      StructType(Seq(StructField("m", MapType(StringType, StringType)))))
    val hof = concat_ws("\u0001",
      transform(array_sort(map_entries(col("m"))),
        e => concat_ws("\u0002", e.getField("key"), e.getField("value"))))
    val out = df.select(
      graft.model.Points.canonical(col("m")).as("native"),
      hof.as("hof"),
      graft.engine.Labels.fromCanonical(
        graft.model.Points.canonical(col("m"))).as("roundtrip"),
      col("m"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("native") == r.getAs[String]("hof"),
        s"native != hof for ${r.getAs[Map[String, String]]("m")}")
      assert(r.getAs[Map[String, String]]("roundtrip") == r.getAs[Map[String, String]]("m"))
    }
  }

  test("adversarial labels containing the separator bytes round-trip exactly") {
    // label VALUES are arbitrary in the reference (only names/label names
    // are sanitized) — the canonical codec escapes its own separators, so
    // \u0001/\u0002/\u0003 text must survive the string round-trip AND two
    // different maps must never canonicalize to one string
    val sepChars = Gen.oneOf('\u0001', '\u0002', '\u0003', 'a', 'b', '=')
    val advVal = Gen.listOfN(6, sepChars).map(_.mkString)
    val keyGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(6))
    val mapGen = Gen.mapOf(Gen.zip(keyGen, advVal)).map(_.take(4))
    val maps = samples(mapGen, 120) ++ Seq(
      // the classic corruption pair: without escaping these collide
      Map("a" -> "xby"),
      Map("a" -> "x", "b" -> "y"),
      Map("a" -> "\u0003"),
      Map("a" -> ""),
      Map("k" -> "v"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(maps.map(Row(_)), 2),
      StructType(Seq(StructField("m", MapType(StringType, StringType)))))
    val out = df.select(
      graft.model.Points.canonical(col("m")).as("c"),
      graft.engine.Labels.fromCanonical(
        graft.model.Points.canonical(col("m"))).as("roundtrip"),
      col("m"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Map[String, String]]("roundtrip") == r.getAs[Map[String, String]]("m"),
        s"round-trip failed for ${r.getAs[Map[String, String]]("m")}")
    }
    // injectivity over this adversarial sample: distinct maps -> distinct
    // canonical strings (series identity cannot be corrupted)
    val byCanonical = out.groupBy(_.getAs[String]("c"))
    byCanonical.foreach { case (c, rows) =>
      assert(rows.map(_.getAs[Map[String, String]]("m")).distinct.length == 1,
        s"two different maps share canonical '$c'")
    }
  }

  test("slim dictionary path equals the full path on adversarial random stores")(withSlimPlan {
    // END-TO-END property: random points with separator-bearing label
    // values are written through the real store, then a battery of query
    // shapes (matchers, aggregation, kernel chain, binop, set op, topk)
    // must return IDENTICAL results with and without the series
    // dictionary — the slim path (sig-only exchanges, dictionary-
    // evaluated matchers, derived dictionaries) can never diverge from
    // the label-carrying semantics, whatever bytes the labels hold.
    import graft.sources.PointsStore
    import graft.engine.Engine
    val t0 = 1704067200000L
    val sepChars = Gen.oneOf('\u0001', '\u0002', '\u0003', 'x', 'y', '=', ' ')
    val advVal = Gen.listOfN(5, sepChars).map(_.mkString)
    val keyGen = Gen.oneOf("ka", "kb", "kc")
    val mapGen = Gen.mapOf(Gen.zip(keyGen, advVal)).map(_.take(3))
    val maps = samples(mapGen, 150)
    val rows = maps.zipWithIndex.map { case (m, i) =>
      Row(if (i % 3 == 0) "m2" else "m1", m,
        t0 + (i % 48) * 3600000L, (i % 7).toDouble)
    }
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("labels", MapType(StringType, StringType)),
      StructField("t", LongType), StructField("value", DoubleType)))
    val pts = graft.model.Points.withSig(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
    val dir = java.nio.file.Files.createTempDirectory("prop_dict").toString
    PointsStore.append(pts, dir)
    PointsStore.compact(spark, dir)
    val tick = t0 + 48 * 3600000L
    val stored = PointsStore.read(spark, dir, t0, tick)
    val dict = PointsStore.readDict(spark, dir)
    assert(dict.isDefined)

    // matcher values drawn from the data itself (quote/backslash-free so
    // the PromQL text layer is not the thing under test here)
    val someVal = maps.flatMap(_.get("ka")).headOption.getOrElse("")
    val queries = Seq(
      "m1",
      s"""m1{ka="$someVal"}""",
      s"""{__name__=~"m1|m2", ka!="$someVal"}""",
      "sum by (ka) (m1)",
      "avg without (kb) (m1)",
      "topk(3, m1)",
      "count_over_time(m1[1d])",
      "sum by (kb) (last_over_time(m1[2d]))",
      "m1 and on(ka) m2",
      "m1 or m2",
      "sum by (ka) (m1) / on(ka) sum by (ka) (m1)")
    for (q <- queries) {
      def res(d: Option[org.apache.spark.sql.DataFrame]) = {
        val out = Engine.instantQuery(spark, stored, q, tick, lookbackMs = 49 * 3600000L,
          seriesDict = d)
        // the two sides must run different plans: only the slim one reads the dictionary
        assert(readsDict(out.queryExecution.analyzed) == d.isDefined,
          s"the ${if (d.isDefined) "slim" else "full"} side plans the wrong path for: $q")
        out.select(coalesce(col("name"), lit("")),
            to_json(array_sort(map_entries(col("labels")))),
            col("t"), col("value"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            // NaN-safe: primitive NaN != NaN breaks tuple/set equality
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
      }
      val withDict = res(dict)
      val withoutDict = res(None)
      assert(withDict == withoutDict,
        s"slim path diverges for: $q\n  only-dict: ${(withDict -- withoutDict).take(4)}\n  only-full: ${(withoutDict -- withDict).take(4)}")
    }
  })

  test("alternating-star components equal a union-find reference on random graphs") {
    import spark.implicits._
    // several random graph shapes: sparse, dense, chain-heavy
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(1000L + seed)
      val n = 20 + rnd.nextInt(40)
      val nEdges = seed match {
        case s if s % 3 == 0 => n / 2 // forest-ish: many components
        case s if s % 3 == 1 => n * 3 // dense
        case _ => n // chains + cycles
      }
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: plain union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical label = min member of each component
      val members = parent.keys.toSeq.groupBy(find)
      val want = members.flatMap { case (_, ms) =>
        val label = ms.min; ms.map(_ -> label)
      }.toMap
      val got = graft.pipeline.Dedup.components(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed $seed: n=$n edges=${edges.length}")
    }
  }

  test("substring equality matchers are exact on adversarial label names") {
    // a label NAME containing the entry separator must not false-positive
    // an unrelated matcher: with the shifted escape, raw \u0001 occurs
    // only at true entry boundaries, so the k="v" substring pattern cannot
    // match inside the escaped name "a\u0001k"
    import graft.promql.{LabelMatcher, MatchOp}
    val maps = Seq(Map("a\u0001k" -> "v"), Map("k" -> "v"), Map("k" -> "w"))
    val df = graft.model.Points.withCanonical(spark.createDataFrame(
      spark.sparkContext.parallelize(maps.map(m => Row("m", m, 0L, 1.0)), 1),
      StructType(Seq(
        StructField("name", StringType),
        StructField("labels", MapType(StringType, StringType)),
        StructField("t", LongType), StructField("value", DoubleType)))))
    val hits = df.where(graft.engine.Compiler.matcherFilter(
        Seq(LabelMatcher("k", MatchOp.Eq, "v")), useLc = true))
      .select("labels").collect().map(_.getAs[Map[String, String]](0)).toSet
    assert(hits == Set(Map("k" -> "v")), s"false positives: $hits")
    // the same selector through the map path agrees
    val viaMap = df.where(graft.engine.Compiler.matcherFilter(
        Seq(LabelMatcher("k", MatchOp.Eq, "v")), useLc = false))
      .select("labels").collect().map(_.getAs[Map[String, String]](0)).toSet
    assert(viaMap == hits)
  }

  test("CanonicalLabels keep/drop filters match map_filter-then-canonical") {
    val maps = Seq(
      Map("a" -> "1", "b" -> "2", "c" -> "3"),
      Map("b" -> "x"),
      Map.empty[String, String],
      Map("z" -> "", "a" -> "v"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(maps.map(Row(_)), 1),
      StructType(Seq(StructField("m", MapType(StringType, StringType)))))
    val keys = Seq("a", "c")
    val out = df.select(
      graft.engine.CanonicalLabels.keepColumn(col("m"), keys).as("k"),
      graft.model.Points.canonical(
        map_filter(col("m"), (k, _) => k.isInCollection(keys))).as("kRef"),
      graft.engine.CanonicalLabels.dropColumn(col("m"), keys).as("d"),
      graft.model.Points.canonical(
        map_filter(col("m"), (k, _) => !k.isInCollection(keys))).as("dRef"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("k") == r.getAs[String]("kRef"))
      assert(r.getAs[String]("d") == r.getAs[String]("dRef"))
    }
  }

  test("duration parse: composed units sum") {
    val cases = samples(for {
      h <- Gen.choose(0, 48); m <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
    } yield (h, m, s), 100).filter { case (h, m, s) => h + m + s > 0 }
    cases.foreach { case (h, m, s) =>
      val str = (if (h > 0) s"${h}h" else "") +
        (if (m > 0) s"${m}m" else "") + (if (s > 0) s"${s}s" else "")
      assert(Parser.parseDuration(str) == h * 3600000L + m * 60000L + s * 1000L, str)
    }
  }

  test("goQuantile: bounded by min/max, monotone in φ") {
    val cases = samples(for {
      vs <- Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))
      q1 <- Gen.choose(0.0, 1.0); q2 <- Gen.choose(0.0, 1.0)
    } yield (vs, q1, q2), 200)
    cases.foreach { case (vs, q1, q2) =>
      val (lo, hi) = (math.min(q1, q2), math.max(q1, q2))
      val a = Kernels.goQuantile(vs, lo)
      val b = Kernels.goQuantile(vs, hi)
      assert(a >= vs.min - 1e-9 && b <= vs.max + 1e-9)
      assert(a <= b + 1e-9)
    }
  }

  test("parser round-trips selector structure for arbitrary label values") {
    val cases = samples(for {
      label <- Gen.alphaLowerStr.suchThat(s => s.nonEmpty && s.length < 10)
      value <- Gen.asciiPrintableStr.suchThat(s => !s.contains("\\") && !s.contains("\""))
    } yield (label, value), 100)
    cases.foreach { case (label, value) =>
      val q = s"""metric{$label="${value}"}"""
      val parsed = Parser.parse(q).asInstanceOf[graft.promql.VectorSelector]
      assert(parsed.name.contains("metric"))
      assert(parsed.matchers.head.value == value, q)
    }
  }

  test("NibbleSpread matches the conv(substring) bit decomposition") {
    val hexGen = Gen.listOfN(32, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)
    val hexes = samples(hexGen, 40)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(hexes.map(Row(_)), 2),
      StructType(Seq(StructField("h", StringType))))
    val got = df.select(graft.pipeline.NibbleSpread.column(col("h")).as("ps"))
      .collect().map(_.getSeq[Long](0).toVector)
    val ref = df.select(array((0 until 16).map { i =>
      val nib = conv(substring(col("h"), i + 1, 1), 16, 10).cast("long")
      (0 until 4).map(b =>
        shiftleft(shiftright(nib, b).bitwiseAND(lit(1L)), 16 * b)).reduce(_ + _)
    }: _*).as("ps")).collect().map(_.getSeq[Long](0).toVector)
    assert(got.toSeq == ref.toSeq)
  }

  test("BoundedCollect equals collect_list under the cap, truncates over it") {
    val n = 300
    val df = spark.range(n).select((col("id") % 7).as("g"), col("id"))
    // generous cap: same multiset as collect_list per group
    val under = df.groupBy(col("g"))
      .agg(graft.pipeline.BoundedCollect.column(col("id"), 1000).as("b"),
        collect_list(col("id")).as("c"))
      .collect()
    assert(under.forall(r =>
      r.getSeq[Long](1).sorted == r.getSeq[Long](2).sorted))
    // tight cap: exactly cap+1 elements survive (the overflow marker)
    val over = df.groupBy(col("g"))
      .agg(graft.pipeline.BoundedCollect.column(col("id"), 10).as("b"))
      .collect()
    assert(over.forall(_.getSeq[Long](1).length == 11))
  }

  test("relabel replace expands captures; keep/drop filter exactly") {
    import graft.sources.Scrape
    val hostGen = for {
      h <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))
      p <- Gen.choose(1, 65535)
    } yield s"$h:$p"
    val rules = Seq(
      Scrape.RelabelRule(sourceLabels = Seq("__address__"),
        regex = "([a-z]+):(\\d+)", targetLabel = "host", replacement = "$1"),
      Scrape.RelabelRule(action = "drop", sourceLabels = Seq("host"), regex = "zz.*"))
    samples(hostGen, 50).foreach { addr =>
      val out = Scrape.relabel(Map("__address__" -> addr), rules)
      val host = addr.takeWhile(_ != ':')
      if (host.startsWith("zz")) assert(out.isEmpty)
      else assert(out.get("host") == host, s"$addr -> $out")
    }
  }

  test("OTLP export requests round-trip the wire codec for arbitrary payloads") {
    import graft.api.Otlp
    // every list is SIZE-BOUNDED up front (listOfN, not listOf): the
    // nesting is 4 levels deep, and default-sized listOf would generate
    // ~100-element lists at every level before any take()
    def few[A](max: Int, g: Gen[A]): Gen[List[A]] =
      Gen.choose(0, max).flatMap(n => Gen.listOfN(n, g))
    val attrGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(10)),
      Gen.asciiPrintableStr.map(_.take(16)))
    val attrsGen = few(3, attrGen)
    val numGen = for {
      attrs <- attrsGen
      t <- Gen.choose(0L, 1L << 60)
      v <- Gen.oneOf(Gen.choose(-1e12, 1e12), Gen.oneOf(0.0, -0.0, 1.5e-300))
      flags <- Gen.oneOf(0, 1)
    } yield Otlp.NumberPoint(attrs, t, v, flags)
    val histGen = for {
      attrs <- attrsGen
      t <- Gen.choose(0L, 1L << 60)
      counts <- few(5, Gen.choose(0L, 1000000L))
      bounds <- few(4, Gen.choose(-100.0, 100.0))
      sum <- Gen.option(Gen.choose(-1e6, 1e6))
    } yield Otlp.HistogramPoint(attrs, t, counts.sum, sum, counts, bounds)
    val sumGen = for {
      attrs <- attrsGen
      t <- Gen.choose(0L, 1L << 60)
      count <- Gen.choose(0L, 1000L)
      s <- Gen.choose(-1e6, 1e6)
      qs <- few(3, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(-1e6, 1e6)))
    } yield Otlp.SummaryPoint(attrs, t, count, s, qs)
    val metricGen = for {
      name <- Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('.'))).map(_.mkString.take(20))
      unit <- Gen.oneOf("", "s", "By", "1", "By/s", "{packets}")
      data <- Gen.oneOf(
        few(3, numGen).map(Otlp.Gauge(_)),
        for { ps <- few(3, numGen); t <- Gen.oneOf(1, 2); m <- Gen.oneOf(true, false) }
          yield Otlp.Sum(ps, t, m),
        few(2, histGen).map(Otlp.Histogram(_, 2)),
        few(2, sumGen).map(Otlp.Summary(_)),
        few(2, Gen.choose(0L, 1L << 60)).map(ts => Otlp.ExpHistogram(ts)))
    } yield Otlp.Metric(name, unit, data)
    val reqGen = few(3, for {
      attrs <- attrsGen
      ms <- few(3, metricGen)
    } yield Otlp.ResourceMetrics(attrs, ms))
    samples(reqGen, 60).foreach { req =>
      assert(Otlp.decode(Otlp.encode(req)) == req, s"round-trip diverged for $req")
      // translation is total: never throws, errors only for the
      // documented rejection classes
      val tr = Otlp.toRows(req)
      tr.rows.foreach(r => assert(r.t >= 0))
    }
  }
}
