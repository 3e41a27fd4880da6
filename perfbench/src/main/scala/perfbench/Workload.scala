package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode

/** Labels of one series as the API renders them (`__name__` included). */
object Labels {
  type T = Map[String, String]
}

/** The week-deep store every workload starts from, in closed form: series
  * `s` is a counter sampled once a minute whose value at minute `m` (since
  * `t0`) is `m × (1 + s mod 5)`. One week is 10,080 points per series, the
  * reference blackbox canary's weekly count. */
final case class WeekStore(t0: Long, series: Int) {
  val Minutes = 10080
  val Name = "bench_counter"
  def k(s: Int): Int = 1 + s % 5
  def instance(s: Int): String = s"i${s % 16}"
  def labels(s: Int): Labels.T =
    Map("__name__" -> Name, "job" -> "bench", "instance_id" -> instance(s), "series" -> s"s$s")
  def tEnd: Long = t0 + Minutes * 60000L
  def points: Long = series.toLong * Minutes
  /** Newest sample minute at or before `t` (t inside the week). */
  def minuteAt(t: Long): Int = ((t - t0) / 60000L).toInt
}

/** Remote-write batches in closed form: shard `sh` owns `seriesPerShard`
  * series of `bench_ingest`; batch `b` carries `ticks` samples of each,
  * `tickMs` apart, continuing the shard's timeline. A sample's value is
  * `(1 + series mod 5) × seconds since t0`, so `irate` and `deriv` of any
  * two or more stored samples of a series equal `1 + series mod 5`. */
final case class IngestFeed(t0: Long, seriesPerShard: Int = 200, ticks: Int = 5,
                            tickMs: Long = 15000L) {
  val Name = "bench_ingest"
  def samplesPerBatch: Int = seriesPerShard * ticks
  def k(s: Int): Int = 1 + s % 5
  def labels(shard: String, s: Int): Labels.T =
    Map("__name__" -> Name, "job" -> "bench", "shard" -> shard, "series" -> s"s$s")
  def times(batch: Int): Seq[Long] =
    (0 until ticks).map(j => t0 + (batch.toLong * ticks + j) * tickMs)
  def value(s: Int, t: Long): Double = k(s) * ((t - t0) / 1000.0)
  def batch(shard: String, b: Int): Seq[(Labels.T, Seq[(Long, Double)])] =
    (0 until seriesPerShard).map(s => labels(shard, s) -> times(b).map(t => t -> value(s, t)))
  /** Snappy-compressed prompb WriteRequest, encoded here rather than with
    * the program's own encoder so a shared encode/decode defect cannot
    * hide. */
  def body(shard: String, b: Int): Array[Byte] = RemoteWriteWire.encode(batch(shard, b))
}

object RemoteWriteWire {
  private def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }
  private def field(o: ByteArrayOutputStream, num: Int, bytes: Array[Byte]): Unit = {
    varint(o, (num << 3 | 2).toLong); varint(o, bytes.length.toLong); o.write(bytes)
  }
  def encode(series: Seq[(Labels.T, Seq[(Long, Double)])]): Array[Byte] = {
    val req = new ByteArrayOutputStream
    for ((labels, samples) <- series) {
      val ts = new ByteArrayOutputStream
      for ((n, v) <- labels.toSeq.sorted) {
        val l = new ByteArrayOutputStream
        field(l, 1, n.getBytes(UTF_8)); field(l, 2, v.getBytes(UTF_8))
        field(ts, 1, l.toByteArray)
      }
      for ((t, v) <- samples) {
        val s = new ByteArrayOutputStream
        varint(s, 1 << 3 | 1)
        val bits = java.lang.Double.doubleToLongBits(v)
        (0 until 8).foreach(i => s.write(((bits >>> (8 * i)) & 0xff).toInt))
        varint(s, 2 << 3); varint(s, t)
        field(ts, 2, s.toByteArray)
      }
      field(req, 1, ts.toByteArray)
    }
    org.xerial.snappy.Snappy.compress(req.toByteArray)
  }
}

/** One PromQL request and the answer it must get. `instant` requests go to
  * /api/v1/query at `endMs`; others to /api/v1/query_range. */
final case class Query(shape: String, promql: String, startMs: Long, endMs: Long,
                       stepMs: Long, instant: Boolean, expect: Expect) {
  def path: String = if (instant) "/api/v1/query" else "/api/v1/query_range"
  def params: Seq[(String, String)] =
    if (instant) Seq("query" -> promql, "time" -> secs(endMs))
    else Seq("query" -> promql, "start" -> secs(startMs), "end" -> secs(endMs),
      "step" -> secs(stepMs))
  private def secs(ms: Long): String = BigDecimal(ms).bigDecimal.movePointLeft(3).toPlainString
}

/** Expected series → samples, and how strictly the returned set must match. */
sealed trait Expect
/** Exactly these series, each with exactly these (t, value) samples. */
final case class Exact(series: Map[Labels.T, Seq[(Long, Double)]]) extends Expect
/** `n` series whose values are the `n` largest of `candidates` (ties make
  * the chosen series ambiguous), each carrying its own closed-form value. */
final case class TopK(n: Int, t: Long, candidates: Map[Labels.T, Double]) extends Expect
/** Every `required` series present; any other returned series must be in
  * `allowed`; every returned value must equal its series' closed form. */
final case class Covering(t: Long, required: Set[Labels.T],
                          allowed: Map[Labels.T, Double]) extends Expect

object Check {
  private val Tol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))

  /** Parses a Prometheus API response into series → (t ms, value). */
  def parse(root: JsonNode): Either[String, Map[Labels.T, Seq[(Long, Double)]]] = {
    if (root.path("status").asText() != "success")
      return Left(s"status ${root.path("status").asText()}: ${root.path("error").asText()}")
    val data = root.path("data")
    def sample(p: JsonNode): (Long, Double) =
      (p.get(0).decimalValue().movePointRight(3).longValueExact(), p.get(1).asText().toDouble)
    val out = Map.newBuilder[Labels.T, Seq[(Long, Double)]]
    val it = data.path("result").elements()
    while (it.hasNext) {
      val item = it.next()
      val labels = Map.newBuilder[String, String]
      val fields = item.path("metric").fields()
      while (fields.hasNext) { val f = fields.next(); labels += f.getKey -> f.getValue.asText() }
      val samples =
        if (item.has("value")) Seq(sample(item.get("value")))
        else { val vs = Seq.newBuilder[(Long, Double)]; item.get("values").elements().forEachRemaining(p => vs += sample(p)); vs.result() }
      out += labels.result() -> samples
    }
    Right(out.result())
  }

  /** None when `got` answers `q`; otherwise what is wrong. */
  def apply(q: Query, root: JsonNode): Option[Wrong] = parse(root) match {
    case Left(err) => Some(Wrong(err))
    case Right(got) => answer(q, got).map(Wrong(_)).orElse(q.expect match {
      case Covering(_, required, _) =>
        (required -- got.keySet).headOption.map(l => Wrong(s"missing $l", contradicts = false))
      case _ => None
    })
  }

  /** What in `got` contradicts the closed form, if anything. */
  private def answer(q: Query, got: Map[Labels.T, Seq[(Long, Double)]]): Option[String] =
    q.expect match {
      case Exact(want) =>
        if (got.keySet != want.keySet)
          Some(s"series differ: got ${got.size}, want ${want.size}; missing ${(want.keySet -- got.keySet).take(2)}, extra ${(got.keySet -- want.keySet).take(2)}")
        else want.collectFirst {
          case (l, ws) if got(l).length != ws.length || got(l).zip(ws).exists { case ((gt, gv), (wt, wv)) => gt != wt || !close(gv, wv) } =>
            s"$l: got ${got(l).take(3)}…, want ${ws.take(3)}…"
        }
      case TopK(n, t, cands) =>
        val want = cands.values.toSeq.sorted(Ordering[Double].reverse).take(n)
        val vals = got.toSeq.flatMap { case (l, s) => s.map(_._2) }.sorted(Ordering[Double].reverse)
        got.collectFirst {
          case (l, s) if !cands.contains(l) || s.length != 1 || s.head._1 != t || !close(s.head._2, cands(l)) =>
            s"$l: got $s, want ${cands.get(l)} at $t"
        }.orElse(
          if (vals.length != want.length || vals.zip(want).exists { case (a, b) => !close(a, b) })
            Some(s"top values ${vals.take(n)}, want $want") else None)
      case Covering(t, _, allowed) =>
        got.collectFirst {
          case (l, s) if !allowed.contains(l) => s"unexpected $l"
          case (l, s) if s.length != 1 || s.head._1 != t || !close(s.head._2, allowed(l)) =>
            s"$l: got $s, want ${allowed(l)} at $t"
        }
    }
}

/** A failed check. `contradicts` is false when the answer only lacks series
  * the acknowledged writes should have stored: the known concurrent-append
  * race can lose acknowledged data, so that counts as a failed request, not
  * as the engine answering wrongly about the data it holds. */
final case class Wrong(reason: String, contradicts: Boolean = true)

/** The query mixes, generated from a seeded RNG per client. Query times fall
  * strictly between sample minutes, so no sample sits on a window edge and
  * the closed forms hold whether windows are left-open or closed. Every
  * request gets a fresh time, as a refreshing dashboard sends `time=now`:
  * repeating a time would let the engine reuse work a real client never
  * gets to reuse (generated code keyed by the query's literals). */
final class Mix(store: WeekStore, rnd: java.util.Random, wrongExpect: Boolean) {
  import store._
  private val M = 60000L
  /** An evaluation time in the store's last hour. */
  private def lastHour(): Long = t0 + (Minutes - 1 - rnd.nextInt(60)) * M + 1000L + rnd.nextInt(58000)
  private def bump(v: Double): Double = if (wrongExpect) v + 1 else v
  private val all = 0 until series

  /** `sum by (instance_id)(rate(m[5m]))` over windows wholly inside the week:
    * every series' rate is k/60 per second. */
  private def rateByInstance(steps: Seq[Long]): Exact =
    Exact(all.groupBy(instance).map { case (i, ss) =>
      Map("instance_id" -> i) -> steps.map(t => t -> bump(ss.map(k(_) / 60.0).sum))
    })

  def dashboard(shape: Int): Query = {
    val t = lastHour()
    shape % 4 match {
      case 0 =>
        val i = s"i${rnd.nextInt(16)}"
        Query("selector", s"""$Name{instance_id="$i"}""", t, t, 1000L, instant = true,
          Exact(all.filter(instance(_) == i).map(s =>
            labels(s) -> Seq(t -> bump(minuteAt(t).toDouble * k(s)))).toMap))
      case 1 =>
        Query("rate_instant", s"sum by (instance_id) (rate($Name[5m]))", t, t, 1000L,
          instant = true, rateByInstance(Seq(t)))
      case 2 =>
        Query("rate_1h", s"sum by (instance_id) (rate($Name[5m]))", t - 3600000L, t, M,
          instant = false, rateByInstance((0 to 60).map(j => t - 3600000L + j * M)))
      case _ =>
        Query("topk", s"topk(3, $Name)", t, t, 1000L, instant = true,
          TopK(3, t, all.map(s => labels(s) -> bump(minuteAt(t).toDouble * k(s))).toMap))
    }
  }

  def longRange(shape: Int): Query = {
    val t = lastHour()
    val week = 7 * 24 * 60 * M
    shape % 4 match {
      case 0 =>
        val start = t - 24 * 60 * M
        Query("rate_1d_1m", s"sum by (instance_id) (rate($Name[5m]))", start, t, M,
          instant = false, rateByInstance(start to t by M))
      case 1 =>
        // t sits up to an hour before the week's end, so a week back from t
        // starts before the data; 70 minutes in, every window is inside it
        val start = t - week + 70 * M
        Query("rate_1w_10m", s"sum by (instance_id) (rate($Name[5m]))", start, t, 10 * M,
          instant = false, rateByInstance(start to t by 10 * M))
      case 2 =>
        val start = t - week + 70 * M
        val steps = start to t by 60 * M
        Query("max_over_time_1w_1h", s"max by (instance_id) (max_over_time($Name[1h]))",
          start, t, 60 * M, instant = false,
          Exact(all.groupBy(instance).map { case (i, ss) =>
            Map("instance_id" -> i) -> steps.map(st => st -> bump(ss.map(k).max.toDouble * minuteAt(st)))
          }))
      case _ =>
        // samples in (t - 1w, t]: minutes 0 .. minuteAt(t), all inside the week
        Query("count_over_time_1w", s"sum(count_over_time($Name[1w]))", t, t, 1000L,
          instant = true,
          Exact(Map(Map.empty[String, String] -> Seq(t -> bump(series.toDouble * (minuteAt(t) + 1))))))
    }
  }
}

/** Which remote-write batches the server acknowledged; the source of truth
  * for the ingest queries' expectations and the final read-back. */
final class Ledger(val feed: IngestFeed) {
  private val acked = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
  private val sent = scala.collection.mutable.Map.empty[String, Int]

  def ack(shard: String, b: Int): Unit = synchronized {
    acked.getOrElseUpdate(shard, scala.collection.mutable.ArrayBuffer.empty) += b
  }
  def sentUpTo(shard: String, b: Int): Unit = synchronized { sent(shard) = math.max(sent.getOrElse(shard, 0), b + 1) }
  def ackedBatches: Map[String, Seq[Int]] = synchronized { acked.map { case (k, v) => k -> v.toSeq }.toMap }
  def shardsSent: Map[String, Int] = synchronized { sent.toMap }

  /** The newest time every shard has acknowledged data up to: no batch at
    * or before it is still in flight. */
  def frontier(shards: Seq[String]): Option[Long] = synchronized {
    val ends = shards.map(sh => acked.get(sh).filter(_.nonEmpty).map(bs => feed.times(bs.max).last))
    if (ends.forall(_.isDefined)) Some(ends.flatten.min) else None
  }

  /** Alert-style instant query at time `t` over the newest 5 minutes of the
    * ingested metric. A series must answer when two or more of its
    * acknowledged samples fall in the window; a series whose batch failed
    * may still answer (a failed append can leave files behind), but only
    * with its closed-form value. */
  def alertQuery(shape: Int, t: Long, shards: Seq[String], wrongExpect: Boolean): Query = {
    val window = 300000L
    val bs = ackedBatches
    val sentNow = shardsSent
    def inWindow(times: Seq[Long]) = times.count(x => x > t - window && x <= t)
    val (promql, keep) = shape % 2 match {
      case 0 => (s"irate(${feed.Name}[5m]) > 2", (s: Int) => feed.k(s) > 2)
      case _ => (s"deriv(${feed.Name}[5m])", (_: Int) => true)
    }
    val bump = if (wrongExpect) 1.0 else 0.0
    val required = for {
      sh <- shards
      s <- 0 until feed.seriesPerShard if keep(s)
      if bs.getOrElse(sh, Nil).map(b => inWindow(feed.times(b))).sum >= 2
    } yield feed.labels(sh, s) - "__name__"
    val allowed = for {
      sh <- sentNow.keys.toSeq
      s <- 0 until feed.seriesPerShard if keep(s)
    } yield (feed.labels(sh, s) - "__name__") -> (feed.k(s) + bump)
    Query(if (shape % 2 == 0) "irate_alert" else "deriv", promql, t, t, 1000L, instant = true,
      Covering(t, required.toSet, allowed.toMap))
  }
}
