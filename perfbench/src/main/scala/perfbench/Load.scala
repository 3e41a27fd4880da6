package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

/** One timed operation as the client saw it. `failed` covers non-2xx, the
  * 10 s query timeout and an answer that failed its check; `wrong` marks an
  * answer that contradicts the closed form (see [[Wrong]]). */
final case class Op(kind: String, shape: String, ms: Double, failed: Boolean,
                    wrong: Boolean, points: Int, detail: String = "")

/** Blocking HTTP/1.1 calls. HttpURLConnection reuses idle keep-alive
  * connections, so there are at most as many connections as calling
  * threads. */
final class Http(port: Int) {
  private val mapper = new ObjectMapper()
  /** The reference's query timeout: a slower answer counts as failed. */
  val TimeoutMs = 10000

  private def open(pathAndQuery: String): HttpURLConnection = {
    val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(TimeoutMs); c.setReadTimeout(TimeoutMs)
    c
  }

  private def drain(c: HttpURLConnection): (Int, Array[Byte]) = {
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    (code, body)
  }

  def query(q: Query): Op = {
    val qs = q.params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
    val t0 = System.nanoTime()
    try {
      val (code, body) = drain(open(s"${q.path}?$qs"))
      val ms = (System.nanoTime() - t0) / 1e6
      if (code / 100 != 2) Op("query", q.shape, ms, failed = true, wrong = false, 0, s"HTTP $code ${new String(body, UTF_8).take(200)}")
      else {
        val bad = Check(q, mapper.readTree(body))
        Op("query", q.shape, ms, failed = bad.isDefined || ms > TimeoutMs, wrong = bad.exists(_.contradicts), 0,
          bad.map(b => s"${q.promql} @ ${q.endMs}: ${b.reason}").getOrElse(if (ms > TimeoutMs) "timeout" else ""))
      }
    } catch { case e: java.io.IOException =>
      Op("query", q.shape, (System.nanoTime() - t0) / 1e6, failed = true, wrong = false, 0, e.toString)
    }
  }

  def write(body: Array[Byte], samples: Int): Op = {
    val t0 = System.nanoTime()
    try {
      val c = open("/api/v1/write")
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/x-protobuf")
      c.setRequestProperty("Content-Encoding", "snappy")
      c.setRequestProperty("X-Prometheus-Remote-Write-Version", "0.1.0")
      c.setFixedLengthStreamingMode(body.length)
      val out = c.getOutputStream
      try out.write(body) finally out.close()
      val (code, resp) = drain(c)
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = code / 100 == 2 && ms <= TimeoutMs
      Op("write", "remote_write", ms, failed = !ok, wrong = false, if (ok) samples else 0,
        if (ok) "" else s"HTTP $code ${new String(resp, UTF_8).take(200)}")
    } catch { case e: java.io.IOException =>
      Op("write", "remote_write", (System.nanoTime() - t0) / 1e6, failed = true, wrong = false, 0, e.toString)
    }
  }

  def get(path: String): String = {
    val (code, body) = drain(open(path))
    require(code == 200, s"GET $path: HTTP $code")
    new String(body, UTF_8)
  }
}

/** Closed-loop clients: each sends its next request only after the reply
  * to the previous one, until the deadline. */
object ClosedLoop {
  /** Runs the clients until the deadline; a client returns None when it had
    * nothing to send yet. A client that throws stops the run. */
  def run(clients: Seq[() => Option[Op]], seconds: Double): (Seq[Op], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val ops = inThreads(clients.map(next => () => {
      val mine = Seq.newBuilder[Op]
      while (System.nanoTime() < deadline) mine ++= next()
      mine.result()
    }))
    (ops.flatten, (System.nanoTime() - t0) / 1e9)
  }

  /** One request from each client, all at once. */
  def once(clients: Seq[() => Option[Op]]): Seq[Option[Op]] = inThreads(clients)

  private def inThreads[T](bodies: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.length)
    try {
      val fs = bodies.map(b => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = b() }))
      fs.map(f => try f.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      })
    } finally pool.shutdownNow()
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
