package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Scrape
import graft.testkit.SharedSpark

/** Transport security on the served API: HTTPS with CA verification,
  * optional mutual TLS, and bearer auth on every route — in particular the
  * push-ingest /api/v1/write endpoint (reference: the engine's own
  * listeners are mTLS, metric_store.go:318-411; the repo's scraper already
  * loads PEM client-side, this proves the server side end-to-end over real
  * sockets with openssl-generated certificates). */
class HttpsApiSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("value", DoubleType)))

  private def points = graft.model.Points.withSig(spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("http_total", Map("job" -> "api", "instance" -> "0"), 60000L, 10.0),
      Row("up", Map("job" -> "api"), 60000L, 1.0)), 1), schema))

  /** Test PKI: a CA, a server identity with SAN localhost/127.0.0.1, and
    * a client identity, all PEM (PKCS#8 keys via `-nodes`). Generated once
    * per suite run with the openssl CLI. */
  private lazy val pki: Map[String, String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tls").toFile
    def sh(cmd: String*): Unit = {
      val p = new ProcessBuilder(cmd: _*).directory(dir).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"${cmd.mkString(" ")} failed:\n$out")
    }
    java.nio.file.Files.writeString(new java.io.File(dir, "san.cnf").toPath,
      "subjectAltName=DNS:localhost,IP:127.0.0.1\n")
    sh("openssl", "req", "-x509", "-newkey", "rsa:2048", "-keyout", "ca.key",
      "-out", "ca.crt", "-days", "2", "-nodes", "-subj", "/CN=graft-test-ca")
    sh("openssl", "req", "-newkey", "rsa:2048", "-keyout", "server.key",
      "-out", "server.csr", "-nodes", "-subj", "/CN=localhost")
    sh("openssl", "x509", "-req", "-in", "server.csr", "-CA", "ca.crt",
      "-CAkey", "ca.key", "-CAcreateserial", "-out", "server.crt", "-days", "2",
      "-extfile", "san.cnf")
    sh("openssl", "req", "-newkey", "rsa:2048", "-keyout", "client.key",
      "-out", "client.csr", "-nodes", "-subj", "/CN=graft-client")
    sh("openssl", "x509", "-req", "-in", "client.csr", "-CA", "ca.crt",
      "-CAkey", "ca.key", "-CAcreateserial", "-out", "client.crt", "-days", "2")
    Seq("ca.crt", "server.crt", "server.key", "client.crt", "client.key")
      .map(n => n -> new java.io.File(dir, n).getAbsolutePath).toMap
  }

  private def serverTls(mtls: Boolean = false) = HttpApi.ServerTls(
    certFile = pki("server.crt"), keyFile = pki("server.key"),
    clientCaFile = if (mtls) Some(pki("ca.crt")) else None)

  /** HTTPS GET trusting the test CA (and presenting a client cert when
    * given); returns (status, body). */
  private def tlsGet(port: Int, path: String, token: Option[String] = None,
                     clientCert: Boolean = false): (Int, String) = {
    val ctx = Scrape.buildSslContext(Scrape.TlsConfig(
      caFile = Some(pki("ca.crt")),
      certFile = if (clientCert) Some(pki("client.crt")) else None,
      keyFile = if (clientCert) Some(pki("client.key")) else None))
    val client = HttpClient.newBuilder().sslContext(ctx).build()
    val encoded = path.replace(" ", "%20").replace("[", "%5B").replace("]", "%5D")
    val b = HttpRequest.newBuilder(URI.create(s"https://localhost:$port$encoded")).GET()
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("full API + remote-read/write round-trip over TLS with CA verification") {
    import graft.promql.{LabelMatcher, MatchOp}
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val api = new HttpApi(spark, points,
      writeSink = Some(df => written.addAndGet(df.count())), tls = Some(serverTls()))
    val port = api.start(0)
    try {
      // query API over HTTPS
      val (qc, qb) = tlsGet(port, "/api/v1/query?query=http_total&time=60")
      assert(qc == 200 && qb.contains("\"value\":[60,\"10\"]"), qb)
      val (lc, lb) = tlsGet(port, "/api/v1/labels")
      assert(lc == 200 && lb.contains("\"job\""))
      // remote-write push (executor-side HTTPS with the CA)
      val n = RemoteWrite.push(points, s"https://localhost:$port/api/v1/write",
        tls = Some(Scrape.TlsConfig(caFile = Some(pki("ca.crt")))))
      assert(n == 2 && written.get() == 2)
      // remote-read client over the same transport
      val got = RemoteRead.Client(s"https://localhost:$port/api/v1/read",
        tls = Some(Scrape.TlsConfig(caFile = Some(pki("ca.crt")))))
        .fetch(RemoteRead.Query(0L, 100000L,
          Seq(LabelMatcher("__name__", MatchOp.Eq, "up"))))
      assert(got.map(_._1) == Seq(Map("__name__" -> "up", "job" -> "api")))
      assert(got.head._2 == Seq((1.0, 60000L)))
      // a client NOT trusting the CA (JDK default anchors) must fail the
      // handshake — the server's self-signed chain is not publicly rooted
      val untrusted = intercept[Exception] {
        HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(URI.create(s"https://localhost:$port/api/v1/labels"))
            .GET().build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(untrusted.toString.toLowerCase.contains("ssl") ||
        Option(untrusted.getCause).exists(_.toString.toLowerCase.contains("ssl")))
    } finally api.stop()
  }

  test("bearer auth: unauthenticated writes rejected, authenticated accepted") {
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val api = new HttpApi(spark, points,
      writeSink = Some(df => written.addAndGet(df.count())),
      tls = Some(serverTls()), bearerToken = Some("sekrit-token"))
    val port = api.start(0)
    try {
      // no token -> 401 challenge on every route, including the query API
      val (c1, b1) = tlsGet(port, "/api/v1/query?query=up&time=60")
      assert(c1 == 401 && b1.contains("unauthorized"))
      // wrong token -> still 401
      assert(tlsGet(port, "/api/v1/labels", token = Some("wrong"))._1 == 401)
      // right token -> normal envelope
      val (c2, b2) = tlsGet(port, "/api/v1/query?query=up&time=60",
        token = Some("sekrit-token"))
      assert(c2 == 200 && b2.contains("success"))
      // unauthenticated remote write is REJECTED (batch never reaches the
      // sink) — the receiver is no longer an open push endpoint
      val denied = intercept[Exception] {
        RemoteWrite.push(points, s"https://localhost:$port/api/v1/write",
          tls = Some(Scrape.TlsConfig(caFile = Some(pki("ca.crt")))))
      }
      assert(denied.toString.contains("401") ||
        Option(denied.getCause).exists(_.toString.contains("401")))
      assert(written.get() == 0)
      // authenticated write lands
      val n = RemoteWrite.push(points, s"https://localhost:$port/api/v1/write",
        auth = Some(Scrape.AuthConfig(bearerToken = Some("sekrit-token"))),
        tls = Some(Scrape.TlsConfig(caFile = Some(pki("ca.crt")))))
      assert(n == 2 && written.get() == 2)
    } finally api.stop()
  }

  test("mutual TLS: client certificate required when a client CA is configured") {
    val api = new HttpApi(spark, points, tls = Some(serverTls(mtls = true)))
    val port = api.start(0)
    try {
      // with a CA-signed client cert: full access
      val (c, b) = tlsGet(port, "/api/v1/query?query=up&time=60", clientCert = true)
      assert(c == 200 && b.contains("success"))
      // without a client cert the handshake (or first exchange) fails
      intercept[Exception] { tlsGet(port, "/api/v1/labels") }
    } finally api.stop()
  }
}
