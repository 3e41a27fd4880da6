package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** WARC reader: record walk, concatenated-gzip members, HTTP body
  * extraction, and the corrupt-input contract. */
class WarcSpec extends AnyFunSuite with SharedSpark {

  private def resp(uri: String, body: String) =
    (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=response"),
      (s"HTTP/1.1 200 OK\r\nServer: x\r\n\r\n" + body).getBytes("UTF-8"))

  private val warcinfoRec =
    (Seq("WARC-Type" -> "warcinfo"), "software: graft-test\r\n".getBytes("UTF-8"))

  test("record round-trip: plain and concatenated-gzip forms parse identically") {
    val recs = Seq(warcinfoRec, resp("https://a/1", "hello"), resp("https://a/2", "world"))
    for (gz <- Seq(false, true)) {
      val bytes = Warc.writeWarc(recs, gzipPerRecord = gz)
      val back = Warc.readWarc(bytes).get
      assert(back.length == 3, s"gz=$gz")
      assert(back.head._1("warc-type") == "warcinfo") // names lower-cased
      assert(back(1)._1("warc-target-uri") == "https://a/1")
      assert(new String(back(2)._2, "UTF-8").endsWith("world"))
    }
  }

  test("httpBody strips the message head; non-HTTP payloads yield None") {
    val (code, body) = Warc.httpBody(resp("https://a/1", "the body")._2).get
    assert(code == 200 && new String(body, "UTF-8") == "the body")
    assert(Warc.httpBody("not http at all".getBytes).isEmpty)
    assert(Warc.httpBody(Array.emptyByteArray).isEmpty)
  }

  test("truncated or malformed archives return None, never partial") {
    val good = Warc.writeWarc(Seq(resp("https://a/1", "x" * 100)))
    assert(Warc.readWarc(good).isDefined)
    assert(Warc.readWarc(good.take(good.length - 60)).isEmpty) // cut payload
    assert(Warc.readWarc("HTTP/1.1 200 OK\r\n\r\n".getBytes).isEmpty) // not WARC
    val gz = Warc.writeWarc(Seq(resp("https://a/1", "y")), gzipPerRecord = true)
    assert(Warc.readWarc(gz.take(gz.length - 2)).isEmpty) // truncated gzip
  }

  test("Spark surface: records + httpResponseBodies skip non-response records") {
    import spark.implicits._
    val bytes = Warc.writeWarc(Seq(
      warcinfoRec,
      resp("https://a/1", "alpha"),
      (Seq("WARC-Type" -> "request",
        "WARC-Target-URI" -> "https://a/1"), "GET / HTTP/1.1\r\n\r\n".getBytes),
      resp("https://a/2", "beta")))
    val warcs = Seq((0L, bytes)).toDF("warc_id", "warc")
    assert(Warc.records(warcs).count() == 4)
    val bodies = Warc.httpResponseBodies(warcs)
      .select(col("target_uri"), col("body").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bodies == Map("https://a/1" -> "alpha", "https://a/2" -> "beta"))
    // a corrupt archive contributes no rows, it does not kill the read
    val mixed = Seq((0L, bytes), (1L, Array[Byte](1, 2, 3))).toDF("warc_id", "warc")
    assert(Warc.records(mixed).count() == 4)
  }
}
