package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SharedSpark

/** WebDataset tar shards: byte-level round-trips, cross-validation in
  * both directions against the system GNU tar (our archives extract
  * there; its archives — including pax/long-name metadata entries —
  * parse here), and the Spark read/write surface end-to-end. */
class TarShardsSpec extends AnyFunSuite with SharedSpark {

  private def sh(dir: java.io.File, cmd: String*): String = {
    val p = new ProcessBuilder(cmd: _*).directory(dir).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, s"${cmd.mkString(" ")} failed:\n$out")
    out
  }

  test("writeTar/readTar round-trip preserves names, payloads, order") {
    val entries = Seq(
      "00000001.txt" -> "hello tar".getBytes("UTF-8"),
      "00000001.meta" -> "9".getBytes("UTF-8"),
      "00000002.txt" -> Array.tabulate(1000)(_.toByte), // multi-block payload
      "00000002.bin" -> Array.emptyByteArray) // zero-length entry
    val tar = TarShards.writeTar(entries)
    assert(tar.length % 512 == 0)
    val back = TarShards.readTar(tar).get
    assert(back.map(_._1) == entries.map(_._1))
    back.zip(entries).foreach { case ((_, got), (_, want)) =>
      assert(java.util.Arrays.equals(got, want))
    }
  }

  test("system tar extracts our archives byte-exact (foreign-reader conformance)") {
    val dir = java.nio.file.Files.createTempDirectory("tar_x").toFile
    val payload = "the quick brown fox\n".getBytes("UTF-8")
    val tar = TarShards.writeTar(Seq(
      "00000042.txt" -> payload, "00000042.meta" -> "20".getBytes("UTF-8")))
    java.nio.file.Files.write(new java.io.File(dir, "a.tar").toPath, tar)
    val listing = sh(dir, "tar", "-tf", "a.tar")
    assert(listing.split("\n").toSeq == Seq("00000042.txt", "00000042.meta"))
    val extracted = sh(dir, "tar", "-xOf", "a.tar", "00000042.txt")
    assert(extracted == new String(payload, "UTF-8"))
  }

  test("we parse system-tar archives, skipping pax metadata pseudo-entries") {
    val dir = java.nio.file.Files.createTempDirectory("tar_r").toFile
    java.nio.file.Files.write(new java.io.File(dir, "x.txt").toPath,
      "from gnu tar".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "y.json").toPath,
      """{"k":1}""".getBytes("UTF-8"))
    // pax format emits 'x' extended-header pseudo-entries before each file
    sh(dir, "tar", "--format=pax", "-cf", "p.tar", "x.txt", "y.json")
    val pax = java.nio.file.Files.readAllBytes(new java.io.File(dir, "p.tar").toPath)
    val got = TarShards.readTar(pax).get.toMap
    assert(got.keySet == Set("x.txt", "y.json"))
    assert(new String(got("x.txt"), "UTF-8") == "from gnu tar")
    // and the default gnu format too
    sh(dir, "tar", "--format=gnu", "-cf", "g.tar", "x.txt", "y.json")
    val gnu = java.nio.file.Files.readAllBytes(new java.io.File(dir, "g.tar").toPath)
    assert(TarShards.readTar(gnu).get.toMap.keySet == Set("x.txt", "y.json"))
  }

  test("gzip-transparent: .tar.gz shards parse identically") {
    val entries = Seq("00000005.txt" -> "gz payload".getBytes("UTF-8"))
    val tar = TarShards.writeTar(entries)
    val gz = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.GZIPOutputStream(buf)
      out.write(tar); out.close()
      buf.toByteArray
    }
    assert(TarShards.readTar(gz).get.map(_._1) == Seq("00000005.txt"))
    assert(new String(TarShards.readTar(gz).get.head._2, "UTF-8") == "gz payload")
    // a truncated gzip stream is corrupt, not partial
    assert(TarShards.readTar(gz.take(gz.length - 3)).isEmpty)
  }

  test("corrupt archives return None, never partial silently") {
    val tar = TarShards.writeTar(Seq("a.txt" -> "abc".getBytes))
    assert(TarShards.readTar(tar.take(600)).isEmpty) // truncated payload区
    val garbled = tar.clone(); garbled(124) = 'z'.toByte // non-octal size
    // size parses as 0 prefix -> payload bounds break or entries misalign;
    // either way no silent partial success with wrong bytes
    val r = TarShards.readTar(garbled)
    assert(r.isEmpty || r.get.forall(e => e._1 == "a.txt"))
    assert(TarShards.readTar(Array.fill(512)(7.toByte)).isEmpty)
  }

  test("Spark surface: writeShards -> readShards -> entries/samples round-trip") {
    import spark.implicits._
    val docs = (0L until 57L).map(i => (i, s"document number $i body")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("wds").toString
    TarShards.writeShards(docs, dir, nShards = 8)
    val shards = TarShards.readShards(spark, dir)
    assert(shards.count() == 8)
    // entry rows: two files per document, keys grouped per shard
    val es = TarShards.entries(shards)
    assert(es.count() == 57 * 2)
    val samples = TarShards.samples(shards)
      .select(col("key"), map_keys(col("exts")).as("ks"),
        element_at(col("exts"), "txt").cast("string").as("txt"),
        element_at(col("exts"), "meta").cast("string").as("meta"))
      .collect()
    assert(samples.length == 57)
    samples.foreach { r =>
      val id = r.getString(0).toLong
      assert(r.getSeq[String](1).toSet == Set("txt", "meta"))
      assert(r.getString(2) == s"document number $id body")
      assert(r.getString(3).toInt == r.getString(2).getBytes("UTF-8").length)
    }
    // determinism: a re-run over a DIFFERENT partitioning writes
    // byte-identical shards
    val dir2 = java.nio.file.Files.createTempDirectory("wds2").toString
    TarShards.writeShards(docs.repartition(13), dir2, nShards = 8)
    (0 until 8).foreach { s =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, f"shard-$s%05d.tar"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir2, f"shard-$s%05d.tar"))
      assert(java.util.Arrays.equals(a, b), s"shard $s not deterministic")
    }
  }
}
