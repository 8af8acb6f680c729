package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.WarcIo
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

class WarcIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def write(rows: Seq[(Long, String, String)], parts: Int = 1): String = {
    val dir = GraftBridge.tempDir("warcspec")
    WarcIo.writeShards(rows.toDF("id", "uri", "body").repartition(parts), dir).collect()
    dir
  }

  test("round-trip: bodies survive byte-exact, warcinfo preamble is filtered") {
    val dir = write(Seq(
      (1L, "https://a/1", "hello world"),
      (2L, "https://a/2", ""), // empty body
      (3L, "https://a/3", "body with\r\n\r\nseparator bytes INSIDE")), parts = 2)
    val got = WarcIo.readResponses(spark, dir)
      .select(col("target_uri"), col("http_status"), col("body"))
      .as[(String, Int, String)].collect().sortBy(_._1)
    assert(got.length == 3, "warcinfo preamble records must not leak into responses")
    assert(got(0) == (("https://a/1", 200, "hello world")))
    assert(got(1) == (("https://a/2", 200, "")))
    assert(got(2)._3 == "body with\r\n\r\nseparator bytes INSIDE",
      "the Content-Length walk must not split on separator bytes inside a body")
  }

  test("content_length is the exact HTTP payload byte count") {
    val dir = write(Seq((7L, "https://a/7", "abc")))
    val row = WarcIo.readResponses(spark, dir).select(col("content_length")).head()
    // "HTTP/1.1 200 OK\r\n"(17) + "Content-Type: text/plain\r\n"(26) + "\r\n"(2) + 3
    assert(row.getLong(0) == 48L)
  }

  test("hand-built golden record parses; truncation and malformed headers refuse loudly") {
    val payload = "HTTP/1.1 404 NF\r\n\r\nmiss".getBytes("UTF-8")
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++
      payload ++ "\r\n\r\n".getBytes("UTF-8")
    val parsed = WarcIo.parseRecords(rec, "golden").toSeq
    assert(parsed.length == 1 && parsed.head._1 == "response" && parsed.head._2 == "u")
    val (status, body) = WarcIo.parseHttp(parsed.head._6, "golden")
    assert(status == 404 && new String(body, "UTF-8") == "miss")
    // truncated payload
    val trunc = rec.dropRight(6)
    val e = intercept[IllegalArgumentException](WarcIo.parseRecords(trunc, "t").toSeq)
    assert(e.getMessage.contains("truncated"), e.getMessage)
    // garbage instead of a version line
    val bad = "NOPE\r\n\r\n".getBytes("UTF-8")
    val e2 = intercept[IllegalArgumentException](WarcIo.parseRecords(bad, "b").toSeq)
    assert(e2.getMessage.contains("WARC/"), e2.getMessage)
  }

  test("capture triple: request/metadata records round-trip and link by Concurrent-To") {
    val dir = GraftBridge.tempDir("warcspec_cap")
    WarcIo.writeShards(
      Seq((5L, "https://ex.org/a/b?q=1", "hello"),
        (6L, "https://ex.org", "root")).toDF("id", "uri", "body"),
      dir, withCapture = true).collect()
    // responses unaffected by the extra record types
    assert(WarcIo.readResponses(spark, dir).count() == 2L)
    val req = WarcIo.readRequests(spark, dir)
      .select(col("record_id"), col("concurrent_to"), col("method"),
        col("req_path"), col("http_version"), col("host"), col("user_agent"))
      .as[(String, String, String, String, String, String, String)]
      .collect().sortBy(_._1)
    assert(req.toSeq == Seq(
      ("<urn:graft:req:5>", "<urn:graft:5>", "GET", "/a/b?q=1", "HTTP/1.1",
        "ex.org", "graft-crawler/1.0"),
      ("<urn:graft:req:6>", "<urn:graft:6>", "GET", "/", "HTTP/1.1",
        "ex.org", "graft-crawler/1.0")), req.toSeq.toString)
    val meta = WarcIo.readMetadata(spark, dir)
      .select(col("concurrent_to"), col("field"), col("value"))
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(meta.toSeq == Seq(
      ("<urn:graft:5>", "fetchTimeMs", "105"),
      ("<urn:graft:6>", "fetchTimeMs", "106")), meta.toSeq.toString)
    // default writer emits no request/metadata records at all; readers
    // over such shards return empty, they do not refuse
    val plain = write(Seq((1L, "https://a/1", "x")))
    assert(WarcIo.readMetadata(spark, plain).count() == 0L)
    assert(WarcIo.readRequests(spark, plain).count() == 0L)
  }

  test("re-export clears stale shards (the Arrow/TFRecord overwrite contract)") {
    val dir = write((1L to 50L).map(i => (i, s"https://a/$i", s"b$i")), parts = 5)
    WarcIo.writeShards((1L to 10L).map(i => (i, s"https://a/$i", s"b$i"))
      .toDF("id", "uri", "body").repartition(2), dir).collect()
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".warc")) == 2)
    assert(WarcIo.readResponses(spark, dir).count() == 10L)
  }
}
