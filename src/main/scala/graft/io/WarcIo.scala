package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC (Web ARChive, ISO 28500 — the public CommonCrawl format) shard
  * writer + record reader: the INPUT side of a web-corpus engine. A
  * WARC file is a sequence of records, each
  *
  *   `WARC/1.0 CRLF` → `Name: value CRLF`* → `CRLF` →
  *   Content-Length payload bytes → `CRLF CRLF`
  *
  * and a crawl 'response' record's payload is itself an HTTP response
  * (status line, headers, CRLF CRLF, body). The parser walks records by
  * Content-Length — never by splitting on separators, so bodies may
  * contain anything — and refuses truncation or a malformed header
  * loudly with the offset.
  *
  * Writer shape: one `.warc` shard per partition, each led by a
  * `warcinfo` record (the spec's convention); stale-shard clearing +
  * attempt-unique atomic renames (the Arrow/TFRecord overwrite
  * contract). Reader shape: one shard per task over a file list; no
  * shuffle either way.
  */
object WarcIo {

  private val CRLF = "\r\n"
  private val Ascii = java.nio.charset.StandardCharsets.UTF_8

  /** HTTP payload for a 200 text/plain response around `body`. */
  private[graft] def httpPayload(body: Array[Byte]): Array[Byte] = {
    val head = s"HTTP/1.1 200 OK${CRLF}Content-Type: text/plain$CRLF$CRLF"
    val h = head.getBytes(Ascii)
    val out = new Array[Byte](h.length + body.length)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(body, 0, out, h.length, body.length)
    out
  }

  /** HTTP GET request payload for `uri` — the msgtype=request twin of
    * [[httpPayload]], with the header set a capture record actually
    * carries (Host from the authority, a stable User-Agent, Accept). */
  private[graft] def httpRequestPayload(uri: String): Array[Byte] = {
    val (host, path) = splitUri(uri)
    (s"GET $path HTTP/1.1$CRLF" +
      s"Host: $host$CRLF" +
      s"User-Agent: graft-crawler/1.0$CRLF" +
      s"Accept: text/html$CRLF$CRLF").getBytes(Ascii)
  }

  /** (authority, path) of an absolute http(s) URI; path defaults to "/". */
  private[graft] def splitUri(uri: String): (String, String) = {
    val at = uri.indexOf("://")
    require(at > 0, s"not an absolute URI: '$uri'")
    val rest = uri.substring(at + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) (rest, "/") else (rest.substring(0, slash), rest.substring(slash))
  }

  private def record(warcType: String, headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder()
    sb.append("WARC/1.0").append(CRLF)
    sb.append("WARC-Type: ").append(warcType).append(CRLF)
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append(CRLF) }
    sb.append("Content-Length: ").append(payload.length).append(CRLF)
    sb.append(CRLF)
    val head = sb.toString.getBytes(Ascii)
    val tail = (CRLF + CRLF).getBytes(Ascii)
    val out = new Array[Byte](head.length + payload.length + tail.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    System.arraycopy(tail, 0, out, head.length + payload.length, tail.length)
    out
  }

  /** Write (id LONG, uri STRING, body STRING) rows as WARC response
    * records, one shard per partition, each led by a warcinfo record;
    * returns the manifest (shard, records, bytes) where `records`
    * counts RESPONSE records (the warcinfo preamble is bookkeeping).
    *
    * `withCapture = true` writes the full CommonCrawl capture TRIPLE per
    * row — the ISO 28500 record types a real crawl archive carries:
    * a `request` record (the HTTP GET that fetched the page, linked to
    * its response via `WARC-Concurrent-To`), the `response`, and a
    * `metadata` record (application/warc-fields, here the fetch duration
    * derived deterministically from the id so gates can state it in
    * closed form). Readers select by type, so consumers of one type are
    * unaffected by the presence of the others. */
  def writeShards(df: DataFrame, path: String,
      date: String = "2024-01-01T00:00:00Z",
      withCapture: Boolean = false): DataFrame = {
    val need = Seq("id" -> LongType, "uri" -> StringType, "body" -> StringType)
    need.foreach { case (n, dt) =>
      require(df.schema.fieldNames.contains(n) &&
        df.schema(n).dataType == dt,
        s"writeShards needs column '$n' of ${dt.catalogString}; got ${df.schema.catalogString}")
    }
    val dir = new java.io.File(path)
    dir.mkdirs()
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".warc") || f.getName.contains(".warc.tmp-"))
      .foreach { stale =>
        require(stale.delete(), s"could not delete stale shard ${stale.getPath}")
      }
    val spark = df.sparkSession
    import spark.implicits._
    val d = date
    df.select("id", "uri", "body").mapPartitions { rows =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val file = new java.io.File(path, f"part-$pid%05d.warc")
      val tmp = new java.io.File(path, f"part-$pid%05d.warc.tmp-${tc.taskAttemptId()}")
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp))
      var n = 0L
      try {
        out.write(record("warcinfo",
          Seq("WARC-Date" -> d, "Content-Type" -> "application/warc-fields"),
          s"software: graft$CRLF".getBytes(Ascii)))
        rows.foreach { r =>
          val id = r.getLong(0)
          val uri = r.getString(1)
          if (withCapture) {
            // request FIRST (the CommonCrawl record order), bound to its
            // response by WARC-Concurrent-To
            out.write(record("request", Seq(
              "WARC-Record-ID" -> s"<urn:graft:req:$id>",
              "WARC-Target-URI" -> uri,
              "WARC-Concurrent-To" -> s"<urn:graft:$id>",
              "WARC-Date" -> d,
              "Content-Type" -> "application/http; msgtype=request"),
              httpRequestPayload(uri)))
          }
          val payload = httpPayload(r.getString(2).getBytes(Ascii))
          out.write(record("response", Seq(
            "WARC-Record-ID" -> s"<urn:graft:$id>",
            "WARC-Target-URI" -> uri,
            "WARC-Date" -> d,
            "Content-Type" -> "application/http; msgtype=response"), payload))
          if (withCapture) {
            out.write(record("metadata", Seq(
              "WARC-Record-ID" -> s"<urn:graft:meta:$id>",
              "WARC-Target-URI" -> uri,
              "WARC-Concurrent-To" -> s"<urn:graft:$id>",
              "WARC-Date" -> d,
              "Content-Type" -> "application/warc-fields"),
              s"fetchTimeMs: ${100L + id % 900L}$CRLF".getBytes(Ascii)))
          }
          n += 1
        }
      } finally out.close()
      java.nio.file.Files.move(
        tmp.toPath, file.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Iterator((file.getPath, n, file.length()))
    }.toDF("shard", "records", "bytes")
  }

  /** Parse every record of one WARC byte array: (warc_type, target_uri,
    * record_id, concurrent_to, content_length, payload) — concurrent_to
    * is null where the record carries no WARC-Concurrent-To (responses,
    * warcinfo). Content-Length-driven walk; truncation and malformed
    * headers refuse loudly with the offset. */
  private[graft] def parseRecords(
      bytes: Array[Byte], ctx: String): Iterator[(String, String, String, String, Long, Array[Byte])] = {
    var i = 0
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Long, Array[Byte])]
    def line(): String = {
      val start = i
      while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      require(i + 1 < bytes.length, s"$ctx: truncated header line at offset $start")
      val s = new String(bytes, start, i - start, Ascii)
      i += 2
      s
    }
    while (i < bytes.length) {
      val version = line()
      require(version.startsWith("WARC/"),
        s"$ctx: expected WARC/ version line at offset ${i - version.length - 2}, got '$version'")
      var warcType: String = null
      var uri: String = null
      var rid: String = null
      var cto: String = null
      var len = -1L
      var h = line()
      while (h.nonEmpty) {
        val sep = h.indexOf(':')
        require(sep > 0, s"$ctx: malformed header '$h'")
        val (k, v) = (h.substring(0, sep).trim, h.substring(sep + 1).trim)
        k.toLowerCase match {
          case "warc-type" => warcType = v
          case "warc-target-uri" => uri = v
          case "warc-record-id" => rid = v
          case "warc-concurrent-to" => cto = v
          case "content-length" => len = v.toLong
          case _ => ()
        }
        h = line()
      }
      require(len >= 0L, s"$ctx: record without Content-Length")
      require(i + len + 4 <= bytes.length,
        s"$ctx: truncated record payload at offset $i (need $len + separator)")
      val payload = java.util.Arrays.copyOfRange(bytes, i, i + len.toInt)
      i += len.toInt
      require(bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n',
        s"$ctx: missing record separator at offset $i")
      i += 4
      out += ((warcType, uri, rid, cto, len, payload))
    }
    out.iterator
  }

  /** Split an HTTP response payload into (status, bodyBytes). */
  private[graft] def parseHttp(payload: Array[Byte], ctx: String): (Int, Array[Byte]) = {
    var i = 0
    while (i + 3 < payload.length &&
      !(payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n')) i += 1
    require(i + 3 < payload.length, s"$ctx: HTTP payload without header terminator")
    val head = new String(payload, 0, i, Ascii)
    val statusLine = head.split("\r\n", 2)(0)
    val parts = statusLine.split(" ")
    require(parts.length >= 2 && parts(0).startsWith("HTTP/"),
      s"$ctx: malformed HTTP status line '$statusLine'")
    (parts(1).toInt, java.util.Arrays.copyOfRange(payload, i + 4, payload.length))
  }

  /** Split an HTTP REQUEST payload into (method, path, version, headers):
    * request line `METHOD SP path SP HTTP/v`, then `Name: value` lines to
    * the blank line. The header LIST keeps file order (WAT preserves it);
    * lookups are case-insensitive on the name. */
  private[graft] def parseHttpRequest(
      payload: Array[Byte], ctx: String): (String, String, String, Seq[(String, String)]) = {
    var i = 0
    while (i + 3 < payload.length &&
      !(payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n')) i += 1
    require(i + 3 < payload.length, s"$ctx: HTTP request without header terminator")
    val head = new String(payload, 0, i, Ascii)
    val lines = head.split("\r\n")
    val rl = lines(0).split(" ")
    require(rl.length == 3 && rl(2).startsWith("HTTP/"),
      s"$ctx: malformed HTTP request line '${lines(0)}'")
    val headers = lines.drop(1).toSeq.map { h =>
      val sep = h.indexOf(':')
      require(sep > 0, s"$ctx: malformed HTTP request header '$h'")
      (h.substring(0, sep).trim, h.substring(sep + 1).trim)
    }
    (rl(0), rl(1), rl(2), headers)
  }

  /** Read REQUEST records of every `.warc` shard under `path` — the WAT
    * view of the fetch side: (target_uri, record_id, concurrent_to,
    * content_length, method, req_path, http_version, host, user_agent).
    * host/user_agent are the case-insensitive header lookups WAT
    * publishes; absent headers surface as NULL, never as a parse error.
    * One shard per task, same no-shuffle contract as [[readResponses]]. */
  def readRequests(spark: SparkSession, path: String): DataFrame = {
    val files = warcFiles(path)
    val rdd = spark.sparkContext
      .parallelize(files.toSeq, files.length)
      .flatMap { f =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
        parseRecords(bytes, f).collect {
          case ("request", uri, rid, cto, len, payload) =>
            val (method, reqPath, version, headers) = parseHttpRequest(payload, f)
            def h(name: String): String =
              headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }.orNull
            Row(uri, rid, cto, len, method, reqPath, version,
              h("Host"), h("User-Agent"))
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("target_uri", StringType),
      StructField("record_id", StringType),
      StructField("concurrent_to", StringType),
      StructField("content_length", LongType, nullable = false),
      StructField("method", StringType, nullable = false),
      StructField("req_path", StringType, nullable = false),
      StructField("http_version", StringType, nullable = false),
      StructField("host", StringType),
      StructField("user_agent", StringType))))
  }

  /** Read METADATA records (application/warc-fields) of every `.warc`
    * shard under `path`, one row per field: (target_uri, record_id,
    * concurrent_to, field, value) — warc-fields is the same `Name: value`
    * line grammar as the WARC header block. */
  def readMetadata(spark: SparkSession, path: String): DataFrame = {
    val files = warcFiles(path)
    val rdd = spark.sparkContext
      .parallelize(files.toSeq, files.length)
      .flatMap { f =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
        parseRecords(bytes, f).flatMap {
          case ("metadata", uri, rid, cto, _, payload) =>
            new String(payload, Ascii).split("\r\n").toSeq
              .filter(_.nonEmpty).map { line =>
                val sep = line.indexOf(':')
                require(sep > 0, s"$f: malformed warc-fields line '$line'")
                Row(uri, rid, cto,
                  line.substring(0, sep).trim, line.substring(sep + 1).trim)
              }
          case _ => Nil
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("target_uri", StringType),
      StructField("record_id", StringType),
      StructField("concurrent_to", StringType),
      StructField("field", StringType, nullable = false),
      StructField("value", StringType, nullable = false))))
  }

  private def warcFiles(path: String): Array[String] = {
    val files = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".warc")).map(_.getPath).sorted
    require(files.nonEmpty, s"no .warc shards under $path")
    files
  }

  /** Read RESPONSE records of every `.warc` shard under `path`:
    * (warc_type, target_uri, record_id, http_status, content_length,
    * body). Non-response records (warcinfo, request, metadata) are
    * dropped — the crawl-extraction contract. One shard per task. */
  def readResponses(spark: SparkSession, path: String): DataFrame = {
    val files = warcFiles(path)
    val rdd = spark.sparkContext
      .parallelize(files.toSeq, files.length)
      .flatMap { f =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
        parseRecords(bytes, f).collect {
          case ("response", uri, rid, _, len, payload) =>
            val (status, body) = parseHttp(payload, f)
            Row("response", uri, rid, len, status, new String(body, Ascii))
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("warc_type", StringType, nullable = false),
      StructField("target_uri", StringType),
      StructField("record_id", StringType),
      StructField("content_length", LongType, nullable = false),
      StructField("http_status", IntegerType, nullable = false),
      StructField("body", StringType, nullable = false))))
  }
}
