package graft.io

import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** WARC/1.0 — the web-crawl archive format (ISO 28500; what Common
  * Crawl ships). The reference engine has no web ingestion at all; this
  * source/sink extends the engine to the crawl side of an LLM data
  * pipeline: WARC in → HTML→text → dedup/quality/pack out.
  *
  * Layout follows the crawl convention: each record is its OWN gzip
  * member, members concatenated into a `.warc.gz` file. That makes the
  * file both streamable (GZIPInputStream consumes concatenated members
  * natively) and indexable (a member offset is a record offset — the
  * same property BGZF gives BAM; see [[Bam]]).
  *
  * Scale unit: ONE FILE per task. Crawls shard into many ~1 GiB files
  * (Common Crawl: ~64 000 per snapshot, released monthly), so file
  * count — not in-file splitting — is the parallelism source; a
  * gzip-magic splitter would risk false `\x1f\x8b\x08` sightings inside
  * compressed payloads. readRecords streams one member at a time with
  * bounded memory (never the whole file).
  */
object Warc {

  /** Columns the writer consumes and the reader emits for `response`
    * records. `body` is raw payload bytes (multimodal doctrine: opaque
    * binary + typed metadata columns beside it).
    */
  private val Epoch = "1970-01-01T00:00:00Z"

  /** Write (uri, date, contentType, body) rows as `.warc.gz` — one file
    * per partition under `path`, each beginning with a `warcinfo`
    * record (crawl convention), every record its own gzip member.
    * Deterministic: record ids are md5-derived from the target URI, the
    * warcinfo date is the epoch — byte-identical output for identical
    * input, the property every round-trip oracle here relies on.
    */
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val confBc = spark.sparkContext.broadcast(
      new HadoopConfCarrier(spark.sparkContext.hadoopConfiguration))
    val proj = df.select(
      col("uri").cast("string"), col("date").cast("string"),
      col("contentType").cast("string"), col("body").cast("binary"))
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // overwrite semantics: a previous run with MORE partitions would
    // otherwise leave stale part files the reader happily unions in
    if (fs.exists(hPath)) fs.delete(hPath, true)
    fs.mkdirs(hPath)
    proj.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val ctx = org.apache.spark.TaskContext.get()
        val part = if (ctx == null) 0 else ctx.partitionId()
        val fsw = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(confBc.value.toConf)
        val out = fsw.create(new org.apache.hadoop.fs.Path(
          path, f"part-$part%05d.warc.gz"), true)
        try {
          out.write(gzipMember(infoRecord()))
          rows.foreach { r =>
            out.write(gzipMember(responseRecord(r.getString(0),
              r.getString(1), r.getString(2), r.getAs[Array[Byte]](3))))
          }
        } finally out.close()
      }
    }
  }

  private def infoRecord(): Array[Byte] = {
    val fields = "software: graft\r\nformat: WARC File Format 1.0\r\n"
      .getBytes(UTF_8)
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Date" -> Epoch,
      "WARC-Record-ID" -> "<urn:graft:warcinfo>",
      "Content-Type" -> "application/warc-fields"), fields)
  }

  private def responseRecord(uri: String, date: String, contentType: String,
                             body: Array[Byte]): Array[Byte] = {
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8)
    val payload = http ++ body
    val id = "<urn:graft:" + Digest.md5Hex(uri) + ">"
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> uri,
      "WARC-Date" -> date,
      "WARC-Record-ID" -> id,
      "Content-Type" -> "application/http; msgtype=response"), payload)
  }

  private def record(headers: Seq[(String, String)],
                     payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => head.append(s"$k: $v\r\n") }
    head.append(s"Content-Length: ${payload.length}\r\n\r\n")
    head.toString.getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Read `.warc.gz` (or plain `.warc`) files under `dir` into one row
    * per record: (file, recordId, warcType, targetUri, date, httpStatus,
    * httpContentType, body). For `application/http` response records the
    * HTTP envelope is parsed off — `body` is the entity bytes, status
    * and Content-Type surface as columns; for every other record type
    * (warcinfo, request, metadata) `body` is the raw payload and the
    * http columns are null. Malformed trailing garbage ends the file's
    * iteration (truncated-crawl tolerance — the standard reader
    * behavior), records parsed before it are kept.
    */
  def read(spark: SparkSession, dir: String,
           glob: String = "*.warc*"): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => parseFile(p, bytes) }
      .toDF("file", "recordId", "warcType", "targetUri", "date",
        "httpStatus", "httpContentType", "body")
  }

  private[graft] def parseFile(path: String, bytes: Array[Byte])
      : Iterator[(String, String, String, String, String,
        java.lang.Integer, String, Array[Byte])] = {
    val raw: InputStream = new ByteArrayInputStream(bytes)
    val in: InputStream =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
        (bytes(1) & 0xff) == 0x8b) new GZIPInputStream(raw)
      else raw
    new Iterator[(String, String, String, String, String,
        java.lang.Integer, String, Array[Byte])] {
      private var nextRec: Option[(String, String, String, String, String,
        java.lang.Integer, String, Array[Byte])] = advance()
      override def hasNext: Boolean = nextRec.isDefined
      override def next(): (String, String, String, String, String,
          java.lang.Integer, String, Array[Byte]) = {
        val r = nextRec.get
        nextRec = advance()
        r
      }
      private def advance(): Option[(String, String, String, String, String,
          java.lang.Integer, String, Array[Byte])] =
        try parseRecord(path, in)
        catch { case _: Exception => in.close(); None }
    }
  }

  /** One WARC record off the stream, or None at EOF/garbage. */
  private def parseRecord(path: String, in: InputStream)
      : Option[(String, String, String, String, String,
        java.lang.Integer, String, Array[Byte])] = {
    var line = readLine(in)
    // tolerate inter-record blank lines
    while (line != null && line.isEmpty) line = readLine(in)
    if (line == null) return None
    if (!line.startsWith("WARC/")) return None
    var warcType: String = null
    var uri: String = null
    var date: String = null
    var id: String = null
    var ctype: String = null
    var clen = -1L
    var h = readLine(in)
    while (h != null && h.nonEmpty) {
      val colon = h.indexOf(':')
      if (colon > 0) {
        val k = h.substring(0, colon).trim.toLowerCase
        val v = h.substring(colon + 1).trim
        k match {
          case "warc-type" => warcType = v
          case "warc-target-uri" => uri = v
          case "warc-date" => date = v
          case "warc-record-id" => id = v
          case "content-type" => ctype = v
          case "content-length" => clen = v.toLong
          case _ =>
        }
      }
      h = readLine(in)
    }
    if (clen < 0) return None
    val payload = readFully(in, clen)
    if (payload == null) return None
    if (warcType == "response" && ctype != null &&
      ctype.toLowerCase.startsWith("application/http")) {
      val (status, httpCt, body) = parseHttp(payload)
      Some((path, id, warcType, uri, date, status, httpCt, body))
    } else {
      Some((path, id, warcType, uri, date, null, null, payload))
    }
  }

  /** Split an HTTP response message into (status, content-type, entity).
    * A payload without an HTTP status line comes back whole with null
    * status (raw-capture tolerance).
    */
  private def parseHttp(payload: Array[Byte])
      : (java.lang.Integer, String, Array[Byte]) = {
    val sep = indexOfCrlfCrlf(payload)
    if (sep < 0) return (null, null, payload)
    val head = new String(payload, 0, sep, UTF_8)
    val lines = head.split("\r\n")
    if (lines.isEmpty || !lines(0).startsWith("HTTP/"))
      return (null, null, payload)
    val status: java.lang.Integer = {
      val parts = lines(0).split(" ")
      if (parts.length >= 2 && parts(1).forall(_.isDigit)) parts(1).toInt
      else null
    }
    val ct = lines.drop(1)
      .find(_.toLowerCase.startsWith("content-type:"))
      .map(l => l.substring(l.indexOf(':') + 1).trim)
      .orNull
    (status, ct, java.util.Arrays.copyOfRange(payload, sep + 4, payload.length))
  }

  private def indexOfCrlfCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
        b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** CRLF-terminated line as a string (terminator dropped), or null at
    * EOF before any byte.
    */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(128)
    var prev = -1
    var c = in.read()
    if (c < 0) return null
    while (c >= 0) {
      if (prev == '\r' && c == '\n') {
        val arr = buf.toByteArray
        return new String(arr, 0, arr.length - 1, UTF_8)
      }
      buf.write(c)
      prev = c
      c = in.read()
    }
    buf.toString("UTF-8") // EOF-terminated final line
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    if (n > Int.MaxValue) throw new EOFException(s"record too large: $n")
    val out = new Array[Byte](n.toInt)
    var off = 0
    while (off < n) {
      val r = in.read(out, off, n.toInt - off)
      if (r < 0) return null
      off += r
    }
    out
  }
}
