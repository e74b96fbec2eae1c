package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Page
import graft.text.TextOps

/** From-scratch WARC (ISO 28500) reader/writer — the Common-Crawl container
  * format behind the north-star input shape (BASELINE.json input_hint:
  * pages as (url, warc_ts, html, text, lang)).
  *
  * Engine extension: the reference ingests txt/csv/sqlite documents
  * (arelight/run/utils.py:28-51) and has no WARC counterpart; this source
  * exists so the engine can ingest the web-archive layout the north star
  * names directly, with the same deterministic html→text extraction
  * ([[graft.text.TextOps.extractText]]) used everywhere else.
  *
  * Format notes (all verified against the ISO 28500 grammar, not a library):
  *  - a record is `WARC/1.0\r\n`, header lines (`Name: value\r\n`, with
  *    RFC-822 continuation lines), a blank `\r\n`, then EXACTLY
  *    `Content-Length` payload bytes, then `\r\n\r\n`;
  *  - parsing is strictly Content-Length-driven — a payload that itself
  *    contains `WARC/1.0` (e.g. an HTML page quoting a WARC) cannot confuse
  *    the reader, where a naive delimiter split would;
  *  - `response` records carry an HTTP response as payload; the page body
  *    starts after the HTTP header block's `\r\n\r\n`;
  *  - Common Crawl ships `.warc.gz` with ONE GZIP MEMBER PER RECORD so
  *    readers can seek to CDX-indexed member offsets. [[writeGz]] emits that
  *    layout and [[gunzipAll]] reads concatenated members.
  *
  * Scale shape: [[DocSources.warc]] parallelizes at file granularity via
  * the `binaryFile` source — Common Crawl's ~1 GB segment files give
  * thousands of tasks per crawl, each a narrow map (no shuffle). At 100 TB the refinement
  * is byte-range splits driven by the CDX member index (each task gunzips
  * its own member range); the record parser here is already
  * offset-restartable because every member is self-delimiting.
  */
object Warc {

  final case class Record(headers: Vector[(String, String)], payload: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    def recordType: String = header("WARC-Type").getOrElse("")
    def targetUri: Option[String] = header("WARC-Target-URI")
    def date: Option[Timestamp] =
      header("WARC-Date").map(s => Timestamp.from(Instant.parse(s)))
  }

  private val CRLF = "\r\n".getBytes(UTF_8)

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Parse every record in a (plain, already-gunzipped) WARC byte stream.
    * Fail-fast on truncation or a missing/malformed Content-Length — a
    * corrupt archive should die at the source, not mid-pipeline. */
  def records(bytes: Array[Byte]): Vector[Record] = {
    val out = Vector.newBuilder[Record]
    var pos = 0
    // leniency: skip stray CRLFs between records (some writers pad)
    def skipBlank(): Unit =
      while (pos + 1 < bytes.length && bytes(pos) == '\r' && bytes(pos + 1) == '\n') pos += 2
    skipBlank()
    while (pos < bytes.length) {
      val headEnd = indexOf(bytes, "\r\n\r\n".getBytes(UTF_8), pos)
      require(headEnd >= 0, s"WARC: unterminated header block at offset $pos")
      val head = new String(bytes, pos, headEnd - pos, UTF_8)
      val lines = head.split("\r\n", -1)
      require(lines.head.startsWith("WARC/"),
        s"WARC: expected version line at offset $pos, got '${lines.head.take(32)}'")
      // RFC-822 continuation lines (leading SP/HT) fold into the previous value
      val hdrs = Vector.newBuilder[(String, String)]
      var last: (String, String) = null
      for (ln <- lines.drop(1)) {
        if (ln.nonEmpty && (ln(0) == ' ' || ln(0) == '\t') && last != null) {
          last = (last._1, last._2 + " " + ln.trim)
        } else {
          if (last != null) hdrs += last
          val c = ln.indexOf(':')
          require(c > 0, s"WARC: malformed header line '$ln'")
          last = (ln.substring(0, c).trim, ln.substring(c + 1).trim)
        }
      }
      if (last != null) hdrs += last
      val headers = hdrs.result()
      val len = headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase("Content-Length") => v.toLong
      }.getOrElse(throw new IllegalArgumentException(
        s"WARC: record at offset $pos has no Content-Length"))
      val payloadStart = headEnd + 4
      require(payloadStart + len <= bytes.length,
        s"WARC: truncated payload at offset $payloadStart (need $len bytes)")
      val payload = java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + len.toInt)
      out += Record(headers, payload)
      pos = payloadStart + len.toInt
      skipBlank()
    }
    out.result()
  }

  /** Serialize records in spec layout (fixture writer AND export sink). */
  def write(recs: Seq[Record]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    for (r <- recs) {
      bos.write("WARC/1.0\r\n".getBytes(UTF_8))
      val withLen = r.headers.filterNot(_._1.equalsIgnoreCase("Content-Length")) :+
        ("Content-Length" -> r.payload.length.toString)
      for ((k, v) <- withLen) bos.write(s"$k: $v\r\n".getBytes(UTF_8))
      bos.write(CRLF)
      bos.write(r.payload)
      bos.write(CRLF); bos.write(CRLF)
    }
    bos.toByteArray
  }

  /** Common-Crawl layout: one gzip member per record (seekable by offset). */
  def writeGz(recs: Seq[Record]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    for (r <- recs) {
      val gz = new GZIPOutputStream(bos)
      gz.write(write(Seq(r)))
      gz.finish(); gz.close()
    }
    bos.toByteArray
  }

  /** Gunzip a (possibly multi-member) gzip stream to plain bytes. */
  def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Wrap an HTML body as the HTTP response payload of a `response` record. */
  def httpWrap(body: Array[Byte], status: String = "200 OK",
      contentType: String = "text/html; charset=UTF-8"): Array[Byte] = {
    val head = s"HTTP/1.1 $status\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    head.getBytes(UTF_8) ++ body
  }

  /** Body of an HTTP response payload (bytes after the header block). */
  def httpResponseBody(payload: Array[Byte]): Array[Byte] = {
    require(payload.length >= 5 && new String(payload, 0, 5, UTF_8) == "HTTP/",
      "WARC response payload is not an HTTP message")
    val sep = indexOf(payload, "\r\n\r\n".getBytes(UTF_8), 0)
    require(sep >= 0, "WARC response payload has no HTTP header terminator")
    java.util.Arrays.copyOfRange(payload, sep + 4, payload.length)
  }

  /** Build a `response` record for (url, ts, html) — the export direction. */
  def responseRecord(url: String, ts: Timestamp, html: Array[Byte]): Record =
    Record(Vector(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> Instant.ofEpochMilli(ts.getTime).toString,
      "Content-Type" -> "application/http; msgtype=response"),
      httpWrap(html))

  /** Decode the `response` records of one WARC byte stream into Pages:
    * url/ts from the WARC headers, html = the HTTP body, text via the
    * engine's deterministic extractor (byte-identity invariant preserved:
    * pages written from PageGen round-trip exactly, WarcSpec). Non-response
    * records (request, metadata, warcinfo) are skipped as in any CC reader. */
  def pages(bytes: Array[Byte], lang: String = "en"): Vector[Page] =
    records(bytes).iterator
      .filter(_.recordType.equalsIgnoreCase("response"))
      .map { r =>
        val url = r.targetUri.getOrElse(
          throw new IllegalArgumentException("WARC response without WARC-Target-URI"))
        val ts = r.date.getOrElse(
          throw new IllegalArgumentException(s"WARC response $url without WARC-Date"))
        val html = httpResponseBody(r.payload)
        Page(url, ts, html, TextOps.extractText(html), lang)
      }.toVector
}
