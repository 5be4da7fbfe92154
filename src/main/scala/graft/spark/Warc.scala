package graft.spark

import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC (ISO 28500) record splitting + HTTP payload header extraction —
  * the crawl-archive ingestion format a web-scale extraction pipeline
  * reads upstream of HTML parsing. The reference engine starts at HTML
  * strings; at 100 TB the corpus arrives as WARC, so this is the missing
  * first stage: one blob (a WARC file slice, optionally gzipped) → the
  * records inside it, each with its WARC headers, HTTP status/MIME/charset
  * (for `response` records), and decoded payload body ready for
  * `parse_html_spans`.
  *
  * Totality contract (the MediaUdfs/PdfUdfs convention): malformed input
  * is a row VERDICT (`ok=false` sentinel record or fewer records), never
  * a task failure. Framing is by `Content-Length` — payload bytes are
  * never scanned for record starts, so a body containing "WARC/" cannot
  * desynchronize the walk. Leading garbage before a record is skipped by
  * scanning for the next "WARC/" version line. A record whose
  * Content-Length is missing/invalid, or whose declared payload extends
  * past the blob, yields an `ok=false` record (headers that did parse are
  * kept; available payload prefix is decoded) and STOPS the walk —
  * framing is no longer trustworthy. Gzip blobs (magic 1f 8b, including
  * multi-member concatenation as written by real WARC writers) are
  * inflated with a 64 MB bomb cap; a capped or corrupt stream yields
  * zero records.
  */
object WarcUdfs {
  val recordType: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = false),
    StructField("uri", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("status", IntegerType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("charset", StringType, nullable = false),
    StructField("body", StringType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))
  val recordArrayType: ArrayType = ArrayType(recordType, containsNull = false)

  private val MaxGunzipBytes = 64 << 20
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Multi-member gzip inflate with a bomb cap; null on corrupt/capped.
    * (java.util.zip.GZIPInputStream consumes concatenated members — the
    * per-record-gzipped layout real WARC writers emit.) */
  private def gunzip(b: Array[Byte]): Array[Byte] = {
    var in: java.util.zip.GZIPInputStream = null
    try {
      in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > MaxGunzipBytes) return null
        n = in.read(buf)
      }
      out.toByteArray
    } catch { case NonFatal(_) => null }
    finally if (in != null) in.close() // releases the native Inflater
  }

  private def indexOfWarc(b: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val lim = b.length - 5
    while (i <= lim) {
      if (b(i) == 'W' && b(i + 1) == 'A' && b(i + 2) == 'R' &&
          b(i + 3) == 'C' && b(i + 4) == '/') return i
      i += 1
    }
    -1
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val lim = b.length - 4
    while (i <= lim) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  private def record(warcType: String, uri: String, recordId: String,
                     length: Int, status: Int, mime: String, charset: String,
                     body: String, ok: Boolean): InternalRow =
    InternalRow(u(warcType), u(uri), u(recordId), length, status,
      u(mime), u(charset), u(body), ok)

  /** RFC 7230 OWS trim: strip SP/HTAB only. NEVER String.trim here —
    * it strips every char <= U+0020 (VT, FF, ...), which is the
    * TextNorm-canon trap: a control char inside a header value would
    * round-trip differently through write/parse than through an
    * oracle's replay (the adversarial-corpus VT catch on
    * q_warc_compose). Within a CRLF-split line SP/HTAB are the only
    * legal whitespace anyway. */
  private def owsTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && (s.charAt(a) == ' ' || s.charAt(a) == '\t')) a += 1
    while (b > a && (s.charAt(b - 1) == ' ' || s.charAt(b - 1) == '\t')) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Header lines (after the version line) → lowercase-name map; the
    * last occurrence of a repeated name wins (WARC headers are unique in
    * practice; verbatim-chain semantics are an HTML-attr concern, not a
    * WARC one). */
  private def parseHeaders(text: String): Map[String, String] = {
    var m = Map.empty[String, String]
    var start = 0
    while (start < text.length) {
      val eol = text.indexOf("\r\n", start) match {
        case -1 => text.length
        case e  => e
      }
      val line = text.substring(start, eol)
      val c = line.indexOf(':')
      if (c > 0) {
        m += (owsTrim(line.substring(0, c)).toLowerCase(java.util.Locale.ROOT)
          -> owsTrim(line.substring(c + 1)))
      }
      start = eol + 2
    }
    m
  }

  /** Body decode in the WHATWG fetch order the reference's encoding
    * stage implements: BOM overrides everything (and is stripped), then
    * the HTTP `charset=` parameter when it is a recognized WHATWG
    * label, then the full sniff (meta-prescan → UTF-8 heuristic →
    * legacy fallback — graft.html.Encodings.sniff). Malformed bytes
    * decode to U+FFFD, never a throw — crawl payloads are untrusted. */
  private def decodeBody(b: Array[Byte], from: Int, to: Int,
                         httpCharset: String): String = {
    if (to <= from) return ""
    val slice = java.util.Arrays.copyOfRange(b, from, to)
    val bom = graft.html.Encodings.detectBom(slice)
    val name =
      if (bom != null) bom._1
      else if (httpCharset.nonEmpty &&
        graft.html.Encodings.resolveLabel(httpCharset).isDefined) httpCharset
      else graft.html.Encodings.sniff(slice)
    graft.html.Encodings.decode(slice, name)
  }

  /** (status, mime, charset, body) from an HTTP message payload; the
    * non-HTTP fallback is (-1, "", "", whole payload decoded). */
  private def parseHttp(b: Array[Byte], from: Int, to: Int): (Int, String, String, String) = {
    val plain = (-1, "", "", decodeBody(b, from, to, ""))
    if (to - from < 5 || !(b(from) == 'H' && b(from + 1) == 'T' &&
        b(from + 2) == 'T' && b(from + 3) == 'P' && b(from + 4) == '/')) return plain
    val hdrEnd = indexOfCrlfCrlf(b, from)
    val (headText, bodyFrom) =
      if (hdrEnd < 0 || hdrEnd >= to) (new String(b, from, to - from, Utf8), to)
      else (new String(b, from, hdrEnd - from, Utf8), math.min(hdrEnd + 4, to))
    val eol = headText.indexOf("\r\n") match {
      case -1 => headText.length
      case e  => e
    }
    val statusLine = headText.substring(0, eol)
    val sp = statusLine.indexOf(' ')
    val status =
      if (sp < 0) -1
      else {
        var i = sp + 1
        var v = 0
        var digits = 0
        while (i < statusLine.length && statusLine.charAt(i) >= '0' &&
            statusLine.charAt(i) <= '9' && digits < 9) {
          v = v * 10 + (statusLine.charAt(i) - '0'); i += 1; digits += 1
        }
        if (digits == 0) -1 else v
      }
    val headers = parseHeaders(
      if (eol + 2 <= headText.length) headText.substring(eol + 2) else "")
    val ct = headers.getOrElse("content-type", "")
    val semi = ct.indexOf(';')
    val mime = owsTrim(if (semi < 0) ct else ct.substring(0, semi))
    val charset = {
      val lower = ct.toLowerCase(java.util.Locale.ROOT)
      val at = lower.indexOf("charset=")
      if (at < 0) ""
      else {
        val rest = owsTrim(lower.substring(at + 8)).stripPrefix("\"")
        val end = rest.indexWhere(c => c == ';' || c == ' ' || c == '"')
        if (end < 0) rest else rest.substring(0, end)
      }
    }
    (status, mime, charset, decodeBody(b, bodyFrom, to, charset))
  }

  // ---------------------------------------------------------- CDX index
  // The random-access index step every archive corpus needs at scale
  // (the CDX convention): per record, its byte offset and span inside
  // the (decompressed) blob plus a payload digest — what lets a reader
  // seek straight to one record of a 1 GB archive member, dedup at the
  // payload level before any decode, and verify integrity after a
  // copy. Same Content-Length-only framing walk as splitRecords; md5
  // digest (the repo's oracle-hash family) of the RAW payload bytes.
  // Malformed records index with ok=false over the available span and
  // halt the walk, mirroring splitRecords' verdicts exactly.

  val indexType: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("rec_offset", LongType, nullable = false),
    StructField("rec_len", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("payload_digest", StringType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))
  val indexArrayType: ArrayType = ArrayType(indexType, containsNull = false)

  private def md5Hex(b: Array[Byte], from: Int, to: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(b, from, math.max(to - from, 0))
    val d = md.digest()
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  private def idxRec(idx: Int, off: Long, len: Long, warcType: String,
                     digest: String, ok: Boolean): InternalRow =
    InternalRow(idx, off, len, u(warcType), u(digest), ok)

  def indexRecords(blob0: Array[Byte]): ArrayData =
    try {
      val blob =
        if (blob0.length >= 2 && (blob0(0) & 0xff) == 0x1f && (blob0(1) & 0xff) == 0x8b)
          gunzip(blob0)
        else blob0
      if (blob == null) return new GenericArrayData(Array.empty[Any])
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = indexOfWarc(blob, 0)
      var idx = 0
      var halted = false
      while (i >= 0 && !halted) {
        val hdrEnd = indexOfCrlfCrlf(blob, i)
        if (hdrEnd < 0) {
          out += idxRec(idx, i, blob.length - i, "", "", ok = false)
          halted = true
        } else {
          val headText = new String(blob, i, hdrEnd - i, Utf8)
          val verEol = headText.indexOf("\r\n") match {
            case -1 => headText.length
            case e  => e
          }
          val headers = parseHeaders(
            if (verEol + 2 <= headText.length) headText.substring(verEol + 2) else "")
          val warcType = headers.getOrElse("warc-type", "")
          val lenStr = headers.getOrElse("content-length", "")
          val len =
            if (lenStr.nonEmpty && lenStr.forall(c => c >= '0' && c <= '9') &&
                lenStr.length <= 9) lenStr.toInt
            else -1
          val p = hdrEnd + 4
          if (len < 0) {
            out += idxRec(idx, i, (p - i).toLong, warcType, "", ok = false)
            halted = true
          } else if (p + len > blob.length) {
            out += idxRec(idx, i, (blob.length - i).toLong, warcType,
              md5Hex(blob, p, blob.length), ok = false)
            halted = true
          } else {
            out += idxRec(idx, i, (p + len - i).toLong, warcType,
              md5Hex(blob, p, p + len), ok = true)
            i = indexOfWarc(blob, p + len)
          }
          idx += 1
        }
      }
      new GenericArrayData(out.toArray)
    } catch {
      case NonFatal(_) => new GenericArrayData(Array.empty[Any])
    }

  def splitRecords(blob0: Array[Byte]): ArrayData =
    try {
      val blob =
        if (blob0.length >= 2 && (blob0(0) & 0xff) == 0x1f && (blob0(1) & 0xff) == 0x8b)
          gunzip(blob0)
        else blob0
      if (blob == null) return new GenericArrayData(Array.empty[Any])
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = indexOfWarc(blob, 0)
      var halted = false
      while (i >= 0 && !halted) {
        val hdrEnd = indexOfCrlfCrlf(blob, i)
        if (hdrEnd < 0) {
          // version line with no complete header block: truncated archive
          out += record("", "", "", -1, -1, "", "", "", ok = false)
          halted = true
        } else {
          val headText = new String(blob, i, hdrEnd - i, Utf8)
          val verEol = headText.indexOf("\r\n") match {
            case -1 => headText.length
            case e  => e
          }
          val headers = parseHeaders(
            if (verEol + 2 <= headText.length) headText.substring(verEol + 2) else "")
          val warcType = headers.getOrElse("warc-type", "")
          val uri = headers.getOrElse("warc-target-uri", "")
          val recordId = headers.getOrElse("warc-record-id", "")
          val lenStr = headers.getOrElse("content-length", "")
          val len =
            if (lenStr.nonEmpty && lenStr.forall(c => c >= '0' && c <= '9') &&
                lenStr.length <= 9) lenStr.toInt
            else -1
          val p = hdrEnd + 4
          if (len < 0) {
            out += record(warcType, uri, recordId, -1, -1, "", "", "", ok = false)
            halted = true // framing lost without a Content-Length
          } else if (p + len > blob.length) {
            val (st, mime, cs, body) = parseHttp(blob, p, blob.length)
            out += record(warcType, uri, recordId, len, st, mime, cs, body, ok = false)
            halted = true // declared payload runs past the blob
          } else {
            val (st, mime, cs, body) = parseHttp(blob, p, p + len)
            out += record(warcType, uri, recordId, len, st, mime, cs, body, ok = true)
            i = indexOfWarc(blob, p + len)
          }
        }
      }
      new GenericArrayData(out.toArray)
    } catch {
      case NonFatal(_) => new GenericArrayData(Array.empty[Any])
    }

  private def md5HexStr(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(Utf8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** WARC record COMPOSITION — the write path that round-trips through
    * `splitRecords`. Emits one `WARC/1.0` response record wrapping the
    * body in an HTTP/1.1 200 message (Content-Type text/html;
    * charset=utf-8), with:
    *  - Content-Length = OCTET length of the payload (UTF-8 bytes — the
    *    q_warc_extract lesson: codepoint length misframes non-ASCII);
    *  - WARC-Block-Digest = md5 of the payload bytes;
    *  - a DETERMINISTIC WARC-Record-ID: urn:uuid formatted from
    *    md5(uri + ' ' + date) — retry-stable at scale (a random UUID
    *    would break task-retry idempotence AND the DuckDB oracle);
    *  - uri/date sanitized of EVERY char <= U+0020 — CR/LF/NUL are
    *    header injection (a crawl URL must not be able to forge
    *    headers), SPACE is invalid in a URI and keeps the record-ID
    *    hash input `uri + ' ' + date` unambiguous, and the remaining
    *    C0 controls (TAB/VT/FF/...) are both URI-invalid and the
    *    round-trip hazard: a control char surviving into a header
    *    value makes the written record disagree with any re-parse
    *    that trims it (the adversarial-corpus VT catch). The body
    *    needs NO sanitization because framing is byte-count, never
    *    content scan.
    * All strings; callers needing bytes wrap in encode(..., 'UTF-8')
    * (which is exactly how the round-trip query feeds splitRecords). */
  def compose(uri0: UTF8String, date0: UTF8String, body: UTF8String): UTF8String = {
    def clean(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c > ' ') sb.append(c)
        i += 1
      }
      sb.toString
    }
    val uri = clean(uri0.toString)
    val date = clean(date0.toString)
    val bodyStr = body.toString
    val crlf = "\r\n"
    val payload = "HTTP/1.1 200 OK" + crlf +
      "Content-Type: text/html; charset=utf-8" + crlf +
      "Content-Length: " + bodyStr.getBytes(Utf8).length + crlf + crlf + bodyStr
    val h = md5HexStr(uri + " " + date)
    val uuid = h.substring(0, 8) + "-" + h.substring(8, 12) + "-" +
      h.substring(12, 16) + "-" + h.substring(16, 20) + "-" + h.substring(20, 32)
    val rec = "WARC/1.0" + crlf +
      "WARC-Type: response" + crlf +
      "WARC-Record-ID: <urn:uuid:" + uuid + ">" + crlf +
      "WARC-Date: " + date + crlf +
      "WARC-Target-URI: " + uri + crlf +
      "WARC-Block-Digest: md5:" + md5HexStr(payload) + crlf +
      "Content-Type: application/http; msgtype=response" + crlf +
      "Content-Length: " + payload.getBytes(Utf8).length + crlf + crlf +
      payload + crlf + crlf
    UTF8String.fromString(rec)
  }

  /** WET conversion record (the WARC→WET step of the CommonCrawl
    * pipeline): the extracted plain text of a response record as a
    * `WARC-Type: conversion` / `Content-Type: text/plain` record that
    * `WARC-Refers-To`s its source. Same conventions as [[compose]] —
    * header values sanitized of every char <= U+0020, Content-Length =
    * octet length, deterministic record id (here from
    * `uri + ' ' + date + ' conversion'` so the conversion id never
    * collides with its source response id), body byte-framed and never
    * sanitized. The q_warc_wet oracle rebuilds the record from the same
    * arithmetic — layout changes move both sides in lockstep. */
  def composeWet(uri0: UTF8String, date0: UTF8String,
                 refersTo0: UTF8String, text: UTF8String): UTF8String = {
    def clean(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c > ' ') sb.append(c)
        i += 1
      }
      sb.toString
    }
    val uri = clean(uri0.toString)
    val date = clean(date0.toString)
    val refersTo = clean(refersTo0.toString)
    val payload = text.toString
    val crlf = "\r\n"
    val h = md5HexStr(uri + " " + date + " conversion")
    val uuid = h.substring(0, 8) + "-" + h.substring(8, 12) + "-" +
      h.substring(12, 16) + "-" + h.substring(16, 20) + "-" + h.substring(20, 32)
    val rec = "WARC/1.0" + crlf +
      "WARC-Type: conversion" + crlf +
      "WARC-Record-ID: <urn:uuid:" + uuid + ">" + crlf +
      "WARC-Date: " + date + crlf +
      "WARC-Target-URI: " + uri + crlf +
      "WARC-Refers-To: " + refersTo + crlf +
      "WARC-Block-Digest: md5:" + md5HexStr(payload) + crlf +
      "Content-Type: text/plain" + crlf +
      "Content-Length: " + payload.getBytes(Utf8).length + crlf + crlf +
      payload + crlf + crlf
    UTF8String.fromString(rec)
  }
}

/** UTF8String adapters for the robots.txt kernels (graft_robots_allows,
  * graft_robots_meta); codegen calls them directly. */
object RobotsMetaUdf {
  val structType: StructType = StructType(Seq(
    StructField("sitemaps", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("crawl_delay", StringType, nullable = true)
  ))

  /** May the agent fetch the path? RFC 9309 longest-match evaluation —
    * see [[graft.ops.Robots.allows]] for group selection, wildcard/anchor
    * semantics, and tie-breaks. */
  def allows(robots: UTF8String, agent: UTF8String, path: UTF8String): Boolean =
    graft.ops.Robots.allows(robots.toString, agent.toString, path.toString)

  /** struct(sitemaps array<string>, crawl_delay string): the non-rule
    * directives a frontier consumes (see [[graft.ops.Robots.meta]]:
    * Sitemap values in file order, group-scoped Crawl-delay, null when
    * absent). */
  def meta(robots: UTF8String, agent: UTF8String): InternalRow = {
    val (sitemaps, delay) =
      graft.ops.Robots.meta(robots.toString, agent.toString)
    InternalRow(
      new GenericArrayData(sitemaps.map(UTF8String.fromString).toArray[Any]),
      if (delay == null) null else UTF8String.fromString(delay))
  }
}
