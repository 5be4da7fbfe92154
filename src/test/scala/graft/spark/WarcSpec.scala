package graft.spark

import org.scalatest.funsuite.AnyFunSuite

/** WARC record splitter pins: Content-Length framing, HTTP payload
  * split, gzip (incl. multi-member) inflate, bomb cap, totality. */
class WarcSpec extends AnyFunSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private case class Rec(warcType: String, uri: String, recordId: String,
                         length: Int, status: Int, mime: String,
                         charset: String, body: String, ok: Boolean)

  private def split(b: Array[Byte]): Seq[Rec] = {
    val arr = WarcUdfs.splitRecords(b)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 9)
      Rec(r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        r.getUTF8String(2).toString, r.getInt(3), r.getInt(4),
        r.getUTF8String(5).toString, r.getUTF8String(6).toString,
        r.getUTF8String(7).toString, r.getBoolean(8))
    }
  }

  private def response(id: Int, body: String,
                       mime: String = "text/html; charset=utf-8"): String = {
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: $mime\r\n\r\n$body"
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$id>\r\n" +
      s"WARC-Target-URI: http://e.com/$id\r\nContent-Length: ${http.length}\r\n" +
      s"\r\n$http\r\n\r\n"
  }

  private def metadata(id: Int, payload: String): String =
    s"WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Record-ID: <urn:uuid:m$id>\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n$payload\r\n\r\n"

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("plain two-record archive: framing, HTTP split, charset") {
    val archive = (response(1, "<p>hello</p>") + metadata(1, "meta x")).getBytes(Utf8)
    val rs = split(archive)
    assert(rs.size == 2)
    assert(rs(0) == Rec("response", "http://e.com/1", "<urn:uuid:1>",
      rs(0).length, 200, "text/html", "utf-8", "<p>hello</p>", ok = true))
    assert(rs(1) == Rec("metadata", "", "<urn:uuid:m1>", 6, -1, "", "",
      "meta x", ok = true))
  }

  test("payload containing 'WARC/' cannot desynchronize the Content-Length framing") {
    val tricky = "fake WARC/1.0\r\nWARC-Type: response\r\n\r\n inner"
    val rs = split((response(7, tricky, mime = "text/plain") + metadata(7, "m")).getBytes(Utf8))
    assert(rs.map(_.warcType) == Seq("response", "metadata"))
    assert(rs(0).body == tricky && rs(0).ok)
  }

  test("single-member and multi-member gzip both inflate to the same records") {
    val r1 = response(3, "abc").getBytes(Utf8)
    val r2 = metadata(3, "payload").getBytes(Utf8)
    val plain = split(r1 ++ r2)
    assert(plain.size == 2)
    assert(split(gz(r1 ++ r2)) == plain)        // one member, whole archive
    assert(split(gz(r1) ++ gz(r2)) == plain)    // per-record members (real writers)
  }

  test("gzip bomb is capped to zero records; corrupt gzip is total") {
    val bomb = gz(new Array[Byte](80 << 20)) // 80 MB of zeros, tiny compressed
    assert(split(bomb).isEmpty)
    val corrupt = gz(response(1, "x").getBytes(Utf8)).take(10)
    assert(split(corrupt).isEmpty)
  }

  test("missing Content-Length halts with a sentinel; overrun decodes the prefix") {
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://e.com/9\r\n\r\nHTTP/1.1 200 OK\r\n\r\nbody" +
      metadata(9, "after")).getBytes(Utf8)
    val rs = split(noLen)
    assert(rs == Seq(Rec("response", "http://e.com/9", "", -1, -1, "", "", "",
      ok = false))) // halted: the trailing metadata record is unreachable
    val cut = response(4, "0123456789").getBytes(Utf8).dropRight(8) // 4 crlf + 4 body
    val over = split(cut)
    assert(over.size == 1 && !over.head.ok && over.head.body == "012345" &&
      over.head.status == 200)
  }

  test("leading garbage and a corrupt magic are skipped to the next record") {
    val rs = split(("garbage bytes here" + metadata(5, "pay")).getBytes(Utf8))
    assert(rs.size == 1 && rs.head.warcType == "metadata" && rs.head.ok)
    val badFirst = (response(6, "x").replace("WARC/1.0", "XARC/1.0") +
      metadata(6, "pay")).getBytes(Utf8)
    val rs2 = split(badFirst)
    assert(rs2.map(_.warcType) == Seq("metadata"))
  }

  test("every-prefix truncation totality (never throws; ok only with full framing)") {
    val archive = (response(8, "<div>t</div>") + metadata(8, "zz")).getBytes(Utf8)
    (0 to archive.length).foreach { n =>
      val rs = split(archive.take(n)) // must not throw
      rs.filter(_.ok).foreach(r => assert(r.length >= 0))
    }
    assert(split(Array.emptyByteArray).isEmpty)
  }

  test("body decode follows the WHATWG fetch order: BOM > HTTP charset > sniff") {
    def respond(ct: String, payload: Array[Byte]): Array[Byte] = {
      val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n".getBytes(Utf8)
      val http = head ++ payload
      (s"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: ${http.length}\r\n\r\n"
        .getBytes(Utf8)) ++ http ++ "\r\n\r\n".getBytes(Utf8)
    }
    // transport label drives the decode: 0x93 is U+201C in windows-1252
    val w = split(respond("text/html; charset=windows-1252", Array(0x93.toByte)))
    assert(w.head.body == "“" && w.head.charset == "windows-1252")
    // BOM wins over a wrong transport label and is stripped
    val bom = split(respond("text/html; charset=windows-1252",
      Array(0xEF, 0xBB, 0xBF, 'y').map(_.toByte)))
    assert(bom.head.body == "y")
    // unknown label falls through to the sniff (here: valid UTF-8 bytes)
    val snf = split(respond("text/html; charset=bogus-enc",
      "café".getBytes(Utf8)))
    assert(snf.head.body == "café")
    // malformed bytes under the declared charset become U+FFFD, no throw
    val bad = split(respond("text/plain; charset=utf-8", Array(0xFF.toByte)))
    assert(bad.head.body == "�")
  }

  test("header names are case-insensitive; charset value unquotes and lowercases") {
    val http = "HTTP/1.1 404 Not Found\r\ncontent-TYPE: Text/HTML; charset=\"UTF-8\"\r\n\r\nnope"
    val raw = s"WARC/1.0\r\nwarc-type: response\r\ncontent-length: ${http.length}\r\n\r\n$http\r\n\r\n"
    val rs = split(raw.getBytes(Utf8))
    assert(rs.size == 1)
    val r = rs.head
    assert(r.warcType == "response" && r.status == 404 &&
      r.mime == "Text/HTML" && r.charset == "utf-8" && r.body == "nope" && r.ok)
  }

  // ------------------------------------------------ CDX index (round 6)

  private case class Idx(idx: Int, off: Long, len: Long, warcType: String,
                         digest: String, ok: Boolean)

  private def index(b: Array[Byte]): Seq[Idx] = {
    val arr = WarcUdfs.indexRecords(b)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 6)
      Idx(r.getInt(0), r.getLong(1), r.getLong(2), r.getUTF8String(3).toString,
        r.getUTF8String(4).toString, r.getBoolean(5))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(Utf8))
      .map(b => f"$b%02x").mkString

  test("index: offsets/spans/digests for a two-record archive; gzip offsets are decompressed-space") {
    val r1 = response(3, "<p>idx</p>")
    val r2 = metadata(3, "meta payload")
    val plain = (r1 + r2).getBytes(Utf8)
    val ix = index(plain)
    assert(ix.size == 2)
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n<p>idx</p>"
    assert(ix(0) == Idx(0, 0L, r1.length - 4L, "response", md5hex(http), ok = true))
    assert(ix(1) == Idx(1, r1.length.toLong, r2.length - 4L, "metadata",
      md5hex("meta payload"), ok = true))
    // gzip: same index (offsets refer to the DECOMPRESSED blob)
    assert(index(gz(plain)) == ix)
  }

  test("index: leading garbage skipped; missing length and overrun index ok=false and halt") {
    val r1 = response(4, "x")
    val garbage = ("junk bytes " + r1).getBytes(Utf8)
    val ix = index(garbage)
    assert(ix.size == 1 && ix(0).off == 11L && ix(0).ok)
    // missing Content-Length: header span indexed, walk halts
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\npayload".getBytes(Utf8)
    val ix2 = index(noLen)
    assert(ix2.size == 1 && !ix2(0).ok && ix2(0).digest == "")
    // overrun: available span + prefix digest
    val cut = r1.getBytes(Utf8).dropRight(7)
    val ix3 = index(cut)
    assert(ix3.size == 1 && !ix3(0).ok && ix3(0).len == cut.length.toLong)
    // totality: every prefix indexes without throwing
    (0 until r1.length).foreach(n => index(r1.getBytes(Utf8).take(n)))
  }

  private def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  test("compose round-trips through splitRecords") {
    // non-ASCII body: framing must count UTF-8 octets, not codepoints —
    // a codepoint count would truncate the payload and fail the parse
    val body = "Bcafé 中文  end"
    val rec = WarcUdfs.compose(u("https://e.com/a"), u("2026-01-01T00:00:00Z"),
      u(body)).toString
    val rs = split(rec.getBytes(Utf8))
    assert(rs.size == 1)
    val r = rs.head
    assert(r.ok && r.warcType == "response" && r.uri == "https://e.com/a")
    assert(r.status == 200 && r.mime == "text/html" && r.charset == "utf-8")
    assert(r.body == body)
    // two composed records concatenated stay framed (the WARC-file shape)
    val two = rec + WarcUdfs.compose(u("https://e.com/b"),
      u("2026-01-01T00:00:00Z"), u("Bsecond WARC/1.0 inside")).toString
    val both = split(two.getBytes(Utf8))
    assert(both.size == 2 && both.forall(_.ok) &&
      both(1).body == "Bsecond WARC/1.0 inside")
  }

  test("compose: deterministic id, digest, header sanitization") {
    val a = WarcUdfs.compose(u("https://e.com/x"), u("2026-01-01T00:00:00Z"), u("Bb")).toString
    val b = WarcUdfs.compose(u("https://e.com/x"), u("2026-01-01T00:00:00Z"), u("Bb")).toString
    assert(a == b) // retry-stable
    assert(a.contains("WARC-Record-ID: <urn:uuid:") &&
      "urn:uuid:[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
        .findFirstIn(a).isDefined)
    // header-injection attempt: every char <= U+0020 is stripped from
    // the URI (CR/LF = injection; NUL/space/TAB/VT/FF = URI-invalid AND
    // the round-trip trap: a control char in a header value re-parses
    // differently than an oracle replays it — the adversarial VT catch)
    val evil = WarcUdfs.compose(
      u("https://e.com/\r\nWARC-Type: forged\u0000\t\u000b\f x"),
      u("2026-01-01T00:00:00Z"), u("Bb")).toString
    assert(evil.contains("WARC-Target-URI: https://e.com/WARC-Type:forgedx\r\n"))
    val parsed = split(evil.getBytes(Utf8))
    assert(parsed.size == 1 && parsed.head.ok &&
      parsed.head.warcType == "response")
    // block digest matches an independent md5 of the payload octets
    val rec = a
    val payloadStart = rec.indexOf("\r\n\r\n") + 4
    val payload = rec.substring(payloadStart, rec.length - 4)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes(Utf8)).map("%02x".format(_)).mkString
    assert(rec.contains(s"WARC-Block-Digest: md5:$md"))
  }

  test("composeWet: conversion record round-trips; id distinct from source") {
    val text = "Title café 中文 body text"
    val src = WarcUdfs.compose(u("https://e.com/w"), u("2026-02-02T00:00:00Z"),
      u("<p>x</p>")).toString
    val srcId = "<urn:uuid:[0-9a-f-]{36}>".r.findFirstIn(src).get
    val wet = WarcUdfs.composeWet(u("https://e.com/w"), u("2026-02-02T00:00:00Z"),
      u(srcId), u(text)).toString
    val rs = split(wet.getBytes(Utf8))
    assert(rs.size == 1)
    val r = rs.head
    // non-http payload: raw body, octet framing, target-uri carried
    assert(r.ok && r.warcType == "conversion" && r.uri == "https://e.com/w")
    assert(r.body == text)
    assert(wet.contains(s"WARC-Refers-To: $srcId"))
    assert(wet.contains("Content-Type: text/plain"))
    assert(wet.contains(s"Content-Length: ${text.getBytes(Utf8).length}"))
    // the ' conversion' salt keeps the WET id distinct from its source
    val wetId = "<urn:uuid:[0-9a-f-]{36}>".r.findFirstIn(wet).get
    assert(wetId != srcId)
    // refers-to value sanitized like every header (injection-proof)
    val evil = WarcUdfs.composeWet(u("https://e.com/w"), u("d"),
      u("<id\r\nWARC-Type: forged>"), u("t")).toString
    assert(evil.contains("WARC-Refers-To: <idWARC-Type:forged>\r\n"))
    assert(split(evil.getBytes(Utf8)).head.ok)
  }
}
