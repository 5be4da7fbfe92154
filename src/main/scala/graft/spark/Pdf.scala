package graft.spark

import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** REAL PDF structure + text extraction over opaque binary columns —
  * the north rule's "PDF/layout parse" leg, pure public format (ISO
  * 32000 / the original Adobe spec), no library:
  *
  *  - object scan: `N G obj … endobj` bodies located by a digit-aware
    *  scanner (no xref trust — real-world PDFs lie in /Length and
    *  xref offsets, so streams are delimiter-bounded: `stream\r?\n` …
    *  nearest `endstream`);
  *  - FlateDecode: content streams compressed with /FlateDecode are
  *    inflated with java.util.zip.Inflater (zlib IS deflate — the JDK
  *    covers the dominant real-world filter); undecodable streams are
  *    skipped, never thrown;
  *  - layout/text pass: any decoded stream containing a BT…ET text
  *    block runs through a real content-stream tokenizer — literal
  *    strings with the full escape set (\n \r \t \b \f \( \) \\ \ooo,
  *    line continuations, nested parens), hex strings, arrays — and the
  *    show-text operators Tj, TJ (kern numbers ignored), ' and ";
  *    Td, TD, T-star, ' and " start a new output line; streams are
  *    joined by newline in document order;
  *  - info pass: header version, page count (root /Type/Pages /Count,
  *    falling back to counting /Type/Page dicts), object count,
  *    ok = header + %%EOF trailer both present.
  *
  * Honest limits (documented, unit-tested as such): glyphs are mapped
  * raw (Latin-1 view) — custom font encodings / ToUnicode CMaps are out
  * of scope; encrypted PDFs report ok=false text="".
  */
object PdfUdfs {

  val infoStructType: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("pages", IntegerType, nullable = false),
    StructField("objects", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))

  private val objPat = java.util.regex.Pattern.compile("(\\d+)\\s+(\\d+)\\s+obj\\b")

  private def latin1(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** (version, pages, objects, ok). Total function. */
  def info(b: Array[Byte]): (String, Int, Int, Boolean) = {
    if (b == null || b.length < 5) return ("", 0, 0, false)
    val s = latin1(b)
    val version =
      if (s.startsWith("%PDF-")) {
        var e = 5
        while (e < s.length && e < 16 && !s.charAt(e).isWhitespace) e += 1
        s.substring(5, e)
      } else return ("", 0, 0, false)
    var objects = 0
    val m = objPat.matcher(s)
    while (m.find()) objects += 1
    // root page tree: max /Count among /Type/Pages dicts (nested page
    // trees put partial counts on inner nodes; the root carries the
    // total). Fallback: count leaf /Type/Page dicts.
    var pages = 0
    var i = s.indexOf("/Type")
    while (i >= 0) {
      var j = i + 5
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      if (s.startsWith("/Pages", j)) {
        // /Count N within this dict region (scan to the closing >>)
        val end = s.indexOf(">>", j)
        val region = if (end < 0) s.substring(j) else s.substring(j, end)
        val cm = java.util.regex.Pattern.compile("/Count\\s+(\\d+)").matcher(region)
        if (cm.find()) pages = math.max(pages, cm.group(1).toInt)
      }
      i = s.indexOf("/Type", i + 1)
    }
    if (pages == 0) {
      var k = s.indexOf("/Type")
      while (k >= 0) {
        var j = k + 5
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (s.startsWith("/Page", j) && !s.startsWith("/Pages", j)) pages += 1
        k = s.indexOf("/Type", k + 1)
      }
    }
    val encrypted = s.contains("/Encrypt")
    val ok = !encrypted && s.lastIndexOf("%%EOF") >= 0
    (version, pages, objects, ok)
  }

  /** Extracted text, streams joined by \n in document order. */
  /** Literal/hex string bytes ride through the Latin-1 view char-per-
    * byte; if the assembled text's bytes are STRICTLY valid UTF-8,
    * present them as UTF-8 (real-world PDFs emit UTF-8 literal
    * strings), else keep the byte-transparent Latin-1 reading. Total:
    * never throws (round-6 — the adversarial corpus caught Σ mojibake). */
  private def reDecodeUtf8(s: String): String =
    // one algorithm, two surfaces: graft.ops.TextOps.demojibake is the
    // shared pure-byte-view / strict-UTF-8 rule (q_pdf_extract and
    // q_demojibake both gate it — semantics move in lockstep)
    graft.ops.TextOps.demojibake(s)

  def text(b: Array[Byte]): String = reDecodeUtf8(textRaw(b))

  private def textRaw(b: Array[Byte]): String = {
    if (b == null || b.length < 5) return ""
    val s = latin1(b)
    if (!s.startsWith("%PDF-") || s.contains("/Encrypt")) return ""
    // pass 1: decode every stream once (CMap objects may appear after
    // the content streams that need them)
    val streams = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var walking = true
    while (walking) {
      val streamKw = s.indexOf("stream", from)
      if (streamKw < 0) walking = false
      // must be the keyword, not part of "endstream"
      else if (streamKw >= 3 && s.regionMatches(streamKw - 3, "end", 0, 3)) {
        from = streamKw + 6
      } else {
        var dataStart = streamKw + 6
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        val endKw = s.indexOf("endstream", dataStart)
        if (endKw < 0) walking = false
        else {
          // the stream's dict = everything from its object header to the
          // keyword (NOT lastIndexOf("<<") — a nested sub-dict like
          // /DecodeParms<<…>> would shadow the outer /Filter entry)
          val objStart = s.lastIndexOf("obj", streamKw)
          val dict = if (objStart >= 0) s.substring(objStart, streamKw)
            else s.substring(math.max(0, streamKw - 512), streamKw)
          var data = java.util.Arrays.copyOfRange(b, dataStart, endKw)
          // trailing EOL before endstream belongs to the delimiter
          while (data.length > 0 && (data(data.length - 1) == '\n' || data(data.length - 1) == '\r'))
            data = java.util.Arrays.copyOf(data, data.length - 1)
          if (dict.contains("/FlateDecode")) data = inflate(data)
          if (data != null) streams += latin1(data)
          from = endKw + 9
        }
      }
    }
    // pass 2: merge every ToUnicode CMap in the document (the pragmatic
    // single-font-family assumption real extractors use when they don't
    // resolve per-page font resources; documented in `cmapText`)
    val cmap = new java.util.HashMap[Integer, String]()
    streams.foreach { c =>
      if (c.contains("beginbfchar") || c.contains("beginbfrange"))
        parseCMap(c, cmap)
    }
    // pass 3: show-text extraction, hex strings mapped through the CMap
    val out = new java.lang.StringBuilder(256)
    streams.foreach { content =>
      if (content.contains("BT")) {
        val t = contentText(content, cmap)
        if (t.nonEmpty) {
          if (out.length > 0) out.append('\n')
          out.append(t)
        }
      }
    }
    out.toString
  }

  // ------------------------------------------------- ToUnicode CMaps
  // Subset-font text recovery (PDF 32000-1 §9.10.3): without the CMap a
  // Type0/Identity-H page shows as raw glyph codes. Scope (documented):
  // 2-byte source codes (Identity-H, the overwhelmingly common case),
  // bfchar + bfrange (both dst forms), dst parsed as UTF-16BE (multi-
  // codepoint ligature targets and surrogate pairs compose naturally).
  // All CMaps in the document merge into one table — per-page font
  // resource resolution is out of scope; for multi-font documents with
  // CONFLICTING code spaces the first mapping wins. Entry count capped
  // (bomb discipline).

  private val MaxCmapEntries = 65536

  private def utf16be(hex: String): String = {
    if (hex.length < 2 || hex.length % 2 != 0) return null
    val n = hex.length / 2
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val hi = Character.digit(hex.charAt(2 * i), 16)
      val lo = Character.digit(hex.charAt(2 * i + 1), 16)
      if (hi < 0 || lo < 0) return null
      bytes(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    if (n % 2 != 0) return null
    new String(bytes, java.nio.charset.StandardCharsets.UTF_16BE)
  }

  /** Collect `<hex>` tokens between `from` and the next `end` keyword. */
  private def hexTokens(s: String, from: Int, endKw: String): (Seq[String], Int) = {
    val end = s.indexOf(endKw, from) match {
      case -1 => s.length
      case e  => e
    }
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = from
    while (i < end) {
      val c = s.charAt(i)
      if (c == '<') {
        val close = s.indexOf('>', i + 1)
        if (close < 0 || close > end) i = end
        else { toks += s.substring(i + 1, close).trim; i = close + 1 }
      } else if (c == '[') { toks += "["; i += 1 }
      else if (c == ']') { toks += "]"; i += 1 }
      else i += 1
    }
    (toks.toSeq, end + endKw.length)
  }

  private[spark] def parseCMap(s: String, into: java.util.HashMap[Integer, String]): Unit = {
    def put(code: Int, dst: String): Unit =
      if (dst != null && into.size < MaxCmapEntries && !into.containsKey(code))
        into.put(code, dst)
    var i = 0
    while (i < s.length) {
      val bc = s.indexOf("beginbfchar", i)
      val br = s.indexOf("beginbfrange", i)
      if (bc < 0 && br < 0) i = s.length
      else if (bc >= 0 && (br < 0 || bc < br)) {
        val (toks, next) = hexTokens(s, bc + 11, "endbfchar")
        var j = 0
        while (j + 1 < toks.length) {
          val src = toks(j)
          if (src.length == 4) {
            try put(Integer.parseInt(src, 16), utf16be(toks(j + 1)))
            catch { case _: NumberFormatException => }
          }
          j += 2
        }
        i = next
      } else {
        val (toks, next) = hexTokens(s, br + 12, "endbfrange")
        var j = 0
        while (j + 2 < toks.length || (j + 2 == toks.length && toks.length >= 3)) {
          if (j + 2 >= toks.length) { j = toks.length }
          else if (toks(j) == "[" || toks(j) == "]") j += 1
          else {
            val lo0 = toks(j); val hi0 = toks(j + 1)
            if (lo0.length == 4 && hi0.length == 4) {
              try {
                val lo = Integer.parseInt(lo0, 16)
                val hi = Integer.parseInt(hi0, 16)
                if (toks(j + 2) == "[") {
                  // bracketed form: one dst per code
                  var k = j + 3
                  var code = lo
                  while (k < toks.length && toks(k) != "]") {
                    if (code <= hi) put(code, utf16be(toks(k)))
                    code += 1; k += 1
                  }
                  j = k + 1
                } else {
                  // dstStart form: last UTF-16 unit increments
                  val d0 = utf16be(toks(j + 2))
                  if (d0 != null && d0.nonEmpty && hi - lo >= 0 && hi - lo <= 0xFFFF) {
                    var code = lo
                    while (code <= hi) {
                      val a = d0.toCharArray
                      a(a.length - 1) = (a(a.length - 1) + (code - lo)).toChar
                      put(code, new String(a))
                      code += 1
                    }
                  }
                  j += 3
                }
              } catch { case _: NumberFormatException => j += 3 }
            } else j += 3
          }
        }
        i = next
      }
    }
  }

  /** Map a raw hex-string byte sequence (latin1 view: char==byte)
    * through the 2-byte-code CMap; unmapped codes and odd tails fall
    * back to the byte-transparent reading. */
  private def mapCodes(raw: String, cmap: java.util.HashMap[Integer, String]): String = {
    if (cmap.isEmpty || raw.isEmpty) return raw
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i + 1 < raw.length) {
      val code = (raw.charAt(i) << 8) | raw.charAt(i + 1)
      val m = cmap.get(code)
      if (m != null) sb.append(m)
      else { sb.append(raw.charAt(i)); sb.append(raw.charAt(i + 1)) }
      i += 2
    }
    if (i < raw.length) sb.append(raw.charAt(i))
    sb.toString
  }

  /** Inflated output is capped: a crafted deflate bomb (~1000:1
    * expansion) in an untrusted corpus must become a null row verdict,
    * not an executor OOM — same contract as the stuck-inflater path. */
  private val MaxInflatedBytes = 64 << 20

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return null // stuck (corrupt/dict-needed)
        out.write(buf, 0, n)
        if (out.size > MaxInflatedBytes) return null // deflate bomb
      }
      out.toByteArray
    } catch { case NonFatal(_) => null }
    finally inf.end() // native zlib state, on every path
  }

  /** Text of one content stream: BT…ET blocks, show-text operators.
    * Hex strings route through the merged ToUnicode CMap when one
    * exists; literal strings are byte-transparent as before. */
  private def contentText(s: String,
      cmap: java.util.HashMap[Integer, String] = new java.util.HashMap()): String = {
    val out = new java.lang.StringBuilder(128)
    var newlinePending = false
    var lastString: String = null
    var inText = false
    def show(t: String): Unit = {
      if (t == null) return
      if (newlinePending && out.length > 0) out.append('\n')
      newlinePending = false
      out.append(t)
    }
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '(') {
        val (str, next) = literalString(s, i)
        lastString = reDecodeUtf8(str); i = next
      } else if (c == '<' && (i + 1 >= n || s.charAt(i + 1) != '<')) {
        val (str, next) = hexString(s, i)
        lastString = mapCodes(str, cmap); i = next
      } else if (c == '<') {
        i = s.indexOf(">>", i) match { case -1 => n; case e => e + 2 }
      } else if (c == '[') {
        // array operand: concatenate its strings (TJ shows them in
        // order; kern adjustments — the numbers — are ignored)
        val sb = new java.lang.StringBuilder
        var j = i + 1
        var done = false
        while (j < n && !done) {
          val cj = s.charAt(j)
          if (cj == '(') { val (str, next) = literalString(s, j); sb.append(str); j = next }
          else if (cj == '<') { val (str, next) = hexString(s, j); sb.append(mapCodes(str, cmap)); j = next }
          else if (cj == ']') { done = true; j += 1 }
          else j += 1
        }
        lastString = reDecodeUtf8(sb.toString); i = j
      } else if (c == '%') { // comment to EOL
        while (i < n && s.charAt(i) != '\n' && s.charAt(i) != '\r') i += 1
      } else if (c.isLetter || c == '\'' || c == '"' || c == '*') {
        var j = i
        while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '*' ||
          s.charAt(j) == '\'' || s.charAt(j) == '"')) j += 1
        val op = s.substring(i, j)
        op match {
          case "BT" => inText = true; newlinePending = false
          case "ET" => inText = false
          case "Tj" | "TJ" => if (inText) show(lastString)
          case "'" => if (inText) { newlinePending = true; show(lastString) }
          case "\"" => if (inText) { newlinePending = true; show(lastString) }
          case "Td" | "TD" | "T*" => newlinePending = true
          case _ =>
        }
        i = j
      } else i += 1
    }
    out.toString
  }

  /** PDF literal string at s(i)=='(': full escape set + nesting.
    * Returns (decoded, index after the closing paren). */
  private[spark] def literalString(s: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    var i = start + 1
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val e = s.charAt(i + 1)
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' => i += (if (i + 2 < n && s.charAt(i + 2) == '\n') 3 else 2)
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < n && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
              v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
            }
            sb.append((v & 0xFF).toChar)
          case other => sb.append(other); i += 2 // spec: ignore the backslash
        }
      } else if (c == '(') { depth += 1; sb.append('('); i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) sb.append(')'); i += 1 }
      else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }

  /** PDF hex string at s(i)=='<': pairs of hex digits, whitespace
    * ignored, odd final digit padded with 0. */
  private[spark] def hexString(s: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = start + 1
    val n = s.length
    var hi = -1
    while (i < n && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val d = Character.digit(c, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { sb.append(((hi << 4) | d).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    ((sb.toString, math.min(i + 1, n)))
  }

  /** struct<version,pages,objects,ok> of [[info]]. */
  def infoRow(b: Array[Byte]): InternalRow = {
    val (v, p, o, ok) = info(b)
    InternalRow(UTF8String.fromString(v), p, o, ok)
  }

  def textUtf8(b: Array[Byte]): UTF8String = UTF8String.fromString(text(b))
}
