package graft.html

/** Named + numeric character-reference decoding.
  *
  * The reference embeds a 5957-line static trie generated from the public
  * WHATWG entities table (source/myhtml/charef_resource.h, walk in
  * source/myhtml/charef.c:24-150) with longest-match + missing-semicolon
  * history (`last_entry`, charef.c:63-78) and an attribute mode that
  * refuses legacy matches followed by alphanumeric/'=' (spec; reference
  * data_process.c states data_process.h:59-65). We regenerate the COMPLETE
  * table from the public WHATWG data — all 2,125 names INCLUDING the 93
  * multi-codepoint entries (see `loaded` below; HtmlCoreSpec pins the
  * count) — so there is no named-entity divergence from the reference.
  */
object Entities {

  /** Full WHATWG named-reference table (2,125 names incl. the 93
    * multi-codepoint ones), loaded from resources/graft/entities.tsv —
    * generated from the PUBLIC spec data (html.spec.whatwg.org
    * entities.json via Python stdlib html.entities.html5; the reference
    * embeds the same public data as charef_resource.h). Format:
    * name \t semi(0=legacy,1=requires ';') \t hex-codepoints. */
  private val loaded: (Map[String, String], Set[String]) = load(getClass.getClassLoader)

  /** Reads the table through `loader`; a loader without it fails naming it. */
  private[html] def load(loader: ClassLoader): (Map[String, String], Set[String]) = {
    val in = loader.getResourceAsStream("graft/entities.tsv")
    if (in == null) throw new IllegalStateException(
      "graft/entities.tsv is not on the classpath (it ships in src/main/resources)")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val tbl = Map.newBuilder[String, String]
    val leg = Set.newBuilder[String]
    try src.getLines().foreach { line =>
      if (line.nonEmpty && line.charAt(0) != '#') {
        val t1 = line.indexOf('\t')
        val t2 = line.indexOf('\t', t1 + 1)
        val name = line.substring(0, t1)
        val semi = line.charAt(t1 + 1)
        val sb = new java.lang.StringBuilder(2)
        line.substring(t2 + 1).split(',').foreach { h =>
          sb.appendCodePoint(Integer.parseInt(h, 16))
        }
        tbl += name -> sb.toString
        if (semi == '0') leg += name
      }
    } finally src.close()
    (tbl.result(), leg.result())
  }

  /** name (no '&', no ';') → decoded string. */
  val table: Map[String, String] = loaded._1

  /** Names decodable WITHOUT a trailing semicolon (the spec's legacy set;
    * reference models this via trie entries lacking the ';' edge,
    * charef.c:63-78). */
  val legacy: Set[String] = loaded._2

  val maxNameLen: Int = table.keys.map(_.length).max

  /** Windows-1252 remap of C1 numeric references (spec table; reference
    * replacement_character[] in data_process.c:231-284). */
  val c1Remap: Map[Int, Int] = Map(
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178
  )

  private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  // ---- trie over entity names, mirroring the reference's storage
  // (charef_resource.h): every name contributes a ';'-terminated path
  // whose ';' edge carries the decoded value; LEGACY names additionally
  // carry the value on their final character node. Children are kept
  // sorted by char code — the walk's mismatch resolution scans ordered
  // siblings (charef.c:131-137), which makes behavior byte-order
  // dependent (e.g. "&notin." decodes via the ';' edge but "&notin="
  // falls back to "&not", because '.' < ';' < '=' < 'E').
  private final class TrieNode {
    var edgeCh: Array[Char] = new Array[Char](0)
    var edgeNode: Array[TrieNode] = new Array[TrieNode](0)
    var value: String = _
    def child(c: Char): TrieNode = {
      val i = java.util.Arrays.binarySearch(edgeCh, c)
      if (i >= 0) edgeNode(i) else null
    }
    def insert(c: Char): TrieNode = {
      val i = java.util.Arrays.binarySearch(edgeCh, c)
      if (i >= 0) return edgeNode(i)
      val at = -i - 1
      val nc = new Array[Char](edgeCh.length + 1)
      val nn = new Array[TrieNode](edgeCh.length + 1)
      System.arraycopy(edgeCh, 0, nc, 0, at)
      System.arraycopy(edgeNode, 0, nn, 0, at)
      nc(at) = c
      val fresh = new TrieNode
      nn(at) = fresh
      System.arraycopy(edgeCh, at, nc, at + 1, edgeCh.length - at)
      System.arraycopy(edgeNode, at, nn, at + 1, edgeCh.length - at)
      edgeCh = nc; edgeNode = nn
      fresh
    }
    /** Smallest edge strictly greater than c (the reference's sibling
      * scan stop position), or null. */
    def firstEdgeAbove(c: Char): TrieNode = {
      val i = java.util.Arrays.binarySearch(edgeCh, c)
      val at = if (i >= 0) i + 1 else -i - 1
      if (at < edgeCh.length) edgeNode(at) else null
    }
  }
  private val trieRoot: TrieNode = {
    val root = new TrieNode
    table.foreach { case (name, dec) =>
      var n = root
      var i = 0
      while (i < name.length) { n = n.insert(name.charAt(i)); i += 1 }
      if (legacy.contains(name)) n.value = dec
      n.insert(';').value = dec
    }
    root
  }

  /** Decode one character reference starting AFTER the '&' at `pos`.
    * Returns (decoded, consumedChars) where consumed excludes the '&',
    * or null if no reference matched (caller emits the text literally).
    *
    * Named-reference semantics are the REFERENCE's exactly (charef.c
    * find_by_pos + data_process.c ampersand_data; black-box verified):
    *  - walk matched chars, remembering the last LEGACY name end passed;
    *  - on mismatch, the smallest sibling edge ABOVE the input char
    *    resolves the match if it completes a name (so "&curre " decodes
    *    as curren, and non-legacy names decode without their ';' when
    *    the ';' edge is the stop sibling: "&notin " -> U+2209);
    *  - otherwise fall back to the last legacy end;
    *  - a ';' AT the resolved offset is consumed; otherwise attribute
    *    mode refuses the match when [a-zA-Z0-9=] follows;
    *  - at end of input the current node (legacy end) or the last legacy
    *    end resolves with no terminator gate; a '&' stop resolves via
    *    the last legacy end only (no sibling quirk).
    *  - numeric: &#N; / &#xN;, C1 remapped, 0/surrogate/out-of-range → U+FFFD.
    */
  def decode(input: String, pos: Int, inAttribute: Boolean): (String, Int) = {
    val len = input.length
    if (pos >= len) return null
    val c0 = input.charAt(pos)
    if (c0 == '#') {
      // numeric reference
      var i = pos + 1
      if (i >= len) return null
      var hex = false
      if (input.charAt(i) == 'x' || input.charAt(i) == 'X') { hex = true; i += 1 }
      val digStart = i
      var v = 0L
      while (i < len && {
        val c = input.charAt(i)
        if (hex) isHex(c) else c >= '0' && c <= '9'
      }) {
        val c = input.charAt(i)
        val d = if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10
        if (v <= 0x10FFFF) v = v * (if (hex) 16 else 10) + d
        i += 1
      }
      if (i == digStart) return null // no digits: not a numeric ref
      var consumed = i - pos
      if (i < len && input.charAt(i) == ';') consumed += 1
      var cp = v.toInt
      if (v == 0 || v > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) cp = 0xFFFD
      else if (cp >= 0x80 && cp <= 0x9F) cp = c1Remap.getOrElse(cp, cp)
      (new String(Character.toChars(cp)), consumed)
    } else {
      var node = trieRoot
      var depth = 0
      var lastVal: String = null
      var lastDepth = 0
      while (true) {
        if (pos + depth >= len) {
          // end of input (token boundary): current node (legacy end) else
          // last legacy end; nothing follows, so no terminator gate. The
          // fallback consumes ALL walked chars, not just through the
          // match — the reference's walk buffer is never re-emitted, so
          // "&noti"+EOF decodes to ¬ with the "i" DROPPED (binary-probed;
          // same before a tag: "x&noti<p>" → "x¬"), while "&notit" stops
          // at the mismatching 't' and keeps "it" via the mismatch path.
          if (node.value != null) return (node.value, depth)
          if (lastVal != null) return (lastVal, depth)
          return null
        }
        val c = input.charAt(pos + depth)
        if (c == '&') {
          // '&' stop resolves via the last legacy end only (charef.c:66-77)
          if (lastVal == null) return null
          return finishNamed(input, pos, lastVal, lastDepth, inAttribute)
        }
        val next = if (c == ';') null else node.child(c)
        if (c == ';') {
          val semi = node.child(';')
          if (semi != null) {
            // full name with its ';' — always decodes, ';' consumed
            return (semi.value, depth + 1)
          }
          // no ';' edge: fall through to sibling-scan resolution below
          val above = node.firstEdgeAbove(c)
          val v = if (above != null && above.value != null) above.value else lastVal
          val vd = if (above != null && above.value != null) depth else lastDepth
          if (v == null) return null
          return finishNamed(input, pos, v, vd, inAttribute)
        }
        if (next != null) {
          node = next
          depth += 1
          if (node.value != null) { lastVal = node.value; lastDepth = depth }
        } else {
          // mismatch: the smallest sibling edge above the input char
          // resolves if it ends a name (the reference's scan stop)
          val above = node.firstEdgeAbove(c)
          val v = if (above != null && above.value != null) above.value else lastVal
          val vd = if (above != null && above.value != null) depth else lastDepth
          if (v == null) return null
          return finishNamed(input, pos, v, vd, inAttribute)
        }
      }
      null // unreachable
    }
  }

  /** Terminator handling shared by the resolution paths: consume a ';'
    * at the resolved offset; otherwise apply the attribute-mode gate
    * (data_process.c:142-156). */
  private def finishNamed(input: String, pos: Int, v: String, vDepth: Int,
                          inAttribute: Boolean): (String, Int) = {
    val at = pos + vDepth
    if (at < input.length && input.charAt(at) == ';') return (v, vDepth + 1)
    if (inAttribute && at < input.length) {
      val t = input.charAt(at)
      if (isAlnum(t) || t == '=') return null
    }
    (v, vDepth)
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** Decode all character references in a string (RCDATA / attribute-value
    * style full-pass decode; reference worker path parser.c:185-297). */
  def decodeAll(s: String, inAttribute: Boolean): String = {
    var i = s.indexOf('&')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var start = 0
    while (i >= 0 && i < s.length) {
      sb.append(s, start, i)
      decode(s, i + 1, inAttribute) match {
        case null => sb.append('&'); start = i + 1
        case (dec, consumed) => sb.append(dec); start = i + 1 + consumed
      }
      i = s.indexOf('&', start)
    }
    sb.append(s, start, s.length)
    sb.toString
  }
}
