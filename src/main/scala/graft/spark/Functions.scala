package graft.spark

import graft.html._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions
import scala.util.control.NonFatal

/** JVM-static kernels invoked from both interpreted eval and generated
  * code (whole-stage codegen emits a direct static call — no Scala
  * closure, no serialization; SURVEY §4 custom-work table). */
object HtmlUdfs {

  /** Local-mode observability, same role as TextKernels.minhashEvals /
    * VecUdfs.hyperplaneEvals: PlanSpec pins parses-per-row through
    * ACTUAL invocation counts (plan strings are unreliable under AQE,
    * and a query projecting several derivatives of one
    * parse_html_spans(html) silently re-parses per consumer unless
    * Catalyst's subexpression elimination holds — the exact failure
    * mode round 3 caught for the signature kernels). One uncontended
    * CAS per document parse (~50µs); invisible next to the parse. */
  val spanEvals = new java.util.concurrent.atomic.AtomicLong
  val textEvals = new java.util.concurrent.atomic.AtomicLong
  val interleavedEvals = new java.util.concurrent.atomic.AtomicLong
  val attrEvals = new java.util.concurrent.atomic.AtomicLong

  val spanStructType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("media_ref", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)
  ))
  val spanArrayType: ArrayType = ArrayType(spanStructType, containsNull = false)

  /** parse html → array<struct<kind,text,media_ref,offset>> */
  def parseSpans(html: UTF8String): ArrayData = {
    spanEvals.incrementAndGet()
    val spans = Extractor.extractHtml(html.toString)
    val rows = new Array[Any](spans.length)
    var i = 0
    spans.foreach { s =>
      rows(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(s.kind), UTF8String.fromString(s.text),
        UTF8String.fromString(s.media_ref), s.offset))
      i += 1
    }
    new GenericArrayData(rows)
  }

  private def joinSpanText(spans: Seq[graft.html.Span]): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    spans.foreach { s =>
      if (s.kind != "media") {
        if (sb.length > 0) sb.append(' ')
        sb.append(s.text)
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** parse html → concatenated visible text (clear_text.pl semantics),
    * spans joined by a single space. */
  def parseText(html: UTF8String): UTF8String = {
    textEvals.incrementAndGet()
    joinSpanText(Extractor.extractHtml(html.toString))
  }

  /** parse + BOILERPLATE-STRIP → visible main-content text (north-star
    * extraction mode: text-density / link-density block scoring drops
    * link-dominated nav/footer chrome; Extractor.Boiler). */
  def mainText(html: UTF8String): UTF8String =
    joinSpanText(Extractor.extractHtml(html.toString, Extractor.Boiler))

  /** parse + FULL density scoring (all three north-star axes: link
    * density + text density + tag depth; Extractor.Density) → visible
    * main-content text. */
  def denseText(html: UTF8String): UTF8String =
    joinSpanText(Extractor.extractHtml(html.toString, Extractor.Density))

  /** fragment-parse `html` with `context` as the context element
    * (reference myhtml_parse_fragment, myhtml.c:240-262) → visible text
    * of the fragment, spans joined by a single space. The context tag
    * drives the initial tokenizer content model (textarea ⇒ RCDATA etc.)
    * and the reset-insertion-mode walk, exactly like the document API. */
  def fragmentText(html: UTF8String, context: UTF8String): UTF8String =
    joinSpanText(Extractor.extractFragment(html.toString, context.toString))

  /** serialize(parse(html)) — normalized HTML output. */
  def roundtripHtml(html: UTF8String): UTF8String =
    graft.html.ArenaParse.withDoc(html.toString)(doc =>
      UTF8String.fromString(Serializer.innerHtml(doc)))

  /** charset sniff over raw bytes (BOM → meta prescan → heuristics). */
  def sniffCharset(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(Encodings.sniff(bytes))

  /** quirks mode of a parsed document: "quirks"|"limited"|"no-quirks". */
  def quirksMode(html: UTF8String): UTF8String = {
    val q = graft.html.ArenaParse.withDocQuirks(html.toString)((_, qq) => qq)
    UTF8String.fromString(q match {
      case QuirksMode.Quirks => "quirks"
      case QuirksMode.Limited => "limited"
      case _ => "no-quirks"
    })
  }

  val tokenStructType: StructType = StructType(Seq(
    StructField("ttype", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)
  ))
  val tokenArrayType: ArrayType = ArrayType(tokenStructType, containsNull = false)

  /** Tokenizer-only surface (reference WITHOUT_BUILD_TREE flag +
    * token callbacks): html -> array of (ttype, name, data, offset). */
  def tokenizeHtml(html: UTF8String): ArrayData = {
    val toks = HtmlParser.tokenize(html.toString)
    val rows = new scala.collection.mutable.ArrayBuffer[Any](toks.length)
    toks.foreach {
      case StartTagTok(name, _, _, raw) =>
        rows += InternalRow(UTF8String.fromString("StartTag"),
          UTF8String.fromString(name), UTF8String.EMPTY_UTF8, raw)
      case EndTagTok(name, raw) =>
        rows += InternalRow(UTF8String.fromString("EndTag"),
          UTF8String.fromString(name), UTF8String.EMPTY_UTF8, raw)
      case CharsTok(t, raw, _) =>
        rows += InternalRow(UTF8String.fromString("Characters"),
          UTF8String.EMPTY_UTF8, UTF8String.fromString(t), raw)
      case CommentTok(t, raw) =>
        rows += InternalRow(UTF8String.fromString("Comment"),
          UTF8String.EMPTY_UTF8, UTF8String.fromString(t), raw)
      case DoctypeTok(name, _, _, _) =>
        rows += InternalRow(UTF8String.fromString("DOCTYPE"),
          UTF8String.fromString(if (name == null) "" else name),
          UTF8String.EMPTY_UTF8, 0)
      case EofTok =>
    }
    new GenericArrayData(rows.toArray)
  }

  val nodeStructType: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("ns", StringType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("ntype", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("nattrs", IntegerType, nullable = false)
  ))
  val nodeArrayType: ArrayType = ArrayType(nodeStructType, containsNull = false)

  /** DOM exploded to pre-order node rows — the relational view of the
    * reference's collection DFS (myhtml.c:435-483); pair with explode()
    * for the UDTF shape (SURVEY Q1/Q17). */
  def domNodes(html: UTF8String): ArrayData = graft.html.ArenaParse
      .withDoc(html.toString) { doc =>
    val rows = new scala.collection.mutable.ArrayBuffer[Any](32)
    def walk(n: Node, depth: Int): Unit = {
      val (ntype, tag, text) = n.kind match {
        case NodeKind.Element => ("element", n.name, "")
        case NodeKind.Text => ("text", "#text", n.text)
        case NodeKind.Comment => ("comment", "#comment", n.text)
        case NodeKind.Doctype => ("doctype", n.name, "")
        case _ => ("document", "#document", "")
      }
      rows += InternalRow(UTF8String.fromString(tag),
        UTF8String.fromString(Ns.names(n.ns)), depth,
        UTF8String.fromString(ntype), UTF8String.fromString(text),
        if (n.attrs == null) 0 else n.attrs.length)
      var c = n.firstChild
      while (c != null) { walk(c, depth + 1); c = c.next }
    }
    var c = doc.firstChild
    while (c != null) { walk(c, 0); c = c.next }
    new GenericArrayData(rows.toArray)
  }

  /** Relational DOM node table (round 7, VERDICT r6 #6 — the SURVEY §4
    * attr-match pushdown view): pre-order rows with node identity,
    * parentage, decoded attributes, and raw positions — the reference's
    * Q1-Q5 query surface (`get_nodes_by_tag_name` / `_by_attribute_*`,
    * myhtml.c:435-1301) as ONE scannable table a Spark filter pushes
    * into. Conventions (probe-pinned): node_id = pre-order index over
    * the document's children (html = 0); parent_id = -1 for top-level;
    * offset = rawBegin (UTF-16 units over the preprocessed stream,
    * -1 for implied elements — the Q8 offsets-axis convention); attrs =
    * space-joined k="v" with DECODED values in verbatim chain order
    * (duplicates kept — the reference dup-attr semantics). */
  val nodeTableStructType: StructType = StructType(Seq(
    StructField("node_id", IntegerType, nullable = false),
    StructField("parent_id", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("ns", StringType, nullable = false),
    StructField("ntype", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("attrs", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)
  ))
  val nodeTableArrayType: ArrayType = ArrayType(nodeTableStructType, containsNull = false)

  val nodeTableEvals = new java.util.concurrent.atomic.AtomicLong

  def nodeTable(html: UTF8String): ArrayData = {
    nodeTableEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](32)
      var nextId = 0
      def walk(n: Node, parentId: Int, depth: Int): Unit = {
        val id = nextId
        nextId += 1
        val (ntype, tag, text) = n.kind match {
          case NodeKind.Element => ("element", n.name, "")
          case NodeKind.Text => ("text", "#text", n.text)
          case NodeKind.Comment => ("comment", "#comment", n.text)
          case NodeKind.Doctype => ("doctype", n.name, "")
          case _ => ("document", "#document", "")
        }
        val attrs =
          if (n.attrs == null || n.attrs.isEmpty) ""
          else {
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i < n.attrs.length) {
              if (i > 0) sb.append(' ')
              sb.append(n.attrs(i).name).append("=\"")
                .append(n.attrs(i).value).append('"')
              i += 1
            }
            sb.toString
          }
        rows += InternalRow(id, parentId, depth,
          UTF8String.fromString(tag), UTF8String.fromString(Ns.names(n.ns)),
          UTF8String.fromString(ntype), UTF8String.fromString(text),
          UTF8String.fromString(attrs), n.rawBegin)
        var c = n.firstChild
        while (c != null) { walk(c, id, depth + 1); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c, -1, 0); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** Link table: every HTML-namespace `<a>` carrying an href, with its
    * node id (nodeTable numbering), the DECODED href (attribute_by_key
    * semantics — FIRST match on the verbatim chain, reference
    * myhtml_attribute_by_key api.h:1240) and the concatenated
    * descendant text (document order, Q7 node_text semantics) — the
    * reference's classic extraction composition as one kernel pass. */
  val linkStructType: StructType = StructType(Seq(
    StructField("node_id", IntegerType, nullable = false),
    StructField("href", StringType, nullable = false),
    StructField("anchor", StringType, nullable = false),
    // additive (round 7, q_noindex): verbatim rel attribute, '' when
    // absent — same first-on-the-chain attr lookup as href (api.h:1240).
    StructField("rel", StringType, nullable = false)
  ))
  val linkArrayType: ArrayType = ArrayType(linkStructType, containsNull = false)

  val linkTableEvals = new java.util.concurrent.atomic.AtomicLong

  def linkTable(html: UTF8String): ArrayData = {
    linkTableEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](8)
      var nextId = 0
      def walk(n: Node): Unit = {
        val id = nextId
        nextId += 1
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML && n.name == "a") {
          val href = firstAttrVal(n, "href")
          if (href != null) {
            val rel = firstAttrVal(n, "rel")
            val sb = new java.lang.StringBuilder
            descTextOf(n, sb)
            rows += InternalRow(id, UTF8String.fromString(href),
              UTF8String.fromString(sb.toString),
              UTF8String.fromString(if (rel == null) "" else rel))
          }
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** First attribute value on the verbatim chain (the reference's
    * myhtml_attribute_by_key FIRST-match semantics, api.h:1240), or
    * null when the key is absent. */
  private def firstAttrVal(n: Node, key: String): String = {
    if (n.attrs == null) return null
    var i = 0
    while (i < n.attrs.length) {
      if (n.attrs(i).name == key) return n.attrs(i).value
      i += 1
    }
    null
  }

  private def descTextOf(n: Node, sb: java.lang.StringBuilder): Unit = {
    if (n.kind == NodeKind.Text) sb.append(n.text)
    var c = n.firstChild
    while (c != null) { descTextOf(c, sb); c = c.next }
  }

  /** Concatenated descendant text of `n`, or null when `n` is null. */
  private def descTextOrNull(n: Node): UTF8String = {
    if (n == null) return null
    val sb = new java.lang.StringBuilder
    descTextOf(n, sb)
    UTF8String.fromString(sb.toString)
  }

  /** Does the whitespace-separated `rel` list hold `tok`, matched
    * ASCII-case-insensitively (the TextNorm canon)? */
  private def relHasToken(rel: String, tok: String): Boolean = {
    val toks = graft.ops.TextNorm.tokens(graft.ops.TextNorm.asciiLower(rel))
    var i = 0
    while (i < toks.length) { if (toks(i) == tok) return true; i += 1 }
    false
  }

  /** First HTML-ns element named `a` or `b` among the descendants of
    * `entry`, in pre-order, or null. */
  private def firstDescendant(entry: Node, a: String, b: String): Node = {
    var res: Node = null
    def go(first: Node): Unit = {
      var x = first
      while (x != null && res == null) {
        if (x.kind == NodeKind.Element && x.ns == Ns.HTML &&
            (x.name == a || x.name == b)) res = x
        else go(x.firstChild)
        x = x.next
      }
    }
    go(entry.firstChild)
    res
  }

  /** Page metadata: `graft_page_meta(html)` → struct(title, lang, base,
    * canonical, description, robots, og_title, meta_count) — the crawl
    * pipeline's standard per-page header extraction (title / html@lang /
    * base@href / link rel=canonical / meta description / meta robots /
    * og:title) in ONE parse. Semantics (each a reference composition):
    *  - every field is FIRST match in document pre-order; attribute
    *    lookup is first-on-the-verbatim-chain (api.h:1240);
    *  - title = concatenated descendant text of the first HTML-ns
    *    `<title>` (RCDATA content — entities decoded, NUL → U+FFFD);
    *  - meta name / link rel matching is ASCII-case-insensitive
    *    (TextNorm canon — never Java toLowerCase); rel is a
    *    whitespace-separated token list per the HTML spec;
    *  - canonical requires BOTH a rel containing the `canonical` token
    *    AND an href — a rel-only link does not consume the slot;
    *  - absent fields are '' (total function); meta_count counts
    *    HTML-ns `<meta>` elements.
    */
  val pageMetaStructType: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("base", StringType, nullable = false),
    StructField("canonical", StringType, nullable = false),
    StructField("description", StringType, nullable = false),
    StructField("robots", StringType, nullable = false),
    StructField("og_title", StringType, nullable = false),
    StructField("og_image", StringType, nullable = false),
    StructField("og_description", StringType, nullable = false),
    StructField("meta_count", IntegerType, nullable = false)
  ))

  val pageMetaEvals = new java.util.concurrent.atomic.AtomicLong

  def pageMeta(html: UTF8String): InternalRow = {
    pageMetaEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      var title: String = null; var lang: String = null
      var base: String = null; var canonical: String = null
      var descr: String = null; var robots: String = null
      var og: String = null; var ogImage: String = null
      var ogDescr: String = null; var metaCount = 0
      def walk(n: Node): Unit = {
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML) {
          n.name match {
            case "html" =>
              if (lang == null) lang = firstAttrVal(n, "lang")
            case "title" =>
              if (title == null) {
                val sb = new java.lang.StringBuilder
                descTextOf(n, sb)
                title = sb.toString
              }
            case "base" =>
              if (base == null) base = firstAttrVal(n, "href")
            case "link" =>
              if (canonical == null) {
                val rel = firstAttrVal(n, "rel")
                if (rel != null && relHasToken(rel, "canonical"))
                  canonical = firstAttrVal(n, "href")
              }
            case "meta" =>
              metaCount += 1
              val content = firstAttrVal(n, "content")
              if (content != null) {
                val nm = firstAttrVal(n, "name")
                if (nm != null) {
                  val ln = graft.ops.TextNorm.asciiLower(nm)
                  if (ln == "description" && descr == null) descr = content
                  else if (ln == "robots" && robots == null) robots = content
                }
                val prop = firstAttrVal(n, "property")
                if (prop != null) {
                  val lp = graft.ops.TextNorm.asciiLower(prop)
                  if (lp == "og:title" && og == null) og = content
                  else if (lp == "og:image" && ogImage == null) ogImage = content
                  else if (lp == "og:description" && ogDescr == null)
                    ogDescr = content
                }
              }
            case _ =>
          }
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      @inline def s(x: String) = UTF8String.fromString(if (x == null) "" else x)
      InternalRow(s(title), s(lang), s(base), s(canonical), s(descr),
        s(robots), s(og), s(ogImage), s(ogDescr), metaCount)
    }
  }

  /** HTML tables → relational cell rows: `graft_table_cells(html)` →
    * array<struct<table_id,row_id,col_id,is_header,text>> — the data
    * extraction counterpart of the node table. Conventions:
    *  - table_id = pre-order ordinal over HTML-ns `<table>` elements
    *    (nested tables get their own id);
    *  - a `<tr>` belongs to its NEAREST ancestor table (the tree
    *    builder has already normalized sections/fostering, so rows
    *    assigned here match the reference's post-parse tree); row_id is
    *    the ordinal within that table;
    *  - cells are direct `<td>`/`<th>` children of the row (in-cell
    *    tree construction guarantees this shape); col_id advances by
    *    the preceding cells' colspan (leading-digits parse, default 1,
    *    clamped to [1,1000] — the HTML spec bound); rowspan occupancy
    *    is NOT simulated (documented: col_id is the source-order grid
    *    column of this row alone);
    *  - text = concatenated descendant text (Q7 node_text semantics;
    *    nested-table text included — the cell's full visible content).
    */
  val tableCellStructType: StructType = StructType(Seq(
    StructField("table_id", IntegerType, nullable = false),
    StructField("row_id", IntegerType, nullable = false),
    StructField("col_id", IntegerType, nullable = false),
    StructField("is_header", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)
  ))
  val tableCellArrayType: ArrayType = ArrayType(tableCellStructType, containsNull = false)

  val tableCellsEvals = new java.util.concurrent.atomic.AtomicLong

  private def colspanOf(cell: Node): Int = {
    val v = firstAttrVal(cell, "colspan")
    if (v == null) return 1
    var i = 0
    while (i < v.length && (v.charAt(i) == ' ' || v.charAt(i) == '\t' ||
      v.charAt(i) == '\n' || v.charAt(i) == '\f' || v.charAt(i) == '\r')) i += 1
    var x = 0; var any = false
    while (i < v.length && v.charAt(i) >= '0' && v.charAt(i) <= '9' && x <= 1000) {
      x = x * 10 + (v.charAt(i) - '0'); any = true; i += 1
    }
    if (!any || x < 1) 1 else math.min(x, 1000)
  }

  def tableCells(html: UTF8String): ArrayData = {
    tableCellsEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](8)
      var nextTableId = 0
      // stack of (tableId, nextRowId) for nearest-ancestor assignment
      val tStack = new scala.collection.mutable.ArrayBuffer[Array[Int]](4)
      def walk(n: Node): Unit = {
        var pushed = false
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML) {
          if (n.name == "table") {
            tStack += Array(nextTableId, 0); nextTableId += 1; pushed = true
          } else if (n.name == "tr" && tStack.nonEmpty) {
            val top = tStack(tStack.length - 1)
            val rowId = top(1); top(1) += 1
            var col = 0
            var c = n.firstChild
            while (c != null) {
              if (c.kind == NodeKind.Element && c.ns == Ns.HTML &&
                  (c.name == "td" || c.name == "th")) {
                val sb = new java.lang.StringBuilder
                descTextOf(c, sb)
                rows += InternalRow(top(0), rowId, col,
                  if (c.name == "th") 1 else 0,
                  UTF8String.fromString(sb.toString))
                col += colspanOf(c)
              }
              c = c.next
            }
          }
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
        if (pushed) tStack.remove(tStack.length - 1)
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  private def rowspanOf(cell: Node): Int = {
    val v = firstAttrVal(cell, "rowspan")
    if (v == null) return 1
    var i = 0
    while (i < v.length && (v.charAt(i) == ' ' || v.charAt(i) == '\t' ||
      v.charAt(i) == '\n' || v.charAt(i) == '\f' || v.charAt(i) == '\r')) i += 1
    var x = 0; var any = false
    while (i < v.length && v.charAt(i) >= '0' && v.charAt(i) <= '9' && x <= 1000) {
      x = x * 10 + (v.charAt(i) - '0'); any = true; i += 1
    }
    if (!any || x < 1) 1 else math.min(x, 1000)
  }

  /** Grid-fill table extraction: `graft_table_grid(html)` — the
    * RENDERING-order variant of [[tableCells]]: rowspan occupancy IS
    * simulated, so each cell lands on the grid column a browser would
    * paint it in (the column a data-extraction consumer needs to line
    * headers up with values). Same struct, same nearest-ancestor table
    * assignment and colspan advance; differences, all documented:
    *  - a cell's col_id = the first free grid column at or after the
    *    row cursor (columns occupied by live rowspans are skipped);
    *  - rowspan parses like colspan (leading digits, default 1,
    *    clamp [1,1000]; the spec's rowspan=0 "extend to end of group"
    *    is simplified to 1 — documented);
    *  - occupancy is per table and per column index, capped at 10,000
    *    columns (a hostile colspan chain must not allocate unbounded
    *    state). AT the cap, cells keep emitting with MONOTONICALLY
    *    increasing col_ids (colspan >= 1 always advances the cursor)
    *    WITHOUT occupancy tracking — grid coordinates stay unique
    *    (ADVICE r7 adjudication; OpsSpec pins the past-cap row).
    * One parse per row; the q_table_grid oracle replays fixed span
    * layouts by construction. */
  def tableGrid(html: UTF8String): ArrayData = {
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](8)
      var nextTableId = 0
      val MaxCols = 10000
      // per-table state: id, nextRowId, and remaining-rowspan per column
      final class TState(val id: Int) {
        var rowId = 0
        val occ = new scala.collection.mutable.ArrayBuffer[Int](8)
        def free(c: Int): Boolean = c >= occ.length || occ(c) <= 0
        def take(c0: Int, span: Int, rs: Int): Unit = {
          var c = c0
          while (c < c0 + span && c < MaxCols) {
            while (occ.length <= c) occ += 0
            occ(c) = math.max(occ(c), rs)
            c += 1
          }
        }
        def nextRow(): Unit = {
          var i = 0
          while (i < occ.length) { if (occ(i) > 0) occ(i) -= 1; i += 1 }
        }
      }
      val tStack = new scala.collection.mutable.ArrayBuffer[TState](4)
      def walk(n: Node): Unit = {
        var pushed = false
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML) {
          if (n.name == "table") {
            tStack += new TState(nextTableId); nextTableId += 1; pushed = true
          } else if (n.name == "tr" && tStack.nonEmpty) {
            val t = tStack(tStack.length - 1)
            val rowId = t.rowId; t.rowId += 1
            t.nextRow()
            var col = 0
            var c = n.firstChild
            while (c != null) {
              if (c.kind == NodeKind.Element && c.ns == Ns.HTML &&
                  (c.name == "td" || c.name == "th")) {
                while (col < MaxCols && !t.free(col)) col += 1
                val sb = new java.lang.StringBuilder
                descTextOf(c, sb)
                rows += InternalRow(t.id, rowId, col,
                  if (c.name == "th") 1 else 0,
                  UTF8String.fromString(sb.toString))
                val cs = colspanOf(c)
                val rs = rowspanOf(c)
                // marker = rs because nextRow() decrements at row START:
                // a value of rs survives exactly the rs-1 FOLLOWING rows
                if (rs > 1) t.take(col, cs, rs)
                col += cs
              }
              c = c.next
            }
          }
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
        if (pushed) tStack.remove(tStack.length - 1)
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** Sitemap extraction: `graft_sitemap(html)` → array<struct<entry_id,
    * kind,loc,lastmod,priority>> — crawl-discovery parsing of
    * sitemap.xml / sitemap-index.xml THROUGH the HTML parser: real
    * sitemaps are full of unescaped ampersands, stray bytes and
    * truncations a strict XML parser rejects, and the WHATWG recovery
    * path (urlset/url/loc parse as unknown in-body elements) is exactly
    * what a tolerant crawler wants. One parse per row. Conventions:
    *  - an entry = every HTML-ns `<url>` (urlset) or `<sitemap>`
    *    (sitemap index) element, entry_id = 0-based pre-order ordinal,
    *    kind = the element name;
    *  - loc / lastmod / priority = concatenated descendant text (Q7
    *    node_text semantics — entities decoded, NUL dropped) of the
    *    FIRST matching descendant element in pre-order within the
    *    entry; NULL when the element is absent (a loc-less entry is a
    *    real-world artifact the scheduler must see, not '' — the one
    *    kernel family field where absent ≠ empty). */
  val sitemapStructType: StructType = StructType(Seq(
    StructField("entry_id", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("loc", StringType, nullable = true),
    StructField("lastmod", StringType, nullable = true),
    StructField("priority", StringType, nullable = true)
  ))
  val sitemapArrayType: ArrayType = ArrayType(sitemapStructType, containsNull = false)

  val sitemapEvals = new java.util.concurrent.atomic.AtomicLong

  def sitemapTable(html: UTF8String): ArrayData = {
    sitemapEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](8)
      var nextEntry = 0
      def firstField(entry: Node, name: String): UTF8String =
        descTextOrNull(firstDescendant(entry, name, name))
      def walk(n: Node): Unit = {
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML &&
            (n.name == "url" || n.name == "sitemap")) {
          val id = nextEntry
          nextEntry += 1
          rows += InternalRow(id, UTF8String.fromString(n.name),
            firstField(n, "loc"), firstField(n, "lastmod"),
            firstField(n, "priority"))
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** Feed extraction: `graft_feed(html)` → array<struct<entry_id,kind,
    * title,link,updated,uid>> — RSS/Atom parsed THROUGH the HTML parser
    * (the sitemap rationale: tolerant recovery over strict XML).
    * Conventions:
    *  - an entry = every HTML-ns `<item>` (RSS) or `<entry>` (Atom)
    *    element, entry_id = 0-based pre-order ordinal, kind = name;
    *  - title = descendant text of the FIRST descendant `<title>`
    *    (in-body title is RCDATA — entities decode, markup is literal);
    *  - updated = text of the first descendant `<pubdate>` or
    *    `<updated>` (whichever comes first in pre-order);
    *  - uid = text of the first descendant `<guid>` or `<id>`;
    *  - link = FIRST descendant `<link>`: its href attribute
    *    (first-on-the-verbatim-chain, api.h:1240) when present (Atom),
    *    else the concatenated text of the IMMEDIATELY FOLLOWING text
    *    siblings (RSS recovery: `<link>` is a VOID element in HTML, so
    *    `<link>url</link>` parses as an empty link followed by a text
    *    sibling — the classic feed-in-HTML-parser pitfall, handled
    *    deterministically);
    *  - every field NULL when its element is absent. */
  val feedStructType: StructType = StructType(Seq(
    StructField("entry_id", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("link", StringType, nullable = true),
    StructField("updated", StringType, nullable = true),
    StructField("uid", StringType, nullable = true)
  ))
  val feedArrayType: ArrayType = ArrayType(feedStructType, containsNull = false)

  val feedEvals = new java.util.concurrent.atomic.AtomicLong

  def feedTable(html: UTF8String): ArrayData = {
    feedEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](8)
      var nextEntry = 0
      def linkOf(entry: Node): UTF8String = {
        val l = firstDescendant(entry, "link", "link")
        if (l == null) return null
        val href = firstAttrVal(l, "href")
        if (href != null) return UTF8String.fromString(href)
        val sb = new java.lang.StringBuilder
        var x = l.next
        while (x != null && x.kind == NodeKind.Text) {
          sb.append(x.text)
          x = x.next
        }
        UTF8String.fromString(sb.toString)
      }
      def walk(n: Node): Unit = {
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML &&
            (n.name == "item" || n.name == "entry")) {
          val id = nextEntry
          nextEntry += 1
          rows += InternalRow(id, UTF8String.fromString(n.name),
            descTextOrNull(firstDescendant(n, "title", "title")), linkOf(n),
            descTextOrNull(firstDescendant(n, "pubdate", "updated")),
            descTextOrNull(firstDescendant(n, "guid", "id")))
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** hreflang alternates: `graft_hreflang(html)` → array<struct<alt_id,
    * lang,href>> — the multilingual page-cluster declaration
    * (`<link rel="alternate" hreflang=.. href=..>`), the signal a
    * bitext-mining pipeline joins translated page pairs on. One parse
    * per row; conventions: rel matching is ASCII-case-insensitive
    * whitespace-token containment (the page-meta canonical rule), a
    * link missing EITHER hreflang or href is skipped, attr lookup is
    * first-on-the-verbatim-chain (api.h:1240), alt_id = 0-based
    * pre-order ordinal of the EMITTED alternates, lang is kept
    * verbatim (x-default included — normalization is the caller's
    * lowercase/BCP-47 problem). */
  val hreflangStructType: StructType = StructType(Seq(
    StructField("alt_id", IntegerType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("href", StringType, nullable = false)
  ))
  val hreflangArrayType: ArrayType =
    ArrayType(hreflangStructType, containsNull = false)

  def hreflangTable(html: UTF8String): ArrayData = {
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](4)
      var nextId = 0
      def walk(n: Node): Unit = {
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML && n.name == "link") {
          val rel = firstAttrVal(n, "rel")
          if (rel != null && relHasToken(rel, "alternate")) {
            val lang = firstAttrVal(n, "hreflang")
            val href = firstAttrVal(n, "href")
            if (lang != null && href != null) {
              rows += InternalRow(nextId, UTF8String.fromString(lang),
                UTF8String.fromString(href))
              nextId += 1
            }
          }
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** Per-block density report: `graft_density_blocks(html)` →
    * array<struct<block_id,tag,depth,text_cp,link_cp,tags,kept>> —
    * the observability face of extract_dense_text (see
    * Extractor.densityBlocks; kept replays the Density keep/drop rule
    * verbatim, OpsSpec pins agreement with the actual extraction).
    * One parse per row; explode with the outer+isNotNull discipline. */
  val densityBlockStructType: StructType = StructType(Seq(
    StructField("block_id", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("text_cp", IntegerType, nullable = false),
    StructField("link_cp", IntegerType, nullable = false),
    StructField("tags", IntegerType, nullable = false),
    StructField("kept", IntegerType, nullable = false)
  ))
  val densityBlockArrayType: ArrayType =
    ArrayType(densityBlockStructType, containsNull = false)

  def densityBlocks(html: UTF8String): ArrayData = {
    val rows = graft.html.Extractor.densityBlocks(html.toString)
    new GenericArrayData(rows.map { b =>
      InternalRow(b.blockId, UTF8String.fromString(b.tag), b.depth,
        b.textCp, b.linkCp, b.tags, if (b.kept) 1 else 0)
    }.toArray[Any])
  }

  /** JSON-LD payloads: `graft_jsonld(html)` → array<struct<script_id,
    * raw>> — the structured-data blocks (`<script type="application/
    * ld+json">`) a knowledge-extraction pipeline feeds to a JSON
    * parser (compose with Spark's `from_json` — the kernel only
    * locates and hands over the RAWTEXT payload verbatim). One parse
    * per row; conventions: the type attribute matches after canonical
    * trim + ASCII lower (TextNorm — never Java toLowerCase), attr
    * lookup is first-on-the-verbatim-chain (api.h:1240), script_id =
    * 0-based pre-order ordinal of the MATCHING scripts, raw = the
    * concatenated text children (script content is RAWTEXT — entities
    * NOT decoded, so a JSON escape sequence survives byte-identically;
    * tokenizer.c script-data states). */
  val jsonldStructType: StructType = StructType(Seq(
    StructField("script_id", IntegerType, nullable = false),
    StructField("raw", StringType, nullable = false)
  ))
  val jsonldArrayType: ArrayType =
    ArrayType(jsonldStructType, containsNull = false)

  def jsonldTable(html: UTF8String): ArrayData = {
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val rows = new scala.collection.mutable.ArrayBuffer[Any](2)
      var nextId = 0
      def walk(n: Node): Unit = {
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML &&
            n.name == "script") {
          val ty = firstAttrVal(n, "type")
          if (ty != null && graft.ops.TextNorm.asciiLower(
              graft.ops.TextNorm.trimWs(ty)) == "application/ld+json") {
            val sb = new java.lang.StringBuilder
            descTextOf(n, sb)
            rows += InternalRow(nextId, UTF8String.fromString(sb.toString))
            nextId += 1
          }
        }
        var c = n.firstChild
        while (c != null) { walk(c); c = c.next }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      new GenericArrayData(rows.toArray)
    }
  }

  /** Subtitle parsing: `graft_subtitles(text)` → array<struct<cue_id,
    * start_ms,end_ms,text>> — WebVTT and SRT cues (the audio/video-text
    * alignment format a multimodal pipeline mines for ASR training
    * pairs). Conventions:
    *  - CRLF/CR normalize to LF; a leading "WEBVTT" header line (and
    *    anything before the first blank line after it) is skipped;
    *  - cues separate on blank lines; within a cue an optional
    *    identifier line (any line without "-->") precedes the timing
    *    line; remaining lines join with '\n' as the cue text;
    *  - timestamps are [HH:]MM:SS.mmm with '.' (VTT) or ',' (SRT)
    *    before the millis; parsed to integer ms;
    *  - a cue whose timing line fails to parse is SKIPPED (never a
    *    throw); cue_id numbers the EMITTED cues 0-based. */
  val subtitleStructType: StructType = StructType(Seq(
    StructField("cue_id", IntegerType, nullable = false),
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false)
  ))
  val subtitleArrayType: ArrayType =
    ArrayType(subtitleStructType, containsNull = false)

  /** [HH:]MM:SS(.|,)mmm → ms, or -1 when malformed. */
  private def parseStamp(s: String): Long = {
    val t = s.trim
    val parts = t.split(':')
    if (parts.length < 2 || parts.length > 3) return -1L
    val secMs = parts(parts.length - 1)
    val dot = secMs.indexWhere(c => c == '.' || c == ',')
    if (dot < 0) return -1L
    val secStr = secMs.substring(0, dot)
    val msStr = secMs.substring(dot + 1)
    def num(x: String): Long =
      if (x.isEmpty || !x.forall(_.isDigit) || x.length > 9) -1L else x.toLong
    val h = if (parts.length == 3) num(parts(0)) else 0L
    val m = num(parts(if (parts.length == 3) 1 else 0))
    val sec = num(secStr)
    val ms = if (msStr.length == 3) num(msStr) else -1L
    if (h < 0 || m < 0 || sec < 0 || ms < 0) return -1L
    ((h * 60 + m) * 60 + sec) * 1000 + ms
  }

  def subtitleTable(text: UTF8String): ArrayData = {
    val norm = text.toString.replace("\r\n", "\n").replace('\r', '\n')
    val rows = new scala.collection.mutable.ArrayBuffer[Any](8)
    var cueId = 0
    val blocks = norm.split("\n{2,}")
    var bi = 0
    var first = true
    while (bi < blocks.length) {
      val lines = blocks(bi).split('\n').filter(_.nonEmpty)
      val isHeader = first && lines.nonEmpty && lines(0).startsWith("WEBVTT")
      first = false
      if (!isHeader && lines.nonEmpty) {
        val ti = lines.indexWhere(_.contains("-->"))
        if (ti >= 0) {
          val arrow = lines(ti).indexOf("-->")
          val a = parseStamp(lines(ti).substring(0, arrow))
          // settings after the end stamp (e.g. "align:start") are cut
          // at the first space past the arrow
          val rest = lines(ti).substring(arrow + 3).trim
          val sp = rest.indexOf(' ')
          val b = parseStamp(if (sp < 0) rest else rest.substring(0, sp))
          if (a >= 0 && b >= 0) {
            val txt = lines.drop(ti + 1).mkString("\n")
            rows += InternalRow(cueId, a, b, UTF8String.fromString(txt))
            cueId += 1
          }
        }
      }
      bi += 1
    }
    new GenericArrayData(rows.toArray)
  }

  /** Publication-date signals: `graft_pub_date(html)` → struct(
    * meta_time, time_attr) — the two HTML-side signals a document-dating
    * stage reads before falling back to URL patterns (recency mixtures
    * and dedup tie-breaks both consume the stamp). meta_time = content
    * of the FIRST pre-order `<meta property="article:published_time">`
    * (property match ASCII-case-insensitive, the TextNorm canon;
    * attr lookup first-on-the-verbatim-chain, api.h:1240); time_attr =
    * datetime attribute of the first `<time>`. NULL when absent; the
    * priority fold (meta > time > url-pattern) lives in the QUERY so
    * the URL regex stays a replayable built-in. */
  val pubDateStructType: StructType = StructType(Seq(
    StructField("meta_time", StringType, nullable = true),
    StructField("time_attr", StringType, nullable = true)
  ))

  def pubDate(html: UTF8String): InternalRow = {
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      var metaTime: String = null
      var timeAttr: String = null
      def walk(n: Node): Unit = {
        if (n.kind == NodeKind.Element && n.ns == Ns.HTML) {
          if (n.name == "meta" && metaTime == null) {
            val prop = firstAttrVal(n, "property")
            if (prop != null && graft.ops.TextNorm.asciiLower(prop) ==
                "article:published_time") {
              val c = firstAttrVal(n, "content")
              if (c != null) metaTime = c
            }
          } else if (n.name == "time" && timeAttr == null) {
            val dt = firstAttrVal(n, "datetime")
            if (dt != null) timeAttr = dt
          }
        }
        var c = n.firstChild
        while (c != null && (metaTime == null || timeAttr == null)) {
          walk(c); c = c.next
        }
      }
      var c = doc.firstChild
      while (c != null) { walk(c); c = c.next }
      @inline def s(x: String) =
        if (x == null) null else UTF8String.fromString(x)
      InternalRow(s(metaTime), s(timeAttr))
    }
  }

  /** HTML → Markdown: `graft_markdown(html)` → one markdown string —
    * the standard pretraining-corpus extraction step that keeps
    * document STRUCTURE (headings, lists, links, emphasis, code,
    * tables) which plain clear-text extraction flattens away. One
    * parse per row, pure per-row codegen'd compute, no shuffle.
    *
    * Deterministic conventions (each SQL-replayable — the oracle
    * replays expected markdown by construction arithmetic):
    *  - blocks: h1-h6 (`#`×n), p, ul/ol li (`- ` / `1. `; nested lists
    *    indent two spaces per level, non-li children of a list are
    *    ignored), blockquote (every rendered line prefixed `> `), pre
    *    (fenced ``` block, text verbatim), hr (`---`), table (`| a |
    *    b |` rows; an all-`th` first row gets a `| --- |` separator;
    *    `|` in cell text escaped as `\|`; nested tables contribute
    *    their TEXT to the containing cell, Q7 descendant-text
    *    semantics, and are not re-rendered as rows), and an implicit
    *    paragraph for stray inline content; blocks join with a blank
    *    line. Block containers (div/section/article/...) are
    *    block-transparent.
    *  - inline: strong/b → `**`, em/i → `*`, code → backticks,
    *    a[href] → `[text](href)` (href = FIRST match on the verbatim
    *    attr chain, api.h:1240; an href-less `<a>` renders its text),
    *    img → `![alt](src)`, br → a hard line break; everything else
    *    is inline-transparent. Text is NOT markdown-escaped
    *    (extraction output, not re-renderable authoring).
    *  - whitespace: each block's assembled inline string collapses
    *    runs of extraction-ws (HTML5 ws + VT — the explicit TextPrep
    *    class, never Java \s) to one space, then trims spaces. br
    *    survives collapse via a NUL sentinel (in-body text can never
    *    contain NUL — the tree builder drops it, rules.c:1160).
    *  - skipped subtrees: head/title/script/style/template/textarea/
    *    noscript/iframe (the clear-text skip set plus head chrome).
    */
  val markdownEvals = new java.util.concurrent.atomic.AtomicLong

  private val mdSkip: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("head", "title", "script", "style", "template", "textarea",
      "noscript", "iframe").foreach(s.add)
    s
  }
  private val mdBlockContainer: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "body", "div", "section", "article", "main", "aside",
      "header", "footer", "nav", "form", "figure", "center", "details",
      "address").foreach(s.add)
    s
  }

  private def isMdWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == '\u000b'

  /** collapse extraction-ws runs to one space, drop leading/trailing
    * ws, then turn the br sentinel (NUL) into a newline. */
  private def mdCollapse(s: java.lang.StringBuilder): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isMdWs(c)) pendingWs = sb.length > 0
      else {
        if (pendingWs) sb.append(' ')
        pendingWs = false
        sb.append(if (c == '\u0000') '\n' else c)
      }
      i += 1
    }
    sb.toString
  }

  private def mdInline(n: Node, sb: java.lang.StringBuilder): Unit = {
    if (n.kind == NodeKind.Text) { sb.append(n.text); return }
    if (n.kind != NodeKind.Element) return
    val htmlNs = n.ns == Ns.HTML
    if (htmlNs && mdSkip.contains(n.name)) return
    def children(): Unit = {
      var c = n.firstChild
      while (c != null) { mdInline(c, sb); c = c.next }
    }
    if (!htmlNs) { children(); return }
    n.name match {
      case "strong" | "b" => sb.append("**"); children(); sb.append("**")
      case "em" | "i"     => sb.append('*'); children(); sb.append('*')
      case "code"         => sb.append('`'); children(); sb.append('`')
      case "a" =>
        val href = firstAttrVal(n, "href")
        if (href == null) children()
        else { sb.append('['); children(); sb.append("](").append(href).append(')') }
      case "img" =>
        val alt = firstAttrVal(n, "alt")
        val src = firstAttrVal(n, "src")
        sb.append("![").append(if (alt == null) "" else alt)
          .append("](").append(if (src == null) "" else src).append(')')
      case "br" => sb.append('\u0000')
      case _    => children()
    }
  }

  private def mdInlineOf(n: Node): String = {
    val sb = new java.lang.StringBuilder
    var c = n.firstChild
    while (c != null) { mdInline(c, sb); c = c.next }
    mdCollapse(sb)
  }

  private def mdList(list: Node, depth: Int): String = {
    val ordered = list.name == "ol"
    val sb = new java.lang.StringBuilder
    var idx = 0
    var c = list.firstChild
    while (c != null) {
      if (c.kind == NodeKind.Element && c.ns == Ns.HTML && c.name == "li") {
        idx += 1
        val content = new java.lang.StringBuilder
        val nested = new scala.collection.mutable.ArrayBuffer[Node](2)
        var g = c.firstChild
        while (g != null) {
          if (g.kind == NodeKind.Element && g.ns == Ns.HTML &&
              (g.name == "ul" || g.name == "ol")) nested += g
          else mdInline(g, content)
          g = g.next
        }
        if (sb.length > 0) sb.append('\n')
        var d = 0
        while (d < depth) { sb.append("  "); d += 1 }
        sb.append(if (ordered) idx.toString + ". " else "- ")
        sb.append(mdCollapse(content))
        nested.foreach { nl =>
          val s = mdList(nl, depth + 1)
          if (s.nonEmpty) sb.append('\n').append(s)
        }
      }
      c = c.next
    }
    sb.toString
  }

  private def mdTable(t: Node): String = {
    val rows = new scala.collection.mutable.ArrayBuffer[(Boolean, Seq[String])](4)
    def walk(n: Node): Unit = {
      var c = n.firstChild
      while (c != null) {
        if (c.kind == NodeKind.Element && c.ns == Ns.HTML) {
          if (c.name == "table") () // nested: text joins the containing cell
          else if (c.name == "tr") {
            val cells = new scala.collection.mutable.ArrayBuffer[String](4)
            var allTh = true
            var cell = c.firstChild
            while (cell != null) {
              if (cell.kind == NodeKind.Element && cell.ns == Ns.HTML &&
                  (cell.name == "td" || cell.name == "th")) {
                if (cell.name != "th") allTh = false
                val sb = new java.lang.StringBuilder
                descTextOf(cell, sb)
                cells += mdCollapse(sb).replace("|", "\\|")
              }
              cell = cell.next
            }
            rows += ((allTh && cells.nonEmpty, cells.toSeq))
          } else walk(c)
        }
        c = c.next
      }
    }
    walk(t)
    if (rows.isEmpty) return ""
    val sb = new java.lang.StringBuilder
    def emit(cells: Seq[String]): Unit =
      sb.append("| ").append(cells.mkString(" | ")).append(" |")
    emit(rows.head._2)
    if (rows.head._1) {
      sb.append('\n')
      emit(rows.head._2.map(_ => "---"))
    }
    rows.tail.foreach { r => sb.append('\n'); emit(r._2) }
    sb.toString
  }

  private def mdBlocks(root: Node,
      blocks: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val inline = new java.lang.StringBuilder
    def flush(): Unit = {
      val s = mdCollapse(inline)
      if (s.nonEmpty) blocks += s
      inline.setLength(0)
    }
    def walk(n: Node): Unit = {
      if (n.kind == NodeKind.Text) { inline.append(n.text); return }
      if (n.kind != NodeKind.Element) return
      if (n.ns != Ns.HTML) { mdInline(n, inline); return }
      n.name match {
        case _ if mdSkip.contains(n.name) => ()
        case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
          flush()
          val k = n.name.charAt(1) - '0'
          val content = mdInlineOf(n)
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i < k) { sb.append('#'); i += 1 }
          if (content.nonEmpty) sb.append(' ').append(content)
          blocks += sb.toString
        case "p" =>
          flush()
          val s = mdInlineOf(n)
          if (s.nonEmpty) blocks += s
        case "ul" | "ol" =>
          flush()
          val s = mdList(n, 0)
          if (s.nonEmpty) blocks += s
        case "blockquote" =>
          flush()
          val sub = new scala.collection.mutable.ArrayBuffer[String](4)
          mdBlocks(n, sub)
          if (sub.nonEmpty)
            blocks += sub.mkString("\n\n").split("\n", -1)
              .map("> " + _).mkString("\n")
        case "pre" =>
          flush()
          val sb = new java.lang.StringBuilder
          descTextOf(n, sb)
          blocks += "```\n" + sb.toString + "\n```"
        case "hr" =>
          flush()
          blocks += "---"
        case "table" =>
          flush()
          val s = mdTable(n)
          if (s.nonEmpty) blocks += s
        case _ if mdBlockContainer.contains(n.name) =>
          flush()
          mdBlocks(n, blocks)
        case _ => mdInline(n, inline)
      }
    }
    var c = root.firstChild
    while (c != null) { walk(c); c = c.next }
    flush()
  }

  def markdown(html: UTF8String): UTF8String = {
    markdownEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val blocks = new scala.collection.mutable.ArrayBuffer[String](8)
      mdBlocks(doc, blocks)
      UTF8String.fromString(blocks.mkString("\n\n"))
    }
  }

  /** Full interleaved-document kernel over a spans ArrayData — the
    * columnar fast path: no Dataset object codec on either side
    * (DocKernel semantics; text/media spans pass through without even
    * materializing a java.lang.String). As `extract_interleaved_spans`
    * the scan's UnsafeArrayData flows straight in, no Dataset encoder
    * round-trip (SURVEY §4: the custom-operator option (b) realized; the
    * mapPartitions path remains for per-partition lineage). */
  def extractInterleaved(spans: ArrayData): ArrayData = {
    interleavedEvals.incrementAndGet()
    val n = spans.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n * 4)
    var i = 0
    while (i < n) {
      val row = spans.getStruct(i, 4)
      if (row != null) {
        val kind = row.getUTF8String(0)
        if (kind != null) kind.toString match {
          case "html" =>
            val text = row.getUTF8String(1)
            if (text != null && text.numBytes() > 0) {
              val base = row.getInt(3)
              // robustness parity with the typed path: a pathological doc
              // yields zero spans, never a task failure (Changes:33)
              val extracted =
                try Extractor.extractHtml(text.toString)
                catch { case NonFatal(_) => Seq.empty[graft.html.Span] }
              extracted.foreach { sp =>
                out += new GenericInternalRow(Array[Any](UTF8String.fromString(sp.kind),
                  UTF8String.fromString(sp.text),
                  UTF8String.fromString(sp.media_ref), base + sp.offset))
              }
            }
          case "text" =>
            val text = row.getUTF8String(1)
            if (text != null && !graft.html.TextPrep.isWhitespaceOnly(text.toString))
              out += new GenericInternalRow(Array[Any](UTF8String.fromString("text"),
                text.clone(), UTF8String.EMPTY_UTF8, row.getInt(3)))
          case "media" =>
            val ref = row.getUTF8String(2)
            if (ref != null && ref.numBytes() > 0)
              out += new GenericInternalRow(Array[Any](UTF8String.fromString("media"),
                UTF8String.EMPTY_UTF8, ref.clone(), row.getInt(3)))
          case _ =>
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** CSS attribute-selector match counts for N (key, value, mode) specs
    * over ONE parse of the document (reference myhtml.c:922-1301 six
    * modes). Replaces the per-call `html_attr_match_count` ScalaUDF
    * (VERDICT r4 #1: a query asking 3 selector counts re-parsed the
    * document 3×; this is the same parse-once contract every other HTML
    * kernel already has, counter-pinned by PlanSpec). */
  def attrMatchCounts(html: UTF8String, keys: Array[String],
                      values: Array[String], modes: Array[AttrMatch.Mode]): ArrayData = {
    attrEvals.incrementAndGet()
    graft.html.ArenaParse.withDoc(html.toString) { doc =>
      val out = new Array[Any](keys.length)
      var i = 0
      while (i < keys.length) {
        out(i) = AttrMatch.select(doc, keys(i), values(i), modes(i)).length.toLong
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** REAL media-container header decoding over opaque binary columns —
  * the multimodal pipeline's first-class decode step (VERDICT r3 #1:
  * the hash-derived feature stub was the one scaffold operator left).
  * Pure public byte formats, no codec library needed:
  *
  *  - PNG (W3C/RFC 2083): 8-byte signature, first chunk must be IHDR
  *    (length 13) — width/height big-endian u32 at bytes 16/20, bit
  *    depth at 24, color type at 25.
  *  - JPEG (ITU T.81): SOI then a real marker WALK — fill bytes (0xFF
  *    padding) skipped, standalone markers (TEM, RSTn) have no length,
  *    every other segment is skipped by its big-endian length until a
  *    SOF marker (C0-CF minus C4/C8/CC) yields precision u8, height
  *    u16, width u16.
  *  - GIF (87a/89a): 6-byte version signature, logical-screen width and
  *    height LITTLE-endian u16 at bytes 6/8, color resolution from the
  *    packed flags byte at 10.
  *
  * Truncated or unrecognized payloads decode to ("unknown", -1, -1, -1)
  * — a malformed blob is a row verdict, never a task failure. */
object MediaUdfs {

  val headerStructType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false)
  ))

  private val UNKNOWN = ("unknown", -1, -1, -1)

  /** Decode (format, width, height, bit-depth/precision) from the first
    * bytes of an image payload. Total-function: never throws. */
  def decodeHeader(b: Array[Byte]): (String, Int, Int, Int) = {
    if (b == null) return UNKNOWN
    @inline def u(i: Int): Int = b(i) & 0xFF
    @inline def be16(i: Int): Int = (u(i) << 8) | u(i + 1)
    @inline def be32(i: Int): Int =
      (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    @inline def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    // PNG: signature + IHDR-first (spec mandates IHDR as first chunk)
    if (b.length >= 26 && u(0) == 0x89 && u(1) == 0x50 && u(2) == 0x4E &&
        u(3) == 0x47 && u(4) == 0x0D && u(5) == 0x0A && u(6) == 0x1A && u(7) == 0x0A) {
      if (be32(8) == 13 && u(12) == 'I' && u(13) == 'H' && u(14) == 'D' && u(15) == 'R')
        return ("png", be32(16), be32(20), u(24))
      return UNKNOWN
    }
    // GIF: little-endian logical screen descriptor
    if (b.length >= 13 && u(0) == 'G' && u(1) == 'I' && u(2) == 'F' &&
        u(3) == '8' && (u(4) == '7' || u(4) == '9') && u(5) == 'a') {
      val flags = u(10)
      return ("gif", le16(6), le16(8), ((flags >> 4) & 7) + 1)
    }
    // WEBP: RIFF container chunk walk to the first image-header chunk.
    // VP8 (lossy): 3-byte frame tag + 9D 01 2A start code + 14-bit LE
    // dims; VP8L (lossless): 2F signature + packed 14-bit-minus-one
    // dims; VP8X (extended): 24-bit LE canvas dims minus one. All three
    // are 8-bit formats (VP8 is 8-bit 4:2:0, VP8L 8-bit ARGB) — depth 8.
    if (b.length >= 12 && u(0) == 'R' && u(1) == 'I' && u(2) == 'F' &&
        u(3) == 'F' && u(8) == 'W' && u(9) == 'E' && u(10) == 'B' &&
        u(11) == 'P') {
      @inline def le24(i: Int): Int = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)
      @inline def le32(i: Int): Long =
        (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong | (u(i + 3).toLong << 24)
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(i + 4)
        val p = i + 8
        if (u(i) == 'V' && u(i + 1) == 'P' && u(i + 2) == '8') {
          if (u(i + 3) == ' ') {
            if (p + 10 > b.length || size < 10) return UNKNOWN
            if (!(u(p + 3) == 0x9D && u(p + 4) == 0x01 && u(p + 5) == 0x2A))
              return UNKNOWN
            return ("webp", le16(p + 6) & 0x3FFF, le16(p + 8) & 0x3FFF, 8)
          }
          if (u(i + 3) == 'L') {
            if (p + 5 > b.length || size < 5 || u(p) != 0x2F) return UNKNOWN
            val bits = le32(p + 1)
            return ("webp", ((bits & 0x3FFF) + 1).toInt,
              (((bits >> 14) & 0x3FFF) + 1).toInt, 8)
          }
          if (u(i + 3) == 'X') {
            if (p + 10 > b.length || size < 10) return UNKNOWN
            return ("webp", le24(p + 4) + 1, le24(p + 7) + 1, 8)
          }
        }
        // RIFF chunks are word-aligned: odd sizes carry one pad byte
        val step = 8L + size + (size & 1L)
        if (step <= 0 || i.toLong + step > Int.MaxValue) return UNKNOWN
        i += step.toInt
      }
      return UNKNOWN
    }
    // JPEG: marker walk from SOI to the first SOF
    if (b.length >= 4 && u(0) == 0xFF && u(1) == 0xD8) {
      var i = 2
      while (i + 3 < b.length) {
        if (u(i) != 0xFF) return UNKNOWN
        var j = i
        while (j < b.length && u(j) == 0xFF) j += 1 // fill bytes
        if (j >= b.length) return UNKNOWN
        val m = u(j)
        if (m == 0xD9) return UNKNOWN // EOI before any SOF
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) {
          i = j + 1 // standalone marker, no length field
        } else {
          if (j + 2 >= b.length) return UNKNOWN
          val len = be16(j + 1)
          if (len < 2) return UNKNOWN
          val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
          if (isSof) {
            if (j + 8 >= b.length) return UNKNOWN
            return ("jpeg", be16(j + 6), be16(j + 4), u(j + 3))
          }
          i = j + 1 + len
        }
      }
      return UNKNOWN
    }
    UNKNOWN
  }

  /** InternalRow shape for the native expression / codegen static call. */
  def imageHeader(b: Array[Byte]): InternalRow = {
    val (fmt, w, h, d) = decodeHeader(b)
    InternalRow(UTF8String.fromString(fmt), w, h, d)
  }

  val audioStructType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false)
  ))

  /** REAL WAV (RIFF/WAVE) header decode: a genuine chunk walk to the
    * "fmt " chunk — [4cc][u32 LE size] records, sizes honored (so an
    * id3/JUNK/LIST chunk before fmt is skipped correctly, odd sizes
    * padded per RIFF). Returns (format, channels, sample_rate,
    * bits_per_sample); anything else → ("unknown", -1, -1, -1). */
  def decodeAudioHeader(b: Array[Byte]): (String, Int, Int, Int) = {
    if (b == null || b.length < 12) return UNKNOWN
    @inline def u(i: Int): Int = b(i) & 0xFF
    @inline def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    @inline def le32(i: Int): Long =
      (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong | (u(i + 3).toLong << 24)
    if (!(u(0) == 'R' && u(1) == 'I' && u(2) == 'F' && u(3) == 'F' &&
          u(8) == 'W' && u(9) == 'A' && u(10) == 'V' && u(11) == 'E')) return UNKNOWN
    var i = 12
    while (i + 8 <= b.length) {
      val isFmt = u(i) == 'f' && u(i + 1) == 'm' && u(i + 2) == 't' && u(i + 3) == ' '
      val size = le32(i + 4)
      if (isFmt) {
        if (i + 8 + 16 > b.length || size < 16) return UNKNOWN
        val channels = le16(i + 10)
        val rate = le32(i + 12)
        val bits = le16(i + 22)
        if (rate <= 0 || rate > Int.MaxValue) return UNKNOWN
        return ("wav", channels, rate.toInt, bits)
      }
      // RIFF chunks are word-aligned: odd sizes carry one pad byte
      val step = 8L + size + (size & 1L)
      if (step <= 0 || i.toLong + step > Int.MaxValue) return UNKNOWN
      i += step.toInt
    }
    UNKNOWN
  }

  def audioHeader(b: Array[Byte]): InternalRow = {
    val (fmt, ch, rate, bits) = decodeAudioHeader(b)
    InternalRow(UTF8String.fromString(fmt), ch, rate, bits)
  }

  val mp3StructType: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("bitrate_kbps", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))

  // MPEG audio Layer III tables (ISO/IEC 11172-3 / 13818-3): bitrate
  // kbps by (version-class, index) and sample rate by (version, index).
  // Index 0 = "free format" (kept as 0), index 15 = invalid.
  private val mp3BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val mp3BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
    96, 112, 128, 144, 160)
  private val mp3RateV1 = Array(44100, 48000, 32000)
  private val mp3RateV2 = Array(22050, 24000, 16000)
  private val mp3RateV25 = Array(11025, 12000, 8000)

  /** REAL MP3 (MPEG audio Layer III) header decode: optional ID3v2 tag
    * skip (syncsafe 28-bit size), then the 4-byte frame header at the
    * sync word — version (1 / 2 / 2.5), Layer III only (I/II and
    * reserved values → unknown verdict), bitrate/sample-rate table
    * lookups, channel count from the mode field. Total: any malformed
    * or truncated input is ("unknown", -1, -1, -1, false), never a
    * throw. */
  def decodeMp3Header(b: Array[Byte]): (String, Int, Int, Int, Boolean) = {
    val UNK = ("unknown", -1, -1, -1, false)
    if (b == null || b.length < 4) return UNK
    @inline def u(i: Int): Int = b(i) & 0xFF
    var i = 0
    // ID3v2 prefix: "ID3" ver(2) flags(1) syncsafe-size(4)
    if (b.length >= 10 && u(0) == 'I' && u(1) == 'D' && u(2) == '3') {
      if ((u(6) | u(7) | u(8) | u(9)) >= 0x80) return UNK // non-syncsafe
      val size = (u(6) << 21) | (u(7) << 14) | (u(8) << 7) | u(9)
      val skip = 10L + size
      if (skip > Int.MaxValue - 4 || skip + 4 > b.length) return UNK
      i = skip.toInt
    }
    if (i + 4 > b.length) return UNK
    if (u(i) != 0xFF || (u(i + 1) & 0xE0) != 0xE0) return UNK
    val versionBits = (u(i + 1) >> 3) & 3  // 0=2.5, 1=reserved, 2=2, 3=1
    val layerBits = (u(i + 1) >> 1) & 3    // 1=III, 2=II, 3=I
    if (versionBits == 1 || layerBits != 1) return UNK
    val brIdx = (u(i + 2) >> 4) & 15
    val srIdx = (u(i + 2) >> 2) & 3
    if (brIdx == 15 || srIdx == 3) return UNK
    val mode = (u(i + 3) >> 6) & 3         // 3 = mono
    val version = versionBits match {
      case 3 => "1"
      case 2 => "2"
      case _ => "2.5"
    }
    val bitrate =
      if (versionBits == 3) mp3BitrateV1(brIdx) else mp3BitrateV2(brIdx)
    val rate = versionBits match {
      case 3 => mp3RateV1(srIdx)
      case 2 => mp3RateV2(srIdx)
      case _ => mp3RateV25(srIdx)
    }
    (version, bitrate, rate, if (mode == 3) 1 else 2, true)
  }

  def mp3Header(b: Array[Byte]): InternalRow = {
    val (v, br, sr, ch, ok) = decodeMp3Header(b)
    InternalRow(UTF8String.fromString(v), br, sr, ch, ok)
  }

  val videoStructType: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))

  /** REAL MP4 / ISO-BMFF box walk: top-level [u32 BE size][4cc] boxes;
    * `ftyp` yields the major brand, `moov` is recursed one level for
    * `mvhd` (version 0: timescale u32 + duration u32 at offsets 12/16
    * past the box header; version 1: u32 timescale at 20, u64 duration
    * at 24). duration_ms = duration * 1000 / timescale. size==1
    * (64-bit largesize) and size==0 (to-end) handled; malformed input
    * → ("", -1, -1, false), never a throw. */
  def decodeVideoHeader(b: Array[Byte]): (String, Int, Long, Boolean) = {
    val BAD = ("", -1, -1L, false)
    if (b == null || b.length < 8) return BAD
    @inline def u(i: Int): Int = b(i) & 0xFF
    @inline def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    @inline def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    @inline def cc(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    var brand = ""
    var timescale = -1
    var durationMs = -1L
    // walk(from, to): returns false on structural damage
    def walk(from: Int, to: Int, depth: Int): Boolean = {
      var i = from
      while (i + 8 <= to) {
        var size = be32(i)
        var hdr = 8
        if (size == 1) {
          if (i + 16 > to) return false
          size = be64(i + 8); hdr = 16
        } else if (size == 0) size = (to - i).toLong
        if (size < hdr || i + size > to) return false
        val kind = cc(i + 4)
        if (kind == "ftyp" && size >= hdr + 4) brand = cc(i + hdr)
        else if (kind == "moov" && depth == 0) {
          if (!walk(i + hdr, (i + size).toInt, 1)) return false
        } else if (kind == "mvhd" && depth == 1) {
          val p = i + hdr
          if (p + 4 > to) return false
          val version = u(p)
          if (version == 0) {
            if (p + 20 > to) return false
            timescale = be32(p + 12).toInt
            val dur = be32(p + 16)
            if (timescale > 0) durationMs = dur * 1000L / timescale
          } else {
            if (p + 32 > to) return false
            timescale = be32(p + 20).toInt
            val dur = be64(p + 24)
            if (timescale > 0) durationMs = dur * 1000L / timescale
          }
        }
        i += size.toInt
      }
      true
    }
    val structOk = try walk(0, b.length, 0) catch { case NonFatal(_) => false }
    if (brand.isEmpty) BAD
    else (brand, timescale, durationMs, structOk && timescale > 0)
  }

  def videoHeader(b: Array[Byte]): InternalRow = {
    val (brand, ts, dur, ok) = decodeVideoHeader(b)
    InternalRow(UTF8String.fromString(brand), ts, dur, ok)
  }

  val exifStructType: StructType = StructType(Seq(
    StructField("byte_order", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("orientation", IntegerType, nullable = false),
    StructField("entries", IntegerType, nullable = false),
    // additive (round 7, q_image_pii): 1 iff IFD0 carries a GPSInfo
    // pointer (tag 0x8825) — presence only, never dereferenced
    StructField("gps", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))

  /** REAL EXIF/TIFF IFD0 walk (TIFF 6.0 + EXIF 2.3): accepts a bare
    * TIFF blob (`II*\0` / `MM\0*`) or a JPEG whose marker walk reaches
    * an APP1 segment with the `Exif\0\0` identifier. Honors BOTH byte
    * orders end-to-end (header magic, IFD offset, entry count, tags,
    * types, values); reads single-count SHORT(3)/LONG(4) values inline
    * from the left-justified 4-byte value field (left-justified in both
    * orders per TIFF 6.0 §2) for ImageWidth(0x0100)/ImageLength(0x0101)/
    * Orientation(0x0112); every other entry — strings, rationals,
    * offset-valued fields — is SKIPPED by the 12-byte entry stride,
    * never dereferenced. The whole entry table plus the next-IFD
    * pointer must be in bounds (APP1-length-bounded in the JPEG case)
    * or the verdict is unknown. Total function: malformed input →
    * ("", -1, -1, -1, -1, false), never a throw. */
  /** Locate the TIFF region: a bare blob, or inside a JPEG whose
    * marker walk reaches an APP1 segment with the `Exif\0\0`
    * identifier. ONE locator shared by [[decodeExif]] and
    * [[decodeGps]] (ADVICE r7 medium: decodeGps carried a weaker copy
    * of this walk — missing the len>=2 / Exif-length / EOI / FF-align
    * guards — so a decoy APP1 could lock the two onto DIFFERENT TIFF
    * regions; one shared walk cannot drift). Returns (base, to) or
    * null when no region exists. */
  private def tiffRegion(b: Array[Byte]): (Int, Int) = {
    if (b == null || b.length < 8) return null
    @inline def u(i: Int): Int = b(i) & 0xFF
    if (u(0) == 0xFF && u(1) == 0xD8) {
      @inline def jbe16(i: Int): Int = (u(i) << 8) | u(i + 1)
      var i = 2
      while (i + 3 < b.length) {
        if (u(i) != 0xFF) return null
        var j = i
        while (j < b.length && u(j) == 0xFF) j += 1 // fill bytes
        if (j >= b.length) return null
        val m = u(j)
        if (m == 0xD9) return null // EOI before any Exif APP1
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i = j + 1
        else {
          if (j + 2 >= b.length) return null
          val len = jbe16(j + 1)
          if (len < 2) return null
          if (m == 0xE1 && len >= 8 && j + 8 < b.length &&
              u(j + 3) == 'E' && u(j + 4) == 'x' && u(j + 5) == 'i' &&
              u(j + 6) == 'f' && u(j + 7) == 0 && u(j + 8) == 0)
            // APP1 bounds the TIFF
            return (j + 9, math.min(b.length, j + len + 1))
          else i = j + 1 + len
        }
      }
      null
    } else (0, b.length)
  }

  def decodeExif(b: Array[Byte]): (String, Int, Int, Int, Int, Int, Boolean) = {
    val BAD = ("", -1, -1, -1, -1, -1, false)
    val region = tiffRegion(b)
    if (region == null) return BAD
    val base = region._1
    val to = region._2
    @inline def u(i: Int): Int = b(i) & 0xFF
    if (base + 8 > to) return BAD
    val le =
      if (u(base) == 0x49 && u(base + 1) == 0x49) true
      else if (u(base) == 0x4D && u(base + 1) == 0x4D) false
      else return BAD
    @inline def r16(i: Int): Int =
      if (le) u(i) | (u(i + 1) << 8) else (u(i) << 8) | u(i + 1)
    @inline def r32(i: Int): Long =
      if (le) (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong | (u(i + 3).toLong << 24)
      else (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    if (r16(base + 2) != 42) return BAD
    val ifdOff = r32(base + 4)
    if (ifdOff < 8 || base + ifdOff + 2 > to) return BAD
    val ifd = base + ifdOff.toInt
    val count = r16(ifd)
    // the full entry table plus the next-IFD pointer must fit
    if (ifd + 2 + count * 12 + 4 > to) return BAD
    var width = -1; var height = -1; var orient = -1; var gps = 0
    var k = 0
    while (k < count) {
      val e = ifd + 2 + k * 12
      val tag = r16(e)
      if (tag == 0x8825) gps = 1 // GPSInfo IFD pointer: presence only
      val typ = r16(e + 2)
      val n = r32(e + 4)
      if (n == 1L && (typ == 3 || typ == 4)) {
        val v: Long = if (typ == 3) r16(e + 8).toLong else r32(e + 8)
        if (v >= 0 && v <= Int.MaxValue) {
          if (tag == 0x0100) width = v.toInt
          else if (tag == 0x0101) height = v.toInt
          else if (tag == 0x0112) orient = v.toInt
        }
      }
      k += 1
    }
    (if (le) "II" else "MM", width, height, orient, count, gps, true)
  }

  /** GPS coordinate decode: follows IFD0's GPSInfo pointer (0x8825)
    * into the GPS IFD and decodes GPSLatitudeRef(1)/GPSLatitude(2)/
    * GPSLongitudeRef(3)/GPSLongitude(4) — the lat/lon RATIONAL(5)
    * triples (deg, min, sec) live at their offset-valued entries, the
    * ONE place this walk dereferences an offset (bounds-checked; the
    * header walk proper still never does). Returns micro-degrees as
    * three floor-divided integer terms
    *   udeg = (n1·10^6)//d1 + (n2·10^6)//(60·d2) + (n3·10^6)//(3600·d3)
    * (documented convention — integer-exact, so a SQL oracle replays
    * it; a zero denominator zeroes its term), negated for S/W. Total:
    * anything malformed or absent → (0, 0, false). */
  def decodeGps(b: Array[Byte]): (Long, Long, Boolean) = {
    val BAD = (0L, 0L, false)
    val (bo, _, _, _, _, _, ok0) = decodeExif(b)
    if (!ok0) return BAD
    // the SAME shared locator decodeExif used (ADVICE r7: a weaker
    // inline copy here could lock onto a different TIFF region than
    // the one decodeExif validated — move-in-lockstep by construction)
    val region = tiffRegion(b)
    if (region == null) return BAD
    val base = region._1
    val to = region._2
    @inline def u(i: Int): Int = b(i) & 0xFF
    val le = u(base) == 0x49
    @inline def r16(i: Int): Int =
      if (le) u(i) | (u(i + 1) << 8) else (u(i) << 8) | u(i + 1)
    @inline def r32(i: Int): Long =
      if (le) (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong | (u(i + 3).toLong << 24)
      else (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    // bounds-check the IFD offset in LONG space before truncating
    // (decodeExif validated the same offset over the same region, but
    // re-checking here keeps this walk total on its own)
    val ifdOff = r32(base + 4)
    if (ifdOff < 8 || base + ifdOff + 2 > to) return BAD
    val ifd = base + ifdOff.toInt
    val count = r16(ifd)
    if (ifd + 2 + count * 12 + 4 > to) return BAD
    var gpsOff = -1L
    var k = 0
    while (k < count) {
      val e = ifd + 2 + k * 12
      if (r16(e) == 0x8825 && r16(e + 2) == 4 && r32(e + 4) == 1L)
        gpsOff = r32(e + 8)
      k += 1
    }
    if (gpsOff < 8 || base + gpsOff + 2 > to) return BAD
    val g = base + gpsOff.toInt
    val gn = r16(g)
    if (g + 2 + gn * 12 + 4 > to) return BAD
    var latRef = 0; var lonRef = 0
    var latOff = -1L; var lonOff = -1L
    k = 0
    while (k < gn) {
      val e = g + 2 + k * 12
      val tag = r16(e)
      val typ = r16(e + 2)
      val n = r32(e + 4)
      if (typ == 2 && n >= 1L) {
        if (tag == 1) latRef = u(e + 8)
        else if (tag == 3) lonRef = u(e + 8)
      } else if (typ == 5 && n == 3L) {
        if (tag == 2) latOff = r32(e + 8)
        else if (tag == 4) lonOff = r32(e + 8)
      }
      k += 1
    }
    if (latOff < 0 || lonOff < 0 || latRef == 0 || lonRef == 0) return BAD
    def udeg(off0: Long): Long = {
      // validate in LONG space BEFORE truncating (ADVICE r7 high: an
      // unsigned 32-bit offset >= 2^31 truncates negative, slips past
      // an int-space bound check, and indexes b negatively — a ~120-
      // byte crafted EXIF crashed the whole query)
      if (off0 < 8 || base + off0 + 24 > to) return Long.MinValue
      val o = base + off0.toInt
      var s = 0L
      var t = 0
      while (t < 3) {
        val num = r32(o + t * 8)
        val den = r32(o + t * 8 + 4)
        val scale = if (t == 0) 1L else if (t == 1) 60L else 3600L
        if (den > 0) s += (num * 1000000L) / (den * scale)
        t += 1
      }
      s
    }
    val lat = udeg(latOff)
    val lon = udeg(lonOff)
    if (lat == Long.MinValue || lon == Long.MinValue) return BAD
    val latS = if (latRef == 'S') -lat else lat
    val lonS = if (lonRef == 'W') -lon else lon
    (latS, lonS, true)
  }

  /** struct(lat_udeg, lon_udeg, ok): integer micro-degrees from the
    * EXIF GPS IFD (see decodeGps for the floor-div convention the oracle
    * replays). Total. */
  def gpsHeader(b: Array[Byte]): InternalRow = {
    // catch-all backstop: graft_gps is documented TOTAL over untrusted
    // image bytes ('anything malformed -> (0,0,false), never a throw')
    val (lat, lon, ok) =
      try decodeGps(b) catch { case _: RuntimeException => (0L, 0L, false) }
    InternalRow(lat, lon, ok)
  }

  val gpsStructType: StructType = StructType(Seq(
    StructField("lat_udeg", LongType, nullable = false),
    StructField("lon_udeg", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false)
  ))

  def exifHeader(b: Array[Byte]): InternalRow = {
    val (bo, w, h, o, n, gps, ok) = decodeExif(b)
    InternalRow(UTF8String.fromString(bo), w, h, o, n, gps, ok)
  }

  val blockhashEvals = new java.util.concurrent.atomic.AtomicLong

  /** Byte-level blockhash (the decode-free perceptual-hash analog,
    * SURVEY §16 lever 3): 64 equal byte blocks by floor arithmetic
    * (block i = [i*len/64, (i+1)*len/64)), per-block unsigned byte sum,
    * threshold strictly above the LOWER MEDIAN (sorted sums index 31),
    * bits packed MSB-first into 16 lowercase hex nibbles. Empty/null
    * payload → null (the caller expression must be nullable). Total:
    * never throws; block boundaries use Long arithmetic so 2 GiB
    * payloads can't overflow. The q_image_blockhash oracle replays the
    * identical arithmetic over the construction hex in DuckDB. */
  def blockhash(b: Array[Byte]): UTF8String = {
    blockhashEvals.incrementAndGet()
    if (b == null || b.length == 0) return null
    val len = b.length.toLong
    val sums = new Array[Long](64)
    var i = 0
    while (i < 64) {
      var j = (i * len / 64).toInt
      val end = ((i + 1) * len / 64).toInt
      var s = 0L
      while (j < end) { s += (b(j) & 0xFF); j += 1 }
      sums(i) = s
      i += 1
    }
    val sorted = sums.clone(); java.util.Arrays.sort(sorted)
    val m = sorted(31)
    val out = new Array[Char](16)
    var k = 0
    while (k < 16) {
      var nib = 0
      var t = 0
      while (t < 4) {
        nib = (nib << 1) | (if (sums(4 * k + t) > m) 1 else 0)
        t += 1
      }
      out(k) = "0123456789abcdef".charAt(nib)
      k += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Hamming distance between two equal-length hex strings (nibble
    * popcount; accepts either case). Total: length mismatch or a
    * non-hex character → -1, never a throw. ASCII-only by definition
    * (hex alphabet), so char-wise == codepoint-wise. */
  def hammingHex(a: UTF8String, b: UTF8String): Int = {
    val sa = a.toString; val sb = b.toString
    if (sa.length != sb.length) return -1
    var i = 0; var d = 0
    while (i < sa.length) {
      val x = Character.digit(sa.charAt(i), 16)
      val y = Character.digit(sb.charAt(i), 16)
      if (x < 0 || y < 0) return -1
      d += Integer.bitCount(x ^ y)
      i += 1
    }
    d
  }
}

/** Static kernel for the random-hyperplane LSH signature — one pass per
  * plane over the float vector, no intermediate arrays. Reproduces the
  * SQL composition `pmod(hash(i, p, seed), 2) * 2 - 1` weights
  * bit-for-bit (Catalyst's Murmur3Hash over int children, seed 42), so
  * results are identical to the built-in-expression formulation while
  * skipping its per-row per-plane array materializations. */
object VecUdfs {
  import org.apache.spark.unsafe.hash.Murmur3_x86_32

  /** Local-mode observability, same role as TextKernels.minhashEvals:
    * PlanSpec pins signatures-per-row through actual invocation counts
    * because plan strings are unreliable under AQE. */
  val hyperplaneEvals = new java.util.concurrent.atomic.AtomicLong
  val centroidEvals = new java.util.concurrent.atomic.AtomicLong

  /** Exact arithmetic twin of the SQL cosine composition, in one pass
    * instead of the zip_with product-array materialization per pair:
    * same ascending fold order, same greatest(na*nb, 1e-12) guard; null
    * on length mismatch or null element (zip_with-pad semantics). */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
    java.lang.Double.valueOf(dot / denom)
  }

  /** Symmetric per-vector int8 quantization: q_i = round(127·v_i/max|v|)
    * — the 4×-smaller storage path for corpus-scale embeddings. The
    * per-vector scale CANCELS in cosine, so `cosineI8` needs no scale
    * column at all. Zero vectors quantize to zeros. Double arithmetic +
    * half-up rounding (= DuckDB round() for the non-negative planted
    * oracle corpus). */
  def quantizeI8(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      // null element → null result (same semantics as the f32/i8 cosine
      // kernels; never fabricate an embedding from a partial vector)
      if (vec.isNullAt(i)) return null
      val a = math.abs(vec.getFloat(i).toDouble)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val q = if (maxAbs == 0.0) 0L
        else Math.round(127.0 * vec.getFloat(i).toDouble / maxAbs)
      out(i) = math.max(-127L, math.min(127L, q)).toByte
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine over int8-quantized vectors: exact integer dot/norms in
    * long arithmetic, one double division at the end (same
    * greatest(·,1e-12) guard as the f32 kernel). */
  def cosineI8(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.max(math.sqrt(na.toDouble) * math.sqrt(nb.toDouble), 1e-12)
    java.lang.Double.valueOf(dot.toDouble / denom)
  }

  def hyperplaneSig(vec: ArrayData, planes: Int, seed: Int): Int = {
    hyperplaneEvals.incrementAndGet()
    val n = vec.numElements()
    var sig = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        var h = Murmur3_x86_32.hashInt(i, 42)
        h = Murmur3_x86_32.hashInt(p, h)
        h = Murmur3_x86_32.hashInt(seed, h)
        val w = (((h % 2) + 2) % 2) * 2 - 1
        dot += vec.getFloat(i).toDouble * w
        i += 1
      }
      if (dot > 0) sig |= 1 << p
      p += 1
    }
    sig
  }
}

/** Native nearest-centroid assignment for IVF ANN:
  * `graft_nearest_centroids(vec, <centroid matrix literal>, nprobe)` →
  * array<int> of the nprobe nearest centroid indices by cosine
  * (descending; ties break on the lower index). The centroid matrix is
  * a plan-time constant (the trained coarse quantizer is tiny — k×dim
  * floats — and rides the closure/codegen references, never a join). */
case class GraftNearestCentroids(child: Expression,
    centroids: Array[Array[Float]], nprobe: Int) extends UnaryExpression {
  require(centroids.nonEmpty && nprobe >= 1 && nprobe <= centroids.length,
    s"nprobe=$nprobe must be in [1, ${centroids.length}]")
  // centroid norms are precomputed once per plan; cosine(vec, c) ranks
  // identically to dot(vec, c)/|c| (the |vec| factor is constant per row)
  @transient private lazy val invNorms: Array[Double] = centroids.map { c =>
    val n = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    if (n > 0) 1.0 / n else 0.0
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // a NaN-poisoned vector has no argmax (every compare is false) →
  // null verdict, never a throw (totality) — and returning NULL from a
  // non-null input requires the explicit isNull slot (repo rule)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    nearest(input.asInstanceOf[ArrayData])
  def nearest(vec: ArrayData): ArrayData = {
    VecUdfs.centroidEvals.incrementAndGet()
    val n = vec.numElements()
    val scores = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      var dot = 0.0
      var i = 0
      val lim = math.min(n, cv.length)
      while (i < lim) { dot += vec.getFloat(i).toDouble * cv(i); i += 1 }
      scores(c) = dot * invNorms(c)
      c += 1
    }
    val picked = new Array[Any](nprobe)
    val used = new Array[Boolean](centroids.length)
    var p = 0
    while (p < nprobe) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < scores.length) {
        if (!used(j) && scores(j) > bestScore) { best = j; bestScore = scores(j) }
        j += 1
      }
      if (best < 0) return null // all scores NaN (poisoned vector)
      used(best) = true
      picked(p) = best
      p += 1
    }
    new GenericArrayData(picked)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroids", this,
      classOf[GraftNearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_n = $ref.nearest($c);
      if (${ev.value}_n == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_n; }
      """
    })
  }
  override protected def withNewChildInternal(newChild: Expression): GraftNearestCentroids =
    copy(child = newChild)
  override def prettyName: String = "graft_nearest_centroids"
}

/** Per-query product-quantization lookup table: for query vector q and
  * plan-time codebooks (m subspaces × ksub codewords × dsub floats),
  * lut[s*ksub + j] = dot(q_s, e_{s,j}) — computed ONCE per query row;
  * every (query, code) ADC score is then m array lookups + adds
  * (Similarity.ivfPqTopK). Subspace dots sum in index order, so the
  * planted all-integer oracles reassociate exactly. Short vectors dot
  * over the available prefix (the GraftNearestCentroids convention). */
case class GraftPqLut(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.length == codebooks(0).length),
    "pq codebooks must be non-empty and rectangular")
  private val m = codebooks.length
  private val ksub = codebooks(0).length
  private val dsub = codebooks(0)(0).length
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    lut(input.asInstanceOf[ArrayData])
  def lut(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](m * ksub)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var j = 0
      while (j < ksub) {
        val cw = codebooks(s)(j)
        var dot = 0.0
        var i = 0
        val lim = math.min(dsub, math.max(0, n - base))
        while (i < lim) { dot += vec.getFloat(base + i).toDouble * cw(i); i += 1 }
        out(s * ksub + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[GraftPqLut].getName)
    defineCodeGen(ctx, ev, c => s"$ref.lut($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): GraftPqLut =
    copy(child = newChild)
  override def prettyName: String = "graft_pq_lut"
}

/** Native expression: `graft_attr_match_counts(html, array(keys),
  * array(values), array(modes))` → array<bigint> — N CSS
  * attribute-selector match counts from ONE parse of the document
  * (spec arrays are plan-time string literals, evaluated at function
  * build). Retires the `html_attr_match_count` ScalaUDF, whose body
  * re-parsed the document on EVERY call — the last per-row re-parse
  * surface (VERDICT r4 #1). Codegen calls back through a reference to
  * this instance so the mode enums are resolved once, not per row. */
case class GraftAttrMatchCounts(child: Expression, keys: Seq[String],
    values: Seq[String], modes: Seq[String]) extends UnaryExpression {
  require(keys.length == values.length && keys.length == modes.length,
    s"graft_attr_match_counts: spec arrays must align " +
      s"(${keys.length}/${values.length}/${modes.length})")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  @transient private lazy val keyArr = keys.toArray
  @transient private lazy val valArr = values.toArray
  @transient private lazy val modeArr = modes.map(AttrMatch.mode).toArray
  def compute(html: UTF8String): ArrayData =
    HtmlUdfs.attrMatchCounts(html, keyArr, valArr, modeArr)
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("attrMatchCounts", this,
      classOf[GraftAttrMatchCounts].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): GraftAttrMatchCounts =
    copy(child = newChild)
  override def prettyName: String = "graft_attr_match_counts"
}

/** SQL-text entry point: registers every native kernel (the
  * GraftSql.entries table) in a live session's function registry, so
  * SQL strings can name them. Engine code never needs this: it builds
  * kernel calls with [[KernelRegistry.kernel]]. On a cluster prefer
  * `--conf spark.sql.extensions=graft.spark.GraftExtensions`. */
object GraftFunctions {
  /** Register the native expressions on a live session. All functions
    * are native Catalyst expressions — zero `spark.udf.register` calls.
    * Each call re-registers the whole table, so call it once per
    * session. */
  def registerAll(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.GraftSql.registerAll(spark)
}

/** SparkSessionExtensions entry point — enables
  * `--conf spark.sql.extensions=graft.spark.GraftExtensions` on a real
  * cluster (SURVEY §7.3). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // same table as GraftSql.registerAll — a cluster configured only via
    // spark.sql.extensions gets ALL native functions (round-1 ADVICE:
    // this path used to register 5 of 10, breaking Pipeline/Similarity
    // on extension-configured clusters).
    org.apache.spark.sql.graft.GraftSql.entries.foreach { case (name, clazz, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(clazz, name), builder))
    }
  }
}
