package graft.html

import scala.collection.mutable.ArrayBuffer

/** Insertion modes (reference enum + dispatch table:
  * source/myhtml/myosi.h:201-226, rules.c:3930-3962). */
object Mode {
  final val INITIAL = 0
  final val BEFORE_HTML = 1
  final val BEFORE_HEAD = 2
  final val IN_HEAD = 3
  final val IN_HEAD_NOSCRIPT = 4
  final val AFTER_HEAD = 5
  final val IN_BODY = 6
  final val TEXT = 7
  final val IN_TABLE = 8
  final val IN_TABLE_TEXT = 9
  final val IN_CAPTION = 10
  final val IN_COLUMN_GROUP = 11
  final val IN_TABLE_BODY = 12
  final val IN_ROW = 13
  final val IN_CELL = 14
  final val IN_SELECT = 15
  final val IN_SELECT_IN_TABLE = 16
  final val IN_TEMPLATE = 17
  final val AFTER_BODY = 18
  final val IN_FRAMESET = 19
  final val AFTER_FRAMESET = 20
  final val AFTER_AFTER_BODY = 21
  final val AFTER_AFTER_FRAMESET = 22
}

object QuirksMode {
  final val NoQuirks = 0
  final val Limited = 1
  final val Quirks = 2
}

/** HTML5 tree-construction stage (reference: source/myhtml/rules.c —
  * 23 insertion modes rules.c:85-3650, dispatcher rules.c:3885-3928,
  * foreign content rules.c:3652-3847; stack/AFE/AAA/foster parenting in
  * source/myhtml/tree.c). One instance per document row; state never
  * crosses rows (SURVEY §2.1 "Tree" row).
  */
final class TreeBuilder(scripting: Boolean = false,
                        arena: NodeArena = null) extends TokenSink {
  import Mode._
  import TreeBuilder._

  // node allocation goes through the optional arena (parse→extract→
  // discard lifecycles recycle nodes wholesale — NodeArena doc); a null
  // arena means plain heap allocation, the API-safe default for any
  // caller that keeps the returned tree
  @inline private def allocDocument(): Node =
    if (arena == null) Node.document()
    else arena.alloc(NodeKind.Document, "#document", Ns.HTML)
  @inline private[html] def allocElement(name: String, ns: Int = Ns.HTML): Node =
    if (arena == null) Node.element(name, ns)
    else arena.alloc(NodeKind.Element, name, ns)
  @inline private def allocText(s: String, rawBegin: Int): Node =
    if (arena == null) Node.text(s, rawBegin)
    else { val n = arena.alloc(NodeKind.Text, "#text", Ns.HTML); n.text = s; n.rawBegin = rawBegin; n }
  @inline private def allocComment(s: String): Node =
    if (arena == null) Node.comment(s)
    else { val n = arena.alloc(NodeKind.Comment, "#comment", Ns.HTML); n.text = s; n }
  @inline private def allocDoctype(name: String, pub: String, sys: String): Node =
    if (arena == null) Node.doctype(name, pub, sys)
    else { val n = arena.alloc(NodeKind.Doctype, name, Ns.HTML); n.publicId = pub; n.systemId = sys; n }

  val doc: Node = allocDocument()
  var quirks: Int = QuirksMode.NoQuirks

  /** Open-elements stack (reference tree.c:839-1066). */
  val stack = new ArrayBuffer[Node](16)

  /** Active formatting entry: node + the start-tag token it was created
    * from (needed to clone on reconstruct/AAA). `null` node = marker.
    * (reference tree.c:1324-1557.) */
  final case class AfeEntry(var node: Node, token: StartTagTok)
  private val MarkerTok = StartTagTok("$marker", new ArrayBuffer, false, -1)
  val afe = new ArrayBuffer[AfeEntry](8)

  var mode: Int = INITIAL
  private var originalMode: Int = INITIAL
  private val templateModes = new ArrayBuffer[Int](4)
  /** Fragment-init hook (spec fragment step: a template CONTEXT pushes
    * "in template" onto the template insertion mode stack). */
  private[html] def pushTemplateMode(m: Int): Unit = templateModes += m

  var htmlNode: Node = _
  var headNode: Node = _
  var formNode: Node = _
  var framesetOk = true
  private var fosterParenting = false
  private var ignoreNextLf = false

  /** Node-level tree-mutation callbacks (reference
    * myhtml_callback_tree_node_insert_set / _remove_set,
    * api.h:2420-2482 + callback.c, fired from the tree.c:399,416,433,465
    * attach/detach primitives; Perl surface MyHTML.xs:325-401). Null by
    * default — a branch test per mutation, zero cost on the extraction
    * hot path. A node MOVE (adoption agency, foster reattach) fires
    * remove-then-insert, exactly like the reference's
    * node_remove → add_child sequence. */
  var onNodeInsert: Node => Unit = null
  var onNodeRemove: Node => Unit = null
  @inline private def fireInsert(n: Node): Unit =
    if (onNodeInsert != null) onNodeInsert(n)
  /** Detach `n`, firing the remove callback if it was attached. */
  private def detach(n: Node): Unit = {
    val wasAttached = n.parent != null
    n.remove()
    if (wasAttached && onNodeRemove != null) onNodeRemove(n)
  }
  var done = false

  /** Set by the parser facade so the builder can switch content models
    * (the single feedback edge, reference tree.c:2247-2255). */
  var tokenizer: Tokenizer = _

  // fragment parsing context (reference myhtml.c:240-262)
  var fragmentContext: Node = _

  // pending table character tokens (IN_TABLE_TEXT, rules.c in_table_text)
  private val pendingTableChars = new java.lang.StringBuilder
  private var pendingTableRaw = -1
  private var pendingHasNonWs = false


  private def currentNode: Node = if (stack.isEmpty) null else stack.last

  private def adjustedCurrentNode: Node =
    if (fragmentContext != null && stack.length == 1) fragmentContext else currentNode

  override def inForeignContent: Boolean = {
    val n = adjustedCurrentNode
    n != null && n.ns != Ns.HTML
  }

  // ------------------------------------------------------------ dispatch

  def process(tok: Token): Unit = {
    if (done) return
    // first-newline suppression after <pre>/<listing>/<textarea>
    // (reference rules.c:3854-3883)
    if (ignoreNextLf) {
      ignoreNextLf = false
      tok match {
        case CharsTok(t, raw, ws) if t.nonEmpty && t.charAt(0) == '\n' =>
          if (t.length > 1) process(CharsTok(t.substring(1), raw + 1, ws))
          return
        case _ =>
      }
    }
    val acn = adjustedCurrentNode
    val useHtmlRules =
      stack.isEmpty || acn.ns == Ns.HTML || tok == EofTok || {
        val mathmlTextIp = acn.ns == Ns.MathML && Tags.scopeBaseMathML.contains(acn.name) &&
          acn.name != "annotation-xml"
        val htmlIp = isHtmlIntegrationPoint(acn)
        // the reference routes ANY non-CLOSE token (comments and doctype
        // included, not just start tags/characters as the spec words it)
        // to the insertion mode at an integration point
        // (rules.c tree_dispatcher: `(token->type & CLOSE) == 0`) —
        // observable: "<svg></body><title ><?" puts the bogus comment on
        // the HTML element via after_body, not inside the foreign title
        tok match {
          case st: StartTagTok =>
            (mathmlTextIp && st.name != "mglyph" && st.name != "malignmark") ||
              (acn.ns == Ns.MathML && acn.name == "annotation-xml" && st.name == "svg") ||
              htmlIp
          case _: EndTagTok => false
          case _ => mathmlTextIp || htmlIp // chars, comments, doctype
        }
      }
    if (useHtmlRules) processMode(mode, tok)
    else processForeign(tok)
  }

  private def isHtmlIntegrationPoint(n: Node): Boolean =
    (n.ns == Ns.SVG && Tags.scopeBaseSVG.contains(n.name)) ||
      (n.ns == Ns.MathML && n.name == "annotation-xml" &&
        n.attr("encoding").exists { e =>
          val l = e.toLowerCase
          l == "text/html" || l == "application/xhtml+xml"
        })

  // --------------------------------------------------------- insertion

  /** Appropriate place for inserting a node, foster-parenting aware
    * (reference tree.c:1895-2082). Sets apParent/apBefore — field-based
    * to keep the per-insert hot path allocation-free. */
  private var apParent: Node = _
  private var apBefore: Node = _

  private def appropriatePlace(overrideTarget: Node = null): Unit = {
    val target = if (overrideTarget != null) overrideTarget else currentNode
    apParent = target
    apBefore = null
    if (fosterParenting && target != null && target.ns == Ns.HTML &&
        (target.name == "table" || target.name == "tbody" || target.name == "tfoot" ||
         target.name == "thead" || target.name == "tr")) {
      var lastTable: Node = null
      var lastTableIdx = -1
      var lastTemplateIdx = -1
      var i = stack.length - 1
      while (i >= 0) {
        val n = stack(i)
        if (lastTable == null && n.isElement("table")) { lastTable = n; lastTableIdx = i }
        if (lastTemplateIdx < 0 && n.isElement("template")) lastTemplateIdx = i
        i -= 1
      }
      if (lastTemplateIdx >= 0 && (lastTable == null || lastTemplateIdx > lastTableIdx)) {
        apParent = stack(lastTemplateIdx)
      } else if (lastTable == null) {
        apParent = stack.head
      } else if (lastTable.parent != null) {
        apParent = lastTable.parent; apBefore = lastTable
      } else {
        apParent = stack(lastTableIdx - 1)
      }
    }
  }

  private def insertAtPlace(n: Node): Unit = {
    if (apBefore == null) apParent.appendChild(n)
    else apParent.insertBefore(n, apBefore)
    fireInsert(n)
  }

  private def createElement(tok: StartTagTok, ns: Int): Node = {
    val n = allocElement(tok.name, ns)
    n.rawBegin = tok.rawBegin
    if (tok.attrs.nonEmpty) {
      val src = tok.attrs
      val dst = new ArrayBuffer[DomAttr](src.length)
      var i = 0
      while (i < src.length) { val a = src(i); dst += DomAttr(a.name, a.value, a.ns); i += 1 }
      n.attrs = dst
    }
    n
  }

  /** Open-elements depth cap. Browsers bound this (Blink caps at 512);
    * without it a hostile 10^5-deep nest makes every scope scan O(depth)
    * → O(n²) per document — a straggler-task hazard at 100 TB scale.
    * Beyond the cap new elements are inserted into the DOM but not
    * pushed (they behave like void elements). */
  private val MaxOpenDepth = 512

  private def pushOpen(n: Node): Boolean =
    if (stack.length < MaxOpenDepth) { stack += n; true } else false

  /** Pop only if `n` is actually the current node — safe under the
    * depth cap, where an insert may not have pushed. */
  private def popIfSame(n: Node): Unit =
    if (stack.nonEmpty && (stack.last eq n)) stack.remove(stack.length - 1)

  private def insertElement(tok: StartTagTok, ns: Int = Ns.HTML): Node = {
    val n = createElement(tok, ns)
    appropriatePlace()
    insertAtPlace(n)
    pushOpen(n)
    n
  }

  /** Insert character data, merging with an adjacent text node
    * (reference myhtml_token_merged_two_token_string via tree.c:531-704 —
    * merge matters for span equality). */
  private def insertChars(s: String, rawBegin: Int): Unit = {
    if (s.isEmpty) return
    appropriatePlace()
    // O(1) with sibling links (was a newest-first identity scan)
    val prev = if (apBefore != null) apBefore.prev else apParent.lastChild
    if (prev != null && prev.kind == NodeKind.Text) prev.text += s
    else insertAtPlace(allocText(s, rawBegin))
  }

  private def insertComment(tok: CommentTok, parent: Node = null): Unit = {
    val c = allocComment(tok.text)
    c.rawBegin = tok.rawBegin
    if (parent != null) { parent.appendChild(c); fireInsert(c) }
    else { appropriatePlace(); insertAtPlace(c) }
  }

  // ------------------------------------------------------------- scopes

  /** Scope checks via per-node category bits (reference tree.c:705-757
    * with myosi.h:101 category masks) — no Set hashing per stack level. */
  private def inScopeBits(name: String, barrierMask: Int): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == Ns.HTML && n.name == name) return true
      if ((n.flags & barrierMask) != 0) return false
      i -= 1
    }
    false
  }

  private def inScope(name: String): Boolean =
    inScopeBits(name, Tags.FlagScopeBase)
  private def inListItemScope(name: String): Boolean =
    inScopeBits(name, Tags.FlagScopeBase | Tags.FlagListItemExtra)
  private def inButtonScope(name: String): Boolean =
    inScopeBits(name, Tags.FlagScopeBase | Tags.FlagButtonExtra)
  private def inTableScope(name: String): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == Ns.HTML && n.name == name) return true
      if (n.ns == Ns.HTML && (n.flags & Tags.FlagTableScope) != 0) return false
      i -= 1
    }
    false
  }
  private def inSelectScope(name: String): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == Ns.HTML && n.name == name) return true
      if (!(n.ns == Ns.HTML && (n.name == "optgroup" || n.name == "option"))) return false
      i -= 1
    }
    false
  }
  private def anyHeadingInScope: Boolean = Tags.headings.exists(inScope)

  /** Identity scans without iterator allocation (ArrayBuffer.contains /
    * indexOf / indexWhere build an Iterator per call in 2.13 — this is
    * per-element hot-path cost; the reference compares pointers). */
  private def stackIndexOf(n: Node): Int = {
    var i = stack.length - 1
    while (i >= 0) { if (stack(i) eq n) return i; i -= 1 }
    -1
  }
  @inline private def stackContains(n: Node): Boolean = stackIndexOf(n) >= 0
  private def afeIndexOfNode(n: Node): Int = {
    var i = afe.length - 1
    while (i >= 0) { if (afe(i).node eq n) return i; i -= 1 }
    -1
  }
  private def templateOnStack: Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == Ns.HTML && n.name == "template") return true
      i -= 1
    }
    false
  }

  private def popUntilIncl(name: String): Unit = {
    while (stack.nonEmpty) {
      val n = stack.remove(stack.length - 1)
      if (n.ns == Ns.HTML && n.name == name) return
    }
  }

  private def popUntilOneOfIncl(names: Set[String]): Unit = {
    while (stack.nonEmpty) {
      val n = stack.remove(stack.length - 1)
      if (n.ns == Ns.HTML && names.contains(n.name)) return
    }
  }

  private def popUntilNode(n: Node): Unit = {
    while (stack.nonEmpty) {
      val x = stack.remove(stack.length - 1)
      if (x eq n) return
    }
  }

  /** Generate implied end tags (reference tree.c:1068-1157). */
  private def generateImpliedEnd(except: String = null): Unit = {
    while (stack.nonEmpty) {
      val n = currentNode
      if (n.ns == Ns.HTML && Tags.impliedEnd.contains(n.name) && n.name != except)
        stack.remove(stack.length - 1)
      else return
    }
  }

  private def generateImpliedEndThoroughly(): Unit = {
    while (stack.nonEmpty) {
      val n = currentNode
      if (n.ns == Ns.HTML && Tags.impliedEndThorough.contains(n.name))
        stack.remove(stack.length - 1)
      else return
    }
  }

  private def closePElement(): Unit = {
    generateImpliedEnd(except = "p")
    popUntilIncl("p")
  }

  private def clearStackToTableContext(): Unit =
    while (stack.nonEmpty && !{ val n = currentNode
      n.ns == Ns.HTML && (n.name == "table" || n.name == "template" || n.name == "html") })
      stack.remove(stack.length - 1)

  private def clearStackToTableBodyContext(): Unit =
    while (stack.nonEmpty && !{ val n = currentNode
      n.ns == Ns.HTML && (n.name == "tbody" || n.name == "tfoot" || n.name == "thead" ||
        n.name == "template" || n.name == "html") })
      stack.remove(stack.length - 1)

  private def clearStackToTableRowContext(): Unit =
    while (stack.nonEmpty && !{ val n = currentNode
      n.ns == Ns.HTML && (n.name == "tr" || n.name == "template" || n.name == "html") })
      stack.remove(stack.length - 1)

  // -------------------------------------------- active formatting list

  private def afeMarker(): Unit = afe += AfeEntry(null, MarkerTok)

  private def afeClearToMarker(): Unit = {
    while (afe.nonEmpty) {
      val e = afe.remove(afe.length - 1)
      if (e.node == null) return
    }
  }

  /** Push with the Noah's Ark clause (≥3 equal entries drop the earliest;
    * reference tree.c:1463). */
  private def afePush(node: Node, tok: StartTagTok): Unit = {
    var count = 0
    var earliest = -1
    var i = afe.length - 1
    var scan = true
    while (scan && i >= 0) {
      val e = afe(i)
      if (e.node == null) scan = false
      else if (e.node.name == node.name && e.node.ns == node.ns && attrsEqual(e.node, node)) {
        count += 1; earliest = i
      }
      i -= 1
    }
    if (count >= 3 && earliest >= 0) afe.remove(earliest)
    afe += AfeEntry(node, tok)
  }

  private def attrsEqual(a: Node, b: Node): Boolean = {
    val aa = if (a.attrs == null) 0 else a.attrs.length
    val bb = if (b.attrs == null) 0 else b.attrs.length
    if (aa != bb) return false
    if (aa == 0) return true
    var i = 0
    while (i < aa) {
      val x = a.attrs(i)
      var found = false
      var j = 0
      while (!found && j < bb) {
        val y = b.attrs(j)
        found = y.name == x.name && y.value == x.value && y.ns == x.ns
        j += 1
      }
      if (!found) return false
      i += 1
    }
    true
  }

  private def afeIndexOfName(name: String): Int = {
    var i = afe.length - 1
    while (i >= 0) {
      val e = afe(i)
      if (e.node == null) return -1
      if (e.node.name == name && e.node.ns == Ns.HTML) return i
      i -= 1
    }
    -1
  }

  /** Reconstruct the active formatting elements (reference tree.c:1559-1609). */
  private def reconstructAfe(): Unit = {
    if (afe.isEmpty) return
    val last = afe.last
    if (last.node == null || stackContains(last.node)) return
    var i = afe.length - 1
    // rewind
    var continue = true
    while (continue && i > 0) {
      val prev = afe(i - 1)
      if (prev.node == null || stackContains(prev.node)) continue = false
      else i -= 1
    }
    // advance, cloning
    while (i < afe.length) {
      val e = afe(i)
      val clone = createElement(e.token, Ns.HTML)
      appropriatePlace()
      insertAtPlace(clone)
      stack += clone
      e.node = clone
      i += 1
    }
  }

  // ------------------------------------------------- adoption agency

  /** The adoption agency algorithm (reference tree.c:1611-1893). */
  private def adoptionAgency(subject: String): Unit = {
    if (currentNode != null && currentNode.isElement(subject) &&
        afeIndexOfNode(currentNode) < 0) {
      stack.remove(stack.length - 1)
      return
    }
    var outer = 0
    while (outer < 8) {
      outer += 1
      val fmtIdx = afeIndexOfName(subject)
      // reference parity: when the subject is NOT in the AFE list the spec
      // says "act as any other end tag", but the reference's call sites
      // discard that request (rules.c:1087-1088 — the fallback call is
      // commented out), so the end tag is silently dropped and the element
      // stays open. e.g. after an AAA inner-loop >3 removal of <em>,
      // a later </em> does nothing and text keeps nesting inside it.
      if (fmtIdx < 0) return
      val fmtEntry = afe(fmtIdx)
      val fmtElem = fmtEntry.node
      if (!stackContains(fmtElem)) { afe.remove(fmtIdx); return }
      if (!inScope(subject)) return
      // (parse error if fmtElem != currentNode; continue)
      val fmtStackIdx = stackIndexOf(fmtElem)
      // furthest block: lowest special element below fmtElem
      var furthestIdx = -1
      var i = fmtStackIdx + 1
      while (i < stack.length && furthestIdx < 0) {
        val n = stack(i)
        if (isSpecial(n)) furthestIdx = i
        i += 1
      }
      if (furthestIdx < 0) {
        popUntilNode(fmtElem)
        afe.remove(fmtIdx)
        return
      }
      val furthestBlock = stack(furthestIdx)
      val commonAncestor = stack(fmtStackIdx - 1)
      var bookmark = fmtIdx
      var node = furthestBlock
      var lastNode = furthestBlock
      var nodeStackIdx = furthestIdx
      var inner = 0
      var loop = true
      while (loop) {
        inner += 1
        nodeStackIdx -= 1
        node = stack(nodeStackIdx)
        if (node eq fmtElem) loop = false
        else {
          val nodeAfeIdx = afeIndexOfNode(node)
          if (inner > 3 && nodeAfeIdx >= 0) {
            // reference parity (tree.c:1790-1799): the >3 case removes the
            // node from the AFE list and CONTINUES — the node STAYS on the
            // open-elements stack (current WHATWG falls through to stack
            // removal). Later reconstruction can therefore land inside it.
            afe.remove(nodeAfeIdx)
            if (nodeAfeIdx < bookmark) bookmark -= 1
          } else if (nodeAfeIdx < 0) {
            stack.remove(nodeStackIdx)
            // nodeStackIdx now points at the element that was above node
          } else {
            val clone = createElement(afe(nodeAfeIdx).token, Ns.HTML)
            afe(nodeAfeIdx) = AfeEntry(clone, afe(nodeAfeIdx).token)
            stack(nodeStackIdx) = clone
            node = clone
            if (lastNode eq furthestBlock) bookmark = nodeAfeIdx + 1
            detach(lastNode)
            node.appendChild(lastNode)
            fireInsert(lastNode)
            lastNode = node
          }
        }
      }
      // insert lastNode at appropriate place with commonAncestor override
      detach(lastNode)
      appropriatePlace(commonAncestor)
      insertAtPlace(lastNode)
      // new element for fmt token, adopt furthestBlock's children
      val newFmt = createElement(fmtEntry.token, Ns.HTML)
      while (furthestBlock.firstChild != null) {
        val c = furthestBlock.firstChild
        detach(c)
        newFmt.appendChild(c)
        fireInsert(c)
      }
      furthestBlock.appendChild(newFmt)
      fireInsert(newFmt)
      // AFE: remove fmt entry, insert new at bookmark
      var fmtIdx2 = afe.length - 1
      while (fmtIdx2 >= 0 && (afe(fmtIdx2) ne fmtEntry)) fmtIdx2 -= 1
      if (fmtIdx2 >= 0) {
        afe.remove(fmtIdx2)
        if (fmtIdx2 < bookmark) bookmark -= 1
      }
      afe.insert(math.min(bookmark, afe.length), AfeEntry(newFmt, fmtEntry.token))
      // stack: remove fmt, insert new immediately after furthestBlock
      val fs = stackIndexOf(fmtElem)
      if (fs >= 0) stack.remove(fs)
      val fb = stackIndexOf(furthestBlock)
      stack.insert(fb + 1, newFmt)
    }
  }

  @inline private def isSpecial(n: Node): Boolean =
    (n.flags & Tags.FlagSpecial) != 0

  /** "Any other end tag" in body (reference rules.c in_body end default). */
  private def anyOtherEndTag(name: String): Unit = {
    var i = stack.length - 1
    while (i >= 0) {
      val n = stack(i)
      if (n.ns == Ns.HTML && n.name == name) {
        generateImpliedEnd(except = name)
        // pop until n popped
        while (stack.length > i) stack.remove(stack.length - 1)
        return
      }
      if (isSpecial(n)) return // ignore
      i -= 1
    }
  }

  // --------------------------------------------- reset insertion mode

  /** Reference tree.c:1159-1322. */
  def resetInsertionMode(): Unit = {
    var i = stack.length - 1
    while (i >= 0) {
      var node = stack(i)
      val last = i == 0
      if (last && fragmentContext != null) node = fragmentContext
      if (node.ns == Ns.HTML) {
        node.name match {
          case "select" =>
            var j = i
            var m = IN_SELECT
            var scan = true
            while (scan && j > 0) {
              j -= 1
              val a = stack(j)
              if (a.isElement("template")) scan = false
              else if (a.isElement("table")) { m = IN_SELECT_IN_TABLE; scan = false }
            }
            mode = m; return
          case "td" | "th" if !last => mode = IN_CELL; return
          case "tr" => mode = IN_ROW; return
          case "tbody" | "thead" | "tfoot" => mode = IN_TABLE_BODY; return
          case "caption" => mode = IN_CAPTION; return
          case "colgroup" => mode = IN_COLUMN_GROUP; return
          case "table" => mode = IN_TABLE; return
          case "template" =>
            mode = if (templateModes.nonEmpty) templateModes.last else IN_BODY; return
          case "head" if !last => mode = IN_HEAD; return
          case "body" => mode = IN_BODY; return
          case "frameset" => mode = IN_FRAMESET; return
          case "html" =>
            mode = if (headNode == null) BEFORE_HEAD else AFTER_HEAD; return
          case _ if last => mode = IN_BODY; return
          case _ =>
        }
      } else if (last) { mode = IN_BODY; return }
      i -= 1
    }
    mode = IN_BODY
  }

  // ------------------------------------------------------ char helpers

  /** Split a chars run into (leading-ws, rest). */
  private def splitLeadingWs(s: String): (String, String) = {
    var i = 0
    while (i < s.length && TextPrep.isWhitespace(s.charAt(i))) i += 1
    (s.substring(0, i), s.substring(i))
  }

  /** Split into maximal ws / non-ws runs with offsets. */
  private def wsRuns(s: String, raw: Int): Seq[(String, Int, Boolean)] = {
    val out = new ArrayBuffer[(String, Int, Boolean)](4)
    var i = 0
    while (i < s.length) {
      val start = i
      val ws = TextPrep.isWhitespace(s.charAt(i))
      while (i < s.length && TextPrep.isWhitespace(s.charAt(i)) == ws) i += 1
      out += ((s.substring(start, i), raw + start, ws))
    }
    out.toSeq
  }

  // -------------------------------------------------------- mode rules

  private def processMode(m: Int, tok: Token): Unit = m match {
    case INITIAL => modeInitial(tok)
    case BEFORE_HTML => modeBeforeHtml(tok)
    case BEFORE_HEAD => modeBeforeHead(tok)
    case IN_HEAD => modeInHead(tok)
    case IN_HEAD_NOSCRIPT => modeInHeadNoscript(tok)
    case AFTER_HEAD => modeAfterHead(tok)
    case IN_BODY => modeInBody(tok)
    case TEXT => modeText(tok)
    case IN_TABLE => modeInTable(tok)
    case IN_TABLE_TEXT => modeInTableText(tok)
    case IN_CAPTION => modeInCaption(tok)
    case IN_COLUMN_GROUP => modeInColumnGroup(tok)
    case IN_TABLE_BODY => modeInTableBody(tok)
    case IN_ROW => modeInRow(tok)
    case IN_CELL => modeInCell(tok)
    case IN_SELECT => modeInSelect(tok)
    case IN_SELECT_IN_TABLE => modeInSelectInTable(tok)
    case IN_TEMPLATE => modeInTemplate(tok)
    case AFTER_BODY => modeAfterBody(tok)
    case IN_FRAMESET => modeInFrameset(tok)
    case AFTER_FRAMESET => modeAfterFrameset(tok)
    case AFTER_AFTER_BODY => modeAfterAfterBody(tok)
    case AFTER_AFTER_FRAMESET => modeAfterAfterFrameset(tok)
  }

  // quirks-mode determination (reference rules.c:85-139; spec tables)
  private def determineQuirks(d: DoctypeTok): Int = {
    val name = if (d.name == null) "" else d.name
    val pub = if (d.publicId == null) "" else d.publicId.toLowerCase
    val sys = if (d.systemId == null) "" else d.systemId.toLowerCase
    if (d.forceQuirks || name != "html") return QuirksMode.Quirks
    if (pub == "-//w3o//dtd w3 html strict 3.0//en//" ||
        pub == "-/w3c/dtd html 4.0 transitional/en" || pub == "html")
      return QuirksMode.Quirks
    if (sys == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd")
      return QuirksMode.Quirks
    if (quirksPublicPrefixes.exists(pub.startsWith)) return QuirksMode.Quirks
    val sysMissing = d.systemId == null
    if (sysMissing && (pub.startsWith("-//w3c//dtd html 4.01 frameset//") ||
        pub.startsWith("-//w3c//dtd html 4.01 transitional//")))
      return QuirksMode.Quirks
    if (pub.startsWith("-//w3c//dtd xhtml 1.0 frameset//") ||
        pub.startsWith("-//w3c//dtd xhtml 1.0 transitional//"))
      return QuirksMode.Limited
    if (!sysMissing && (pub.startsWith("-//w3c//dtd html 4.01 frameset//") ||
        pub.startsWith("-//w3c//dtd html 4.01 transitional//")))
      return QuirksMode.Limited
    QuirksMode.NoQuirks
  }

  private def modeInitial(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // whitespace FLAG, not content (rules.c:91); non-ws tokens get their
      // leading ws cropped then proceed (fix_emit_for_text_begin_ws)
      if (!ws) {
        val (_, rest) = splitLeadingWs(t)
        quirks = QuirksMode.Quirks
        mode = BEFORE_HTML
        if (rest.nonEmpty)
          process(CharsTok(rest, raw + (t.length - rest.length), ws = false))
      }
    case c: CommentTok => insertComment(c, doc)
    case d: DoctypeTok =>
      val n = allocDoctype(if (d.name == null) "" else d.name, d.publicId, d.systemId)
      doc.appendChild(n)
      fireInsert(n)
      quirks = determineQuirks(d)
      mode = BEFORE_HTML
    case EofTok => quirks = QuirksMode.Quirks; mode = BEFORE_HTML; process(tok)
    case _ =>
      quirks = QuirksMode.Quirks
      mode = BEFORE_HTML
      process(tok)
  }

  private def modeBeforeHtml(tok: Token): Unit = tok match {
    case _: DoctypeTok => // ignore
    case c: CommentTok => insertComment(c, doc)
    case CharsTok(t, raw, ws) =>
      if (!ws) { // rules.c:181 — flag, then crop leading ws and proceed
        val (_, rest) = splitLeadingWs(t)
        anythingElseBeforeHtml()
        if (rest.nonEmpty)
          process(CharsTok(rest, raw + (t.length - rest.length), ws = false))
      }
    case st: StartTagTok if st.name == "html" =>
      val n = createElement(st, Ns.HTML)
      doc.appendChild(n)
      fireInsert(n)
      stack += n
      htmlNode = n
      mode = BEFORE_HEAD
    case EndTagTok(n, _) if n != "head" && n != "body" && n != "html" && n != "br" =>
    // ignore
    case _ =>
      anythingElseBeforeHtml()
      process(tok)
  }

  private def anythingElseBeforeHtml(): Unit = {
    val n = allocElement("html")
    doc.appendChild(n)
    fireInsert(n)
    stack += n
    htmlNode = n
    mode = BEFORE_HEAD
  }

  private def modeBeforeHead(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      if (!ws) { // rules.c:244
        val (_, rest) = splitLeadingWs(t)
        anythingElseBeforeHead()
        if (rest.nonEmpty)
          process(CharsTok(rest, raw + (t.length - rest.length), ws = false))
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok if st.name == "html" => modeInBody(st)
    case st: StartTagTok if st.name == "head" =>
      headNode = insertElement(st)
      mode = IN_HEAD
    case EndTagTok(n, _) if n != "head" && n != "body" && n != "html" && n != "br" =>
    case _ =>
      anythingElseBeforeHead()
      process(tok)
  }

  private def anythingElseBeforeHead(): Unit = {
    headNode = insertElement(StartTagTok("head", new ArrayBuffer, false, -1))
    mode = IN_HEAD
  }

  private def genericRawText(st: StartTagTok, model: Int): Unit = {
    insertElement(st)
    tokenizer.state = model
    originalMode = mode
    mode = TEXT
  }

  private def modeInHead(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // ws-FLAGGED tokens insert whole (rules.c:354); others split: the
      // leading-ws prefix inserts here, the rest re-dispatches after
      // anything-else switches mode (fix_split_for_text_begin_ws)
      if (ws) insertChars(t, raw)
      else {
        val (pre, rest) = splitLeadingWs(t)
        if (pre.nonEmpty) insertChars(pre, raw)
        inHeadAnythingElse()
        if (rest.nonEmpty) process(CharsTok(rest, raw + pre.length, ws = false))
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => st.name match {
      case "html" => modeInBody(st)
      case "base" | "basefont" | "bgsound" | "link" | "meta" =>
        popIfSame(insertElement(st))
      case "title" => genericRawText(st, ContentModel.RCDATA)
      case "noscript" if !scripting =>
        insertElement(st); mode = IN_HEAD_NOSCRIPT
      case "noscript" => genericRawText(st, ContentModel.RAWTEXT)
      case "noframes" | "style" => genericRawText(st, ContentModel.RAWTEXT)
      case "script" =>
        insertElement(st)
        tokenizer.state = ContentModel.SCRIPT
        originalMode = mode
        mode = TEXT
      case "template" =>
        insertElement(st)
        afeMarker()
        framesetOk = false
        mode = IN_TEMPLATE
        templateModes += IN_TEMPLATE
      case "head" => // ignore
      case _ => inHeadAnythingElse(); process(tok)
    }
    case EndTagTok(name, _) => name match {
      case "head" => stack.remove(stack.length - 1); mode = AFTER_HEAD
      case "template" =>
        if (templateOnStack) {
          generateImpliedEndThoroughly()
          popUntilIncl("template")
          afeClearToMarker()
          if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
          resetInsertionMode()
        }
      case "body" | "html" | "br" => inHeadAnythingElse(); process(tok)
      case _ => // ignore
    }
    case EofTok => inHeadAnythingElse(); process(tok)
  }

  private def inHeadAnythingElse(): Unit = {
    stack.remove(stack.length - 1) // pop head
    mode = AFTER_HEAD
  }

  private def modeInHeadNoscript(tok: Token): Unit = tok match {
    case _: DoctypeTok =>
    case st: StartTagTok if st.name == "html" => modeInBody(st)
    case EndTagTok("noscript", _) =>
      stack.remove(stack.length - 1); mode = IN_HEAD
    case CharsTok(t, raw, ws) =>
      // rules.c:544 — ws-flagged: whole token via in_head; otherwise pop
      // noscript and reprocess the WHOLE token in IN_HEAD (no split)
      if (ws) modeInHead(CharsTok(t, raw, ws = true))
      else {
        stack.remove(stack.length - 1); mode = IN_HEAD
        process(CharsTok(t, raw, ws = false))
      }
    case c: CommentTok => modeInHead(c)
    case st: StartTagTok
        if inHeadNoscriptPass(st.name) =>
      modeInHead(st)
    case st: StartTagTok if st.name == "head" || st.name == "noscript" => // ignore
    case EndTagTok("br", _) =>
      stack.remove(stack.length - 1); mode = IN_HEAD; process(tok)
    case _: EndTagTok => // ignore
    case _ =>
      stack.remove(stack.length - 1); mode = IN_HEAD; process(tok)
  }

  private def modeAfterHead(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // rules.c:617 — flag-gated; non-ws splits (fix_split)
      if (ws) insertChars(t, raw)
      else {
        val (pre, rest) = splitLeadingWs(t)
        if (pre.nonEmpty) insertChars(pre, raw)
        afterHeadAnythingElse()
        if (rest.nonEmpty) process(CharsTok(rest, raw + pre.length, ws = false))
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => st.name match {
      case "html" => modeInBody(st)
      case "body" =>
        insertElement(st); framesetOk = false; mode = IN_BODY
      case "frameset" =>
        insertElement(st); mode = IN_FRAMESET
      case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
           "script" | "style" | "template" | "title" =>
        stack += headNode
        modeInHead(st)
        val i = stackIndexOf(headNode)
        if (i >= 0) stack.remove(i)
      case "head" => // ignore
      case _ => afterHeadAnythingElse(); process(tok)
    }
    case EndTagTok(name, _) => name match {
      case "template" => modeInHead(tok)
      case "body" | "html" | "br" => afterHeadAnythingElse(); process(tok)
      case _ => // ignore
    }
    case EofTok => afterHeadAnythingElse(); process(tok)
  }

  private def afterHeadAnythingElse(): Unit = {
    insertElement(StartTagTok("body", new ArrayBuffer, false, -1))
    mode = IN_BODY
  }

  // ------------------------------------------------------------ IN_BODY

  private def modeInBody(tok: Token): Unit = tok match {
    case CharsTok(t0, raw, ws) =>
      val t = t0.replace("\u0000", "") // NUL dropped in body (rules.c:1160)
      if (t.nonEmpty) {
        reconstructAfe()
        insertChars(t, raw)
        if (!ws) framesetOk = false // flag, not content (rules.c:1170,1178)
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => inBodyStartTag(st)
    case EndTagTok(name, _) => inBodyEndTag(name, tok)
    case EofTok =>
      if (templateModes.nonEmpty) modeInTemplate(tok)
      else stopParsing()
  }

  private def stopParsing(): Unit = {
    done = true
    stack.clear()
  }

  /** Second-html/body attr merge (reference rules.c:1206-1217): a node
    * that still has NO token (implied — our discriminator: rawBegin < 0
    * and no attrs) ADOPTS the incoming token wholesale, duplicate attrs
    * included; a token-bearing node gets per-attr copy-if-absent
    * (token.c attr_copy_with_check — the check consults the DEST, so the
    * second duplicate of a just-copied key is skipped). */
  private def mergeTagAttrs(target: Node, st: StartTagTok): Unit = {
    if (target.rawBegin < 0 && target.attrs == null) {
      if (st.attrs.nonEmpty) {
        val dst = new ArrayBuffer[DomAttr](st.attrs.length)
        st.attrs.foreach(a => dst += DomAttr(a.name, a.value, a.ns))
        target.attrs = dst
      }
      target.rawBegin = st.rawBegin // the node now carries this token
    } else {
      st.attrs.foreach(a => if (!target.hasAttr(a.name)) target.setAttr(a.name, a.value))
    }
  }

  private def inBodyStartTag(st: StartTagTok): Unit = st.name match {
    case "html" =>
      if (!templateOnStack && htmlNode != null)
        mergeTagAttrs(htmlNode, st)
    case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
         "script" | "style" | "template" | "title" =>
      modeInHead(st)
    case "body" =>
      if (stack.length > 1 && stack(1).isElement("body") &&
          !templateOnStack) {
        framesetOk = false
        mergeTagAttrs(stack(1), st)
      }
    case "frameset" =>
      if (framesetOk && stack.length > 1 && stack(1).isElement("body")) {
        val body = stack(1)
        detach(body)
        while (stack.length > 1) stack.remove(stack.length - 1)
        insertElement(st)
        mode = IN_FRAMESET
      }
    case "address" | "article" | "aside" | "blockquote" | "center" | "details" |
         "dialog" | "dir" | "div" | "dl" | "fieldset" | "figcaption" | "figure" |
         "footer" | "header" | "hgroup" | "main" | "nav" | "ol" | "p" |
         "section" | "summary" | "ul" =>
      if (inButtonScope("p")) closePElement()
      insertElement(st)
    case "menu" =>
      // reference keeps the pre-2017 menuitem rule: <menu> pops a current
      // menuitem before inserting (rules.c:1370-1382)
      if (inButtonScope("p")) closePElement()
      if (currentNode != null && currentNode.isElement("menuitem"))
        stack.remove(stack.length - 1)
      insertElement(st)
    case "menuitem" =>
      // reference rules.c:1851-1862: pop a current menuitem, reconstruct
      // AFE, insert (menuitem nests like an <option>, not a container)
      if (currentNode != null && currentNode.isElement("menuitem"))
        stack.remove(stack.length - 1)
      reconstructAfe()
      insertElement(st)
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
      if (inButtonScope("p")) closePElement()
      if (currentNode != null && currentNode.ns == Ns.HTML &&
          Tags.headings.contains(currentNode.name))
        stack.remove(stack.length - 1)
      insertElement(st)
    case "pre" | "listing" =>
      if (inButtonScope("p")) closePElement()
      insertElement(st)
      ignoreNextLf = true
      framesetOk = false
    case "form" =>
      if (formNode != null && !templateOnStack) () // ignore
      else {
        if (inButtonScope("p")) closePElement()
        val n = insertElement(st)
        if (!templateOnStack) formNode = n
      }
    case "li" =>
      framesetOk = false
      var i = stack.length - 1
      var break = false
      while (!break && i >= 0) {
        val node = stack(i)
        if (node.isElement("li")) {
          generateImpliedEnd(except = "li")
          popUntilIncl("li")
          break = true
        } else if (isSpecial(node) && !(node.ns == Ns.HTML &&
            (node.name == "address" || node.name == "div" || node.name == "p")))
          break = true
        else i -= 1
      }
      if (inButtonScope("p")) closePElement()
      insertElement(st)
    case "dd" | "dt" =>
      framesetOk = false
      var i = stack.length - 1
      var break = false
      while (!break && i >= 0) {
        val node = stack(i)
        if (node.isElement("dd") || node.isElement("dt")) {
          generateImpliedEnd(except = node.name)
          popUntilIncl(node.name)
          break = true
        } else if (isSpecial(node) && !(node.ns == Ns.HTML &&
            (node.name == "address" || node.name == "div" || node.name == "p")))
          break = true
        else i -= 1
      }
      if (inButtonScope("p")) closePElement()
      insertElement(st)
    case "plaintext" =>
      if (inButtonScope("p")) closePElement()
      insertElement(st)
      tokenizer.state = ContentModel.PLAINTEXT
    case "button" =>
      if (inScope("button")) {
        generateImpliedEnd()
        popUntilIncl("button")
      }
      reconstructAfe()
      insertElement(st)
      framesetOk = false
    case "a" =>
      if (afeIndexOfName("a") >= 0) {
        adoptionAgency("a")
        // RE-look-up after AAA (reference rules.c MyHTML_TAG_A: a second
        // active_formatting_between_last_marker call): eight AAA
        // iterations re-point the entry at the newest CLONE, so removing
        // the pre-AAA node would miss and leave a stale <a> on the stack
        // — the new anchor must be a SIBLING, never a child
        val i2 = afeIndexOfName("a")
        if (i2 >= 0) {
          val n2 = afe(i2).node
          afe.remove(i2)
          val si = stackIndexOf(n2)
          if (si >= 0) stack.remove(si)
        }
      }
      reconstructAfe()
      val n = insertElement(st)
      afePush(n, st)
    case "b" | "big" | "code" | "em" | "font" | "i" | "s" | "small" | "strike" |
         "strong" | "tt" | "u" =>
      reconstructAfe()
      val n = insertElement(st)
      afePush(n, st)
    case "nobr" =>
      reconstructAfe()
      if (inScope("nobr")) {
        adoptionAgency("nobr")
        reconstructAfe()
      }
      val n = insertElement(st)
      afePush(n, st)
    case "applet" | "marquee" | "object" =>
      reconstructAfe()
      insertElement(st)
      afeMarker()
      framesetOk = false
    case "table" =>
      if (quirks != QuirksMode.Quirks && inButtonScope("p")) closePElement()
      insertElement(st)
      framesetOk = false
      mode = IN_TABLE
    case "area" | "br" | "embed" | "img" | "keygen" | "wbr" =>
      reconstructAfe()
      popIfSame(insertElement(st))
      framesetOk = false
    case "input" =>
      reconstructAfe()
      popIfSame(insertElement(st))
      if (!st.attr("type").exists(_.equalsIgnoreCase("hidden"))) framesetOk = false
    case "param" | "source" | "track" =>
      popIfSame(insertElement(st))
    case "hr" =>
      if (inButtonScope("p")) closePElement()
      // reference rules.c:1729: <hr> also pops a current menuitem
      if (currentNode != null && currentNode.isElement("menuitem"))
        stack.remove(stack.length - 1)
      popIfSame(insertElement(st))
      framesetOk = false
    case "image" =>
      // image -> img is a REPROCESS request (rules.c:1739-1746 return true).
      // The in_table foster blocks call in_body directly and DISCARD that
      // request (rules.c:2057,2087,2189,2228,2273) — so a fostered <image>
      // inserts nothing at all. fosterParenting is set exactly in those
      // windows, making it the faithful suppress signal.
      if (!fosterParenting)
        inBodyStartTag(StartTagTok("img", st.attrs, st.selfClosing, st.rawBegin))
    case "textarea" =>
      insertElement(st)
      ignoreNextLf = true
      tokenizer.state = ContentModel.RCDATA
      originalMode = mode
      framesetOk = false
      mode = TEXT
    case "xmp" =>
      if (inButtonScope("p")) closePElement()
      reconstructAfe()
      framesetOk = false
      genericRawText(st, ContentModel.RAWTEXT)
    case "iframe" =>
      framesetOk = false
      genericRawText(st, ContentModel.RAWTEXT)
    case "noembed" =>
      genericRawText(st, ContentModel.RAWTEXT)
    case "noscript" if scripting =>
      genericRawText(st, ContentModel.RAWTEXT)
    case "select" =>
      reconstructAfe()
      insertElement(st)
      framesetOk = false
      mode =
        if (mode == IN_TABLE || mode == IN_CAPTION || mode == IN_TABLE_BODY ||
            mode == IN_ROW || mode == IN_CELL) IN_SELECT_IN_TABLE
        else IN_SELECT
    case "optgroup" | "option" =>
      if (currentNode != null && currentNode.isElement("option"))
        stack.remove(stack.length - 1)
      reconstructAfe()
      insertElement(st)
    case "rb" | "rtc" =>
      if (inScope("ruby")) generateImpliedEnd()
      insertElement(st)
    case "rp" | "rt" =>
      if (inScope("ruby")) generateImpliedEnd(except = "rtc")
      insertElement(st)
    case "math" =>
      reconstructAfe()
      adjustMathMlAttrs(st)
      adjustForeignAttrs(st)
      val mn = insertForeign(st, Ns.MathML)
      if (st.selfClosing) popIfSame(mn)
    case "svg" =>
      reconstructAfe()
      adjustSvgAttrs(st)
      adjustForeignAttrs(st)
      val sn = insertForeign(st, Ns.SVG)
      if (st.selfClosing) popIfSame(sn)
    case "caption" | "col" | "colgroup" | "frame" | "head" | "tbody" | "td" |
         "tfoot" | "th" | "thead" | "tr" =>
    // ignore
    case _ =>
      reconstructAfe()
      insertElement(st)
  }

  private def inBodyEndTag(name: String, tok: Token): Unit = name match {
    case "template" => modeInHead(tok)
    case "body" =>
      if (inScope("body")) mode = AFTER_BODY
    case "html" =>
      // mode switch sticks, but the reprocess request (rules.c:828) is
      // discarded when called from a foster block — see "image" above
      if (inScope("body")) { mode = AFTER_BODY; if (!fosterParenting) process(tok) }
    case "address" | "article" | "aside" | "blockquote" | "button" | "center" |
         "details" | "dialog" | "dir" | "div" | "dl" | "fieldset" | "figcaption" |
         "figure" | "footer" | "header" | "hgroup" | "listing" | "main" | "menu" |
         "nav" | "ol" | "pre" | "section" | "summary" | "ul" =>
      if (inScope(name)) {
        generateImpliedEnd()
        popUntilIncl(name)
      }
    case "form" =>
      if (!templateOnStack) {
        val node = formNode
        formNode = null
        if (node != null && inScope("form")) {
          generateImpliedEnd()
          val i = stackIndexOf(node)
          if (i >= 0) stack.remove(i)
        }
      } else if (inScope("form")) {
        generateImpliedEnd()
        popUntilIncl("form")
      }
    case "p" =>
      if (!inButtonScope("p"))
        insertElement(StartTagTok("p", new ArrayBuffer, false, -1))
      closePElement()
    case "li" =>
      if (inListItemScope("li")) {
        generateImpliedEnd(except = "li")
        popUntilIncl("li")
      }
    case "dd" | "dt" =>
      if (inScope(name)) {
        generateImpliedEnd(except = name)
        popUntilIncl(name)
      }
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
      if (anyHeadingInScope) {
        generateImpliedEnd()
        popUntilOneOfIncl(Tags.headings)
      }
    case "a" | "b" | "big" | "code" | "em" | "font" | "i" | "nobr" | "s" |
         "small" | "strike" | "strong" | "tt" | "u" =>
      adoptionAgency(name)
    case "applet" | "marquee" | "object" =>
      if (inScope(name)) {
        generateImpliedEnd()
        popUntilIncl(name)
        afeClearToMarker()
      }
    case "br" =>
      inBodyStartTag(StartTagTok("br", new ArrayBuffer, false, -1))
    case _ =>
      anyOtherEndTag(name)
  }

  // --------------------------------------------------------------- TEXT

  private def modeText(tok: Token): Unit = tok match {
    case CharsTok(t, raw, _) => insertChars(t, raw)
    case EofTok =>
      stack.remove(stack.length - 1)
      mode = originalMode
      process(tok)
    case _: EndTagTok =>
      stack.remove(stack.length - 1)
      mode = originalMode
    case _ =>
  }

  // ------------------------------------------------------------ tables

  private def modeInTable(tok: Token): Unit = tok match {
    case _: CharsTok
        if currentNode != null && currentNode.ns == Ns.HTML &&
          tableTextTags(currentNode.name) =>
      pendingTableChars.setLength(0)
      pendingHasNonWs = false
      pendingTableRaw = -1
      originalMode = mode
      mode = IN_TABLE_TEXT
      process(tok)
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => st.name match {
      case "caption" =>
        clearStackToTableContext()
        afeMarker()
        insertElement(st)
        mode = IN_CAPTION
      case "colgroup" =>
        clearStackToTableContext()
        insertElement(st)
        mode = IN_COLUMN_GROUP
      case "col" =>
        clearStackToTableContext()
        insertElement(StartTagTok("colgroup", new ArrayBuffer, false, -1))
        mode = IN_COLUMN_GROUP
        process(st)
      case "tbody" | "tfoot" | "thead" =>
        clearStackToTableContext()
        insertElement(st)
        mode = IN_TABLE_BODY
      case "td" | "th" | "tr" =>
        clearStackToTableContext()
        insertElement(StartTagTok("tbody", new ArrayBuffer, false, -1))
        mode = IN_TABLE_BODY
        process(st)
      case "table" =>
        if (inTableScope("table")) {
          popUntilIncl("table")
          resetInsertionMode()
          process(st)
        }
      case "style" | "script" | "template" => modeInHead(st)
      case "input" if st.attr("type").exists(_.equalsIgnoreCase("hidden")) =>
        popIfSame(insertElement(st))
      case "form" =>
        if (!templateOnStack && formNode == null) {
          val fnode = insertElement(st)
          popIfSame(fnode)
          formNode = fnode
        }
      case _ => inTableAnythingElse(tok)
    }
    case EndTagTok(name, _) => name match {
      case "table" =>
        if (inTableScope("table")) {
          popUntilIncl("table")
          resetInsertionMode()
        }
      case "template" => modeInHead(tok)
      case "body" | "caption" | "col" | "colgroup" | "html" | "tbody" | "td" |
           "tfoot" | "th" | "thead" | "tr" => // ignore
      case _ => inTableAnythingElse(tok)
    }
    case EofTok => modeInBody(tok)
    case _ => inTableAnythingElse(tok)
  }

  /** Foster-parented fallthrough (reference rules.c in_table anything-else
    * + tree.c:1895 foster flag). */
  private def inTableAnythingElse(tok: Token): Unit = {
    fosterParenting = true
    modeInBody(tok)
    fosterParenting = false
  }

  private def modeInTableText(tok: Token): Unit = tok match {
    case CharsTok(t0, raw, ws) =>
      val t = t0.replace("\u0000", "") // NUL dropped (rules.c in_table_text)
      if (t.nonEmpty) {
        if (pendingTableRaw < 0) pendingTableRaw = raw
        pendingTableChars.append(t)
        // the foster decision is by token FLAG, not content (rules.c:2261)
        if (!ws) pendingHasNonWs = true
      }
    case _ =>
      val s = pendingTableChars.toString
      if (s.nonEmpty) {
        if (pendingHasNonWs)
          inTableAnythingElse(CharsTok(s, pendingTableRaw, ws = false))
        else insertChars(s, pendingTableRaw)
      }
      pendingTableChars.setLength(0)
      mode = originalMode
      process(tok)
  }

  private def modeInCaption(tok: Token): Unit = tok match {
    case EndTagTok("caption", _) => closeCaption()
    case st: StartTagTok
        if captionInterrupt(st.name) =>
      if (closeCaption()) process(tok)
    case EndTagTok("table", _) =>
      if (closeCaption()) process(tok)
    case EndTagTok(n, _)
        if captionIgnoreEnd(n) => // ignore
    case _ => modeInBody(tok)
  }

  private def closeCaption(): Boolean = {
    if (!inTableScope("caption")) return false
    generateImpliedEnd()
    popUntilIncl("caption")
    afeClearToMarker()
    mode = IN_TABLE
    true
  }

  private def modeInColumnGroup(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // rules.c:2458 — flag-gated; non-ws splits (fix_split)
      if (ws) insertChars(t, raw)
      else {
        val (pre, rest) = splitLeadingWs(t)
        if (pre.nonEmpty) insertChars(pre, raw)
        inColumnGroupAnythingElse(CharsTok(rest, raw + pre.length, ws = false))
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => st.name match {
      case "html" => modeInBody(st)
      case "col" =>
        popIfSame(insertElement(st))
      case "template" => modeInHead(st)
      case _ => inColumnGroupAnythingElse(tok)
    }
    case EndTagTok(name, _) => name match {
      case "colgroup" =>
        if (currentNode != null && currentNode.isElement("colgroup")) {
          stack.remove(stack.length - 1)
          mode = IN_TABLE
        }
      case "col" => // ignore
      case "template" => modeInHead(tok)
      case _ => inColumnGroupAnythingElse(tok)
    }
    case EofTok => modeInBody(tok)
  }

  private def inColumnGroupAnythingElse(tok: Token): Unit = {
    if (currentNode != null && currentNode.isElement("colgroup")) {
      stack.remove(stack.length - 1)
      mode = IN_TABLE
      process(tok)
    }
  }

  private def modeInTableBody(tok: Token): Unit = tok match {
    case st: StartTagTok => st.name match {
      case "tr" =>
        clearStackToTableBodyContext()
        insertElement(st)
        mode = IN_ROW
      case "th" | "td" =>
        clearStackToTableBodyContext()
        insertElement(StartTagTok("tr", new ArrayBuffer, false, -1))
        mode = IN_ROW
        process(st)
      case "caption" | "col" | "colgroup" | "tbody" | "tfoot" | "thead" =>
        if (inTableScope("tbody") || inTableScope("thead") || inTableScope("tfoot")) {
          clearStackToTableBodyContext()
          stack.remove(stack.length - 1)
          mode = IN_TABLE
          process(st)
        }
      case _ => modeInTable(tok)
    }
    case EndTagTok(name, _) => name match {
      case "tbody" | "tfoot" | "thead" =>
        if (inTableScope(name)) {
          clearStackToTableBodyContext()
          stack.remove(stack.length - 1)
          mode = IN_TABLE
        }
      case "table" =>
        if (inTableScope("tbody") || inTableScope("thead") || inTableScope("tfoot")) {
          clearStackToTableBodyContext()
          stack.remove(stack.length - 1)
          mode = IN_TABLE
          process(tok)
        }
      case "body" | "caption" | "col" | "colgroup" | "html" | "td" | "th" |
           "tr" => // ignore
      case _ => modeInTable(tok)
    }
    case _ => modeInTable(tok)
  }

  private def modeInRow(tok: Token): Unit = tok match {
    case st: StartTagTok => st.name match {
      case "th" | "td" =>
        clearStackToTableRowContext()
        insertElement(st)
        mode = IN_CELL
        afeMarker()
      case "caption" | "col" | "colgroup" | "tbody" | "tfoot" | "thead" | "tr" =>
        if (closeRow()) process(st)
      case _ => modeInTable(tok)
    }
    case EndTagTok(name, _) => name match {
      case "tr" => closeRow()
      case "table" =>
        if (closeRow()) process(tok)
      case "tbody" | "tfoot" | "thead" =>
        if (inTableScope(name) && closeRow()) process(tok)
      case "body" | "caption" | "col" | "colgroup" | "html" | "td" | "th" => // ignore
      case _ => modeInTable(tok)
    }
    case _ => modeInTable(tok)
  }

  private def closeRow(): Boolean = {
    if (!inTableScope("tr")) return false
    clearStackToTableRowContext()
    stack.remove(stack.length - 1)
    mode = IN_TABLE_BODY
    true
  }

  private def modeInCell(tok: Token): Unit = tok match {
    case EndTagTok(name, _) if name == "td" || name == "th" =>
      if (inTableScope(name)) {
        generateImpliedEnd()
        popUntilIncl(name)
        afeClearToMarker()
        mode = IN_ROW
      }
    case st: StartTagTok
        if captionInterrupt(st.name) =>
      if (inTableScope("td") || inTableScope("th")) {
        closeCell()
        process(st)
      }
    case EndTagTok(name, _)
        if cellIgnoreEnd(name) => // ignore
    case EndTagTok(name, _)
        if cellCloseEnd(name) =>
      if (inTableScope(name)) {
        closeCell()
        process(tok)
      }
    case _ => modeInBody(tok)
  }

  private def closeCell(): Unit = {
    generateImpliedEnd()
    if (inTableScope("td")) popUntilIncl("td") else popUntilIncl("th")
    afeClearToMarker()
    mode = IN_ROW
  }

  // ------------------------------------------------------------- select

  private def modeInSelect(tok: Token): Unit = tok match {
    case CharsTok(t0, raw, _) =>
      val t = t0.replace("\u0000", "")
      if (t.nonEmpty) insertChars(t, raw)
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => st.name match {
      case "html" => modeInBody(st)
      case "option" =>
        if (currentNode != null && currentNode.isElement("option"))
          stack.remove(stack.length - 1)
        insertElement(st)
      case "optgroup" =>
        if (currentNode != null && currentNode.isElement("option"))
          stack.remove(stack.length - 1)
        if (currentNode != null && currentNode.isElement("optgroup"))
          stack.remove(stack.length - 1)
        insertElement(st)
      case "select" =>
        if (inSelectScope("select")) {
          popUntilIncl("select")
          resetInsertionMode()
        }
      case "input" | "keygen" | "textarea" =>
        if (inSelectScope("select")) {
          popUntilIncl("select")
          resetInsertionMode()
          process(st)
        }
      case "script" | "template" => modeInHead(st)
      case _ => // ignore
    }
    case EndTagTok(name, _) => name match {
      case "optgroup" =>
        if (currentNode != null && currentNode.isElement("option") &&
            stack.length >= 2 && stack(stack.length - 2).isElement("optgroup"))
          stack.remove(stack.length - 1)
        if (currentNode != null && currentNode.isElement("optgroup"))
          stack.remove(stack.length - 1)
      case "option" =>
        if (currentNode != null && currentNode.isElement("option"))
          stack.remove(stack.length - 1)
      case "select" =>
        if (inSelectScope("select")) {
          popUntilIncl("select")
          resetInsertionMode()
        }
      case "template" => modeInHead(tok)
      case _ => // ignore
    }
    case EofTok => modeInBody(tok)
  }

  private def modeInSelectInTable(tok: Token): Unit = tok match {
    case st: StartTagTok
        if selectTableTags(st.name) =>
      popUntilIncl("select")
      resetInsertionMode()
      process(st)
    case EndTagTok(name, _)
        if selectTableTags(name) =>
      if (inTableScope(name)) {
        popUntilIncl("select")
        resetInsertionMode()
        process(tok)
      }
    case _ => modeInSelect(tok)
  }

  // ----------------------------------------------------------- template

  private def modeInTemplate(tok: Token): Unit = tok match {
    case _: CharsTok | _: CommentTok | _: DoctypeTok => modeInBody(tok)
    case st: StartTagTok => st.name match {
      case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
           "script" | "style" | "template" | "title" =>
        modeInHead(st)
      case "caption" | "colgroup" | "tbody" | "tfoot" | "thead" =>
        switchTemplateMode(IN_TABLE); process(st)
      case "col" => switchTemplateMode(IN_COLUMN_GROUP); process(st)
      case "tr" => switchTemplateMode(IN_TABLE_BODY); process(st)
      case "td" | "th" => switchTemplateMode(IN_ROW); process(st)
      case _ => switchTemplateMode(IN_BODY); process(st)
    }
    case EndTagTok(name, _) =>
      if (name == "template") modeInHead(tok) // else ignore
    case EofTok =>
      if (!templateOnStack) stopParsing()
      else {
        popUntilIncl("template")
        afeClearToMarker()
        if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
        resetInsertionMode()
        process(tok)
      }
  }

  private def switchTemplateMode(m: Int): Unit = {
    if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
    templateModes += m
    mode = m
  }

  // ---------------------------------------------------------- after body

  private def modeAfterBody(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // rules.c:3295 — ws-flagged via in_body; otherwise back to IN_BODY
      // and reprocess the WHOLE token (no split)
      if (ws) modeInBody(CharsTok(t, raw, ws = true))
      else { mode = IN_BODY; process(CharsTok(t, raw, ws = false)) }
    case c: CommentTok =>
      if (htmlNode != null) insertComment(c, htmlNode)
    case _: DoctypeTok =>
    case st: StartTagTok if st.name == "html" => modeInBody(st)
    case EndTagTok("html", _) =>
      if (fragmentContext == null) mode = AFTER_AFTER_BODY
    case EofTok => stopParsing()
    case _ =>
      mode = IN_BODY
      process(tok)
  }

  private def modeInFrameset(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // rules.c:3392 — ws-flagged: insert WHOLE token (even non-ws chars
      // the data scanner never saw, e.g. an absorbed "</>"); otherwise
      // keep only the whitespace CHARS (stay_only_whitespace)
      if (ws) insertChars(t, raw)
      else {
        val kept = t.filter(TextPrep.isWhitespace)
        if (kept.nonEmpty) insertChars(kept, raw)
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok => st.name match {
      case "html" => modeInBody(st)
      case "frameset" => insertElement(st)
      case "frame" =>
        popIfSame(insertElement(st))
      case "noframes" => modeInHead(st)
      case _ => // ignore
    }
    case EndTagTok("frameset", _) =>
      if (!(currentNode != null && currentNode.isElement("html"))) {
        stack.remove(stack.length - 1)
        if (fragmentContext == null &&
            !(currentNode != null && currentNode.isElement("frameset")))
          mode = AFTER_FRAMESET
      }
    case EofTok => stopParsing()
    case _ => // ignore
  }

  private def modeAfterFrameset(tok: Token): Unit = tok match {
    case CharsTok(t, raw, ws) =>
      // rules.c:3484 — same shape as in_frameset
      if (ws) insertChars(t, raw)
      else {
        val kept = t.filter(TextPrep.isWhitespace)
        if (kept.nonEmpty) insertChars(kept, raw)
      }
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok if st.name == "html" => modeInBody(st)
    case st: StartTagTok if st.name == "noframes" => modeInHead(st)
    case EndTagTok("html", _) => mode = AFTER_AFTER_FRAMESET
    case EofTok => stopParsing()
    case _ => // ignore
  }

  private def modeAfterAfterBody(tok: Token): Unit = tok match {
    case c: CommentTok => insertComment(c, doc)
    case _: DoctypeTok => modeInBody(tok)
    case CharsTok(t, raw, ws) =>
      // rules.c:3560 — ws-flagged via in_body; else IN_BODY + reprocess
      if (ws) modeInBody(CharsTok(t, raw, ws = true))
      else { mode = IN_BODY; process(CharsTok(t, raw, ws = false)) }
    case st: StartTagTok if st.name == "html" => modeInBody(st)
    case EofTok => stopParsing()
    case _ =>
      mode = IN_BODY
      process(tok)
  }

  private def modeAfterAfterFrameset(tok: Token): Unit = tok match {
    case c: CommentTok => insertComment(c, doc)
    case _: DoctypeTok => modeInBody(tok)
    case CharsTok(t, raw, ws) =>
      // rules.c:3611 — ws-flagged: whole token via in_body; otherwise the
      // leading-ws PREFIX goes to in_body and the remainder is ignored
      if (ws) modeInBody(CharsTok(t, raw, ws = true))
      else {
        val (pre, _) = splitLeadingWs(t)
        if (pre.nonEmpty) modeInBody(CharsTok(pre, raw, ws = true))
      }
    case st: StartTagTok if st.name == "html" => modeInBody(st)
    case st: StartTagTok if st.name == "noframes" => modeInHead(st)
    case EofTok => stopParsing()
    case _ => // ignore
  }

  // ---------------------------------------------------- foreign content

  /** Pop to an HTML node / integration point, then reprocess
    * (reference rules.c:3652 breakout handling). */
  private def foreignBreakout(tok: Token): Unit = {
    // spec: pop AT LEAST one element, then keep popping until the current
    // node is a text/HTML integration point or an HTML element — the
    // unconditional first pop prevents a reprocess loop when the current
    // node is itself an integration point
    if (stack.nonEmpty && currentNode.ns != Ns.HTML)
      stack.remove(stack.length - 1)
    while (stack.nonEmpty && !{
      val n = currentNode
      n.ns == Ns.HTML || isHtmlIntegrationPoint(n) ||
        (n.ns == Ns.MathML && Tags.scopeBaseMathML.contains(n.name) &&
          n.name != "annotation-xml")
    }) stack.remove(stack.length - 1)
    process(tok)
  }

  private def adjustMathMlAttrs(st: StartTagTok): Unit =
    st.attrs.foreach { a =>
      Tags.mathmlAttrAdjust.get(a.name).foreach(n => a.name = n)
    }

  private def adjustSvgAttrs(st: StartTagTok): Unit =
    st.attrs.foreach { a =>
      Tags.svgAttrAdjust.get(a.name).foreach(n => a.name = n)
    }

  /** WHATWG "adjust foreign attributes": xlink:/xml:/xmlns: attributes
    * keep their prefixed NAMES (serialization emits the prefix from the
    * name, matching the reference) and additionally record the attribute
    * namespace id (reference stores myhtml ns ids on the token attr). */
  private def adjustForeignAttrs(st: StartTagTok): Unit =
    st.attrs.foreach { a =>
      if (a.name.startsWith("xlink:")) a.ns = Ns.XLink
      else if (a.name.startsWith("xml:")) a.ns = Ns.XML
      else if (a.name == "xmlns" || a.name.startsWith("xmlns:")) a.ns = Ns.XMLNS
    }

  private def insertForeign(st: StartTagTok, ns: Int): Node = {
    val n = createElement(st, ns)
    appropriatePlace()
    insertAtPlace(n)
    pushOpen(n)
    n
  }

  /** Foreign content rules (reference rules.c:3652-3847). */
  private def processForeign(tok: Token): Unit = tok match {
    case CharsTok(t0, raw, ws) =>
      val t = t0.replace('\u0000', '�') // NUL -> U+FFFD here (rules.c:3740)
      insertChars(t, raw)
      if (!ws) framesetOk = false // flag, not content (rules.c:3748)
    case c: CommentTok => insertComment(c)
    case _: DoctypeTok =>
    case st: StartTagTok
        if (breakoutTags.contains(st.name) ||
          (st.name == "font" && st.attrs.exists(a =>
            a.name == "color" || a.name == "face" || a.name == "size"))) &&
          fragmentContext == null =>
      // breakout popping is for DOCUMENT parses only — in a fragment the
      // reference falls through to the foreign-insert path unconditionally
      // (rules.c:3826 `if(tree->fragment == NULL)`; without the guard a
      // breakout tag at the fragment root reprocesses forever)
      foreignBreakout(tok)
    // NOTE: current WHATWG breaks out on </br> and </p> too; the reference
    // routes ALL end tags through end_other (rules.c:3720-3733) — e.g.
    // "<math></p>" nests the implied <p> INSIDE math. We match the reference.
    case st: StartTagTok =>
      val acnNs = adjustedCurrentNode.ns
      if (acnNs == Ns.SVG) {
        st.name = Tags.svgTagAdjust.getOrElse(st.name, st.name)
        adjustSvgAttrs(st)
      } else if (acnNs == Ns.MathML) adjustMathMlAttrs(st)
      adjustForeignAttrs(st)
      val fn = insertForeign(st, acnNs)
      if (st.selfClosing) popIfSame(fn)
    case EndTagTok(name, _) =>
      if (name == "script" && currentNode != null && currentNode.ns == Ns.SVG &&
          currentNode.name == "script") {
        stack.remove(stack.length - 1)
      } else {
        // exact end_other walk (rules.c:3676-3705 in_foreign_content_end_
        // other): the loop NEVER examines stack index 0 — `while (i)` —
        // so the fragment root can't be popped by a matching end tag
        // ("</html>" in a desc fragment is ignored by in_body instead of
        // emptying the stack), and EVERY no-match exit routes the token
        // to the current insertion mode. Name equality = the reference's
        // tag_id comparison (both sides tokenizer-canonicalized).
        var i = stack.length - 1
        var matched = false
        var toMode = false
        while (i > 0 && !matched && !toMode) {
          if (stack(i).name == name) {
            while (stack.length > i) stack.remove(stack.length - 1)
            matched = true
          } else {
            i -= 1
            if (stack(i).ns == Ns.HTML) toMode = true
          }
        }
        if (!matched) processMode(mode, tok)
      }
    case EofTok => processMode(mode, tok)
  }
}

/** The builder's constant tables, built once per JVM: per-document
  * instances would rebuild them for every row. */
private object TreeBuilder {
  // guard sets of the insertion modes
  private val inHeadNoscriptPass = Set("basefont", "bgsound", "link", "meta", "noframes", "style")
  private val tableTextTags = Set("table", "tbody", "tfoot", "thead", "tr")
  private val captionInterrupt = Set("caption", "col", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr")
  private val captionIgnoreEnd = Set("body", "col", "colgroup", "html", "tbody", "td", "tfoot", "th", "thead", "tr")
  private val cellIgnoreEnd = Set("body", "caption", "col", "colgroup", "html")
  private val cellCloseEnd = Set("table", "tbody", "tfoot", "thead", "tr")
  private val selectTableTags = Set("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th")

  // quirks-mode public-id prefixes (reference rules.c:85-139; spec tables)
  private val quirksPublicPrefixes: Array[String] = Array(
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//", "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//", "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//", "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//", "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//", "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//", "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//", "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//", "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//", "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//", "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//", "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//", "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//", "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//", "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//", "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//"
  )

  // foreign-content breakout start tags
  private val breakoutTags: Set[String] = Set(
    "b", "big", "blockquote", "body", "br", "center", "code", "dd", "div",
    "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "hr", "i", "img", "li", "listing", "menu", "meta", "nobr", "ol", "p",
    "pre", "ruby", "s", "small", "span", "strong", "strike", "sub", "sup",
    "table", "tt", "u", "ul", "var"
  )
}

/** Parser facade (reference entry: myhtml_parse, source/myhtml/myhtml.c:225-238;
  * fragment variant myhtml.c:240-262). */
object HtmlParser {

  /** Tokenizer-only fast path — the reference's
    * WITHOUT_BUILD_TREE / SKIP_WHITESPACE_TOKEN parse flags
    * (source/myhtml/myosi.h:55-62, whitespace drop myhtml.c:1526-1534)
    * and the token-callback surface (examples/callback.pl). */
  def tokenize(html: String,
               skipWhitespaceTokens: Boolean = false,
               initialModel: Int = ContentModel.DATA,
               lastStartTag: String = null): Seq[Token] = {
    val out = scala.collection.mutable.ListBuffer.empty[Token]
    val sink = new TokenSink {
      def process(t: Token): Unit = t match {
        // the parse flag drops tokens by the reference WHITESPACE flag
        // (myhtml.c:1526-1534 checks type, not content)
        case CharsTok(_, _, true) if skipWhitespaceTokens =>
        case other => out += other
      }
    }
    val tk = new Tokenizer(html, sink)
    tk.state = initialModel
    if (lastStartTag != null) tk.lastStartTag = lastStartTag
    tk.run()
    out.toSeq
  }

  /** Streaming token callbacks without materializing the list —
    * reference callback_before_token_done_set (api.h:2388-2482). */
  def tokenizeWith(html: String)(onToken: Token => Unit): Unit = {
    val tk = new Tokenizer(html, new TokenSink {
      def process(t: Token): Unit = onToken(t)
    })
    tk.run()
  }
  /** Full-document parse → Document node.
    *
    * `arena` (optional) recycles node objects per document — ONLY for
    * parse→read→discard lifecycles (the extraction kernel): the
    * returned tree is invalidated by the arena's next releaseAll(). */
  def parse(html: String, scripting: Boolean = false,
            arena: NodeArena = null): Node = {
    val builder = new TreeBuilder(scripting, arena)
    val tokenizer = new Tokenizer(html, builder)
    tokenizer.scripting = scripting
    builder.tokenizer = tokenizer
    tokenizer.run()
    builder.doc
  }

  /** Parse with node-level tree-mutation callbacks (reference
    * myhtml_callback_tree_node_insert_set / _remove_set,
    * api.h:2420-2482 + callback.c; Perl surface MyHTML.xs:325-401).
    * `onInsert` fires on every attach (including re-attach after an
    * adoption-agency or foster move), `onRemove` on every detach. */
  def parseWithNodeCallbacks(html: String, onInsert: Node => Unit,
                             onRemove: Node => Unit,
                             scripting: Boolean = false): Node = {
    val builder = new TreeBuilder(scripting)
    builder.onNodeInsert = onInsert
    builder.onNodeRemove = onRemove
    val tokenizer = new Tokenizer(html, builder)
    tokenizer.scripting = scripting
    builder.tokenizer = tokenizer
    tokenizer.run()
    builder.doc
  }

  def parseWithQuirks(html: String, scripting: Boolean = false,
                      arena: NodeArena = null): (Node, Int) = {
    val builder = new TreeBuilder(scripting, arena)
    val tokenizer = new Tokenizer(html, builder)
    tokenizer.scripting = scripting
    builder.tokenizer = tokenizer
    tokenizer.run()
    (builder.doc, builder.quirks)
  }

  /** Fragment parsing with a context element (reference myhtml.c:240-262,
    * tokenizer fragment init tokenizer.c:204-244). Returns the synthetic
    * html root whose children are the parsed fragment. */
  def parseFragment(html: String, contextTag: String = "div",
                    contextNs: Int = Ns.HTML, scripting: Boolean = false,
                    arena: NodeArena = null): Node = {
    val builder = new TreeBuilder(scripting, arena)
    val ctx = builder.allocElement(contextTag, contextNs)
    builder.fragmentContext = ctx
    val tokenizer = new Tokenizer(html, builder)
    builder.tokenizer = tokenizer
    // context determines the initial content model (spec fragment step 4)
    if (contextNs == Ns.HTML) contextTag match {
      case "title" | "textarea" => tokenizer.state = ContentModel.RCDATA
      case "style" | "xmp" | "iframe" | "noembed" | "noframes" =>
        tokenizer.state = ContentModel.RAWTEXT
      case "noscript" => if (scripting) tokenizer.state = ContentModel.RAWTEXT
      case "script" => tokenizer.state = ContentModel.SCRIPT
      case "plaintext" => tokenizer.state = ContentModel.PLAINTEXT
      case _ =>
    }
    tokenizer.lastStartTag = contextTag
    val root = builder.allocElement("html")
    builder.doc.appendChild(root)
    builder.stack += root
    builder.htmlNode = root
    builder.mode = Mode.BEFORE_HEAD
    // spec fragment step 4.2 / reference fragment init: a template
    // context seeds the template insertion mode stack, so in_template
    // drives the fragment's children (td in a template fragment builds
    // a cell, not foster text — binary-verified, corpus docs15)
    if (contextNs == Ns.HTML && contextTag == "template")
      builder.pushTemplateMode(Mode.IN_TEMPLATE)
    builder.resetInsertionMode()
    tokenizer.run()
    root
  }
}
