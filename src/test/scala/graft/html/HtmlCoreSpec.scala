package graft.html

import org.scalatest.funsuite.AnyFunSuite

/** Tree-builder golden fixtures in html5lib `.dat` dump style
  * (FIXTURES.md §4) — each pair is (input html, expected dump). */
class TreeBuilderSpec extends AnyFunSuite {

  private def check(html: String, expected: String): Unit = {
    val doc = HtmlParser.parse(html)
    assert(Serializer.dump(doc).stripTrailing == expected.stripTrailing,
      s"\ninput: $html\ngot:\n${Serializer.dump(doc)}")
  }

  test("implied html/head/body around bare text") {
    check("Hello",
      """| <html>
        #|   <head>
        #|   <body>
        #|     "Hello"""".stripMargin('#'))
  }

  test("basic document") {
    check("<html><head><title>T</title></head><body><h1>Hi</h1><p>Para</p></body></html>",
      """| <html>
        #|   <head>
        #|     <title>
        #|       "T"
        #|   <body>
        #|     <h1>
        #|       "Hi"
        #|     <p>
        #|       "Para"""".stripMargin('#'))
  }

  test("adoption agency: <b>...<i>...</b>...</i> misnesting (tree.c:1611)") {
    check("<p>1<b>2<i>3</b>4</i>5</p>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <p>
        #|       "1"
        #|       <b>
        #|         "2"
        #|         <i>
        #|           "3"
        #|       <i>
        #|         "4"
        #|       "5"""".stripMargin('#'))
  }

  test("adoption agency: <a><div><a> re-homing") {
    check("<a>1<div>2<a>3</a></div></a>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <a>
        #|       "1"
        #|     <div>
        #|       <a>
        #|         "2"
        #|       <a>
        #|         "3"""".stripMargin('#'))
  }

  test("foster parenting: text leaks out of <table> (tree.c:1895)") {
    check("<table>foo<td>x</td></table>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     "foo"
        #|     <table>
        #|       <tbody>
        #|         <tr>
        #|           <td>
        #|             "x"""".stripMargin('#'))
  }

  test("table with implied tbody + rows") {
    check("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <table>
        #|       <tbody>
        #|         <tr>
        #|           <td>
        #|             "a"
        #|           <td>
        #|             "b"
        #|         <tr>
        #|           <td>
        #|             "c"""".stripMargin('#'))
  }

  test("Noah's Ark: 4th identical <b> evicted from AFE (tree.c:1463)") {
    check("<p><b><b><b><b>x</p><p>y</p>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <p>
        #|       <b>
        #|         <b>
        #|           <b>
        #|             <b>
        #|               "x"
        #|     <p>
        #|       <b>
        #|         <b>
        #|           <b>
        #|             "y"""".stripMargin('#'))
  }

  test("implied end tags: li/p/dd (tree.c:1068)") {
    check("<ul><li>a<li>b</ul><p>c<p>d<dl><dd>e<dd>f</dl>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <ul>
        #|       <li>
        #|         "a"
        #|       <li>
        #|         "b"
        #|     <p>
        #|       "c"
        #|     <p>
        #|       "d"
        #|     <dl>
        #|       <dd>
        #|         "e"
        #|       <dd>
        #|         "f"""".stripMargin('#'))
  }

  test("RCDATA: title keeps markup as text (tag_init.c:1098)") {
    check("<title>a<b>c</title><body>x",
      """| <html>
        #|   <head>
        #|     <title>
        #|       "a<b>c"
        #|   <body>
        #|     "x"""".stripMargin('#'))
  }

  test("RAWTEXT: style content not parsed, no charref decode") {
    check("<style>a &amp; <div></style><p>b</p>",
      """| <html>
        #|   <head>
        #|     <style>
        #|       "a &amp; <div>"
        #|   <body>
        #|     <p>
        #|       "b"""".stripMargin('#'))
  }

  test("script data escaped: <!-- --> does not end script (tokenizer_script.c)") {
    check("""<script><!-- var a = "</x>"; --></script><p>k</p>""",
      """| <html>
        #|   <head>
        #|     <script>
        #|       "<!-- var a = "</x>"; -->"
        #|   <body>
        #|     <p>
        #|       "k"""".stripMargin('#'))
  }

  test("script data double-escaped: inner <script> swallows </script>") {
    check("<script><!--<script></script>--></script>after",
      """| <html>
        #|   <head>
        #|     <script>
        #|       "<!--<script></script>-->"
        #|   <body>
        #|     "after"""".stripMargin('#'))
  }

  test("pre first-newline suppression (rules.c:3854)") {
    check("<pre>\nfoo</pre><pre>\n\nbar</pre>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <pre>
        #|       "foo"
        #|     <pre>
        #|       "
        #bar"""".stripMargin('#'))
  }

  test("comments in tree + bogus comment from <?") {
    check("<!--top--><p>a<!-- mid -->b</p><?php x?>",
      """| <!-- top -->
        #| <html>
        #|   <head>
        #|   <body>
        #|     <p>
        #|       "a"
        #|       <!--  mid  -->
        #|       "b"
        #|     <!-- ?php x? -->""".stripMargin('#'))
  }

  test("void elements don't nest") {
    check("""<p>a<br>b<img src="u">c<hr>d</p>""",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <p>
        #|       "a"
        #|       <br>
        #|       "b"
        #|       <img>
        #|         src="u"
        #|       "c"
        #|     <hr>
        #|     "d"
        #|     <p>""".stripMargin('#'))
  }

  test("attributes: case, duplicate chain kept (reference model), unquoted, entities") {
    val doc = HtmlParser.parse(
      """<div ID=a id=b data-x=1&amp;2 title="&copy; ok" href=x&copy=2></div>""")
    val div = doc.descendants.find(_.isElement("div")).get
    // the reference keeps duplicate attrs verbatim on the chain;
    // attr-by-name returns the FIRST match (binary-probed round 2)
    assert(div.attr("id").contains("a"))
    assert(div.attrs.count(_.name == "id") == 2)
    assert(div.attr("data-x").contains("1&2"))
    assert(div.attr("title").contains("© ok"))
    // &copy followed by '=' in attribute: NOT decoded (legacy attr rule)
    assert(div.attr("href").contains("x&copy=2"))
  }

  test("foreign content: svg with self-closing, case adjust, CDATA") {
    check("<svg><rect/><foreignObject><div>h</div></foreignObject>" +
      "<![CDATA[a<b]]></svg><p>x</p>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <svg svg>
        #|       <svg rect>
        #|       <svg foreignObject>
        #|         <div>
        #|           "h"
        #|       "a<b"
        #|     <p>
        #|       "x"""".stripMargin('#'))
  }

  test("foreign content: breakout tag pops to HTML (rules.c:3652)") {
    check("<svg><g><div>x</div>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <svg svg>
        #|       <svg g>
        #|     <div>
        #|       "x"""".stripMargin('#'))
  }

  test("svg camelCase tag adjustment") {
    check("<svg><lineargradient></lineargradient></svg>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <svg svg>
        #|       <svg linearGradient>""".stripMargin('#'))
  }

  test("select: nested select closes, option/optgroup implied ends") {
    check("<select><option>a<option>b<optgroup><option>c</select>d",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <select>
        #|       <option>
        #|         "a"
        #|       <option>
        #|         "b"
        #|       <optgroup>
        #|         <option>
        #|           "c"
        #|     "d"""".stripMargin('#'))
  }

  test("frameset replaces body when frameset-ok") {
    check("<html><frameset><frame></frameset>",
      """| <html>
        #|   <head>
        #|   <frameset>
        #|     <frame>""".stripMargin('#'))
  }

  test("headings auto-close each other") {
    check("<h1>a<h2>b</h2>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <h1>
        #|       "a"
        #|     <h2>
        #|       "b"""".stripMargin('#'))
  }

  test("button in scope closes previous button") {
    check("<button>a<button>b</button>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <button>
        #|       "a"
        #|     <button>
        #|       "b"""".stripMargin('#'))
  }

  test("fragment parsing with tr context (myhtml.c:240)") {
    val root = HtmlParser.parseFragment("<td>x</td><td>y</td>", "tr")
    val names = root.descendants.filter(_.kind == NodeKind.Element).map(_.name).toList
    assert(names == List("td", "td"))
  }

  test("fragment parsing in title context is RCDATA") {
    val root = HtmlParser.parseFragment("<b>not-a-tag", "title")
    assert(root.children.length == 1 && root.children.head.kind == NodeKind.Text)
    assert(root.children.head.text == "<b>not-a-tag")
  }

  test("quirks mode determination (rules.c:85)") {
    assert(HtmlParser.parseWithQuirks("<!DOCTYPE html><p>x")._2 == QuirksMode.NoQuirks)
    assert(HtmlParser.parseWithQuirks("<p>x")._2 == QuirksMode.Quirks)
    assert(HtmlParser.parseWithQuirks(
      "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\"><p>x")._2 ==
      QuirksMode.Quirks)
    assert(HtmlParser.parseWithQuirks(
      "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\" " +
        "\"http://www.w3.org/TR/html4/loose.dtd\"><p>x")._2 == QuirksMode.Limited)
    assert(HtmlParser.parseWithQuirks("<!DOCTYPE foo><p>x")._2 == QuirksMode.Quirks)
  }

  test("in table: quirks mode table inside p does not close p") {
    val (doc, _) = HtmlParser.parseWithQuirks("<p>a<table><tr><td>b</table>c")
    val p = doc.descendants.find(_.isElement("p")).get
    assert(p.descendants.exists(_.isElement("table")))
  }

  test("template: contents kept, mode stack (tree.c:2084)") {
    check("<template><td>t</td></template><p>x</p>",
      """| <html>
        #|   <head>
        #|     <template>
        #|       <td>
        #|         "t"
        #|   <body>
        #|     <p>
        #|       "x"""".stripMargin('#'))
  }

  test("plaintext swallows everything") {
    check("<plaintext><p>not</p>",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <plaintext>
        #|       "<p>not</p>"""".stripMargin('#'))
  }

  test("after body comments attach to html") {
    check("<html><body><p>x</p></body><!--tail-->",
      """| <html>
        #|   <head>
        #|   <body>
        #|     <p>
        #|       "x"
        #|   <!-- tail -->""".stripMargin('#'))
  }
}

/** Tokenizer-level fixtures (FIXTURES.md §3) using a collector sink —
  * the reference's token-callback surface (examples/callback.pl). */
class TokenizerSpec extends AnyFunSuite {

  private def tokens(html: String, model: Int = ContentModel.DATA,
                     lastStart: String = null): List[Token] = {
    val buf = scala.collection.mutable.ListBuffer.empty[Token]
    val sink = new TokenSink { def process(t: Token): Unit = buf += t }
    val tk = new Tokenizer(html, sink)
    tk.state = model
    if (lastStart != null) tk.lastStartTag = lastStart
    tk.run()
    buf.toList
  }

  test("text + start/end tags with raw offsets (token.h:80)") {
    val ts = tokens("ab<p id=1>cd</p>")
    assert(ts == List(
      CharsTok("ab", 0),
      StartTagTok("p", scala.collection.mutable.ArrayBuffer(DomAttr("id", "1")), false, 2),
      CharsTok("cd", 10),
      EndTagTok("p", 12),
      EofTok))
  }

  test("named charrefs: longest match, missing semicolon, history (charef.c:63)") {
    assert(tokens("&amp;").head == CharsTok("&", 0))
    assert(tokens("&amp x").head == CharsTok("& x", 0))
    assert(tokens("&ampx").head == CharsTok("&x", 0))
    assert(tokens("&notin;").head == CharsTok("∉", 0))
    assert(tokens("&notit;").head == CharsTok("¬it;", 0))
    assert(tokens("&unknown;").head == CharsTok("&unknown;", 0))
    assert(tokens("&copy").head == CharsTok("©", 0))
  }

  test("numeric charrefs: hex, dec, C1 remap, out of range (data_process.c:231)") {
    assert(tokens("&#65;").head == CharsTok("A", 0))
    assert(tokens("&#x41;").head == CharsTok("A", 0))
    assert(tokens("&#X41;").head == CharsTok("A", 0))
    assert(tokens("&#153;").head == CharsTok("™", 0))   // C1 remap 0x99
    assert(tokens("&#0;").head == CharsTok("\uFFFD", 0))
    assert(tokens("&#x110000;").head == CharsTok("\uFFFD", 0))
    assert(tokens("&#xD800;").head == CharsTok("\uFFFD", 0))
    assert(tokens("&#65")  // missing semicolon still decodes
      .head == CharsTok("A", 0))
  }

  test("entity table: a class loader without it fails naming the resource") {
    val bare = new ClassLoader(null) {} // bootstrap classes only
    val e = intercept[IllegalStateException](Entities.load(bare))
    assert(e.getMessage.contains("graft/entities.tsv"))
    assert(Entities.load(getClass.getClassLoader)._1.size == Entities.table.size)
  }

  test("CRLF normalization (mystring.c:24)") {
    assert(tokens("a\r\nb\rc").head == CharsTok("a\nb\nc", 0))
  }

  test("self-closing flag (and / in unquoted value is NOT self-closing)") {
    val ts = tokens("<br/><img src=\"x\"/><a href=y/>")
    assert(ts.collect { case s: StartTagTok => s.selfClosing } ==
      List(true, true, false)) // spec: unquoted "y/" swallows the slash
    assert(ts.collect { case s: StartTagTok if s.name == "a" => s.attr("href") } ==
      List(Some("y/")))
  }

  test("comment variants incl. --!> recovery (tokenizer.c:1457)") {
    assert(tokens("<!--a-->") == List(CommentTok("a", 0), EofTok))
    assert(tokens("<!---->") == List(CommentTok("", 0), EofTok))
    assert(tokens("<!--a--!>x") == List(CommentTok("a", 0), CharsTok("x", 9), EofTok))
    assert(tokens("<!-->") == List(CommentTok("", 0), EofTok))
    assert(tokens("<!--->") == List(CommentTok("", 0), EofTok))
    assert(tokens("<!--a-b--c-->") == List(CommentTok("a-b--c", 0), EofTok))
  }

  test("EOF flush: unterminated comment/tag/doctype (tokenizer_end.c)") {
    assert(tokens("<!--never") == List(CommentTok("never", 0), EofTok))
    // EOF-in-start-tag-name recovery text keeps the reference WHITESPACE
    // flag (tokenizer_end.c:56-62 never clears it)
    assert(tokens("<p") == List(CharsTok("p", 1, ws = true), EofTok))
    assert(tokens("ab<") == List(CharsTok("ab<", 0), EofTok))
    assert(tokens("ab</") == List(CharsTok("ab</", 0), EofTok))
    val dt = tokens("<!DOCTYPE htm").head.asInstanceOf[DoctypeTok]
    assert(dt.name == "htm" && dt.forceQuirks)
  }

  test("doctype with public/system ids (tokenizer_doctype.c)") {
    val dt = tokens("<!DOCTYPE html PUBLIC \"pub\" 'sys'>").head.asInstanceOf[DoctypeTok]
    assert(dt == DoctypeTok("html", "pub", "sys", false))
    val dt2 = tokens("<!doctype HTML sYsTeM 'abc'>").head.asInstanceOf[DoctypeTok]
    assert(dt2 == DoctypeTok("html", null, "abc", false))
    val dt3 = tokens("<!DOCTYPE html BOGUS zzz>").head.asInstanceOf[DoctypeTok]
    assert(dt3.forceQuirks)
  }

  test("bogus comment from </ + non-letter and <?") {
    assert(tokens("</ x>") == List(CommentTok(" x", 0), EofTok))
    assert(tokens("<?xml version='1.0'?>") ==
      List(CommentTok("?xml version='1.0'?", 0), EofTok))
    // "</>" is absorbed into the (whitespace-flagged) text run and emitted
    // at EOF; the tree ignores it before a root exists (tokenizer.c:869-876)
    assert(tokens("</>") == List(CharsTok("</>", 0, ws = true), EofTok))
  }

  test("RCDATA initial state (fixture-style initialState support)") {
    val ts = tokens("x<b>&amp;</textarea>y", ContentModel.RCDATA, "textarea")
    assert(ts == List(CharsTok("x<b>&", 0), EndTagTok("textarea", 9),
      CharsTok("y", 20), EofTok))
  }

  test("RAWTEXT: no charref decode, case-insensitive end tag") {
    val ts = tokens("a&amp;b</STYLE>c", ContentModel.RAWTEXT, "style")
    assert(ts == List(CharsTok("a&amp;b", 0), EndTagTok("style", 7),
      CharsTok("c", 15), EofTok))
  }

  test("NUL handling: FFFD in rawtext, kept in data for builder") {
    assert(tokens("a\u0000b", ContentModel.RAWTEXT, "style").head ==
      CharsTok("a\uFFFDb", 0))
  }
}

/** Extraction golden tests (FIXTURES.md §5; semantics from
  * examples/clear_text.pl:34-60 + media/kind extensions). */
class ExtractorSpec extends AnyFunSuite {

  test("clear_text semantics: skip script/style/textarea/comments, drop ws-only") {
    val html =
      """<html><head><style>.x{}</style><script>var a;</script></head>
        |<body><h1>Title</h1>
        |<!-- hidden --><p>Body text</p>
        |<textarea>ignored</textarea>
        |<ul><li>One</li><li>Two</li></ul>
        |<pre>raw  text</pre>
        |</body></html>""".stripMargin
    val spans = Extractor.extractHtml(html)
    assert(spans.map(s => (s.kind, s.text)) == Seq(
      ("heading", "Title"),
      ("text", "Body text"),
      ("list_item", "One"),
      ("list_item", "Two"),
      ("pre", "raw  text")))
  }

  test("scripting flag: noscript content model flips (rules.c:419,1799; tokenizer.c:214)") {
    // reference gates noscript on MyHTML_TREE_FLAGS_SCRIPT: scripting
    // OFF parses noscript children as markup; scripting ON switches the
    // tokenizer to RAWTEXT so the content stays one text node
    val html = "<body><noscript><b>x</b></noscript><p>after</p>"
    val off = HtmlParser.parse(html)
    assert(off.descendants.exists(_.isElement("b")),
      "scripting=false must parse noscript children as markup")
    val on = HtmlParser.parse(html, scripting = true)
    assert(!on.descendants.exists(_.isElement("b")),
      "scripting=true must not materialize elements inside noscript")
    val ns = on.descendants.find(_.isElement("noscript")).get
    assert(ns.firstChild != null && ns.firstChild.kind == NodeKind.Text &&
      ns.firstChild.text == "<b>x</b>", Serializer.pretty(on))
    // head-noscript path too (in_head_noscript mode vs rawtext)
    val hOff = HtmlParser.parse("<head><noscript><link href=a></noscript></head>")
    assert(hOff.descendants.exists(_.isElement("link")))
    val hOn = HtmlParser.parse("<head><noscript><link href=a></noscript></head>",
      scripting = true)
    assert(!hOn.descendants.exists(_.isElement("link")))
  }

  test("offsets: consumed-prefix convention PINNED (parity README offsets axis)") {
    // The offsets axis (25k positions, docs11/12/17/18) has exactly 8
    // reference deltas, all ONE pattern: when a text token's leading
    // whitespace is consumed by an insertion mode (split off in head /
    // suppressed first newline in textarea|pre), the reference reuses
    // the ORIGINAL token's raw for the reprocessed remainder; we advance
    // past the consumed prefix. Ours is strictly more precise and is the
    // span-offset contract the SQL oracles verify. These fixtures pin
    // OUR answer for both construct families, so the delta class cannot
    // silently grow or drift.
    def textOffsets(html: String): Seq[(String, Int)] = {
      val doc = HtmlParser.parse(html)
      doc.descendants.filter(_.kind == NodeKind.Text)
        .map(n => (n.text, n.rawBegin)).toSeq
    }
    // family 1 (docs11 soup534 etc.): whitespace split off in_head —
    // remainder's raw advances to the first non-ws char (ref keeps 6)
    val h1 = "<base>\none "
    assert(textOffsets(h1).exists { case (t, o) => t == "one " && o == 7 },
      s"head-split remainder offset drifted: ${textOffsets(h1)}")
    // family 2 (docs12 soup263): textarea first-newline suppression —
    // content raw starts AFTER the suppressed newline (ref keeps 10)
    val h2 = "<textarea>\nxyz</textarea>"
    assert(textOffsets(h2).exists { case (t, o) => t == "xyz" && o == 11 },
      s"textarea first-newline offset drifted: ${textOffsets(h2)}")
    // same convention through pre (first-newline suppression rule)
    val h3 = "<pre>\nabc</pre>"
    assert(textOffsets(h3).exists { case (t, o) => t == "abc" && o == 6 },
      s"pre first-newline offset drifted: ${textOffsets(h3)}")
  }

  test("media passthrough in document order with refs") {
    val html = """<p>a<img src="m://1">b</p><video src="m://2"></video>"""
    val spans = Extractor.extractHtml(html)
    assert(spans.map(s => (s.kind, s.text, s.media_ref)) == Seq(
      ("text", "a", ""),
      ("media", "", "m://1"),
      ("text", "b", ""),
      ("media", "", "m://2")))
  }

  test("offsets point into the source (raw positions, api.h:1379)") {
    val html = "<p>abc</p><p>def</p>"
    val spans = Extractor.extractHtml(html)
    assert(spans.map(_.offset) == Seq(3, 13))
    assert(spans.forall(s => html.substring(s.offset, s.offset + 3) == s.text))
  }

  test("boilerplate: link-dominated short blocks dropped") {
    val html =
      """<body><nav><a href="/">Home</a> <a href="/x">X</a></nav>
        |<article><p>This is a long enough real paragraph of content here.</p>
        |<p><a href="/more">more</a></p></article></body>""".stripMargin
    val strict = Extractor.extractHtml(html, Extractor.Strict)
    val boiler = Extractor.extractHtml(html, Extractor.Boiler)
    assert(strict.exists(_.text == "Home"))
    assert(!boiler.exists(_.text == "Home"))
    assert(boiler.exists(_.text.startsWith("This is a long")))
    assert(!boiler.exists(_.text == "more"))
  }

  test("density scoring: text-density, tag-depth, link-density axes") {
    def dense(h: String) = Extractor.extractHtml(h, Extractor.Density).map(_.text)
    val para = "<p>This is a long enough real paragraph here.</p>"
    // tag-density: 1 codepoint over 4 descendant elements < 10*(4+1) → drop
    // (Boiler keeps it: link density 0)
    val menu = s"<body>$para<div>x<i></i><i></i><i></i><i></i></div></body>"
    assert(dense(menu) == Seq("This is a long enough real paragraph here."))
    assert(Extractor.extractHtml(menu, Extractor.Boiler).exists(_.text == "x"))
    // tag-depth: a text block nested 29 deep (>24) is chrome
    val deep = s"<body>$para${"<div>" * 28}deepdeepdeepdeep${"</div>" * 28}</body>"
    assert(dense(deep) == Seq("This is a long enough real paragraph here."))
    assert(Extractor.extractHtml(deep, Extractor.Boiler).exists(_.text == "deepdeepdeepdeep"))
    // text-density on a pure-text block: <10 codepoints drops
    assert(dense("<p>tiny</p><p>long enough here</p>") == Seq("long enough here"))
    // text-less wrapper blocks are never density-dropped
    assert(dense("<article><p>wrapped real content here</p></article>") ==
      Seq("wrapped real content here"))
    // codepoint counting: 5 astral chars are 5 codepoints (10 UTF-16
    // units) — below the 10-codepoint floor
    assert(dense("<p>😀😀😀😀😀</p>").isEmpty)
    // link-density rule still active in Density mode
    assert(dense(s"$para<nav><a href=/a>aa</a> <a href=/b>bb</a></nav>") ==
      Seq("This is a long enough real paragraph here."))
  }

  test("robustness: binary garbage never throws (Changes:33)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      Extractor.extractHtml(s) // must not throw
    }
  }

  test("attr selectors: 6 CSS modes (myhtml.c:922-1301)") {
    val doc = HtmlParser.parse(
      """<div class="a b c" lang="en-US" href="http://x/y.png" id="m1">t</div>""")
    import AttrMatch._
    assert(select(doc, "class", "b", WhitespaceSep).nonEmpty)
    assert(select(doc, "class", "a b c", Eq).nonEmpty)
    assert(select(doc, "lang", "en", HyphenSep).nonEmpty)
    assert(select(doc, "href", "http", Begin).nonEmpty)
    assert(select(doc, "href", ".png", End).nonEmpty)
    assert(select(doc, "href", "x/y", Contain).nonEmpty)
    assert(select(doc, "class", "B", WhitespaceSep).isEmpty)
    assert(select(doc, "class", "B", WhitespaceSep, ci = true).nonEmpty)
  }
}

/** Serializer tests (serialization.c semantics). */
class SerializerSpec extends AnyFunSuite {

  test("roundtrip: serialize(parse(x)) is stable after first pass") {
    val inputs = Seq(
      "<p>a<b>c</b></p>",
      "<table>x<td>y</td></table>",
      "<ul><li>1<li>2</ul>",
      "<div id=a title='q\"r'>&lt;esc&gt;</div>",
      "<svg><rect/></svg>"
    )
    inputs.foreach { in =>
      val once = Serializer.innerHtml(HtmlParser.parse(in))
      val twice = Serializer.innerHtml(HtmlParser.parse(once))
      assert(once == twice, s"not idempotent for: $in\nonce:  $once\ntwice: $twice")
    }
  }

  test("text and attribute escaping (serialization.c:322-459)") {
    val doc = HtmlParser.parse("""<p title="a&quot;b">x&lt;y&amp;z</p>""")
    val html = Serializer.innerHtml(doc)
    assert(html.contains("""title="a&quot;b""""))
    assert(html.contains("x&lt;y&amp;z"))
  }

  test("rawtext children serialized verbatim (serialization.c:283)") {
    val doc = HtmlParser.parse("<script>if (a<b) {}</script>")
    assert(Serializer.innerHtml(doc).contains("<script>if (a<b) {}</script>"))
  }

  test("void elements: no end tag (serialization.c:254)") {
    val doc = HtmlParser.parse("<p>a<br>b</p>")
    val html = Serializer.innerHtml(doc)
    assert(html.contains("<br>") && !html.contains("</br>"))
  }

  test("doctype serialization") {
    val doc = HtmlParser.parse("<!DOCTYPE html><p>x</p>")
    assert(Serializer.innerHtml(doc).startsWith("<!DOCTYPE html>"))
  }
}

/** Encoding detection (detect.c). */
class EncodingsSpec extends AnyFunSuite {
  import java.nio.charset.StandardCharsets._

  test("BOM detection (detect.c:164)") {
    assert(Encodings.detectBom(Array(0xEF, 0xBB, 0xBF, 'a').map(_.toByte)) == ("UTF-8", 3))
    assert(Encodings.detectBom(Array(0xFF, 0xFE, 0, 0).map(_.toByte)) == ("UTF-16LE", 2))
    assert(Encodings.detectBom(Array(0xFE, 0xFF, 0, 0).map(_.toByte)) == ("UTF-16BE", 2))
    assert(Encodings.detectBom("plain".getBytes(UTF_8)) == null)
  }

  test("meta prescan finds charset (detect.c:559)") {
    val html = """<html><head><meta charset="windows-1251"></head>"""
    assert(Encodings.prescanMeta(html.getBytes(ISO_8859_1)).contains("windows-1251"))
    val he = """<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-2">"""
    assert(Encodings.prescanMeta(he.getBytes(ISO_8859_1)).contains("ISO-8859-2"))
    assert(Encodings.prescanMeta("<p>no meta</p>".getBytes(ISO_8859_1)).isEmpty)
    // commented-out meta is skipped
    val c = """<!-- <meta charset="koi8-r"> --><meta charset="utf-8">"""
    assert(Encodings.prescanMeta(c.getBytes(ISO_8859_1)).contains("UTF-8"))
  }

  test("utf-8 heuristic + windows-1252 fallback (detect.c:78)") {
    assert(Encodings.sniff("héllo wörld".getBytes(UTF_8)) == "UTF-8")
    val w1252 = "caf\u00e9".getBytes(ISO_8859_1) // lone 0xE9: invalid UTF-8
    assert(Encodings.sniff(w1252) == "windows-1252")
  }

  test("decode never throws on garbage") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(100))(rnd.nextInt(256).toByte)
      Encodings.decode(bytes)
    }
  }

  test("decode honors BOM and meta") {
    val utf16 = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ "hi".getBytes(UTF_16LE)
    assert(Encodings.decode(utf16) == "hi")
  }

  test("WHATWG label completeness: every reference-recognized label resolves (myosi.h:47-89)") {
    // the reference's registry (source/myencoding/detect_resource.h) is
    // the WHATWG label table: 39 encodings (UTF-8 plus myosi.h
    // 0x04..0x29), 213 labels. Audit: (a) all 39 canonical encodings are
    // present, (b) every label resolves to a usable decoder — a JDK
    // charset this JVM supports or one of our hand-written tables — so
    // no label can silently fall back to UTF-8
    val canonEncodings = Set(
      "UTF-8", "UTF-16LE", "UTF-16BE", "x-user-defined", "Big5", "EUC-JP",
      "EUC-KR", "gb18030", "GBK", "IBM866", "ISO-2022-JP", "ISO-8859-10",
      "ISO-8859-13", "ISO-8859-14", "ISO-8859-15", "ISO-8859-16",
      "ISO-8859-2", "ISO-8859-3", "ISO-8859-4", "ISO-8859-5", "ISO-8859-6",
      "ISO-8859-7", "ISO-8859-8", "ISO-8859-8-I", "KOI8-R", "KOI8-U",
      "macintosh", "Shift_JIS", "windows-1250", "windows-1251",
      "windows-1252", "windows-1253", "windows-1254", "windows-1255",
      "windows-1256", "windows-1257", "windows-1258", "windows-874",
      "x-mac-cyrillic")
    val got = Encodings.whatwgLabels.values.map(_._1).toSet
    assert(got == canonEncodings,
      s"missing=${canonEncodings -- got} extra=${got -- canonEncodings}")
    assert(Encodings.whatwgLabels.size == 213,
      s"label count drifted: ${Encodings.whatwgLabels.size}")
    for ((label, (canon, id)) <- Encodings.whatwgLabels) {
      assert(id.startsWith("@") || java.nio.charset.Charset.isSupported(id),
        s"label '$label' ($canon) resolves to unusable decoder '$id'")
      // labels resolve case-insensitively and trimmed
      assert(Encodings.resolveLabel("  " + label.toUpperCase + " ")
        .exists(_._1 == canon))
    }
  }

  test("byte probes for the decoder long tail (VERDICT r3 #5)") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // iso-2022-jp: the one escape-sequence STATE MACHINE in the registry —
    // round-trip through the label aliases exercises JIS X 0208 shifting
    val jp = "こんにちは" // こんにちは
    val jpBytes = jp.getBytes("ISO-2022-JP")
    assert(jpBytes.contains(0x1B.toByte), "expected ISO-2022-JP escapes")
    assert(Encodings.decode(jpBytes, "csiso2022jp") == jp)
    assert(Encodings.decode(jpBytes, "iso-2022-jp") == jp)
    // iso-8859-10 (hand table — absent from the JDK): Ą at A1, ― at BD, ĸ at FF
    assert(Encodings.decode(b('a', 0xA1, 0xBD, 0xFF), "latin6") ==
      "a\u0104\u2015\u0138")
    assert(Encodings.decode(b(0xC7), "iso-ir-157") == "\u012E")
    // iso-8859-14 (hand table): Ḃ at A1, Ŵ at D0, ŷ at FE
    assert(Encodings.decode(b(0xA1, 0xD0, 0xFE), "iso885914") ==
      "\u1E02\u0174\u0177")
    // iso-8859-8-i shares iso-8859-8's byte table (א at E0)
    assert(Encodings.decode(b(0xE0), "logical") == "\u05D0")
    assert(Encodings.decode(b(0xE0), "visual") == "\u05D0")
    // windows-874 index (cp874): € at 80 (bare TIS-620 lacks it), ก at A1
    assert(Encodings.decode(b(0x80, 0xA1), "tis-620") == "\u20AC\u0E01")
    assert(Encodings.decode(b(0x80), "dos-874") == "\u20AC")
    // x-mac-cyrillic: А at 80; macintosh: é at 8E
    assert(Encodings.decode(b(0x80), "x-mac-ukrainian") == "\u0410")
    assert(Encodings.decode(b(0x8E), "csmacintosh") == "\u00E9")
    // probed: the JDK's x-MacRoman maps BD to U+03A9 GREEK CAPITAL
    // OMEGA, exactly the WHATWG macintosh index (the legacy U+2126 OHM
    // reading appears in some older tables but NOT in this JVM) — pin
    // the spec codepoint
    assert(Encodings.decode(b(0xBD), "macintosh") == "\u03A9")
    // euc-kr resolves to the full UHC/cp949 index: 가 round-trips
    val kr = "가"
    assert(Encodings.decode(kr.getBytes("x-windows-949"), "korean") == kr)
    // gbk/gb18030: 中 round-trips through both labels
    val zh = "中"
    assert(Encodings.decode(zh.getBytes("GBK"), "csgb2312") == zh)
    assert(Encodings.decode(zh.getBytes("GB18030"), "gb18030") == zh)
    // WHATWG maps the bare 'utf-16' label to UTF-16LE
    assert(Encodings.decode("ab".getBytes(UTF_16LE), "utf-16") == "ab")
    // ascii/latin1 legacy labels land on windows-1252 (€ at 80)
    assert(Encodings.decode(b('x', 0x80), "ascii") == "x\u20AC")
    assert(Encodings.decode(b(0x80), "latin1") == "\u20AC")
  }
}

/** Parse-flag variants + mutation + Cyrillic detection (R18, Q12-13, S8). */
class ApiSurfaceSpec extends AnyFunSuite {

  test("tokenize: WITHOUT_BUILD_TREE fast path with whitespace skip (R18)") {
    val toks = HtmlParser.tokenize("<p> a </p>  <b>x</b>", skipWhitespaceTokens = true)
    assert(!toks.exists {
      case CharsTok(s, _, _) => TextPrep.isWhitespaceOnly(s)
      case _ => false
    })
    assert(toks.collect { case s: StartTagTok => s.name } == Seq("p", "b"))
  }

  test("tokenizeWith: streaming callback surface (callback.pl)") {
    var n = 0
    HtmlParser.tokenizeWith("<p>a</p>")(_ => n += 1)
    assert(n == 4) // start, chars, end, eof
  }

  test("mutation: setText/removeAttr/deleteRecursive (Q11-Q13)") {
    val doc = HtmlParser.parse("""<div id=a title=t><p>old</p></div>""")
    val div = doc.descendants.find(_.isElement("div")).get
    val p = div.firstChild
    p.firstChild.setText("new &amp; decoded", decodeCharrefs = true)
    assert(p.firstChild.text == "new & decoded")
    assert(div.removeAttr("title") && !div.hasAttr("title"))
    p.deleteRecursive()
    assert(div.childCount == 0)
  }

  test("cyrillic encoding heuristics (detect.c:233)") {
    val ru = "привет мир это тестовая строка на русском языке"
    val w1251 = ru.getBytes("windows-1251")
    assert(Encodings.detectCyrillic(w1251).contains("windows-1251"))
    assert(Encodings.sniff(w1251) == "windows-1251")
    val koi = ru.getBytes("KOI8-R")
    assert(Encodings.detectCyrillic(koi).contains("KOI8-R"))
    // plain ascii: no cyrillic verdict
    assert(Encodings.detectCyrillic("hello world".getBytes("UTF-8")).isEmpty)
  }

  test("cyrillic detector decision characterized across all 5 candidate codecs") {
    // S8 round-2 characterization: the reference scores trigram tables
    // (detect.c:25-50); ours scores frequent-letter decodes. Same
    // decision on realistic crawl-shaped inputs — each codec's own bytes
    // win against the other four candidates.
    // NOTE: mixed case on purpose. All-lowercase Russian is genuinely
    // ambiguous between windows-1251 and x-MacCyrillic (bytes 0xE0-0xFE
    // decode to the SAME letters under both); sentence capitals
    // disambiguate, since Mac uppercase sits at 0x80-0x9F where 1251 has
    // punctuation. The reference's trigram scorer faces the same tie.
    val samples = Seq(
      "<html><body><p>Привет мир. Это Тестовая Строка на Русском Языке.</p></body></html>",
      "<div>В Лесу родилась ёлочка, В Лесу Она Росла. Зимой и Летом Стройная, Зелёная Была.</div>",
      "Новости Дня: Экономика, Политика, Спорт, Культура, Общество, Наука, Техника, Авто."
    )
    val codecs = Seq("windows-1251", "KOI8-R", "IBM866", "ISO-8859-5", "x-MacCyrillic")
    for (s <- samples; cs <- codecs) {
      val got = Encodings.detectCyrillic(s.getBytes(cs))
      assert(got.contains(cs), s"codec $cs misdetected as $got for: ${s.take(30)}")
    }
  }

  test("short/caps cyrillic detection pinned vs the reference binary (round-3 probe)") {
    // tools/parity/detect_probe.c drove the reference's PUBLIC
    // myencoding_detect over 52 transcoded probes (BASELINE.md §cyrillic
    // divergence table): 42/52 agree and every agreement matches the true
    // codec; the 10 divergences are characterized, 9 in our favor — the
    // reference's trigram tables are lowercase-only (ALL-CAPS text falls
    // through to the not-determined default) and prefer windows-1251
    // over x-MacCyrillic on lowercase bytes (0xE0-0xFE decode to the
    // same letters under both). These pins hold the short-input and
    // all-caps wins.
    val shortRu = Seq("привет", "доброе утро", "мир труд май")
    val codecs4 = Seq("windows-1251", "KOI8-R", "IBM866", "ISO-8859-5")
    for (s <- shortRu; cs <- codecs4)
      assert(Encodings.detectCyrillic(s.getBytes(cs)).contains(cs),
        s"short input misdetected under $cs")
    val caps = "МОСКВА НОВОСТИ СЕГОДНЯ ВЕЧЕРОМ"
    for (cs <- codecs4)
      assert(Encodings.detectCyrillic(caps.getBytes(cs)).contains(cs),
        s"all-caps input misdetected under $cs")
  }

  test("arena-parsed extraction equals heap-parsed extraction doc for doc") {
    // the NodeArena recycles node objects between documents — any field
    // missed by Node.reset would leak the previous doc's state into the
    // next; interleave dissimilar docs and compare against fresh heap
    // parses (the 21-corpus parity sweep is the big detector, this is
    // the in-suite canary)
    val docs = Seq(
      "<table>x<td id=a>cell</td></table><b>tail",
      "<!DOCTYPE html><p>one<b>two<i>three</b>four</i>five",
      "<svg><desc>d</desc><circle/></svg><math><mi>m</mi></math>",
      "<title>t&amp;</title><pre>\nkept</pre><img src=\"m://1\">",
      "" ,
      "<div class=x data-n=1>" + ("nested " * 50) + "</div>")
    for (_ <- 0 until 3; d <- docs) {
      val viaArena = Extractor.extractHtml(d)
      val viaHeap = Extractor.extract(HtmlParser.parse(d))
      assert(viaArena == viaHeap, s"arena/heap divergence on: ${d.take(40)}")
    }
  }

  test("callback serialization driver streams bounded chunks == buffer driver") {
    // reference serialization.c has both buffer and callback drivers
    // (serialization.c:36-55, 466-555) — round-2 verdict missing #3
    val html = "<div id=a>" + ("<p>chunk piece text</p>" * 200) + "</div>"
    val doc = HtmlParser.parse(html)
    val want = Serializer.toHtml(doc)
    val chunks = scala.collection.mutable.ArrayBuffer[String]()
    Serializer.serializeWith(doc, chunkChars = 256)(cs => chunks += cs.toString)
    assert(chunks.mkString == want, "chunk concatenation must equal buffer output")
    assert(chunks.length > 10, s"expected streaming in many chunks, got ${chunks.length}")
    // bounded: a chunk may overshoot by at most one syntactic piece
    assert(chunks.forall(_.length < 256 + 64), "chunk size not bounded")
  }

  test("one giant text node / attr value still streams bounded chunks") {
    // ADVICE r3: node-boundary flushing alone bounded chunks by the
    // LARGEST SINGLE PIECE — a multi-MB text node materialized one giant
    // chunk. appendSliced now slices inside the piece; escaping expands
    // a slice at most 6x ("&nbsp;"), slices run chunkChars/4, so chunks
    // stay <= ~2.5x chunkChars even on pathological all-escape input.
    val big = ("x y&" * 40000) // 160k chars, escape-heavy
    val html = "<div title=\"" + ("a b" * 2000) + "\"><p>" + big + "</p></div>"
    val doc = HtmlParser.parse(html)
    val want = Serializer.toHtml(doc)
    val chunkChars = 1024
    val chunks = scala.collection.mutable.ArrayBuffer[String]()
    Serializer.serializeWith(doc, chunkChars)(cs => chunks += cs.toString)
    assert(chunks.mkString == want, "sliced chunk concatenation must equal buffer output")
    val maxLen = chunks.map(_.length).max
    assert(maxLen <= chunkChars * 5 / 2 + 64,
      s"giant-piece chunk not bounded: max chunk $maxLen for chunkChars=$chunkChars")
  }

  test("nested arena scopes: inner parse cannot recycle the outer document") {
    // ADVICE r3: releaseAll in the inner finally used to reset used=0,
    // so the NEXT nested parse would recycle the outer tree's nodes
    // while the outer scope was still reading them (mark/restore fix)
    ArenaParse.withDoc("<div id=out><p>outer text</p></div>") { outer =>
      ArenaParse.withDoc("<span>inner one</span>") { inner =>
        assert(Extractor.extract(inner).map(_.text).mkString(" ") == "inner one")
      }
      // second nested parse AFTER the first released — without the mark
      // this allocation run would reuse (and reset) the outer nodes
      ArenaParse.withDoc("<b>CLOBBER CLOBBER CLOBBER</b>") { inner2 =>
        assert(Extractor.extract(inner2).nonEmpty)
        // outer tree must still read its own content while inner2 is live
        assert(Extractor.extract(outer).map(_.text).mkString(" ") == "outer text",
          "outer document recycled by nested arena scope")
      }
      assert(Extractor.extract(outer).map(_.text).mkString(" ") == "outer text")
    }
  }
}
