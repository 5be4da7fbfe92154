package graft.html

import graft.spark.CorpusGen
import java.io.{BufferedWriter, FileOutputStream, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.{DigestOutputStream, MessageDigest}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The reference-parity corpora and our side of every parity axis
  * (tools/parity/README.md).
  *
  * A corpus is one row of `corpora`: a grammar drawn from seeds at a seed
  * base. An axis prints a "### <file>" header per document, in file-name
  * order, then that document's lines, byte for byte in the format of the
  * matching reference script, so a box with the reference binary
  * re-certifies by diffing the two outputs:
  *
  *   - `clear-text` — `ref_clear_text.pl`: non-media span texts.
  *   - `tree` — `ref_tree_all.pl`: every node, indented, with its text.
  *   - `attrs` — `ref_attrs.pl`: texts, the last value per attribute name,
  *     and the doctype ids in the reference's attribute shape.
  *   - `offsets` — `ref_pos_all.pl` via `pos_compare.py`: node raw offsets.
  *   - `frag` — `ref_frag_all.pl` / `ref_frag2.pl`: fragment trees, the
  *     context tag taken from the `ctx-<tag>__NNNN.html` file name.
  *   - `html` — the corpus itself (no reference side; pins the generators).
  *
  * Every parse runs through the per-thread `NodeArena` (`ArenaParse`), so
  * a field missed in `Node.reset` shows up as a changed dump. `ParitySpec`
  * pins each dump's SHA-256 in `parity/digests.tsv`.
  *
  * {{{
  * sbt "Test/runMain graft.html.ParityCorpora write docs19 /tmp/parity/docs19"
  * sbt "Test/runMain graft.html.ParityCorpora tree docs19 /tmp/parity/mine.out"
  * sbt "Test/runMain graft.html.ParityCorpora tree /tmp/parity/docs19 /tmp/parity/mine.out"
  * }}}
  * The source of a dump is a corpus name or a directory of `*.html` files;
  * without an output file the dump goes to stdout.
  */
object ParityCorpora {

  final case class Doc(name: String, bytes: Array[Byte]) {
    def html: String = new String(bytes, UTF_8)
  }

  /** Draws `count` documents from seeds at `seedBase`; fragment corpora
    * are dumped on the `frag` axis, document corpora on the others. */
  final case class Grammar(fragments: Boolean, draw: (Int, Int) => Seq[Doc])

  final case class Corpus(name: String, grammar: Grammar, seedBase: Int, count: Int) {
    def docs: Seq[Doc] = grammar.draw(seedBase, count).sortBy(_.name)
    def axes: Seq[String] =
      if (grammar.fragments) Seq("html", "frag")
      else Seq("html", "clear-text", "tree", "attrs", "offsets")
  }

  private def doc(name: String, html: String) = Doc(name, html.getBytes(UTF_8))

  /** Document i is drawn from its own `Random(seedBase + i)`. */
  private def seeded(fragments: Boolean = false)(file: (Int, Int) => String)(
      draw: Random => String): Grammar =
    Grammar(fragments, (seedBase, count) =>
      (0 until count).map(i => doc(file(i, count), draw(new Random(seedBase + i)))))

  private def pick(rnd: Random, xs: Seq[String]): String = xs(rnd.nextInt(xs.length))

  /** `n` draws of `piece`, concatenated. */
  private def concat(rnd: Random, n: Int)(piece: => String): String = {
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append(piece))
    sb.toString
  }

  // ------------------------------------------------------------ grammars

  /** CorpusGen's html spans (the engine's seeded test corpus; garbage docs
    * skipped) plus ten tree-construction classics. */
  private val corpusGen = Grammar(fragments = false, (seedBase, count) => {
    val spans = for {
      i <- 0 until count
      g = CorpusGen.genDoc(seedBase + i)
      if !g.garbage
      (s, j) <- g.spans.filter(_.kind == "html").zipWithIndex
    } yield doc(f"doc$i%04d-$j.html", s.text)
    spans ++ Seq(
      "adv1" -> "<a><p>X<a>Y</a>Z</p></a>",
      "adv2" -> "<b><table><td></b><i></table>X",
      "adv3" -> "<table><tr><p><td>c",
      "adv4" -> "<p>1<b>2<i>3</b>4</i>5</p>",
      "adv5" -> "<ul><li>a<li>b</ul><p>c<p>d<dl><dd>e<dd>f</dl>",
      "adv6" -> "<table>foo<td>x</td></table>",
      "adv7" -> "<svg><g><div>x</div>",
      "adv8" -> "<select><table><tr><td>inner",
      "adv9" -> "<p><b><b><b><b>x</p><p>y</p>",
      "adv10" -> "<title>a&amp;b</title><pre>\nkeep</pre>"
    ).map { case (n, h) => doc(s"x$n.html", h) }
  })

  /** 120-tag mix incl. mixed case, doctype variants, CDATA, numeric
    * charref edges, `</p>`/`</br>`, partial-tag garbage. */
  private val soup5 = {
    val tags = Seq("p","div","b","i","table","td","tr","th","li","ul","ol","h1","h3",
      "pre","span","em","strong","a","u","s","small","dl","dd","dt","blockquote",
      "section","article","nav","header","footer","caption","colgroup","col",
      "tbody","thead","tfoot","select","option","optgroup","button","form","fieldset",
      "label","ruby","rt","rb","rtc","marquee","center","font","nobr","big","code",
      "svg","math","mi","mo","mn","ms","mtext","annotation-xml","foreignObject",
      "desc","rect","g","path","template","title","textarea","style","script",
      "noscript","noembed","noframes","xmp","iframe","plaintext","br","img","hr",
      "input","frameset","frame","body","html","head","base","meta","link",
      "DIV","TaBle","SvG","applet","object","param","embed","area","wbr",
      "keygen","source","track","listing","summary","details","dialog","menu",
      "menuitem","main","figure","figcaption","address","hgroup","bdi","bdo",
      "data","time","mark","q","cite","abbr","dfn","kbd","samp","var","sub","sup",
      "isindex","image","a")
    val words = Seq("alpha","beta","gamma","delta","words","text","content","xyz",
      "тест","日本語","emoji\u00a0nbsp","x")
    val specials = Seq("&amp;","&#65;","&copy","&copy;","&bogus;","&notin;","&not;",
      "&#x10FFFF;","&#0;","&#xD800;","&#X41;","&#938;","&lt","&GT;","&amp",
      "<!--x-->","<!-- -- >","<!--a--!>","<!>","</ y>","<?php ?>","<![CDATA[z]]>",
      "<!doctype html>","<!DOCTYPE HTML PUBLIC \"-//W3C//DTD HTML 4.01//EN\">",
      "\\n","\t","</br>","</p>","</h1>","</table>","</template>","</form>",
      "<a href=x>","<a HREF='y y'>","<img src=\"m.png\" alt=a>","<input type=hidden>",
      "<font color=red>","<font other=1>","<b/>","<br/>","<svg/>","<td co%20l=1>")
    val partials = Seq("< div>","<3","</>","<","</","<!","a<b>c"," < ","=\"","'","`x`")
    seeded()((i, _) => f"soup$i%03d.html") { rnd =>
      concat(rnd, 8 + rnd.nextInt(160)) {
        rnd.nextInt(12) match {
          case 0 | 1 | 2 => "<" + pick(rnd, tags) + ">"
          case 3 | 4 => "</" + pick(rnd, tags) + ">"
          case 5 =>
            "<" + pick(rnd, tags) + (rnd.nextInt(4) match {
              case 0 => " a" + rnd.nextInt(5) + "='v" + rnd.nextInt(9) + "'"
              case 1 => " a" + rnd.nextInt(5) + "=\"v" + rnd.nextInt(9) + "\""
              case 2 => " a" + rnd.nextInt(5) + "=v" + rnd.nextInt(9)
              case _ => " disabled data-x=&amp;1"
            }) + (if (rnd.nextInt(6) == 0) "/>" else ">")
          case 6 | 7 | 8 => pick(rnd, words) + " "
          case 9 | 10 => pick(rnd, specials)
          case _ => pick(rnd, partials)
        }
      }
    }
  }

  /** Adoption-agency stress: deep formatting misnests, nested
    * tables/select/template, entities inside attributes (3 quotings). */
  private val soup7 = {
    val fmt = Seq("b","i","em","strong","u","s","small","big","tt","code","font","nobr","a")
    val blocks = Seq("p","div","li","td","th","caption","h1","h2","blockquote","section")
    val tableish = Seq("table","tr","td","th","tbody","thead","tfoot","caption","colgroup",
      "col","select","option","optgroup","template")
    val words = Seq("alpha","beta","gamma","delta","epsilon","η-greek","x")
    val attrVals = Seq("v&amp;1","a b c","&copy;","x&notsemi","&#65;&#x42;","plain","&ampoops")
    seeded()((i, _) => f"soup$i%03d.html") { rnd =>
      concat(rnd, 40 + rnd.nextInt(360)) {
        rnd.nextInt(14) match {
          case 0 | 1 => "<" + pick(rnd, fmt) + ">"
          case 2 => "</" + pick(rnd, fmt) + ">" // misnest: close a random formatting tag
          case 3 | 4 => "<" + pick(rnd, blocks) + ">"
          case 5 => "</" + pick(rnd, blocks) + ">"
          case 6 | 7 => "<" + pick(rnd, tableish) + ">"
          case 8 => "</" + pick(rnd, tableish) + ">"
          case 9 =>
            val t = pick(rnd, Seq("a", "td", "div", "span"))
            val href = pick(rnd, attrVals)
            val title = pick(rnd, attrVals)
            s"""<$t href="$href" title='$title' data-x=${pick(rnd, attrVals).replace(" ", "")}>"""
          case 10 | 11 | 12 => pick(rnd, words) + " "
          case _ => pick(rnd, Seq("&amp;","&AMP","&Kappa;","&#x1F600;","<!--c-->","\n\t"))
        }
      }
    }
  }

  /** Entity stress: 50+ names incl. multi-codepoint, truncations,
    * numerics, in text and in attribute values (3 quotings). */
  private val ent = {
    val ents = Seq("&not", "&notin;", "&notinva;", "&amp", "&amp;", "&ampx", "&AMP",
      "&lt", "&ltx", "&lt=", "&lt;=", "&copy1", "&copy;1", "&curren", "&curre",
      "&GT", "&gT;", "&aacute", "&Aacute;", "&nbsp", "&nbsp;x", "&#", "&#x", "&#;",
      "&#0;", "&#x0;", "&#38;", "&#x26;", "&#X26;", "&#9731;", "&#x2603;",
      "&#1114111;", "&#1114112;", "&#xD800;", "&#x110000;", "&#999999999999;",
      "&;", "&&amp;", "&a", "&0", "& amp;", "&am p;", "&thetasym;", "&ThickSpace;",
      "&fjlig;", "&sqcaps;", "&bne;", "&nang;", "&CounterClockwiseContourIntegral;",
      "&notindot;", "&notinE;", "&prod;", "&pi;&Pi;&piv;")
    val seps = Seq("", " ", "x", "=", "a1", ";")
    seeded()((i, _) => f"ent$i%03d.html") { rnd =>
      "<p>" + concat(rnd, 5 + rnd.nextInt(60)) {
        rnd.nextInt(6) match {
          case 0 | 1 | 2 => pick(rnd, ents) + pick(rnd, seps)
          case 3 =>
            val e = pick(rnd, ents)
            val sep = pick(rnd, seps)
            rnd.nextInt(3) match {
              case 0 => "<a href=\"" + e + sep + "\">in</a>"
              case 1 => "<a href='" + e + sep + "'>in</a>"
              case _ => "<a href=" + e.replace(" ", "") + ">in</a>"
            }
          case 4 => " word "
          case _ => "<b>" + pick(rnd, ents) + "</b>"
        }
      }
    }
  }

  /** Forms / frameset / template / head machinery: form pointer, select
    * in table, frameset takeover vs framesetOk, template mode stack. */
  private val soup9 = {
    val formish = Seq("form", "input", "button", "select", "option", "optgroup",
      "textarea", "label", "fieldset", "legend", "output", "progress", "keygen", "datalist")
    val framish = Seq("frameset", "frame", "noframes", "iframe")
    val headish = Seq("base", "basefont", "bgsound", "link", "meta", "title",
      "noscript", "style", "script")
    val blocks = Seq("p", "div", "li", "td", "table", "tr", "template", "caption", "body", "html")
    val words = Seq("one", "two", "three", "four", "five", "x")
    seeded()((i, _) => f"soup$i%03d.html") { rnd =>
      concat(rnd, 30 + rnd.nextInt(300)) {
        rnd.nextInt(16) match {
          case 0 | 1 => "<" + pick(rnd, formish) + ">"
          case 2 => "</" + pick(rnd, formish) + ">"
          case 3 => "<" + pick(rnd, framish) + ">"
          case 4 => "</" + pick(rnd, framish) + ">"
          case 5 => "<" + pick(rnd, headish) + ">"
          case 6 => "</" + pick(rnd, headish) + ">"
          case 7 | 8 => "<" + pick(rnd, blocks) + ">"
          case 9 => "</" + pick(rnd, blocks) + ">"
          case 10 =>
            val t = pick(rnd, Seq("input", "form", "option", "frame"))
            val tpe = pick(rnd, Seq("hidden", "text", "submit"))
            val n = rnd.nextInt(9)
            s"""<$t type=$tpe name="n$n"""" +
              (if (rnd.nextBoolean()) " disabled" else " value='v&amp;1'") + ">"
          case 11 | 12 | 13 => pick(rnd, words) + " "
          case 14 => pick(rnd, Seq("<!--c-->", "\n", "&amp;", "<![CDATA[x]]>", "<!doctype html>"))
          case _ => // template nesting burst
            "<template>" + pick(rnd, words) + (if (rnd.nextBoolean()) "</template>" else "<td>")
        }
      }
    }
  }

  /** Foreign fragment contexts and their namespaces. */
  private val foreignContexts = Seq("svg" -> Ns.SVG, "g" -> Ns.SVG, "desc" -> Ns.SVG,
    "foreignObject" -> Ns.SVG, "math" -> Ns.MathML, "mtext" -> Ns.MathML,
    "annotation-xml" -> Ns.MathML, "mi" -> Ns.MathML)

  private val htmlContexts = Seq("div", "p", "b", "td", "tr", "tbody", "table", "caption",
    "select", "option", "optgroup", "ul", "li", "dl", "head", "body", "html",
    "form", "noscript", "template", "frameset", "title", "textarea",
    "script", "style", "plaintext", "xmp", "iframe")

  /** (context, soup) fragment pairs, an equal run of documents per
    * context; the context is in the file name (`ctx-<tag>__NNNN.html`). */
  private def frag(contexts: Seq[String]) = {
    val tags = Seq("td", "tr", "table", "div", "p", "b", "i", "li", "ul", "option",
      "select", "span", "h1", "caption", "col", "frame", "head", "body", "html",
      "form", "input", "template", "a", "img")
    val words = Seq("one", "two", "three", "x")
    seeded(fragments = true)((i, count) =>
        f"ctx-${contexts(i * contexts.length / count)}__$i%04d.html") { rnd =>
      concat(rnd, 10 + rnd.nextInt(60)) {
        rnd.nextInt(8) match {
          case 0 | 1 | 2 => "<" + pick(rnd, tags) + ">"
          case 3 | 4 => "</" + pick(rnd, tags) + ">"
          case 5 | 6 => pick(rnd, words) + " "
          case _ => pick(rnd, Seq("<!--c-->", "&amp;", "<b>x", "</p>"))
        }
      }
    }
  }

  /** Script-data and raw-text stress inside the container `container`
    * draws: escapes (`<!--`), double escapes, bogus `</script` tails, dash
    * runs, partial `<`/`</`/`<s`, case-mixed end tags; half the documents
    * end at EOF inside the container. */
  private def script(container: Random => String) = {
    val pieces = Seq(
      "var a=1;", "if(a<b){}", "x-->y", "<!--", "-->", "<script>", "</script",
      "</script >", "</SCRIPT>", "<script", "a--b", "---", "<", "</", "<s",
      "//c\n", "'</script>'", "\"<!--\"", "s<!--x", "--!>", "<scr", "ipt>",
      " ", "y=z;")
    seeded()((i, _) => f"s$i%03d.html") { rnd =>
      val c = container(rnd)
      s"<p>pre</p><$c>" + concat(rnd, 3 + rnd.nextInt(25))(pick(rnd, pieces)) +
        (if (rnd.nextBoolean()) s"</$c><p>post</p>" else "")
    }
  }

  private val rawTextContainers =
    Seq("title", "textarea", "style", "xmp", "iframe", "noembed", "noframes", "plaintext")

  /** Kitchen sink: every family at once — misnests, tables, forms,
    * frameset, template, foreign content and integration points, entities
    * in text and attributes, comments/doctype/CDATA, stray slashes,
    * duplicate attributes; a fifth of the documents truncated. */
  private val kitchenSink = {
    val tags = Seq("b", "i", "a", "font", "nobr", "p", "div", "li", "ul", "td",
      "tr", "table", "caption", "select", "option", "form", "input", "template",
      "frameset", "frame", "noframes", "svg", "math", "mi", "g", "desc",
      "foreignobject", "annotation-xml", "title", "style", "script", "textarea",
      "h1", "h2", "menu", "menuitem", "ruby", "rb", "rt", "body", "html", "head", "br")
    val ents = Seq("&amp;", "&notin;", "&noti", "&curren", "&#x41;", "&#300;",
      "&copy1", "&ampx", "&GT;", "&prod;")
    val words = Seq("alpha", "beta", "g2", "x")
    seeded()((i, _) => f"k$i%04d.html") { rnd =>
      val s = concat(rnd, 15 + rnd.nextInt(120)) {
        rnd.nextInt(12) match {
          case 0 | 1 | 2 =>
            "<" + pick(rnd, tags) + (rnd.nextInt(4) match {
              case 0 =>
                val w = pick(rnd, words)
                s" a=$w a='${pick(rnd, ents)}'"
              case 1 => " / "
              case 2 => "/"
              case _ => ""
            }) + ">"
          case 3 | 4 => "</" + pick(rnd, tags) + ">"
          case 5 | 6 | 7 => pick(rnd, words) + " "
          case 8 => pick(rnd, ents)
          case 9 => pick(rnd, Seq("<!--c-->", "<!---->", "<!--", "<![CDATA[x]]>",
            "<!doctype html>", "</>", "<?pi x>"))
          case 10 => "<table>" + pick(rnd, words) + "<tr><td>"
          case _ => "<svg><g a/ >" + pick(rnd, words)
        }
      }
      if (rnd.nextInt(5) == 0 && s.length > 10) s.substring(0, 1 + rnd.nextInt(s.length - 1))
      else s
    }
  }

  /** Integration points and scoping markers: annotation-xml with varied
    * encoding values, marquee/applet/object, `<image>`, ruby implied
    * ends, details/dialog/hgroup, breakouts in both integration-point
    * kinds; every fifth document enters at INITIAL with no scaffolding.
    * One `Random(seedBase)` draws the whole corpus. */
  private val soup21 = {
    val encodings = Seq("text/html", "TEXT/HTML", "application/xhtml+xml",
      "text/plain", "Application/XHTML+xml", "")
    val scopers = Seq("marquee", "applet", "object", "template", "caption", "td")
    val rubyish = Seq("ruby", "rt", "rp", "rb", "rtc")
    val misc = Seq("details", "summary", "dialog", "hgroup", "figure",
      "figcaption", "image", "wbr", "data", "time")
    val fmt = Seq("b", "i", "em", "font", "s", "u")
    val foreign = Seq("math", "mi", "mtext", "annotation-xml", "svg", "desc",
      "foreignObject", "circle")
    val breakout = Seq("p", "h1", "div", "li", "table", "body", "br", "img")
    val words = Seq("alpha", "beta", "gamma", "x")
    def soup(rnd: Random) = concat(rnd, 12 + rnd.nextInt(60)) {
      rnd.nextInt(18) match {
        case 0 | 1 =>
          val enc = pick(rnd, encodings)
          if (enc.isEmpty) "<annotation-xml>"
          else "<annotation-xml encoding=" + (if (rnd.nextBoolean()) "\"" + enc + "\"" else enc) + ">"
        case 2 => "</annotation-xml>"
        case 3 | 4 => "<" + pick(rnd, scopers) + ">"
        case 5 => "</" + pick(rnd, scopers) + ">"
        case 6 => "<" + pick(rnd, rubyish) + ">"
        case 7 => "</" + pick(rnd, rubyish) + ">"
        case 8 | 9 => "<" + pick(rnd, misc) + ">"
        case 10 => "</" + pick(rnd, misc) + ">"
        case 11 => "<" + pick(rnd, fmt) + ">"
        case 12 => "</" + pick(rnd, fmt) + ">"
        case 13 => "<" + pick(rnd, foreign) + ">"
        case 14 => "</" + pick(rnd, foreign) + ">"
        case 15 => "<" + pick(rnd, breakout) + ">"
        case _ => pick(rnd, words) + " "
      }
    }
    Grammar(fragments = false, (seedBase, count) => {
      val rnd = new Random(seedBase)
      (0 until count).map { i =>
        val body = soup(rnd)
        doc(f"u$i%04d.html",
          if (i % 5 == 0) body else s"<!DOCTYPE html><html><body>$body</body></html>")
      }
    })
  }

  /** The corpora: twin rows share a grammar and differ in seed base. */
  val corpora: Seq[Corpus] = Seq(
    Corpus("docs", corpusGen, 0, 400),
    Corpus("docs5", soup5, 91000, 800),
    Corpus("docs6", soup5, 137000, 800),
    Corpus("docs7", soup7, 523000, 600),
    Corpus("docs8", soup7, 777000, 600),
    Corpus("docs9", ent, 331000, 400),
    Corpus("docs10", ent, 881000, 400),
    Corpus("docs11", soup9, 911000, 700),
    Corpus("docs12", soup9, 977000, 700),
    Corpus("docs15", frag(htmlContexts), 1500000, 700),
    Corpus("docs16", frag(foreignContexts.map(_._1)), 1600000, 200),
    Corpus("docs17", script(_ => "script"), 1700000, 500),
    Corpus("docs18", script(rnd => pick(rnd, rawTextContainers)), 1800000, 500),
    Corpus("docs19", kitchenSink, 1900000, 1500),
    Corpus("docs20", kitchenSink, 1990000, 1500),
    Corpus("docs21", soup21, 2103, 600))

  def corpus(name: String): Corpus = corpora.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"no corpus $name; one of ${corpora.map(_.name).mkString(", ")}"))

  /** The `*.html` files of `dir`, in file-name order. */
  def readDir(dir: Path): Seq[Doc] = {
    val files = Files.list(dir)
    try files.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".html"))
      .toSeq.sorted.map(n => Doc(n, Files.readAllBytes(dir.resolve(n))))
    finally files.close()
  }

  // -------------------------------------------------------------- dumper

  /** clear_text.pl semantics: skip comment/style/script/textarea only. */
  private val clearTextConfig = ExtractConfig(skipTags = Set("script", "style", "textarea"))

  private def esc(s: String, tabs: Boolean): String = {
    val e = s.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")
    if (tabs) e.replace("\t", "\\t") else e
  }

  private def label(n: Node): String = n.kind match {
    case NodeKind.Doctype => "!doctype"
    case NodeKind.Text    => "-text"
    case NodeKind.Comment => "_comment"
    case _                => n.name
  }

  /** `n0` and its following siblings, each before its subtree. */
  private def walk(n0: Node, depth: Int)(f: (Node, Int) => Unit): Unit = {
    var n = n0
    while (n != null) {
      f(n, depth)
      walk(n.firstChild, depth + 1)(f)
      n = n.next
    }
  }

  private val allAxes = Seq("html", "clear-text", "tree", "attrs", "offsets", "frag")

  /** Writes axis `axis` of `docs` to `out` as UTF-8. */
  def dump(axis: String, docs: Seq[Doc], out: OutputStream): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(out, UTF_8))
    def line(s: String): Unit = { w.write(s); w.write('\n') }
    def treeLine(n: Node, d: Int): Unit = {
      val t = if (n.kind == NodeKind.Text || n.kind == NodeKind.Comment) n.text else ""
      line("  " * d + label(n) + (if (t.nonEmpty) " [" + esc(t, tabs = false) + "]" else ""))
    }
    def attrLines(n: Node, d: Int): Unit = n.kind match {
      case NodeKind.Text => if (n.text.nonEmpty) line("T " + esc(n.text, tabs = true))
      case NodeKind.Element if n.attrs != null =>
        // the Perl binding's attribute hash: last value per name
        n.attrs.map(a => a.name -> a.value).toMap.toSeq.sortBy(_._1).foreach { case (k, v) =>
          line("A " + n.name + " " + esc(k, tabs = true) + "=" + esc(v, tabs = true))
        }
      case NodeKind.Doctype =>
        // the reference stores doctype parts as attributes: an empty-key
        // one carrying the system id (else the public id), then name=
        val id = Seq(n.systemId, n.publicId).find(s => s != null && s.nonEmpty)
        id.foreach(i => line("A !doctype =" + esc(i, tabs = true)))
        if (n.name != null && n.name.nonEmpty) line("A !doctype " + esc(n.name, tabs = true) + "=")
      case _ =>
    }
    require(allAxes.contains(axis), s"no axis $axis; one of ${allAxes.mkString(", ")}")
    docs.foreach { d =>
      line("### " + d.name)
      axis match {
        case "html" => w.flush(); out.write(d.bytes)
        case "clear-text" =>
          Extractor.extractHtml(d.html, clearTextConfig).foreach { s =>
            if (s.kind != "media") line(esc(s.text, tabs = true))
          }
        case "tree" => ArenaParse.withDoc(d.html)(doc => walk(doc.firstChild, 0)(treeLine))
        case "attrs" => ArenaParse.withDoc(d.html)(doc => walk(doc.firstChild, 0)(attrLines))
        case "offsets" => ArenaParse.withDoc(d.html)(doc => walk(doc.firstChild, 0) { (n, depth) =>
          line("  " * depth + label(n) + " @" + math.max(n.rawBegin, 0))
        })
        case "frag" =>
          val ctx = d.name.stripPrefix("ctx-").takeWhile(_ != '_')
          val ns = foreignContexts.toMap.getOrElse(ctx, Ns.HTML)
          // the synthetic html root is dumped too, as the reference does
          ArenaParse.withFragment(d.html, ctx, ns)(root => walk(root, 0)(treeLine))
      }
    }
    w.flush()
  }

  /** SHA-256 (hex) of `dump(axis, docs)`. */
  def sha256(axis: String, docs: Seq[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    dump(axis, docs, new DigestOutputStream(OutputStream.nullOutputStream(), md))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def main(args: Array[String]): Unit = args match {
    case Array("write", name, dir) =>
      val d = Files.createDirectories(Paths.get(dir))
      corpus(name).docs.foreach(doc => Files.write(d.resolve(doc.name), doc.bytes))
    case Array(axis, src, rest @ _*) if rest.length <= 1 =>
      val docs = if (Files.isDirectory(Paths.get(src))) readDir(Paths.get(src)) else corpus(src).docs
      rest.headOption match {
        case Some(file) =>
          val out = new FileOutputStream(file)
          try dump(axis, docs, out) finally out.close()
        case None => dump(axis, docs, System.out)
      }
    case _ =>
      System.err.println(
        "usage: ParityCorpora write <corpus> <dir> | ParityCorpora <axis> <corpus|dir> [out-file]")
      sys.exit(2)
  }
}
