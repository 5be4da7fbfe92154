package graft.spark

import java.lang.invoke.{MethodHandle, MethodHandles}
import java.lang.reflect.Modifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** One native kernel: the SQL function `name` is one call to the static
  * method `owner.method` per row.
  *
  * `args` has one character per argument: 'c' is a column, 'i' an Int
  * literal that is inlined into the call. `build` checks the literals
  * (foldable INT, then `checkLits` for range) when the function is built.
  * `nullableResult` marks kernels that return NULL from non-null input;
  * codegen then routes the result through an isNull slot (without it a
  * non-nullable plan has no isNull slot and the null is lost). */
final case class Kernel(name: String, owner: String, method: String,
    dataType: DataType, args: String = "c", nullableResult: Boolean = false,
    checkLits: Seq[Int] => Unit = _ => ()) {

  def isLit(i: Int): Boolean = args.charAt(i) == 'i'

  /** The one public static method named `method` with this arity. */
  lazy val javaMethod: java.lang.reflect.Method = {
    val ms = Class.forName(owner).getMethods.filter(m => m.getName == method &&
      m.getParameterCount == args.length && Modifier.isStatic(m.getModifiers))
    require(ms.length == 1,
      s"$name: want one static $owner.$method/${args.length}, found ${ms.length}")
    ms.head
  }

  /** Handle the interpreted path calls: the same method codegen emits. */
  lazy val handle: MethodHandle = MethodHandles.publicLookup().unreflect(javaMethod)

  def build(in: Seq[Expression]): Expression = {
    require(in.length == args.length,
      s"$name takes ${args.length} arguments, got ${in.length}")
    val lits = in.indices.filter(isLit).map { i =>
      val e = in(i)
      val v = if (e.foldable && e.dataType == IntegerType) e.eval() else null
      require(v != null, s"$name: argument ${i + 1} must be a non-null INT literal, got ${e.sql}")
      v.asInstanceOf[Int]
    }
    checkLits(lits)
    val l = lits.iterator
    KernelExpr(name, in.indices.map(i => if (isLit(i)) Literal(l.next()) else in(i)))
  }
}

/** Every native kernel, one row each. GraftSql.entries registers these
  * (plus graft_attr_match_counts) for both registerAll and
  * GraftExtensions. Adding a kernel means adding one row here. */
object KernelRegistry {
  private val Html = "graft.spark.HtmlUdfs"
  private val Media = "graft.spark.MediaUdfs"
  private val Vec = "graft.spark.VecUdfs"
  private val Text = "graft.spark.TextKernels"
  private val Warc = "graft.spark.WarcUdfs"
  private val Robots = "graft.spark.RobotsMetaUdf"
  private val Pdf = "graft.spark.PdfUdfs"

  // Array/struct-valued HTML kernels parse once per row (counter-pinned).
  // Explode them with explode_outer + isNotNull: a plain explode
  // triple-evaluates the kernel via InferFiltersFromGenerate. Consume
  // struct kernels by projection, never filter on getField: the collapsed
  // predicate re-evaluates the kernel per field (the graft_repetition
  // lesson).
  val rows: Seq[Kernel] = Seq(
    Kernel("parse_html_spans", Html, "parseSpans", HtmlUdfs.spanArrayType),
    Kernel("parse_html_text", Html, "parseText", StringType),
    Kernel("serialize_html", Html, "roundtripHtml", StringType),
    Kernel("prescan_charset", Html, "sniffCharset", StringType),
    Kernel("html_quirks_mode", Html, "quirksMode", StringType),
    Kernel("tokenize_html", Html, "tokenizeHtml", HtmlUdfs.tokenArrayType),
    Kernel("parse_html_nodes", Html, "domNodes", HtmlUdfs.nodeArrayType),
    // array<struct<node_id,parent_id,depth,tag,ns,ntype,text,attrs,offset>>
    Kernel("graft_node_table", Html, "nodeTable", HtmlUdfs.nodeTableArrayType),
    // array<struct<node_id,href,anchor>>
    Kernel("graft_link_table", Html, "linkTable", HtmlUdfs.linkArrayType),
    // struct(title, lang, base, canonical, description, robots, og_title,
    // meta_count): project a field first to filter on it
    Kernel("graft_page_meta", Html, "pageMeta", HtmlUdfs.pageMetaStructType),
    // array<struct<table_id,row_id,col_id,is_header,text>>
    Kernel("graft_table_cells", Html, "tableCells", HtmlUdfs.tableCellArrayType),
    // the rowspan-occupancy variant of graft_table_cells (same struct)
    Kernel("graft_table_grid", Html, "tableGrid", HtmlUdfs.tableCellArrayType),
    // array<struct<entry_id,kind,loc,lastmod,priority>>
    Kernel("graft_sitemap", Html, "sitemapTable", HtmlUdfs.sitemapArrayType),
    // array<struct<entry_id,kind,title,link,updated,uid>>
    Kernel("graft_feed", Html, "feedTable", HtmlUdfs.feedArrayType),
    // struct(meta_time, time_attr)
    Kernel("graft_pub_date", Html, "pubDate", HtmlUdfs.pubDateStructType),
    // WebVTT/SRT cues: array<struct<cue_id,start_ms,end_ms,text>>
    Kernel("graft_subtitles", Html, "subtitleTable", HtmlUdfs.subtitleArrayType),
    // array<struct<alt_id,lang,href>>
    Kernel("graft_hreflang", Html, "hreflangTable", HtmlUdfs.hreflangArrayType),
    // array<struct<script_id,raw>>; compose with from_json to parse
    Kernel("graft_jsonld", Html, "jsonldTable", HtmlUdfs.jsonldArrayType),
    Kernel("graft_density_blocks", Html, "densityBlocks", HtmlUdfs.densityBlockArrayType),
    Kernel("extract_interleaved_spans", Html, "extractInterleaved", HtmlUdfs.spanArrayType),
    Kernel("parse_fragment_text", Html, "fragmentText", StringType, "cc"),
    Kernel("extract_main_text", Html, "mainText", StringType),
    Kernel("extract_dense_text", Html, "denseText", StringType),
    // block/inline/whitespace conventions: HtmlUdfs.markdown
    Kernel("graft_markdown", Html, "markdown", StringType),
    // public-suffix lookup per row, never a join: the rule table is a
    // static structure loaded once per executor
    Kernel("graft_registrable_domain", "graft.ops.Psl", "registrableU8", StringType),

    // cosine over float arrays; NULL on length mismatch or a null element
    Kernel("graft_cosine", Vec, "cosine", DoubleType, "cc", nullableResult = true),
    // NULL when an element is null
    Kernel("graft_quantize_i8", Vec, "quantizeI8",
      ArrayType(ByteType, containsNull = false), nullableResult = true),
    // NULL on length mismatch or a null element
    Kernel("graft_cosine_i8", Vec, "cosineI8", DoubleType, "cc", nullableResult = true),
    // (vec, planes, seed): the LSH bucket key
    Kernel("graft_hyperplane_sig", Vec, "hyperplaneSig", IntegerType, "cii"),

    Kernel("graft_ngrams", Text, "ngrams", ArrayType(StringType, containsNull = false), "ci",
      checkLits = { case Seq(n) => require(n >= 1, s"n-gram size must be >= 1: $n") }),
    Kernel("graft_cdc_chunks", Text, "cdcChunks", TextKernels.cdcChunkArrayType, "ci",
      checkLits = { case Seq(m) => require(m >= 2, s"cdc modulus must be >= 2: $m") }),
    Kernel("graft_simhash64", Text, "simhash64", LongType),
    // (text, k): k permutation minima
    Kernel("graft_minhash", Text, "minhash", ArrayType(LongType, containsNull = false), "ci"),
    Kernel("graft_jaccard", Text, "jaccard", DoubleType, "cc"),
    // (text, k, n): minhash over character n-grams
    Kernel("graft_minhash_shingle", Text, "minhashShingle",
      ArrayType(LongType, containsNull = false), "cii"),
    // (a, b, n): Jaccard over character n-gram sets
    Kernel("graft_jaccard_shingle", Text, "jaccardShingle", DoubleType, "cci"),
    Kernel("graft_compress_ratio", Text, "compressRatio", IntegerType),
    Kernel("graft_hamming64", Text, "hamming64", IntegerType, "cc"),
    Kernel("graft_fingerprint64", Text, "fingerprint64", LongType),
    Kernel("graft_demojibake", Text, "demojibake", StringType),
    Kernel("graft_nfc", Text, "nfc", StringType),
    // struct of 10 ints; consume by projection
    Kernel("graft_repetition", Text, "repetition", TextKernels.repetitionStructType),
    // (text, a, b, c): the filter-side gate, one kernel eval per row
    Kernel("graft_repetition_ok", Text, "repetitionOk", BooleanType, "ciii",
      checkLits = { case Seq(a, b, c) =>
        require(a >= 1 && b >= 0 && c >= 1, s"bad repetition caps: $a $b $c") }),
    // struct(lm_score, n_trigrams); consume by projection
    Kernel("graft_lm_score", Text, "lmScore", TextKernels.lmScoreStructType),
    // struct of 9 ints; derive drop rules in the projection
    Kernel("graft_c4_rules", Text, "c4Rules", TextKernels.c4RulesStructType),
    Kernel("graft_bpe_count", Text, "bpeCount", IntegerType),
    // the filter-side twin of graft_quality_model
    Kernel("graft_quality_score", Text, "qualityScore", LongType),
    Kernel("graft_bpe_tokens", Text, "bpeTokens", StringType),
    // struct(score, n_bigrams); consume by projection, gate on score > 0
    Kernel("graft_quality_model", Text, "qualityModel", TextKernels.qualityModelStructType),
    Kernel("graft_lang_id", Text, "langId", StringType),

    // struct<format,width,height,depth>
    Kernel("graft_image_header", Media, "imageHeader", MediaUdfs.headerStructType),
    // struct<format,channels,sample_rate,bits>
    Kernel("graft_audio_header", Media, "audioHeader", MediaUdfs.audioStructType),
    // struct<version,bitrate_kbps,sample_rate,channels,ok>
    Kernel("graft_mp3_header", Media, "mp3Header", MediaUdfs.mp3StructType),
    // struct<brand,timescale,duration_ms,ok>
    Kernel("graft_video_header", Media, "videoHeader", MediaUdfs.videoStructType),
    // struct<byte_order,width,height,orientation,entries,ok>
    Kernel("graft_exif", Media, "exifHeader", MediaUdfs.exifStructType),
    // struct(lat_udeg, lon_udeg, ok)
    Kernel("graft_gps", Media, "gpsHeader", MediaUdfs.gpsStructType),
    // NULL for an empty payload
    Kernel("graft_blockhash", Media, "blockhash", StringType, nullableResult = true),
    // -1 on length mismatch or non-hex input
    Kernel("graft_hamming_hex", Media, "hammingHex", IntegerType, "cc"),

    Kernel("graft_warc_records", Warc, "splitRecords", WarcUdfs.recordArrayType),
    Kernel("graft_warc_index", Warc, "indexRecords", WarcUdfs.indexArrayType),
    // (uri, date, body); round-trips through graft_warc_records
    Kernel("graft_warc_compose", Warc, "compose", StringType, "ccc"),
    // (uri, date, refers_to, text)
    Kernel("graft_warc_compose_wet", Warc, "composeWet", StringType, "cccc"),
    // (robots_txt, agent, path)
    Kernel("graft_robots_allows", Robots, "allows", BooleanType, "ccc"),
    // (robots_txt, agent) → struct(sitemaps, crawl_delay)
    Kernel("graft_robots_meta", Robots, "meta", RobotsMetaUdf.structType, "cc"),

    // struct<version,pages,objects,ok>
    Kernel("graft_pdf_info", Pdf, "infoRow", PdfUdfs.infoStructType),
    Kernel("graft_pdf_text", Pdf, "textUtf8", StringType)
  )

  val byName: Map[String, Kernel] = rows.map(k => k.name -> k).toMap
}

/** A native kernel call as a Catalyst expression. Codegen emits the
  * row's single static call (Int literals inlined), so the kernel stays
  * inside whole-stage codegen; interpreted eval invokes the same method
  * through the row's cached handle. NULL input gives NULL. */
case class KernelExpr(name: String, children: Seq[Expression]) extends Expression {
  @transient private lazy val kernel = KernelRegistry.byName(name)
  @transient private lazy val childArr = children.toArray

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullableResult || children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](childArr.length)
    var i = 0
    while (i < args.length) {
      val v = childArr(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    kernel.handle.invokeWithArguments(args: _*)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = kernel
    val gens = children.indices.map(i => if (k.isLit(i)) None else Some(children(i).genCode(ctx)))
    val call = s"${k.owner}.${k.method}(" + children.indices.map(i =>
      gens(i).fold(children(i).eval().toString)(_.value.toString)).mkString(", ") + ")"
    val javaType = CodeGenerator.javaType(dataType)
    val assign =
      if (!k.nullableResult) s"${ev.value} = $call;"
      else {
        val r = ctx.freshName("kernelResult")
        val unbox = if (CodeGenerator.isPrimitiveType(dataType)) s".${javaType}Value()" else ""
        s"""${CodeGenerator.boxedType(dataType)} $r = $call;
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r$unbox; }""".stripMargin
      }
    val cols = children.indices.flatMap(i => gens(i).map(_ -> children(i)))
    if (nullable) {
      val body = cols.foldRight(s"${ev.isNull} = false;\n$assign") { case ((g, c), inner) =>
        g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${cols.map(_._1.code.toString).mkString("\n")}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $assign""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelExpr = copy(children = newChildren)
}
