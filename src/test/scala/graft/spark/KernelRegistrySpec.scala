package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, col, lit, when}
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Walks every KernelRegistry row: generated code and interpreted eval
  * agree on a sample input, NULL in gives NULL out, the plan names the
  * SQL function, and literal arguments are checked at function build. */
class KernelRegistrySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def u(s: String) = UTF8String.fromString(s)
  private def arr(xs: Any*) = new GenericArrayData(xs.toArray)

  private val html = "<html><head><title>T</title><meta name=description " +
    "content=d><link rel=alternate hreflang=de href=/de></head><body><h1>H</h1>" +
    "<p>Hello <a href='/x'>world</a>, some more words here.</p>" +
    "<table><tr><td>c</td></tr></table></body></html>"
  private val robots = "User-agent: *\nDisallow: /x\nSitemap: http://a/s.xml\n"
  private val floats = ArrayType(FloatType, containsNull = true)
  private val bytes = ArrayType(ByteType, containsNull = true)

  /** Column arguments of a row: an override, else one value per JVM
    * parameter type of its static method. */
  private val colSamples: Map[String, Seq[(Any, DataType)]] = Map(
    "parse_fragment_text" -> Seq(u("<td>a<b>b</b>"), u("tr")).map(_ -> StringType),
    "graft_hamming_hex" -> Seq(u("a1b2"), u("A1B3")).map(_ -> StringType),
    "graft_robots_allows" -> Seq(u(robots), u("bot"), u("/x/y")).map(_ -> StringType),
    "graft_robots_meta" -> Seq(u(robots), u("bot")).map(_ -> StringType),
    "graft_hamming64" -> Seq(5L -> LongType, -9L -> LongType),
    "graft_warc_records" -> Seq(WarcUdfs.compose(u("http://a/"), u("2024"), u(html))
      .getBytes -> BinaryType),
    "graft_warc_index" -> Seq(WarcUdfs.compose(u("http://a/"), u("2024"), u(html))
      .getBytes -> BinaryType),
    "graft_pdf_info" -> Seq("%PDF-1.4\n1 0 obj<</Type/Page>>endobj\n%%EOF"
      .getBytes -> BinaryType),
    "graft_pdf_text" -> Seq(("%PDF-1.4\n1 0 obj<<>>stream\nBT (Hi) Tj ET\n" +
      "endstream endobj\n%%EOF").getBytes -> BinaryType),
    "extract_interleaved_spans" -> Seq(arr(
      InternalRow(u("html"), u(html), u(""), 0),
      InternalRow(u("media"), u(""), u("m://1"), 9))
      -> HtmlUdfs.spanArrayType),
    "graft_cosine" -> Seq(arr(1f, 2f, 3f) -> floats, arr(3f, -1f, 0.5f) -> floats),
    "graft_quantize_i8" -> Seq(arr(0.5f, -2f, 1f) -> floats),
    "graft_cosine_i8" -> Seq(arr(1.toByte, -3.toByte) -> bytes,
      arr(2.toByte, 7.toByte) -> bytes),
    "graft_hyperplane_sig" -> Seq(arr(0.5f, -2f, 1f, 4f) -> floats))

  private val litSamples: Map[String, Seq[Int]] = Map(
    "graft_ngrams" -> Seq(2), "graft_cdc_chunks" -> Seq(3),
    "graft_minhash" -> Seq(4), "graft_minhash_shingle" -> Seq(4, 3),
    "graft_jaccard_shingle" -> Seq(3), "graft_repetition_ok" -> Seq(10, 3, 5),
    "graft_hyperplane_sig" -> Seq(8, 42))

  /** Out-of-range literal sets: today's range requires. */
  private val badLits: Map[String, Seq[Int]] = Map(
    "graft_ngrams" -> Seq(0), "graft_cdc_chunks" -> Seq(1),
    "graft_repetition_ok" -> Seq(0, 3, 5))

  private def columns(k: Kernel): Seq[(Any, DataType)] =
    colSamples.getOrElse(k.name, k.javaMethod.getParameterTypes.toSeq.indices
      .filterNot(k.isLit).map(i => k.javaMethod.getParameterTypes()(i)).map {
        case c if c == classOf[UTF8String] => u(html) -> StringType
        case c if c == classOf[Array[Byte]] => html.getBytes -> BinaryType
        case c => fail(s"${k.name}: no sample for parameter type $c")
      })

  /** The kernel over BoundReferences to `cols`, literals inlined. */
  private def bound(k: Kernel, cols: Seq[(Any, DataType)], nullable: Boolean): Expression = {
    val c = cols.indices.iterator
    val l = litSamples.getOrElse(k.name, Nil).iterator
    k.build(k.args.indices.map { i =>
      if (k.isLit(i)) Literal(l.next(), IntegerType)
      else { val j = c.next(); BoundReference(j, cols(j)._2, nullable) }
    })
  }

  /** (generated, interpreted) result rows for one input row. */
  private def both(e: Expression, row: InternalRow): (UnsafeRow, UnsafeRow) =
    (GenerateUnsafeProjection.generate(Seq(e)).apply(row).copy(),
      InterpretedUnsafeProjection.createProjection(Seq(e)).apply(row).copy())

  test("every SQL name appears exactly once; every row resolves its method") {
    val names = KernelRegistry.rows.map(_.name)
    assert(names.distinct == names)
    assert(GraftSql.entries.map(_._1).distinct.size == GraftSql.entries.size)
    KernelRegistry.rows.foreach(k => assert(k.handle != null, k.name))
  }

  test("generated code and interpreted eval agree on every row") {
    for (k <- KernelRegistry.rows; nullable <- Seq(false, true)) {
      val cols = columns(k)
      val row = InternalRow.fromSeq(cols.map(_._1))
      val (gen, interp) = both(bound(k, cols, nullable), row)
      assert(!gen.isNullAt(0), s"${k.name}: sample gave NULL")
      assert(gen == interp, s"${k.name} (nullable children = $nullable)")
    }
  }

  test("NULL in any column argument gives NULL on both paths") {
    for (k <- KernelRegistry.rows) {
      val cols = columns(k)
      for (j <- cols.indices) {
        val row = InternalRow.fromSeq(cols.indices.map(i => if (i == j) null else cols(i)._1))
        val (gen, interp) = both(bound(k, cols, nullable = true), row)
        assert(gen.isNullAt(0) && interp.isNullAt(0), s"${k.name}: argument ${j + 1}")
      }
    }
  }

  test("nullableResult kernels return NULL through codegen on their trigger") {
    val triggers: Seq[(String, Seq[(Any, DataType)])] = Seq(
      "graft_blockhash" -> Seq(Array.emptyByteArray -> BinaryType),
      "graft_cosine" -> Seq(arr(1f, 2f) -> floats, arr(1f) -> floats),
      "graft_cosine_i8" -> Seq(arr(1.toByte, 2.toByte) -> bytes, arr(1.toByte) -> bytes),
      "graft_quantize_i8" -> Seq(arr(1f, null, 2f) -> floats))
    assert(triggers.map(_._1).toSet ==
      KernelRegistry.rows.filter(_.nullableResult).map(_.name).toSet)
    for ((name, cols) <- triggers; nullable <- Seq(false, true)) {
      val row = InternalRow.fromSeq(cols.map(_._1))
      val (gen, interp) = both(bound(KernelRegistry.byName(name), cols, nullable), row)
      assert(gen.isNullAt(0) && interp.isNullAt(0), s"$name (nullable children = $nullable)")
    }
  }

  test("plans name every kernel by its SQL name") {
    for (k <- KernelRegistry.rows) {
      val cols = columns(k).iterator
      val l = litSamples.getOrElse(k.name, Nil).iterator
      // CASE WHEN keeps the input non-foldable, so the call survives to
      // the executed plan instead of being constant-folded
      val args = k.args.indices.map { i =>
        if (k.isLit(i)) lit(l.next())
        else { val (v, dt) = cols.next(); when(col("id") >= 0, GraftSql.column(Literal(v, dt))) }
      }
      val df = spark.range(1).select(call_function(k.name, args: _*))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(s"${k.name}(") && !plan.contains(s"${k.name}(${k.name}") &&
        !plan.contains("KernelExpr"),
        s"${k.name}:\n$plan")
      assert(df.collect().head.get(0) != null, k.name)
    }
  }

  test("literal positions must be in-range Int literals at function build") {
    for (k <- KernelRegistry.rows if k.args.contains('i')) {
      val cols = columns(k)
      val good = litSamples(k.name)
      def args(lits: Seq[Expression]): Seq[Expression] = {
        val c = cols.iterator; val l = lits.iterator
        k.args.indices.map(i =>
          if (k.isLit(i)) l.next() else { val (v, dt) = c.next(); Literal(v, dt) })
      }
      val nonLit = BoundReference(0, IntegerType, nullable = false)
      intercept[IllegalArgumentException](k.build(args(good.map(_ => nonLit))))
      intercept[IllegalArgumentException](k.build(args(good.map(v => Literal(v.toLong)))))
      intercept[IllegalArgumentException](
        k.build(args(good.map(_ => Literal(null, IntegerType)))))
      badLits.get(k.name).foreach(bad =>
        intercept[IllegalArgumentException](k.build(args(bad.map(Literal(_))))))
      intercept[IllegalArgumentException](k.build(args(good.map(Literal(_))).dropRight(1)))
    }
    val e = intercept[Exception](spark.range(1)
      .select(call_function("graft_ngrams", lit("a b"), col("id").cast("int"))).collect())
    assert(e.getMessage.contains("INT literal"), e.getMessage)
  }

  test("whole-stage code calls the kernels directly, never through a handle") {
    val input = CorpusGen.inputDs(spark, 20, parallelism = 2).toDF()
    val columnar = Pipeline.extractColumnar(input, Pipeline.Config(partitions = 2))
    columnar.collect()
    val code = columnar.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(code.split(java.util.regex.Pattern.quote(
      "graft.spark.HtmlUdfs.extractInterleaved(")).length == 2, code)
    assert(!code.contains("invokeWithArguments") && !code.contains("KernelExpr"))
    val q = graft.SparkEntry.queries("q_html_extract")(spark, "testdata_adv/sf0.001")
    q.collect()
    val qCode = q.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(qCode.contains("graft.spark.HtmlUdfs.parseSpans("), qCode)
    assert(!qCode.contains("invokeWithArguments") && !qCode.contains("KernelExpr"))
  }
}
