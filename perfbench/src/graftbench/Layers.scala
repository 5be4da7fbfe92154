package graftbench

import graft.html.{ArenaParse, Encodings, Extractor, HtmlParser}
import graft.spark.{CorpusGen, HtmlUdfs, Pipeline}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, col, lit, pmod, xxhash64}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** A seeded CorpusGen corpus written to parquet, with the per-document
  * digest of the spans the generator planted in it. */
final class Corpus(spark: SparkSession, val dir: String, val docs: Long, seed: Long,
                   blocksScale: Int, parallelism: Int, val batches: Int = 1) {
  import Corpus.GiantEvery

  def write(): Unit =
    CorpusGen.inputDs(spark, docs, seed, GiantEvery, parallelism, blocksScale)
      .write.mode("overwrite").parquet(dir)

  def df: DataFrame = spark.read.parquet(dir)

  def bytesOnDisk: Long =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum

  /** doc_id -> (digest of the expected spans, batch of the doc under
    * Pipeline.runBatched); garbage docs have no expectation and are left out. */
  def expected(): java.util.HashMap[String, (Long, Int)] = {
    import spark.implicits._
    val (s, g, b, n) = (seed, blocksScale, batches, docs)
    val rows = spark.range(0, n, 1, parallelism)
      .flatMap { id =>
        val d = CorpusGen.genDoc(id, s, GiantEvery, g)
        if (d.garbage) Iterator.empty else Iterator((d.doc_id, d.expected))
      }
      .toDF("doc_id", "spans")
      .select(col("doc_id"), xxhash64(col("spans")),
        pmod(xxhash64(col("doc_id")), lit(b)).cast("int"))
      .as[(String, Long, Int)].collect()
    val m = new java.util.HashMap[String, (Long, Int)](rows.length * 2)
    rows.foreach { case (id, h, batch) => m.put(id, (h, batch)) }
    m
  }

  /** The first `n` documents' html spans, as the extraction kernel's input
    * (one html span per document). */
  def htmlSample(n: Int): Seq[String] =
    df.limit(n).select(col("spans")).collect().toSeq.flatMap { row =>
      row.getSeq[org.apache.spark.sql.Row](0).filter(_.getString(0) == "html").map(_.getString(1))
    }
}

object Corpus {
  val GiantEvery = 1000

  /** Per-doc digest of extracted spans, for comparison with `expected`. */
  def digests(out: DataFrame): DataFrame =
    out.select(col("doc_id"), xxhash64(col("spans")).as("h"))

  final case class Check(expected: Int, matched: Int, wrongBatches: Set[Int])

  /** Compares output digests with the expected ones. A doc that is
    * missing, duplicated or different is wrong; its batch is reported. */
  def check(got: Array[(String, Long)], exp: java.util.HashMap[String, (Long, Int)]): Check = {
    val seen = new java.util.HashSet[String](got.length * 2)
    var matched = 0
    val wrong = scala.collection.mutable.Set.empty[Int]
    got.foreach { case (id, h) =>
      val e = exp.get(id)
      if (e != null) {
        if (seen.add(id) && e._1 == h) matched += 1 else wrong += e._2
      }
    }
    exp.asScala.foreach { case (id, (_, b)) => if (!seen.contains(id)) wrong += b }
    Check(exp.size, matched, wrong.toSet)
  }
}

/** Single-threaded ladder over the public calls of each html layer: each
  * step's self time is its call's time minus the previous step's. */
object HtmlLadder {
  private def kernelInput(html: String): ArrayData =
    new GenericArrayData(Array[Any](InternalRow(UTF8String.fromString("html"),
      UTF8String.fromString(html), UTF8String.EMPTY_UTF8, 0)))

  /** Bytes each sweep covers at least; a small sample is cycled to reach it. */
  private val SweepBytes = 8L << 20

  def run(ctx: Ctx, htmls: Seq[String], sweeps: Int = 5): Unit = {
    val r = ctx.r
    val sampleBytes = math.max(htmls.map(_.length.toLong).sum, 1L)
    val docs = Array.fill(math.ceil(SweepBytes.toDouble / sampleBytes).toInt)(htmls).flatten
    val bytes = docs.map(_.getBytes(StandardCharsets.UTF_8))
    val inputs = docs.map(kernelInput)
    val mb = bytes.map(_.length.toLong).sum / 1e6
    val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]

    def sweep(name: String, pass: Long)(f: Int => Unit): Double =
      Trace.span(name, pass) {
        val t0 = System.nanoTime()
        var i = 0
        while (i < docs.length) { f(i); i += 1 }
        Stat.secondsSince(t0)
      }
    val tok, parse, extract, convert, sniff = scala.collection.mutable.ArrayBuffer.empty[Double]
    var allocPerDoc = 0.0
    var sink = 0L
    for (pass <- 0 to sweeps) Trace.span("ladder.sweep", pass) {
      val t = sweep("html.tokenizer", pass)(i => HtmlParser.tokenizeWith(docs(i))(_ => sink += 1))
      val p = sweep("html.treebuilder", pass)(i => ArenaParse.withDoc(docs(i))(d => sink += d.hashCode & 1))
      val e = sweep("html.extractor", pass)(i => sink += Extractor.extractHtml(docs(i)).length)
      val a0 = threadBean.getCurrentThreadAllocatedBytes
      val c = sweep("spark.htmludfs.convert", pass)(i => sink += HtmlUdfs.extractInterleaved(inputs(i)).numElements())
      val alloc = threadBean.getCurrentThreadAllocatedBytes - a0
      val s = sweep("html.encodings", pass) { i =>
        val cs = Encodings.sniff(bytes(i))
        sink += Encodings.decode(bytes(i), cs).length
      }
      if (pass > 0) { // pass 0 warms the JIT
        tok += t; parse += p; extract += e; convert += c; sniff += s
        allocPerDoc = alloc.toDouble / docs.length
      }
    }
    val (t, p, e, c) = (Stat.median(tok.toSeq), Stat.median(parse.toSeq),
      Stat.median(extract.toSeq), Stat.median(convert.toSeq))
    r.metric("html.tokenizer.self_ms_per_mb", t * 1000 / mb, "ms/MB")
    r.metric("html.treebuilder.self_ms_per_mb", (p - t) * 1000 / mb, "ms/MB")
    r.metric("html.extractor.self_ms_per_mb", (e - p) * 1000 / mb, "ms/MB")
    r.metric("spark.htmludfs.convert_self_ms_per_mb", (c - e) * 1000 / mb, "ms/MB")
    r.metric("jvm.alloc_bytes_per_doc", allocPerDoc, "bytes")
    r.metric("html.encodings.sniff_mb_per_s", mb / Stat.median(sniff.toSeq), "MB/s")
    r.info("ladder") = Obj(Seq("docs" -> docs.length, "distinct_docs" -> htmls.size, "mb" -> mb, "sweeps" -> sweeps,
      "checksum" -> sink))
  }
}

/** The Spark stages of an extraction pass, timed one at a time on the same
  * corpus: scan, scan + kernel, salted shuffle, the full columnar pass and
  * the typed pass. */
object StageLadder {
  /** Runs a query to completion without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def kernel(df: DataFrame): DataFrame =
    df.withColumn("spans", call_function("extract_interleaved_spans", col("spans")))

  def run(ctx: Ctx, corpus: Corpus, cfg: Pipeline.Config, reps: Int = 2): Unit = {
    val r = ctx.r
    val st = ctx.stats
    def time(name: String, pass: Long)(f: => Unit): (Double, st.Window) = {
      val m = st.mark()
      val (_, s) = Stat.timed(Trace.span(name, pass)(f))
      (s, st.since(m))
    }
    val scan, kern, shuffle, columnar, typed = scala.collection.mutable.ArrayBuffer.empty[Double]
    var columnarWindow: st.Window = null
    var evals = 0L
    var lineage = 0L
    for (pass <- 0 until reps) {
      scan += time("spark.scan", pass)(noop(corpus.df))._1
      kern += time("spark.kernel_stage", pass)(noop(kernel(corpus.df)))._1
      shuffle += time("spark.pipeline.shuffle", pass)(noop(Pipeline.saltedRepartition(corpus.df, cfg)))._1
      val e0 = HtmlUdfs.interleavedEvals.get()
      val (cs, w) = time("spark.pipeline.columnar", pass)(noop(Pipeline.extractColumnar(corpus.df, cfg)))
      evals = HtmlUdfs.interleavedEvals.get() - e0
      columnar += cs
      columnarWindow = w
      typed += time("spark.pipeline.typed", pass) {
        val (ds, acc) = Pipeline.extract(ctx.spark, corpus.df, cfg)
        noop(ds.toDF())
        lineage = acc.value.asScala.map(_.docs_in).sum
      }._1
    }
    val n = corpus.docs.toDouble
    r.metric("spark.scan_s", Stat.median(scan.toSeq), "s")
    r.metric("spark.kernel_stage_s", Stat.median(kern.toSeq), "s")
    r.metric("spark.pipeline.shuffle_s", Stat.median(shuffle.toSeq), "s")
    r.metric("spark.pipeline.typed_codec_s",
      Stat.median(typed.toSeq) - Stat.median(columnar.toSeq), "s")
    r.metric("spark.htmludfs.parses_per_doc", evals / n, "ratio")
    r.metric("spark.pipeline.shuffle_bytes_per_doc", columnarWindow.shuffleWrite / n, "bytes")
    r.metric("spark.pipeline.lineage_docs_ratio", lineage / n, "ratio")
    columnarWindow.heaviest.foreach { k =>
      val runs = columnarWindow.taskRunMs(k.id)
      r.metric("spark.pipeline.task_skew",
        if (runs.isEmpty) 0.0 else runs.max / math.max(Stat.median(runs), 1.0), "ratio")
      r.metric("spark.task_busy_frac",
        k.runMs.toDouble / math.max(ctx.cpus * k.wallMs, 1L), "ratio")
      r.metric("spark.gc_frac", k.gcMs.toDouble / math.max(k.runMs, 1L), "ratio")
    }
  }

  /** Docs/s of scan + kernel (no shuffle) over the same files on one core
    * and on all cores, back to back; returns tp(all) / (cpus * tp(1)). */
  def scalingPair(ctx: Ctx, sample: Corpus, pass: Long, r: Result): Option[Double] = {
    def tp(name: String, df: DataFrame): Option[Double] =
      r.attempt(name)(Trace.span(name, pass) {
        val (_, s) = Stat.timed(noop(kernel(df)))
        sample.docs / s
      })
    for {
      hi <- tp("spark.scaling.all_cores", sample.df)
      lo <- tp("spark.scaling.one_core", sample.df.coalesce(1))
    } yield hi / (ctx.cpus * lo)
  }
}
