package graft.spark

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  /** Spark jobs started by `f` on this thread, counted by a listener; a
    * sentinel job after `f` flushes the asynchronous listener bus. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.put(Option(j.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("jobs-under-test")
      try f finally sc.setJobDescription("jobs-sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      var jobs = 0
      var d = ""
      while (d != "jobs-sentinel") {
        d = seen.poll(60, TimeUnit.SECONDS)
        if (d == null) throw new AssertionError("the sentinel job never reached the listener")
        if (d == "jobs-under-test") jobs += 1
      }
      jobs
    } finally sc.removeSparkListener(listener)
  }
}

/** Pipeline E2E (FIXTURES.md §6 t1/t2): constructive expected spans vs
  * engine output, per-row ordered equality — BASELINE.json's correctness
  * invariant. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark

  test("t1 smoke: 200 docs — span-sequence equality vs constructive expected") {
    import spark.implicits._
    val n = 200
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
    val expected = CorpusGen.expectedDf(spark, n, parallelism = 4).as[DocRow]
    val (out, _) = Pipeline.extract(spark, input.toDF(),
      Pipeline.Config(partitions = 4, giantBuckets = 2, numBatches = 2))
    val got = out.collect().map(d => d.doc_id -> d.spans).toMap
    val exp = expected.collect().map(d => d.doc_id -> d.spans).toMap
    assert(got.keySet == exp.keySet)
    var checked = 0
    exp.foreach { case (id, expSpans) =>
      if (!id.startsWith("garbage-")) {
        assert(got(id) == expSpans,
          s"span mismatch for $id\n got: ${got(id).take(5)}\n exp: ${expSpans.take(5)}")
        checked += 1
      } else {
        // garbage docs must not fail the job; spans may be anything
        assert(got.contains(id))
      }
    }
    assert(checked > 150, s"too few non-garbage docs checked: $checked")
  }

  test("offsets index into the reconstructed source document") {
    val g = CorpusGen.genDoc(7)
    val source = {
      val sb = new StringBuilder
      g.spans.foreach { s =>
        assert(s.offset == sb.length, "input spans must tile the source")
        sb.append(if (s.kind == "media") "" else s.text)
      }
      sb.toString
    }
    val out = DocKernel.extractDoc(DocRow(g.doc_id, g.spans))
    out.spans.filter(s => s.kind != "media").foreach { s =>
      val at = source.indexOf(s.text.take(10), s.offset)
      assert(at == s.offset || s.text.contains(" "), // entity-encoded block rewrites
        s"offset ${s.offset} does not locate '${s.text.take(20)}'")
    }
  }

  test("metrics lineage: docs_in == docs_ok + docs_failed, counts match input") {
    import spark.implicits._
    val n = 300
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
    val (out, acc) = Pipeline.extract(spark, input.toDF(),
      Pipeline.Config(partitions = 4, giantBuckets = 2))
    out.write.mode("overwrite").parquet("/tmp/graft-test/metrics-out")
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    assert(rows.map(_.docs_in).sum == n)
    assert(rows.map(_.docs_ok).sum + rows.map(_.docs_failed).sum == n.toLong)
    assert(rows.map(_.spans_out).sum > 0)
    assert(rows.filter(_.docs_in > 0)
      .forall(r => r.first_doc_id.nonEmpty && r.last_doc_id.nonEmpty))
  }

  test("salted repartition: giant docs isolated from the bulk") {
    import spark.implicits._
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 2,
      giantThresholdBytes = 5000) // generator giants (~20 KB) exceed this
    val input = CorpusGen.inputDs(spark, 600, giantEvery = 100, parallelism = 4).toDF()
    val salted = Pipeline.saltedRepartition(input, cfg)
    val byPartition = salted.as[DocRow]
      .mapPartitions { it =>
        val docs = it.toSeq
        val giants = docs.count(d => DocKernel.docBytes(d) > 5000)
        Iterator.single((giants, docs.length))
      }.collect()
    val giantParts = byPartition.filter(_._1 > 0)
    assert(giantParts.nonEmpty, "expected some giant docs")
    // partitions holding giants hold ONLY giants (dedicated buckets)
    giantParts.foreach { case (g, total) => assert(g == total,
      s"giant bucket mixed with bulk docs: $g of $total") }
  }

  test("batched run: resume skips committed batches and output is identical") {
    import spark.implicits._
    val base = "/tmp/graft-test/resume"
    val outDir = s"$base/out"
    val metricsDir = s"$base/metrics"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1, numBatches = 4)
    val input = CorpusGen.inputDs(spark, 200, parallelism = 4).toDF()
    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    val full = Pipeline.readOutput(spark, outDir).as[DocRow].collect()
      .map(d => d.doc_id -> d.spans).toMap
    // kill-and-resume: delete two batch dirs, rerun, expect identical output
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=1"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=3"))
    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    val resumed = Pipeline.readOutput(spark, outDir).as[DocRow].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(resumed == full)
    // the resumed batches replaced their lineage files: every batch has
    // one row set and the lineage counts every doc exactly once
    val m = spark.read.parquet(metricsDir)
    assert(m.select("batch_id").distinct().count() == 4)
    assert(m.as[MetricsRow].collect().map(_.docs_in).sum == 200)
  }

  test("batched run: a batch with no docs still commits") {
    import spark.implicits._
    val base = "/tmp/graft-test/empty-batch"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cfg = Pipeline.Config(partitions = 2, giantBuckets = 1, numBatches = 8)
    val input = CorpusGen.inputDs(spark, 3, parallelism = 1).toDF()
    Pipeline.runBatched(spark, input, s"$base/out", s"$base/metrics", cfg)
    val sink = new Pipeline.ParquetDirSink(s"$base/out", s"$base/metrics")
    assert((0 until 8).forall(sink.isBatchCommitted))
    assert(spark.read.parquet(s"$base/metrics").as[MetricsRow].collect().map(_.docs_in).sum == 3)
  }

  test("batched run: a crash between a batch's lineage file and its marker re-runs the batch") {
    import spark.implicits._
    val base = "/tmp/graft-test/crash"
    val outDir = s"$base/out"
    val metricsDir = s"$base/metrics"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1, numBatches = 4)
    val input = CorpusGen.inputDs(spark, 200, parallelism = 4).toDF()
    val written = scala.collection.mutable.ArrayBuffer.empty[Int]
    var crashes = 1
    // ParquetDirSink, except that batch 2's first commit dies after its
    // lineage file is written and before its marker
    val sink = new Pipeline.BatchSink {
      private val inner = new Pipeline.ParquetDirSink(outDir, metricsDir)
      private var batch = -1
      def isBatchCommitted(b: Int): Boolean = inner.isBatchCommitted(b)
      def writeBatch(b: Int, out: Dataset[DocRow]): Unit = {
        batch = b
        written += b
        inner.writeBatch(b, out)
      }
      def appendMetrics(s: SparkSession, rows: Seq[MetricsRow]): Unit =
        if (batch == 2 && crashes > 0) {
          crashes -= 1
          Lineage.write(s, metricsDir, batch, rows)
          throw new IllegalStateException("planted crash before the commit marker")
        } else inner.appendMetrics(s, rows)
    }
    intercept[IllegalStateException](Pipeline.runBatched(spark, input, sink, cfg))
    assert(written == Seq(0, 1, 2))
    assert(!sink.isBatchCommitted(2))
    written.clear()
    Pipeline.runBatched(spark, input, sink, cfg)
    assert(written == Seq(2, 3), "the uncommitted batch must run again, not be skipped")
    val ids = Pipeline.readOutput(spark, outDir).as[DocRow].collect().map(_.doc_id)
    assert(ids.length == 200 && ids.distinct.length == 200)
    // exactly one lineage row set per batch: one row per (batch, partition)
    val m = spark.read.parquet(metricsDir).as[MetricsRow].collect()
    assert(m.groupBy(_.batch_id).map { case (b, rs) => b -> rs.map(_.partition_id).sorted.toSeq } ==
      (0 until 4).map(_ -> (0 until 5)).toMap)
    assert(m.map(_.docs_in).sum == 200)
  }
}

/** Native Catalyst expressions (SURVEY §7.3 custom tally). */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("parse_html_spans native expression end-to-end in SQL") {
    import spark.implicits._
    val df = Seq("<h1>T</h1><p>body <img src='m://1'> tail</p>").toDF("html")
    df.createOrReplaceTempView("t_html")
    val rows = spark.sql(
      """SELECT s.kind, s.text, s.media_ref, s.offset
        |FROM t_html LATERAL VIEW explode(parse_html_spans(html)) AS s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(rows.toSeq == Seq(
      ("heading", "T", "", 4),
      ("text", "body ", "", 13),
      ("media", "", "m://1", 18),
      ("text", " tail", "", 35)))
  }

  test("expression stays inside whole-stage codegen (no UDF node)") {
    // range-backed source so ConvertToLocalRelation can't fold the plan
    val df = spark.range(3)
      .select(concat(lit("<p>x"), col("id"), lit("</p>")).as("html"))
      .select(GraftFunctions.parse_html_text(col("html")).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert(plan.contains("*(1) Project") && plan.contains("parse_html_text"),
      s"plan not codegen'd:\n$plan")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("x0", "x1", "x2"))
  }

  test("serialize_html, html_quirks_mode, prescan_charset") {
    import spark.implicits._
    val r = Seq(("<p>a & b</p>", "<!DOCTYPE html><p>x"))
      .toDF("h1", "h2")
      .select(
        GraftFunctions.serialize_html(col("h1")).as("s"),
        GraftFunctions.html_quirks_mode(col("h2")).as("q"),
        GraftFunctions.prescan_charset(
          lit("<meta charset='koi8-r'><p>").cast("binary")).as("c"))
      .collect().head
    assert(r.getString(0) == "<html><head></head><body><p>a &amp; b</p></body></html>")
    assert(r.getString(1) == "no-quirks")
    assert(r.getString(2) == "KOI8-R")
  }

  test("graft_attr_match_counts: css selector modes, one parse for N specs") {
    import spark.implicits._
    val df = Seq("""<div class="a b"><a href="http://x.png">l</a></div>""").toDF("html")
    df.createOrReplaceTempView("t_attr")
    val r = spark.sql(
      """SELECT graft_attr_match_counts(html,
        |         array('class', 'href', 'href'),
        |         array('b', '.png', 'zzz'),
        |         array('ws', 'end', 'contains')) AS counts
        |FROM t_attr""".stripMargin).collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 1L, 0L))
    // null html -> null result (nullIntolerant surface)
    val nr = spark.sql(
      "SELECT graft_attr_match_counts(CAST(NULL AS STRING), array('k'), array('v'), array('eq'))")
      .collect().head
    assert(nr.isNullAt(0))
  }
}

/** Giant-doc OOM guard: oversized docs fail into lineage, never parse. */
class GiantDocSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("docs over maxDocBytes are failed into lineage, not parsed") {
    import spark.implicits._
    val cfg = Pipeline.Config(partitions = 2, giantBuckets = 1,
      maxDocBytes = 10000) // generator giants (~20 KB) exceed this
    val input = CorpusGen.inputDs(spark, 300, giantEvery = 50, parallelism = 2).toDF()
    val (out, acc) = Pipeline.extract(spark, input, cfg)
    val rows = out.collect()
    val m = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    val failed = m.map(_.docs_failed).sum
    assert(failed > 0, "expected giants to be failed by the size cap")
    assert(m.map(_.docs_ok).sum + failed == 300)
    // failed docs still present in output with empty spans (lineage row)
    val giants = input.as[DocRow].collect()
      .filter(d => DocKernel.docBytes(d) > 10000).map(_.doc_id).toSet
    assert(giants.nonEmpty)
    rows.filter(r => giants.contains(r.doc_id)).foreach { r =>
      assert(r.spans.isEmpty)
    }
  }
}

/** Columnar kernel path must agree exactly with the typed path. */
class ColumnarKernelSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("extractColumnar == typed extract, span for span") {
    import spark.implicits._
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1)
    val input = CorpusGen.inputDs(spark, 250, parallelism = 4).toDF()
    val (typed, _) = Pipeline.extract(spark, input, cfg)
    val columnar = Pipeline.extractColumnar(input, cfg).as[DocRow]
    val a = typed.collect().map(d => d.doc_id -> d.spans).toMap
    val b = columnar.collect().map(d => d.doc_id -> d.spans).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, spans) => assert(b(id) == spans, id) }
  }
}

/** FIXTURES.md §6 t2 profile: full span-equality sweep at 5000 docs
  * (the constructive oracle at scale, both kernel paths). */
class T2CorrectnessSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("interleaved text+media E2E: extracted refs join real blobs, headers decode to planted dims") {
    // the full axes-A+B story: extraction emits media spans; every ref
    // resolves in the constructive media table to REAL PNG/JPEG/GIF
    // bytes; the native header decoder must recover exactly the
    // dimensions the generator planted — construction vs byte-parse,
    // two independent paths per ref
    import spark.implicits._
    val n = 400
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
    val media = CorpusGen.mediaTable(input)
    val nRefs = media.count()
    assert(nRefs > 50, s"corpus must plant a rich media set, got $nRefs")
    val (out, _) = Pipeline.extract(spark, input.toDF(),
      Pipeline.Config(partitions = 4, giantBuckets = 2))
    val refs = out.toDF()
      .select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media")
      .select(col("s.media_ref").as("media_id")).distinct()
    val hdr = GraftFunctions.graft_image_header(col("payload"))
    val decoded = refs.join(media, "media_id")
      .select(col("media_id"), hdr.getField("format").as("format"),
        hdr.getField("width").as("width"), hdr.getField("height").as("height"))
      .collect()
    assert(decoded.length == nRefs, "every extracted ref must resolve a blob")
    decoded.foreach { r =>
      val (fmt, w, h, _) = CorpusGen.mediaHeaderExpected(r.getString(0))
      assert(r.getString(1) == fmt && r.getInt(2) == w && r.getInt(3) == h,
        s"decode mismatch for ${r.getString(0)}: got (${r.getString(1)}, " +
          s"${r.getInt(2)}, ${r.getInt(3)}), planted ($fmt, $w, $h)")
    }
  }

  test("t2: 5000 docs, columnar kernel vs constructive expected") {
    import spark.implicits._
    val n = 5000
    val input = CorpusGen.inputDs(spark, n, parallelism = 8).toDF()
    val expected = CorpusGen.expectedDf(spark, n, parallelism = 8).as[DocRow]
    val out = Pipeline.extractColumnar(input,
      Pipeline.Config(partitions = 8, giantBuckets = 2)).as[DocRow]
    val joined = out.withColumnRenamed("spans", "got").join(expected.toDF(), "doc_id")
    val bad = joined.filter(!col("doc_id").startsWith("garbage-") &&
      !(col("got") === col("spans")))
    val badCount = bad.count()
    assert(badCount == 0, s"$badCount docs mismatched; sample: " +
      bad.select("doc_id").take(5).mkString(","))
    assert(out.count() == n)
  }
}
