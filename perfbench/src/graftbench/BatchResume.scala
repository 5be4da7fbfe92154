package graftbench

import graft.spark.{DocRow, MetricsRow, Pipeline}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** Batched, resumable extraction of small seeded documents: a full
  * Pipeline.runBatched into a ParquetDirSink, then the commits of half the
  * batches (data and lineage rows) are removed and the run is resumed.
  * Every committed batch is read back and checked against the spans the
  * generator planted. */
final class BatchResume(ctx: Ctx) {
  private val Docs = 8000L
  private val Batches = 8
  private val SetupReps = 3

  /** Times each batch's commit: its data write plus its lineage rows. */
  private final class TimedSink(out: String, metrics: String, cycle: Long) extends Pipeline.BatchSink {
    private val inner = new Pipeline.ParquetDirSink(out, metrics)
    private var t0 = 0L
    private var batch = -1
    val commits = ArrayBuffer.empty[(Int, Double)]
    def isBatchCommitted(b: Int): Boolean = inner.isBatchCommitted(b)
    def writeBatch(b: Int, ds: Dataset[DocRow]): Unit = {
      t0 = System.nanoTime()
      batch = b
      Trace.span("spark.pipeline.batch_write", cycle)(inner.writeBatch(b, ds))
    }
    def appendMetrics(spark: SparkSession, rows: Seq[MetricsRow]): Unit = {
      Trace.span("spark.pipeline.lineage_commit", cycle)(inner.appendMetrics(spark, rows))
      commits += ((batch, Stat.secondsSince(t0)))
    }
  }

  def run(): Unit = {
    val r = ctx.r
    val spark = ctx.spark
    val par = ctx.cpus * 2
    val cfg = Pipeline.Config(partitions = par, giantBuckets = math.max(ctx.cpus / 4, 1),
      numBatches = Batches)
    val corpus = new Corpus(spark, s"${ctx.work}/corpus", Docs, ctx.seed, 1, par, Batches)

    var expected: java.util.HashMap[String, (Long, Int)] = null
    val builds = (0 until SetupReps).map { _ =>
      Stat.timed { corpus.write(); expected = corpus.expected() }._2
    }
    // one full batched run warms every timed unit: a resume runs the same
    // batch jobs through the same sink
    val (_, warm) = Stat.timed {
      val dir = s"${ctx.work}/warm"
      val out = s"$dir/out"
      commitRun("batch_resume.warm", corpus, cfg, out, s"$dir/metrics", -1, new Result)
        .foreach(full => checkOutput(out, expected, full._2.map(_._1).toSet, new Result))
      deleteTree(Paths.get(dir))
    }
    val setupS = Stat.median(builds) + warm

    val commitS, resumeS, batchS = ArrayBuffer.empty[Double]
    val tracedS, plainS = ArrayBuffer.empty[Double]
    var lineage = 0.0
    val window = new Weather.Window
    val t0 = System.nanoTime()
    var k = 0
    while (k < ctx.minOps || Stat.secondsSince(t0) < ctx.seconds) {
      val traced = ctx.trace && k % 2 == 0
      Trace.enabled = traced
      cycle(corpus, cfg, expected, k, r).foreach { c =>
        commitS += c.commitS
        resumeS += c.resumeS
        batchS ++= c.batchS
        lineage = c.lineage
        (if (traced) tracedS else plainS) += c.commitS
      }
      Trace.enabled = ctx.trace
      k += 1
    }
    r.info("weather_measured") = window.close()

    val commit = Stat.median(commitS.toSeq)
    ctx.reportSetup(setupS)
    // per-batch commits give many samples per run: docs per second of
    // batch commit, full and resumed runs alike
    r.metric("work_per_s", Docs / (Batches * Stat.median(batchS.toSeq)), "1/s")
    r.info("batch_resume") = Obj(Seq(
      "docs" -> Docs, "batches" -> Batches, "corpus_mb" -> corpus.bytesOnDisk / 1e6,
      "cycles" -> commitS.size,
      "batch_commit_s" -> Obj(Seq("value" -> commit, "unit" -> "s")),
      "resume_s" -> Obj(Seq("value" -> Stat.median(resumeS.toSeq), "unit" -> "s")),
      "batch_commit_p50_ms" -> Obj(Seq("value" -> Stat.median(batchS.toSeq) * 1000, "unit" -> "ms",
        "samples" -> batchS.size)),
      "span_eq_rate" -> Obj(Seq("value" -> r.matched.toDouble / math.max(r.checked, 1L), "unit" -> "ratio")),
      "lineage_docs_ratio" -> lineage,
      "setup_corpus_s" -> builds))

    if (ctx.trace) {
      r.metric("trace_overhead_frac",
        Stat.pairedOverhead(tracedS.toSeq, plainS.toSeq), "ratio")
      layers(corpus, cfg)
    }
  }

  private final case class Cycle(commitS: Double, resumeS: Double, batchS: Seq[Double],
                                 lineage: Double)

  /** Full batched run, check, drop half the commits, resume, check. */
  private def cycle(corpus: Corpus, cfg: Pipeline.Config,
                    expected: java.util.HashMap[String, (Long, Int)], k: Long,
                    r: Result): Option[Cycle] = Trace.span("batch_resume.cycle", k) {
    val dir = s"${ctx.work}/batch-$k"
    val (out, metrics) = (s"$dir/out", s"$dir/metrics")
    val full = commitRun("batch_resume.full", corpus, cfg, out, metrics, k, r)
    val dropped = new scala.util.Random(ctx.seed * 31 + k).shuffle((0 until Batches).toList)
      .take(Batches / 2).toSet
    val ok1 = full.exists(f => checkOutput(out, expected, f._2.map(_._1).toSet, r))
    val resumed = if (!ok1) None else {
      dropCommits(out, metrics, dropped)
      commitRun("batch_resume.resume", corpus, cfg, out, metrics, k, r)
    }
    val ok2 = resumed.exists(x => checkOutput(out, expected, x._2.map(_._1).toSet, r))
    val c = for ((fs, fb) <- full; (rs, rb) <- resumed if ok1 && ok2)
      yield Cycle(fs, rs, (fb ++ rb).map(_._2), docsIn(metrics) / corpus.docs)
    deleteTree(Paths.get(dir))
    c
  }

  /** Σ docs_in over the committed lineage rows. */
  private def docsIn(metrics: String): Double =
    ctx.spark.read.parquet(metrics).agg(org.apache.spark.sql.functions.sum("docs_in"))
      .head().getLong(0).toDouble

  /** One runBatched call; (wall s, per-batch commits), or None if it threw.
    * Each batch it starts is one operation. */
  private def commitRun(name: String, corpus: Corpus, cfg: Pipeline.Config, out: String,
                        metrics: String, k: Long, r: Result): Option[(Double, Seq[(Int, Double)])] = {
    val sink = new TimedSink(out, metrics, k)
    val pending = (0 until Batches).count(b => !sink.isBatchCommitted(b))
    val t0 = System.nanoTime()
    try {
      Trace.span(name, k)(Pipeline.runBatched(ctx.spark, corpus.df, sink, cfg))
      r.attempted += pending
      Some((Stat.secondsSince(t0), sink.commits.toSeq))
    } catch {
      case scala.util.control.NonFatal(e) =>
        r.attempted += pending
        r.failed += pending - sink.commits.size
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** Reads every committed batch back; a batch committed by this run with
    * any wrong, missing or duplicated doc counts as failed. */
  private def checkOutput(out: String, expected: java.util.HashMap[String, (Long, Int)],
                          committed: Set[Int], r: Result): Boolean = {
    import ctx.spark.implicits._
    val got = Corpus.digests(ctx.spark.read.option("basePath", out).parquet(s"$out/batch=*"))
      .as[(String, Long)].collect()
    val c = Corpus.check(got, expected)
    r.checked += c.expected
    r.matched += c.matched
    val bad = c.wrongBatches.intersect(committed)
    r.failed += bad.size
    if (c.wrongBatches.nonEmpty)
      System.err.println(s"[perfbench] batches ${c.wrongBatches.mkString(",")} differ from the expected spans")
    c.wrongBatches.isEmpty
  }

  /** Removes the data and the lineage rows of the given batches. */
  private def dropCommits(out: String, metrics: String, batches: Set[Int]): Unit = {
    batches.foreach(b => deleteTree(Paths.get(s"$out/batch=$b")))
    val kept = s"$metrics.kept"
    ctx.spark.read.parquet(metrics).filter(!col("batch_id").isin(batches.toSeq: _*))
      .write.mode("overwrite").parquet(kept)
    deleteTree(Paths.get(metrics))
    Files.move(Paths.get(kept), Paths.get(metrics))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  private def layers(corpus: Corpus, cfg: Pipeline.Config): Unit = {
    val r = ctx.r
    HtmlLadder.run(ctx, corpus.htmlSample(6400))
    StageLadder.run(ctx, corpus, cfg)
    // read and write volume of one full batched run, and the sink alone
    val st = ctx.stats
    val dir = s"${ctx.work}/layers"
    val m = st.mark()
    commitRun("batch_resume.full", corpus, cfg, s"$dir/out", s"$dir/metrics", Long.MaxValue, new Result)
    val w = st.since(m)
    val lineage = docsIn(s"$dir/metrics")
    val outDf = ctx.spark.read.option("basePath", s"$dir/out").parquet(s"$dir/out/batch=*").cache()
    outDf.count()
    val (_, sinkS) = Stat.timed(Trace.span("spark.pipeline.sink_write", 0)(
      outDf.write.mode("overwrite").parquet(s"$dir/sink")))
    outDf.unpersist()
    r.metric("spark.pipeline.scan_amplification", w.inputRecords.toDouble / corpus.docs, "ratio")
    r.metric("spark.pipeline.sink_write_s", sinkS, "s")
    r.metric("spark.pipeline.write_bytes_per_input_byte", w.output.toDouble / corpus.bytesOnDisk, "ratio")
    r.metric("spark.pipeline.lineage_docs_ratio", lineage / corpus.docs, "ratio")
    r.metric("spark.scaling_eff_1v4", 0.0, "ratio")
    deleteTree(Paths.get(dir))
    OpsSuite.reportAbsent(r)
  }
}
