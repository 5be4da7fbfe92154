package graftbench

import graft.spark.Pipeline

/** Columnar extraction of large seeded documents: each timed pass is
  * Pipeline.extractColumnar over the pre-written corpus, its spans digested
  * per document and collected, and every document checked against the
  * spans the generator planted. */
final class ExtractLarge(ctx: Ctx) {
  private val Docs = 12000L
  private val SampleDocs = 3000L
  private val BlocksScale = 8
  private val SetupReps = 3
  private val WarmPasses = 3
  private val ScalingPairs = 2

  def run(): Unit = {
    val r = ctx.r
    val spark = ctx.spark
    val par = ctx.cpus * 2
    val cfg = Pipeline.Config(partitions = par, giantBuckets = math.max(ctx.cpus / 4, 1))
    val corpus = new Corpus(spark, s"${ctx.work}/corpus", Docs, ctx.seed, BlocksScale, par)
    val sample = new Corpus(spark, s"${ctx.work}/sample", SampleDocs, ctx.seed, BlocksScale, par)

    // set-up: corpus write + expected digests (median of several), then
    // warm passes of every timed unit
    var expected: java.util.HashMap[String, (Long, Int)] = null
    val builds = (0 until SetupReps).map { _ =>
      Stat.timed { corpus.write(); expected = corpus.expected() }._2
    }
    val (_, rest) = Stat.timed {
      sample.write()
      for (_ <- 0 until WarmPasses) pass(corpus, cfg, expected, -1, record = false)
      StageLadder.scalingPair(ctx, sample, -1, new Result)
    }
    val setupS = Stat.median(builds) + rest

    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedS, plainS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val effs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val window = new Weather.Window
    val t0 = System.nanoTime()
    var round = 0
    while (round < ctx.minOps || Stat.secondsSince(t0) < ctx.seconds) {
      // in a traced run every other pass runs with span recording off,
      // which gives the tracing overhead
      val traced = ctx.trace && round % 2 == 0
      Trace.enabled = traced
      pass(corpus, cfg, expected, round, record = true).foreach { s =>
        passS += s
        (if (traced) tracedS else plainS) += s
      }
      Trace.enabled = ctx.trace
      round += 1
    }
    r.info("weather_measured") = window.close()
    // 1-core vs all-core pairs, after the timed window: a 1-core run
    // leaves the other cores idle, which would change the window's weather
    for (k <- 0 until ScalingPairs) effs ++= StageLadder.scalingPair(ctx, sample, k, r)

    val med = Stat.median(passS.toSeq)
    ctx.reportSetup(setupS)
    r.metric("work_per_s", Docs / med, "1/s")
    r.info("extract_large") = Obj(Seq(
      "docs" -> Docs, "blocks_scale" -> BlocksScale, "corpus_mb" -> corpus.bytesOnDisk / 1e6,
      "passes" -> passS.size, "pass_s" -> passS.toSeq,
      "extract_docs_per_s" -> Obj(Seq("value" -> Docs / med, "unit" -> "docs/s")),
      "span_eq_rate" -> Obj(Seq("value" -> r.matched.toDouble / math.max(r.checked, 1L), "unit" -> "ratio")),
      "scaling_eff_1v4" -> Obj(Seq("value" -> Stat.median(effs.toSeq), "unit" -> "ratio",
        "pairs" -> effs.size)),
      "setup_corpus_s" -> builds))

    if (ctx.trace) {
      r.metric("trace_overhead_frac",
        Stat.pairedOverhead(tracedS.toSeq, plainS.toSeq), "ratio")
      r.metric("spark.scaling_eff_1v4", Stat.median(effs.toSeq), "ratio")
      layers(corpus, cfg, expected)
    }
  }

  /** One timed, checked extraction pass; None when it failed or was wrong. */
  private def pass(corpus: Corpus, cfg: Pipeline.Config,
                   expected: java.util.HashMap[String, (Long, Int)], round: Long,
                   record: Boolean): Option[Double] = {
    val r = if (record) ctx.r else new Result
    import ctx.spark.implicits._
    r.attempt("extract pass") {
      Trace.span("extract_large.pass", round) {
        Stat.timed(Corpus.digests(Pipeline.extractColumnar(corpus.df, cfg)).as[(String, Long)].collect())
      }
    }.flatMap { case (got, s) =>
      val c = Corpus.check(got, expected)
      r.checked += c.expected
      r.matched += c.matched
      if (c.wrongBatches.isEmpty) Some(s)
      else {
        r.failed += 1
        System.err.println(s"[perfbench] extract pass: ${c.expected - c.matched} docs differ from the expected spans")
        None
      }
    }
  }

  private def layers(corpus: Corpus, cfg: Pipeline.Config,
                     expected: java.util.HashMap[String, (Long, Int)]): Unit = {
    val r = ctx.r
    HtmlLadder.run(ctx, corpus.htmlSample(6400))
    StageLadder.run(ctx, corpus, cfg)
    // the timed pass reads the corpus once and writes nothing
    val st = ctx.stats
    val m = st.mark()
    pass(corpus, cfg, expected, Long.MaxValue, record = false)
    val w = st.since(m)
    r.metric("spark.pipeline.scan_amplification", w.inputRecords.toDouble / corpus.docs, "ratio")
    r.metric("spark.pipeline.sink_write_s", 0.0, "s")
    r.metric("spark.pipeline.write_bytes_per_input_byte", w.output.toDouble / corpus.bytesOnDisk, "ratio")
    OpsSuite.reportAbsent(r)
  }
}
