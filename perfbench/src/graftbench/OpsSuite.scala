package graftbench

import graft.SparkEntry
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Operator queries in a closed loop: one driver thread runs the suite's
  * queries one at a time, in a seed-permuted order per pass, each into the
  * noop sink. Set-up runs every query twice: the first run's result is
  * written for the DuckDB oracle check that `perfbench/run.py` runs after
  * the JVM exits, the second warms the timed unit. */
final class OpsSuite(ctx: Ctx) {
  import OpsSuite._

  private val pool = Executors.newSingleThreadExecutor()
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private final case class Run(ms: Double, jobs: Int, stages: Int, shuffleBytes: Long)

  /** Runs one query under a job group, failing it after QueryTimeout. */
  private def runQuery(q: String, pass: Long, sink: DataFrame => Unit): Option[Run] = {
    val sc = ctx.spark.sparkContext
    val st = ctx.stats
    ctx.r.attempt(q) {
      val m = st.mark()
      val t0 = System.nanoTime()
      Trace.span(s"ops.$q", pass) {
        val f = Future {
          sc.setJobGroup(q, q, interruptOnCancel = true)
          try sink(SparkEntry.queries(q)(ctx.spark, ctx.sf))
          finally sc.clearJobGroup()
        }
        try Await.result(f, QueryTimeout)
        catch {
          case e: TimeoutException =>
            sc.cancelJobGroup(q)
            Await.ready(f, 1.minute)
            throw e
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val w = st.since(m)
      Run(ms, w.jobs, w.stages.size, w.shuffleWrite)
    }
  }

  def run(): Unit =
    try measure()
    finally { pool.shutdownNow(); pool.awaitTermination(1, TimeUnit.MINUTES) }

  private def measure(): Unit = {
    val r = ctx.r
    val oracleDir = s"${ctx.work}/oracle"
    val rnd = new scala.util.Random(ctx.seed)

    // set-up: each query's first run writes its result for the oracle
    // check; a second run into the noop sink warms the timed unit itself
    val (_, setupS) = Stat.timed {
      rnd.shuffle(Queries).foreach { q =>
        runQuery(q, -1, _.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$q"))
      }
      rnd.shuffle(Queries).foreach(q => runQuery(q, -1, StageLadder.noop))
      val sql = SparkEntry.oracleSql.filter(e => Queries.contains(e._1))
      Files.write(Paths.get(s"$oracleDir/oracle_sql.json"),
        Json.render(sql).getBytes(StandardCharsets.UTF_8))
    }

    val runs = LinkedHashMap(Queries.map(q => q -> ArrayBuffer.empty[Run]): _*)
    val tracedMs, plainMs = LinkedHashMap(Queries.map(q => q -> ArrayBuffer.empty[Double]): _*)
    val window = new Weather.Window
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < ctx.minOps || Stat.secondsSince(t0) < ctx.seconds) {
      val traced = ctx.trace && pass % 2 == 0
      Trace.enabled = traced
      Trace.span("ops_suite.pass", pass) {
        rnd.shuffle(Queries).foreach { q =>
          runQuery(q, pass, StageLadder.noop).foreach { x =>
            runs(q) += x
            (if (traced) tracedMs else plainMs)(q) += x.ms
          }
        }
      }
      Trace.enabled = ctx.trace
      pass += 1
    }
    r.info("weather_measured") = window.close()

    val all = runs.values.flatten.map(_.ms).toSeq
    val perQuery = runs.map { case (q, xs) => q -> Stat.median(xs.map(_.ms).toSeq) }
    val suiteS = perQuery.values.sum / 1000
    ctx.reportSetup(setupS)
    r.metric("work_per_s", Queries.size / suiteS, "1/s")
    val tail = Stat.tail(all)
    r.info("ops_suite") = Obj(Seq(
      "queries" -> Queries.size, "passes" -> pass,
      "query_suite_s" -> Obj(Seq("value" -> suiteS, "unit" -> "s")),
      "query_p50_ms" -> Obj(Seq("value" -> Stat.median(all), "unit" -> "ms", "samples" -> all.size)),
      "query_p95_ms" -> Obj(Seq(
        "value" -> tail.map(_._2), "unit" -> "ms", "samples" -> all.size,
        "percentile" -> tail.map(_._1),
        "note" -> "highest percentile with at least 10 samples beyond it")),
      "per_query_ms" -> perQuery,
      "samples_ms" -> runs.map { case (q, xs) => q -> xs.map(_.ms) }))

    if (ctx.trace) {
      r.metric("trace_overhead_frac", Stat.pairedOverhead(
        Queries.map(q => Stat.median(tracedMs(q).toSeq)), Queries.map(q => Stat.median(plainMs(q).toSeq))), "ratio")
      var stages = 0.0
      runs.foreach { case (q, xs) =>
        val last = xs.lastOption.getOrElse(Run(0, 0, 0, 0))
        r.metric(s"ops.$q.ms", perQuery(q), "ms")
        r.metric(s"ops.$q.jobs", last.jobs, "count")
        r.metric(s"ops.$q.stages", last.stages, "count")
        r.metric(s"ops.$q.shuffle_mb", last.shuffleBytes / 1e6, "MB")
        stages += last.stages
      }
      r.metric("ops.ms_per_stage", perQuery.values.sum / math.max(stages, 1.0), "ms")
      HtmlLadder.run(ctx, documentsHtml(8000))
      for (m <- ExtractOnlyLayers) r.metric(m._1, 0.0, m._2)
    }
  }

  /** The documents table as html, built the way q_html_extract builds it. */
  private def documentsHtml(n: Int): Seq[String] = {
    def esc(s: String): String =
      if (s == null) "" else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    ctx.spark.read.parquet(s"${ctx.sf}/documents.parquet").orderBy("doc_id").limit(n)
      .select("source", "lang", "text").collect().toSeq.map { row =>
        s"<html><head><title>${esc(row.getString(0))}</title></head><body><h1>" +
          s"${esc(row.getString(1))}</h1><p>${esc(row.getString(2))}</p></body></html>"
      }
  }
}

object OpsSuite {
  /** The operator queries of the suite, from SparkEntry.queries. */
  val Queries: Seq[String] = Seq(
    "q_html_extract", "q_html_markdown", "q_html_node_table", "q_html_boiler",
    "q_charset_sniff", "q_warc_charset", "q_dedup_clusters", "q_segment_manifest")

  val QueryTimeout: FiniteDuration = 60.seconds

  /** Per-layer metrics of the extraction path, which this workload does not
    * run: reported as 0. */
  val ExtractOnlyLayers: Seq[(String, String)] = Seq(
    "spark.scan_s" -> "s", "spark.kernel_stage_s" -> "s", "spark.pipeline.shuffle_s" -> "s",
    "spark.pipeline.shuffle_bytes_per_doc" -> "bytes", "spark.pipeline.task_skew" -> "ratio",
    "spark.task_busy_frac" -> "ratio", "spark.gc_frac" -> "ratio",
    "spark.pipeline.typed_codec_s" -> "s", "spark.pipeline.scan_amplification" -> "ratio",
    "spark.pipeline.sink_write_s" -> "s", "spark.pipeline.write_bytes_per_input_byte" -> "ratio",
    "spark.pipeline.lineage_docs_ratio" -> "ratio", "spark.htmludfs.parses_per_doc" -> "ratio",
    "spark.scaling_eff_1v4" -> "ratio")

  /** The per-query metrics, reported as 0 by the workloads that run no
    * operator query. */
  def reportAbsent(r: Result): Unit = {
    Queries.foreach { q =>
      r.metric(s"ops.$q.ms", 0.0, "ms")
      r.metric(s"ops.$q.jobs", 0.0, "count")
      r.metric(s"ops.$q.stages", 0.0, "count")
      r.metric(s"ops.$q.shuffle_mb", 0.0, "MB")
    }
    r.metric("ops.ms_per_stage", 0.0, "ms")
  }
}
