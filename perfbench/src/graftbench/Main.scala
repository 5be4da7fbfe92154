package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --result <file> --trace-file <file>
  *          --sf <dir>
  *
  * Writes the run's result (operation counts, metrics with units, and the
  * run's weather) as JSON to --result; `perfbench/run.py` turns it into the
  * benchmark's output line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, result: String, traceFile: String, sf: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("result"), m("trace-file"), m.getOrElse("sf", ""))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Trace.enabled = a.trace
    HeapWatch.install()
    val r = new Result
    val weather = new Weather.Window
    val (spark, sessionS) = Stat.timed {
      val s = session(cpus, a.work)
      graft.spark.GraftFunctions.registerAll(s)
      s
    }
    val stats = new StageStats(spark.sparkContext)
    val ctx = Ctx(spark, stats, cpus, a.seed, a.seconds, a.trace, a.work, a.sf, sessionS, r)
    try a.workload match {
      case "extract_large" => new ExtractLarge(ctx).run()
      case "batch_resume" => new BatchResume(ctx).run()
      case "ops_suite" => new OpsSuite(ctx).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    r.metric("peak_heap_mb", HeapWatch.peakMb, "MB")
    r.info("peak_rss_mb") = Weather.peakRssMb()
    r.info("weather") = weather.close()
    r.info("cpus") = cpus
    r.info("nproc") = Runtime.getRuntime.availableProcessors()
    r.info("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    r.info("seed") = a.seed
    r.info("trace_spans") = Trace.count
    if (a.trace) Trace.writeTo(Paths.get(a.traceFile))
    Json.write(Paths.get(a.result), r.toObj)
  }
}

/** What every workload needs from its run. */
final case class Ctx(spark: SparkSession, stats: StageStats, cpus: Int, seed: Long,
                     seconds: Double, trace: Boolean, work: String, sf: String,
                     sessionS: Double, r: Result) {
  /** Timed operations a run makes whatever --seconds says: a traced run
    * alternates span recording on and off and needs one of each. */
  val minOps: Int = if (trace) 2 else 1

  /** Set-up time: session start plus the workload's own set-up. */
  def reportSetup(setupS: Double): Unit = {
    r.metric("setup_s", sessionS + setupS, "s")
    r.info("session_start_s") = sessionS
  }
}
