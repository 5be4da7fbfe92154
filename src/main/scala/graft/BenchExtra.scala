package graft

import org.apache.spark.sql.SparkSession
import graft.spark.JobCensus
import scala.util.control.NonFatal

/** Ad-hoc per-query census over `SparkEntry.queries`: times declared
  * queries in isolation with the noop sink (so the computation is timed,
  * not the sink), min-of-N, or counts their Spark jobs, stages and
  * tasks, without paying the full 186-query suite per iteration. The
  * benchmark of record is `perfbench/run.py` (BENCHMARK.json).
  *
  * Usage:
  *   runMain graft.BenchExtra time <reps> <q1,q2,...>   # min-of-reps secs
  *   runMain graft.BenchExtra jobs <q1,q2,...>          # jobs/stages/tasks per query
  *   runMain graft.BenchExtra mksf1 <srcDir> <dstDir>   # synthetic sf1 from sf0.1
  * Data dir from SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * cores from SPARK_GRAFT_CPUS (default: this machine's processors).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def force(name: String): Double = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    /** `force`, with a failure reported and timed as NaN. */
    def timed(name: String): Double =
      try force(name) catch { case NonFatal(e) =>
        System.err.println(s"[extra] $name: ${e.getMessage}"); Double.NaN }

    args.toList match {
      case "time" :: reps :: qs :: Nil =>
        val names = qs.split(',').toSeq
        // JVM/codegen warm-up on the first query, untimed
        try force(names.head) catch { case NonFatal(_) => }
        // interleave rounds so every query sees the same weather
        val r = reps.toInt
        val times = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        for (_ <- 0 until r; n <- names) times(n) = timed(n) :: times(n)
        for (n <- names) {
          val ts = times(n).filterNot(_.isNaN)
          val best = if (ts.isEmpty) Double.NaN else ts.min
          println(f"$n%-28s min=${best}%.3f  all=${times(n).reverse.map(t => f"$t%.3f").mkString(",")}")
        }
      case "mksf1" :: src :: dst :: Nil =>
        // rebuild the round-7 synthetic sf1 (BASELINE.md §round-7): 10
        // shards of the source SF with per-shard TEXT MARKERS (cross-
        // shard texts distinct — the pair structure of a real 10×
        // corpus, not 10 identical copies), per-shard CYCLIC coordinate
        // shifts (embeddings decorrelate across shards), and DISTINCT
        // USERS per shard in events. Offsets keep every id family
        // (pmod constructions, planted doc_id<100 corpora) intact.
        import org.apache.spark.sql.functions._
        val shards = 10
        val docs = spark.read.parquet(s"$src/documents.parquet")
        (0 until shards).map { i =>
          docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            when(col("text").isNull, col("text"))
              .otherwise(concat(col("text"), lit(s" shardmark$i"))).as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dst/documents.parquet")
        val embs = spark.read.parquet(s"$src/embeddings.parquet")
        (0 until shards).map { i =>
          val n = size(col("embedding"))
          val shifted =
            if (i == 0) col("embedding")
            else concat(slice(col("embedding"), lit(i + 1), n),
              slice(col("embedding"), lit(1), lit(i)))
          embs.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            when(col("embedding").isNull, col("embedding"))
              .otherwise(shifted).as("embedding"),
            col("label"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
        val ev = spark.read.parquet(s"$src/events.parquet")
        (0 until shards).map { i =>
          ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
            col("ts"), (col("user_id") + lit(i * 1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dst/events.parquet")
        println(s"synthetic sf1 written to $dst")
      case "jobs" :: qs :: Nil =>
        // per-query job/stage/task counts — finds driver-loop overhead
        // (checkpoints, collects, convergence probes) that explains
        // wall time the plan alone cannot
        val names = qs.split(',').toSeq
        try force(names.head) catch { case NonFatal(_) => }
        for (n <- names) {
          var t = Double.NaN
          val c = JobCensus.during(spark.sparkContext) { t = timed(n) }
          println(f"$n%-28s sec=$t%.3f jobs=${c.jobs}%-4d stages=${c.stages}%-5d tasks=${c.tasks}")
        }
      case other =>
        System.err.println(s"usage: time <reps> <q,..> | jobs <q,..> | mksf1 <src> <dst>; got $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
