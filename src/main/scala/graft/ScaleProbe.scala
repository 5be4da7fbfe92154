package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** One-off scale probe (round 7, VERDICT r6 #7): run a query suite at
  * two scale factors in the SAME session and report the wall-clock
  * ratio per query. All correctness gates run at sf0.001/0.01 and bench
  * at sf0.1 — a super-linear plan (an unguarded bucket join, a
  * collapsed broadcast, a corpus window) is invisible there. Usage:
  *   runMain graft.ScaleProbe <dirSmall> <dirBig> [rowFactor]
  * Per-query runs are interleaved small/big and min-of-2 so the ratio
  * is same-weather (this box's steal varies on a ~minute scale).
  * Queries whose cost is dominated by a PLANTED fixed-size corpus
  * (md5Corpus doc_id<100 etc.) are expected near 1.0; full-corpus
  * queries should track the row factor; anything well above it is a
  * plan bug to adjudicate (BASELINE.md records the table).
  */
object ScaleProbe {

  /** Every query, so a new one cannot miss the probe. */
  val suite: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val dirA = args(0)
    val dirB = args(1)
    val rowFactor = if (args.length > 2) args(2).toDouble else 10.0
    // optional 4th arg: comma-separated subset (probe only new queries)
    val chosen =
      if (args.length > 3) suite.filter(args(3).split(',').toSet)
      else suite
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-scale-probe")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.spark.GraftFunctions.registerAll(spark)

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[probe] $name@$dir: ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warm-up on the small dir, untimed
    chosen.take(3).foreach(time(_, dirA))

    val rows = chosen.map { name =>
      var a = Double.MaxValue
      var b = Double.MaxValue
      var r = 0
      while (r < 2) { // interleaved min-of-2: same-weather ratios
        a = math.min(a, time(name, dirA))
        b = math.min(b, time(name, dirB))
        r += 1
      }
      val ratio = b / a
      println(f"""{"q":"$name","small_s":$a%.3f,"big_s":$b%.3f,"ratio":$ratio%.2f}""")
      (name, a, b, ratio)
    }
    val worst = rows.maxBy(_._4)
    println(f"""{"summary":"scale-probe","row_factor":$rowFactor%.1f,"queries":${rows.size},"worst":"${worst._1}","worst_ratio":${worst._4}%.2f}""")
    spark.stop()
  }
}
