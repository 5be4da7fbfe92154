package graft.spark

import org.apache.spark.sql.SparkSession

/** spark-submit entry (SURVEY §7.1):
  *
  *   spark-submit --class graft.spark.Main app.jar \
  *     extract <inputPath> <outDir> <metricsDir> [numBatches] [partitions]
  *   spark-submit --class graft.spark.Main app.jar \
  *     gen <outPath> <numDocs> [parallelism]
  *
  * `extract` is checkpoint-resumable: completed batches (those with a
  * _SUCCESS marker, written after the batch's lineage file) are skipped
  * on restart — rerunning after a kill resumes at the last committed
  * batch, and a batch killed before its marker runs again (north_rule).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
    // spark-submit injects spark.master; fall back to local[] for direct
    // JVM launches (sbt runMain smoke tests)
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(
                   s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .getOrCreate()
    GraftFunctions.registerAll(spark)
    args.toList match {
      case "extract" :: in :: out :: metrics :: rest =>
        val batches = rest.headOption.map(_.toInt).getOrElse(8)
        val partitions = rest.drop(1).headOption.map(_.toInt)
          .getOrElse(spark.sparkContext.defaultParallelism * 2)
        Pipeline.runBatched(spark, spark.read.parquet(in), out, metrics,
          Pipeline.Config(partitions = partitions, numBatches = batches))
      case "gen" :: out :: n :: rest =>
        val par = rest.headOption.map(_.toInt)
          .getOrElse(spark.sparkContext.defaultParallelism * 2)
        CorpusGen.inputDs(spark, n.toLong, parallelism = par)
          .write.mode("overwrite").parquet(out)
      case other =>
        System.err.println(s"unknown args: $other — see Main.scala scaladoc")
        sys.exit(2)
    }
    spark.stop()
  }
}
