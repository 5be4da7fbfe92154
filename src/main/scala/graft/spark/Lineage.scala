package graft.spark

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._

/** The per-batch lineage of the pipeline: one MetricsRow per partition,
  * committed by the driver as one parquet file per batch. A batch's
  * lineage is a few rows, so the driver writes them itself instead of
  * starting a Spark job; the file reads back like any Spark-written
  * parquet (`spark.read.parquet(metricsDir).as[MetricsRow]`). */
object Lineage {

  private val encoder = ExpressionEncoder[MetricsRow]()

  /** The accumulated lineage rows of one run, one per (batch_id,
    * partition_id) in key order. Spark adds an accumulator update from a
    * transformation once per successful task attempt, so a task that runs
    * again after it succeeded (a recomputed stage, speculation) adds a
    * second row for its partition; the last one wins. */
  def rows(acc: CollectionAccumulator[MetricsRow]): Seq[MetricsRow] =
    acc.value.asScala.iterator.map(r => (r.batch_id, r.partition_id) -> r).toMap
      .values.toSeq.sortBy(r => (r.batch_id, r.partition_id))

  /** Writes `rows` to `metricsDir/lineage-b<batchId>.parquet` from the
    * driver, by [[LocalParquet.write]]: readers never see a partial file,
    * and a batch that runs again replaces its own file instead of adding
    * a second row set. */
  def write(spark: SparkSession, metricsDir: String, batchId: Long,
            rows: Seq[MetricsRow]): Unit = {
    val dir = Files.createDirectories(Paths.get(metricsDir))
    LocalParquet.write(LocalParquet.settings(spark, encoder.schema), dir,
      f"lineage-b$batchId%05d.parquet", 0, rows.iterator.map(encoder.createSerializer()))
  }
}
