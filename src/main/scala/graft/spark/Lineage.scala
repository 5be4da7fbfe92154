package graft.spark

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._

/** The per-batch lineage of the pipeline: one MetricsRow per partition,
  * committed by the driver as one parquet file per batch. A batch's
  * lineage is a few rows, so the driver writes them itself instead of
  * starting a Spark job; the file reads back like any Spark-written
  * parquet (`spark.read.parquet(metricsDir).as[MetricsRow]`). */
object Lineage {

  private val schema: StructType = Encoders.product[MetricsRow].schema

  /** `schema` in parquet terms, as Spark's own parquet writer maps it. */
  private val parquetSchema: MessageType = new MessageType("spark_schema",
    schema.fields.toSeq.map[Type] { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      (f.dataType match {
        case IntegerType => Types.primitive(INT32, rep)
        case LongType => Types.primitive(INT64, rep)
        case StringType => Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
        case t => throw new IllegalArgumentException(s"lineage column ${f.name}: no parquet type for $t")
      }).named(f.name)
    }.asJava)

  /** The accumulated lineage rows of one run, one per (batch_id,
    * partition_id) in key order. Spark adds an accumulator update from a
    * transformation once per successful task attempt, so a task that runs
    * again after it succeeded (a recomputed stage, speculation) adds a
    * second row for its partition; the last one wins. */
  def rows(acc: CollectionAccumulator[MetricsRow]): Seq[MetricsRow] =
    acc.value.asScala.iterator.map(r => (r.batch_id, r.partition_id) -> r).toMap
      .values.toSeq.sortBy(r => (r.batch_id, r.partition_id))

  /** Writes `rows` to `metricsDir/lineage-b<batchId>.parquet` from the
    * driver. The file is written under a hidden name and renamed into
    * place, so readers never see a partial file, and a batch that runs
    * again replaces its own file instead of adding a second row set. */
  def write(spark: SparkSession, metricsDir: String, batchId: Long,
            rows: Seq[MetricsRow]): Unit = {
    val dir = Files.createDirectories(Paths.get(metricsDir))
    val name = f"lineage-b$batchId%05d.parquet"
    val tmp = dir.resolve(s".$name.tmp")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(parquetSchema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(parquetSchema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.productIterator.zip(schema.fieldNames).foreach {
        case (null, _) =>
        case (x: Int, n) => g.append(n, x)
        case (x: Long, n) => g.append(n, x)
        case (x: String, n) => g.append(n, x)
      }
      w.write(g)
    } finally w.close()
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
