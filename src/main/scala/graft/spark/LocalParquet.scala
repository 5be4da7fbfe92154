package graft.spark

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Parquet files written straight to the local file system by Spark's
  * own row writer (`ParquetWriteSupport`) through parquet-mr's
  * `LocalOutputFile`: no Hadoop FileSystem, no output committer, no
  * `.crc` file and no forked process. A file is written under a hidden
  * name and renamed into place, so readers never see a partial file and
  * the last writer of a name wins. The files read back like any file of
  * Spark's parquet writer. */
object LocalParquet {

  /** The writer settings Spark derives for `schema` in `spark`'s session
    * (row schema, codec, legacy format, timestamp type): exactly the keys
    * `ParquetFileFormat.prepareWrite` sets, so only they ship to tasks. */
  def settings(spark: SparkSession, schema: StructType): Map[String, String] = {
    val job = Job.getInstance(new Configuration(false))
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    job.getConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private final class Builder(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    protected def self(): Builder = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Writes `rows` to `dir/name` through the hidden `dir/.name.<attempt>.tmp`,
    * replacing any file called `name`. Returns (rows, bytes) written. */
  def write(settings: Map[String, String], dir: Path, name: String, attempt: Int,
            rows: Iterator[InternalRow]): (Long, Long) = {
    val tmp = dir.resolve(s".$name.$attempt.tmp")
    val conf = new Configuration(false)
    settings.foreach { case (k, v) => conf.set(k, v) }
    val w = new Builder(new LocalOutputFile(tmp)).withConf(conf)
      .withCompressionCodec(CompressionCodecName.fromConf(conf.get("parquet.compression")))
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    var n = 0L
    try rows.foreach { r => w.write(r); n += 1 } finally w.close()
    val bytes = Files.size(tmp)
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    (n, bytes)
  }

  def partName(pid: Int): String = f"part-$pid%05d.parquet"

  /** Writes `df` to the existing local directory `dir` in one Spark job:
    * each task writes its partition as `part-<pid>.parquet` (an empty
    * partition too, and `part-00000` from the driver if the plan has no
    * partition, so an empty frame reads back with its schema) and records
    * its rows and bytes in the task's output metrics. */
  def writeParts(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val s = settings(spark, df.schema)
    val rdd = df.queryExecution.toRdd
    GraftSql.withConfPropagated(spark) {
      spark.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val (n, bytes) = write(s, Paths.get(dir), partName(ctx.partitionId()), ctx.attemptNumber(), it)
        GraftSql.recordOutput(n, bytes)
      })
    }
    if (rdd.getNumPartitions == 0) write(s, Paths.get(dir), partName(0), 0, Iterator.empty)
  }
}
