package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge inside Spark's parquet package, whose footer helpers are
  * package-private. */
object GraftParquet {
  /** Schema of one Parquet file, read from its footer on the driver
    * with the two calls Spark's schema inference runs inside its
    * one-task job (None when there is no footer to read). */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(session.sessionState.newHadoopConf(),
        Seq(file), session.sessionState.conf.ignoreCorruptFiles),
      session)
  }
}
