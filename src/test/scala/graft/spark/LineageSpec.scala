package graft.spark

import org.apache.spark.util.CollectionAccumulator
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The driver-side lineage writer, the retry-safe lineage rows and the
  * per-doc guard of the pipeline kernel. */
class LineageSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def row(b: Int, p: Int, docs: Long, first: String = "d0") =
    MetricsRow(b, p, docs, docs, 0L, 2 * docs, 100 * docs, 5L, first, "d9")

  private def emptyDir(name: String): String = {
    val d = s"/tmp/graft-test/lineage/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private def read(dir: String): Seq[MetricsRow] = {
    import spark.implicits._
    spark.read.parquet(dir).as[MetricsRow].collect().toSeq
      .sortBy(r => (r.batch_id, r.partition_id))
  }

  test("Lineage.rows keeps one row per (batch_id, partition_id), the last one") {
    val acc = new CollectionAccumulator[MetricsRow]
    Seq(row(1, 0, 3), row(0, 1, 4), row(1, 0, 3), row(0, 0, 5), row(0, 1, 7)).foreach(acc.add)
    assert(Lineage.rows(acc) == Seq(row(0, 0, 5), row(0, 1, 7), row(1, 0, 3)))
  }

  test("a lineage file reads back exactly the rows written, null first_doc_id included") {
    val dir = emptyDir("roundtrip")
    val rows = Seq(row(3, 0, 10), row(3, 1, 0, first = null), row(3, 2, 7, first = "é 中 😀"))
    Lineage.write(spark, dir, 3, rows)
    assert(new java.io.File(dir, "lineage-b00003.parquet").isFile)
    assert(read(dir) == rows)
    // a batch written again replaces its own file
    Lineage.write(spark, dir, 3, rows.take(1))
    assert(read(dir) == rows.take(1))
  }

  test("lineage files and files of Spark's parquet writer read back together") {
    import spark.implicits._
    val dir = emptyDir("mixed")
    val old = Seq(row(0, 0, 4), row(0, 1, 6, first = null))
    spark.createDataset(old).write.mode("append").parquet(dir)
    val rows = Seq(row(1, 0, 5), row(1, 1, 5))
    Lineage.write(spark, dir, 1, rows)
    assert(read(dir) == old ++ rows)
  }

  test("ParquetDirSink: the data write does not commit; appendMetrics commits with no Spark job") {
    import spark.implicits._
    val base = emptyDir("sink")
    val sink = new Pipeline.ParquetDirSink(s"$base/out", s"$base/metrics")
    val cfg = Pipeline.Config(partitions = 2, giantBuckets = 1)
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, "graft.metrics.test")
    val salted = Pipeline.saltedRepartition(CorpusGen.inputDs(spark, 40, parallelism = 2).toDF(), cfg)
      .as[DocRow]
    sink.writeBatch(5, Pipeline.extractDataset(salted, cfg, 5, acc))
    assert(!sink.isBatchCommitted(5), "the data write alone must not commit the batch")
    val rows = Lineage.rows(acc)
    assert(SparkTestSession.jobsDuring(sink.appendMetrics(spark, rows)) == 0)
    assert(sink.isBatchCommitted(5))
    assert(read(s"$base/metrics") == rows)
    assert(rows.map(_.docs_in).sum == 40)
  }

  test("ParquetDirSink: a batch write is one Spark job; write and commit start no OS process") {
    import spark.implicits._
    val base = emptyDir("no-fork")
    val sink = new Pipeline.ParquetDirSink(s"$base/out", s"$base/metrics")
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, "graft.metrics.test")
    val input = CorpusGen.inputDs(spark, 40, parallelism = 4)
    val cfg = Pipeline.Config()
    assert(SparkTestSession.jobsDuring(sink.writeBatch(0, Pipeline.extractDataset(input, cfg, 0, acc))) == 1)
    acc.reset()
    val forks = SparkTestSession.processStartsDuring {
      sink.writeBatch(1, Pipeline.extractDataset(input, cfg, 1, acc))
      sink.appendMetrics(spark, Lineage.rows(acc))
    }
    assert(forks == 0)
    assert(sink.isBatchCommitted(1))
    val files = new java.io.File(s"$base/out/batch=1").list().toSeq.sorted
    assert(files == "_SUCCESS" +: (0 until 4).map(LocalParquet.partName))
    assert(spark.read.parquet(s"$base/out/batch=1").as[DocRow].count() == 40)
  }

  test("a part file written by attempt 0 and again by attempt 1 leaves one visible file, the last") {
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(emptyDir("attempts")))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MetricsRow]()
    val settings = LocalParquet.settings(spark, enc.schema)
    val rows = Seq(row(0, 0, 1), row(0, 1, 2)).map(enc.createSerializer()(_).copy())
    LocalParquet.write(settings, dir, LocalParquet.partName(3), 0, rows.iterator.take(1))
    LocalParquet.write(settings, dir, LocalParquet.partName(3), 1, rows.iterator.drop(1))
    assert(dir.toFile.list().toSeq == Seq(LocalParquet.partName(3)))
    assert(read(dir.toString) == Seq(row(0, 1, 2)))
  }

  test("ParquetDirSink rejects an outDir or metricsDir on another file system") {
    intercept[IllegalArgumentException](new Pipeline.ParquetDirSink("hdfs://nn:8020/out", "/tmp/m"))
    intercept[IllegalArgumentException](new Pipeline.ParquetDirSink("/tmp/o", "s3a://bucket/metrics"))
    new Pipeline.ParquetDirSink("file:///tmp/o", "/tmp/m")
  }

  test("per-doc guard: a RuntimeException fails the doc into docs_failed, an OutOfMemoryError propagates") {
    val docs = (0 until 3).map(i => DocRow(s"d$i", Seq(SpanRow("text", s"t$i", "", 0))))
    val lineage = ArrayBuffer.empty[MetricsRow]
    def run(kernel: DocRow => DocRow): List[DocRow] =
      new Pipeline.KernelIterator(docs.iterator, 0, 0, Long.MaxValue, kernel, lineage += _).toList
    val out = run(d => if (d.doc_id == "d1") throw new RuntimeException("planted") else DocKernel.extractDoc(d))
    assert(out.map(_.doc_id) == Seq("d0", "d1", "d2"))
    assert(out.map(_.spans.length) == Seq(1, 0, 1))
    assert(lineage.map(r => (r.docs_in, r.docs_ok, r.docs_failed)) == Seq((3L, 2L, 1L)))
    intercept[OutOfMemoryError](run(_ => throw new OutOfMemoryError("planted")))
  }
}
