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
    val base = emptyDir("sink")
    val sink = new Pipeline.ParquetDirSink(s"$base/out", s"$base/metrics")
    val cfg = Pipeline.Config(partitions = 2, giantBuckets = 1)
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, "graft.metrics.test")
    val salted = Pipeline.saltedRepartitionTyped(CorpusGen.inputDs(spark, 40, parallelism = 2), cfg)
    sink.writeBatch(5, Pipeline.extractDataset(salted, cfg, 5, acc))
    assert(!sink.isBatchCommitted(5), "the data write alone must not commit the batch")
    val rows = Lineage.rows(acc)
    assert(SparkTestSession.jobsDuring(sink.appendMetrics(spark, rows)) == 0)
    assert(sink.isBatchCommitted(5))
    assert(read(s"$base/metrics") == rows)
    assert(rows.map(_.docs_in).sum == 40)
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
