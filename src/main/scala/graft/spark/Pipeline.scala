package graft.spark

import graft.html.{ExtractConfig, Extractor}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Extraction pipeline over the interleaved-document table.
  *
  * Spark realization of SURVEY §3.1: the whole reference chain
  * (tokenize → materialize → tree-build → extract; myhtml.c:225-238)
  * runs fused inside one mapPartitions closure per row — the reference's
  * SINGLE mode semantics (myhtml.c:130-134), with Spark tasks replacing
  * its worker threads (X1-X6 substrate).
  *
  * Scale design (north_rule):
  *  - explicit salted repartitioning: giant docs get dedicated buckets so
  *    a 100 MB document never straggles a partition of small docs;
  *  - per-doc size cap: oversized docs are failed into lineage, not OOM;
  *  - per-partition lineage rows + live counters via accumulators;
  *  - batch loop with atomic per-batch commits: the batch's data, then
  *    its lineage file, then its _SUCCESS marker (the parquet stand-in
  *    for an Iceberg snapshot commit that carries the lineage in its
  *    summary; on Iceberg swap the writer, the resume logic reads
  *    committed batch ids the same way);
  *  - resume: completed batches are skipped on restart; a batch without
  *    a marker runs again and replaces its data and its lineage file.
  */
object Pipeline {

  final case class Config(
      partitions: Int = 32,
      giantBuckets: Int = 4,
      giantThresholdBytes: Long = 1L << 20,   // 1 MiB of payload = "giant"
      maxDocBytes: Long = 256L << 20,         // hard cap: fail, don't parse
      numBatches: Int = 8,
      extract: ExtractConfig = Extractor.Strict)

  /** For each target partition 0..n-1, the smallest non-negative int v
    * whose Spark HashPartitioning id (pmod(murmur3(v, seed=42), n)) is
    * exactly that partition. Lets us get an EXACT bucket→partition
    * mapping through the regular Tungsten DataFrame shuffle — no RDD
    * hop, no Java serialization, columnar exchange. */
  private[graft] def murmurInverse(n: Int): Array[Int] = {
    val out = Array.fill(n)(-1)
    var found = 0
    var v = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
      val p = ((h % n) + n) % n
      if (out(p) < 0) { out(p) = v; found += 1 }
      v += 1
    }
    out
  }

  /** Length-aware salted repartition (SURVEY §4 custom-work table).
    * Regular docs hash over `partitions` buckets; giant docs go to
    * `giantBuckets` DEDICATED buckets so a partition never mixes giant
    * and bulk docs, and at most ~(giants/giantBuckets) giants share a
    * task. Runs BEFORE the parse so the expensive kernel is balanced,
    * not the scan. Bucket ids are mapped through `murmurInverse` so the
    * plain `repartition(n, col)` Tungsten shuffle places each bucket on
    * its own partition deterministically (naive repartition would
    * re-hash bucket ids and collide giant buckets into bulk ones). */
  def saltedRepartition(df: DataFrame, cfg: Config): DataFrame = {
    val n = cfg.partitions + cfg.giantBuckets
    val inv = murmurInverse(n)
    val bytes = aggregate(col("spans"), lit(0L),
      (acc, s) => acc + coalesce(length(s.getField("text")).cast("long"), lit(0L)))
    val bucket = when(bytes > cfg.giantThresholdBytes,
        pmod(xxhash64(col("doc_id")), lit(cfg.giantBuckets)).cast("int") + cfg.partitions)
      .otherwise(pmod(xxhash64(col("doc_id")), lit(cfg.partitions)).cast("int"))
    val pkey = element_at(typedlit(inv.toSeq), bucket + 1)
    df.withColumn("__graft_pkey", pkey)
      .repartition(n, col("__graft_pkey"))
      .drop("__graft_pkey")
  }

  def saltedRepartitionTyped(ds: Dataset[DocRow], cfg: Config): Dataset[DocRow] = {
    import ds.sparkSession.implicits._
    saltedRepartition(ds.toDF(), cfg).as[DocRow]
  }

  /** The distributed kernel: Dataset[DocRow] → Dataset[DocRow] with
    * per-partition metrics pushed into `acc` (one MetricsRow per
    * partition — north_rule lineage). Never throws per-doc on a non-fatal
    * error: the doc emits an empty-span row and counts into docs_failed
    * (robustness, Changes:33); a fatal error (OOM, StackOverflow,
    * interrupt) fails the task. */
  def extractDataset(ds: Dataset[DocRow], cfg: Config, batchId: Int,
                     acc: CollectionAccumulator[MetricsRow]): Dataset[DocRow] = {
    import ds.sparkSession.implicits._
    val extractCfg = cfg.extract
    val maxBytes = cfg.maxDocBytes
    ds.mapPartitions { it =>
      new KernelIterator(it, batchId, org.apache.spark.TaskContext.getPartitionId(),
        maxBytes, DocKernel.extractDoc(_, extractCfg), acc.add)
    }
  }

  /** One partition of extractDataset: runs `kernel` per doc under the
    * per-doc guard and emits the partition's MetricsRow once the input
    * is exhausted. */
  private[spark] final class KernelIterator(it: Iterator[DocRow], batchId: Int, pid: Int,
      maxBytes: Long, kernel: DocRow => DocRow, emit: MetricsRow => Unit)
      extends Iterator[DocRow] {
    private val t0 = System.nanoTime()
    private var docsIn = 0L
    private var docsOk = 0L
    private var docsFailed = 0L
    private var spansOut = 0L
    private var bytesIn = 0L
    private var firstId: String = null
    private var lastId: String = null
    private var finalized = false

    def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !finalized) {
        finalized = true
        emit(MetricsRow(batchId, pid, docsIn, docsOk, docsFailed,
          spansOut, bytesIn, (System.nanoTime() - t0) / 1000000L,
          if (firstId == null) "" else firstId,
          if (lastId == null) "" else lastId))
      }
      h
    }

    def next(): DocRow = {
      val doc = it.next()
      docsIn += 1
      if (firstId == null) firstId = doc.doc_id
      lastId = doc.doc_id
      val sz = DocKernel.docBytes(doc)
      bytesIn += sz
      val out =
        if (sz > maxBytes) { docsFailed += 1; DocRow(doc.doc_id, Seq.empty) }
        else try {
          val r = kernel(doc)
          docsOk += 1
          r
        } catch { case NonFatal(_) =>
          docsFailed += 1
          DocRow(doc.doc_id, Seq.empty)
        }
      spansOut += out.spans.length
      out
    }
  }

  /** Columnar fast path: the whole kernel as one native expression —
    * scan's UnsafeArrayData flows in, spans ArrayData flows out, no
    * Dataset object-codec hop on either side (~25% less memory traffic
    * per row than the typed path). Use when per-partition lineage rows
    * aren't needed (counters still available via SQL metrics). */
  def extractColumnar(df: DataFrame, cfg: Config): DataFrame = {
    import org.apache.spark.sql.functions.{call_function, col}
    GraftFunctions.registerAll(df.sparkSession)
    saltedRepartition(df, cfg)
      .withColumn("spans", call_function("extract_interleaved_spans", col("spans")))
  }

  /** One-shot extraction (no batching): salted repartition → kernel.
    * Returns the output DataFrame; metrics land in the returned
    * accumulator after an action runs. */
  def extract(spark: SparkSession, input: DataFrame, cfg: Config = Config())
      : (Dataset[DocRow], CollectionAccumulator[MetricsRow]) = {
    import spark.implicits._
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, "graft.metrics")
    val salted = saltedRepartition(input, cfg).as[DocRow]
    (extractDataset(salted, cfg, batchId = 0, acc), acc)
  }

  /** Where committed batches live. A batch counts as committed once
    * appendMetrics returns. The parquet implementation commits a batch
    * via its _SUCCESS marker; an Iceberg implementation
    * maps writeBatch → a snapshot-producing append tagged with the batch
    * id in the snapshot summary, and isBatchCommitted → a summary lookup
    * — the resume loop is identical (SURVEY §4 checkpoint/resume row). */
  trait BatchSink {
    def isBatchCommitted(batchId: Int): Boolean
    def writeBatch(batchId: Int, out: Dataset[DocRow]): Unit
    def appendMetrics(spark: SparkSession, rows: Seq[MetricsRow]): Unit
  }

  /** Batch `b`'s data goes to `outDir/batch=b` with Spark's own _SUCCESS
    * marker switched off. appendMetrics commits the batch writeBatch last
    * wrote: it writes the batch's lineage file from the driver
    * (Lineage.write, no Spark job), and only then the batch's _SUCCESS
    * marker. A crash before the marker leaves the batch uncommitted, so a
    * resume runs it again; its lineage file is replaced, not duplicated. */
  final class ParquetDirSink(outDir: String, metricsDir: String) extends BatchSink {
    private var written = -1
    private def marker(b: Int) = Paths.get(s"$outDir/batch=$b/_SUCCESS")
    def isBatchCommitted(b: Int): Boolean = Files.exists(marker(b))
    def writeBatch(b: Int, out: Dataset[DocRow]): Unit = {
      written = -1
      out.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(s"$outDir/batch=$b")
      written = b
    }
    def appendMetrics(spark: SparkSession, rows: Seq[MetricsRow]): Unit = {
      val b = written
      require(b >= 0, "appendMetrics commits the batch writeBatch wrote; none is pending")
      require(rows.forall(_.batch_id == b), s"lineage rows of another batch than $b")
      Lineage.write(spark, metricsDir, b, rows)
      Files.write(marker(b), Array.emptyByteArray)
      written = -1
    }
  }

  /** Batched, checkpoint-resumable run (north_rule). Batch membership is
    * pmod(xxhash64(doc_id), numBatches) — on a production Iceberg table
    * the input would be bucket-partitioned by the same key so each batch
    * is partition-pruned at the scan (here, on raw parquet, each batch
    * re-scans and filters; documented trade-off of the sandbox sink).
    * A committed batch is skipped on restart. */
  def runBatched(spark: SparkSession, input: DataFrame, outDir: String,
                 metricsDir: String, cfg: Config = Config()): Unit =
    runBatched(spark, input, new ParquetDirSink(outDir, metricsDir), cfg)

  def runBatched(spark: SparkSession, input: DataFrame, sink: BatchSink,
                 cfg: Config): Unit = {
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, "graft.metrics")
    val withBatch = input.withColumn("__graft_batch",
      pmod(xxhash64(col("doc_id")), lit(cfg.numBatches)).cast("int"))
    (0 until cfg.numBatches).foreach { b =>
      if (!sink.isBatchCommitted(b)) {
        val batchDf = withBatch.filter(col("__graft_batch") === b).drop("__graft_batch")
        val salted = saltedRepartitionTyped(batchDf.as[DocRow](
          org.apache.spark.sql.Encoders.product[DocRow]), cfg)
        sink.writeBatch(b, extractDataset(salted, cfg, b, acc))
        sink.appendMetrics(spark, Lineage.rows(acc))
        acc.reset()
      }
    }
  }

  /** Read back the committed output (all batches). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/batch=*")
}
