package graft.streaming

import graft.spark.{DocRow, Lineage, MetricsRow, Pipeline}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming front end for the extraction pipeline.
  *
  * The reference has no cross-document streaming (its "chunk parsing",
  * myhtml.c:309-355, is intra-document incremental IO — SURVEY §1.3), so
  * this is the Spark-native growth path: new parquet files landing in a
  * directory are discovered by the file source, run through the SAME
  * per-row kernel, and committed exactly-once per input file via the
  * streaming checkpoint — an alternative resumability story to the
  * batch pipeline's committed-batch markers (north_rule).
  */
object StreamingExtract {

  val docSchema = Encoders.product[DocRow].schema

  /** Poll a draining query to `expected` sink rows WITHOUT running a
    * Spark job per poll (round 8): the old `spark.table(qname).count()`
    * loop submitted a count job every 50 ms — tens of jobs of pure
    * scheduler overhead per drain (measured: the poll jobs were the
    * single largest cost of the TTL/append drains at gate scale, and
    * at production scale they steal scheduler slots from the stream
    * itself). Streaming progress events already carry the per-trigger
    * sink row count (`progress.sink.numOutputRows`), so the poll reads
    * DRIVER-LOCAL metadata; the caller re-verifies the final count with
    * one real job after stop() (the authoritative check is unchanged).
    * recentProgress is bounded (default 100 entries) and idle triggers
    * only report every noDataProgressEventInterval, so the sum is safe
    * for bounded drains; a sink that ever reported -1 would undercount
    * and simply fall through to the deadline + final require. */
  private def pollToCount(q: StreamingQuery, expected: Long,
                          deadlineNanos: Long): Unit = {
    def delivered(): Long =
      q.recentProgress.iterator.map(p => math.max(p.sink.numOutputRows, 0L)).sum
    while (delivered() < expected && System.nanoTime() < deadlineNanos)
      Thread.sleep(50)
  }

  /** Write the drain's mtime-sequenced batch files in ONE Spark job
    * (round 8): the per-batch `coalesce(1).write` loop paid one job
    * per batch; a single union + partitionBy("__b") write produces the
    * same one-file-per-batch layout (partition columns are directory-
    * encoded, so file schemas are unchanged). ORDER-FREE DRAINS ONLY —
    * the dynamic-partition writer sorts by the partition column with
    * no within-batch order guarantee, so the doc-order stateful drains
    * (dedup/semdedup/fetch, whose verdicts read within-batch arrival
    * order) keep their per-batch loop. An empty batch writes no
    * partition directory and falls back to a direct write (batch
    * indices must not shift). */
  private def writeBatchFilesUnordered(batches: Seq[DataFrame],
                                       base: java.io.File): java.io.File = {
    import org.apache.spark.sql.functions._
    val inDir = new java.io.File(base, "in")
    inDir.mkdirs()
    val stage = new java.io.File(base, "stage")
    batches.zipWithIndex.map { case (b, i) => b.withColumn("__b", lit(i)) }
      .reduce(_ unionByName _)
      .coalesce(1).write.partitionBy("__b").mode("overwrite")
      .parquet(stage.toString)
    batches.zipWithIndex.foreach { case (b, i) =>
      val pdir = new java.io.File(stage, s"__b=$i")
      val src = Option(pdir.listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
      val dst = new java.io.File(inDir, f"b$i%03d.parquet")
      src match {
        case Some(f) => java.nio.file.Files.move(f.toPath, dst.toPath)
        case None => // empty batch: write it directly (rare path)
          val part = new java.io.File(base, s"part$i")
          b.coalesce(1).write.mode("overwrite").parquet(part.toString)
          val pf = part.listFiles().find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet file written for batch $i"))
          java.nio.file.Files.move(pf.toPath, dst.toPath)
      }
      dst.setLastModified(1600000000000L + i * 600000L)
    }
    inDir
  }

  /** Continuous mode: follow `inputDir` forever (micro-batches). */
  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String, cfg: Pipeline.Config = Pipeline.Config(),
            availableNowOnly: Boolean = false): StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "64")
      .parquet(inputDir)

    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same salted repartition + kernel as the batch pipeline; the
        // micro-batch's lineage file lands next to the output (a replayed
        // micro-batch replaces its own file)
        val acc = new org.apache.spark.util.CollectionAccumulator[MetricsRow]
        batch.sparkSession.sparkContext.register(acc, s"graft.stream.$batchId")
        val salted = Pipeline.saltedRepartition(batch, cfg).as[DocRow]
        Pipeline.extractDataset(salted, cfg, batchId.toInt, acc)
          .write.mode("append").parquet(s"$outDir/data")
        Lineage.write(batch.sparkSession, s"$outDir/metrics", batchId, Lineage.rows(acc))
      }
    (if (availableNowOnly) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Drain whatever is in `inputDir` right now and stop (used by tests
    * and backfills). */
  def drain(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String, cfg: Pipeline.Config = Pipeline.Config()): Unit = {
    val q = start(spark, inputDir, outDir, checkpointDir, cfg, availableNowOnly = true)
    q.awaitTermination()
  }

  /** Bounded micro-batch drain of `dedupVerdicts` for the DuckDB oracle
    * gate (VERDICT r3 #7 — the one shipped operator with no
    * driver-visible oracle): each input frame becomes ONE ordered file
    * (mtime-sequenced, maxFilesPerTrigger=1, AvailableNow), so the
    * stateful dedup crosses a real micro-batch boundary, and the final
    * memory-sink table comes back as a plain DataFrame the driver can
    * hash against SQL. The verdict values are batch-split-INVARIANT by
    * construction (copies_so_far/is_first depend only on global arrival
    * order, which the caller makes equal to doc_id order), so the oracle
    * replay is a plain window over the batch input. */
  def dedupVerdictsDrain(batches: Seq[DataFrame],
                         statePartitions: Int = 8,
                         stateTtlMs: Long = 0L): DataFrame = {
    val spark = batches.head.sparkSession
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    val inDir = new java.io.File(base.toFile, "in")
    inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = new java.io.File(base.toFile, s"part$i")
      b.coalesce(1).write.mode("overwrite").parquet(part.toString)
      val src = part.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet file written for batch $i"))
      val dst = new java.io.File(inDir, f"b$i%03d.parquet")
      java.nio.file.Files.move(src.toPath, dst.toPath)
      // file-source ordering is by modification time: sequence explicitly
      dst.setLastModified(1600000000000L + i * 600000L)
    }
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val verdicts = dedupVerdicts(stream.as[(String, String)], stateTtlMs)
    val qname = "graft_stream_dedup_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // state-store instance count is pinned by the FIRST run's shuffle
    // partitions (checkpoint schema): size it to the drain, not the
    // session — a bounded gate drain paying 32 state tasks × batches of
    // pure overhead was ~40% of this operator's bench cost. Production
    // callers size it to their key cardinality instead (statePartitions
    // <= 0 inherits the session setting).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      if (statePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val writer = verdicts.writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
      if (stateTtlMs <= 0) {
        val q = writer.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } else {
        // ProcessingTimeTimeout makes shouldRunAnotherBatch always true:
        // an AvailableNow drain NEVER terminates (measured — it keeps
        // constructing timeout-check batches), and processAllAvailable
        // never returns either. Bounded-drain protocol for TTL queries:
        // every input row emits exactly ONE verdict in update mode, so
        // poll the sink to the known row count, then stop. The count
        // comes from the ALREADY-WRITTEN input files (footer-cheap) —
        // counting the batch DataFrames re-executed their whole
        // upstream construction (round 8); the poll reads progress
        // metadata, not a count job per tick (pollToCount).
        val expected = spark.read.parquet(inDir.toString).count()
        val q = writer.trigger(Trigger.ProcessingTime("50 milliseconds")).start()
        pollToCount(q, expected, System.nanoTime() + 120L * 1000000000L)
        q.stop()
        require(spark.table(qname).count() == expected,
          s"TTL drain incomplete: ${spark.table(qname).count()} of $expected verdicts")
      }
      // localCheckpoint materializes the result so the memory-sink table
      // and the temp dir can be torn down (repeated Verify/Bench/test
      // invocations must not accumulate driver memory + disk)
      spark.table(qname).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      scala.util.Try(spark.catalog.dropTempView(qname))
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }

  /** Event-time windowed counts under a WATERMARK — the Structured
    * Streaming aggregation surface (windows + late-data policy) behind
    * the same bounded-drain protocol as the TTL dedup path. Input
    * batches are (lang, ts) frames sequenced as mtime-ordered files
    * (maxFilesPerTrigger=1), aggregated as
    * `withWatermark(ts, watermarkSec) groupBy(window(ts, windowSec),
    * lang) count` in APPEND mode: a window row emits exactly once, when
    * the watermark passes its end. Late-data semantics (measured on
    * this Spark, pinned by StreamingSpec): a late row whose window has
    * already been EVICTED is dropped by the watermark filter; a late
    * row arriving while its window is still in state MERGES into the
    * final count — so callers sequence batches to make the verdict
    * deterministic (plant the late row one batch AFTER the
    * watermark-advancing batch). The
    * caller supplies `expectedRows` (the distinct (window, key) count
    * it constructed) and the drain polls the append sink to that count
    * — the final windows flush on Spark's no-data micro-batch, which
    * has no termination signal AvailableNow could wait on. */
  def windowCountsDrain(batches: Seq[DataFrame], windowSec: Int,
                        watermarkSec: Int, expectedRows: Long,
                        statePartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    appendDrain(batches, expectedRows, statePartitions, "graft_stream_window",
      stream => stream.withWatermark("ts", s"$watermarkSec seconds")
        .groupBy(window(col("ts"), s"$windowSec seconds"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("w_start"),
          col("lang"), col("n")))
  }

  /** Shared bounded-drain harness for APPEND-mode event-time
    * aggregations: sequence the (lang, ts) batches as mtime-ordered
    * files, run `aggOf(stream)` under a ProcessingTime trigger, poll
    * the memory sink to `expectedRows`, stop. Append-mode results only
    * materialize when the watermark closes them — there is no
    * AvailableNow termination signal to wait on, so the known-count
    * poll is the protocol (the q_stream_dedup_ttl lesson). */
  private def appendDrain(batches: Seq[DataFrame], expectedRows: Long,
                          statePartitions: Int, tag: String,
                          aggOf: DataFrame => DataFrame): DataFrame = {
    val spark = batches.head.sparkSession
    val tsType = batches.head.schema("ts").dataType
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val base = java.nio.file.Files.createTempDirectory(tag)
    // event-time aggregation: within-batch row order is irrelevant, so
    // the one-job union write applies
    val inDir = writeBatchFilesUnordered(batches, base.toFile)
    val schema = StructType(Seq(
      StructField("lang", StringType), StructField("ts", tsType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val agg = aggOf(stream)
    val qname = tag + "_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      if (statePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val q = agg.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
        .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
      // progress-metadata poll, not a count job per tick (pollToCount)
      pollToCount(q, expectedRows, System.nanoTime() + 120L * 1000000000L)
      q.stop()
      require(spark.table(qname).count() == expectedRows,
        s"$tag drain incomplete: ${spark.table(qname).count()} of $expectedRows rows")
      spark.table(qname).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      scala.util.Try(spark.catalog.dropTempView(qname))
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }

  /** Streaming SESSIONIZATION: `session_window(ts, gap)` per key under
    * a watermark, drained with the same known-count poll protocol.
    * Batches MUST be time-split (every event of batch N+1 later than
    * batch N's watermark) so no event is late — sessions split across
    * batches then MERGE in state and the result equals the batch
    * gaps-and-islands rollup ([[graft.ops.Sessions.sessionize]] shares
    * the rule: join iff diff < gap). Emitted end_us subtracts the gap
    * session_window pads onto the last event. */
  def sessionCountsDrain(batches: Seq[DataFrame], gapSec: Int,
                         watermarkSec: Int, expectedRows: Long,
                         statePartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    // event-time streaming requires TIMESTAMP (instants); callers with
    // NTZ sources convert timezone-free via
    // timestamp_micros(timestamp_diff(MICROSECOND, ntz_epoch, ts)) so
    // unix_micros here replays DuckDB's epoch_us(ntz) on any zone
    appendDrain(batches, expectedRows, statePartitions, "graft_stream_session",
      stream => stream.withWatermark("ts", s"$watermarkSec seconds")
        .groupBy(session_window(col("ts"), s"$gapSec seconds"), col("lang"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("lang"),
          unix_micros(col("session_window.start")).as("start_us"),
          (unix_micros(col("session_window.end")) - gapSec * 1000000L)
            .as("end_us"),
          col("n_events")))
  }

  /** Streaming WARC ingestion: blobs landing as files → record split →
    * HTTP body → extracted clear text, per micro-batch. The transform
    * is STATELESS (record framing and extraction are per-row), so the
    * streamed output equals the batch query on the union of batches
    * regardless of file arrival order — which is exactly what the
    * q_stream_warc oracle replays. Checkpointed file source = the
    * exactly-once resumability story for a continuously-crawling
    * archive directory. */
  def warcExtract(blobs: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = blobs.sparkSession
    graft.spark.GraftFunctions.registerAll(spark)
    import org.apache.spark.sql.functions._
    blobs.select(col(idCol).as("doc_id"),
        explode(graft.spark.GraftFunctions.graft_warc_records(col(blobCol))).as("r"))
      .filter(col("r.ok"))
      .select(col("doc_id"), col("r.warc_type").as("warc_type"),
        col("r.status").as("status"), col("r.uri").as("uri"),
        graft.spark.GraftFunctions.parse_html_text(col("r.body")).as("body_text"))
  }

  /** Bounded micro-batch drain of `warcExtract` for the oracle gate —
    * same harness as `dedupVerdictsDrain` (mtime-sequenced files,
    * maxFilesPerTrigger=1, AvailableNow, memory sink, full teardown).
    * Append mode: the stage is stateless, every row emits exactly
    * once. */
  def warcExtractDrain(batches: Seq[DataFrame]): DataFrame = {
    val spark = batches.head.sparkSession
    import org.apache.spark.sql.types.{StructType, StructField, StringType, BinaryType}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-warc")
    // stateless per-row extraction: order-free, one-job union write
    val inDir = writeBatchFilesUnordered(batches, base.toFile)
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("blob", BinaryType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val out = warcExtract(stream, "doc_id", "blob")
    val qname = "graft_stream_warc_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(qname).localCheckpoint()
    } finally {
      scala.util.Try(spark.catalog.dropTempView(qname))
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }

  /** WARC ARCHIVE SEGMENTER (batch stage): compose one deterministic
    * WARC/1.0 response record per row ([[graft.spark.WarcUdfs.compose]]
    * — md5-derived record id, octet Content-Length; the layout the
    * q_warc_compose oracle replays verbatim) and assign each record
    * WHOLLY to the archive segment its cumulative stream offset falls
    * in: segment = stream_offset div `budget` octets, records in
    * ascending id order. Records are ATOMIC — a record that starts just
    * under a boundary overruns its segment rather than splitting
    * (`straddles` flags it), and a record larger than `budget` leaves
    * the next segment index(es) empty. That offset rule (rather than
    * greedy close-on-overflow) is what makes rotation embarrassingly
    * replayable: it is [[graft.ops.Pack.concatChunk]]'s two-pass prefix
    * sum on octet lengths, not a sequential fold.
    *
    * Scale shape: the pack's range shuffle carries (id, bytes) ONLY —
    * the heavy record strings never ride it; offsets join back on the
    * unique id afterwards. Output: (idCol, rec_bytes, stream_offset,
    * segment, seg_offset, straddles, rec_md5) — all BIGINT/INT plus the
    * md5 of the composed record text, so the oracle gates the composed
    * BYTES, not just the arithmetic. */
  def composeSegments(df: DataFrame, idCol: String, uriCol: String,
                      dateCol: String, bodyCol: String,
                      budget: Long): DataFrame = {
    require(budget >= 1, s"segment budget must be >= 1 octet: $budget")
    val spark = df.sparkSession
    graft.spark.GraftFunctions.registerAll(spark)
    import org.apache.spark.sql.functions._
    val rec = call_function("graft_warc_compose",
      col(uriCol), col(dateCol), col(bodyCol))
    val sized = df.select(col(idCol), rec.as("__rec"),
      octet_length(rec).cast("long").as("__bytes"))
    val packed = graft.ops.Pack.concatChunk(
      sized.select(col(idCol), col("__bytes").as("n")), idCol, "n",
      budget = budget)
    packed.join(sized, idCol)
      .select(col(idCol), col("n_tokens").as("rec_bytes"),
        col("start_offset").as("stream_offset"),
        col("chunk_start").as("segment"),
        (col("start_offset") - col("chunk_start") * budget).as("seg_offset"),
        (col("chunk_end") > col("chunk_start")).cast("int").as("straddles"),
        md5(col("__rec").cast("binary")).as("rec_md5"))
  }

  /** Streaming WARC ARCHIVE composer — the continuous-crawl write path
    * that pairs with [[warcExtract]]'s read path: each micro-batch of
    * fetched pages is composed and segmented by [[composeSegments]] and
    * appended to the archive, and the segment counter RESETS per batch
    * (a rotating archiver closes its open segment when the trigger
    * ends — segment identity is (batch_id, segment)). The stage is
    * stateless across batches, so the streamed output equals the batch
    * segmenter applied to each arrival batch independently — which is
    * exactly what the oracle replays (per-batch window cumsum). Uses
    * foreachBatch + append (the file-rotation sink pattern); the
    * checkpointed file source makes re-delivery exactly-once per input
    * file. Drain harness: mtime-sequenced files, maxFilesPerTrigger=1,
    * AvailableNow, parquet sink, full teardown. */
  def composeSegmentsDrain(batches: Seq[DataFrame],
                           budget: Long,
                           shufflePartitions: Int = 8): DataFrame = {
    val spark = batches.head.sparkSession
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-seg")
    // composeSegments keys its prefix sum by ascending id — input row
    // order is irrelevant, so the one-job union write applies
    val inDir = writeBatchFilesUnordered(batches, base.toFile)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("uri", StringType),
      StructField("date", StringType), StructField("body", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val outDir = new java.io.File(base.toFile, "out")
    // shuffle partitions sized to the drain (the statePartitions
    // convention, round 8): each micro-batch is one small file, and the
    // per-batch pack/joins at the session's full width were pure task
    // overhead. Pinned result: concatChunk is partition-count INVARIANT
    // (ScaleGuardSpec 2/7/32) and the joins are set-semantics, so the
    // output is identical. Production callers size to their batch
    // volume (<= 0 inherits the session setting).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      if (shufflePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      val q = stream.writeStream
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          composeSegments(b, "doc_id", "uri", "date", "body", budget)
            .withColumn("batch_id", lit(batchId.toInt))
            .write.mode("append").parquet(outDir.toString)
        }.start()
      q.awaitTermination()
      spark.read.parquet(outDir.toString).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }

  /** Streaming incremental CDC: each arriving file-batch of
    * (re)crawled rows compares against a STATIC baseline snapshot —
    * per batch, 'added'/'changed' verdicts via
    * [[graft.ops.SnapshotDiff.incremental]] (unchanged rows drop;
    * 'removed' is a full-snapshot question and deliberately absent).
    * Stateless per batch (the baseline is the only history), so
    * batch == stream semantics hold exactly; batch_id = file mtime
    * order under maxFilesPerTrigger=1 + AvailableNow (the segments
    * identity convention). */
  def cdcDrain(baseline: DataFrame, batches: Seq[DataFrame],
               idCol: String, contentCols: Seq[String],
               shufflePartitions: Int = 8): DataFrame = {
    val spark = batches.head.sparkSession
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-stream-cdc")
    // the per-batch diff is a set-semantics join — order-free, one-job
    // union write
    val inDir = writeBatchFilesUnordered(batches, base.toFile)
    val stream = spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val outDir = new java.io.File(base.toFile, "out")
    // drain-sized shuffle partitions (the statePartitions convention,
    // round 8): per-batch diff joins over one small file at full
    // session width were pure task overhead; incremental() is a
    // set-semantics join, so the output is identical
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      if (shufflePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      val q = stream.writeStream
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          graft.ops.SnapshotDiff.incremental(b, baseline, idCol, contentCols)
            .withColumn("batch_id", lit(batchId.toInt))
            .write.mode("append").parquet(outDir.toString)
        }.start()
      q.awaitTermination()
      spark.read.parquet(outDir.toString).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }

  /** Per-hash dedup state: how many copies seen, which doc won. */
  final case class DedupState(first_doc_id: String, copies: Long)
  /** Dedup verdict row emitted per input doc. */
  final case class DedupVerdict(doc_id: String, text_hash: String,
                                is_first: Boolean, copies_so_far: Long)

  /** Streaming exact dedup over an unbounded doc stream: the first doc
    * per normalized text hash passes (`is_first`), later copies are
    * flagged with their running count — the stateful building block a
    * continuous ingestion pipeline puts in front of extraction.
    * Winner = FIRST ARRIVAL (within a micro-batch too): deterministic
    * whenever the source preserves row order (file sources do; the
    * oracle harness additionally makes arrival order == doc_id order).
    * This is what makes the group fold a single forward pass with O(1)
    * memory per hash — a boilerplate burst of 10^6 copies of one page
    * in one micro-batch streams through without buffering (the r4
    * implementation sorted each group by doc_id, heaping an executor).
    * `flatMapGroupsWithState` keeps ONE small state row per distinct
    * hash (the custom-state pattern the north-rule growth path needs;
    * built-in dropDuplicates can't expose the copy counts or the winning
    * doc id). State is hash-keyed, so the shuffle carries (hash, doc_id)
    * only; update mode emits one verdict per input row per micro-batch.
    *
    * STATE LIFECYCLE (round 7, VERDICT r6 #4): with the default
    * `stateTtlMs = 0` the state grows one row per distinct hash forever —
    * fine for bounded drains and the oracle gate, unbounded over an
    * infinite stream (the reference frees its token/tree pools per parse,
    * mcobject_async.c:215; streaming state needs the same end of life).
    * `stateTtlMs > 0` enables `ProcessingTimeTimeout`: a hash whose state
    * has seen no copy for the TTL is dropped at the next trigger, so
    * steady-state memory is one row per hash ACTIVE within the window,
    * not per hash ever seen. Semantics under TTL are deliberately
    * approximate at the boundary: a duplicate arriving AFTER its hash
    * expired reads as a fresh first (dedup windows behave this way in
    * every production CCNet-style pipeline); duplicates arriving while
    * the state row is alive get verdicts IDENTICAL to the no-TTL path
    * (StreamingSpec pins both properties). Timeout firing is lazy — a
    * past-deadline group that receives data in the same trigger is still
    * deduped against (TTL bounds memory, it is not a semantic clock). */
  def dedupVerdicts(docs: org.apache.spark.sql.Dataset[(String, String)],
                    stateTtlMs: Long = 0L)
      : org.apache.spark.sql.Dataset[DedupVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs.toDF("doc_id", "text")
      // '' sentinel for null text (the Dedup.exact convention): a null
      // text row must still get a verdict, never a null groupByKey key
      .select(col("doc_id"), coalesce(md5(graft.ops.TextNorm.lowerCol(
        graft.ops.TextNorm.trimCol(col("text")))), lit("")).cast("string").as("text_hash"))
      .as[(String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (hash: String, rows: Iterator[(String, String)], state: GroupState[DedupState]) => {
          if (state.hasTimedOut) {
            // TTL expiry: no data for this hash within the window — free
            // the row. A later copy starts a fresh first-arrival state.
            state.remove()
            Iterator.empty
          } else
          // SINGLE FORWARD PASS, O(1) memory per group (VERDICT r4 #3:
          // the old toSeq.sortBy buffered every copy of a hash arriving
          // in one micro-batch — a boilerplate burst of 10^6 copies of
          // one page would heap an executor). Winner = FIRST ARRIVAL;
          // the oracle harness makes arrival order == doc_id order
          // (CLAUDE.md invariant: coalesce(1) files + lpad'd ids), so
          // verdict values are unchanged there. state.update per element
          // is valid: FlatMapGroupsWithStateExec persists whatever the
          // GroupState holds once the OUTPUT iterator completes, so the
          // last update wins and the map can stay lazy end to end.
          // ASSUMPTION PINNED (round-6, ADVICE r5): the state-commit
          // path drains the output iterator via CompletionIterator
          // before advancing groups. StreamingSpec's cross-batch case
          // ("first doc per hash wins across micro-batches": batch-2
          // copies_so_far == 3) fails loudly if a Spark upgrade ever
          // changes that timing — do NOT drop that test.
          rows.map { case (docId, _) =>
            val prev = state.getOption.getOrElse(DedupState(docId, 0L))
            val st = DedupState(prev.first_doc_id, prev.copies + 1)
            state.update(st)
            // after update the state is defined, so the TTL reset is
            // always legal; resetting per element keeps the deadline at
            // "last copy seen + TTL" (an active hash never expires)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            DedupVerdict(docId, hash, st.copies == 1 && docId == st.first_doc_id,
              st.copies)
          }
        })
  }

  // ------------------------------------------------- semantic (vector)

  final case class SemState(ids: Seq[String], vecs: Seq[Seq[Float]])

  final case class SemDedupVerdict(doc_id: String, cell: Int,
                                   is_dup: Boolean, match_id: String,
                                   retained: Long)

  /** Streaming SEMANTIC dedup — the embedding-aware companion of
    * [[dedupVerdicts]]: incoming vectors are keyed by their IVF cell
    * (argmax cosine against plan-literal centroids; dirty vectors —
    * null/empty/NaN/Inf — key to the -1 sentinel and never touch
    * state), and each arrival is checked against the cell's RETAINED
    * EXEMPLARS (first-arrival representatives): cosine >= threshold →
    * duplicate of the FIRST matching exemplar in insertion order;
    * otherwise the vector is novel and joins the exemplar set.
    *
    * State is BOUNDED at `capPerCell` exemplars per cell (the
    * end-of-life rule every keyed state needs): beyond the cap a novel
    * vector is emitted as novel but NOT retained — later copies of it
    * read novel too (approximate-at-the-cap by design, the TTL
    * discipline; size the cap to the cell's expected distinct-direction
    * count). `retained` reports the exemplar count after the row — the
    * running-novel-sum the oracle replays (valid below the cap).
    *
    * Verdict determinism mirrors dedupVerdicts: arrival order == id
    * order under the drain harness (lpad'd ids + ordered batch files),
    * and the exemplar scan is a forward pass in insertion order.
    * Cosines are the VecUdfs arithmetic (index-order double
    * accumulation, 1e-12 guard) — exactly 1.0 / 3/5 on the planted
    * power-of-two / Pythagorean constructions, which is what makes the
    * verdict hash-oracle-able. */
  def semDedupVerdicts(vecs: org.apache.spark.sql.Dataset[(String, Seq[Float])],
                       centroids: Array[Array[Float]],
                       threshold: Double = 0.9,
                       capPerCell: Int = 256,
                       stateTtlMs: Long = 0L)
      : org.apache.spark.sql.Dataset[SemDedupVerdict] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(capPerCell >= 1, s"capPerCell must be >= 1: $capPerCell")
    // stateTtlMs > 0: idle CELLS expire wholesale (the dedupVerdicts TTL
    // discipline — every keyed state needs an end of life): a cell with
    // no arrivals within the TTL drops its exemplar set, and the next
    // arrival starts a fresh first-arrival state. Approximate at the
    // boundary by design — a post-expiry near-dup reads novel.
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      if (a.length != b.length) return Double.NegativeInfinity
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val s = dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
      if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
    }
    val cents: Array[Seq[Float]] = centroids.map(_.toSeq)
    def cellOf(v: Seq[Float]): Int = {
      if (v == null || v.isEmpty ||
          v.exists(x => java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x)))
        return -1
      var best = 0; var bestSim = Double.NegativeInfinity
      var j = 0
      while (j < cents.length) {
        val s = cos(v, cents(j))
        if (s > bestSim) { best = j; bestSim = s }
        j += 1
      }
      best
    }
    vecs.map { case (id, v) => (id, v, cellOf(v)) }
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (cellId: Int, rows: Iterator[(String, Seq[Float], Int)],
         state: GroupState[SemState]) => {
          if (state.hasTimedOut) {
            // TTL expiry: the cell saw no arrivals within the window —
            // free its exemplar set. A later arrival starts fresh.
            state.remove()
            Iterator.empty
          } else if (cellId == -1)
            // dirty rows: verdicts without state (the -1 sentinel rule)
            rows.map { case (id, _, _) =>
              SemDedupVerdict(id, -1, is_dup = false, null, 0L) }
          else
            // forward pass, state.update per element (the dedupVerdicts
            // persistence contract: the state committed is whatever the
            // GroupState holds once the output iterator drains)
            rows.map { case (id, v, _) =>
              val st = state.getOption.getOrElse(SemState(Nil, Nil))
              val m = st.vecs.indexWhere(u => cos(v, u) >= threshold)
              val verdict =
                if (m >= 0)
                  SemDedupVerdict(id, cellId, is_dup = true, st.ids(m),
                    st.ids.length.toLong)
                else {
                  val st2 =
                    if (st.ids.length < capPerCell)
                      SemState(st.ids :+ id, st.vecs :+ v)
                    else st
                  state.update(st2)
                  SemDedupVerdict(id, cellId, is_dup = false, null,
                    st2.ids.length.toLong)
                }
              // the deadline resets per arrival: an ACTIVE cell never
              // expires (dup branch: a match implies exemplars exist,
              // so the state is always defined here)
              if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
              verdict
            }
        })
  }

  /** Bounded drain for [[semDedupVerdicts]] — the dedupVerdictsDrain
    * protocol (ordered parquet batch files, maxFilesPerTrigger=1,
    * AvailableNow, memory sink, state partitions sized to the drain). */
  def semDedupDrain(batches: Seq[DataFrame],
                    centroids: Array[Array[Float]],
                    threshold: Double = 0.9,
                    capPerCell: Int = 256,
                    statePartitions: Int = 8,
                    stateTtlMs: Long = 0L): DataFrame = {
    val spark = batches.head.sparkSession
    import org.apache.spark.sql.types.{StructType, StructField, StringType,
      ArrayType, FloatType}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-semdedup")
    val inDir = new java.io.File(base.toFile, "in")
    inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = new java.io.File(base.toFile, s"part$i")
      b.coalesce(1).write.mode("overwrite").parquet(part.toString)
      val src = part.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet file written for batch $i"))
      val dst = new java.io.File(inDir, f"b$i%03d.parquet")
      java.nio.file.Files.move(src.toPath, dst.toPath)
      dst.setLastModified(1600000000000L + i * 600000L)
    }
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val verdicts = semDedupVerdicts(stream.as[(String, Seq[Float])],
      centroids, threshold, capPerCell, stateTtlMs)
    val qname = "graft_stream_semdedup_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      if (statePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val writer = verdicts.writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
      if (stateTtlMs <= 0) {
        val q = writer.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } else {
        // ProcessingTimeTimeout never terminates an AvailableNow drain
        // (the dedupVerdictsDrain lesson): poll the sink to the known
        // row count — update mode emits exactly one verdict per input.
        // Count the written input files (footer-cheap), poll progress
        // metadata (pollToCount) — no per-tick count jobs (round 8).
        val expected = spark.read.parquet(inDir.toString).count()
        val q = writer.trigger(Trigger.ProcessingTime("50 milliseconds")).start()
        pollToCount(q, expected, System.nanoTime() + 120L * 1000000000L)
        q.stop()
        require(spark.table(qname).count() == expected,
          s"TTL drain incomplete: ${spark.table(qname).count()} of $expected verdicts")
      }
      spark.table(qname).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      scala.util.Try(spark.catalog.dropTempView(qname))
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }

  // ------------------------------------------------ politeness slots

  final case class FetchSlot(doc_id: String, host: String, slot: Long,
                             fetch_at_ms: Long)

  /** Streaming politeness scheduler — per-host crawl slots assigned as
    * URLs ARRIVE (the frontier-consumer companion of the batch
    * q_fetch_schedule): keyed state is ONE counter per host (fetches
    * already scheduled), each arrival takes slot = counter and
    * fetch_at_ms = slot · delay_ms, where delay_ms is the host's
    * crawl-delay carried on the row (constant per host by contract —
    * it comes from one robots.txt parse upstream). State is O(1) per
    * host — a counter, no URL retention — so this is the bounded-state
    * shape a continuous frontier needs; `stateTtlMs > 0` additionally
    * expires idle hosts (the dedupVerdicts TTL discipline: expiry
    * restarts an idle host's schedule from slot 0, approximate at the
    * boundary by design).
    *
    * Totality: null hosts coalesce to '' upstream (never a null group
    * key); delay_ms <= 0 (junk robots values) clamps to 1000 — the
    * q_fetch_schedule 1 s default politeness rule.
    *
    * Verdict determinism mirrors dedupVerdicts: arrival order ==
    * doc_id order under the drain harness (lpad'd ids + mtime-ordered
    * batch files), so the oracle replays slots with one
    * row_number-per-host window. */
  def fetchScheduleVerdicts(urls: org.apache.spark.sql.Dataset[(String, String, Long)],
                            stateTtlMs: Long = 0L)
      : org.apache.spark.sql.Dataset[FetchSlot] = {
    import urls.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    urls.map { case (id, host, delay) =>
      (id, if (host == null) "" else host, if (delay <= 0L) 1000L else delay)
    }
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (host: String, rows: Iterator[(String, String, Long)],
         state: GroupState[Long]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else
            // forward pass, state.update per element (the dedupVerdicts
            // persistence contract: the committed state is whatever the
            // GroupState holds once the output iterator drains)
            rows.map { case (id, _, delay) =>
              val slot = state.getOption.getOrElse(0L)
              state.update(slot + 1)
              if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
              FetchSlot(id, host, slot, slot * delay)
            }
        })
  }

  /** Bounded drain for [[fetchScheduleVerdicts]] — the dedupVerdictsDrain
    * protocol (ordered parquet batch files, maxFilesPerTrigger=1,
    * AvailableNow, memory sink; TTL > 0 switches to the poll-to-count
    * drain because ProcessingTimeTimeout never terminates AvailableNow). */
  def fetchScheduleDrain(batches: Seq[DataFrame],
                         statePartitions: Int = 8,
                         stateTtlMs: Long = 0L): DataFrame = {
    val spark = batches.head.sparkSession
    import org.apache.spark.sql.types.{StructType, StructField, StringType, LongType}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-fetch")
    val inDir = new java.io.File(base.toFile, "in")
    inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = new java.io.File(base.toFile, s"part$i")
      b.coalesce(1).write.mode("overwrite").parquet(part.toString)
      val src = part.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet file written for batch $i"))
      val dst = new java.io.File(inDir, f"b$i%03d.parquet")
      java.nio.file.Files.move(src.toPath, dst.toPath)
      dst.setLastModified(1600000000000L + i * 600000L)
    }
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("host", StringType),
      StructField("delay_ms", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val verdicts = fetchScheduleVerdicts(
      stream.as[(String, String, Long)], stateTtlMs)
    val qname = "graft_stream_fetch_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      if (statePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val writer = verdicts.writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", new java.io.File(base.toFile, "ck").toString)
      if (stateTtlMs <= 0) {
        val q = writer.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } else {
        // written-file count + progress-metadata poll (round 8 — see
        // dedupVerdictsDrain): no construction re-execution, no
        // per-tick count jobs
        val expected = spark.read.parquet(inDir.toString).count()
        val q = writer.trigger(Trigger.ProcessingTime("50 milliseconds")).start()
        pollToCount(q, expected, System.nanoTime() + 120L * 1000000000L)
        q.stop()
        require(spark.table(qname).count() == expected,
          s"TTL drain incomplete: ${spark.table(qname).count()} of $expected verdicts")
      }
      spark.table(qname).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      scala.util.Try(spark.catalog.dropTempView(qname))
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(base.toFile)
    }
  }
}
