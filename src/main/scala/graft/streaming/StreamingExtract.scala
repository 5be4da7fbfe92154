package graft.streaming

import graft.spark.{DocRow, Lineage, MetricsRow, Pipeline}
import graft.spark.KernelRegistry.kernel
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

  /** The bounded-drain harness behind the STATEFUL drains (dedup,
    * semdedup and fetch-schedule verdicts; window and session counts):
    * it runs `transform` over `batches` as a real micro-batch stream, so
    * keyed state and watermarks cross real micro-batch boundaries, and
    * hands the result back as a plain, materialized DataFrame. The
    * stateless drains need no stream: see [[perFrame]].
    *
    *  - Files: each frame becomes ONE parquet file whose mtime is
    *    sequenced by its index, read with `maxFilesPerTrigger = 1`, so
    *    every frame is its own micro-batch, in order. `ordered` drains
    *    (the doc-order verdicts of dedup/semdedup/fetch, which read
    *    within-batch arrival order) write one coalesce(1) job per frame;
    *    order-free drains write every frame in one union +
    *    partitionBy job, whose writer does not keep row order.
    *  - Schema: `batches.head.schema` (no inference job).
    *  - Width: `spark.sql.shuffle.partitions` is 8 while the stream runs
    *    (after the files are written). The state-store instance count
    *    is pinned by the first run's width, and a small drain at the
    *    session's full width is task overhead; every transform here is
    *    width-invariant (keyed state, grouped windows).
    *  - No-data batches: on for "append" (the window and session
    *    counts: the final no-data batch flushes what the watermark has
    *    passed), off for "update" (the verdicts emit only on input, and
    *    an operator with a processing-time TTL asks for a no-data batch
    *    after every batch, so the query would never end). A TTL timeout
    *    therefore fires at the next batch that has input.
    *  - Sink: the memory sink in `outputMode`, under this query's name,
    *    on `Trigger.AvailableNow`: the query ends once its input is
    *    consumed, and one that has not ended in 120 s throws.
    *  - Result: the memory table, localCheckpoint-ed.
    *  - Teardown: the query stops, the width and no-data setting are
    *    restored, the memory table dropped and the temp dir removed, on
    *    every path. */
  private def boundedDrain(batches: Seq[DataFrame], ordered: Boolean,
                           outputMode: String)
                          (transform: DataFrame => DataFrame): DataFrame = {
    val spark = batches.head.sparkSession
    val width = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = Seq(width, noData).map(k => k -> spark.conf.get(k))
    val base = java.nio.file.Files.createTempDirectory("graft-drain").toFile
    val qname = "graft_drain_" + java.util.UUID.randomUUID.toString.replace("-", "")
    var q: StreamingQuery = null
    try {
      val inDir = writeBatchFiles(batches, base, ordered)
      spark.conf.set(width, "8")
      spark.conf.set(noData, (outputMode == "append").toString)
      val stream = spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      q = transform(stream).writeStream.format("memory")
        .queryName(qname).outputMode(outputMode)
        .option("checkpointLocation", new java.io.File(base, "ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(120000L))
        throw new java.util.concurrent.TimeoutException(
          s"drain $qname did not end within 120 s")
      spark.table(qname).localCheckpoint()
    } finally {
      if (q != null) q.stop()
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      scala.util.Try(spark.catalog.dropTempView(qname))
      org.apache.commons.io.FileUtils.deleteQuietly(base)
    }
  }

  /** The stateless drains' replay: frame i is transformed on its own,
    * tagged `batch_id = i` (its micro-batch id under the file-source
    * drain) and the frames are unioned in order. A stateless stage has
    * nothing to carry between micro-batches, so this IS the stream's
    * result, without the stream: no batch files, offset or commit log,
    * or per-trigger planning (StreamingSpec pins it against a real
    * `maxFilesPerTrigger = 1` stream). The union stays lazy and the
    * session's width is left alone. */
  private def perFrame(batches: Seq[DataFrame])
                      (transform: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    batches.zipWithIndex.map { case (b, i) =>
      transform(b).withColumn("batch_id", lit(i))
    }.reduce(_ unionByName _)
  }

  /** Writes frame i to `base/in/b<i>.parquet` with mtime sequenced by i
    * (the file source orders by modification time). The order-free
    * union write leaves no partition directory for an empty frame,
    * which then gets its own write, so batch indices never shift. */
  private def writeBatchFiles(batches: Seq[DataFrame], base: java.io.File,
                              ordered: Boolean): java.io.File = {
    import org.apache.spark.sql.functions.lit
    val inDir = new java.io.File(base, "in")
    inDir.mkdirs()
    val stage = new java.io.File(base, "stage")
    if (!ordered)
      batches.zipWithIndex.map { case (b, i) => b.withColumn("__b", lit(i)) }
        .reduce(_ unionByName _)
        .coalesce(1).write.partitionBy("__b").mode("overwrite")
        .parquet(stage.toString)
    def parquetIn(dir: java.io.File): Option[java.io.File] =
      Option(dir.listFiles()).flatMap(_.find(_.getName.endsWith(".parquet")))
    batches.zipWithIndex.foreach { case (b, i) =>
      val src = parquetIn(new java.io.File(stage, s"__b=$i")).getOrElse {
        val part = new java.io.File(base, s"part$i")
        b.coalesce(1).write.mode("overwrite").parquet(part.toString)
        parquetIn(part).getOrElse(sys.error(s"no parquet file written for batch $i"))
      }
      val dst = new java.io.File(inDir, f"b$i%03d.parquet")
      java.nio.file.Files.move(src.toPath, dst.toPath)
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
        // the batch pipeline's kernel, in the micro-batch scan's own
        // partitions; the micro-batch's lineage file lands next to the
        // output (a replayed micro-batch replaces its own file)
        val acc = new org.apache.spark.util.CollectionAccumulator[MetricsRow]
        batch.sparkSession.sparkContext.register(acc, s"graft.stream.$batchId")
        Pipeline.extractDataset(batch.as[DocRow], cfg, batchId.toInt, acc)
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
    * driver-visible oracle): each input frame is one ordered micro-batch
    * ([[boundedDrain]]), so the stateful dedup crosses a real
    * micro-batch boundary, and the final memory-sink table comes back
    * as a plain DataFrame the driver can hash against SQL. The verdict
    * values are batch-split-INVARIANT by construction
    * (copies_so_far/is_first depend only on global arrival order, which
    * the caller makes equal to doc_id order), so the oracle replay is a
    * plain window over the batch input. */
  def dedupVerdictsDrain(batches: Seq[DataFrame],
                         stateTtlMs: Long = 0L): DataFrame =
    boundedDrain(batches, ordered = true, "update") { s =>
      import s.sparkSession.implicits._
      dedupVerdicts(s.as[(String, String)], stateTtlMs).toDF()
    }

  /** Event-time windowed counts under a WATERMARK — the Structured
    * Streaming aggregation surface (windows + late-data policy). Input
    * batches are (lang, ts) frames, one micro-batch each, aggregated as
    * `withWatermark(ts, watermarkSec) groupBy(window(ts, windowSec),
    * lang) count` in APPEND mode: a window row emits exactly once, when
    * the watermark passes its end. Late-data semantics (measured on
    * this Spark, pinned by StreamingSpec): a late row whose window has
    * already been EVICTED is dropped by the watermark filter; a late
    * row arriving while its window is still in state MERGES into the
    * final count — so callers sequence batches to make the verdict
    * deterministic (plant the late row one batch AFTER the
    * watermark-advancing batch). The drain ends after the no-data batch
    * that flushes the windows the final watermark has passed. */
  def windowCountsDrain(batches: Seq[DataFrame], windowSec: Int,
                        watermarkSec: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    boundedDrain(batches, ordered = false, "append") {
      _.withWatermark("ts", s"$watermarkSec seconds")
        .groupBy(window(col("ts"), s"$windowSec seconds"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("w_start"),
          col("lang"), col("n"))
    }
  }

  /** Streaming SESSIONIZATION: `session_window(ts, gap)` per key under
    * a watermark, flushed and ended like [[windowCountsDrain]].
    * Batches MUST be time-split (every event of
    * batch N+1 later than batch N's watermark) so no event is late —
    * sessions split across batches then MERGE in state and the result
    * equals the batch gaps-and-islands rollup
    * ([[graft.ops.Sessions.sessionize]] shares the rule: join iff diff <
    * gap). Emitted end_us subtracts the gap session_window pads onto the
    * last event. */
  def sessionCountsDrain(batches: Seq[DataFrame], gapSec: Int,
                         watermarkSec: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // event-time streaming requires TIMESTAMP (instants); callers with
    // NTZ sources convert timezone-free via
    // timestamp_micros(timestamp_diff(MICROSECOND, ntz_epoch, ts)) so
    // unix_micros here replays DuckDB's epoch_us(ntz) on any zone
    boundedDrain(batches, ordered = false, "append") {
      _.withWatermark("ts", s"$watermarkSec seconds")
        .groupBy(session_window(col("ts"), s"$gapSec seconds"), col("lang"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("lang"),
          unix_micros(col("session_window.start")).as("start_us"),
          (unix_micros(col("session_window.end")) - gapSec * 1000000L)
            .as("end_us"),
          col("n_events"))
    }
  }

  /** Streaming WARC ingestion: blobs landing as files → record split →
    * HTTP body → extracted clear text, per micro-batch. The transform
    * is STATELESS (record framing and extraction are per-row), so the
    * streamed output equals the batch query on the union of batches
    * regardless of file arrival order — which is exactly what the
    * q_stream_warc oracle replays. */
  def warcExtract(blobs: DataFrame, idCol: String, blobCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    blobs.select(col(idCol).as("doc_id"),
        explode(kernel("graft_warc_records", col(blobCol))).as("r"))
      .filter(col("r.ok"))
      .select(col("doc_id"), col("r.warc_type").as("warc_type"),
        col("r.status").as("status"), col("r.uri").as("uri"),
        kernel("parse_html_text", col("r.body")).as("body_text"))
  }

  /** Bounded drain of `warcExtract` for the oracle gate: a per-frame
    * replay ([[perFrame]]'s union, with no `batch_id`: the output never
    * had one). The stage is stateless, so every row emits exactly
    * once. */
  def warcExtractDrain(batches: Seq[DataFrame]): DataFrame =
    batches.map(warcExtract(_, "doc_id", "blob")).reduce(_ unionByName _)

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
    * Scale shape: one projection composes each record and keeps only
    * (id, octet length, md5); the pack's range shuffle carries those
    * three and the heavy record strings never ride it. Output: (idCol,
    * rec_bytes, stream_offset, segment, seg_offset, straddles, rec_md5)
    * — all BIGINT/INT plus the md5 of the composed record text, so the
    * oracle gates the composed BYTES, not just the arithmetic. */
  def composeSegments(df: DataFrame, idCol: String, uriCol: String,
                      dateCol: String, bodyCol: String,
                      budget: Long): DataFrame = {
    require(budget >= 1, s"segment budget must be >= 1 octet: $budget")
    import org.apache.spark.sql.functions._
    val rec = kernel("graft_warc_compose",
      col(uriCol), col(dateCol), col(bodyCol))
    val sized = df.select(col(idCol), octet_length(rec).cast("long").as("n"),
      md5(rec.cast("binary")).as("rec_md5"))
    graft.ops.Pack.concatChunk(sized, idCol, "n", budget = budget)
      .select(col(idCol), col("n_tokens").as("rec_bytes"),
        col("start_offset").as("stream_offset"),
        col("chunk_start").as("segment"),
        (col("start_offset") - col("chunk_start") * budget).as("seg_offset"),
        (col("chunk_end") > col("chunk_start")).cast("int").as("straddles"),
        col("rec_md5"))
  }

  /** Streaming WARC ARCHIVE composer — the continuous-crawl write path
    * that pairs with [[warcExtract]]'s read path: each micro-batch of
    * fetched pages is composed and segmented by [[composeSegments]] and
    * appended to the archive, and the segment counter RESETS per batch
    * (a rotating archiver closes its open segment when the trigger
    * ends — segment identity is (batch_id, segment)). The stage is
    * stateless across batches, so the streamed output equals the batch
    * segmenter applied to each arrival batch independently — which is
    * exactly what the oracle replays (per-batch window cumsum). The
    * drain is a per-frame replay ([[perFrame]]): frame i is segmented
    * on its own and tagged `batch_id = i`. */
  def composeSegmentsDrain(batches: Seq[DataFrame], budget: Long): DataFrame =
    perFrame(batches)(composeSegments(_, "doc_id", "uri", "date", "body", budget))

  /** Streaming incremental CDC: each arriving file-batch of
    * (re)crawled rows compares against a STATIC baseline snapshot —
    * per batch, 'added'/'changed' verdicts via
    * [[graft.ops.SnapshotDiff.incremental]] (unchanged rows drop;
    * 'removed' is a full-snapshot question and deliberately absent).
    * Stateless per batch (the baseline is the only history), so
    * batch == stream semantics hold exactly. The drain is a per-frame
    * replay ([[perFrame]]): batch_id = the frame's index, its
    * micro-batch id under a maxFilesPerTrigger=1 stream (the segments
    * identity convention). */
  def cdcDrain(baseline: DataFrame, batches: Seq[DataFrame],
               idCol: String, contentCols: Seq[String]): DataFrame =
    perFrame(batches)(graft.ops.SnapshotDiff.incremental(_, baseline, idCol, contentCols))

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
    * `stateTtlMs > 0` enables `GroupStateTimeout.ProcessingTimeTimeout`:
    * a hash whose state has seen no copy for the TTL is dropped at the
    * next micro-batch that runs (in a bounded drain, which runs no
    * no-data batches: the next one with input), so steady-state memory
    * is one row per hash ACTIVE within the window, not per hash ever
    * seen. Semantics under TTL are deliberately
    * approximate at the boundary: a duplicate arriving AFTER its hash
    * expired reads as a fresh first (dedup windows behave this way in
    * every production CCNet-style pipeline); duplicates arriving while
    * the state row is alive get verdicts IDENTICAL to the no-TTL path
    * (StreamingSpec pins both properties). Timeout firing is lazy — a
    * past-deadline group that receives data in the same batch is still
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

  /** Bounded drain for [[semDedupVerdicts]]: ordered micro-batches,
    * memory sink, update mode (the [[dedupVerdictsDrain]] protocol). */
  def semDedupDrain(batches: Seq[DataFrame],
                    centroids: Array[Array[Float]],
                    threshold: Double = 0.9,
                    capPerCell: Int = 256,
                    stateTtlMs: Long = 0L): DataFrame =
    boundedDrain(batches, ordered = true, "update") { s =>
      import s.sparkSession.implicits._
      semDedupVerdicts(s.as[(String, Seq[Float])], centroids, threshold,
        capPerCell, stateTtlMs).toDF()
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

  /** Bounded drain for [[fetchScheduleVerdicts]]: ordered
    * micro-batches, memory sink, update mode (the [[dedupVerdictsDrain]]
    * protocol). */
  def fetchScheduleDrain(batches: Seq[DataFrame],
                         stateTtlMs: Long = 0L): DataFrame =
    boundedDrain(batches, ordered = true, "update") { s =>
      import s.sparkSession.implicits._
      fetchScheduleVerdicts(s.as[(String, String, Long)], stateTtlMs).toDF()
    }
}
