package graft.streaming

import graft.spark.{CorpusGen, DocKernel, DocRow, Pipeline, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming drain matches batch kernel output; checkpoint skips seen files") {
    import spark.implicits._
    val base = "/tmp/graft-test/streaming"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1)

    // first landing of files
    CorpusGen.inputDs(spark, 120, parallelism = 4)
      .write.mode("overwrite").parquet(s"$base/in")
    StreamingExtract.drain(spark, s"$base/in", s"$base/out", s"$base/ckpt", cfg)
    val afterFirst = spark.read.parquet(s"$base/out/data").count()
    assert(afterFirst == 120)

    // second landing: append 60 more docs as new files
    CorpusGen.inputDs(spark, 60, seed = 7L, parallelism = 2)
      .write.mode("append").parquet(s"$base/in")
    StreamingExtract.drain(spark, s"$base/in", s"$base/out", s"$base/ckpt", cfg)
    val out = spark.read.parquet(s"$base/out/data").as[DocRow].collect()
    assert(out.length == 180, "checkpoint must process new files exactly once")

    // content equality vs the batch kernel for the first corpus (the
    // seed-7 landing reuses ids 0-59, so compare only unique ids)
    val unique = out.groupBy(_.doc_id).filter(_._2.length == 1).keySet
    val expected = CorpusGen.inputDs(spark, 120, parallelism = 4).collect()
      .map(d => d.doc_id -> DocKernel.extractDoc(d).spans).toMap
    out.filter(d => unique.contains(d.doc_id) && expected.contains(d.doc_id) &&
        !d.doc_id.startsWith("garbage-"))
      .foreach { d => assert(d.spans == expected(d.doc_id), d.doc_id) }

    // metrics landed
    assert(spark.read.parquet(s"$base/out/metrics").count() > 0)
  }

  test("streaming WARC ingestion: drain equals the batch path; malformed blobs stay row verdicts") {
    import spark.implicits._
    def record(id: Int, body: String): String = {
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://t/$id\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
    }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val rows = (0 until 40).map { i =>
      val blob =
        if (i == 13) "WARC/1.0\r\nWARC-Type: response\r\n\r\nbroken".getBytes(utf8)
        else record(i, s"<p>body-$i</p>").getBytes(utf8)
      (i.toString, blob)
    }
    val df = rows.toDF("doc_id", "blob")
    val batches = Seq(df.filter($"doc_id".cast("int") % 2 === 0),
      df.filter($"doc_id".cast("int") % 2 === 1))
    val streamed = StreamingExtract.warcExtractDrain(batches)
      .collect().map(r => (r.getString(0), r.getString(4))).toSet
    val batch = StreamingExtract.warcExtract(df, "doc_id", "blob")
      .collect().map(r => (r.getString(0), r.getString(4))).toSet
    assert(streamed == batch, "stateless stage: streamed union must equal batch")
    assert(streamed.size == 39 && !streamed.exists(_._1 == "13"),
      "the malformed blob drops its record (ok=false), everything else extracts")
    assert(streamed(("7", "body-7")))
  }

  test("streaming WARC segmenter: per-batch rotation, atomic records, straddle flag") {
    import spark.implicits._
    val rows = (0 until 10).map { i =>
      val body = if (i == 4) "X" * 3000 else "b" * (100 + i) // doc 4 is giant
      (i.toLong, s"https://t/$i", "2026-01-01T00:00:00Z", body)
    }.toDF("doc_id", "uri", "date", "body")
    val budget = 700L
    val batches = Seq(rows.filter($"doc_id" % 2 === 0),
      rows.filter($"doc_id" % 2 === 1))
    val out = StreamingExtract.composeSegmentsDrain(batches, budget)
    val got = out.collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("batch_id"),
        r.getAs[Long]("rec_bytes"), r.getAs[Long]("stream_offset"),
        r.getAs[Long]("segment"), r.getAs[Long]("seg_offset"),
        r.getAs[Int]("straddles"), r.getAs[String]("rec_md5"))
    }.sortBy(x => (x._2, x._1))
    assert(got.length == 10)
    // arrival = parity; each batch's segmentation RESETS (rotation)
    got.foreach { case (id, b, _, _, _, _, _, _) => assert(b == (id % 2).toInt) }
    Seq(0, 1).foreach { b =>
      val rowsB = got.filter(_._2 == b)
      var acc = 0L
      rowsB.foreach { case (id, _, n, st, seg, off, straddles, _) =>
        assert(st == acc, s"doc $id stream_offset")
        assert(seg == st / budget && off == st % budget, s"doc $id segment math")
        assert(straddles == (if ((st + n - 1) / budget > seg) 1 else 0))
        acc += n
      }
    }
    // the giant record stays atomic and flags its boundary crossing
    val giant = got.find(_._1 == 4L).get
    assert(giant._3 > 2 * budget && giant._7 == 1)
    // streamed == batch segmenter applied per arrival batch (stateless)
    val expected = batches.zipWithIndex.flatMap { case (b, i) =>
      StreamingExtract.composeSegments(b, "doc_id", "uri", "date", "body", budget)
        .collect().map(r => (r.getAs[Long]("doc_id"), i,
          r.getAs[Long]("rec_bytes"), r.getAs[Long]("stream_offset"),
          r.getAs[Long]("segment"), r.getAs[Long]("seg_offset"),
          r.getAs[Int]("straddles"), r.getAs[String]("rec_md5")))
    }.sortBy(x => (x._2, x._1))
    assert(got.toSeq == expected)
  }

  test("streaming CDC: drain equals the per-batch incremental; verdicts pinned") {
    import spark.implicits._
    import graft.ops.SnapshotDiff
    val baseline = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "text")
    val b0 = Seq((1L, "a"), (2L, "B!"), (9L, "new")).toDF("doc_id", "text")
    val b1 = Seq((3L, "c?"), (1L, "a")).toDF("doc_id", "text")
    val got = StreamingExtract.cdcDrain(baseline, Seq(b0, b1),
        "doc_id", Seq("text")).collect()
      .map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[String]("change")).toMap
    // unchanged rows (1,'a') never surface; adds/changes verdict per batch
    assert(got == Map((0, 2L) -> "changed", (0, 9L) -> "added",
      (1, 3L) -> "changed"))
    // batch == stream: the drain is the union of per-batch incrementals
    val batchSide = Seq(b0, b1).zipWithIndex.flatMap { case (b, i) =>
      SnapshotDiff.incremental(b, baseline, "doc_id", Seq("text"))
        .collect().map(r => (i, r.getLong(0)) -> r.getString(1))
    }.toMap
    assert(batchSide == got)
  }

  test("streaming stateful dedup: first doc per hash wins across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val verdicts = StreamingExtract.dedupVerdicts(in.toDS())
    val q = verdicts.writeStream.format("memory")
      .queryName("dedup_verdicts").outputMode("update").start()
    try {
      // batch 1: d2/d1 share a text — FIRST ARRIVAL wins (d2 precedes
      // d1 in source order; the single-pass fold is arrival-ordered,
      // not doc_id-sorted) — d3 unique
      in.addData(("d2", "same text"), ("d1", "same text"), ("d3", "other"))
      q.processAllAvailable()
      // batch 2: another copy of the same text + a repeat of d3's text
      in.addData(("d9", "  SAME TEXT "), ("d4", "other"))
      q.processAllAvailable()
      val got = spark.table("dedup_verdicts")
        .collect().map(r => r.getString(0) -> (r.getBoolean(2), r.getLong(3))).toMap
      assert(got("d2") == (true, 1L), s"first arrival must win its hash: $got")
      assert(got("d1") == (false, 2L))
      assert(got("d3") == (true, 1L))
      assert(got("d9") == (false, 3L), "normalization must unify case/whitespace")
      assert(got("d4") == (false, 2L))
    } finally q.stop()
  }

  test("semantic dedup: exemplars persist across batches, cap bounds state, dirty rows bypass") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Seq[Float])]
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val verdicts = StreamingExtract.semDedupVerdicts(in.toDS(), cents,
      threshold = 0.9, capPerCell = 2)
    val q = verdicts.writeStream.format("memory")
      .queryName("semdedup_verdicts").outputMode("update").start()
    try {
      // batch 1: a1 novel (axis 0); a2 = 2x a1 (cosine exactly 1.0 —
      // dup of a1); b1 novel in cell 1; dirty NaN row bypasses state
      in.addData(("a1", Seq(3f, 4f, 0f, 0f)), ("a2", Seq(6f, 8f, 0f, 0f)),
        ("b1", Seq(0f, 0f, 5f, 0f)), ("x1", Seq(Float.NaN, 0f, 0f, 0f)))
      q.processAllAvailable()
      // batch 2: a3 orthogonal-ish in cell 0 (cos 4/5 < 0.9 with a1 —
      // novel, fills the cap); a4 a new direction beyond the cap —
      // emitted novel but NOT retained; a5 = 2x a4 still reads novel
      // (the approximate-at-the-cap rule); a6 = copy of a1 from batch 1
      // (cross-batch exemplar persistence)
      in.addData(("a3", Seq(4f, -3f, 0f, 0f)), ("a4", Seq(5f, 0f, 0f, 0f)))
      q.processAllAvailable()
      in.addData(("a5", Seq(10f, 0f, 0f, 0f)), ("a6", Seq(3f, 4f, 0f, 0f)))
      q.processAllAvailable()
      val got = spark.table("semdedup_verdicts").collect()
        .map(r => r.getString(0) ->
          ((r.getInt(1), r.getBoolean(2), r.getString(3), r.getLong(4)))).toMap
      assert(got("a1") == ((0, false, null, 1L)), got.toString)
      assert(got("a2") == ((0, true, "a1", 1L)), "2x scale must read cosine 1.0")
      assert(got("b1") == ((1, false, null, 1L)))
      assert(got("x1") == ((-1, false, null, 0L)), "NaN must bypass state")
      assert(got("a3") == ((0, false, null, 2L)), "cos 4/5 must stay novel")
      assert(got("a4") == ((0, false, null, 2L)), "beyond-cap novel not retained")
      assert(got("a5") == ((0, false, null, 2L)), "copy of unretained reads novel")
      assert(got("a6") == ((0, true, "a1", 2L)), "exemplars persist across batches")
    } finally q.stop()
  }

  test("fetch schedule: per-host slots continue across micro-batches; junk delay clamps") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Long)]
    val verdicts = StreamingExtract.fetchScheduleVerdicts(in.toDS())
    val q = verdicts.writeStream.format("memory")
      .queryName("fetch_slots").outputMode("update").start()
    try {
      // batch 1: two URLs on host a (delay 500), one on b (junk delay 0)
      in.addData(("u1", "a", 500L), ("u2", "a", 500L), ("u3", "b", 0L))
      q.processAllAvailable()
      // batch 2: host a's counter CONTINUES (slot 2), null host keys ''
      in.addData(("u4", "a", 500L), ("u5", null, 250L))
      q.processAllAvailable()
      val got = spark.table("fetch_slots").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got("u1") == (("a", 0L, 0L)), got.toString)
      assert(got("u2") == (("a", 1L, 500L)), "same-batch arrivals take successive slots")
      assert(got("u3") == (("b", 0L, 0L)))
      assert(got("u4") == (("a", 2L, 1000L)), "per-host counter must survive the batch boundary")
      assert(got("u5") == (("", 0L, 0L)), "null host must key the '' scope")
      // junk delay pins the clamp on a host with a prior slot
      in.addData(("u6", "b", -7L))
      q.processAllAvailable()
      val u6 = spark.table("fetch_slots").collect()
        .find(_.getString(0) == "u6").get
      assert((u6.getLong(2), u6.getLong(3)) == ((1L, 1000L)),
        "junk delay must clamp to the 1 s default politeness")
    } finally q.stop()
  }

  test("dedup state TTL: in-window duplicates get identical verdicts; expired hashes read as fresh") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    // With ProcessingTimeTimeout, FlatMapGroupsWithStateExec.
    // shouldRunAnotherBatch is always true, so the engine constructs
    // batches continuously and processAllAvailable NEVER RETURNS (noNewData
    // is never set — found the hard way in round 7, a 14-minute hang).
    // TTL queries therefore use a real ProcessingTime trigger and the test
    // POLLS the memory sink for the expected verdict count instead.
    def awaitRows(table: String, n: Long, timeoutMs: Long = 30000): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (spark.table(table).count() < n) {
        if (System.nanoTime() > deadline)
          fail(s"$table: expected $n rows, have ${spark.table(table).count()}")
        Thread.sleep(50)
      }
    }
    import org.apache.spark.sql.streaming.Trigger

    // (a) TTL large vs the window: verdicts must be IDENTICAL to the
    // NoTimeout path on the exact cross-batch scenario above (the TTL
    // bounds memory, it must not change in-window semantics)
    val inA = MemoryStream[(String, String)]
    val qA = StreamingExtract.dedupVerdicts(inA.toDS(), stateTtlMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("dedup_ttl_window")
      .outputMode("update").trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      inA.addData(("d2", "same text"), ("d1", "same text"), ("d3", "other"))
      awaitRows("dedup_ttl_window", 3)
      inA.addData(("d9", "  SAME TEXT "), ("d4", "other"))
      awaitRows("dedup_ttl_window", 5)
      val got = spark.table("dedup_ttl_window")
        .collect().map(r => r.getString(0) -> (r.getBoolean(2), r.getLong(3))).toMap
      assert(got("d2") == (true, 1L) && got("d1") == (false, 2L) &&
        got("d3") == (true, 1L) && got("d9") == (false, 3L) &&
        got("d4") == (false, 2L),
        s"in-window verdicts under TTL must equal the NoTimeout path: $got")
    } finally qA.stop()

    // (b) expiry: a 1 ms TTL with real wall-clock between triggers — the
    // hash's state row is dropped at the next timeout-firing batch, and a
    // later copy starts a fresh first-arrival state (one row per ACTIVE
    // hash, not per hash ever seen — the 100 TB memory bound)
    val inB = MemoryStream[(String, String)]
    val qB = StreamingExtract.dedupVerdicts(inB.toDS(), stateTtlMs = 1L)
      .writeStream.format("memory").queryName("dedup_ttl_expire")
      .outputMode("update").trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      inB.addData(("a1", "dup text"))
      awaitRows("dedup_ttl_expire", 1)
      Thread.sleep(500) // deadline passes; background batches fire the timeout
      inB.addData(("a2", "dup text"))
      awaitRows("dedup_ttl_expire", 2)
      val got = spark.table("dedup_ttl_expire")
        .collect().map(r => r.getString(0) -> (r.getBoolean(2), r.getLong(3))).toMap
      assert(got("a1") == (true, 1L))
      assert(got("a2") == (true, 1L),
        s"post-expiry copy must read as a fresh first arrival: $got")
    } finally qB.stop()
  }

  test("semdedup state TTL: in-window dups unchanged; expired cells read fresh") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    def awaitRows(table: String, n: Long, timeoutMs: Long = 30000): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (spark.table(table).count() < n) {
        if (System.nanoTime() > deadline)
          fail(s"$table: expected $n rows, have ${spark.table(table).count()}")
        Thread.sleep(50)
      }
    }
    val cents = Array(Array(1f, 0f, 0f, 0f))
    // (a) TTL large vs the window: the cross-batch dup verdict must be
    // identical to the NoTimeout path
    val inA = MemoryStream[(String, Seq[Float])]
    val qA = StreamingExtract.semDedupVerdicts(inA.toDS(), cents,
        stateTtlMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("semdedup_ttl_window")
      .outputMode("update").trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      inA.addData(("a1", Seq(3f, 4f, 0f, 0f)))
      awaitRows("semdedup_ttl_window", 1)
      inA.addData(("a2", Seq(6f, 8f, 0f, 0f)))
      awaitRows("semdedup_ttl_window", 2)
      val got = spark.table("semdedup_ttl_window").collect()
        .map(r => r.getString(0) -> ((r.getBoolean(2), r.getString(3)))).toMap
      assert(got("a1") == ((false, null)) && got("a2") == ((true, "a1")),
        s"in-window verdicts under TTL must equal the NoTimeout path: $got")
    } finally qA.stop()
    // (b) expiry: a 1 ms TTL with wall-clock between arrivals — the
    // cell's exemplar set drops, and a post-expiry COPY reads novel
    // (fresh first arrival — the approximate-at-the-boundary contract)
    val inB = MemoryStream[(String, Seq[Float])]
    val qB = StreamingExtract.semDedupVerdicts(inB.toDS(), cents,
        stateTtlMs = 1L)
      .writeStream.format("memory").queryName("semdedup_ttl_expire")
      .outputMode("update").trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      inB.addData(("b1", Seq(3f, 4f, 0f, 0f)))
      awaitRows("semdedup_ttl_expire", 1)
      Thread.sleep(500)
      inB.addData(("b2", Seq(3f, 4f, 0f, 0f)))
      awaitRows("semdedup_ttl_expire", 2)
      val got = spark.table("semdedup_ttl_expire").collect()
        .map(r => r.getString(0) -> ((r.getBoolean(2), r.getLong(4)))).toMap
      assert(got("b1") == ((false, 1L)))
      assert(got("b2") == ((false, 1L)),
        s"post-expiry copy must read as a fresh first arrival: $got")
    } finally qB.stop()
  }

  test("clone burst: 10^5 copies of one hash in a single micro-batch stream through") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val verdicts = StreamingExtract.dedupVerdicts(in.toDS())
    val q = verdicts.writeStream.format("memory")
      .queryName("dedup_burst").outputMode("update").start()
    try {
      val n = 100000
      // one boilerplate page cloned 10^5 times + a canary unique doc —
      // the single-pass group fold must emit one verdict per clone with
      // a correct running count WITHOUT materializing the group
      // (VERDICT r4 #3: the old sortBy buffered the whole burst)
      in.addData((0 until n).map(i => (f"c$i%06d", "boilerplate page")) :+
        ("unique", "one of a kind"): _*)
      q.processAllAvailable()
      val rows = spark.table("dedup_burst")
      assert(rows.count() == n + 1)
      val burst = rows.filter($"text_hash" =!= org.apache.spark.sql.functions
        .md5(org.apache.spark.sql.functions.lit("one of a kind")))
      // counts are exactly 1..n (each clone got a distinct running count)
      val agg = burst.agg(
        org.apache.spark.sql.functions.min("copies_so_far"),
        org.apache.spark.sql.functions.max("copies_so_far"),
        org.apache.spark.sql.functions.countDistinct("copies_so_far"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"is_first", 1).otherwise(0)))
        .collect()(0)
      assert(agg.getLong(0) == 1L && agg.getLong(1) == n.toLong)
      assert(agg.getLong(2) == n.toLong, "running counts must be distinct")
      assert(agg.getLong(3) == 1L, "exactly one winner per hash")
      // first arrival (c000000) is the winner
      val winner = burst.filter($"is_first").select("doc_id").collect()(0).getString(0)
      assert(winner == "c000000", s"first arrival must win: $winner")
    } finally q.stop()
  }

  test("windowed agg + watermark: late row drops after eviction, merges before") {
    import org.apache.spark.sql.functions._
    val base = 1700000010L
    def mk(ids: Seq[Long], extraTs: Seq[Long] = Nil) = {
      val d = spark.range(1).select(explode(lit(ids.toArray)).as("doc_id"))
        .select(lit("x").as("lang"), timestamp_seconds(col("doc_id") + base).as("ts"))
      if (extraTs.isEmpty) d
      else d.unionByName(spark.range(1).select(explode(lit(extraTs.toArray)).as("t"))
        .select(lit("x").as("lang"), timestamp_seconds(col("t") + base).as("ts")))
    }
    // A: late row in the batch AFTER eviction (sentinel advanced the
    // watermark first) → DROPPED: first window counts 3
    val a = StreamingExtract.windowCountsDrain(
      Seq(mk(Seq(0L, 1L, 2L, 140L)), mk(Seq(150L), Seq(100000L)), mk(Seq(5L))),
      windowSec = 30, watermarkSec = 60, expectedRows = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a(base) == 3L, s"late-after-eviction must drop: $a")
    // B: late row in the SAME batch as the watermark jump (window still
    // in state when the batch starts) → MERGES: first window counts 4.
    // This asymmetry is the measured Spark behavior the q_stream_window
    // construction depends on — if this pin moves, move the query.
    val b = StreamingExtract.windowCountsDrain(
      Seq(mk(Seq(0L, 1L, 2L, 140L)), mk(Seq(150L, 5L), Seq(100000L))),
      windowSec = 30, watermarkSec = 60, expectedRows = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b(base) == 4L, s"late-before-eviction merges: $b")
  }

  test("streaming sessionization equals batch on seeded random corpora") {
    // the state-merge property on data that isn't the events table:
    // random per-user event times with gaps straddling the split, time-
    // split batches (watermark > gap makes any maxT1 < split ≤ minT2
    // split late-free), streaming session_window must reproduce the
    // batch gaps-and-islands rollup EXACTLY — sessions spanning the
    // split merge in state
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gap = 300L
    Seq(7L, 23L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      var t = 0L
      val rows = (0 until 120).map { i =>
        t += 1 + rnd.nextInt(500) // gaps 1..500 s, some > gap
        (i.toLong, (rnd.nextInt(3) + 1).toString, t * 1000000L)
      }
      val df = rows.toDF("eid", "lang", "us")
        .select(col("eid"), col("lang"), timestamp_micros(col("us")).as("ts"))
      val splitUs = rows(60)._3 // any event boundary works
      val b1 = df.filter(col("ts") < timestamp_micros(lit(splitUs))).drop("eid")
      // the sentinel must push the watermark past EVERY session's end
      // (append mode emits a session only once watermark > end + gap);
      // anchor it past the corpus MAX, not the split
      val maxUs = rows.last._3
      val sentinel = spark.range(1).select(lit("zz").as("lang"),
        timestamp_micros(lit(maxUs + 10000000000L)).as("ts"))
      val b2 = df.filter(col("ts") >= timestamp_micros(lit(splitUs))).drop("eid")
        .unionByName(sentinel)
      val batch = graft.ops.Sessions.sessionize(
          df.withColumnRenamed("lang", "user_id"), "user_id", "ts", "eid",
          gapSec = gap, matchCol = lit(false))
        .select(col("user_id").as("lang"), col("start_us"), col("end_us"),
          col("n_events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val streamed = StreamingExtract.sessionCountsDrain(Seq(b1, b2),
          gapSec = gap.toInt, watermarkSec = 3600,
          expectedRows = batch.size.toLong)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(streamed == batch,
        s"seed $seed: stream/batch session divergence\n" +
          s"only-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    }
  }

  test("TTL drain liveness counts every trigger, however few progress updates are kept") {
    // recentProgress keeps only numRecentProgressUpdates entries: a drain
    // that summed it saw 1 of 3 data batches here and slept to its 120 s
    // deadline
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1")
    import s2.implicits._
    val batches = (0 until 3).map { b =>
      (0 until 100).map(i => (f"${b * 100 + i}%06d", s"text ${i % 40}")).toDF("doc_id", "text")
    }
    val t0 = System.nanoTime()
    val n = StreamingExtract.dedupVerdictsDrain(batches, stateTtlMs = 10 * 60 * 1000L).count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n == 300)
    assert(sec < 60, f"drain took $sec%.1f s")
  }

  test("a failing drain restores the shuffle width and removes its temp dir") {
    import spark.implicits._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs(): Set[String] =
      tmp.listFiles().map(_.getName).filter(_.startsWith("graft-")).toSet
    val before = graftDirs()
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    import org.apache.spark.sql.functions.{col, lit, raise_error}
    // an array column cannot be read as the drain's (String, String)
    // input; a row that throws fails the write of its batch file
    val badColumns = Seq(("d1", Seq(1, 2))).toDF("doc_id", "text")
    val badRows = Seq("d1").toDF("doc_id")
      .select(col("doc_id"), raise_error(lit("planted")).cast("string").as("text"))
    Seq(badColumns, badRows).foreach { bad =>
      intercept[Exception](StreamingExtract.dedupVerdictsDrain(Seq(bad)))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
      assert(graftDirs() -- before == Set.empty[String])
    }
  }
}
