package graft.ops

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Deduplication operators for web-scale corpora. All shapes are
  * shuffle-planned for 100 TB: one wide shuffle per stage, candidate
  * generation via bucketing (never an O(n²) cross join), map-side
  * partial aggregation everywhere Catalyst can.
  */
object Dedup {

  /** Candidate-pair VERIFICATION by edit similarity — the second stage
    * of the classic two-stage near-dup pipeline (MinHash/LSH generates
    * candidates cheaply; an exact edit-distance pass confirms before
    * anything is dropped). Adds (lev, max_len, sim_pct, verified):
    * sim_pct = integer percent (100·(max_len−lev)) div max_len —
    * INTEGER floor division, never a float (the oracle-alphabet rule),
    * 100 for two empty strings (identical); verified = sim_pct ≥
    * minSimPct. levenshtein counts CODEPOINTS in both Spark and DuckDB
    * (the canonical length alphabet).
    *
    * Scale shape: pure per-row compute on an already-bucketed candidate
    * frame — no shuffle. The O(|a|·|b|) distance is the reason this
    * runs on CANDIDATES, never all pairs; cap text lengths upstream if
    * a pathological pair could pin a task. */
  def verifyPairs(pairs: DataFrame, aCol: String, bCol: String,
                  minSimPct: Int): DataFrame = {
    val a = coalesce(col(aCol), lit(""))
    val b = coalesce(col(bCol), lit(""))
    val lev = levenshtein(a, b)
    val maxLen = greatest(length(a), length(b))
    // floor((100·(max−lev))/max) == the integer division: numerator
    // < 2^38, denominator < 2^31, and an int-ratio double division can
    // only land on an integer when the quotient IS that integer
    pairs.withColumn("lev", lev)
      .withColumn("max_len", maxLen)
      .withColumn("sim_pct", when(col("max_len") === 0, lit(100))
        .otherwise(floor((lit(100) * (col("max_len") - col("lev"))) /
          col("max_len")).cast("int")))
      .withColumn("verified", col("sim_pct") >= minSimPct)
  }

  /** Exact dedup on a normalized text hash. Returns the input plus
    * (text_hash, dup_count, is_canonical). Formulated as groupBy +
    * shuffle-join on the hash key — NOT a Window.partitionBy over the
    * full input (a window sorts every partition's rows and cannot
    * partial-aggregate; at corpus scale one hot hash key pins a task).
    * The groupBy combines map-side, the join carries only
    * (hash, count, min_id) per distinct document. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df, idCol, textCol, skewSafe = false)

  /** Exact dedup, annotate variant, with an explicit skew trade-off:
    *
    *  - `skewSafe = false` (default): ONE scan, ONE full-width exchange
    *    shared by the stats aggregate and the annotate join (the md5 is
    *    computed once per row). The cost: every copy of a given hash
    *    lands in one shuffle partition, so a mega-duplicated document
    *    (10⁷ boilerplate copies) pins one task — fine for corpora whose
    *    worst dup cluster fits a task, the common case.
    *  - `skewSafe = true`: the AQE-splittable formulation for clone-heavy
    *    corpora. The aggregate runs BEFORE its own exchange (map-side
    *    partial aggregation collapses clones per input partition — the
    *    hot hash arrives at the reducer as ≤ #input-partitions partial
    *    rows, never as raw copies), and the NARROW stats frame
    *    (hash, count, min_id) is CHECKPOINTED ([[Snapshot]]) — so the
    *    annotate join sees two PLAIN
    *    shuffle children (scan-side and checkpoint-scan-side), exactly
    *    the pattern AQE's OptimizeSkewedJoin requires to split the hot
    *    probe partition while re-reading the matching build partition
    *    per split. (A round-trip `repartition` instead of the checkpoint
    *    gets collapsed by the optimizer — the aggregate's output is
    *    already hash-partitioned — leaving an aggregate between join and
    *    shuffle, which AQE refuses to split.) Costs the eager stats job
    *    + a narrow checkpoint write; the md5 runs once per row per
    *    branch (2× total) instead of once. ScaleGuardSpec pins a
    *    10⁵-clone corpus through both shapes. */
  def exact(df: DataFrame, idCol: String, textCol: String,
            skewSafe: Boolean): DataFrame =
    if (!skewSafe) exactShared(df, idCol, textCol)
    else {
      val spark = df.sparkSession
      val hash = coalesce(md5(TextNorm.lowerCol(TextNorm.trimCol(col(textCol)))), lit(""))
      val hashed = df.withColumn("text_hash", hash)
      val stats0 = hashed.groupBy("text_hash")
        .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("__canon_id"))
      val statsCk = Snapshot(stats0)
      // re-wrap WITHOUT the preserved hash-partitioning: a build side
      // that already satisfies the join distribution skips its exchange,
      // and a no-exchange build side is exactly what stops AQE from
      // splitting a skewed probe partition (each probe split must
      // re-read the matching build partition from a shuffle stage). The
      // extra narrow exchange this forces costs ~nothing next to the
      // full-width probe shuffle.
      val stats = spark.createDataFrame(statsCk.rdd, statsCk.schema)
      hashed.join(stats, "text_hash")
        .withColumn("is_canonical", col(idCol) === col("__canon_id"))
        .drop("__canon_id")
        .select(df.columns.map(col) ++
          Seq(col("text_hash"), col("dup_count"), col("is_canonical")): _*)
    }

  private def exactShared(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // coalesce sentinel (never fires on non-null text) makes the hash
    // non-nullable, and the explicit repartition is the ONE exchange
    // both the stats aggregate and the join consume — the 128-bit hash
    // is computed once per row (same canonical-equality discipline as
    // guardedBucketPairs; without it the aggregate branch re-hashes the
    // full text map-side)
    val hashed = df
      .withColumn("text_hash", coalesce(md5(TextNorm.lowerCol(TextNorm.trimCol(col(textCol)))), lit("")))
      .repartition(col("text_hash"))
    val stats = hashed.groupBy("text_hash")
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("__canon_id"))
    hashed.join(stats, "text_hash")
      .withColumn("is_canonical", col(idCol) === col("__canon_id"))
      .drop("__canon_id")
      // restore input-columns-first order (the old withColumn contract)
      .select(df.columns.map(col) ++
        Seq(col("text_hash"), col("dup_count"), col("is_canonical")): _*)
  }

  /** Exact-dedup keep-list: canonical ids only (groupBy, map-side
    * combine; the usual first stage of a pipeline dedup). */
  def exactKeepList(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // same null-text sentinel as `exact` (ADVICE r3): a NULL text row
    // groups under '' in BOTH variants and in the DuckDB oracles, so the
    // three paths can never disagree on null handling
    df.groupBy(coalesce(md5(TextNorm.lowerCol(TextNorm.trimCol(col(textCol)))), lit("")).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).cast("long").as("dup_count"))

  /** Incremental-ingest novelty filter — the "new crawl batch vs
    * corpus history" step of a continuously-fed pipeline: keep the
    * batch rows whose canonical text hash (the [[exact]] convention:
    * md5 of lower/trim, null → '') has never been seen. Semantics are
    * EXACTLY a left-anti join against the distinct history keys; the
    * Bloom filter is a pure PRUNE layer: rows the bloom rejects are
    * provably novel (no false negatives) and skip the shuffle
    * entirely, rows it accepts are CONFIRMED by the anti-join (false
    * positives cannot leak a drop). Result is therefore identical for
    * any (expectedItems, fpp) — the property the oracle pins.
    *
    * 100 TB shape: the history side collapses to DISTINCT keys once
    * (the decontaminate discipline), aggregates into one bloom sketch
    * (driver bytes bounded by numBits/8 — a CONFIG, never the data;
    * ~1.2 MB at 10⁶ items / 1% fpp, embedded as a plan literal), and
    * only the bloom-positive sliver of the batch — true dups + fpp of
    * the novel mass — pays the anti-join shuffle. The batch is scanned
    * twice (once per branch of the union); at scale that is a column-
    * pruned parquet re-read, strictly cheaper than shuffling the full
    * batch. Built on Spark's own BloomFilterAggregate /
    * BloomFilterMightContain (the runtime-filter machinery) via the
    * GraftSql bridge. For histories past ~10⁸ keys, raise
    * expectedItems (bloom bytes grow linearly) or fall back to
    * [[exact]]-style anti-join; the conf caps
    * (spark.sql.optimizer.runtime.bloomFilter.*) clamp oversized
    * requests. */
  def incrementalNovel(batch: DataFrame, idCol: String, textCol: String,
                       seen: DataFrame, seenTextCol: String,
                       expectedItems: Long = 1L << 22,
                       fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.GraftSql
    def keyOf(c: Column): Column =
      coalesce(md5(TextNorm.lowerCol(TextNorm.trimCol(c))), lit(""))
    val batchKeyed = batch.withColumn("text_hash", keyOf(col(textCol)))
    val seenKeys = seen.select(keyOf(col(seenTextCol)).as("text_hash")).distinct()
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = GraftSql.column(
      new BloomFilterAggregate(
        GraftSql.expressionOf(xxhash64(col("text_hash"))),
        CatLit(expectedItems), CatLit(numBits)).toAggregateExpression())
    val bloomRow = seenKeys.agg(bloomAgg.as("bf")).head()
    if (bloomRow.isNullAt(0)) return batchKeyed // empty history: all novel
    val bloom = bloomRow.getAs[Array[Byte]](0)
    val mc = GraftSql.column(BloomFilterMightContain(
      CatLit.create(bloom, org.apache.spark.sql.types.BinaryType),
      GraftSql.expressionOf(xxhash64(col("text_hash")))))
    batchKeyed.filter(not(mc))
      .unionByName(batchKeyed.filter(mc)
        .join(seenKeys, Seq("text_hash"), "left_anti")
        .select(batchKeyed.columns.map(col): _*))
  }

  /** Self-join `banded` on (band, bucket) with a skew guard: buckets
    * above `maxBucketSize` do NOT self-join (one shared all-identical
    * key, e.g. the signature of the empty document over a 1% garbage
    * crawl, would otherwise go O(bucket²) and OOM a task at corpus
    * scale). Instead of silently dropping them (round-2 ADVICE: that
    * trades away recall exactly where dedup matters most — the MOST
    * duplicated content), oversized buckets degrade to a STAR join:
    * every member pairs with the bucket's min id, O(bucket) candidate
    * pairs that keep the bucket connected for clustering while the
    * exact verify step (jaccard / hamming / cosine) still gates each
    * emitted pair. The guard itself is one map-side-combined groupBy on
    * the same key — no extra wide shuffle. */
  private def guardedBucketPairs(banded: DataFrame, maxBucketSize: Int,
                                 carry: Seq[String] = Nil): DataFrame = {
    // one explicit shuffle on the bucket key that ALL consumers (guard
    // counts, join sides, star hub join) hang off — AQE's stage reuse
    // turns them into one physical computation, so the signature/banding
    // expressions are evaluated ONCE per row (the expensive part of LSH
    // at corpus scale is the signature, not the join). Stage reuse
    // demands CANONICALLY IDENTICAL subtrees under every consumer, which
    // two optimizer behaviors silently break (probed at 3.0 signature
    // evals/doc before round 3; now pinned at 1.0 by PlanSpec):
    //  - the equi-joins push an isnotnull(id) constraint into only the
    //    join branches → the explicit filter below puts the same
    //    conjunct in every branch (null ids could never verify anyway —
    //    the text/vector rejoin is an id equi-join)
    //  - column pruning drops the hub (min id) from the small branch's
    //    copy of the guard aggregate → the coalesce() in smallPairs
    //    keeps it referenced (see below)
    // the null filter covers band/bucket too: the bucket equi-joins push
    // isnotnull(band)/isnotnull(bucket) into only the join branches —
    // making them explicit keeps every branch canonical-equal (conjuncts
    // on non-nullable columns constant-fold away identically everywhere).
    // Carry columns are NOT filtered here: an isnotnull(<carry>) filter
    // would re-evaluate the signature kernel inside the filter predicate;
    // instead every pair output routes carries through coalesce, which
    // BLOCKS isnotnull back-propagation below the exchange entirely.
    val shuffled = Seq("id", "band", "bucket")
      .foldLeft(banded) { (d, c) => d.filter(col(c).isNotNull) }
      .repartition(col("band"), col("bucket"))
    // `carry` columns ride the banding shuffle and come back on both
    // pair sides as <c>_a/<c>_b — a narrow signature (simhash's one
    // long) rides for free and saves BOTH verify rejoins; hub-side
    // values come from min_by (the hub IS min(id), so min_by is exact)
    val aggCols = Seq(count(lit(1)).as("bucket_n"), min(col("id")).as("hub")) ++
      carry.map(c => min_by(col(c), col("id")).as(s"hub_$c"))
    val counts = shuffled.groupBy("band", "bucket").agg(aggCols.head, aggCols.tail: _*)
    val keep = Seq("band", "bucket", "hub") ++ carry.map(c => s"hub_$c")
    val small = shuffled.join(
      counts.filter(col("bucket_n") <= maxBucketSize).select(keep.map(col): _*),
      Seq("band", "bucket"))
    // coalesce(x, hub_x) == x (ids are non-null here): the hub reference
    // only exists so column pruning keeps the hub aggregates inside THIS
    // counts copy too — drop it and the guard exchange loses columns,
    // canonical equality breaks, and the signatures recompute
    val smallPairs = small.as("l").join(small.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(coalesce(col("l.id"), col("l.hub")).as("id_a") +:
        coalesce(col("r.id"), col("r.hub")).as("id_b") +:
        carry.flatMap(c => Seq(
          coalesce(col(s"l.$c"), col(s"l.hub_$c")).as(s"${c}_a"),
          coalesce(col(s"r.$c"), col(s"r.hub_$c")).as(s"${c}_b"))): _*)
    // hub = min id, so hub < id always → pairs stay (lo, hi)-ordered
    // star carries go through coalesce too (hub_c is never null — min_by
    // over non-null signatures): a bare column reference here would let
    // a verify predicate above push isnotnull(<carry>) into ONLY the
    // star branch and break the exchange unification
    val starPairs = shuffled.join(
        counts.filter(col("bucket_n") > maxBucketSize).select(keep.map(col): _*),
        Seq("band", "bucket"))
      .filter(col("id") =!= col("hub"))
      .select(col("hub").as("id_a") +: col("id").as("id_b") +:
        carry.flatMap(c => Seq(
          coalesce(col(s"hub_$c"), col(c)).as(s"${c}_a"),
          coalesce(col(c), col(s"hub_$c")).as(s"${c}_b"))): _*)
    smallPairs.unionByName(starPairs).distinct()
  }

  /** MinHash + LSH near-dup candidates (MMDS banding): signature →
    * bands → bucket-join. Returns candidate pairs with exact Jaccard
    * verification — the classic shingle→minhash→band→bucket pipeline.
    * Shuffles: one on (band, bucket-hash), one distinct on pairs.
    * k=64, bands=16 → r=4 rows/band: catches J≳0.7 pairs w.h.p.
    * Empty/whitespace docs are dropped before banding (they all share
    * the all-Long.MaxValue signature) and buckets above `maxBucketSize`
    * are excluded (skew guard, mirrors `ngramJaccardPairs`). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, bands: Int = 16,
                        jaccardThreshold: Double = 0.7,
                        maxBucketSize: Int = 256): DataFrame =
    minhashCandidates(df, idCol, textCol, k, bands, jaccardThreshold,
      maxBucketSize, shingleN = 0)

  /** `shingleN > 0` switches BOTH the signature and the verify kernel to
    * CHARACTER n-grams (graft_minhash_shingle / graft_jaccard_shingle) —
    * the whitespace-free-script path: on CJK/Thai text whitespace
    * tokenization degenerates to whole-sentence tokens and token MinHash
    * sees J∈{0,1} only. Same banding, same skew guard, same shuffle
    * shape. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int, bands: Int, jaccardThreshold: Double,
                        maxBucketSize: Int, shingleN: Int): DataFrame = {
    val spark = df.sparkSession
    TextOps.registerAll(spark)
    val rows = k / bands
    val sigExpr =
      if (shingleN > 0) s"graft_minhash_shingle(text, $k, $shingleN)"
      else s"graft_minhash(text, $k)"
    val verifyExpr =
      if (shingleN > 0) s"graft_jaccard_shingle(text_a, text_b, $shingleN)"
      else "graft_jaccard(text_a, text_b)"
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(length(trim(col(textCol))) > 0)
    // candidate generation shuffles ONLY (id, band, bucket) — at corpus
    // scale the banding explode must not replicate document text ×bands
    // through the wire; text rejoins per VERIFIED candidate id below
    val banded = texts
      .withColumn("sig", expr(sigExpr))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rows + 1, lit(rows)), b))).as(Seq("band", "bucket")))
    val pairs = guardedBucketPairs(banded, maxBucketSize)
    pairs
      .join(texts.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard", expr(verifyExpr))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup: 64-bit signature, banded into `maxHamming + 1`
    * contiguous bit ranges — by pigeonhole, any pair within hamming
    * distance ≤ maxHamming leaves at least one band untouched, so band
    * recall is exact for the requested radius (round-1 verdict: the old
    * fixed 4×16 banding silently dropped distance-4..6 pairs when called
    * with maxHamming=6). Empty docs (signature 0 before the simhash64
    * single-token fix; still possible for whitespace-only text) are
    * dropped, and degenerate buckets are guarded like every other banded
    * join here. Verification = exact hamming ≤ maxHamming. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3,
                        maxBucketSize: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: bands get too narrow past 15 (64/16 = 4 bits)")
    val spark = df.sparkSession
    TextOps.registerAll(spark)
    val nBands = maxHamming + 1
    // band b covers bits [lo_b, lo_{b+1}) with boundaries b*64/nBands —
    // widths differ by at most 1 bit; every bit is in exactly one band
    val bandCols = (0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val hi = (b + 1) * 64 / nBands
      val width = hi - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(col("sim"), lo).bitwiseAND(lit(mask))
    }
    val sig = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(length(trim(col("text"))) > 0)
      .withColumn("sim", expr("graft_simhash64(text)"))
    // the 8-byte signature RIDES the banding shuffle (carry) — verify
    // needs no rejoin, and the simhash kernel runs exactly once per doc
    val banded = sig.select(col("id"), col("sim"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    guardedBucketPairs(banded, maxBucketSize, carry = Seq("sim"))
      .withColumn("hamming", expr("graft_hamming64(sim_a, sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** n-gram Jaccard near-dup with cheap blocking: docs sharing the same
    * min token-hash become candidates (single shuffle), then exact
    * Jaccard filters. Blocks larger than `maxBlockSize` are dropped from
    * candidate generation (skew guard: a non-selective block over a
    * self-similar corpus would otherwise go O(block²) — the dropped
    * count is observable via the block stats, not silent). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5,
                        maxBlockSize: Int = 256,
                        oracleBlocking: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    TextOps.registerAll(spark)
    // block key = min token-hash over the first 64 tokens. Two key
    // families, same blocking semantics:
    //  - production (default): xxhash64 — one 64-bit hash per token; at
    //    corpus scale the block-key pass is a full-corpus map stage, so
    //    a 128-bit cryptographic hash per token is pure overhead
    //    (round-2 verdict: md5 keying cost 2.4× on this query)
    //  - oracleBlocking: md5 hex — what lets the DuckDB gate replay
    //    blocking + skew-guard + verify on the REAL corpus (DuckDB has
    //    no Spark-compatible xxhash64), the family's strongest oracle
    val tokenKey =
      if (oracleBlocking) "t -> md5(cast(t as binary))" else "t -> xxhash64(t)"
    // the null sentinel never fires (texts are pre-filtered non-empty,
    // so the token list has a min) — it exists to make the block column
    // NON-NULLABLE, so the block equi-joins generate no isnotnull(block)
    // constraint that would land in only some branches and break the
    // exchange unification (same canonical-equality discipline as
    // guardedBucketPairs; an explicit isnotnull filter would instead
    // re-evaluate the 64-hash key inside the filter predicate)
    val sentinel = if (oracleBlocking) "''" else "cast(0 as bigint)"
    // explicit isnotnull(id): the pair self-join pushes this constraint
    // into only its own branches — making it uniform keeps every
    // consumer of the block-key exchange canonical-equal
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
      // canonical trim (TextNorm): DuckDB's default trim also strips
      // NBSP, so a bare trim() here would diverge on NBSP-only texts
      .filter(length(TextNorm.trimCol(col("text"))) > 0 && col("id").isNotNull)
    // same exchange-reuse shape as guardedBucketPairs: one shuffle on
    // the block key feeds the size guard and both join sides, so the
    // min-token blocking is computed once per doc
    // canonical tokenization (TextNorm): explicit ws class + ASCII
    // lower; the Spark SQL parser unescapes the class literal to raw
    // control chars, which is regex-equivalent for a character class
    val lowerSql = s"translate(text, '${TextNorm.upperAz}', '${TextNorm.lowerAz}')"
    val keyed = texts.withColumn("block",
        expr(s"coalesce(array_min(transform(slice(filter(split($lowerSql, '${TextNorm.wsClass}'), " +
          s"t -> t != ''), 1, 64), $tokenKey)), $sentinel)"))
      .select("id", "block")
      .repartition(col("block"))
    // min(id) rides the guard aggregate and the pair outputs anchor it
    // with coalesce(id, hub) == id — this keeps the id column inside the
    // guard branch's copy of the exchange (column pruning would
    // otherwise split it off and recompute the block keys; see
    // guardedBucketPairs)
    val blockSizes = keyed.groupBy("block")
      .agg(count(lit(1)).as("block_n"), min(col("id")).as("hub"))
      .filter(col("block_n") <= maxBlockSize)
    val selective = keyed.join(blockSizes.select("block", "hub"), "block")
    // self-join on (id, block) only; text rejoins per candidate pair
    selective.as("l").join(selective.as("r"),
        col("l.block") === col("r.block") && col("l.id") < col("r.id"))
      .select(coalesce(col("l.id"), col("l.hub")).as("id_a"),
        coalesce(col("r.id"), col("r.hub")).as("id_b"))
      .join(texts.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard", expr("graft_jaccard(text_a, text_b)"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb-style pass):
    * lines whose normalized hash appears in MORE than `maxDocFreq`
    * distinct documents are dropped from every document; surviving
    * lines reassemble in their original order. Returns (id, clean_text)
    * for every input row (fully-boilerplate docs come back as "").
    *
    * Scale shape: posexplode → distinct (id, line-hash) → map-side-
    * combined count per hash → left_anti join (the common-line set is
    * ≤ total_lines/maxDocFreq by pigeonhole) → per-doc ordered
    * reassembly via sort_array(collect_list(struct(idx, line))) — a
    * bounded per-doc aggregate, never a Window over the corpus.
    * `oracleHash` mirrors the ngram-blocking convention: md5 for the
    * DuckDB replay, xxhash64 in production. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Int = 5, oracleHash: Boolean = false): DataFrame = {
    val ids = df.select(col(idCol).as("id"))
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("k",
        // canonical TextNorm normalization (trim/lower replayable in RE2)
        if (oracleHash) md5(TextNorm.trimCol(TextNorm.lowerCol(col("line"))))
        else xxhash64(TextNorm.trimCol(TextNorm.lowerCol(col("line")))))
    val common = lines.select("id", "k").distinct()
      .groupBy("k").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") > maxDocFreq)
    val kept = lines.join(common.select("k"), Seq("k"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"))
    ids.join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** SITE-TEMPLATE line removal — the per-domain complement to
    * [[lineDedup]]: a line is template boilerplate when its normalized
    * form (TextNorm trim+lower) appears in > `maxDomainFreq` DISTINCT
    * documents OF THE SAME domain. Nav bars, footers and cookie banners
    * repeat per SITE, not per corpus — the corpus-level doc-frequency
    * cut both misses a small site's template (df too low globally) and
    * over-fires on unrelated sites that happen to share a short line;
    * scoping the frequency key to (domain, line) fixes both. Null
    * domains coalesce to '' at first use (the null canon) and so share
    * one scope. Output: one row per input doc — (id, domain,
    * clean_text = surviving lines joined by \n in original order,
    * kept_lines, dropped_lines).
    *
    * Scale shape: the frequency key is (domain, line-hash) — the
    * distinct, the count aggregate and the anti-join all share that one
    * shuffle key; per-doc reassembly is the bounded
    * sort_array(collect_list) aggregate, never a corpus Window. A
    * million-page site's template line is one (domain, k) count row.
    * Hash family per repo convention: xxhash64 in production, md5 when
    * `oracleHash` so DuckDB replays keygen + scope + rebuild. */
  def domainBoilerplate(df: DataFrame, idCol: String, domainCol: String,
                        textCol: String, maxDomainFreq: Int = 3,
                        oracleHash: Boolean = false): DataFrame = {
    val dom = coalesce(col(domainCol).cast("string"), lit(""))
    val ids = df.select(col(idCol).as("id"), dom.as("domain"),
      when(col(textCol).isNull, lit(0L))
        .otherwise(size(split(col(textCol), "\n")).cast("long")).as("n_lines"))
    val lines = df.select(col(idCol).as("id"), dom.as("domain"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("k",
        if (oracleHash) md5(TextNorm.trimCol(TextNorm.lowerCol(col("line"))))
        else xxhash64(TextNorm.trimCol(TextNorm.lowerCol(col("line")))))
    val common = lines.select("domain", "id", "k").distinct()
      .groupBy("domain", "k").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") > maxDomainFreq)
    val kept = lines.join(common.select("domain", "k"),
      Seq("domain", "k"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("kept_lines"))
    ids.join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("domain"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        (col("n_lines") - coalesce(col("kept_lines"), lit(0L)))
          .as("dropped_lines"))
  }

  /** Benchmark/eval decontamination — the pass every serious
    * training-data pipeline runs before training: flag corpus documents
    * whose token n-grams overlap a contamination set (eval benchmarks,
    * held-out splits). Per document: distinct n-gram keys over the
    * lowercased whitespace tokenization (the `ngramJaccardPairs`
    * convention), `hits` = how many of them appear anywhere in the
    * contamination set, `frac` = hits / ngrams, and the drop verdict
    * `contaminated` = hits > 0 && frac >= threshold (threshold 0 = the
    * strict any-overlap rule; n = 13 is the standard eval-overlap
    * window). Documents shorter than n tokens have 0 n-grams and are
    * never contaminated. Returns (id, ngrams, hits, frac, contaminated)
    * for EVERY input row.
    *
    * Scale shape for 100 TB: the contamination side collapses to
    * DISTINCT n-gram keys — bounded by the benchmark suite, tiny next
    * to the corpus — and is broadcast by default (`broadcastContam`),
    * so the corpus-side pass is shuffle-free until the final per-doc
    * count. A hot boilerplate n-gram shared by the whole corpus AND the
    * contamination set cannot blow up the join: the contam side holds
    * each key ONCE, so join output is bounded by the corpus key count
    * (ScaleGuardSpec pins a corpus-wide hot n-gram). Key families match
    * the repo convention: xxhash64 in production, md5 when `oracleHash`
    * so the DuckDB gate replays keygen + join + fraction arithmetic. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    contam: DataFrame, contamTextCol: String,
                    n: Int = 13, threshold: Double = 0.0,
                    oracleHash: Boolean = false,
                    broadcastContam: Boolean = true): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1: $n")
    TextOps.registerAll(corpus.sparkSession)
    def key(c: Column): Column = if (oracleHash) md5(c) else xxhash64(c)
    // one-pass native n-gram kernel — the built-in
    // transform/sequence/slice formulation is semantically identical
    // (the oracle replays it) but re-evaluates the inlined token-array
    // subtree per lambda element under interpreted HOF eval, n× per row
    def ngramKeys(df: DataFrame, ngCols: Column*): DataFrame = {
      val src = df.select((ngCols :+ col("__text")): _*)
        .withColumn("ngs", call_function("graft_ngrams", col("__text"), lit(n)))
      // explode_OUTER + post-filter, not explode: InferFiltersFromGenerate
      // adds size(child)>0 AND isnotnull(child) under a non-outer
      // generate, and predicate pushdown substitutes the kernel into
      // both — 3 kernel evals/row (counter-measured). The rule skips
      // outer generators; the null row from an empty array drops on the
      // GENERATED attribute, which nothing can substitute into.
      src.select((ngCols :+ explode_outer(col("ngs")).as("ng")): _*)
        .filter(col("ng").isNotNull)
        .select((ngCols :+ key(col("ng")).as("k")): _*)
    }
    val ids = corpus.select(col(idCol).as("id"))
    // per-doc DISTINCT n-gram keys: one wide shuffle on (id, k) with
    // map-side partial dedup; text never rides past this point. The
    // compact (id, k) frame is SNAPSHOTTED — its consumers prune the
    // shared subtree differently, which defeats AQE exchange reuse and
    // re-runs the whole n-gram generation (measured 2× by ngramsEvals)
    val dkeys = Snapshot(ngramKeys(
      corpus.select(col(idCol).as("id"), col(textCol).as("__text")),
      col("id")).distinct())
    val ckeys0 = Snapshot(ngramKeys(
      contam.select(col(contamTextCol).as("__text"))).distinct())
    val ckeys = if (broadcastContam) broadcast(ckeys0) else ckeys0
    // ONE pass over the (expensive) n-gram generation: flag hits with a
    // broadcast LEFT join, then count totals and hits in the same
    // aggregation. Separate totals/hits branches would duplicate the
    // whole keygen+distinct subtree — join-pushed isnotnull constraints
    // land in only the hit branch, so AQE cannot reuse the exchange
    // (the CLAUDE.md canonical-subtree trap; measured 2× at sf0.1).
    val counts = dkeys
      .join(ckeys.withColumn("__hit", lit(1)), Seq("k"), "left")
      .groupBy("id").agg(count(lit(1)).as("ngrams"),
        count(col("__hit")).as("hits"))
    ids.join(counts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ngrams"), lit(0L)).as("ngrams"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("frac", when(col("ngrams") > 0,
          col("hits").cast("double") / col("ngrams")).otherwise(lit(0.0)))
      .withColumn("contaminated",
        col("hits") > 0 && col("frac") >= threshold)
  }

  /** Connected components over near-dup pairs → cluster ids. Returns
    * (id, cluster) with one row per `ids` row (duplicate ids repeat,
    * a NULL id gives (NULL, NULL)); cluster = the minimum id of the
    * row's component, and an id in no valid pair maps to itself. `id`
    * keeps the type of `idCol`, `cluster` the widest of the id and pair
    * types; all three must be integral.
    *
    * Contract, enforced: an edge counts only if both endpoints are
    * non-null ids in `ids`. Self-loops, NULL endpoints and dangling
    * endpoints are dropped before the first round, so a dangling id
    * smaller than every real one can never become a label.
    *
    * Algorithm: min-label propagation with root hooking and pointer
    * jumping, over the vertices that have a valid edge. Labels start as
    * the identity and only decrease; each label is a vertex of its own
    * component. A round takes m(v) = the min label over v and its
    * neighbours, hooks v's old label L(v) to m(v) (the owner of L(v)
    * takes the min of the hooks it receives, the Shiloach–Vishkin
    * step), and jumps: L'(v) = min(new(v), new(m(v))). Only vertices
    * whose label moved send neighbour messages: an unmoved neighbour's
    * label cannot lower anyone. The labels are final as soon as no
    * vertex has a neighbour with a smaller label, and each round ends by
    * counting those vertices for the next round, so no round is spent
    * only to confirm convergence: 2 rounds for a chain of diameter 4, 6
    * for a 64-deep chain. The hook keeps chains whose ids are in random
    * order near log2(d) rounds too (at most 7 for 64 vertices and 10
    * for 1,000 in a seeded simulation), where propagation with jumping
    * alone needs up to ~d rounds. Labels that a neighbour can still
    * lower after `maxIterations` rounds throw an IllegalStateException
    * instead of returning half-merged clusters.
    *
    * Job budget: each round is ONE Spark job. All steps are RDD
    * operations over one HashPartitioner sized by
    * `spark.sql.shuffle.partitions`, so the co-partitioned joins are
    * narrow and the hook+request shuffle, the reply shuffle and the
    * message shuffle run as one DAG whose result is that count. Round 1
    * also carries the one shuffle of `ids` (cached; it enforces the
    * contract and feeds the final join) and the two endpoint checks of
    * the edges. The returned frame is lazy: the caller's action is one
    * more job. A call therefore starts rounds + 1 jobs without a
    * checkpoint dir; with one, each round adds Spark's checkpoint
    * write job (see [[Snapshot.mark]]).
    *
    * Hub bound: neighbour messages and hooks are min-combined map-side,
    * and jump requests are deduplicated per partition by the same
    * map-side combine, so the owner of a hub's label receives at most
    * one message, hook and request per partition, never one per
    * member. The replies a partition receives (one per distinct label
    * its vertices point at) are the only per-partition lookup table. */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame,
               maxIterations: Int = 10): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1; got $maxIterations")
    val spark = ids.sparkSession
    val idType = ids.select(col(idCol)).schema.head.dataType
    val clusterType = (idType +: Seq("id_a", "id_b").map(c =>
      pairs.select(col(c)).schema.head.dataType)).maxBy(integralWidth)
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val disk = StorageLevel.MEMORY_AND_DISK

    // id → (rows, NULL rows); NULL ids ride under key 0 as a count only
    val idRows = ids.select(col(idCol).cast("long")).rdd
      .map(r => if (r.isNullAt(0)) (0L, (0L, 1L)) else (r.getLong(0), (1L, 0L)))
      .reduceByKey(part, (a, b) => (a._1 + b._1, a._2 + b._2))
      .persist(disk)
    val known = idRows.filter(_._2._1 > 0)
    def keyInIds(e: RDD[(Long, Long)]) = known.join(e, part).mapValues(_._2)
    // both directions, so the twice-checked result is the symmetric
    // adjacency (v → neighbour), partitioned by v
    val directed = pairs.select(col("id_a").cast("long"), col("id_b").cast("long")).rdd
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(0) == r.getLong(1)) Nil
        else Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
      }
    val adj = keyInIds(keyInIds(directed).map(_.swap)).persist(disk)

    // round 1: labels are the identity, so m(v) needs no join
    var prop = adj.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (v, n) => (v, (v, math.min(v, n))) },
        preservesPartitioning = true)
    var rounds = 0
    var pending = 0L
    do {
      val (next, n) = labelRound(prop, adj, part)
      prop.unpersist(blocking = false)
      prop = next
      pending = n
      rounds += 1
    } while (pending > 0 && rounds < maxIterations)
    if (pending > 0)
      throw new IllegalStateException(s"Dedup.clusters did not converge: $pending " +
        s"labels can still drop after round $rounds of maxIterations = $maxIterations")

    val labels = prop.mapValues(_._1)
    val rows = idRows.leftOuterJoin(labels, part).flatMap { case (id, ((n, nulls), l)) =>
      Iterator.fill(n.toInt)(Row(id, l.getOrElse(id))) ++
        Iterator.fill(nulls.toInt)(Row(null, null))
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("cluster", LongType)))
    spark.createDataFrame(rows, schema)
      .select(col("id").cast(idType).as("id"), col("cluster").cast(clusterType).as("cluster"))
  }

  private def integralWidth(t: DataType): Int = t match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 4
    case LongType => 8
    case other => throw new IllegalArgumentException(
      s"Dedup.clusters needs integral ids and pair endpoints; got $other")
  }

  /** One `clusters` round, run as one job. `prop` holds
    * v → (L(v), m(v)). Hooks and jump requests go to the label owners,
    * replies come back, and each vertex takes L'(v); the vertices whose
    * label moved then send it to their neighbours for the next m'(v).
    * Returns the truncated v → (L'(v), m'(v)) and the number of
    * vertices with m'(v) < L'(v): 0 means L' is the fixpoint (every
    * edge joins equal labels), so no round is spent confirming it. */
  private def labelRound(prop: RDD[(Long, (Long, Long))], adj: RDD[(Long, Long)],
                         part: HashPartitioner): (RDD[(Long, (Long, Long))], Long) = {
    type Ask = (Long, List[Int]) // (min hook, requesting partitions)
    def merge(a: Ask, b: Ask): Ask = (math.min(a._1, b._1), (a._2 ::: b._2).distinct)
    val asks = prop.mapPartitionsWithIndex { (pid, it) =>
      it.flatMap { case (v, (l, m)) =>
        val hook = if (l != v && m < l) Iterator((l, (m, List.empty[Int]))) else Iterator.empty
        val request = if (m != v) Iterator((m, (Long.MaxValue, List(pid)))) else Iterator.empty
        hook ++ request
      }
    }.combineByKey[Ask](identity, merge, merge, part)
    // owner side: new(x) = min(m(x), hooks to x), then one reply per
    // requesting partition
    val owned = prop.leftOuterJoin(asks, part).mapValues { case ((l, m), ask) =>
      val (hook, pids) = ask.getOrElse((Long.MaxValue, Nil))
      (l, m, math.min(m, hook), pids)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val replies = owned
      .flatMap { case (x, (_, _, nx, pids)) => pids.map(p => (p, (x, nx))) }
      .partitionBy(new PartitionIdPassthrough(part.numPartitions))
    val labels = owned.zipPartitions(replies, preservesPartitioning = true) { (own, rep) =>
      val jumped = new mutable.LongMap[Long]
      rep.foreach { case (_, (x, nx)) => jumped(x) = nx }
      own.map { case (v, (l, m, nv, _)) =>
        val lv = if (m == v) nv else math.min(nv, jumped(m))
        (v, (lv, lv != l))
      }
    }
    // an unmoved neighbour's label is already >= this vertex's label
    val msgs = labels.filter(_._2._2).mapValues(_._1).join(adj, part)
      .map { case (_, (l, v)) => (v, l) }
      .reduceByKey(part, math.min(_, _))
    val next = labels.leftOuterJoin(msgs, part)
      .mapValues { case ((l, _), m) => (l, m.fold(l)(math.min(l, _))) }
    val pending = Snapshot.mark(next).filter { case (_, (l, m)) => m < l }.count()
    owned.unpersist(blocking = false)
    (next, pending)
  }

  /** Routes a record keyed by a partition index to that partition. */
  private final class PartitionIdPassthrough(override val numPartitions: Int)
      extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Quality-aware canonical selection over near-dup clusters — the
    * step after `clusters`: per cluster keep the HIGHEST-quality
    * member (tie → smallest id), not the arbitrary min-id winner.
    * Real pipelines keep the best extraction of a duplicated page
    * (longest text, highest quality score), so the canonical choice is
    * a ranked argmax, made deterministic here by the (score desc,
    * id asc) order. Returns (id, cluster, keep) for every input row —
    * a projection-free annotate, ready to filter or audit.
    *
    * Scale shape: ONE map-side-combined aggregate on the cluster key —
    * `max(struct(score, -id))` is an O(1) combiner, so a 10⁷-member
    * boilerplate cluster arrives at its reducer as ≤ #partitions
    * partial rows — then a broadcast-or-shuffle join of the
    * (cluster, winner) frame (one row per CLUSTER, ≤ distinct
    * clusters) back onto the input. No Window over the corpus. */
  def keepBest(df: DataFrame, idCol: String, clusterCol: String,
               scoreCol: String): DataFrame = {
    val winners = df.groupBy(col(clusterCol))
      .agg(max(struct(
        coalesce(col(scoreCol).cast("long"), lit(Long.MinValue)).as("s"),
        (-col(idCol).cast("long")).as("nid"))).as("w"))
      .select(col(clusterCol), (-col("w.nid")).as("__keep_id"))
    df.join(winners, clusterCol)
      .withColumn("keep", col(idCol).cast("long") === col("__keep_id"))
      .drop("__keep_id")
  }

  /** Embedding near-dup: cosine ≥ threshold among LSH-bucketed vectors
    * (random hyperplane signatures — seeded, deterministic).
    * `bands` independent signatures are OR-ed (a pair is a candidate if
    * it collides in ANY band): with p = P(same bucket) per band, recall
    * is 1-(1-p)^bands instead of p. Zero vectors are dropped before
    * banding (they all land in one bucket and their cosine is
    * undefined), and degenerate buckets are guarded exactly like the
    * text LSH joins. Identical or positively-scaled vectors always share
    * every band, so exact-dup recall is 1 by construction.
    *
    * Recall AT the threshold boundary is what the defaults must be
    * sized for (round-2 verdict): measured against brute-force truth on
    * pairs planted at cosine 0.91-0.99 with threshold 0.9 —
    * planes=8/bands=4 → 0.89, planes=8/bands=8 → 0.95 (deterministic
    * pins in ScaleGuardSpec; theory + table in BASELINE.md §lsh-recall).
    * Raise `bands` when the workload needs boundary recall; each band
    * adds one (id, band, bucket) explode row per vector, never a vector
    * copy. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       planes: Int = 16, threshold: Double = 0.95,
                       bands: Int = 4, maxBucketSize: Int = 1024): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .filter(aggregate(col("vec"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double")) > 0.0)
    // candidate shuffle carries (id, band, bucket) only — vectors rejoin
    // per verified candidate id, never ride the banding explode
    val banded = vecs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        Similarity.hyperplaneSignature(col("vec"), planes, seed = 42 + 1000 * b)): _*))
        .as(Seq("band", "bucket")))
    guardedBucketPairs(banded, maxBucketSize)
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via embedding
    * clusters — assign every vector to its nearest centroid (argmax
    * cosine, the IVF coarse quantizer), compare pairs only WITHIN a
    * cell, and drop every member of a ≥-threshold pair except its
    * smallest id. Returns (id, cell, kept) for every input row.
    *
    * Centroids come in as a parameter (train with
    * `Similarity.trainCentroids` — the same literal-broadcast
    * discipline as ivfTopK: k×dim floats in the plan, never a join).
    * 100 TB shape: the pair join is cell-bucketed with the oversize
    * guard (a degenerate cell star-compares against its hub instead of
    * exploding quadratically); vectors rejoin candidates by id, never
    * riding the bucket shuffle; the (id, cell) frame feeding both the
    * pair key and the final output goes through one compact Snapshot so
    * the centroid kernel runs once per row. Null and NaN-poisoned
    * vectors take the -1 sentinel cell (never pairs with a real 0-based
    * cell, no isnotnull pushdown re-eval — the CLAUDE.md coalesce rule);
    * zero/short vectors land in a real cell but can never reach the
    * cosine threshold (zero-norm guard / length-mismatch null verdict) —
    * every such row is kept, never silently deduplicated. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Float]], threshold: Double,
                    maxCellSize: Int = 4096): DataFrame = {
    import org.apache.spark.sql.graft.GraftSql
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val nearest = GraftSql.column(graft.spark.GraftNearestCentroids(
      GraftSql.expressionOf(col("vec")), centroids, 1))
    val cells = Snapshot(vecs.select(col("id"),
      coalesce(element_at(nearest, 1), lit(-1)).as("cell")))
    val banded = cells.filter(col("cell") >= 0)
      .select(col("id"), lit(0).as("band"), col("cell").as("bucket"))
    val dropped = guardedBucketPairs(banded, maxCellSize)
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .filter(Similarity.cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__sd", lit(true))
    cells.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"),
        (!coalesce(col("__sd"), lit(false))).as("kept"))
  }

  /** Exact-substring duplication stats — the corpus-wide repeated-
    * passage detector behind suffix-array training-data dedup (drop or
    * trim documents containing a passage of >= L tokens that appears
    * elsewhere in the corpus). A token n-gram at position p is
    * "duplicated" when its key occurs more than once in the WHOLE
    * corpus; a run of r consecutive duplicated positions certifies a
    * shared passage of n + r - 1 tokens, so the caller's L maps to
    * `longest_dup_run >= L - n + 1`. Returns per doc: `ngrams` (total
    * n-gram positions), `dup_ngrams` (duplicated positions), and
    * `longest_dup_run`.
    *
    * Scale shape for 100 TB: ONE wide shuffle of (id, pos, key) on the
    * key — its exchange is consumed by BOTH the per-key count aggregate
    * and the flag join (uniform columns, no pushed constraints: key is
    * non-nullable from the kernel, so no isnotnull lands on either
    * branch — the AQE canonical-subtree discipline), so n-gram
    * generation runs once per row. Counts are aggregate-collapsed
    * (map-side combine), never collected per key: a boilerplate n-gram
    * shared by the whole corpus costs one count row, and the flag join
    * output stays exactly |positions|. The per-doc run fold happens on
    * a collect_list bounded by the DOCUMENT length (never by key
    * frequency), folded with a codegen'd `aggregate` over the sorted
    * array. The DuckDB oracle replays everything on real data:
    * keygen + corpus counts + gaps-and-islands longest run. */
  def duplicatedNgramSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 13,
                           oracleHash: Boolean = false): DataFrame = {
    TextOps.registerAll(df.sparkSession)
    def key(c: Column): Column = if (oracleHash) md5(c) else xxhash64(c)
    val ids = df.select(col(idCol).as("id"))
    // compact (id, pos, k) snapshot: the counts aggregate and the flag
    // join prune the shared subtree differently, defeating exchange
    // reuse — without it the n-gram generation re-ran 6× (ngramsEvals)
    // posexplode_OUTER + post-filter (the ngramKeys rule): a non-outer
    // generate gets size/isnotnull filters inferred with the kernel
    // substituted in — 3 evals/row
    val keyed = Snapshot(df
      .select(col(idCol).as("id"),
        call_function("graft_ngrams", col(textCol), lit(n)).as("ngs"))
      .select(col("id"), posexplode_outer(col("ngs")).as(Seq("pos", "ng")))
      .filter(col("ng").isNotNull)
      .select(col("id"), col("pos"), key(col("ng")).as("k")))
    val counts = keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
    val runStats = keyed.join(counts, "k")
      .select(col("id"), col("pos"), (col("cnt") > 1).as("dup"))
      .groupBy("id")
      .agg(count(lit(1)).as("ngrams"),
        count(when(col("dup"), 1)).as("dup_ngrams"),
        sort_array(collect_list(when(col("dup"), col("pos")))).as("dps"))
      .withColumn("longest_dup_run",
        aggregate(col("dps"),
          struct(lit(0L).as("cur"), lit(0L).as("best"), lit(-2L).as("prev")),
          (acc, p) => {
            val cur = when(p.cast("long") === acc.getField("prev") + 1L,
              acc.getField("cur") + 1L).otherwise(lit(1L))
            struct(cur.as("cur"),
              greatest(acc.getField("best"), cur).as("best"),
              p.cast("long").as("prev"))
          },
          acc => acc.getField("best")))
      .select(col("id"), col("ngrams"), col("dup_ngrams"),
        col("longest_dup_run"))
    // every input row reports, including docs shorter than n tokens
    ids.join(runStats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ngrams"), lit(0L)).as("ngrams"),
        coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
        coalesce(col("longest_dup_run"), lit(0L)).as("longest_dup_run"))
  }

  /** The APPLY side of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * REMOVE every token covered by a corpus-duplicated n-gram — i.e.
    * cut every shared passage of >= n tokens out of every document,
    * keeping the surrounding text. Output per input row: the surviving
    * canonical token stream (`clean_text` — lowered tokens joined by
    * single spaces, the [[TextNorm]] alphabet the n-gram keys are built
    * on), `n_tokens`, and `n_removed`.
    *
    * Scale shape mirrors [[duplicatedNgramSpans]]: one compact
    * (id, pos, key) Snapshot feeds the corpus count aggregate AND the
    * flag join; duplicated positions fan out to at most n covered
    * token indices each (rows, never arrays — a boilerplate-heavy doc
    * costs O(dup positions × n) rows, not O(tokens²) per-doc lambda
    * work); the surviving tokens re-aggregate per doc with a
    * sort_array(collect_list(struct)) bounded by DOCUMENT length. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 13,
                     oracleHash: Boolean = false): DataFrame = {
    TextOps.registerAll(df.sparkSession)
    def key(c: Column): Column = if (oracleHash) md5(c) else xxhash64(c)
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val keyed = Snapshot(base
      .select(col("id"),
        call_function("graft_ngrams", col("text"), lit(n)).as("ngs"))
      .select(col("id"), posexplode_outer(col("ngs")).as(Seq("pos", "ng")))
      .filter(col("ng").isNotNull)
      .select(col("id"), col("pos"), key(col("ng")).as("k")))
    val counts = keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
    val covered = keyed.join(counts, "k").filter(col("cnt") > 1)
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tidx"))
      .distinct()
    val toks = base
      .select(col("id"), posexplode_outer(
        TextNorm.tokensCol(TextNorm.lowerCol(col("text"))))
        .as(Seq("tidx", "tok")))
      .filter(col("tok").isNotNull)
    val stats = toks
      .join(covered.withColumn("__cov", lit(true)), Seq("id", "tidx"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__cov"), 1)).as("n_removed"),
        // collect_list drops the nulls `when` leaves for covered tokens
        array_join(transform(
          sort_array(collect_list(when(!coalesce(col("__cov"), lit(false)),
            struct(col("tidx"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"))
    base.select(col("id")).join(stats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** CORPUS-WIDE exact paragraph dedup, FIRST occurrence wins (the
    * MassiveText/RefinedWeb pass between [[lineDedup]]'s doc-frequency
    * rule and whole-document dedup): every later copy of a duplicated
    * paragraph is removed from its document; the one at the smallest
    * (id, idx) survives. Paragraphs split on a literal blank line
    * (`\n\n`); the match key is the [[TextNorm]] canonical form
    * (explicit-set trim + ASCII lower) so both hash families replay;
    * paragraphs whose normalized form is EMPTY are separators, not
    * content — always kept, never keyed. Returns
    * (id, clean_text, n_removed) for EVERY input row (null text → ""/0).
    *
    * Scale shape: posexplode → one compact (id, idx, key) Snapshot
    * feeding the winner aggregate (min(struct(id, idx)) per key —
    * map-side combined) AND the verdict join; a corpus-hot boilerplate
    * key has ONE winner row, so join output is bounded by the corpus
    * paragraph count (AQE skew-split handles the hot key); per-doc
    * reassembly is a bounded sort_array(collect_list) — never a Window
    * over the corpus. `oracleHash` mirrors the repo convention: md5 for
    * the DuckDB replay, xxhash64 in production. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     oracleHash: Boolean = false): DataFrame = {
    def key(c: Column): Column = if (oracleHash) md5(c) else xxhash64(c)
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val paras = base
      .select(col("id"),
        // limit -1 keeps trailing empty paragraphs (Java split drops
        // them by default) so reassembly is lossless on clean docs
        posexplode_outer(split(col("text"), "\n\n", -1)).as(Seq("idx", "para")))
      .filter(col("para").isNotNull)
      .withColumn("norm", TextNorm.trimCol(TextNorm.lowerCol(col("para"))))
    val keyed = Snapshot(paras.filter(length(col("norm")) > 0)
      .select(col("id"), col("idx"), key(col("norm")).as("k")))
    val winners = keyed.groupBy("k")
      .agg(min(struct(col("id"), col("idx"))).as("w"))
    val kept = keyed.join(winners, Seq("k"))
      .filter(col("id") === col("w.id") && col("idx") === col("w.idx"))
      .select(col("id"), col("idx"), lit(true).as("__keep"))
    val flagged = paras.join(kept, Seq("id", "idx"), "left")
      .withColumn("keepp",
        length(col("norm")) === 0 || coalesce(col("__keep"), lit(false)))
    val stats = flagged.groupBy("id")
      .agg(array_join(transform(
          // collect_list drops the nulls `when` leaves for removed paras
          sort_array(collect_list(when(col("keepp"),
            struct(col("idx"), col("para"))))),
          s => s.getField("para")), "\n\n").as("clean_text"),
        count(when(!col("keepp"), 1)).as("n_removed"))
    base.select(col("id")).join(stats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Banded blockhash near-dup detection — the image counterpart of
    * MinHash-LSH: perceptual hashes (graft_blockhash 16-hex-nibble
    * values) band into `bands` contiguous nibble groups; images
    * sharing ANY band become candidates; candidates verify by hex
    * hamming distance <= maxHamming. Returns per-image verdicts
    * (has_hash, n_cand, n_near, near_min — the smallest near-dup
    * partner id, -1 when none) for EVERY input row, null-hash rows
    * included with zeroed counts (undecodable images are dirty data,
    * never dropped silently).
    *
    * Scale shape — the EXACT-GROUP COLLAPSE is the load-bearing piece
    * (the sf1 probe caught the naive member-level band join at 94× for
    * 10× rows): identical hashes collapse to ONE representative before
    * banding, so the self-join is over DISTINCT hashes (web corpora
    * are exact-duplicate-heavy; a 10⁶-copy logo must cost one row, not
    * 10¹² pairs), and group sizes fan the verdicts back arithmetically
    * (a member of an m-group has m−1 hamming-0 partners by identity —
    * no pair materialization). The hash frame is Snapshot-ed ONCE (the
    * kernel never re-evaluates in any consumer); per-group min1/min2
    * make the member-level near_min exact (the group minimum's best
    * partner is the SECOND-smallest id). Member-level results are
    * IDENTICAL to the naive all-member pair join (ScaleGuardSpec pins
    * the equality; the q_image_dedup oracle IS the naive mirror). */
  def blockhashNearDup(df: DataFrame, idCol: String, hashCol: String,
                       bands: Int = 4, maxHamming: Int = 2): DataFrame = {
    require(bands >= 1 && 16 % bands == 0, s"bands must divide 16: $bands")
    require(maxHamming >= 0 && maxHamming <= 64, s"bad maxHamming: $maxHamming")
    val w = 16 / bands
    // ONE snapshot of the (possibly kernel-derived) hash column
    val base = Snapshot(df.select(col(idCol).as("id"), col(hashCol).as("h")))
    val members = base.filter(col("h").isNotNull)
    // exact-group collapse: one row per distinct hash (m, min1, min2)
    val g1 = members.groupBy("h")
      .agg(count(lit(1)).as("m"), min(col("id")).as("min1"))
    val g2 = members.join(g1, Seq("h"))
      .filter(col("id") =!= col("min1"))
      .groupBy("h").agg(min(col("id")).as("min2"))
    val groups = Snapshot(g1.join(g2, Seq("h"), "left"))
    val banded = groups
      .select(col("h"), col("m"), col("min1"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .withColumn("bv", expr(s"substr(h, b * $w + 1, $w)"))
    // distinct-hash candidate pairs (h-order dedupes the band multi-hit)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.h") < col("y.h"))
      .select(col("x.h").as("ha"), col("y.h").as("hb"),
        col("x.m").as("ma"), col("y.m").as("mb"),
        col("x.min1").as("na"), col("y.min1").as("nb"))
      .distinct()
    val judged = pairs.withColumn("ham",
      org.apache.spark.sql.functions.call_function(
        "graft_hamming_hex", col("ha"), col("hb")))
    val dir0 = judged.select(col("ha").as("h"), col("mb").as("om"),
        col("nb").as("omin"), col("ham"))
      .unionAll(judged.select(col("hb").as("h"), col("ma").as("om"),
        col("na").as("omin"), col("ham")))
    // per-HASH cross-group summary (band partners weighted by group size)
    val cross = dir0.groupBy("h")
      .agg(sum(col("om")).as("x_cand"),
        sum(when(col("ham") <= maxHamming, col("om")).otherwise(lit(0L)))
          .as("x_near"),
        min(when(col("ham") <= maxHamming, col("omin"))).as("x_min"))
    val perHash = groups.join(cross, Seq("h"), "left")
    // fan back to members: m−1 identical partners + the cross summary
    val verdicts = members.join(perHash, Seq("h"))
      .select(col("id"),
        (col("m") - 1 + coalesce(col("x_cand"), lit(0L))).as("n_cand"),
        (col("m") - 1 + coalesce(col("x_near"), lit(0L))).as("n_near"),
        least(
          when(col("m") > 1,
            when(col("id") === col("min1"), col("min2"))
              .otherwise(col("min1"))),
          col("x_min")).as("nm"))
    base.join(verdicts, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("h").isNotNull.cast("int").as("has_hash"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("nm"), lit(-1L)).as("near_min"))
  }

  /** Embedding-space decontamination — the semantic companion of
    * [[decontaminate]]: flag corpus vectors whose cosine against ANY
    * eval-set vector reaches `minCosine` (benchmark text paraphrased
    * or re-rendered slips past n-gram overlap; its embedding does
    * not). Returns one row per corpus row: (id, contaminated int,
    * best_contam — the matched eval id at (cosine desc, id asc),
    * -1 when the eval set is empty).
    *
    * Scale shape: the eval set is distinct-collapsed and BROADCAST
    * (the [[decontaminate]] rule — eval suites are thousands of rows,
    * the corpus is billions), cosine is the native single-pass kernel,
    * and the per-corpus-row reduction is one map-side-combined
    * max(struct) aggregate — no shuffle of the corpus beyond it, no
    * TopK state. Verdict determinism: ties on cosine break by the
    * SMALLEST eval id (max(struct(cos, -cid))), and the cosine doubles
    * replay cross-engine because +,*,/,sqrt are IEEE-exact in both
    * (the bm25 libm rule — nothing transcendental here). */
  def decontaminateEmbeddings(corpus: DataFrame, idCol: String, vecCol: String,
                              contam: DataFrame, contamIdCol: String,
                              contamVecCol: String,
                              minCosine: Double): DataFrame = {
    val ev = broadcast(contam
      .select(col(contamIdCol).as("__cid"), col(contamVecCol).as("__cvec"))
      .distinct())
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(ev)
      .select(col("id"),
        graft.ops.Similarity.cosine(col("v"), col("__cvec")).as("cos"),
        col("__cid"))
    val best = scored.groupBy("id")
      .agg(max(struct(col("cos"), (-col("__cid")).as("ncid"))).as("b"))
      .select(col("id"), col("b.cos").as("cos"), (-col("b.ncid")).as("cid"))
    corpus.select(col(idCol).as("id")).join(best, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce((col("cos") >= minCosine).cast("int"), lit(0))
          .as("contaminated"),
        coalesce(col("cid"), lit(-1L)).as("best_contam"))
  }
}
