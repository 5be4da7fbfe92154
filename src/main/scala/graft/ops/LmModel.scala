package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.spark.KernelRegistry.kernel

/** Count-based language-model familiarity scorer — the CCNet-style LM
  * filter stage (Wenzek et al. 2020 use a KenLM trained on Wikipedia
  * and drop the high-perplexity tail; this is that shape with
  * everything constructible in-repo): an in-domain n-gram count table
  * trained at class load from the checked-in [[QualityModel.GoodSeed]]
  * prose, scored as an integer familiarity sum per document. Distinct
  * from [[QualityModel]] (a DISCRIMINATIVE good-vs-bad classifier):
  * this is a one-class in-domain model — junk scores low because its
  * n-grams were never seen, not because it resembles a bad seed.
  *
  * CHAR trigrams, not word n-grams: a 16-line seed cannot cover word
  * trigrams of held-out text, but its letter patterns generalize (the
  * langid logic) — which is what makes a tiny checked-in corpus give a
  * discriminating score. Trigrams walk the CODEPOINTS of the canonical
  * token stream (TextNorm tokens, ASCII lower, single-space joined) so
  * DuckDB `substr` replays the windows exactly.
  *
  * Integer end to end (the oracle discipline):
  *  - bucket = first 16 bits of md5(trigram) mod Buckets (the
  *    QualityModel arithmetic, UTF-8 bytes both sides);
  *  - the count table quantizes to LEVELS = bit length of the bucket
  *    count (an integer log2 proxy for log-probability; 0 = unseen);
  *  - score = Σ level[bucket(trigram)] over all trigram occurrences,
  *    replayed by an embedded generated level-list literal.
  *
  * 100 TB shape: one codegen'd kernel pass per row — one tokenization,
  * one md5 per character window, one array lookup each; no shuffle, no
  * broadcast, no state.
  */
object LmModel {

  /** Hash buckets: 512 keeps the generated oracle literal ~1.5 KB while
    * seed trigram collisions stay rare. */
  val Buckets = 512

  /** Bucket of one trigram: first 16 bits of md5 mod Buckets — exactly
    * `CAST('0x' || substr(md5(g), 1, 4) AS BIGINT) % 512` in DuckDB. */
  def bucket(gram: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % Buckets
  }

  /** Canonical stream a document's trigrams are read from. */
  def stream(text: String): String =
    TextNorm.tokens(TextNorm.asciiLower(text)).mkString(" ")

  /** Walk codepoint trigram windows of a stream (DuckDB
    * `substr(s, i, 3)` semantics — astral chars are ONE position). */
  private def eachTrigram(s: String)(f: String => Unit): Unit = {
    val cp = s.codePointCount(0, s.length)
    if (cp < 3) return
    // UTF-16 boundary index of every codepoint (cp + 1 entries)
    val b = new Array[Int](cp + 1)
    var i = 0
    var j = 0
    while (j < cp) { b(j) = i; i = s.offsetByCodePoints(i, 1); j += 1 }
    b(cp) = s.length
    j = 0
    while (j + 3 <= cp) { f(s.substring(b(j), b(j + 3))); j += 1 }
  }

  /** The trained level table: bit length of the seed-corpus count per
    * bucket (0 = never seen in the seed). Trained at class load from
    * the checked-in good seed — changing the seed retrains the table
    * and the generated oracle follows, but OpsSpec pins move. */
  val levels: Array[Int] = {
    val counts = new Array[Long](Buckets)
    QualityModel.GoodSeed.foreach { line =>
      eachTrigram(stream(line))(g => counts(bucket(g)) += 1)
    }
    counts.map(c => 64 - java.lang.Long.numberOfLeadingZeros(c))
  }

  /** Score over an already-built stream (kernel fast path: one
    * tokenization feeds both outputs). */
  def scoreOfStream(s: String): Long = {
    var acc = 0L
    eachTrigram(s)(g => acc += levels(bucket(g)))
    acc
  }

  def nTrigramsOfStream(s: String): Int =
    math.max(s.codePointCount(0, s.length) - 2, 0)

  /** Integer familiarity score: Σ level[bucket(trigram)]. Total on any
    * input; fewer than 3 stream codepoints scores 0. */
  def score(text: String): Long = scoreOfStream(stream(text))

  /** Trigram count of a text (the score's support size). */
  def nTrigrams(text: String): Int = nTrigramsOfStream(stream(text))

  /** DuckDB replay over a text-valued SQL expression: canonical stream
    * → codepoint trigram windows → md5 bucket → embedded level
    * literal → sum (list_sum promotes to HUGEINT — the CAST AS BIGINT
    * is load-bearing). */
  def sqlStream(textExpr: String): String =
    s"array_to_string(${TextNorm.sqlTokens(TextNorm.sqlLower(textExpr))}, ' ')"

  def sqlScoreFromStream(streamExpr: String): String = {
    val llist = levels.mkString("[", ", ", "]")
    s"""CAST(coalesce(list_sum(list_transform(range(1, length($streamExpr) - 1),
       |  i -> $llist[1 + CAST('0x' || substr(md5(substr($streamExpr, CAST(i AS INT), 3)), 1, 4) AS BIGINT) % $Buckets])),
       |  0) AS BIGINT)""".stripMargin
  }

  def sqlNTrigrams(streamExpr: String): String =
    s"CAST(greatest(length($streamExpr) - 2, 0) AS INT)"

  /** CCNet's corpus-level perplexity bucketing (Wenzek et al. 2020 cut
    * each language's corpus into head/middle/tail perplexity tertiles
    * and train preferentially on the head): assign every document a
    * bucket by EXACT integer tertiles of the mean-familiarity score
    * `lm_q = (lm_score * 1000) div max(n_trigrams, 1)`.
    *
    * Exact-at-scale without a corpus sort: `lm_q` lives in the BOUNDED
    * integer domain [0, 1000 * levels.max] (score ≤ levels.max per
    * trigram — 5,001 values with the trained table), so exact tertile
    * thresholds come from a map-side-combined histogram over that
    * domain — a ≤5,001-row driver collect bounded by the DOMAIN, never
    * the data (the [[Sample.toMixture]] discipline) — not from a
    * global sort or an approx-percentile. Thresholds (ceil-count rule,
    * ties keep the whole value class):
    *   t_head = max q with |{lm_q >= q}| >= ceil(N/3)
    *   t_mid  = max q with |{lm_q >= q}| >= ceil(2N/3)
    *   bucket = head if lm_q >= t_head, middle if >= t_mid, else tail.
    * All-integer → a SQL oracle replays the histogram walk exactly;
    * exact counts → the assignment is retry- and partitioning-
    * deterministic (the checkpoint-resume property).
    *
    * Scale shape: ONE kernel pass per row materialized into a compact
    * (id, lm_q) [[Snapshot]] that feeds both the histogram and the
    * labeled output (multi-consumer kernel discipline), one bounded
    * aggregate, broadcast literal thresholds; no join, no window. */
  def ccnetBuckets(docs: DataFrame, textCol: String,
                   idCol: String = "doc_id"): DataFrame = {
    val r = kernel("graft_lm_score", coalesce(col(textCol), lit("")))
    val scored = Snapshot(docs
      .select(col(idCol), r.as("r"))
      .select(col(idCol), col("r.lm_score").as("lm_score"),
        col("r.n_trigrams").as("n_trigrams"))
      .selectExpr(idCol,
        "(lm_score * 1000) div greatest(n_trigrams, 1) AS lm_q"))
    val hist = scored.groupBy("lm_q").count().collect()
      .map(row => row.getLong(0) -> row.getLong(1))
    require(hist.length <= 1000 * levels.max + 1,
      s"lm_q domain escaped its bound: ${hist.length} distinct values")
    val n = hist.map(_._2).sum
    val hTarget = (n + 2) / 3
    val mTarget = (2 * n + 2) / 3
    var f = 0L
    var tHead = Long.MinValue
    var tMid = Long.MinValue
    hist.sortBy(-_._1).foreach { case (q, c) =>
      f += c
      if (tHead == Long.MinValue && f >= hTarget) tHead = q
      if (tMid == Long.MinValue && f >= mTarget) tMid = q
    }
    scored.withColumn("lm_bucket",
      when(col("lm_q") >= tHead, "head")
        .when(col("lm_q") >= tMid, "middle")
        .otherwise("tail"))
  }
}
