package graft.spark

import graft.ops.TextOps
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the text SQL functions (graft_minhash /
  * graft_simhash64 / graft_jaccard / graft_hamming64 / graft_ngrams /
  * ...; rows in [[KernelRegistry]]). Round-2 verdict item #2: these
  * sat in the hot path of the biggest jobs in the suite as row-at-a-time
  * Scala UDFs (closure call + CatalystTypeConverters per row, a codegen
  * boundary per use); as registry kernels whole-stage codegen emits one
  * static call per row. The arithmetic lives in graft.ops.TextOps
  * (JVM-static, shared by both eval paths) and is UNCHANGED: every
  * signature is pinned by DuckDB oracles and ScaleGuardSpec brute-force
  * truths, so outputs must not move a bit.
  *
  * All of these return non-null for non-null inputs (TextOps' null
  * branches are unreachable behind nullIntolerant), so none of their
  * registry rows sets `nullableResult`.
  */
object TextKernels {
  /** Local-mode observability: how many times the expensive signature
    * kernels actually ran. The LSH operators promise "signatures
    * evaluated once per row" via exchange reuse — PlanSpec counts
    * evaluations through this (plan strings are unreliable under AQE).
    * One uncontended atomic increment next to a k×shingles loop: noise. */
  val minhashEvals = new java.util.concurrent.atomic.AtomicLong
  val simhashEvals = new java.util.concurrent.atomic.AtomicLong

  /** 64-bit SimHash over 3-word shingles. */
  def simhash64(t: UTF8String): Long = {
    simhashEvals.incrementAndGet()
    TextOps.simhash64(t.toString)
  }
  /** MinHash signature: k permutation minima (k is a plan-time literal). */
  def minhash(t: UTF8String, k: Int): ArrayData = {
    minhashEvals.incrementAndGet()
    val sig = TextOps.minhash(t.toString, k)
    val boxed = new Array[Any](sig.length)
    var i = 0
    while (i < sig.length) { boxed(i) = sig(i); i += 1 }
    new GenericArrayData(boxed)
  }
  /** Exact token-set Jaccard — the verify kernel every candidate pair
    * pays. */
  def jaccard(a: UTF8String, b: UTF8String): Double =
    TextOps.jaccardTokens(a.toString, b.toString)
  /** MinHash over CHARACTER n-grams — the whitespace-free-script (CJK)
    * dedup path; token shingling degenerates there (round-4). Same
    * counter as minhash. */
  def minhashShingle(t: UTF8String, k: Int, n: Int): ArrayData = {
    minhashEvals.incrementAndGet()
    val sig = TextOps.minhashShingle(t.toString, k, n)
    val boxed = new Array[Any](sig.length)
    var i = 0
    while (i < sig.length) { boxed(i) = sig(i); i += 1 }
    new GenericArrayData(boxed)
  }
  /** Exact char-n-gram-set Jaccard — the verify kernel for the shingle
    * dedup path. */
  def jaccardShingle(a: UTF8String, b: UTF8String, n: Int): Double =
    TextOps.jaccardShingles(a.toString, b.toString, n)
  /** deflate(text)/|text| in permille (the cheap repetition detector —
    * template/stuffed pages compress far below natural prose). Pinned by
    * unit tests rather than the DuckDB gate (SQL cannot deflate). */
  def compressRatio(t: UTF8String): Int =
    TextOps.compressRatioPermille(t.toString)
  /** Hamming distance of two 64-bit signatures. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  /** 64-bit rolling document fingerprint. */
  def fingerprint64(t: UTF8String): Long = TextOps.fingerprint64(t.toString)
  /** Marker-heuristic language id. */
  def langId(t: UTF8String): UTF8String =
    UTF8String.fromString(TextOps.langIdHeuristic(t.toString))
  /** Mojibake repair: UTF-8-decoded-as-Latin-1 corruption fixed by the
    * shared pure-byte-view / strict-UTF-8 rule (TextOps.demojibake;
    * Pdf.text re-decodes through the SAME function). Total; ASCII, real
    * Unicode, and genuine Latin-1 pass through. */
  def demojibake(t: UTF8String): UTF8String = {
    val s = t.toString
    val r = TextOps.demojibake(s)
    if (r eq s) t else UTF8String.fromString(r)
  }
  /** Unicode NFC normalization — the canonical-form pass a text
    * pipeline runs before dedup keys / tokenization so that "é" and
    * "e"+U+0301 hash identically. JDK Normalizer (Unicode canonical
    * composition — a SPEC-stable algorithm: the normalization stability
    * policy freezes the result for every assigned codepoint, which is
    * what lets a DuckDB utf8proc oracle replay it; codepoints unassigned
    * in one engine's Unicode version are the documented caveat, so
    * oracle constructions pin assigned-everywhere cases). */
  def nfc(t: UTF8String): UTF8String = {
    val s = t.toString
    // fast path: NFC-is-identity is the overwhelmingly common case and
    // isNormalized is a cheap quick-check scan (ASCII short-circuits)
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) t
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Integer repetition-signal struct (TextOps.repetition field order). */
  val repetitionStructType: StructType = StructType(
    Seq("lines", "dup_lines", "line_chars", "dup_line_chars",
      "paras", "dup_paras", "token_chars",
      "top2_chars", "top3_chars", "top4_chars")
      .map(n => StructField(n, IntegerType, nullable = false)))

  /** LM familiarity struct (graft.ops.LmModel): score + support. */
  val lmScoreStructType: StructType = StructType(Seq(
    StructField("lm_score", LongType, nullable = false),
    StructField("n_trigrams", IntegerType, nullable = false)))

  val lmScoreEvals = new java.util.concurrent.atomic.AtomicLong

  /** CCNet-style LM familiarity: the in-domain char-trigram count model
    * of graft.ops.LmModel in ONE stream pass per row; callers derive the
    * drop rule (mean level) by integer cross-multiplication in the
    * projection. */
  def lmScore(t: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    lmScoreEvals.incrementAndGet()
    val s = graft.ops.LmModel.stream(t.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](graft.ops.LmModel.scoreOfStream(s),
        graft.ops.LmModel.nTrigramsOfStream(s)))
  }

  /** Integer C4/Gopher filter-battery struct (TextOps.c4Rules order). */
  val c4RulesStructType: StructType = StructType(
    Seq("lines", "kept_lines", "bullet_lines", "ellipsis_lines",
      "words", "alpha_words", "stop_hits", "lorem", "brace")
      .map(n => StructField(n, IntegerType, nullable = false)))

  val c4RulesEvals = new java.util.concurrent.atomic.AtomicLong

  /** C4/Gopher filter battery (terminal-punctuation / bullet / ellipsis
    * line counts, alpha-word and stop-word token counts, lorem/brace page
    * flags) in ONE text pass per row; callers derive the published drop
    * rules by integer cross-multiplication in the PROJECTION (filtering
    * on the struct's getFields would re-eval the kernel — the
    * graft_repetition_ok lesson). Definitions: TextOps.c4Rules. */
  def c4Rules(t: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    c4RulesEvals.incrementAndGet()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      TextOps.c4Rules(t.toString).map(_.asInstanceOf[Any]))
  }

  val repetitionEvals = new java.util.concurrent.atomic.AtomicLong

  /** Gopher-family repetition signals (duplicate line/paragraph counts
    * + chars, top 2/3/4-gram char mass) in ONE text pass per row; the
    * caller derives the drop fractions. Definitions + oracle notes:
    * TextOps.repetition. */
  def repetition(t: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    repetitionEvals.incrementAndGet()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      TextOps.repetition(t.toString).map(_.asInstanceOf[Any]))
  }

  /** dup_lines·a <= lines·b && top2_chars·c <= token_chars in one
    * kernel pass (indices 1/0/7/6 of TextOps.repetition). Filtering on
    * getFields of the graft_repetition struct re-evaluates the kernel
    * per field access once the filter predicates collapse (measured 6.6
    * evals/row in the q_clean_pipeline shape; projection access stays at
    * 1). Counter-pinned in PlanSpec via repetitionEvals. */
  def repetitionOk(t: UTF8String, a: Int, b: Int, c: Int): Boolean = {
    repetitionEvals.incrementAndGet()
    val r = TextOps.repetition(t.toString)
    r(1).toLong * a <= r(0).toLong * b && r(7).toLong * c <= r(6).toLong
  }

  /** Real BPE token count: true iterative byte-pair encoding over the
    * in-repo trained merge table (graft.ops.Bpe). */
  def bpeCount(t: UTF8String): Int = graft.ops.Bpe.count(t.toString)
  /** The space-joined BPE token stream (same trained table as the
    * count), the surface a training pipeline feeds to packing. */
  def bpeTokens(t: UTF8String): UTF8String =
    UTF8String.fromString(graft.ops.Bpe.encode(t.toString))

  /** Trained hashed-bigram quality model (graft.ops.QualityModel):
    * struct(score BIGINT, n_bigrams INT) in ONE tokenization pass — the
    * 256-bucket integer perceptron trained at class load. Consume via
    * PROJECTION only (the graft_repetition struct-filter lesson); gate
    * with `score > 0` on the projected column. */
  val qualityModelStructType: StructType = StructType(Seq(
    StructField("score", LongType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false)))

  val qualityModelEvals = new java.util.concurrent.atomic.AtomicLong

  def qualityModel(t: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    qualityModelEvals.incrementAndGet()
    val toks = graft.ops.TextNorm.tokens(
      graft.ops.TextNorm.asciiLower(t.toString))
    var s = graft.ops.QualityModel.bias
    var i = 0
    while (i + 1 < toks.length) {
      s += graft.ops.QualityModel.weights(
        graft.ops.QualityModel.bucket(toks(i) + " " + toks(i + 1)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s, math.max(toks.length - 1, 0)))
  }

  /** Scalar score for FILTER use (one eval in the predicate; the
    * struct variant in a filter would re-eval per collapsed getField —
    * the graft_repetition_ok lesson). */
  def qualityScore(t: UTF8String): Long = {
    qualityModelEvals.incrementAndGet()
    graft.ops.QualityModel.score(t.toString)
  }

  val ngramsEvals = new java.util.concurrent.atomic.AtomicLong

  /** array<struct<start:int, len:int>> of [[cdcChunks]]. */
  val cdcChunkArrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))), containsNull = false)

  /** Content-defined chunk spans (one pass per row): walk CODEPOINTS
    * (the canonical length alphabet) keeping a window of the last 4,
    * cut after position i (1-based) when the window's polynomial hash
    * c₀·31³ + c₁·31² + c₂·31 + c₃ ≡ 0 (mod modulus) — every position's
    * hash is a PURE function of 4 codepoints (no incremental state),
    * which is what makes the boundary set SQL-replayable positionally
    * AND chunk identity stable under edits (an insertion moves only
    * the boundaries whose windows it touches — the CDC property).
    * Values stay exact everywhere: cp ≤ 0x10FFFF ⇒ h < 2³⁶ (exact
    * BIGINT on both engines). No min/max chunk-length clamps — those
    * are stateful (each cut depends on the previous), which would
    * break positional replay; cut density is tuned by modulus alone.
    * Emits struct(start, len) in codepoint units, 1-based; empty
    * input → empty array; a trailing remainder always closes. */
  def cdcChunks(t: UTF8String, modulus: Int): ArrayData = {
    val s = t.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var c0 = 0L; var c1 = 0L; var c2 = 0L; var c3 = 0L
    var cpIdx = 0
    var start = 1
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      ci += Character.charCount(cp)
      cpIdx += 1
      c0 = c1; c1 = c2; c2 = c3; c3 = cp.toLong
      if (cpIdx >= 4) {
        val h = c0 * 29791L + c1 * 961L + c2 * 31L + c3
        if (h % modulus == 0L) {
          out += org.apache.spark.sql.catalyst.InternalRow(
            start, cpIdx - start + 1)
          start = cpIdx + 1
        }
      }
    }
    if (start <= cpIdx)
      out += org.apache.spark.sql.catalyst.InternalRow(
        start, cpIdx - start + 1)
    new GenericArrayData(out.toArray)
  }

  /** Whitespace-token n-gram strings in ONE pass per row — bit-equal to
    * `transform(sequence(1, size(tk)-(n-1)), i -> array_join(slice(tk,
    * i, n), ' '))` over `tk = TextNorm.tokensCol(TextNorm.lowerCol(
    * text))`, which the DuckDB oracles replay through
    * TextNorm.sqlTokens/sqlLower (round 6: the canonical explicit-class
    * alphabet — Java `\s`/trim/toLowerCase diverge from RE2/DuckDB on
    * VT, control bytes, and Greek/Turkish case). The built-in
    * formulation is a correctness twin but a performance trap: the
    * higher-order lambda body re-evaluates its inlined token-array
    * subtree PER ELEMENT under interpreted HOF eval (measured 41× on
    * 13-grams — the q_decontam 16 s cliff), while this kernel tokenizes
    * once and reuses one StringBuilder. */
  def ngrams(t: UTF8String, n: Int): ArrayData = {
    ngramsEvals.incrementAndGet()
    val toks = graft.ops.TextNorm.tokens(
      graft.ops.TextNorm.asciiLower(t.toString))
    val count = toks.length - (n - 1)
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}
