package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines. Everything that
  * can be a built-in-function composition IS one (codegen'd, no UDF);
  * the heuristics that need JVM logic (langid, fingerprints, hashes)
  * are deterministic scalar UDFs kept off the extract hot path. */
object TextOps {

  /** Whitespace token count over the canonical alphabet (TextNorm);
    * total: null/empty/ws-only → 0. */
  def tokenCount(c: Column): Column = TextNorm.tokenCountCol(c)

  /** BPE-ish subword count: camel-case pieces + letter runs + digit runs
    * (regex approximation of byte-pair tokenizer granularity). The
    * pattern is lookaround-free on purpose: the DuckDB oracle replays it
    * through RE2 (`regexp_extract_all`), which rejects lookarounds. */
  val subwordPattern = "[A-Z][a-z]*|[a-z]+|[0-9]+"
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit(subwordPattern), lit(0))).cast("long")

  def charCount(c: Column): Column = length(c).cast("long")

  def uniqueTokenCount(c: Column): Column =
    when(c.isNull, lit(0L))
      .otherwise(size(array_distinct(TextNorm.tokensCol(c))).cast("long"))

  /** Quality-scoring signals (integer outputs — oracle-stable). */
  def alphaChars(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z]", "")).cast("long")
  def digitChars(c: Column): Column =
    length(regexp_replace(c, "[^0-9]", "")).cast("long")
  def punctChars(c: Column): Column =
    length(regexp_replace(c, "[^.,;:!?'\"()\\[\\]-]", "")).cast("long")

  /** Composite quality score in [0,100]: length + alpha-ratio +
    * mean-word-length sanity (a cheap C4/Gopher-style filter).
    * Pure integer arithmetic by design — the score hash-matches a DuckDB
    * oracle exactly, with no float-rounding edge cases (CLAUDE.md rule:
    * int/string outputs for oracle queries). */
  def qualityScore(c: Column): Column = {
    val toks = tokenCount(c)
    val chars = charCount(c)
    // length component: min(chars/125, 40)   (chars=5000 saturates at 40)
    val lenScore = least(floor(chars / lit(125)).cast("long"), lit(40L))
    // alpha-ratio component: floor(alpha*40/chars) in [0,40]
    val alphaScore = floor(alphaChars(c) * lit(40) / greatest(chars, lit(1L))).cast("long")
    // mean-word-length sanity: 3 <= chars/tokens <= 12  (integer bounds)
    val wordScore = when(toks > 0 && chars >= toks * 3 && chars <= toks * 12,
      lit(20L)).otherwise(lit(0L))
    lenScore + alphaScore + wordScore
  }

  /** Compression-ratio quality signal: deflated size / raw UTF-8 size,
    * in permille (int output per the oracle discipline, though this one
    * is unit-test-pinned — DuckDB cannot replay deflate). The standard
    * cheap repetition detector for training corpora: boilerplate /
    * keyword-stuffed / template pages compress far below natural prose.
    * Level 6 (zlib default) for cross-run determinism; empty → 1000. */
  def compressRatioPermille(text: String): Int = {
    if (text == null || text.isEmpty) return 1000
    val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw); d.finish()
    var total = 0L
    val buf = new Array[Byte](8192)
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    math.min((total * 1000L / raw.length).toInt, 1000)
  }

  // ------------------------------------------------------------- langid

  /** Ordered (tie-break = first wins) so the decision is exactly
    * replayable in SQL: score_X computed per language, winner = first
    * language in this order whose score equals the positive maximum. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " to ", " is "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " nicht "),
    "fr" -> Seq(" le ", " la ", " et ", " est ", " les "),
    "es" -> Seq(" el ", " la ", " y ", " es ", " los "),
    "zh" -> Seq("的", "是", "不", "了", "在")
  )

  /** n-gram/stopword language-ID heuristic (the public fastText-style
    * marker approach compressed to 5 langs; returns "und" when nothing
    * scores). Marker occurrences are counted NON-overlapping (left to
    * right, advance by marker length) — the same count SQL `replace`
    * length-arithmetic produces, so a DuckDB oracle can replay the
    * decision byte-for-byte. Deterministic; registered as `graft_lang_id`. */
  def langIdHeuristic(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val padded = " " + TextNorm.asciiLower(text) + " "
    var best = "und"
    var bestScore = 0
    markers.foreach { case (lang, ms) =>
      var score = 0
      ms.foreach { m =>
        var i = padded.indexOf(m)
        while (i >= 0) { score += 1; i = padded.indexOf(m, i + m.length) }
      }
      if (score > bestScore) { bestScore = score; best = lang }
    }
    best
  }

  // --------------------------------------------------------- demojibake

  /** Mojibake repair — UTF-8 text that was decoded as Latin-1 upstream
    * ("é" rendered as "Ã©", the single most common web-corpus encoding
    * corruption). Rule (shared with Pdf.text's literal-string
    * re-decode — one algorithm, two surfaces): the string is a repair
    * CANDIDATE only when it is a PURE byte view (every char <= 0xFF,
    * at least one >= 0x80); if its Latin-1 bytes are STRICTLY valid
    * UTF-8, present them as UTF-8, else keep the original. Total —
    * never throws; plain ASCII and already-Unicode text pass through
    * untouched (real accented Latin-1 like a lone 0xE9 is invalid
    * UTF-8, so it survives — the false-positive guard). */
  def demojibake(s: String): String = {
    if (s == null) return null
    var has8 = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c > 0xFF) return s
      if (c >= 0x80) has8 = true
      i += 1
    }
    if (!has8) return s
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    try java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch { case _: java.nio.charset.CharacterCodingException => s }
  }

  // -------------------------------------------------------- fingerprint

  /** 64-bit rolling (polynomial) document fingerprint over normalized
    * tokens — stable under whitespace differences. Canonical alphabet
    * (TextNorm): ws = the explicit RE2 set, lower = ASCII-only, and the
    * walk is over CODE POINTS (the DuckDB oracle replays with
    * regexp_split_to_array(s,'') + ord(c), which are codepoint-wise —
    * UTF-16 surrogate pairs must hash as one value, not two). */
  def fingerprint64(text: String): Long = {
    if (text == null) return 0L
    var h = 1125899906842597L
    var i = 0
    var prevSpace = true
    val n = text.length
    while (i < n) {
      val cp0 = text.codePointAt(i)
      val isSpace = cp0 < 0x80 && TextNorm.isWs(cp0.toChar)
      if (!isSpace) {
        val cp = if (cp0 >= 'A' && cp0 <= 'Z') cp0 + 32 else cp0
        h = h * 31 + cp
      } else if (!prevSpace) h = h * 31 + ' '
      prevSpace = isSpace
      i += Character.charCount(cp0)
    }
    h
  }

  /** 64-bit SimHash over 3-word shingles. Shingling mirrors `minhash`
    * exactly: for <3 tokens the single shingle is the whole token run —
    * one-word docs hash that word instead of collapsing to signature 0
    * (round-1 ADVICE: all one-word docs used to alias to 0 and report
    * each other as hamming-0 near-duplicates). */
  def simhash64(text: String): Long = {
    if (text == null || text.isEmpty) return 0L
    val toks = TextNorm.tokens(TextNorm.asciiLower(text))
    if (toks.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    val last = math.max(toks.length - 2, 1)
    while (i < last) {
      val end = math.min(i + 3, toks.length)
      val shingle = toks.slice(i, end).mkString(" ")
      val h = scala.util.hashing.MurmurHash3.stringHash(shingle).toLong * 0x9E3779B97F4A7C15L
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** MinHash signature: k permutation-hashes over 3-word shingles
    * (standard a*h+b mod p family, seeded — public MMDS construction). */
  /** Per-k permutation constants (seeded affine family; splitmix of j) —
    * hoisted out of the per-shingle loop and cached per k: the k×shingles
    * inner loop is the hottest arithmetic in the dedup family. Values are
    * IDENTICAL to the inline computation they replace (signatures are
    * pinned by oracles — the hoist must not move a single bit). */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def perms(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, k2 => {
      val as = new Array[Long](k2)
      val bs = new Array[Long](k2)
      var j = 0
      while (j < k2) {
        var z = (j + 1).toLong * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        as(j) = (z | 1L) & 0x3FFFFFFFFFFFFFFFL
        bs(j) = (z >>> 13) & 0x3FFFFFFFFFFFFFFFL
        j += 1
      }
      (as, bs)
    })

  def minhash(text: String, k: Int = 64): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    if (text == null) return sig
    val toks = TextNorm.tokens(TextNorm.asciiLower(text))
    if (toks.length == 0) return sig
    val prime = 2305843009213693951L // 2^61 - 1
    val (as, bs) = perms(k)
    var i = 0
    val last = math.max(toks.length - 2, 1)
    while (i < last) {
      val end = math.min(i + 3, toks.length)
      val shingle = toks.slice(i, end).mkString(" ")
      val h = scala.util.hashing.MurmurHash3.stringHash(shingle).toLong & 0x7FFFFFFFFFFFFFFFL
      val hm = h % prime
      var j = 0
      while (j < k) {
        val v = (as(j) * hm + bs(j)) % prime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Normalize for character shingling: canonical lower/trim, collapse
    * canonical-ws runs — SQL-replayable as
    * regexp_replace(sqlLower(sqlTrim(s)), wsClass, ' ', 'g') (TextNorm). */
  private def shingleNorm(text: String): String =
    TextNorm.trimWs(TextNorm.asciiLower(text))
      .replaceAll(TextNorm.wsClass, " ")

  /** MinHash over CHARACTER n-grams — the whitespace-free-script path
    * (CJK, Thai, …) where token shingling degenerates to whole-sentence
    * tokens. Same permutation family and banding contract as `minhash`;
    * texts shorter than n contribute one whole-text shingle. */
  def minhashShingle(text: String, k: Int, n: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    if (text == null) return sig
    val s = shingleNorm(text)
    if (s.isEmpty) return sig
    val prime = 2305843009213693951L // 2^61 - 1
    val (as, bs) = perms(k)
    val last = math.max(s.length - n, 0)
    var i = 0
    while (i <= last) {
      val shingle = s.substring(i, math.min(i + n, s.length))
      val h = scala.util.hashing.MurmurHash3.stringHash(shingle).toLong & 0x7FFFFFFFFFFFFFFFL
      val hm = h % prime
      var j = 0
      while (j < k) {
        val v = (as(j) * hm + bs(j)) % prime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Exact Jaccard over character n-gram SETS (the shingle verify
    * kernel; same normalization as minhashShingle). */
  def jaccardShingles(a: String, b: String, n: Int): Double = {
    if (a == null || b == null) return 0.0
    def sh(t: String): Set[String] = {
      val s = shingleNorm(t)
      if (s.isEmpty) Set.empty
      else (0 to math.max(s.length - n, 0))
        .map(i => s.substring(i, math.min(i + n, s.length))).toSet
    }
    val sa = sh(a); val sb = sh(b)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    val inter = sa.intersect(sb).size
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Exact token-set Jaccard similarity. */
  def jaccardTokens(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val sa = TextNorm.tokens(TextNorm.asciiLower(a)).toSet
    val sb = TextNorm.tokens(TextNorm.asciiLower(b)).toSet
    if (sa.isEmpty && sb.isEmpty) return 1.0
    val inter = sa.intersect(sb).size
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Gopher-style repetition signals — the strongest crawl-junk
    * predictors `qualityScore` alone does not cover (a page can be
    * long, alphabetic, and word-shaped while repeating one nav block
    * fifty times; these signals catch exactly that). One pass over the
    * text, pure INTEGER outputs (the oracle discipline — fractions are
    * computed by the caller from the ints):
    *
    *   0 lines           non-empty lines (trim+lower normalized)
    *   1 dup_lines       line occurrences beyond each first one
    *   2 line_chars      total codepoints over normalized lines
    *   3 dup_line_chars  codepoints in the duplicate occurrences
    *   4 paras           non-empty paragraphs (split on blank lines)
    *   5 dup_paras       paragraph occurrences beyond the first
    *   6 token_chars     codepoints of the space-joined token stream
    *   7 top2_chars      count x codepoints of the MOST FREQUENT word
    *   8 top3_chars        2/3/4-gram (tie-break: lexicographically
    *   9 top4_chars        smallest gram)
    *
    * All lengths are Unicode CODE POINTS (DuckDB length() semantics,
    * not UTF-16 units), so the DuckDB oracle replays every number.
    * Typical thresholds (Gopher): drop when dup_line_frac > 0.30,
    * dup_para_frac > 0.30, top2_chars/token_chars > 0.20. */
  def repetition(text: String): Array[Int] = {
    def cp(s: String): Int = s.codePointCount(0, s.length)
    def dupStats(units: Array[String]): (Int, Int, Int, Int) = {
      val seen = new java.util.HashSet[String]()
      var total = 0; var chars = 0; var dup = 0; var dupChars = 0
      var i = 0
      while (i < units.length) {
        val u = units(i); val c = cp(u)
        total += 1; chars += c
        if (!seen.add(u)) { dup += 1; dupChars += c }
        i += 1
      }
      (total, dup, chars, dupChars)
    }
    // canonical alphabet throughout (TextNorm): explicit ws class, both-
    // ends canonical trim, ASCII-only lower — all DuckDB-replayable
    val lines = text.split("\n", -1)
      .map(l => TextNorm.asciiLower(TextNorm.trimWs(l))).filter(_.nonEmpty)
    val (ln, dln, lch, dlch) = dupStats(lines)
    val paras = text.split("\n{2,}", -1)
      .map(p => TextNorm.asciiLower(TextNorm.trimWs(p))).filter(_.nonEmpty)
    val (pn, dpn, _, _) = dupStats(paras)
    val toks = TextNorm.tokens(TextNorm.asciiLower(text))
    val tokenChars =
      if (toks.isEmpty) 0 else toks.map(cp).sum + toks.length - 1
    def topN(n: Int): Int = {
      if (toks.length < n) return 0
      val counts = new java.util.HashMap[String, Integer]()
      var best: String = null; var bestC = 0
      var i = 0
      while (i + n <= toks.length) {
        val g = toks.slice(i, i + n).mkString(" ")
        val c: Int = counts.merge(g, 1, (a, b) => a + b)
        if (c > bestC || (c == bestC && TextNorm.cpCompare(g, best) < 0)) {
          bestC = c; best = g
        }
        i += 1
      }
      bestC * cp(best)
    }
    Array(ln, dln, lch, dlch, pn, dpn, tokenChars, topN(2), topN(3), topN(4))
  }

  private val gopherStop: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("the", "be", "to", "of", "and", "that", "have", "with").foreach(s.add)
    s
  }

  /** C4 + Gopher filter-battery counters — the published page-cleaning
    * rules (C4: Raffel et al. 2020 §2.2 terminal-punctuation lines,
    * lorem-ipsum and curly-brace page flags; Gopher: Rae et al. 2021
    * §A1.1.2 bullet/ellipsis line ratios, alpha-word ratio, stop-word
    * presence) as ONE text pass of pure INTEGER outputs; callers derive
    * the drop booleans by integer cross-multiplication (the oracle
    * discipline). Canonical alphabet throughout (TextNorm): lines split
    * on LF then canon-trimmed (CR trims off — CRLF needs no prenorm),
    * tokens the canon split, lower the ASCII-only lower. Last/first
    * char tests are UTF-16 unit vs codepoint SAFE: the targets are BMP,
    * and a surrogate half never equals one.
    *
    *   0 lines           non-empty canon-trimmed lines
    *   1 kept_lines      lines ending in . ! ? or " (C4 keeps these)
    *   2 bullet_lines    lines starting with - * or U+2022 (Gopher)
    *   3 ellipsis_lines  lines ending with "..." or U+2026 (Gopher)
    *   4 words           canonical tokens
    *   5 alpha_words     tokens containing an ASCII letter (Gopher)
    *   6 stop_hits       lowered tokens in the 8-word Gopher stop set
    *   7 lorem           1 if lowered text contains "lorem ipsum" (C4)
    *   8 brace           1 if text contains '{' (C4)
    */
  def c4Rules(text: String): Array[Int] = {
    var lines = 0; var kept = 0; var bullet = 0; var ellipsis = 0
    text.split("\n", -1).foreach { raw =>
      val l = TextNorm.trimWs(raw)
      if (l.nonEmpty) {
        lines += 1
        val last = l.charAt(l.length - 1)
        if (last == '.' || last == '!' || last == '?' || last == '"') kept += 1
        val first = l.charAt(0)
        if (first == '-' || first == '*' || first == '•') bullet += 1
        if (l.endsWith("...") || last == '…') ellipsis += 1
      }
    }
    val toks = TextNorm.tokens(text)
    var alpha = 0; var stopHits = 0
    toks.foreach { t =>
      var hasA = false
      var i = 0
      while (i < t.length && !hasA) {
        val c = t.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasA = true
        i += 1
      }
      if (hasA) alpha += 1
      if (gopherStop.contains(TextNorm.asciiLower(t))) stopHits += 1
    }
    val lorem = if (TextNorm.asciiLower(text).contains("lorem ipsum")) 1 else 0
    val brace = if (text.indexOf('{') >= 0) 1 else 0
    Array(lines, kept, bullet, ellipsis, toks.length, alpha, stopHits, lorem, brace)
  }

  /** The graft_* SQL names above are native Catalyst expressions since
    * round 3 (graft.spark.TextExprs — one static call per row inside
    * whole-stage codegen, replacing the Scala-UDF registrations that
    * used to live here). Registration is one table: GraftSql.entries. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.graft.GraftSql.registerAll(spark)

  /** Corpus-aware distinctive terms — TF-IDF-style keyword extraction
    * with an INTEGER-EXACT ordering so the whole ranking is
    * hash-oracleable: per document, the top-k tokens ordered by
    * document frequency ascending (rarest-in-corpus first), then term
    * frequency descending, then token ascending. No floating-point IDF
    * — (df asc, tf desc) is order-equivalent to tf·idf ranking for
    * fixed tf and strictly stabler under hashing.
    *
    * Scale shape: tokens → per-(doc, token) counts (one map-side-
    * combined shuffle), then ONE repartition on the token feeds both
    * the document-frequency aggregate and the tf×df join (the
    * exchange-sharing discipline), then a per-doc bounded
    * sort/slice — the candidate array is bounded by the DOCUMENT's
    * distinct-token count, never by corpus size; a corpus-wide hot
    * token costs one df row. Returns (id, term, tf, df, rank). */
  /** Sentence segmentation as a pure built-in composition — each
    * sentence is a maximal run of non-terminators plus its trailing
    * `[.!?]+` (a terminator-less tail is its own sentence), trimmed,
    * empties dropped. Deliberately lookaround-free (the Pii
    * discipline) so Java regex and DuckDB RE2 agree and the whole
    * segmentation is oracle-replayable; abbreviation handling is
    * documented out of scope (it needs a dictionary, not a regex). */
  def sentences(c: Column): Column =
    // TextNorm.trimCol, NOT trim(): DuckDB's default trim set includes
    // NBSP (Spark's is space-only) — the canonical explicit set is the
    // only trim both engines replay identically
    filter(transform(regexp_extract_all(c, lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0)),
      s => TextNorm.trimCol(s)), s => s =!= "")

  /** Per-doc sentence stats for quality filtering: count, total chars
    * across trimmed sentences, max sentence chars — all integers. */
  def sentenceStats(c: Column): Column = {
    val ss = sentences(c)
    struct(size(ss).cast("long").as("n_sentences"),
      coalesce(aggregate(ss, lit(0L), (acc, s) => acc + length(s)), lit(0L))
        .as("sentence_chars"),
      coalesce(aggregate(ss, lit(0L), (acc, s) => greatest(acc, length(s).cast("long"))),
        lit(0L)).as("max_sentence_chars"))
  }

  /** The mixture report a training pipeline prints before a run: per
    * group (language, source, domain …) doc count, total/max canonical
    * token counts, total codepoints. ONE map-side-combined aggregate —
    * at 100 TB this is a single narrow pass; null groups report under
    * 'und' (the langid convention), never as a silent null row. All
    * integer outputs (oracle discipline). */
  def corpusReport(df: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val toks = TextNorm.tokenCountCol(col(textCol))
    df.groupBy(coalesce(col(groupCol), lit("und")).as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(toks).as("total_tokens"),
        sum(coalesce(length(col(textCol)).cast("long"), lit(0L))).as("total_chars"),
        max(toks).as("max_tokens"))
  }

  /** Token-length histogram with fixed integer bucket edges (bucket_lo
    * = floor(tokens/width)·width) — the length-distribution check that
    * decides packing budgets and truncation caps. Exact integers, one
    * aggregate, no percentile sketch to hash-mismatch. */
  def lengthHistogram(df: DataFrame, textCol: String, width: Long): DataFrame = {
    require(width >= 1, s"bucket width must be >= 1: $width")
    df.groupBy((floor(TextNorm.tokenCountCol(col(textCol)) / width) * width)
        .cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
  }

  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3): DataFrame = {
    require(k >= 1, s"top-k must be >= 1: $k")
    registerAll(df.sparkSession)
    // explode_OUTER + post-filter: non-outer generates get size/isnotnull
    // filters inferred with the kernel substituted in (2-3 evals/row)
    val toks = df.select(col(idCol).as("id"),
        explode_outer(call_function("graft_ngrams", col(textCol), lit(1))).as("tok"))
      .filter(col("tok").isNotNull)
    // compact (id, tok, tf) snapshot: df-aggregate and tf×df join prune
    // the shared subtree differently → no exchange reuse → the token
    // generation re-ran 2× without it (ngramsEvals counter)
    val keyed = Snapshot(toks.groupBy("id", "tok").agg(count(lit(1)).as("tf")))
    val dfs = keyed.groupBy("tok").agg(count(lit(1)).as("df"))
    keyed.join(dfs, "tok")
      .groupBy("id")
      .agg(slice(sort_array(collect_list(
        struct(col("df"), (-col("tf")).as("ntf"), col("tok")))), 1, k).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id"), col("t.tok").as("term"), (-col("t.ntf")).as("tf"),
        col("t.df").as("df"), (col("r") + 1).cast("int").as("rank"))
  }

  /** Capped inverted index — the retrieval-side artifact a search or
    * decontamination pipeline builds: for every canonical token
    * (graft_ngrams(·,1) alphabet, per-doc DISTINCT via array_distinct
    * BEFORE the explode so dedup costs no extra shuffle), its document
    * frequency and the first `k` doc ids ascending. `minDf`/`maxDf`
    * bound the postings kept: minDf cuts hapax noise, maxDf cuts
    * stopwords (at corpus scale a stopword's full posting list IS the
    * corpus — the cap is what keeps the index linear in |distinct
    * tokens|, not |corpus|).
    *
    * Scale shape: ONE token shuffle — df count and the bounded size-k
    * posting buffer ([[TopK.TopKAgg]] with a constant score, so the
    * strict order is plain ascending id — exact for every long, no
    * double rounding) combine map-side in the same aggregate; only
    * |tokens|·(k+1) rows cross the wire. Never a row_number window
    * over the exploded corpus.
    *
    * Output rows: (token, df BIGINT, doc_id, rank INT ≤ k) — exploded,
    * not array-valued, so it joins/replays relationally. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    k: Int, minDf: Long, maxDf: Long): DataFrame = {
    import org.apache.spark.sql.Encoders
    require(k >= 1, s"postings cap must be >= 1: $k")
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf: minDf=$minDf maxDf=$maxDf")
    registerAll(df.sparkSession)
    val toks = df.select(col(idCol).as("doc_id"),
        explode_outer(array_distinct(call_function("graft_ngrams", col(textCol), lit(1)))).as("token"))
      .filter(col("token").isNotNull)
    val topIds = udaf(new TopK.TopKAgg(k), Encoders.product[TopK.Scored])
    toks.groupBy("token")
      .agg(count(lit(1)).as("df"),
        topIds(col("doc_id").cast("long"), lit(0.0)).as("top"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("token"), col("df"),
        posexplode(col("top.items")).as(Seq("pos", "s")))
      .select(col("token"), col("df"), col("s.vec_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Single-term BM25 retrieval over the canonical token alphabet
    * (graft_ngrams(·,1)) — the lexical-search counterpart of the ANN
    * family (RAG's hybrid-retrieval second leg). k1 = 1.2, b = 0.75
    * folded into ONE exact integer ratio per (query, doc):
    *
    *   idf·sat = (2N − 2df + 1)·22·TT·tf
    *             ─────────────────────────────────────
    *             (2df + 1)·(10·TT·tf + 3·TT + 9·dl·N)
    *
    * (rational Lucene-style idf (N−df+½)/(df+½) — never negative — and
    * the k1/b saturation with avgdl = TT/N cleared of fractions). The
    * numerator and denominator are exact BIGINTs on both engines and
    * the score is ONE double division of <2^53 integers — exactly
    * rounded IEEE, so DuckDB replays it bit-for-bit with no libm call
    * anywhere (ln-based idf would be the cross-engine hazard). Callers
    * must keep N·TT·tf_max under 2^53/22 — at larger corpus scale,
    * shard the index and re-rank the per-shard top-k.
    *
    * One term per queries row (the oracle-able unit — multi-term
    * queries union rows and re-rank downstream). Scale shape: the
    * (small) query side broadcasts into the df/posting joins; ranking
    * is the bounded TopK aggregator, never a corpus window. */
  def bm25(df0: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, qidCol: String, termCol: String,
           k: Int = 10): DataFrame = {
    val scored = bm25ScoredTerms(df0, idCol, textCol, queries, qidCol, termCol)
      .select(col("query_id"), col("vec_id"), col("cosine"))
    TopK.perQueryTopK(scored, k)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("cosine").as("score"), col("rank"))
  }

  /** Per-(query, term, doc) exact-ratio BM25 scores — the shared core
    * of [[bm25]] / [[bm25Multi]]. Output: (query_id, tok, vec_id,
    * cosine) with cosine the single exactly-rounded division. */
  private def bm25ScoredTerms(df0: DataFrame, idCol: String, textCol: String,
                              queries: DataFrame, qidCol: String,
                              termCol: String): DataFrame = {
    registerAll(df0.sparkSession)
    val toks = df0.select(col(idCol).as("doc_id"),
        explode_outer(call_function("graft_ngrams", col(textCol), lit(1))).as("tok"))
      .filter(col("tok").isNotNull)
    val keyed = Snapshot(toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val dls = keyed.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfs = keyed.groupBy("tok").agg(count(lit(1)).as("df"))
    val const = dls.agg(count(lit(1)).as("nd"), sum("dl").as("tt"))
    val q = queries.select(col(qidCol).as("query_id"), col(termCol).as("tok"))
    val cand = dfs.join(broadcast(q), "tok")
      .join(keyed, "tok")
      .join(dls, "doc_id")
      .join(broadcast(const))
    val num = (lit(2L) * col("nd") - lit(2L) * col("df") + lit(1L)) *
      lit(22L) * col("tt") * col("tf")
    val den = (lit(2L) * col("df") + lit(1L)) *
      (lit(10L) * col("tt") * col("tf") + lit(3L) * col("tt") +
        lit(9L) * col("dl") * col("nd"))
    cand.select(col("query_id"), col("tok"), col("doc_id").as("vec_id"),
      (num.cast("double") / den.cast("double")).as("cosine"))
  }

  /** Multi-term BM25: per-document score = the sum of per-term exact
    * ratios, folded in SORTED TERM ORDER — collect the (term, score)
    * structs, sort_array (terms are distinct per query, so the sort is
    * total), and left-fold from 0.0. Both engines add the SAME doubles
    * in the SAME order, and 0.0 + x == x exactly for the positive
    * scores, so the sum replays bit-for-bit (an unordered SUM() would
    * be the nondeterminism the single-term form avoids — this is the
    * documented multi-term answer). `matched` = how many query terms
    * hit the doc. Duplicate query terms must be deduped upstream
    * (DISTINCT rows) — a repeated term would double-count. */
  def bm25Multi(df0: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, qidCol: String, termCol: String,
                k: Int = 10): DataFrame = {
    val scored = bm25ScoredTerms(df0, idCol, textCol, queries, qidCol, termCol)
    val folded = Snapshot(scored.groupBy("query_id", "vec_id")
      .agg(sort_array(collect_list(struct(col("tok"), col("cosine")))).as("ts"))
      .select(col("query_id"), col("vec_id"),
        aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x.getField("cosine")).as("cosine"),
        size(col("ts")).as("matched")))
    TopK.perQueryTopK(folded.select("query_id", "vec_id", "cosine"), k)
      .join(folded.select(col("query_id"), col("vec_id"), col("matched")),
        Seq("query_id", "vec_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("cosine").as("score"), col("matched"), col("rank"))
  }
}
