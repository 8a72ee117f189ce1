package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything expressible with `org.apache.spark.sql.functions` stays a
  * native (codegen'd) column expression; only genuinely procedural logic
  * (language profiles, rolling hashes) uses Scala UDFs — still JVM-native,
  * no serialization boundary. All functions are deterministic.
  */
object TextFunctions {

  /** whitespace tokens; single-space-joined corpora keep exact counts */
  def tokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword token estimate: words + punctuation + digit runs.
    * A real BPE vocab is model-specific; this regex count is the standard
    * scale-stable proxy (chars-per-token calibration). */
  def subwordTokenEstimate(c: Column): Column =
    size(split(regexp_replace(c, "([\\p{Punct}])", " $1 "), "\\s+"))

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** fraction of tokens that are stopwords — native codegen'd set-probe
    * expression (occurrence-counting; see CountInSetExpression).
    *
    * Branch-free on purpose: a `when(size(toks)===0, ...)` guard blocks
    * common-subexpression elimination of the `split` shared with the
    * other quality terms (conditional branches evaluate lazily, so CSE
    * can't hoist them); `greatest(n, 1)` gives the same 0.0 for the
    * degenerate case without splitting the expression tree. `split`
    * never returns an empty array anyway (empty text → [""]). */
  def stopwordRatio(c: Column, stopwords: Seq[String] = StopwordsEn): Column = {
    val toks = tokens(c)
    graft.plans.CountInSetExpression.countInSet(toks, stopwords)
      .cast("double") / greatest(size(toks), lit(1))
  }

  /** punctuation characters / total characters (branch-free, see
    * stopwordRatio) */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "\\p{Punct}", ""))).cast("double") /
      greatest(length(c), lit(1))

  /** mean token length in characters (single-space-joined text) */
  def meanTokenLength(c: Column): Column = {
    val n = tokenCount(c)
    (length(c) - n + 1).cast("double") / greatest(n, lit(1))
  }

  /** Composite document quality score in [0,1]; formula is deliberately
    * SQL-replicable (see TextQueries oracle) so it stays verifiable.
    *
    * 4-decimal quantization uses floor(x*1e4+0.5)/1e4 instead of round():
    * Spark's round() rounds the double's shortest DECIMAL representation
    * (BigDecimal.valueOf) while DuckDB rounds the BINARY value, so raw
    * scores landing on a half boundary (e.g. 0.48925) split between
    * engines; the floor form is pure IEEE arithmetic — bit-identical
    * everywhere. */
  def qualityScore(c: Column): Column =
    floor((
      least(tokenCount(c).cast("double") / 100.0, lit(1.0)) * 0.4 +
      least(stopwordRatio(c) * 5.0, lit(1.0)) * 0.3 +
      least(meanTokenLength(c) / 8.0, lit(1.0)) * 0.3 -
      punctRatio(c) * 0.2) * 10000.0 + 0.5) / 10000.0

  // ---- normalization / scrubbing (C4-style pre-dedup cleanup) ---------

  /** Dedup-normalization: lowercase, strip ASCII punctuation, collapse
    * whitespace runs, trim. The canonical key for exact/near dedup of
    * texts differing only in case/punctuation/spacing. Regexes are
    * deliberately RE2-compatible (no backrefs/lookaround) so the DuckDB
    * oracle replays them verbatim. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "\\p{Punct}", ""), "\\s+", " "))

  /** The standard high-precision curation PII regexes — RE2-safe (no
    * lookaround), so the SAME pattern strings run in Spark (Java regex)
    * and any RE2 engine (DuckDB replays them in t29). Shared by
    * [[scrubPii]] (redaction) and [[piiCensus]] (detection counts). */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiSsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PiiPhoneRe = "(\\(\\d{3}\\) ?|\\d{3}[-. ])\\d{3}[-. ]\\d{4}"
  val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiNumRe = "\\d{9,}"

  /** PII scrubbing: emails, SSN-shaped ids, phone-shaped numbers
    * (dashed/dotted/spaced and parenthesized-area-code forms), IPv4
    * literals, then any remaining 9+-digit runs → typed placeholders.
    * Order matters: SSN's 3-2-4 shape must go before the 3-3-4 phone
    * (a phone's middle group is 3 digits, so the patterns cannot bite
    * each other — PipelineSpec pins it), and both before bare digit
    * runs. */
  def scrubPii(c: Column): Column = {
    val email = regexp_replace(c, PiiEmailRe, "<EMAIL>")
    val ssn = regexp_replace(email, PiiSsnRe, "<SSN>")
    val phone = regexp_replace(ssn, PiiPhoneRe, "<PHONE>")
    val ip = regexp_replace(phone, PiiIpRe, "<IP>")
    regexp_replace(ip, PiiNumRe, "<NUM>")
  }

  /** Per-type PII match counts `(n_email, n_ssn, n_phone, n_ip,
    * n_digit9)` — the detection side of the PII pass: route documents
    * to redaction / quarantine by count, and audit a corpus's PII
    * density per source before training (gate t29 hash-verifies counts
    * AND the redacted text against an independent engine's replay).
    * Counts are over the RAW text (phone/ip/digit-run counts are not
    * suppressed by an earlier replacement, unlike the scrub chain's
    * sequencing). */
  def piiCensus(c: Column): Column = struct(
    regexp_count(c, lit(PiiEmailRe)).as("n_email"),
    regexp_count(c, lit(PiiSsnRe)).as("n_ssn"),
    regexp_count(c, lit(PiiPhoneRe)).as("n_phone"),
    regexp_count(c, lit(PiiIpRe)).as("n_ip"),
    regexp_count(c, lit(PiiNumRe)).as("n_digit9"))

  /** Word-bigram repetition ratio in [0,1]: 1 − distinct/total bigrams
    * (Gopher/C4-style boilerplate signal; 0 for texts under 2 tokens).
    * Quantized via the IEEE-stable floor form (see qualityScore). */
  def repetitionRatio(c: Column): Column = {
    val toks = tokens(c)
    val n = size(toks)
    // zip_with over two slices of the SAME materialized array: the
    // former transform(sequence(...), element_at(toks, i)) form re-split
    // the text per element (CSE does not reach inside lambda scopes —
    // O(n^2) per doc); slices evaluate the split a constant number of
    // times and the lambda only touches its bound elements. n<2 guarded
    // (CaseWhen short-circuits, the negative-length slice never runs).
    val bigrams = zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat_ws(" ", a, b))
    when(n < 2, 0.0).otherwise(
      floor((lit(1.0) - size(array_distinct(bigrams)).cast("double") / (n - 1))
        * 10000.0 + 0.5) / 10000.0)
  }

  // ---- language ID (n-gram/stopword heuristic) ------------------------

  /** tiny per-language stopword profiles (public common-word lists) */
  private val LangProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "an", "and", "of", "to", "in", "is", "that", "it", "for", "with", "as", "was", "on"),
    "de" -> Set("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von", "mit", "nicht", "auf", "für"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "un", "una", "de", "que", "en", "por", "con", "para", "no"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "de", "que", "en", "pour", "dans", "avec", "pas", "du"),
    "zh" -> Set("的", "是", "了", "在", "我", "有", "和", "就", "不", "人", "都", "一", "上", "也", "他"))

  /** Language-ID over whitespace tokens: argmax of profile-hit rate, 'und'
    * when nothing matches. Deterministic tie-break by language code.
    * UDF reference implementation — kept as the parity witness for the
    * native column form (PlanExprSpec asserts bit-identical predictions). */
  val langIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null || text.isEmpty) "und"
      else {
        // Locale.ROOT: default-locale toLowerCase diverges from Spark's
        // lower() on e.g. tr-TR JVMs (dotless ı), breaking witness parity
        val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        val scores = LangProfiles.toSeq.map { case (lang, words) =>
          (lang, toks.count(words.contains).toDouble / math.max(1, toks.length))
        }
        val best = scores.sortBy { case (l, s) => (-s, l) }.head
        if (best._2 == 0.0) "und" else best._1
      }
    }

  /** Native language ID: per-language hit counts via the codegen'd
    * set-probe expression (CountInSetExpression — one hash probe per
    * token), argmax as a when-chain in ascending language order (first
    * match wins = the UDF's `(-score, lang)` tie-break). Integer-ratio
    * doubles are exact, so `score === greatest(scores)` reproduces the
    * argmax bit-for-bit — the same trick the t03 DuckDB oracle already
    * relies on. Whole expression stays inside whole-stage codegen; no
    * ScalaUDF row boundary. */
  def langId(c: Column): Column = {
    val toks = split(lower(c), "\\s+")
    val n = greatest(size(toks), lit(1)).cast("double")
    val scores = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> (graft.plans.CountInSetExpression.countInSet(toks, words.toSeq.sorted)
        .cast("double") / n)
    }
    val best = greatest(scores.map(_._2): _*)
    val argmax = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best, lang).otherwise(acc)
    }
    when(c.isNull || length(c) === 0 || best === 0.0, "und").otherwise(argmax)
  }

  // ---- fingerprinting -------------------------------------------------

  /** Rabin-Karp rolling-hash winnowing fingerprint (Schleimer et al. 2003):
    * k-gram rolling hashes → min per window of w → combined 64-bit digest.
    * Near-identical documents (small edits) keep most selected minima, and
    * the digest is a compact equality key for exact dedup after
    * normalization. */
  /** Hashing-trick feature bucket (Weinberger et al. 2009): map an
    * arbitrary categorical/string feature into [0, dims) — the fixed-
    * dimensional featurizer in front of [[graft.operators.Classifier]]
    * when the vocabulary is unbounded. md5-derived (first 12 hex → long,
    * pmod dims), so the bucket is a pure replayable function of
    * (feature, salt). Use [[featureHash64]] (xxhash64) when replay
    * doesn't matter: cheaper per row, engine-specific bits. */
  def featureHash(c: Column, dims: Int, salt: String = "fh"): Column = {
    require(dims > 0, s"dims=$dims must be positive")
    val m = conv(substring(md5(concat(c.cast("string"), lit(":" + salt))),
      1, 12), 16, 10).cast("long")
    pmod(m, lit(dims.toLong))
  }

  /** Production twin of [[featureHash]] on codegen'd xxhash64. */
  def featureHash64(c: Column, dims: Int): Column = {
    require(dims > 0, s"dims=$dims must be positive")
    pmod(xxhash64(c), lit(dims.toLong))
  }

  def winnowingFingerprint(text: String, k: Int = 5, w: Int = 4): Long = {
    if (text == null || text.length < k) return Hashing.hashString(if (text == null) "" else text, 7L)
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) { hashes(i) = Hashing.hashString(text.substring(i, i + k), 11L); i += 1 }
    var digest = 0L
    var win = 0
    while (win + w <= n) {
      var mn = hashes(win)
      var j = 1
      while (j < w) { val h = hashes(win + j); if (h < mn) mn = h; j += 1 }
      digest = digest * 0x100000001b3L ^ mn
      win += w
    }
    digest
  }

  val fingerprintUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) => winnowingFingerprint(text) }

  def fingerprint(c: Column): Column = fingerprintUdf(c)

  /** Relational (in-plan, UDF-free) winnowing twin of [[fingerprint]]:
    * the same structure — k=5 char grams, window-min over tumbling w=4
    * windows, minima combined into one digest — but built entirely from
    * Catalyst higher-order functions with md5-derived gram hashes, so
    * the digest is replayable VERBATIM by any engine with md5 (t04's
    * hash gate runs it char-for-char against DuckDB). Production dedup
    * paths keep the UDF twin (murmur gram hashes, no per-gram md5);
    * texts too short for a window (< k+w−1 = 8 chars, or null) fall
    * back to a salted whole-text digest. */
  def fingerprintRelational(c: Column): Column = {
    val n = length(c) - lit(4) // 1-based gram starts run 1..n (k=5)
    // guards keep sequence() bounds legal on short rows; their garbage
    // output is discarded by the length>=8 branch selection
    val hashes = transform(sequence(lit(1), greatest(n, lit(1))), i =>
      conv(substring(md5(concat(c.substr(i, lit(5)), lit(":t04"))), 1, 12), 16, 10)
        .cast("long"))
    val mins = transform(sequence(lit(1), greatest(n - lit(3), lit(1)), lit(4)), s =>
      array_min(slice(hashes, s, lit(4))))
    val digest = md5(array_join(transform(mins, _.cast("string")), ","))
    when(length(c) >= 8, digest)
      .otherwise(md5(concat(lit(":t04:"), coalesce(c, lit("")))))
  }

  /** Token-window document chunking — the "split long docs into
    * embedder/context-sized pieces with overlap" step in front of every
    * embedding or RAG-index pipeline. Chunk starts step by
    * `size − overlap`; every start < n − overlap (plus start 0 for short
    * docs), so every token is covered and consecutive chunks share
    * exactly `overlap` tokens (the trailing chunk may be shorter).
    *
    * One narrow codegen'd projection + posexplode — no shuffle, no UDF;
    * chunk_idx = start/step is deterministic and engine-replayable
    * (DuckDB replays via range() over split tokens; c01 hash-verifies).
    *
    * @return idCol, chunk_idx, n_tokens, chunk — one row per chunk
    */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(size >= 1 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size; got size=$size overlap=$overlap")
    val step = size - overlap
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        explode(transform(
          sequence(lit(0), greatest(org.apache.spark.sql.functions.size(col("__toks"))
            - overlap - 1, lit(0)), lit(step)),
          s => struct((s / step).cast("long").as("chunk_idx"),
            slice(col("__toks"), s + 1, lit(size)).as("ctoks")))).as("c"))
      .select(col(idCol), col("c.chunk_idx"),
        org.apache.spark.sql.functions.size(col("c.ctoks")).cast("long").as("n_tokens"),
        array_join(col("c.ctoks"), " ").as("chunk"))
  }

  // ---- HTML main-content extraction (boilerplate removal) -------------
  // The operator downstream of a WARC crawl: the reference stops at raw
  // `Webpage { url, content }` records
  // (/root/reference/amadeus-commoncrawl/src/lib.rs:50-131,
  // /root/reference/amadeus-types/src/http.rs:25-40); every training-data
  // pipeline's next step is jusText/trafilatura-style main-content
  // selection. All regexes are RE2-safe (no backrefs/lookaround) and run
  // verbatim in both Java regex and DuckDB RE2 — gate t31 hash-verifies
  // the extraction against a full DuckDB replay.

  /** Main-content extraction from raw HTML — the jusText heuristic core:
    *
    *  1. strip `<script>`/`<style>` payloads and comments;
    *  2. split into blocks at block-level tag boundaries (div/p/li/...);
    *  3. per block, tag-strip + whitespace-normalize + entity-decode the
    *     text and measure the raw anchor-text length;
    *  4. keep blocks with >= `minChars` of text whose LINK DENSITY
    *     (anchor chars / text chars) is <= 1/3 — nav bars, breadcrumbs,
    *     share strips, and link-heavy footers are mostly anchor text and
    *     drop; body paragraphs keep;
    *  5. join kept blocks with `\n`.
    *
    * Native single-pass expression ([[graft.plans.HtmlExtract]]): the
    * whole battery above runs as ONE codegen'd kernel call per row — no
    * UDF, no shuffle, no regex — a narrow projection at scan
    * parallelism on any corpus size. Deterministic; the integer form
    * `3 * linkChars <= textChars` avoids float ratios so the DuckDB
    * replay is bit-exact. HtmlExtractParitySpec pins it byte-identical
    * to the original regex-battery column composition, kept in the test
    * tree (adversarial cases + full staged corpus). */
  def htmlExtract(c: Column, minChars: Int = 25): Column =
    graft.plans.HtmlExtractExpression.htmlExtract(c, minChars)

  /** double-quoted href attribute values of anchor tags (RE2-safe) */
  val HtmlHrefRe = "(?i)<a\\s[^>]*href=\"([^\"]*)\""

  /** All anchor href targets of an HTML page, in document order — the
    * web-graph side of the extraction pipeline: crawl → pages →
    * outlinks → edge list → the graph family (g01 PageRank ingests
    * exactly this shape). Raw attribute values; compose with
    * [[graft.functions.NetFunctions]] canonicalization when absolute
    * URLs are present. Gate t33 replays the extraction + the link
    * census in DuckDB. */
  def htmlLinks(c: Column): Column =
    regexp_extract_all(c, lit(HtmlHrefRe), lit(1))
}
