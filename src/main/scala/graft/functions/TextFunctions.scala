package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines (tokenization, language ID, quality scoring, document
  * fingerprinting). All are pure `Column` expressions built from
  * `org.apache.spark.sql.functions` — whole-stage-codegen-friendly, no
  * UDFs — and every one has an exact ANSI-SQL twin runnable in DuckDB
  * (see `graft.SparkEntry.oracleSql`), which requires two design rules:
  *
  *  1. hashing is md5-hex (identical string output in every engine) —
  *     never `xxhash64`/`hash`, whose algorithms are engine-specific;
  *  2. ratios are integer permille (`floor(x*1000/y)`) — never double
  *     division, whose last-ulp rounding can differ across engines.
  *
  * The reference system (codad5/pdfz) has no text analytics at all
  * (SURVEY.md §2.7); these are the training-pipeline extensions the
  * engine adds on top of its extraction core.
  */
object TextFunctions {

  /** Whitespace tokenizer. `split` on a single space matches DuckDB's
    * `string_split(text, ' ')`; testdata text is single-space joined. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct-token count (vocabulary size of the doc). */
  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** English stopword list used by the quality/lang heuristics. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Stopword ratio in permille — integer arithmetic for cross-engine
    * exactness: floor(1000 * |stop tokens| / |tokens|). */
  def stopRatioPermille(text: Column): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => t.isin(StopwordsEn: _*))
    floor(size(stops).cast("long") * lit(1000L) / size(toks)).cast("long")
  }

  /** Mean token length in centichars: floor(100*chars_in_tokens/tokens).
    * A classic quality signal (gibberish/boilerplate has extreme values). */
  def meanTokenLenCenti(text: Column): Column = {
    val toks = tokens(text)
    val chars = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    floor(chars * lit(100L) / size(toks)).cast("long")
  }

  /** Composite quality bucket 0..3: length, vocabulary diversity and
    * stopword presence. Thresholds are permille-integer so the DuckDB
    * twin is exact. */
  def qualityBucket(text: Column): Column = {
    val n = tokenCount(text)
    val diversity = floor(distinctTokenCount(text).cast("long") * lit(1000L) / n)
    val stop = stopRatioPermille(text)
    (when(n >= 20, 1).otherwise(0) +
      when(diversity >= 400, 1).otherwise(0) +
      when(stop.between(10, 600), 1).otherwise(0)).cast("int")
  }

  /** Language-ID by stopword-marker counts (n-gram/marker heuristic).
    * Deterministic argmax with fixed tie-break order en > es > de. */
  def langIdHeuristic(text: Column): Column = {
    def score(markers: Seq[String]): Column =
      size(filter(tokens(text), t => t.isin(markers: _*)))
    val en = score(Seq("the", "a", "of", "is"))
    val es = score(Seq("el", "la", "de", "es"))
    val de = score(Seq("der", "die", "das", "und"))
    when(en === 0 && es === 0 && de === 0, "unknown")
      .when(en >= es && en >= de, "en")
      .when(es >= de, "es")
      .otherwise("de")
  }

  /** Content fingerprint: md5 of the sorted distinct token set —
    * invariant to token order and duplication, so it detects
    * shuffled/near-identical documents. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Word n-gram shingles in text order as `binary(16)` md5 digests
    * (the group and join keys of the dedup operators) — backed by the
    * native [[ShingleKeys]] expression (the transform-over-index-range
    * HOF form runs interpreted; same motivation as [[TokenSimHash64]]).
    * Each digest is the unhex of the md5 the DuckDB twins compute, so
    * every group, join and count over them matches. Empty array below
    * n tokens. */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(ShingleKeys(toExpression(text), n, distinct = false))
  }

  /** Per-doc content-defined chunks as
    * `array<struct<chunk_fp, n_tokens>>` — one MAP-SIDE pass over the
    * intact text (native [[CdcChunks]]); boundary = token whose 32-bit
    * md5-prefix hash ≡ 0 mod `divisor`, boundary token ends its chunk.
    * The token stream never materializes as rows, so the caller's only
    * shuffle is its own chunk-fp aggregation. */
  def cdcChunks(text: Column, divisor: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(CdcChunks(toExpression(text), divisor))
  }

  /** Per-doc MinHash signature array (native [[MinHashSigs]]); null
    * below `shingleN` tokens. */
  def minhashSigs(text: Column, shingleN: Int, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(MinHashSigs(toExpression(text), shingleN, numHashes))
  }

  /** Element-wise minimum AGGREGATE over string arrays — the MinHash
    * cluster-signature merge (native [[ArrayMinAgg]]; runs with
    * map-side partial aggregation like any hash agg). */
  def arrayMinAgg(arr: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(ArrayMinAgg(toExpression(arr)).toAggregateExpression())
  }

  /** k minimum DISTINCT bigints, ascending (native
    * [[BottomKDistinctLongs]]) — the KMV cardinality sketch over a
    * hash column: O(k) memory per group in every buffer, map-side
    * combine, mergeable (union = merge, keep k smallest). */
  def bottomKDistinct(c: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(BottomKDistinctLongs(toExpression(c), k).toAggregateExpression())
  }

  /** 32-bit SimHash from per-token md5 prefixes. For each token the
    * first 8 hex chars of md5(token) supply 32 bits; each bit votes
    * +1/-1; the sketch bit is 1 iff the vote sum is positive. Integer
    * arithmetic end-to-end → exact DuckDB twin. Returns BIGINT in
    * [0, 2^32). 32 bits (vs 16) makes random same-vocabulary docs
    * land ≥ 8 bits apart, so a hamming≤3 near-dup test is
    * discriminative, not noise. */
  def simhash32(text: Column): Column = simhash64Struct(text).getField("lo")

  /** 64-bit SimHash as a struct of two independent 32-bit halves (lo =
    * md5 nibbles 1-8, hi = nibbles 9-16) so every intermediate stays
    * well inside BIGINT in both engines. Wider sketches are the scale
    * answer to block-key saturation: on a dense corpus the
    * 32-bit/8-bit-block index concentrates (measured 11.1M candidate
    * probes at sf0.1 vs 0.76M for 64-bit/16-bit blocks) — key width
    * must grow with corpus density, exactly like
    * [[graft.functions.VectorFunctions.lshBitsFor]] grows LSH bucket
    * bits.
    *
    * Backed by the native [[TokenSimHash64]] expression: the HOF
    * formulations (32 separate folds, or one fold into a vote array)
    * all run on the interpreted CodegenFallback path and dominated the
    * sketch queries; one tight JVM loop is ~100× cheaper per doc. */
  def simhash64Struct(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(TokenSimHash64(toExpression(text)))
  }

  /** Hamming distance between two simhash sketches. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** BPE-ish token count approximation: alphabetic runs are chunked at
    * ≤4 chars (subword pieces), digits and punctuation count one each —
    * the classic cheap stand-in for a real tokenizer's token count.
    * Regex kept to char classes + bounded quantifiers so the Java and
    * RE2 (DuckDB) engines agree exactly. */
  val BpeishPattern = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"
  def bpeTokenCountApprox(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  /** Order-sensitive rolling-hash fingerprint: left fold of
    * h → (h*31 + codePoint) mod (2^31−1) over the characters. Detects
    * exact duplicates cheaply and, unlike [[fingerprint]], changes when
    * token ORDER changes. Step-wise modular integer arithmetic →
    * bit-identical in the DuckDB twin (list_reduce). Backed by the
    * native [[RollingFp]] expression (the per-character HOF fold ran
    * interpreted). */
  def rollingFingerprint(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    toColumn(RollingFp(toExpression(text)))
  }
}
