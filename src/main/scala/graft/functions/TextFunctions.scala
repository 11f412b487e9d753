package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text primitives for the LLM-data-pipeline operators: tokenization,
  * shingling, MinHash, SimHash, fingerprints. Everything is a codegen'd
  * Column expression — no UDFs — so these run inside whole-stage codegen
  * and scale linearly with input bytes.
  *
  * Two hash families are provided:
  *   - md5-hex (string min): slower, but reproducible in any engine —
  *     used by oracle-checked queries.
  *   - xxhash64 (long min): the fast path for production-scale runs.
  */
object TextFunctions {

  /** Whitespace tokens of lowercased trimmed text (empty tokens dropped). */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= "")

  /** Sentence-ified word salad: six-word '.'-terminated sentences from
    * [[tokens]] — the SHARED span-dedup fixture (the q174/q176 gated
    * corpus, the Scale q176_fold probe corpus, and SCALING.md's registry
    * sweep corpus must all be the same text; a normalization edit in one
    * copy would silently diverge the SCALING probes from the oracle-gated
    * fixture). Zero-token docs emit an empty sentence list — Spark's
    * truncating (0−1)/6 would otherwise produce a spurious "." where
    * DuckDB's flooring division produces nothing.
    */
  private[graft] def sixWordSentences(text: Column): Column = {
    val tk = tokens(text)
    when(size(tk) > 0,
      transform(
        sequence(lit(0), ((size(tk) - 1) / 6).cast("int")),
        i => concat(concat_ws(" ", slice(tk, i * 6 + 1, lit(6))),
          lit("."))))
      .otherwise(array().cast("array<string>"))
  }

  /** Scripts that whitespace tokenization cannot split — route these
    * through [[charNGrams]] (zh/ja have no word spaces; th spaces mark
    * phrases, not words).
    */
  val spaceFreeLangs: Seq[String] = Seq("zh", "ja", "th")

  /** Character n-grams of lowercased text with ALL whitespace removed —
    * the tokenizer mode for space-free scripts. Pure substring arithmetic
    * (codepoint-indexed in both Spark and DuckDB, so CJK text reproduces
    * across engines); shorter-than-n texts yield an empty array.
    *
    * The normalized string is bound as a one-element lambda variable so
    * the lower/trim/regexp normalization runs ONCE per row, not once per
    * gram — higher-order lambdas get no common-subexpression elimination.
    */
  def charNGrams(c: Column, n: Int): Column = {
    require(n >= 1, "charNGrams needs n >= 1")
    flatten(transform(
      array(regexp_replace(lower(trim(c)), "\\s+", "")),
      t => when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
        .otherwise(array().cast(ArrayType(StringType)))))
  }

  /** Language-routed tokenizer: character n-grams for space-free scripts
    * ([[spaceFreeLangs]]), whitespace words otherwise. `lang` may be a
    * data column (a label or a langid prediction) — the branch is decided
    * per row inside one codegen'd projection.
    */
  def tokensByLang(text: Column, lang: Column, charGramN: Int = 1): Column =
    when(lang.isin(spaceFreeLangs: _*), charNGrams(text, charGramN))
      .otherwise(tokens(text))

  /** GPT-2-style pre-tokenizer segmentation pattern (the public BPE
    * pre-split regex family: contraction suffixes, space-prefixed letter
    * runs, space-prefixed digit runs, space-prefixed punctuation runs,
    * whitespace runs), restated WITHOUT the trailing-space lookahead so
    * one pattern runs identically under Java regex (Spark codegen) and
    * RE2 (DuckDB oracle) — neither alternation order, greediness, nor the
    * \p{L}/\p{N} classes differ between the engines, and leftmost-first
    * alternation is Perl semantics in both. The only divergence surface
    * is \s (Java adds \x0B) — irrelevant for text without vertical tabs.
    */
  val BpePreTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish pre-tokenization: split text into the token-boundary units a
    * byte-pair-encoding tokenizer would merge within (never across). The
    * segments PARTITION the input — concatenating them reproduces the
    * string byte-for-byte, so token-length sums equal text length (an
    * invariant q98 checks cross-engine). Pure regexp_extract_all: one
    * codegen'd pass, no shuffle, linear in input bytes.
    */
  def bpePreTokens(c: Column): Column =
    regexp_extract_all(c, lit(BpePreTokenPattern), lit(0))

  /** Word n-gram shingles joined by single spaces; < n tokens → empty. */
  def wordShingles(toks: Column, n: Int): Column = {
    val gram = (i: Column) =>
      concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)
    when(size(toks) >= n, transform(sequence(lit(0), size(toks) - n), gram))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Distinct shingle set (the unit of Jaccard similarity). */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(wordShingles(tokens(text), n))

  /** MinHash signature element, md5 family: lexicographic min of
    * md5(shingle + "|" + seed). Engine-portable (md5 is md5 everywhere).
    * Empty set → null.
    */
  def minhashMd5(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, s => md5(concat(s, lit("|" + seed)))))

  /** Per-shingle salted md5 array: salt 0 is plain md5; each md5 yields
    * four independent 8-hex-char chunk hashes (see minhashChunk), so k
    * MinHashes need only ceil(k/4) md5 passes instead of k.
    */
  def saltedHashes(shingles: Column, salt: Int): Column =
    if (salt == 0) transform(shingles, s => md5(s))
    else transform(shingles, s => md5(concat(s, lit("#" + salt))))

  /** MinHash element from a staged hash array: lexicographic min of the
    * chunk'th 8-char slice. chunk ∈ 0..3.
    */
  def minhashChunk(hashes: Column, chunk: Int): Column =
    array_min(transform(hashes, h => substring(h, chunk * 8 + 1, 8)))

  /** MinHash signature element, xxhash64 family (fast path). */
  def minhashFast(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, s => xxhash64(s, lit(seed))))

  /** md5-derived 32-bit token hash (engine-portable integer). */
  def md5Hash32(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)

  /** 16-bit SimHash over precomputed per-token hashes (see md5Hash32).
    *
    * For bit b: sum +1/-1 over tokens according to bit b; simhash bit b is
    * 1 iff the sum >= 0. Integer arithmetic end-to-end → engine-portable.
    * Callers should stage the hash array as its own projection — hashing
    * once per token, not once per (token × bit).
    */
  def simhash16FromHashes(hashes: Column): Column =
    simhash16FromPacked(simhashPackedCounts(hashes), size(hashes))

  /** Single-pass packed bit-count fold for the 16-bit SimHash: ONE
    * aggregate over the hash array accumulating all 16 per-bit set-counts
    * in four longs (lane j holds the counters for bits j, j+4, j+8, j+12
    * at 16-bit offsets — safe for docs under 65536 tokens). The naive
    * form runs 16 separate aggregate passes (one per bit), paying array
    * traversal + lambda dispatch 16x per token; this pays it once with
    * the same 16 shift/mask ops per element.
    */
  def simhashPackedCounts(hashes: Column): Column =
    aggregate(hashes,
      struct((0 until 4).map(j => lit(0L).as(s"l$j")): _*),
      (a, h) => struct((0 until 4).map { j =>
        (a.getField(s"l$j")
          + shiftright(h, j) % 2
          + (shiftright(h, j + 4) % 2) * lit(1L << 16)
          + (shiftright(h, j + 8) % 2) * lit(1L << 32)
          + (shiftright(h, j + 12) % 2) * lit(1L << 48)).as(s"l$j")
      }: _*))

  /** SimHash signature from [[simhashPackedCounts]] + the token count.
    * Bit b is 1 iff (+1/-1)-sum >= 0, i.e. 2*cnt_b >= n. Callers should
    * stage the packed struct as its own projection — it is referenced
    * once per bit here, and an inlined aggregate would re-fold per bit.
    */
  def simhash16FromPacked(packed: Column, n: Column): Column = {
    val bits = (0 until 16).map { b =>
      val cnt = shiftright(packed.getField(s"l${b % 4}"), (b / 4) * 16) % 65536
      when(cnt * 2 >= n, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Convenience form over raw tokens (prefer the staged variant in
    * operators — this re-hashes per bit).
    */
  def simhash16(toks: Column): Column =
    simhash16FromHashes(transform(toks, t => md5Hash32(t)))

  /** Content fingerprint: md5 of whitespace-normalized lowercased text.
    * The exact-dedup key (normalization makes trivial reformat dups equal).
    */
  def contentFingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Winnowing-style robust fingerprint: min shingle hash (documents
    * sharing any low-hash shingle window collide → near-dup candidate key).
    */
  def minShingleFingerprint(text: Column, n: Int, seed: Int = 0): Column =
    minhashMd5(shingleSet(text, n), seed)

  /** Token count by BPE-ish regex (letters runs / digit runs / punct). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Type-token ratio and friends live in operators.TextAnalysis. */
}
