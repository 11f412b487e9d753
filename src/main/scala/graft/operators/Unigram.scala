package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType}

/** Unigram-LM tokenizer TRAINING (the SentencePiece recipe family,
  * Kudo 2018) as a distributed iterative job — the second published
  * tokenizer-training recipe next to [[Bpe]]: seed a substring vocabulary
  * from the corpus, fit per-piece probabilities by EM over the latent
  * segmentation, prune, and ship the surviving pieces with their scores
  * as the model.
  *
  * EXACT-ARITHMETIC VARIANT (the repo's oracle discipline; deviations
  * from the published recipe are deliberate and documented):
  *
  *  - HARD EM (Viterbi counts), not soft EM: the published E-step's
  *    forward–backward expectations are float log-sums whose
  *    accumulation order no cross-engine oracle reproduces bit-for-bit.
  *    The Viterbi (argmax-segmentation) variant makes every E-step
  *    count an exact integer — re-segment every pretoken under the
  *    current scores, count piece usage, re-estimate. Hard EM is itself
  *    a published degenerate of the EM family (k-means : GMM ::
  *    Viterbi-EM : unigram-LM).
  *  - Probabilities live as INTEGER SCORES on a fixed 10^4 basis:
  *    score(i) = max(1, (count(i) · 10⁴) div Σcount) — one exact
  *    integer floor division (the max(1,·) floor keeps every kept
  *    piece reachable; a true zero would erase whole paths). A
  *    segmentation's likelihood ∝ Π score(i) / 10⁴ⁿ; Viterbi compares
  *    candidates at position j on the COMMON denominator 10⁴ʲ via
  *    N(j) = max over piece lengths k of N(j−k) · score · 10^{4(k−1)} —
  *    N(j) ≤ 10⁴ʲ ≤ 10³⁶ for tokens up to 9 chars, so the whole DP fits
  *    DECIMAL(38,0) here and HUGEINT in a SQL oracle, exactly. That
  *    width bound is why [[MaxTokenLen]] = 9: longer pretokens are
  *    excluded from training (a production corpus would chunk them;
  *    whitespace tokens at the gate are all ≤ 9).
  *  - Ties break DETERMINISTICALLY: higher score, then longer last
  *    piece, then lexicographically-last segmentation — the struct
  *    (n, k, seg) max, which any engine reproduces as an ORDER BY.
  *  - PRUNE-ON-ZERO-USAGE instead of the published loss-ranked pruning
  *    schedule: a multi-char piece unused by any Viterbi segmentation
  *    leaves the vocabulary; single-char pieces never leave (coverage —
  *    the published recipe keeps required characters the same way).
  *
  * Scale shape (the [[graft.queries.Vectors]] trained-codebook
  * convention): the corpus collapses to the distinct-pretoken frequency
  * table in one exact groupBy (Heaps-law bounded); every round is ONE
  * codegen'd projection over that table (the model rides the plan as a
  * map literal — no join, no shuffle) plus one slim usage aggregation;
  * the model itself is driver-sized by construction (≤ vocabSize rows).
  */
object Unigram {

  /** DP width bound: 10^{4·9} = 10³⁶ < 10³⁸ (DECIMAL(38,0) / HUGEINT). */
  val MaxTokenLen = 9

  /** Fixed-point basis of the quantized piece scores. */
  val Scale = 10000L

  /** Piece-length ceiling: the Viterbi rescale factor 10^{4(k-1)} must
    * stay Long-exact, and 10^{4·5} = 10²⁰ > 2⁶³−1 — so 5 is the largest
    * admissible maxPieceLen (10¹⁶ < 2⁶³). Enforced loudly by
    * [[viterbiSegment]]/[[trainUnigram]]; a silent Double→Long
    * saturation here would corrupt every DP comparison.
    */
  val MaxPieceLen = 5

  final case class UnigramPiece(piece: String, count: Long, score: Long)

  /** Positional substring seed counts: every length-1..maxPieceLen window
    * of every pretoken, frequency-weighted. One projection + one agg.
    */
  def seedCounts(pretokens: DataFrame, maxPieceLen: Int): DataFrame =
    pretokens
      .select(col("freq").cast(LongType).as("freq"),
        explode(flatten(transform(sequence(lit(1), length(col("tok"))), i =>
          transform(sequence(lit(1), lit(maxPieceLen)), l =>
            when(i + l - lit(1) <= length(col("tok")),
              col("tok").substr(i, l)))))).as("piece"))
      .filter(col("piece").isNotNull)
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("count"))

  /** Quantized integer scores from counts: max(1, count·10⁴ div total). */
  def quantizedScores(vocab: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = math.max(1L, vocab.map(_._2).sum)
    vocab.map { case (p, c) => p -> math.max(1L, c * Scale / total) }
  }

  /** Viterbi segmentation of every pretoken under the given scores, as
    * ONE `aggregate` fold over character positions with an
    * array-of-structs DP state — a LINEAR expression tree (an unrolled
    * per-level form re-inlines under CollapseProject and blows codegen
    * up 4^MaxTokenLen; the q116 HOF lesson, applied in reverse).
    * Returns (tok, freq, seg) with seg the space-joined argmax
    * segmentation; pretokens longer than [[MaxTokenLen]] or with no
    * scorable path are dropped (the latter cannot happen while all
    * single chars are in the vocabulary).
    */
  def viterbiSegment(pretokens: DataFrame, scores: Seq[(String, Long)],
      maxPieceLen: Int): DataFrame = {
    require(scores.nonEmpty, "empty model")
    require(maxPieceLen >= 1 && maxPieceLen <= MaxPieceLen,
      s"maxPieceLen must be in [1, $MaxPieceLen]: the per-candidate " +
        "rescale literal 10^{4(k-1)} is built as a Long and exceeds " +
        "Long.MaxValue at k = 6 (10^20 > 2^63-1) — a wider piece bound " +
        "would silently corrupt the DP weights, so it fails loudly here")
    val dec38 = DecimalType(38, 0)
    // the model rides the plan as a (foldable) map literal — the trained
    // artifact is driver-sized by contract
    val mapLit = map(scores.flatMap { case (p, s) =>
      Seq(lit(p), lit(s)) }: _*)
    val tok = col("tok")
    // state(i + 1) = best (n, seg) over segmentations of the length-i
    // prefix; n on the common 10⁴ⁱ denominator (scaladoc bound)
    val init = array(struct(
      lit(java.math.BigDecimal.ONE).cast(dec38).as("n"),
      lit(null).cast(StringType).as("seg")))
    val dp = aggregate(
      sequence(lit(1), length(tok)),
      init,
      (st, j) => {
        val cands = (1 to maxPieceLen).map { k =>
          val piece = tok.substr(j - lit(k) + lit(1), lit(k))
          val sc = try_element_at(mapLit, piece)
          // outer when guards the reach-back bound BEFORE element_at
          // runs (ANSI arrays throw out of bounds); the inner null test
          // on n covers both an unscorable piece and an UNREACHABLE
          // prefix (prev.n null) — without it a dead prefix would
          // fabricate a partial segmentation through concat_ws's
          // null-skipping
          when(lit(k) <= j, {
            val prev = element_at(st, j - lit(k) + lit(1))
            val n = (prev.getField("n") * sc.cast(dec38) *
              lit(math.pow(10, 4 * (k - 1)).toLong).cast(dec38)).cast(dec38)
            when(n.isNotNull, struct(n.as("n"), lit(k).as("k"),
              concat_ws(" ", prev.getField("seg"), piece).as("seg")))
          })
        }
        val best = if (cands.size == 1) cands.head else greatest(cands: _*)
        concat(st, array(struct(
          best.getField("n").as("n"), best.getField("seg").as("seg"))))
      })
    pretokens
      .select(tok, col("freq").cast(LongType).as("freq"))
      .filter(length(tok).between(1, MaxTokenLen))
      .select(tok, col("freq"),
        element_at(dp, length(tok) + 1).getField("seg").as("seg"))
      .filter(col("seg").isNotNull)
  }

  /** One hard-EM round: Viterbi usage counts under the current model.
    * The returned count set is ⊆ the vocabulary, so the driver-side
    * collect is bounded by vocabSize.
    */
  private def viterbiUsage(pretokens: DataFrame, vocab: Seq[(String, Long)],
      maxPieceLen: Int): Map[String, Long] =
    viterbiSegment(pretokens, quantizedScores(vocab), maxPieceLen)
      .select(col("freq"), explode(split(col("seg"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Train a unigram-LM tokenizer: substring seed (all single chars +
    * the top multi-char substrings by (count desc, piece)), then
    * `rounds` hard-EM rounds (Viterbi re-segmentation → usage counts →
    * prune unused multi-char pieces). Returns the model ordered by
    * (count desc, piece) with the FINAL round's quantized scores.
    *
    * Pretokens must be whitespace-free (the seg join is space-delimited)
    * and only those of length 1..[[MaxTokenLen]] train (the DECIMAL(38)
    * width bound above).
    */
  def trainUnigram(pretokens: DataFrame, vocabSize: Int, rounds: Int,
      maxPieceLen: Int = 4): Seq[UnigramPiece] = {
    require(vocabSize >= 1 && rounds >= 1)
    require(maxPieceLen >= 1 && maxPieceLen <= MaxPieceLen,
      s"maxPieceLen must be in [1, $MaxPieceLen] (Long-width bound on " +
        "the 10^{4(k-1)} Viterbi rescale — see MaxPieceLen)")
    // materialize the distinct-pretoken working set ONCE (the trainBpe
    // convention): every later action — seed top-k, each round's usage
    // count — otherwise re-derives the corpus-scale pretoken
    // aggregation it was built from
    val inScope = pretokens
      .filter(length(col("tok")).between(1, MaxTokenLen) &&
        !col("tok").contains(" "))
      .localCheckpoint(false)
    val seed = seedCounts(inScope, maxPieceLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val singles = seed.filter(length(col("piece")) === 1)
      .orderBy(col("count").desc, col("piece"))
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val multis = seed.filter(length(col("piece")) > 1)
      .orderBy(col("count").desc, col("piece"))
      .limit(math.max(0, vocabSize - singles.size))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    seed.unpersist(false)
    var vocab: Seq[(String, Long)] =
      (singles ++ multis).sortBy { case (p, c) => (-c, p) }
    for (_ <- 1 to rounds) {
      val used = viterbiUsage(inScope, vocab, maxPieceLen)
      vocab = vocab.flatMap { case (p, _) =>
        if (p.length == 1) Some(p -> used.getOrElse(p, 0L))
        else used.get(p).map(p -> _)
      }.sortBy { case (p, c) => (-c, p) }
    }
    val scored = quantizedScores(vocab).toMap
    vocab.map { case (p, c) => UnigramPiece(p, c, scored(p)) }
  }

  /** Encode with a TRAINED model (the apply half, [[Bpe.encodeWithMerges]]'s
    * counterpart): Viterbi-segment each pretoken under the frozen scores.
    * Returns (tok, freq, seg, n_pieces).
    */
  def encodeUnigram(pretokens: DataFrame, model: Seq[UnigramPiece],
      maxPieceLen: Int = 4): DataFrame =
    viterbiSegment(pretokens, model.map(m => m.piece -> m.score),
      maxPieceLen)
      .withColumn("n_pieces", size(split(col("seg"), " ")).cast(LongType))
}
